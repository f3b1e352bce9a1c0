package perfbench

import scala.collection.mutable

/** In-memory span log of the traced run. A span is one call into a
  * layer's public function, recorded from the benchmark side; spans of
  * one pipeline run share a run id. Written out once, at the end.
  */
final class Trace {
  import Trace.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var run = 0

  def newRun(): Int = { run += 1; run }

  /** Times `body` as a span named `name` under the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.length, name, open.headOption.map(_.id).getOrElse(-1), run,
      System.nanoTime(), 0L)
    spans += s
    open = s :: open
    try body
    finally { s.endNs = System.nanoTime(); open = open.tail }
  }

  def durationS(s: Span): Double = (s.endNs - s.startNs) / 1e9

  /** Duration minus the part of it that child spans cover. */
  def selfS(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var end = s.startNs
    kids.foreach { case (a, b) => if (b > end) { covered += b - math.max(a, end); end = b } }
    durationS(s) - covered / 1e9
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      Json.write(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_s" -> selfS(s)))
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Trace {
  final case class Span(id: Int, name: String, parent: Int, run: Int,
      startNs: Long, var endNs: Long)
}

/** JSON through the jackson that ships with Spark. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}
