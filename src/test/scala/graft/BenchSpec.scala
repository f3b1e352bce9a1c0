package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's pure run selection: which run backs a query's reported min,
  * whether that min is corroborated, and that a failed run counts for
  * neither.
  */
class BenchSpec extends AnyFunSuite {
  private val gate = 2.0
  private def run(sec: Double, ok: Boolean = true, amb: Double = 0.5) =
    Bench.Run(sec, amb, ok, RunMetrics.Counters(jobs = 1))

  test("a failed run never becomes the reported min") {
    val rs = Seq(run(0.02, ok = false), run(0.80), run(0.90))
    assert(Bench.backing(rs, gate).map(_.sec).contains(0.80))
    // the two fastest COMPLETED runs agree within 2x
    assert(Bench.corroborated(rs))
    assert(!Bench.corroborated(Seq(run(0.02, ok = false), run(0.80))))
  }

  test("a query whose every run failed has no reported min") {
    val rs = Seq(run(0.02, ok = false), run(0.03, ok = false))
    assert(Bench.backing(rs, gate).isEmpty)
    assert(Bench.pool(rs, gate).isEmpty)
    assert(!Bench.corroborated(rs))
  }

  test("quiet completed runs back the min; loud ones only when no quiet run completed") {
    val loudFast = run(0.50, amb = 3.0)
    val quietSlow = run(0.70, amb = 1.0)
    assert(Bench.backing(Seq(loudFast, quietSlow), gate).contains(quietSlow))
    // a failed quiet run does not make the completed loud runs ineligible
    val rs = Seq(run(0.10, ok = false, amb = 1.0), loudFast, run(0.60, amb = 2.5))
    assert(Bench.backing(rs, gate).contains(loudFast))
    // an unavailable ambient estimate (-1) counts as quiet
    assert(Bench.quiet(run(1.0, amb = -1.0), gate))
  }
}
