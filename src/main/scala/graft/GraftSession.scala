package graft

import org.apache.spark.sql.SparkSession

/** One-call session factory for the engine: native function registration
  * (graft_dot / graft_cosine / graft_simhash64 / graft_minhash /
  * graft_winnow via SparkSessionExtensions), UTC session time, AQE on,
  * and nanos-as-long parquet reads — the config every graft query
  * assumes. `shufflePartitions` should track cluster cores (the engine
  * never hardcodes 200).
  *
  * Tungsten pages are 1 MiB, the smallest size Spark's own sizing picks.
  * Left to that sizing (heap / cores / 16, up to 64 MiB), every sort and
  * hash-aggregate task takes a 16–64 MiB page on its first row, however
  * few rows follow. On the match ETL (20000 ids, 4 cores, 3 GB heap)
  * four to nine such 16 MiB pages were live whenever a young GC fell
  * inside a run, so the heap in use after that GC read 70–140 MiB higher
  * than in runs without one. With 1 MiB pages the difference is about
  * 25 MiB. A record larger than a page still gets a page of its own size.
  */
object GraftSession {
  def builder(
      master: String = "local[*]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.buffer.pageSize", "1m")

  def local(cores: Int): SparkSession = {
    val s = builder(s"local[$cores]", cores).getOrCreate()
    // belt-and-braces: extensions only apply when this builder created the
    // context; an existing context predating it still needs the registry
    graft.functions.GraftFunctions.register(s)
    s
  }
}
