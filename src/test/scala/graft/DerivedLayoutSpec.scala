package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.functions.AnnIndex
import graft.operators.{DupClusterStore, SummaryTables}
import graft.ops.{IngestOps, LayoutOps}
import graft.plans.SummaryRewrite
import org.apache.spark.sql.DataFrame

/** The write-once derived layouts ([[graft.ops.ContentTag.buildOnce]]):
  * every builder reuses its root on the marker beside it, never on
  * anything Spark's committer writes, and a build interrupted at any step
  * is cleared and rebuilt whole.
  */
class DerivedLayoutSpec extends SparkSpec {

  /** A private copy of the sf0.001 tables the builders read: a new dir
    * path mints new content tags, so the first call of each builder in
    * a suite run always builds.
    */
  private def freshDir(): String = {
    val dir = Files.createTempDirectory("graft_derived_spec")
    Seq("orders", "embeddings", "documents").foreach { t =>
      Files.copy(Paths.get(s"/root/testdata/sf0.001/$t.parquet"),
        dir.resolve(s"$t.parquet"))
    }
    dir.toString
  }

  /** (name, builder call returning its root, the rows the root serves). */
  private def builders(dir: String): Seq[(String, () => String, String => Seq[String])] = {
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    def parquet(p: String) = rows(spark.read.parquet(p))
    def index(root: String) =
      rows(spark.read.parquet(s"$root/postings").select("n_id", "cell", "codes")) ++
        parquet(s"$root/centroids") ++
        (if (Files.exists(Paths.get(s"$root/tombstones")))
          parquet(s"$root/tombstones") else Nil)
    Seq(
      ("SummaryTables.ensure", () => SummaryTables.ensure(spark, dir), parquet),
      ("SummaryTables.ensureCust", () => SummaryTables.ensureCust(spark, dir), parquet),
      ("SummaryTables.ensureCoarse", () => SummaryTables.ensureCoarse(spark, dir), parquet),
      ("SummaryTables.ensureSplit",
        () => new java.io.File(SummaryTables.ensureSplit(spark, dir)._1).getParent,
        r => Seq("cold.parquet", "hot.parquet", "summary_cold", "summary_hot")
          .flatMap(p => parquet(s"$r/$p"))),
      ("SummaryTables.ensureIvm", () => SummaryTables.ensureIvm(spark, dir), parquet),
      ("AnnIndex.ensure", () => AnnIndex.ensure(spark, dir), index),
      ("AnnIndex.ensureDeleted", () => AnnIndex.ensureDeleted(spark, dir), index),
      ("AnnIndex.ensureAttrs", () => AnnIndex.ensureAttrs(spark, dir), index),
      ("AnnIndex.ensureDrifted", () => AnnIndex.ensureDrifted(spark, dir), index),
      ("DupClusterStore.ensure", () => DupClusterStore.ensure(spark, dir), parquet),
      ("DupClusterStore.ensureIncrementalDemo",
        () => DupClusterStore.ensureIncrementalDemo(spark, dir),
        r => rows(DupClusterStore.assignmentsIncremental(spark, r))),
      ("IngestOps.ensureJsonl", () => IngestOps.ensureJsonl(spark, dir),
        r => rows(spark.read.text(r))),
      ("q_compact_scan",
        () => new java.io.File(LayoutOps.ensureCompacted(spark, dir)).getParent,
        r => parquet(s"$r/compacted")))
  }

  private def withSuccessMarkers[T](on: Boolean)(body: => T): T = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    val prev = Option(hconf.get(key))
    hconf.setBoolean(key, on)
    try body finally prev.fold(hconf.unset(key))(hconf.set(key, _))
  }

  private def tree(root: String): Seq[Path] =
    if (!Files.exists(Paths.get(root))) Nil
    else {
      val st = Files.walk(Paths.get(root))
      try st.iterator().asScala.toVector finally st.close()
    }

  test("with _SUCCESS off, a second call reuses the root and starts no Spark job") {
    val dir = freshDir()
    val metrics = RunMetrics.install(spark)
    withSuccessMarkers(on = false) {
      builders(dir).foreach { case (name, call, _) =>
        val root = call()
        assert(!tree(root).exists(_.getFileName.toString == "_SUCCESS"),
          s"$name: the committer wrote _SUCCESS although it is off")
        val before = metrics.snapshot()
        assert(call() == root, s"$name: a second call must return the same root")
        val jobs = (metrics.snapshot() - before).jobs
        assert(jobs == 0L, s"$name: the second call started $jobs Spark job(s)")
      }
    }
  }

  test("an interrupted build is cleared and rebuilt whole, equal to a clean build") {
    val dir = freshDir()
    builders(dir).foreach { case (name, call, read) =>
      val root = call()
      val clean = read(root)
      // interrupt: no marker, half the root's files gone, debris added
      Files.delete(Paths.get(s"$root.built"))
      val files = tree(root).filter(Files.isRegularFile(_))
      files.zipWithIndex.filter(_._2 % 2 == 0).foreach(f => Files.delete(f._1))
      Files.write(Paths.get(root).resolve("part-debris.parquet"), Array[Byte](1, 2, 3))
      assert(call() == root, name)
      assert(Files.exists(Paths.get(s"$root.built")), name)
      assert(!Files.exists(Paths.get(root).resolve("part-debris.parquet")), name)
      assert(read(root) == clean, s"$name: the rebuilt rows differ from a clean build's")
    }
  }

  test("a fixture summary rewritten by maintain() is bound afresh by the next ensure") {
    import org.apache.spark.sql.functions._
    val dir = freshDir()
    SummaryRewrite.clear()
    try {
      val root = SummaryTables.ensureCust(spark, dir)
      def q() = Tables(spark, dir, "orders").groupBy("o_custkey")
        .agg(count(lit(1)).as("n"), max(col("o_totalprice")).as("mx"))
      def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
      val want = rows(q())
      // an empty insert feed: the same rows, committed as new files
      val feed = Tables(spark, dir, "orders").limit(0).select(
        lit("insert").as("change_type"), col("o_custkey"),
        col("o_totalprice"), col("o_orderkey"))
      SummaryTables.maintain(root, feed, Seq("o_custkey"), "cnt",
        Map("o_orderkey" -> "sum_okey"), Map("o_totalprice" -> "min_price"),
        Map("o_totalprice" -> "max_price"),
        cntColsBase = Map("o_orderkey" -> "cnt_okey"))
      assert(SummaryTables.ensureCust(spark, dir) == root)
      // AQE off: its plan node hides the scans until it runs
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val df = q()
      val scans = df.queryExecution.executedPlan.collectWithSubqueries {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.mkString(",")
      }
      assert(scans.exists(_.contains(root)), scans.mkString("\n"))
      assert(rows(df) == want)
    } finally {
      spark.conf.unset("spark.sql.adaptive.enabled")
      SummaryRewrite.clear()
    }
  }

  test("ensureIncrementalDemo clears a stale staging/old pair beside a half-built root") {
    val dir = freshDir()
    val root = DupClusterStore.ensureIncrementalDemo(spark, dir)
    val clean = DupClusterStore.assignmentsIncremental(spark, root)
      .collect().map(_.toString).sorted.toSeq
    // the crash the ledger-keyed reuse got wrong: a lower-half-only store
    // as the live root, and beside it a committed-looking staging copy
    // whose ledger already reads batch 0, plus an aside copy
    Files.delete(Paths.get(s"$root.built"))
    graft.ops.LocalFs.deleteTree(Paths.get(root))
    val docs = Tables(spark, dir, "documents")
    val cut = docs.agg(org.apache.spark.sql.functions.max("doc_id")).head().getLong(0) / 2
    val lower = docs.filter(org.apache.spark.sql.functions.col("doc_id") <= cut)
    Seq(root, s"$root.staging", s"$root.old").foreach(p =>
      DupClusterStore.buildIncremental(spark, lower, p))
    Files.write(Paths.get(s"$root.staging/assign/_GRAFT_LAST_BATCH"), "0".getBytes("UTF-8"))
    assert(DupClusterStore.ensureIncrementalDemo(spark, dir) == root)
    assert(!Files.exists(Paths.get(s"$root.staging")) &&
      !Files.exists(Paths.get(s"$root.old")))
    assert(DupClusterStore.lastBatch(root) == 0L)
    assert(DupClusterStore.assignmentsIncremental(spark, root)
      .collect().map(_.toString).sorted.toSeq == clean)
  }
}
