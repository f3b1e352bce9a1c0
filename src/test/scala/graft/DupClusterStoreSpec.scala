package graft

import graft.operators.{DedupOps, DupClusterStore, GraphOps}
import org.apache.spark.sql.functions._

/** The cluster-once-read-many fixture: stored assignment bytes must be
  * bit-equal to a fresh clustering, consumers reading the store must
  * match the self-contained registered queries, and the content-tagged
  * path must isolate operating points (threshold) from each other.
  */
class DupClusterStoreSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def fresh = {
    val edges = DedupOps.ngramJaccardConnectivityEdges(
      Tables(spark, sfDir, "documents"), "doc_id", "text", 0.05)
    GraphOps.dupClusters(edges)
      .select(col("id").as("doc_id"), col("cluster_id"))
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  /** The store's batch ledger, which sits inside `assign/`. */
  private def ledger(root: String): Long =
    graft.ops.CoreOps.lastBatch(spark, s"$root/assign", "DupClusterStoreSpec")

  test("stored assignments equal a fresh clustering bit-for-bit") {
    val stored = DupClusterStore.assignments(spark, sfDir)
    assert(rows(stored) == rows(fresh))
    // schema is the narrow keyed-probe shape
    assert(stored.schema.fieldNames.toSeq == Seq("doc_id", "cluster_id"))
  }

  test("ensure() is idempotent and threshold-keyed") {
    val a = DupClusterStore.ensure(spark, sfDir)
    val b = DupClusterStore.ensure(spark, sfDir)
    assert(a == b, "same corpus+threshold must reuse the same root")
    val c = DupClusterStore.ensure(spark, sfDir, threshold = 0.5)
    assert(c != a, "a different operating point must get its own table")
    // the tighter threshold's clustering is its own fixture, also exact
    val freshT = {
      val e = DedupOps.ngramJaccardConnectivityEdges(
        Tables(spark, sfDir, "documents"), "doc_id", "text", 0.5)
      GraphOps.dupClusters(e).select(col("id").as("doc_id"), col("cluster_id"))
    }
    assert(rows(spark.read.parquet(c)) == rows(freshT))
  }

  test("incremental store: build == batch clustering; maintain == full rebuild; ledger; id contract") {
    val docs = Tables(spark, sfDir, "documents")
    val work = java.nio.file.Files.createTempDirectory("graft_dcs_inc").toString
    // full incremental build reproduces the batch operator exactly
    DupClusterStore.buildIncremental(spark, docs, s"$work/all")
    assert(rows(DupClusterStore.assignmentsIncremental(spark, s"$work/all"))
      == rows(fresh))
    // split at the id median: build on the old half, maintain the new —
    // at a plain path and at a file: URI, since the store reads and
    // writes through Hadoop FS and its ledger must resolve the same way
    val a = docs.filter(col("doc_id") < 250)
    val b = docs.filter(col("doc_id") >= 250)
    for (root <- Seq(s"$work/split", s"file://$work/split_uri")) withClue(s"root $root: ") {
      DupClusterStore.buildIncremental(spark, a, root)
      assert(DupClusterStore.maintainIncremental(spark, b, root, batchId = 0L))
      assert(rows(DupClusterStore.assignmentsIncremental(spark, root))
        == rows(fresh),
        "incremental maintain must equal the full rebuild bit-for-bit")
      // replayed batch id is a no-op (ledger inside the swapped bytes)
      assert(!DupClusterStore.maintainIncremental(spark, b, root, batchId = 0L))
      assert(ledger(root) == 0L)
      // ingest-append contract: ids at or below the stored max are refused
      intercept[IllegalArgumentException] {
        DupClusterStore.maintainIncremental(spark, a, root, batchId = 1L)
      }
    }
  }

  test("incremental store: joiners, cluster merges, and zero-shingle copies across batches") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog while the cat sleeps on the mat"
    val d1 = "completely different content about spark catalyst optimizer rules and tungsten codegen stages"
    val d2 = "yet another unrelated document mentioning minhash lsh banding and jaccard similarity estimation"
    // bridge shares a 4-word run with EACH of d1/d2: 2 shingles shared
    // per side over a ~20-shingle union — well above threshold 0.05
    val bridge = "spark catalyst optimizer rules meanwhile minhash lsh banding and something else entirely here"
    val batch0 = Seq((1L, base), (2L, d1), (3L, d2), (4L, "x y"))
      .toDF("doc_id", "text")
    val batch1 = Seq((10L, base), (11L, bridge), (12L, "x y"))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_dcs_syn")
      .toString + "/s"
    DupClusterStore.buildIncremental(spark, batch0, root)
    // before the batch: nothing clusters (all texts distinct, no near-dups)
    assert(rows(DupClusterStore.assignmentsIncremental(spark, root)).isEmpty)
    assert(DupClusterStore.maintainIncremental(spark, batch1, root, 0L))
    val got = rows(DupClusterStore.assignmentsIncremental(spark, root)).toSet
    // the full-rebuild truth on the union
    val union = batch0.unionByName(batch1)
    val expect = rows(graft.operators.GraphOps.dupClusters(
      DedupOps.ngramJaccardConnectivityEdges(union, "doc_id", "text", 0.05))
      .select(col("id").as("doc_id"), col("cluster_id"))).toSet
    assert(got == expect)
    // the planted shapes, by name: the exact copy clusters the old
    // singleton {1, 10}; the bridge merges d1+d2 into one cluster keyed
    // by the global min (2); the zero-shingle copies (4, 12) NEVER
    // cluster (no shingles -> no pairs, as in the batch operator)
    assert(got.contains((1L, 1L)) && got.contains((10L, 1L)))
    assert(got.contains((2L, 2L)) && got.contains((3L, 2L)) &&
      got.contains((11L, 2L)))
    assert(!got.exists(r => r._1 == 4L || r._1 == 12L))
  }

  test("incremental store: retraction splits bridged clusters and renames groups, equal to a rebuild") {
    import spark.implicits._
    val d1 = "completely different content about spark catalyst optimizer rules and tungsten codegen stages"
    val d2 = "yet another unrelated document mentioning minhash lsh banding and jaccard similarity estimation"
    val bridge = "spark catalyst optimizer rules meanwhile minhash lsh banding and something else entirely here"
    val base = "the quick brown fox jumps over the lazy dog while the cat sleeps on the mat"
    val nearBase = base.replace("on the mat", "near the door")
    // chain d1 - bridge - d2 (one cluster keyed 1); copies {4,5} of base
    // plus a near-dup 6 (one cluster keyed 4)
    val docs = Seq((1L, d1), (2L, d2), (3L, bridge),
      (4L, base), (5L, base), (6L, nearBase)).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_dcs_retract")
      .toString + "/s"
    DupClusterStore.buildIncremental(spark, docs, root)
    val before = rows(DupClusterStore.assignmentsIncremental(spark, root)).toSet
    assert(before == Set((1L, 1L), (2L, 1L), (3L, 1L),
      (4L, 4L), (5L, 4L), (6L, 4L)))
    // retract the bridge (3) and the min member of the copy group (4):
    // the chain SPLITS into unclustered singletons; the copy group
    // renames gid 4 -> 5 and keeps clustering with the near-dup
    assert(DupClusterStore.retractIncremental(spark,
      Seq(3L, 4L).toDF("doc_id"), root, batchId = 0L))
    val got = rows(DupClusterStore.assignmentsIncremental(spark, root)).toSet
    val rebuilt = {
      val r2 = java.nio.file.Files.createTempDirectory("graft_dcs_retr2")
        .toString + "/s"
      DupClusterStore.buildIncremental(spark,
        docs.filter(!col("doc_id").isin(3L, 4L)), r2)
      rows(DupClusterStore.assignmentsIncremental(spark, r2)).toSet
    }
    assert(got == rebuilt)
    assert(got == Set((5L, 5L), (6L, 5L)),
      "bridge removal must split; min-member removal must rename the group")
    // replayed retraction id is a no-op; a later append still works
    assert(!DupClusterStore.retractIncremental(spark,
      Seq(3L, 4L).toDF("doc_id"), root, batchId = 0L))
    assert(DupClusterStore.maintainIncremental(spark,
      Seq((9L, d1 + " tail")).toDF("doc_id", "text"), root, batchId = 1L))
    assert(ledger(root) == 1L)
  }

  test("incremental store: bulk retraction equals a rebuild on the survivors (sf0.001)") {
    val docs = Tables(spark, sfDir, "documents")
    val root = java.nio.file.Files.createTempDirectory("graft_dcs_bulk")
      .toString + "/s"
    DupClusterStore.buildIncremental(spark, docs, root)
    val rm = docs.filter(col("doc_id") % 10 === 3).select("doc_id")
    assert(DupClusterStore.retractIncremental(spark, rm, root, 0L))
    val survivors = docs.filter(col("doc_id") % 10 =!= 3)
    val expect = {
      val r2 = java.nio.file.Files.createTempDirectory("graft_dcs_bulk2")
        .toString + "/s"
      DupClusterStore.buildIncremental(spark, survivors, r2)
      rows(DupClusterStore.assignmentsIncremental(spark, r2))
    }
    assert(rows(DupClusterStore.assignmentsIncremental(spark, root)) == expect)
  }

  test("incremental store: CDC feed — updates move docs between clusters, equal to a rebuild") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog while the cat sleeps on the mat"
    val nearBase = base.replace("on the mat", "near the door")
    val d1 = "completely different content about spark catalyst optimizer rules and tungsten codegen stages"
    val nearD1 = d1.replace("codegen stages", "execution phases")
    val docs = Seq((1L, base), (2L, nearBase), (5L, d1)).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_dcs_cdc")
      .toString + "/s"
    DupClusterStore.buildIncremental(spark, docs, root)
    assert(rows(DupClusterStore.assignmentsIncremental(spark, root)).toSet
      == Set((1L, 1L), (2L, 1L)))
    // the feed: doc 2 UPDATES from near-base to near-d1 (moves
    // clusters), doc 7 inserts a base copy, doc 1... stays
    val feed = Seq(
      ("update_preimage", 2L, nearBase),
      ("update_postimage", 2L, nearD1),
      ("insert", 7L, base)).toDF("change_type", "doc_id", "text")
    DupClusterStore.applyFeedIncremental(spark, feed, root, batchId = 3L)
    val got = rows(DupClusterStore.assignmentsIncremental(spark, root)).toSet
    val after = Seq((1L, base), (2L, nearD1), (5L, d1), (7L, base))
      .toDF("doc_id", "text")
    val expect = {
      val r2 = java.nio.file.Files.createTempDirectory("graft_dcs_cdc2")
        .toString + "/s"
      DupClusterStore.buildIncremental(spark, after, r2)
      rows(DupClusterStore.assignmentsIncremental(spark, r2)).toSet
    }
    assert(got == expect)
    // doc 2 left base's cluster and now anchors d1's — and 2 < 5, so
    // the RELAXED contract (fresh texts at any id) is what made this
    // legal; the rebuilt cluster key is the new minimum 2
    assert(got == Set((1L, 1L), (7L, 1L), (2L, 2L), (5L, 2L)))
    // replayed feed batch: both sub-phases no-op
    DupClusterStore.applyFeedIncremental(spark, feed, root, batchId = 3L)
    assert(rows(DupClusterStore.assignmentsIncremental(spark, root)).toSet == got)
    // the one genuinely unstable case still fails fast: a JOINER below
    // its group's stored minimum (doc 0 with base's text, gid 1)
    intercept[IllegalArgumentException] {
      DupClusterStore.maintainIncremental(spark,
        Seq((0L, base)).toDF("doc_id", "text"), root, batchId = 99L)
    }
  }

  test("incremental store: maintain commits per-table APPENDS — base files untouched, O(batch) write unit") {
    import spark.implicits._
    val docs = Tables(spark, sfDir, "documents")
    val a = docs.filter(col("doc_id") < 250)
    val b = docs.filter(col("doc_id") >= 250)
    val root = java.nio.file.Files.createTempDirectory("graft_dcs_app")
      .toString + "/s"
    DupClusterStore.buildIncremental(spark, a, root)
    def baseFiles(t: String): Seq[(String, Long)] = {
      val d = java.nio.file.Paths.get(root, t, "base")
      val st = java.nio.file.Files.list(d)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala
          .map(p => (p.getFileName.toString, java.nio.file.Files.size(p)))
          .toSeq.sorted
      } finally st.close()
    }
    val before = Seq("membership", "sizes", "postings").map(baseFiles)
    assert(DupClusterStore.maintainIncremental(spark, b, root, batchId = 0L))
    // append-commit == rewrite-commit: result still bit-equal to a full
    // rebuild (the headline invariant) ...
    assert(rows(DupClusterStore.assignmentsIncremental(spark, root))
      == rows(fresh))
    // ... while the base tables' files are BYTE-IDENTICAL (nothing was
    // rewritten) and the batch landed as batch=0 append dirs
    assert(Seq("membership", "sizes", "postings").map(baseFiles) == before,
      "maintain must not rewrite base files — the O(store) commit unit is back")
    for (t <- Seq("membership", "sizes", "postings"))
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(root, t, "batch=0")), s"$t/batch=0 missing")
    // the ledger rides the assign swap
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "assign", "_GRAFT_LAST_BATCH")))
  }

  test("incremental store: orphan appends above the ledger are invisible and replay-safe") {
    val docs = Tables(spark, sfDir, "documents")
    val a = docs.filter(col("doc_id") < 250)
    val b = docs.filter(col("doc_id") >= 250)
    val root = java.nio.file.Files.createTempDirectory("graft_dcs_orph")
      .toString + "/s"
    DupClusterStore.buildIncremental(spark, a, root)
    val before = rows(DupClusterStore.assignmentsIncremental(spark, root))
    // simulate a maintain(batchId=0) that crashed AFTER its appends but
    // BEFORE the assign swap: orphan batch=0 dirs holding garbage rows
    // (copies of base — wrong content on purpose: if a reader ever
    // admits them, the assertions below flip)
    for (t <- Seq("membership", "sizes", "postings")) {
      val base = java.nio.file.Paths.get(root, t, "base")
      val orph = java.nio.file.Paths.get(root, t, "batch=0")
      java.nio.file.Files.createDirectories(orph)
      val st = java.nio.file.Files.list(base)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.foreach(p => java.nio.file.Files.copy(
          p, orph.resolve(p.getFileName.toString)))
      } finally st.close()
    }
    // readers ignore dirs above the committed ledger
    assert(rows(DupClusterStore.assignmentsIncremental(spark, root)) == before)
    // the replayed maintain deletes the orphans and lands cleanly
    assert(DupClusterStore.maintainIncremental(spark, b, root, batchId = 0L))
    assert(rows(DupClusterStore.assignmentsIncremental(spark, root))
      == rows(fresh),
      "replay after an append-window crash must equal the rebuild")
  }

  test("incremental store: an interrupted swap is recovered on read, ledger intact") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f g"), (2L, "a b c d e f g")).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_dcs_crash")
      .toString + "/s"
    DupClusterStore.buildIncremental(spark, docs, root)
    DupClusterStore.maintainIncremental(spark,
      Seq((9L, "a b c d e f g")).toDF("doc_id", "text"), root, 7L)
    val before = rows(DupClusterStore.assignmentsIncremental(spark, root))
    // simulate the between-renames crash: complete staging copy, live
    // root renamed aside
    val rootP = java.nio.file.Paths.get(root)
    val staging = java.nio.file.Paths.get(root + ".staging")
    val st = java.nio.file.Files.walk(rootP)
    try {
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.foreach { p =>
        val t = staging.resolve(rootP.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t)
      }
    } finally st.close()
    java.nio.file.Files.move(rootP, java.nio.file.Paths.get(root + ".old"))
    assert(rows(DupClusterStore.assignmentsIncremental(spark, root)) == before)
    assert(ledger(root) == 7L)
  }

  test("stored consumers match the self-contained registered queries") {
    // the production claim in one assertion per consumer: reading the
    // persisted table gives the SAME answer as rebuilding the
    // clustering inside the query
    for ((stored, self) <- Seq(
        "q_dedup_full_stored" -> "q_dedup_full",
        "q_cluster_canonical_stored" -> "q_cluster_canonical",
        "q_leakage_safe_split_stored" -> "q_leakage_safe_split",
        "q_bcubed_stored" -> "q_bcubed")) {
      val a = SparkEntry.queries(stored)(spark, sfDir).collect().toSeq
      val b = SparkEntry.queries(self)(spark, sfDir).collect().toSeq
      assert(a == b, s"$stored != $self")
    }
  }
}
