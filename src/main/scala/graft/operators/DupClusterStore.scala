package graft.operators

import graft.Tables
import graft.ops.ContentTag
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted near-dup cluster assignments — cluster once, read many.
  *
  * The five CC consumers (q_dedup_full, q_cluster_canonical,
  * q_leakage_safe_split, q_bcubed, the TVF dedup mode) each rebuild the
  * same edge frame and connected components from scratch: correct and
  * scale-sound per query, but at 100 TB that is five redundant corpus
  * passes for ONE clustering. The production shape is this fixture: a
  * content-tagged `(doc_id, cluster_id)` assignment table built once
  * per (corpus contents, threshold) — the [[graft.functions.AnnIndex]]
  * / BucketedTables discipline — that every downstream consumer reads
  * as a keyed probe. Clustered docs only (singletons are absent, as in
  * q_dup_clusters): the table is |clustered docs|-sized, tiny next to
  * the corpus, and consumers coalesce missing ids to themselves.
  *
  * Freshness is the same contract as every stored fixture here: the
  * path embeds [[graft.ops.ContentTag]] of the documents table plus the
  * threshold, so a corpus rewrite or a different operating point builds
  * a new assignment table instead of silently serving stale clusters.
  * Reuse across calls and JVMs follows [[graft.ops.ContentTag]]'s rule.
  *
  * The registered self-contained queries keep the full
  * pipeline-under-oracle contract; the `_stored` variants registered
  * next to them verify THIS table's bytes — their DuckDB oracles read
  * the stored parquet directly (the AnnIndex stored-bytes discipline)
  * and DupClusterStoreSpec pins stored ≡ recomputed bit-for-bit.
  */
object DupClusterStore {

  /** Most recent ensure()'d assignment root — the side channel the
    * dynamically-built `_stored` oracles read (Verify dumps oracleSql
    * AFTER running the queries, so the path is recorded by then; a
    * filtered run that skips the stored queries also skips their
    * compares, so the fallback SQL never executes).
    */
  @volatile private[graft] var lastEnsuredDir: Option[String] = None

  /** Idempotently build the assignment table for `sfDir`'s documents at
    * `threshold`, once per (corpus contents, threshold). Returns the root.
    *
    * Build path is the 100 TB one: connectivity-mode edges (clone-group
    * linear) into min-label connected components — the exact
    * q_dup_clusters semantics, spec-pinned equal to it.
    */
  def ensure(s: SparkSession, sfDir: String, threshold: Double = 0.05): String = {
    val root = ContentTag.buildOnce(
      f"graft_dup_clusters/v1_t${math.round(threshold * 1000)}%d",
      ContentTag.of(sfDir, Seq("documents"))) { r =>
      val edges = DedupOps.ngramJaccardConnectivityEdges(
        Tables(s, sfDir, "documents"), "doc_id", "text", threshold)
      GraphOps.dupClusters(edges)
        .select(col("id").as("doc_id"), col("cluster_id"))
        // one file: the table is |clustered docs|-sized (pairs-dense
        // corpora stay far below the corpus row count), and single-
        // file reads keep the DuckDB oracle glob trivial. At real
        // 100 TB scale this coalesce(1) is the one knob to revisit —
        // a partitioned layout bucketed by doc_id hash serves the
        // same keyed probes.
        .coalesce(1)
        .write.mode("overwrite").parquet(r)
    }
    lastEnsuredDir = Some(root)
    root
  }

  /** The stored assignments as a DataFrame — the consumers' read path. */
  def assignments(s: SparkSession, sfDir: String, threshold: Double = 0.05): DataFrame =
    s.read.parquet(ensure(s, sfDir, threshold))

  // ------------------------------------------------------------------
  // Incremental store (r19): cluster upkeep WITHOUT re-scanning the old
  // corpus. The content-tagged [[ensure]] table answers "cluster this
  // corpus once"; this second surface answers the ingest reality — a
  // live pipeline appends document batches forever, and re-clustering
  // 100 TB per batch is not a plan. The store persists, besides the
  // gid-level assignment, exactly the state the marginal batch needs:
  //
  //   membership  (doc_id, h, gid)   every doc -> its exact-dup group
  //   sizes       (gid, n_sh, n_members)  per distinct text
  //   postings    (sh, gid)          the distinct-text shingle index
  //   assign      (gid, cid)         gid-level clusters (clustered only)
  //   meta        (threshold, n)     build-time operating point
  //
  // [[maintainIncremental]] then touches work proportional to the BATCH:
  // exact-copy joiners resolve by one hash join against (h -> gid);
  // genuinely new texts shingle-join the stored postings (the inverted
  // index keyed on 8-byte shingle hashes — the same one-exchange shape
  // as the batch operator, with the corpus side pre-built); connectivity
  // re-closes over the stored assignment's STAR edges (|assign|-sized,
  // star compression makes old components depth 1) plus the batch's new
  // edges. The result is spec-pinned BIT-EQUAL to a full rebuild on the
  // unioned corpus.
  //
  // Exactly-once, with a BATCH-PROPORTIONAL commit unit (r20 — the r19
  // verdict's one named perf-weak): membership/sizes/postings live as
  // `base/` plus per-batch `batch=<id>/` parquet APPENDS (sizes rows
  // are member-count DELTAS, summed by [[sizesView]]), and the small
  // assign table's staged swap (rename-aside, `_GRAFT_COMMIT`-gated)
  // carries the batch-id ledger LAST as the single visibility event —
  // readers admit only batch dirs at or under the committed ledger, so
  // a crash between the appends and the assign swap leaves invisible
  // orphan dirs that the next writer deletes before re-appending.
  // maintain() therefore WRITES O(batch) bytes, not O(store): the r19
  // whole-root swap re-wrote the full membership/postings tables per
  // micro-batch — exactly the failure mode the store exists to avoid
  // at 100 TB. build/retract keep the whole-root staged swap (the rare
  // paths; retraction must rewrite touched tables anyway) — recovery
  // handles both scopes. SINGLE WRITER REQUIRED.
  //
  // Contract (precise form, r19): a batch may not re-insert ids the
  // store already holds (updates retract first —
  // [[applyFeedIncremental]]), and a joiner may not arrive BELOW its
  // exact-dup group's stored minimum id (gid is a member minimum; that
  // one case would rename the group store-wide). Fresh texts at any id
  // are fine — group and cluster minima re-close correctly.
  // ------------------------------------------------------------------

  private val Ledger = "_GRAFT_LAST_BATCH"
  private val AppendTables = Seq("membership", "sizes", "postings")

  /** Recover BOTH swap scopes: the whole-root swap (build/retract) and
    * the assign-table swap (maintain's commit unit). Safe no-op on a
    * fresh or healthy store.
    */
  private[graft] def recoverStore(s: SparkSession, root: String, op: String): Unit = {
    graft.ops.CoreOps.recoverSwap(s, root, op)
    graft.ops.CoreOps.recoverSwap(s, s"$root/assign", op)
  }

  /** Committed parts of an append-table: `base/` plus every
    * `batch=<id>/` dir at or under the ledger — orphan dirs from a
    * crash between the appends and the assign swap stay invisible.
    */
  private def tableParts(s: SparkSession, root: String, name: String): Seq[String] = {
    val fs = graft.ops.CoreOps.fsOf(s, root)
    val dir = new org.apache.hadoop.fs.Path(s"$root/$name")
    if (!fs.exists(dir)) return Seq.empty
    val led = lastBatch(root)
    fs.listStatus(dir).toSeq.map(_.getPath).flatMap { p =>
      p.getName match {
        case "base" => Some(p.toString)
        case n if n.startsWith("batch=") &&
            n.drop(6).forall(c => c.isDigit || c == '-') =>
          Some(p.toString).filter(_ => n.drop(6).toLong <= led)
        case _ => None
      }
    }
  }

  private def readTable(s: SparkSession, root: String, name: String): DataFrame =
    s.read.parquet(tableParts(s, root, name): _*)

  /** The sizes table's CURRENT view: base rows plus per-batch deltas
    * (joiner arrivals append (gid, n_sh, n_add) rows), summed per gid.
    */
  private def sizesView(s: SparkSession, root: String): DataFrame =
    readTable(s, root, "sizes").groupBy("gid")
      .agg(max(col("n_sh")).as("n_sh"), sum(col("n_members")).as("n_members"))
      .select("gid", "n_sh", "n_members")

  /** Delete orphan `batch=<id>` dirs above the committed ledger — the
    * leftovers of a maintain that crashed between its table appends and
    * the assign swap. Called by the writer before re-appending, so
    * replay is idempotent.
    */
  private def cleanOrphans(s: SparkSession, root: String): Unit = {
    val fs = graft.ops.CoreOps.fsOf(s, root)
    val led = lastBatch(root)
    AppendTables.foreach { name =>
      val dir = new org.apache.hadoop.fs.Path(s"$root/$name")
      if (fs.exists(dir))
        fs.listStatus(dir).foreach { st =>
          val n = st.getPath.getName
          if (n.startsWith("batch=") &&
              n.drop(6).forall(c => c.isDigit || c == '-') &&
              n.drop(6).toLong > led)
            fs.delete(st.getPath, true)
        }
    }
  }

  /** The oracle-gated demo of the incremental path: a content-tagged
    * store built on the lower half of the id range, then the upper half
    * absorbed through [[maintainIncremental]] (batch 0) — so the
    * registered `q_dup_clusters_inc` reads an assignment every row of
    * which flowed through the incremental machinery, while its DuckDB
    * oracle recomputes the FULL clustering from the raw corpus: a wrong
    * joiner resolution, edge, merge, or ledger interaction flips the
    * driver's hash. Both steps run as one [[graft.ops.ContentTag]]
    * build: a crash anywhere in them, including mid-swap with a stale
    * `.staging`/`.old` pair beside the root, leaves no marker, so the
    * next call clears the root and its siblings and builds it whole.
    */
  def ensureIncrementalDemo(s: SparkSession, sfDir: String): String =
    ContentTag.buildOnce("graft_dup_clusters_inc/v2",
      ContentTag.of(sfDir, Seq("documents"))) { root =>
      val docs = Tables(s, sfDir, "documents")
      val cut = docs.agg(max("doc_id")).head().getLong(0) / 2
      buildIncremental(s, docs.filter(col("doc_id") <= cut), root)
      maintainIncremental(s, docs.filter(col("doc_id") > cut), root, batchId = 0L)
    }

  /** Last batch id applied to the incremental store, or -1. The ledger
    * rides the ASSIGN table (r20: the assign swap is maintain's single
    * visibility event, so the ledger and the assignment flip together).
    */
  def lastBatch(root: String): Long = {
    val f = java.nio.file.Paths.get(root, "assign", Ledger)
    if (!java.nio.file.Files.exists(f)) -1L
    else new String(java.nio.file.Files.readAllBytes(f), "UTF-8").trim.toLong
  }

  /** (doc_id, cluster_id) for clustered docs — the [[ensure]] table's
    * schema, read from the incremental store.
    */
  def assignmentsIncremental(s: SparkSession, root: String): DataFrame = {
    // reads self-heal an interrupted swap, like every store here
    recoverStore(s, root, "DupClusterStore.assignmentsIncremental")
    readTable(s, root, "membership")
      .join(s.read.parquet(s"$root/assign"), Seq("gid"))
      .select(col("doc_id"), col("cid").as("cluster_id"))
  }

  /** Build the incremental store from scratch at `root`. */
  def buildIncremental(
      s: SparkSession, docs: DataFrame, root: String,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.05, n: Int = 3): Unit = {
    recoverStore(s, root, "DupClusterStore.buildIncremental")
    val d = docs.select(col(idCol).as("doc_id"),
      md5(col(textCol)).as("h"), col(textCol).as("__text"))
    val g = d.groupBy("h")
      .agg(min("doc_id").as("gid"), count(lit(1)).as("n_members"))
    val membership = d.join(g.select("h", "gid"), Seq("h"))
      .select("doc_id", "h", "gid")
    val hashed = d.join(g.select(col("gid").as("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("gid"),
        call_function("graft_shingle_hashes",
          graft.functions.TextOps.tokens(col("__text")), lit(n), lit(42L)).as("shs"))
    val sizes = hashed
      .select(col("gid"), size(col("shs")).cast("long").as("n_sh"))
      .join(g.select("gid", "n_members"), Seq("gid"))
    val postings = hashed.select(col("gid"), explode(col("shs")).as("sh"))
    val assign = gidAssign(crossEdges(postings, postings, sizes, sizes, threshold),
      sizes.filter(col("n_members") >= 2 && col("n_sh") > 0).select("gid"))
    swapRoot(s, root, batchId = None) { staging =>
      membership.write.parquet(s"$staging/membership/base")
      sizes.write.parquet(s"$staging/sizes/base")
      postings.write.parquet(s"$staging/postings/base")
      // hash-spread assignment layout (r20 — no coalesce(1) single-task
      // write; the table is small here but the layout must not
      // serialize at store scale)
      assign.repartition(col("gid")).write.parquet(s"$staging/assign")
      s.createDataFrame(Seq((threshold, n))).toDF("threshold", "n")
        .coalesce(1).write.parquet(s"$staging/meta")
    }
  }

  /** Absorb a batch of NEW documents into the store at `root`,
    * exactly-once under `batchId` replay. Returns false when the ledger
    * shows the batch already applied.
    */
  def maintainIncremental(
      s: SparkSession, newDocs: DataFrame, root: String, batchId: Long,
      idCol: String = "doc_id", textCol: String = "text"): Boolean = {
    recoverStore(s, root, "DupClusterStore.maintainIncremental")
    if (batchId <= lastBatch(root)) return false
    // a replay of a maintain that crashed between its appends and the
    // assign swap left orphan batch dirs above the ledger — readers
    // never saw them; delete before re-appending (idempotent replay)
    cleanOrphans(s, root)
    val meta = s.read.parquet(s"$root/meta").head()
    val (threshold, n) = (meta.getAs[Double]("threshold"), meta.getAs[Int]("n"))
    val membership = readTable(s, root, "membership")
    val sizes = sizesView(s, root)
    val postings = readTable(s, root, "postings")
    val assign = s.read.parquet(s"$root/assign")

    val d = newDocs.select(col(idCol).as("doc_id"),
      md5(col(textCol)).as("h"), col(textCol).as("__text")).localCheckpoint()

    // a batch may not re-insert ids the store already holds — that is
    // an UPDATE, which must retract first ([[applyFeedIncremental]]
    // orders the phases); admitting it here would duplicate membership
    // rows and silently diverge from a rebuild
    val dup = d.join(membership.select("doc_id"), Seq("doc_id"), "left_semi")
    require(dup.isEmpty,
      s"DupClusterStore.maintainIncremental($root): batch doc " +
        s"${dup.select("doc_id").head().getLong(0)} is already in the " +
        "store — updates must retract the old row first " +
        "(applyFeedIncremental orders the phases)")

    // exact-copy joiners inherit their group's gid by ONE hash join
    val oldG = membership.select("h", "gid").distinct()
    val tagged = d.join(oldG, Seq("h"), "left").localCheckpoint()
    val joiners = tagged.filter(col("gid").isNotNull)
    // the PRECISE ingest-order contract (r19, relaxed from a global
    // max-id check so CDC updates can re-insert ids): gid and cluster
    // ids are member minima, which stay stable for fresh texts at ANY
    // id (a new group's gid is its own minimum, and connectivity minima
    // re-close correctly through the star edges) — the ONLY unstable
    // case is a JOINER arriving below its group's stored minimum, which
    // would retroactively rename the group store-wide. Refuse exactly
    // that, loudly.
    val badJoin = joiners.filter(col("doc_id") < col("gid"))
    require(badJoin.isEmpty,
      s"DupClusterStore.maintainIncremental($root): batch doc " +
        s"${badJoin.select("doc_id").head().getLong(0)} joins an " +
        "existing exact-dup group below its stored minimum id — gid is " +
        "a member minimum, so this would rename the group store-wide; " +
        "rebuild instead")
    val fresh = tagged.filter(col("gid").isNull).drop("gid")
    val freshG = fresh.groupBy("h")
      .agg(min("doc_id").as("gid"), count(lit(1)).as("n_new"))
    val freshMembership = fresh.join(freshG.select("h", "gid"), Seq("h"))
      .select("doc_id", "h", "gid")
    val freshHashed = fresh.join(freshG.select(col("gid").as("doc_id")),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("gid"),
        call_function("graft_shingle_hashes",
          graft.functions.TextOps.tokens(col("__text")), lit(n), lit(42L)).as("shs"))
    val freshSizes = freshHashed
      .select(col("gid"), size(col("shs")).cast("long").as("n_sh"))
      .join(freshG.select(col("gid"), col("n_new").as("n_members")), Seq("gid"))
      .localCheckpoint()
    val freshPost = freshHashed.select(col("gid"), explode(col("shs")).as("sh"))
      .localCheckpoint()

    // batch-proportional edge work: fresh-vs-stored rides the stored
    // inverted index; fresh-vs-fresh is a batch-local self-join. The
    // mixed builder normalizes pair orientation (a fresh gid may be
    // SMALLER than an old one under the relaxed contract).
    val oldNew = crossEdgesMixed(postings, freshPost,
      sizes.select("gid", "n_sh").unionByName(freshSizes.select("gid", "n_sh")),
      threshold)
    val newNew = crossEdges(freshPost, freshPost, freshSizes, freshSizes, threshold)
    val edgesNew = oldNew.unionByName(newNew)

    // groups newly reaching the within-group clustering gate
    val joinCounts = joiners.groupBy("gid").agg(count(lit(1)).as("n_add"))
    val sizesUpd = sizes.join(joinCounts, Seq("gid"), "left")
      .withColumn("n_members",
        col("n_members") + coalesce(col("n_add"), lit(0L)))
      .drop("n_add")
    val selfNew = sizesUpd.filter(col("n_members") >= 2 && col("n_sh") > 0)
      .select("gid")
      .unionByName(
        freshSizes.filter(col("n_members") >= 2 && col("n_sh") > 0).select("gid"))

    // connectivity re-closure: stored components enter as STAR edges
    // (depth-1 history), plus the batch's new edges
    val stars = assign.filter(col("gid") =!= col("cid"))
      .select(col("cid").as("id_a"), col("gid").as("id_b"))
    val selfOld = assign.select("gid") // keeps edge-less self-clusters
    val assignNew = gidAssign(stars.unionByName(edgesNew),
      selfNew.unionByName(selfOld).distinct())

    // ---- batch-proportional commit (r20) ----
    // 1) APPEND the batch's delta rows per table — invisible to readers
    //    until the ledger moves (tableParts admits batch dirs <= ledger)
    joiners.select("doc_id", "h", "gid").unionByName(freshMembership)
      .write.parquet(s"$root/membership/batch=$batchId")
    freshPost.write.parquet(s"$root/postings/batch=$batchId")
    // sizes deltas: fresh groups carry their absolute row; joiner
    // arrivals carry (gid, stored n_sh, +n_add)
    joinCounts.join(sizes.select("gid", "n_sh"), Seq("gid"))
      .select(col("gid"), col("n_sh"), col("n_add").as("n_members"))
      .unionByName(freshSizes.select("gid", "n_sh", "n_members"))
      .write.parquet(s"$root/sizes/batch=$batchId")
    // 2) the assign swap is the single visibility event: new assignment
    //    + the advanced ledger flip together, rename-aside recovered
    swapAssign(s, root, batchId)(assignNew)
    true
  }

  /** Remove documents from the store, exactly-once under `batchId` —
    * the retraction direction ([[graft.functions.AnnIndex.delete]]'s
    * GDPR/dedup-retraction counterpart), and the genuinely hard one:
    * removing a BRIDGE document can SPLIT a cluster, which no
    * star-compressed state can answer — stars only remember that
    * members were connected, not through whom. The store can: it keeps
    * the full distinct-text shingle index, so the affected components
    * re-close from REAL edges.
    *
    * Work is touched-component-proportional, never corpus-
    * proportional:
    *  - groups losing members re-derive their min id (gid is a member
    *    minimum, so losing the minimum RENAMES the group — membership,
    *    sizes, postings, assignment rows rename consistently); groups
    *    losing every member drop entirely;
    *  - only components CONTAINING a touched group re-close: their
    *    remaining gids' postings self-join (edges between different
    *    old components cannot exist, so the restricted join is exact),
    *    min-label CC, and the within-group gate re-evaluated against
    *    the new member counts. Every other component's assignment rows
    *    pass through untouched.
    *
    * Spec-pinned bit-equal to a full rebuild on the surviving corpus,
    * including the split case. Unknown ids are harmless no-ops. Same
    * whole-root ledgered swap as [[maintainIncremental]] (one batch-id
    * sequence across appends and retractions).
    */
  def retractIncremental(
      s: SparkSession, ids: DataFrame, root: String, batchId: Long,
      idCol: String = "doc_id"): Boolean = {
    recoverStore(s, root, "DupClusterStore.retractIncremental")
    if (batchId <= lastBatch(root)) return false
    cleanOrphans(s, root)
    val threshold = s.read.parquet(s"$root/meta").head().getAs[Double]("threshold")
    val membership = readTable(s, root, "membership")
    val sizes = sizesView(s, root)
    val postings = readTable(s, root, "postings")
    val assign = s.read.parquet(s"$root/assign")
    val rm = ids.select(col(idCol).as("doc_id")).distinct().localCheckpoint()

    val memAfter = membership.join(rm, Seq("doc_id"), "left_anti")
    // groups that lost at least one member
    val touched = membership.join(rm, Seq("doc_id"), "left_semi")
      .select("gid").distinct().localCheckpoint()
    // surviving touched groups: new min id (the rename) + new count
    val regroup = memAfter.join(touched, Seq("gid"), "left_semi")
      .groupBy("gid")
      .agg(min("doc_id").as("gid2"), count(lit(1)).as("n2"))
      .localCheckpoint()
    val dropped = touched.join(regroup.select("gid"), Seq("gid"), "left_anti")
      .localCheckpoint()
    def rename(df: DataFrame): DataFrame = df
      .join(dropped, Seq("gid"), "left_anti")
      .join(regroup.select("gid", "gid2"), Seq("gid"), "left")
      .withColumn("gid", coalesce(col("gid2"), col("gid"))).drop("gid2")
    val mem2 = rename(memAfter)
    val sizes2 = rename(sizes
      .join(regroup.select(col("gid"), col("n2")), Seq("gid"), "left")
      .withColumn("n_members", coalesce(col("n2"), col("n_members")))
      .drop("n2")).localCheckpoint()
    val post2 = rename(postings).localCheckpoint()

    // touched components re-close from real edges among their REMAINING
    // (renamed) gids; everything else passes through
    val touchedComps = assign.join(touched, Seq("gid"), "left_semi")
      .select("cid").distinct()
    val compGids = assign.join(touchedComps, Seq("cid"), "left_semi")
      .select("gid")
    val remain = rename(compGids).localCheckpoint()
    val rp = post2.join(remain, Seq("gid"), "left_semi")
    val rs = sizes2.join(remain, Seq("gid"), "left_semi")
    val selfRemain = rs.filter(col("n_members") >= 2 && col("n_sh") > 0)
      .select("gid")
    val reAssign = gidAssign(crossEdges(rp, rp, rs, rs, threshold), selfRemain)
    val assign2 = assign.join(touchedComps, Seq("cid"), "left_anti")
      .unionByName(reAssign)

    // retraction rewrites the touched tables (it renames gids and drops
    // rows store-wide, so appends cannot express it) — the whole-root
    // staged swap compacts the batch dirs back into base/
    swapRoot(s, root, batchId = Some(batchId)) { staging =>
      mem2.write.parquet(s"$staging/membership/base")
      sizes2.write.parquet(s"$staging/sizes/base")
      post2.write.parquet(s"$staging/postings/base")
      assign2.repartition(col("gid")).write.parquet(s"$staging/assign")
      s.read.parquet(s"$root/meta").write.parquet(s"$staging/meta")
    }
    true
  }

  /** SQL table-valued surface over a PERSISTED incremental store,
    * registered as `graft_dup_clusters_store` (the graft_ann indexed
    * pattern — the argument is a store DIRECTORY, not a table):
    *
    * {{{
    * SELECT * FROM graft_dup_clusters_store('/path/to/store')
    *   -- (doc_id, cluster_id) from the stored assignment
    * }}}
    *
    * The read self-heals interrupted swaps like every consumer.
    */
  def storeSqlBuilder(
      es: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    if (es.size != 1)
      throw new IllegalArgumentException(
        "graft_dup_clusters_store(store_dir)")
    val root = graft.plans.TvfArgs.strLit(
      "graft_dup_clusters_store", es)(0, "store_dir")
    val spark = org.apache.spark.sql.SparkSession.active
    // self-heal an interrupted swap BEFORE the existence guard (ADVICE
    // r19): a store whose last commit crashed mid-rename (target
    // missing, staging complete) must be recovered, not rejected at
    // analysis time
    graft.ops.CoreOps.recoverSwap(spark, root, "graft_dup_clusters_store")
    if (lastBatch(root) < 0L &&
        !java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$root/assign")))
      throw new IllegalArgumentException(
        s"graft_dup_clusters_store: no incremental dup-cluster store at " +
          s"'$root' (build one with DupClusterStore.buildIncremental)")
    assignmentsIncremental(spark, root).queryExecution.analyzed
  }

  /** Apply a CDC feed ([[graft.ops.ChangeFeed.diff]]'s row model —
    * insert / delete / update_preimage / update_postimage over the
    * document table) to the store: retractions first (deletes +
    * preimages), then insertions (inserts + postimages) — so an UPDATE
    * moves its document between clusters exactly as delete-then-insert
    * of the new text, bit-equal to a rebuild on the post-feed corpus
    * (spec-pinned). Exactly-once via the shared ledger on a DOUBLED
    * sub-sequence (retract at 2·batchId, insert at 2·batchId+1): a
    * crash between the two phases replays into "retract skipped, insert
    * runs" — each phase is one atomic ledgered swap. A store driven
    * through this API must use it exclusively (direct maintain/retract
    * calls would collide with the doubled sequence). The feed must be
    * self-consistent (an update carries its preimage), as for
    * [[graft.ops.ChangeFeed.applyFeedToTable]].
    */
  def applyFeedIncremental(
      s: SparkSession, feed: DataFrame, root: String, batchId: Long,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val retractions = feed
      .filter(col("change_type").isin("delete", "update_preimage"))
      .select(col(idCol))
    val inserts = feed
      .filter(col("change_type").isin("insert", "update_postimage"))
      .select(col(idCol), col(textCol))
    if (!retractions.isEmpty)
      retractIncremental(s, retractions, root, 2 * batchId, idCol)
    if (!inserts.isEmpty)
      maintainIncremental(s, inserts, root, 2 * batchId + 1, idCol, textCol)
  }

  /** [[crossEdges]] for two DISJOINT gid sets (old store vs fresh
    * batch): every cross pair appears in exactly one orientation of the
    * join, so the pair normalizes via least/greatest instead of an
    * ordering filter — required since the relaxed ingest contract
    * allows fresh gids below stored ones. `sizesAll` must cover both
    * sides' gids.
    */
  private def crossEdgesMixed(
      postA: DataFrame, postB: DataFrame,
      sizesAll: DataFrame, threshold: Double): DataFrame = {
    val shared = postA.select(col("gid").as("ga"), col("sh"))
      .join(postB.select(col("gid").as("gb"), col("sh")), Seq("sh"))
      .select(least(col("ga"), col("gb")).as("id_a"),
        greatest(col("ga"), col("gb")).as("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("ns"))
    shared
      .join(sizesAll.select(col("gid").as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
      .join(sizesAll.select(col("gid").as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
      .filter(col("ns").cast("double") /
        (col("n_a") + col("n_b") - col("ns")) >= threshold)
      .select("id_a", "id_b")
  }

  /** Qualifying gid-level cross edges between two (postings, sizes)
    * pairs — exact Jaccard over the distinct-text shingle sets, the
    * identical arithmetic as the batch operator (bit-equal doubles).
    * Pairs are emitted once with id_a < id_b; both inputs must share
    * one gid space (the self-join case).
    */
  private def crossEdges(
      postA: DataFrame, postB: DataFrame,
      sizesA: DataFrame, sizesB: DataFrame, threshold: Double): DataFrame = {
    val shared = postA.select(col("gid").as("id_a"), col("sh"))
      .join(postB.select(col("gid").as("id_b"), col("sh")), Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("ns"))
    shared
      .join(sizesA.select(col("gid").as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
      .join(sizesB.select(col("gid").as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
      .filter(col("ns").cast("double") /
        (col("n_a") + col("n_b") - col("ns")) >= threshold)
      .select("id_a", "id_b")
  }

  /** gid-level assignment from cross edges + self-clustered gids:
    * components (min-gid labels) for every edge endpoint, identity for
    * self-clustered gids outside every component.
    */
  private def gidAssign(edges: DataFrame, selfGids: DataFrame): DataFrame = {
    val comp = GraphOps.dupClusters(edges)
      .select(col("id").as("gid"), col("cluster_id").as("cid"))
      .localCheckpoint()
    comp.unionByName(
      selfGids.join(comp.select("gid"), Seq("gid"), "left_anti")
        .select(col("gid"), col("gid").as("cid")))
  }

  /** Whole-root staged swap: `build` writes every table into
    * `root.staging`, and [[graft.ops.CoreOps.commitSwap]] commits it
    * with the ledger (when given, or carried forward) as its
    * `assign/_GRAFT_LAST_BATCH` sidecar — one visibility event for the
    * whole store.
    */
  private def swapRoot(
      s: SparkSession, root: String, batchId: Option[Long])(
      build: String => Unit): Unit = {
    val fs = graft.ops.CoreOps.fsOf(s, root)
    val (live, staging, old) = graft.ops.CoreOps.siblings(root)
    fs.delete(staging, true)
    build(staging.toString)
    // carry the ledger forward on ledgerless rewrites (the AnnIndex /
    // SummaryTables rule: losing it would re-admit replayed ids); the
    // ledger lives INSIDE assign/ (r20 — it flips with the assignment)
    val ledger = batchId.orElse(Some(lastBatch(root)).filter(_ >= 0))
    graft.ops.CoreOps.commitSwap(fs, live, staging, old, "DupClusterStore",
      ledger.map(id => s"assign/$Ledger" -> id.toString).toMap)
  }

  /** Maintain's commit unit (r20): stage the new assignment next to the
    * live one and commit it through [[graft.ops.CoreOps.commitSwap]]
    * with the advanced ledger as its sidecar — the store's single
    * visibility event.
    */
  private def swapAssign(
      s: SparkSession, root: String, batchId: Long)(assignNew: DataFrame): Unit = {
    val fs = graft.ops.CoreOps.fsOf(s, root)
    val (live, staging, old) = graft.ops.CoreOps.siblings(s"$root/assign")
    fs.delete(staging, true)
    // the plan still READS root/assign — fully materialize to staging
    // first (hash-spread layout, no single-task coalesce)
    assignNew.repartition(col("gid")).write.parquet(staging.toString)
    graft.ops.CoreOps.commitSwap(fs, live, staging, old, "DupClusterStore",
      Map(Ledger -> batchId.toString))
  }
}
