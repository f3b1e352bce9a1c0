package graft.functions

import graft.ops.{ContentTag, CoreOps}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted ANN index: IVF centroids, cell assignments, and the PQ
  * codebook written ONCE as parquet tables, then probed by
  * [[ivfTopK]] / [[pqTopK]] variants that read the stored index instead
  * of retraining per query call.
  *
  * This applies the [[graft.operators.BucketedTables]] thesis (write-once
  * layout + content-fingerprint identity) to the vector tier. The
  * query-time methods in [[VectorOps]] ([[VectorOps.ivfTopK]],
  * [[VectorOps.pqTopK]]) re-derive centroids and codebooks inside every
  * invocation — the right shape for ad-hoc exploration, but at 100 TB
  * the training sample scan and the Lloyd rounds are corpus scans paid
  * per QUERY when they are a property of the DATA. An index is the
  * standard answer (FAISS persists exactly this triple: coarse
  * centroids, inverted lists, codebook); here each piece is a plain
  * parquet table, so it shares the lake's storage, replication, and
  * scan machinery:
  *
  *  - `centroids/`  (cell INT, centroid ARRAY<DOUBLE>) — nlist rows,
  *    collected to the driver at probe time and folded into the
  *    [[TopCentroids]] kernel as one flat literal (the ivfTopK pattern:
  *    O(1) planning cost in nlist, no join for cell assignment).
  *  - `meta/` one row — (dim, nlist, nprobe, dsub, ksub_eff, m,
  *    flat ARRAY<DOUBLE>): the probe defaults plus the PQ codebook.
  *  - `postings/` PARTITIONED BY cell — (n_id, n_vec, codes): the
  *    corpus re-laid-out as inverted lists, vectors AND compressed
  *    codes side by side. Partitioning by cell is the scale payoff:
  *    a probe joins postings on `cell` against the broadcast query
  *    side, so dynamic partition pruning skips every unprobed cell's
  *    FILES — the probe reads nprobe/nlist of the corpus from disk,
  *    not just post-scan.
  *
  * Build cost: three corpus scans (centroid sample, one optional Lloyd
  * round each, postings write), once per corpus content. Probe cost:
  * two tiny index reads (meta + centroids — NO corpus-scan training
  * jobs, pinned in ExplainSpec) plus the pruned postings scan.
  *
  * Everything stays deterministic (md5-ordered sample, scaled-integer
  * Lloyd sums), and the oracle for `q_ann_indexed` re-derives the whole
  * probe — cells, candidates, exact cosines — in DuckDB FROM THE STORED
  * INDEX TABLES themselves (`read_parquet` on centroids/meta/postings),
  * so the persisted bytes, not just the algorithm, are what gets
  * verified.
  */
object AnnIndex {

  private def centroidsPath(dir: String) = s"$dir/centroids"
  private def metaPath(dir: String) = s"$dir/meta"
  private def postingsPath(dir: String) = s"$dir/postings"
  private def tombstonesPath(dir: String) = s"$dir/tombstones"

  /** Build the index at `dir` (overwrites). `nlist <= 0` auto-sizes to
    * ~256-vector cells like [[VectorOps.ivfTopK]]; `trainRounds > 0`
    * runs that many Lloyd rounds over the corpus for tighter cells (the
    * production configuration — training cost now lives HERE, once,
    * instead of inside every query). `dsub`/`ksub` shape the PQ
    * codebook stored alongside for [[pqTopK]].
    *
    * `attrCols` copies the named corpus columns INTO the postings rows
    * (the filtered-search layout every production vector store uses —
    * FAISS-with-metadata / Milvus / pgvector): a probe's metadata
    * predicate is then evaluated inside the pruned postings SCAN
    * (parquet PushedFilters — row groups whose attr stats miss the
    * predicate are skipped), costing zero extra joins at 100 TB instead
    * of a corpus-sized id join back to the source table.
    */
  def build(
      corpus: DataFrame, dir: String,
      nlist: Int = 0, trainRounds: Int = 0,
      dsub: Int = 8, ksub: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroids: Array[Seq[Double]] = null,
      codebook: Array[Double] = null,
      attrCols: Seq[String] = Nil): Unit = {
    val spark = corpus.sparkSession
    val reserved = Set("n_id", "n_vec", "cell", "codes")
    require(attrCols.forall(a => !reserved(a)),
      s"attrCols may not use the reserved posting names $reserved")
    val c0 = corpus.select(col(idCol).as("n_id") +:
      VectorOps.toDoubleVec(col(vecCol)).as("n_vec") +:
      attrCols.map(col): _*)
    // with BOTH quantizers injected (the shard-rebuild path) the sample
    // scan derives nothing — skip the corpus pass entirely; the
    // emptiness check degrades to a limit-1 probe
    val bothInjected = centroids != null && codebook != null
    val (autoNlist, sample) =
      if (bothInjected) (0, Array.empty[Seq[Double]])
      else VectorOps.coarseSample(c0, nlist)
    require(bothInjected || sample.nonEmpty, "AnnIndex.build: empty corpus")
    if (bothInjected)
      require(!c0.isEmpty, "AnnIndex.build: empty corpus")
    // `centroids` overrides derivation entirely — the offline-trained-
    // quantizer path (and the parity anchor for append(): an index
    // appended to must equal a fresh build over the union corpus with
    // the SAME centroids)
    val cents: Array[Seq[Double]] =
      if (centroids != null) centroids
      else if (trainRounds > 0)
        VectorOps.kMeansCentroids(corpus, math.min(autoNlist, sample.length),
          trainRounds, idCol, vecCol)
      else sample.take(math.min(autoNlist, sample.length))
    // the STORED nlist/nprobe must describe the cells actually assigned
    // (cents.length) — deriving them from the auto-sizing when an
    // explicit centroid array of a different length was supplied would
    // persist metadata that disagrees with the postings (a default
    // probe would then read nprobe-of-the-WRONG-nlist cells)
    val effNlist = cents.length
    val dim = cents.head.size
    require(dim % dsub == 0, s"dim $dim not divisible by dsub $dsub")
    val cb =
      if (codebook != null) codebook
      else VectorOps.pqCodebookFromRows(sample, dsub, ksub)
    val m = dim / dsub
    val kEff = cb.length / (m * dsub)
    val nprobe = math.max(4, effNlist / 8)

    import spark.implicits._
    cents.toSeq.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(centroidsPath(dir))
    Seq((dim, effNlist, nprobe, dsub, kEff, m, cb.toSeq))
      .toDF("dim", "nlist", "nprobe", "dsub", "ksub_eff", "m", "flat")
      .coalesce(1).write.mode("overwrite").parquet(metaPath(dir))
    val flatC = lit(cents.flatten.toArray)
    val pqFlat = lit(cb)
    c0.withColumn("cell",
        call_function("graft_nearest_cell", col("n_vec"), flatC, lit(dim)))
      .withColumn("codes",
        call_function("graft_pq_encode", col("n_vec"), pqFlat, lit(dsub), lit(kEff)))
      .write.mode("overwrite").partitionBy("cell").parquet(postingsPath(dir))
  }

  /** Incrementally add vectors to an EXISTING index — the production
    * ingestion path (the corpus grows continuously; the quantizers are
    * retrained on a cadence, not per batch): new rows are assigned to
    * the STORED centroids and encoded against the STORED codebook, then
    * written as additional files into the cell-partitioned postings
    * layout (parquet append — no existing file is rewritten, so a
    * concurrent probe never sees a partial cell). Probing after append
    * is bit-identical to probing a fresh build over the union corpus
    * with the same centroids/codebook (spec-pinned in AnnIndexSpec).
    * At 100 TB this is one scan of the NEW batch; the existing
    * postings are untouched.
    */
  def append(
      newVectors: DataFrame, dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      attrCols: Seq[String] = Nil): Unit =
    assignForAppend(newVectors, dir, idCol, vecCol, attrCols)
      .write.mode("append").partitionBy("cell").parquet(postingsPath(dir))

  /** The shared append pipeline: validate the attr contract against the
    * STORED layout, then assign each new vector to its stored-quantizer
    * cell and PQ-encode it with the stored codebook — the posting-row
    * shape [[append]] writes and [[appendBatch]] stages.
    */
  private def assignForAppend(
      newVectors: DataFrame, dir: String,
      idCol: String, vecCol: String, attrCols: Seq[String]): DataFrame = {
    val spark = newVectors.sparkSession
    // the batch MUST carry exactly the attr columns the stored postings
    // already have: appending without them would write files missing
    // the attr column, which a later filtered probe reads as NULL —
    // silently excluding every appended vector from filtered top-k
    // results (no error, wrong answer). Derive the contract from the
    // stored layout itself, not trust the caller.
    val reserved = Set("n_id", "n_vec", "cell", "codes")
    require(attrCols.forall(a => !reserved(a)),
      s"attrCols may not use the reserved posting names $reserved")
    val storedAttrs = spark.read.parquet(postingsPath(dir))
      .schema.fieldNames.filterNot(reserved).toSet
    require(attrCols.toSet == storedAttrs,
      s"AnnIndex.append($dir): the stored postings carry attr columns " +
        s"[${storedAttrs.toSeq.sorted.mkString(",")}] but the batch " +
        s"supplies [${attrCols.sorted.mkString(",")}] — pass the same " +
        "attrCols the index was built with")
    val meta = spark.read.parquet(metaPath(dir)).head()
    val dim = meta.getAs[Int]("dim")
    val dsub = meta.getAs[Int]("dsub")
    val kEff = meta.getAs[Int]("ksub_eff")
    val codebook = meta.getAs[Seq[Double]]("flat").toArray
    val cents = storedCentroids(spark, dir)
    val flatC = lit(cents.flatten.toArray)
    val pqFlat = lit(codebook)
    newVectors.select(col(idCol).as("n_id") +:
        VectorOps.toDoubleVec(col(vecCol)).as("n_vec") +:
        attrCols.map(col): _*)
      .withColumn("cell",
        call_function("graft_nearest_cell", col("n_vec"), flatC, lit(dim)))
      .withColumn("codes",
        call_function("graft_pq_encode", col("n_vec"), pqFlat, lit(dsub), lit(kEff)))
  }

  /** Ledger sidecar inside the postings dir recording the last streaming
    * batch id applied (underscore-prefixed: parquet readers skip it).
    * The summary tier's [[graft.operators.SummaryTables.BatchLedger]]
    * discipline applied to the index.
    */
  private[graft] val AppendLedger = "_GRAFT_LAST_BATCH"

  private[graft] def lastAppendedBatch(dir: String): Long = {
    val f = java.nio.file.Paths.get(postingsPath(dir), AppendLedger)
    if (!java.nio.file.Files.exists(f)) -1L
    else new String(java.nio.file.Files.readAllBytes(f), "UTF-8").trim.toLong
  }

  /** EXACTLY-ONCE streaming append ([[graft.streaming.StreamingOps
    * .annIndexAppendEachBatch]]'s per-batch body): appends are not
    * idempotent, so unlike [[append]] a replayed micro-batch must be a
    * no-op. The batch is assigned through the stored quantizer
    * ([[assignForAppend]]) and committed via the maintenance tier's
    * staged swap with the batch-id LEDGER riding INSIDE the staged dir —
    * data and ledger become visible in one atomic rename, so the crash
    * window between "applied" and "recorded" does not exist: a crash
    * before the swap leaves the old postings + ledger intact (the
    * replayed batch re-stages), a crash inside the swap is finished by
    * [[recoverVacuum]] on the next call WITH the new ledger already in
    * the staged bytes. Returns false when the ledger shows `batchId`
    * already applied (the replay skip).
    *
    * Scale note, stated honestly: the swap REWRITES the live postings
    * (O(index) per batch, like every maintenance op here), which is the
    * exactness-first shape for a demo-scale index. At 100 TB the same
    * ledger protocol applies per CELL PARTITION (stage + swap only the
    * cell dirs the batch touches, ledger in each) — the layout already
    * partitions by cell, so that refinement changes the commit unit,
    * not the discipline. Single writer required, as for all maintenance.
    */
  def appendBatch(
      newVectors: DataFrame, dir: String, batchId: Long,
      idCol: String = "vec_id", vecCol: String = "embedding",
      attrCols: Seq[String] = Nil): Boolean = {
    val spark = newVectors.sparkSession
    recoverVacuum(spark, dir) // ledger read AFTER recovery (the maintain lesson)
    if (batchId <= lastAppendedBatch(dir)) return false
    val assigned = assignForAppend(newVectors, dir, idCol, vecCol, attrCols)
    val all = spark.read.parquet(postingsPath(dir)).unionByName(assigned)
    stageAndSwapPostings(spark, dir, all,
      extraStagedFiles = Map(AppendLedger -> batchId.toString))
    true
  }

  /** Tombstone deletion — the O(batch) maintenance path (GDPR removal,
    * dedup-driven retractions): deleted ids are APPENDED to a tiny
    * `tombstones/` parquet table; no postings file is touched, so a
    * concurrent probe never sees a partial rewrite. Every probe
    * ([[ivfTopK]], [[pqTopK]], the streaming probe) anti-joins the
    * tombstone set — at 100 TB that is a broadcast of the deleted-id
    * list against the pruned postings scan, not a corpus pass. Physical
    * reclamation is [[vacuum]]'s job, on a cadence; until then deletes
    * are logically immediate. Ids not present in the index are
    * harmless (the anti-join just never matches them).
    */
  def delete(
      ids: DataFrame, dir: String, idCol: String = "vec_id"): Unit =
    ids.select(col(idCol).as("n_id")).distinct()
      .coalesce(1).write.mode("append").parquet(tombstonesPath(dir))

  /** Physically drop tombstoned rows: rewrite postings minus the
    * tombstone set into a staged dir, swap it in, clear the tombstones.
    * Probe results are identical before and after (spec-pinned) — this
    * reclaims bytes and removes the per-probe anti-join, nothing else.
    * Single-writer maintenance operation (the standard compaction
    * contract), committed through [[stageAndSwapPostings]]. Returns the
    * number of rows removed.
    */
  def vacuum(spark: SparkSession, dir: String): Long = {
    recoverVacuum(spark, dir)
    val tPath = java.nio.file.Paths.get(tombstonesPath(dir))
    if (!java.nio.file.Files.exists(tPath)) return 0L
    val tombs = spark.read.parquet(tombstonesPath(dir))
    val postings = spark.read.parquet(postingsPath(dir))
    val before = postings.count()
    val after = stageAndSwapPostings(spark, dir,
      postings.join(tombs, Seq("n_id"), "left_anti"))
    graft.ops.LocalFs.deleteTree(tPath)
    before - after
  }

  /** Partition-preserving compaction of the postings layout: every
    * [[append]] batch adds at least one file per touched cell, so an
    * append-heavy index accretes exactly the small-files problem
    * [[graft.ops.LayoutOps.compactFiles]] exists for — but a flat
    * compaction would fold the `cell` partitioning (and its probe-time
    * pruning) away. This rewrite clusters one task per cell
    * (`repartition(cell)`), so each cell comes back as a single file,
    * through the same staged `_GRAFT_COMMIT` swap as [[vacuum]]. Probe
    * results are identical before and after (spec-pinned). Returns the
    * number of data files reclaimed.
    */
  def compactPostings(spark: SparkSession, dir: String): Long = {
    recoverVacuum(spark, dir)
    def nFiles = graft.ops.LayoutOps.listParquet(postingsPath(dir)).length
    val before = nFiles
    stageAndSwapPostings(spark, dir,
      spark.read.parquet(postingsPath(dir)).repartition(col("cell")))
    before - nFiles
  }

  /** Shared staged rewrite for the maintenance operations ([[vacuum]],
    * [[compactPostings]], [[reassignPostings]], [[appendBatch]]): write
    * the new postings to `postings_staged`, then commit them through
    * [[swap]]. A rewrite that would leave the index EMPTY is refused — a
    * fully purged index should be dropped, not served as an unreadable
    * dir. Returns the staged row count.
    */
  private def stageAndSwapPostings(
      spark: SparkSession, dir: String, rewritten: DataFrame,
      extraStagedFiles: Map[String, String] = Map.empty): Long = {
    val staged = swapPaths(dir, "postings")._2.toString
    rewritten.write.mode("overwrite").partitionBy("cell").parquet(staged)
    // explicit schema: an all-rows-removed staged dir has no parquet
    // files to infer from (the count must still work to refuse below)
    val after = spark.read.schema(rewritten.schema).parquet(staged).count()
    if (after == 0L) {
      graft.ops.LocalFs.deleteTree(java.nio.file.Paths.get(staged))
      throw new IllegalStateException(
        s"AnnIndex($dir): rewrite would remove every posting — an empty " +
          "index is unreadable; drop the index directory instead")
    }
    // sidecars ride the swap: [[appendBatch]]'s batch ledger lands here
    // so data and ledger become visible in one rename. A maintenance
    // rewrite that supplies no ledger CARRIES the existing one forward —
    // a vacuum/compact must not lose it, or a replayed streaming batch
    // would be re-admitted (the SummaryTables ledgerless-maintain rule).
    val carried: Map[String, String] =
      if (extraStagedFiles.contains(AppendLedger)) extraStagedFiles
      else lastAppendedBatch(dir) match {
        case -1L => extraStagedFiles
        case id => extraStagedFiles + (AppendLedger -> id.toString)
      }
    swap(spark, dir, "postings", carried)
    after
  }

  /** `dir/<table>` with its `_staged` and `_old` swap siblings. */
  private def swapPaths(dir: String, table: String): (Path, Path, Path) =
    (new Path(s"$dir/$table"), new Path(s"$dir/${table}_staged"),
      new Path(s"$dir/${table}_old"))

  /** Commit the fully written `dir/<table>_staged` through
    * [[graft.ops.CoreOps.commitSwap]]. The swap holds [[recoverVacuum]]'s
    * monitor so an in-JVM probe's recovery check cannot interleave with
    * a half-done swap (cross-JVM, maintenance stays single-writer by
    * contract).
    */
  private def swap(spark: SparkSession, dir: String, table: String,
      sidecars: Map[String, String] = Map.empty): Unit = synchronized {
    val (live, staged, old) = swapPaths(dir, table)
    CoreOps.commitSwap(CoreOps.fsOf(spark, dir), live, staged, old,
      s"AnnIndex($dir)", sidecars)
  }

  /** Finish an interrupted postings or centroids swap through
    * [[graft.ops.CoreOps.recoverSwap]]. A COMPLETE staged dir next to
    * live postings is left for the next maintenance call to rebuild —
    * never swapped in here, its tombstone set may be stale. Tombstones
    * possibly left behind by an interrupted [[vacuum]] are harmless: the
    * rewritten postings no longer hold those ids, so the anti-join is a
    * no-op and the next vacuum clears them.
    */
  private def recoverVacuum(spark: SparkSession, dir: String): Unit = synchronized {
    val fs = CoreOps.fsOf(spark, dir)
    Seq("postings", "centroids").foreach { table =>
      val (live, staged, old) = swapPaths(dir, table)
      CoreOps.recoverSwap(fs, live, staged, old, s"AnnIndex($dir)")
    }
  }

  /** The stored centroid table ordered by cell — ONE definition of the
    * load rule for every probe and maintenance op, with interrupted-swap
    * recovery run first (a probe must never read a half-swapped table).
    */
  private[graft] def storedCentroids(
      spark: SparkSession, dir: String): Array[Seq[Double]] = {
    recoverVacuum(spark, dir)
    spark.read.parquet(centroidsPath(dir))
      .orderBy("cell").select("centroid").collect().map(_.getSeq[Double](0))
  }

  /** Postings minus the tombstone set — what every probe reads. The
    * anti-join only appears in the plan while tombstones exist (between
    * a [[delete]] and the next [[vacuum]]). The existence check runs at
    * PLAN CONSTRUCTION: a batch query always sees the current set, but a
    * STREAMING probe built over a tombstone-free index keeps its
    * anti-join-free plan for the life of the query — deletes issued
    * mid-stream become visible on restart (the standard stream-static
    * staleness contract; tombstones present at start ARE re-read per
    * micro-batch like any static side).
    */
  private[graft] def livePostings(spark: SparkSession, dir: String): DataFrame = {
    recoverVacuum(spark, dir)
    val postings = spark.read.parquet(postingsPath(dir))
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(tombstonesPath(dir))))
      // no broadcast hint: file-size stats pick broadcast for the
      // typical between-vacuums backlog and degrade to a shuffled
      // anti-join if someone lets a billion tombstones pile up
      postings.join(spark.read.parquet(tombstonesPath(dir)),
        Seq("n_id"), "left_anti")
    else postings
  }

  /** Retrain the coarse quantizer IN PLACE from the index's own stored
    * vectors (Lloyd rounds seeded by the same md5-ordered init as
    * [[VectorOps.kMeansCentroids]]) — the cadence reality of a growing
    * corpus: batches keep [[append]]-ing against the stored centroids,
    * and the quantizer is re-fit periodically, NOT per batch. Postings
    * keep their OLD assignments afterwards (only `centroids/` is
    * overwritten): probes stay correct as approximations — they rank
    * real vectors with exact cosines — but recall degrades as stored
    * cells diverge from the new centroid field. [[driftStats]] measures
    * exactly that divergence; [[reassignPostings]] repairs it.
    */
  def retrainCentroids(spark: SparkSession, dir: String, rounds: Int = 1): Unit = {
    require(rounds > 0, "retrainCentroids: rounds must be positive")
    val nlist = spark.read.parquet(metaPath(dir)).head().getAs[Int]("nlist")
    val corpus = livePostings(spark, dir)
      .select(col("n_id").as("vec_id"), col("n_vec").as("embedding"))
    val cents = VectorOps.kMeansCentroids(corpus, nlist, rounds)
    import spark.implicits._
    // staged + swapped like the postings: an in-place overwrite of the
    // LIVE centroid table would brick the index on a mid-write crash
    // (Spark's overwrite deletes first). The tiny table makes the window
    // small, not acceptable.
    val (_, staged, _) = swapPaths(dir, "centroids")
    cents.toSeq.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(staged.toString)
    swap(spark, dir, "centroids")
  }

  /** Index-staleness audit: per stored cell, how many live postings rows
    * would NO LONGER be assigned there under the CURRENT centroids —
    * the number that decides when a [[reassignPostings]] (or full
    * retrain cycle) is due. One pruned postings scan + the codegen'd
    * nearest-cell kernel; the centroid table rides as a flat literal,
    * so nothing shuffles but the per-cell counts.
    */
  def driftStats(spark: SparkSession, dir: String): DataFrame = {
    val dim = spark.read.parquet(metaPath(dir)).head().getAs[Int]("dim")
    val cents = storedCentroids(spark, dir)
    val flat = lit(cents.flatten.toArray)
    livePostings(spark, dir)
      .withColumn("best",
        call_function("graft_nearest_cell", col("n_vec"), flat, lit(dim)))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("best") =!= col("cell"), 1L).otherwise(0L))
          .as("n_misassigned"))
      .orderBy("cell")
  }

  /** Re-cluster every live posting under the CURRENT centroids — the
    * repair step after [[retrainCentroids]]: one postings scan, cell
    * recomputed by the nearest-cell kernel, rewritten through the same
    * `_GRAFT_COMMIT` staged swap as [[vacuum]]. Subsumes a vacuum
    * (tombstoned rows are dropped by the live read and the tombstone
    * table cleared). After this, [[driftStats]] reads all-zero and the
    * index is probe-identical to a fresh build over the live corpus
    * with the same quantizers (spec-pinned).
    */
  def reassignPostings(spark: SparkSession, dir: String): Unit = {
    recoverVacuum(spark, dir)
    val dim = spark.read.parquet(metaPath(dir)).head().getAs[Int]("dim")
    val cents = storedCentroids(spark, dir)
    val flat = lit(cents.flatten.toArray)
    stageAndSwapPostings(spark, dir,
      livePostings(spark, dir).withColumn("cell",
        call_function("graft_nearest_cell", col("n_vec"), flat, lit(dim))))
    val tPath = java.nio.file.Paths.get(tombstonesPath(dir))
    graft.ops.LocalFs.deleteTree(tPath)
  }

  /** Most recent ensureDrifted()'d index root — q_ann_index_drift's
    * oracle side channel, same contract as [[lastEnsuredDir]].
    */
  @volatile private[graft] var lastDriftDir: Option[String] = None

  /** The drift demo's index: built with SAMPLE centroids (trainRounds =
    * 0), then the quantizer retrained in place for 2 Lloyd rounds —
    * postings keep their stale assignments, so [[driftStats]] has real
    * divergence to measure, and the oracle re-derives it entirely from
    * the STORED centroids + postings. Once per corpus contents; a build
    * interrupted between the two steps is cleared and rebuilt whole, so
    * an undrifted index is never served.
    */
  def ensureDrifted(s: SparkSession, sfDir: String): String = {
    val root = ContentTag.buildOnce("graft_ann_index_drift",
      ContentTag.of(sfDir, Seq("embeddings"))) { r =>
      build(graft.Tables(s, sfDir, "embeddings"), r, nlist = 0, trainRounds = 0)
      retrainCentroids(s, r, rounds = 2)
    }
    lastDriftDir = Some(root)
    root
  }

  /** Most recent ensure()'d index root — the side channel the
    * dynamically-built q_ann_indexed oracle reads (Verify dumps
    * oracleSql AFTER running the queries, so the path is always
    * recorded by then; a filtered run that skips q_ann_indexed also
    * skips its compare, so the fallback SQL never executes).
    */
  @volatile private[graft] var lastEnsuredDir: Option[String] = None

  /** Idempotently build the index for `sfDir`'s embeddings table into
    * the JVM temp dir, once per corpus contents, so Bench's min-of-3
    * and later JVMs reuse the stored layout. Returns the index root.
    */
  def ensure(s: SparkSession, sfDir: String): String = {
    val root = ContentTag.buildOnce("graft_ann_index",
      ContentTag.of(sfDir, Seq("embeddings"))) { r =>
      build(graft.Tables(s, sfDir, "embeddings"), r, nlist = 0, trainRounds = 1)
    }
    lastEnsuredDir = Some(root)
    root
  }

  /** Most recent ensureDeleted()'d index root — the oracle side channel
    * for q_ann_index_delete, same contract as [[lastEnsuredDir]].
    */
  @volatile private[graft] var lastDeletedDir: Option[String] = None

  /** [[ensure]]'s twin for the deletion demo: its OWN index copy (the
    * shared ensure() index must stay untouched for the other probes and
    * Bench's min-of-3), built once per corpus contents, then every
    * `vec_id % 41 == 0` tombstoned via [[delete]] — a pure function of
    * the data, so the oracle re-derives the deleted set from the STORED
    * tombstones table. Returns the index root.
    */
  def ensureDeleted(s: SparkSession, sfDir: String): String = {
    val root = ContentTag.buildOnce("graft_ann_index_del",
      ContentTag.of(sfDir, Seq("embeddings"))) { r =>
      build(graft.Tables(s, sfDir, "embeddings"), r, nlist = 0, trainRounds = 1)
      delete(graft.Tables(s, sfDir, "embeddings")
        .filter(col("vec_id") % 41 === 0), r)
    }
    lastDeletedDir = Some(root)
    root
  }

  /** Most recent ensureAttrs()'d index root — the oracle side channel
    * for q_ann_filtered, same contract as [[lastEnsuredDir]].
    */
  @volatile private[graft] var lastAttrDir: Option[String] = None

  /** [[ensure]]'s twin for the FILTERED-search demo: its own index copy
    * built with `attrCols = Seq("label")` — the embeddings table's
    * metadata column stored inline in the postings rows — once per
    * corpus contents. The shared ensure() index stays untouched (its
    * postings schema is pinned by the other probes' stored-bytes
    * oracles). Returns the index root.
    */
  def ensureAttrs(s: SparkSession, sfDir: String): String = {
    val root = ContentTag.buildOnce("graft_ann_index_attr",
      ContentTag.of(sfDir, Seq("embeddings"))) { r =>
      build(graft.Tables(s, sfDir, "embeddings"), r, nlist = 0,
        trainRounds = 1, attrCols = Seq("label"))
    }
    lastAttrDir = Some(root)
    root
  }

  /** IVF-flat probe of a STORED index: two tiny index reads (meta row +
    * nlist centroids, folded into the [[TopCentroids]] literal kernel),
    * then the postings join — the corpus itself is never scanned and no
    * training job runs. With postings partitioned by cell, the join
    * against the broadcast query side dynamically prunes unprobed
    * cells' files, so disk reads scale with nprobe/nlist of the corpus.
    */
  def ivfTopK(
      queries: DataFrame, indexDir: String, k: Int, nprobe: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding",
      filter: Column = null): DataFrame = {
    val spark = queries.sparkSession
    val meta = spark.read.parquet(metaPath(indexDir)).head()
    val dim = meta.getAs[Int]("dim")
    val effNprobe = if (nprobe > 0) nprobe else meta.getAs[Int]("nprobe")
    val cents = storedCentroids(spark, indexDir)
    val flat = lit(cents.flatten.toArray)
    val post0 = livePostings(spark, indexDir)
    // metadata predicate over attrCols stored in the postings (see
    // [[build]]): applied BEFORE the probe join so it lands in the
    // pruned postings scan itself (parquet PushedFilters) — the
    // filtered-ANN post-filter design, zero extra joins
    val postings = (if (filter != null) post0.filter(filter) else post0)
      .select(col("cell"), col("n_id"), col("n_vec"))
    val q = queries.select(col(idCol).as("q_id"),
        VectorOps.toDoubleVec(col(vecCol)).as("q_vec"))
      .withColumn("cell", explode(call_function("graft_top_cells",
        col("q_vec"), flat, lit(dim), lit(effNprobe))))
    val scored = postings.join(broadcast(q), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        VectorOps.cosine(col("q_vec"), col("n_vec")).as("cos_sim"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("n_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** Guaranteed-k stored-index probe — the production answer to
    * post-filter recall collapse: a selective metadata predicate can
    * leave FEWER than k survivors in the probed cells (q_ann_filtered's
    * measured thinning), and a retrieval contract usually demands k
    * results whenever the filtered corpus has them. Two phases, both
    * lazy plan branches (no driver-side query loop):
    *   1. the normal pruned probe ([[ivfTopK]]);
    *   2. queries with fewer than k phase-1 candidates (including ZERO
    *      — absent from phase 1 entirely) re-score against the FULL
    *      filtered postings, i.e. exact search for exactly the queries
    *      that need it.
    * Deficiency is decided per query by an anti-join on the phase-1
    * counts (broadcast-sized: ≤ |queries| rows), so at 100 TB the full
    * scan is paid only for the deficient slice — at healthy
    * selectivities that is none of them, and the plan degenerates to
    * the pruned probe. Results: top-k per query with phase-1 ranking
    * kept for sufficient queries and exact ranking for deficient ones
    * (the DuckDB oracle re-derives the same two-phase rule from the
    * stored bytes).
    */
  def ivfTopKExactK(
      queries: DataFrame, indexDir: String, k: Int, nprobe: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding",
      filter: Column = null): DataFrame = {
    val spark = queries.sparkSession
    val q = queries.select(col(idCol).as("q_id"),
      VectorOps.toDoubleVec(col(vecCol)).as("q_vec"))
    val phase1 = ivfTopK(queries, indexDir, k, nprobe, idCol, vecCol, filter)
    // sufficient ⇔ the k-cap was reached (candidates ≥ k)
    val sufficient = phase1.groupBy("q_id")
      .agg(count(lit(1)).as("__nc")).filter(col("__nc") >= k)
      .select("q_id")
    val deficient = q.join(sufficient, Seq("q_id"), "left_anti")
    val post0 = livePostings(spark, indexDir)
    val postings = (if (filter != null) post0.filter(filter) else post0)
      .select(col("n_id"), col("n_vec"))
    // aggregator top-k, not a rank window: the exact rescore is the one
    // place a corpus-sized scored frame could reach an exchange, and the
    // map-capped TopKAggregator keeps the q_id shuffle at
    // O(k x partitions x |deficient|) rows (identical results and
    // tie-break — the bruteForceTopKAgg contract)
    val phase2 = VectorOps.bruteForceTopKAgg(
      deficient.select(col("q_id").as("vec_id"), col("q_vec").as("embedding")),
      postings.select(col("n_id").as("vec_id"), col("n_vec").as("embedding")),
      k)
    phase1.join(sufficient, Seq("q_id"), "left_semi").unionByName(phase2)
  }

  /** PQ-ADC probe of a STORED index: the codebook comes off the meta
    * row (no sample scan, no Lloyd), the compressed codes off postings
    * — same scoring arithmetic as [[VectorOps.pqTopK]], with the
    * training cost amortized into the one-time build. `rerank > 0`
    * re-scores the top candidates with exact cosine against the
    * postings' stored vectors (still no base-corpus scan).
    */
  def pqTopK(
      queries: DataFrame, indexDir: String, k: Int, rerank: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding",
      filter: Column = null): DataFrame = {
    val spark = queries.sparkSession
    val meta = spark.read.parquet(metaPath(indexDir)).head()
    val dsub = meta.getAs[Int]("dsub")
    val kEff = meta.getAs[Int]("ksub_eff")
    val flat = lit(meta.getAs[Seq[Double]]("flat").toArray)
    val post0 = livePostings(spark, indexDir)
    val postings = if (filter != null) post0.filter(filter) else post0
    val q = queries.select(col(idCol).as("q_id"),
        VectorOps.toDoubleVec(col(vecCol)).as("q_vec"))
      .withColumn("qtab", call_function("graft_pq_table",
        col("q_vec"), flat, lit(dsub), lit(kEff)))
    val scored = postings.select(col("n_id"), col("codes"))
      .join(broadcast(q), col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("q_vec"), col("n_id"),
        call_function("graft_pq_score", col("codes"), col("qtab"), lit(kEff))
          .as("score"))
    VectorOps.topKOrRerank(scored,
      postings.select(col("n_id"), col("n_vec")), k, rerank, "n_id", "n_vec")
  }
}
