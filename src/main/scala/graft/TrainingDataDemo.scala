package graft

import graft.functions.TextOps
import graft.operators.{DedupOps, GraphOps}
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The LLM-training-data pipeline end-to-end, as one job over the
  * `documents` table — the composition every individual operator in
  * `queries.TextQueries` exists to serve:
  *
  *   robust JSONL ingestion (permissive parse, malformed lines
  *     quarantined — IngestOps, the corpus's actual front door)
  *     → quality admission (lang-ID + quality score + length bounds)
  *     → exact dedup (windowed keep-first on the content hash)
  *     → near-dedup (n-gram Jaccard pairs → connected-component clusters
  *       → drop non-canonical members)
  *     → benchmark decontamination (exact 8-token-span overlap with the
  *       eval suite, broadcast-probed — see q_decontaminate)
  *     → deterministic train/heldout split (md5 hash sampling)
  *     → fixed-width chunk packing
  *     → partitioned parquet layout (split column = partition dir, so
  *       training readers scan only their split)
  *     → per-split small-file compaction (LayoutOps.compactFiles on
  *       each leaf — the maintenance pass that keeps reader file counts
  *       proportional to bytes, not to write parallelism).
  *
  * Stage attrition is measured with `Observation`s inside the jobs — no
  * extra counting passes. Pipeline order is the one ScaleSmoke measured:
  * cheap per-row predicates first, exact dedup before any pairwise
  * similarity (clone floods make LSH/Jaccard quadratic), pair generation
  * only on admitted survivors.
  *
  * Usage: runMain graft.TrainingDataDemo [sfDir] [outDir]
  */
object TrainingDataDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_training_demo"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val stats = run(spark, sfDir, outDir)
    println(stats.map { case (k, v) => s"$k=$v" }.mkString("[demo] ", " ", ""))
    spark.stop()
  }

  /** Runs the pipeline; returns stage-attrition counters. */
  def run(spark: SparkSession, sfDir: String, outDir: String): Seq[(String, Long)] = {
    // 0. robust ingestion — the actual front door: the corpus arrives
    // as JSONL lines (derived from documents.parquet, with the %37
    // corruption modeling transport damage), parses permissively, and
    // QUARANTINES malformed lines instead of failing the job or
    // silently dropping them (ops.IngestOps). localCheckpoint
    // materializes the one-pass parse: the clean/quarantine split and
    // every downstream counter read the parsed rows, not the raw files
    // (which also keeps corrupt-column-only pruning off the scan).
    val parsed = graft.ops.IngestOps.readJsonlQuarantine(
      spark, graft.ops.IngestOps.ensureJsonl(spark, sfDir)).localCheckpoint()
    val quarantined = parsed.filter(col("_corrupt_record").isNotNull)
    val docs = parsed.filter(col("_corrupt_record").isNull)
      .drop("_corrupt_record")

    // 1. quality admission — the shared stage-1 gates (one definition
    // for batch and streaming, TextOps.admissionGates): language,
    // quality, length, repetition. Pure column predicates, one scan.
    val admitted = TextOps.admissionGates(docs)

    // 2. exact dedup — one shuffle on the content hash. Materialized
    // once: three consumers (pair generation, the anti-join, and the
    // attrition count) would otherwise each re-run the scan+window.
    val exactDeduped = DedupOps.exactDedup(admitted, "doc_id", "text").localCheckpoint()

    // 3. near-dedup — pairs on survivors only, clusters, drop losers.
    // Plain builder is the right call HERE: the input is already
    // exact-deduped (every text distinct), so the clone collapse would
    // be a guaranteed no-op probe, and maxDocFreq (not offered with
    // collapse) prunes stop-shingles instead.
    val pairs = DedupOps.ngramJaccardPairs(
      exactDeduped, "doc_id", "text", threshold = 0.6, n = 3,
      maxDocFreq = Some(1000))
    val losers = GraphOps.dupClusters(pairs)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as("doc_id"))
    val deduped = exactDeduped.join(losers, Seq("doc_id"), "left_anti")

    // 3b. benchmark decontamination — drop any surviving doc sharing an
    // exact 8-token span with the eval suite (stand-in: doc_id % 50 ==
    // 0; eval docs of >= 8 tokens also remove THEMSELVES via
    // self-overlap — a shorter eval doc produces no span hashes and
    // must be excluded by an explicit id filter if that matters).
    // The benchmark span hashes broadcast; the corpus side probes
    // map-side and never shuffles (same shape as q_decontaminate).
    def spans(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
      explode(call_function("graft_shingle_hashes",
        TextOps.tokens(col("text")), lit(8), lit(42L))).as("h"))
    val benchSpans = spans(docs.filter(col("doc_id") % 50 === 0))
      .select("h").distinct()
    val contaminated = spans(deduped)
      .join(broadcast(benchSpans), Seq("h"), "left_semi")
      .select("doc_id").distinct()
    val clean = deduped.join(contaminated, Seq("doc_id"), "left_anti")

    // 4. deterministic split: ~7/8 train, ~1/8 heldout (md5 prefix)
    val split = clean.withColumn("split",
      when(graft.ops.CoreOps.hashSample(col("doc_id"), lit("d")), "train")
        .otherwise("heldout"))

    // 5. chunk packing + partitioned layout
    val obs = new Observation("demo")
    val w = 512
    val chunks = split
      .select(col("doc_id"), col("split"),
        posexplode(TextOps.chunks(col("text"), w)))
      .withColumnsRenamed(Map("pos" -> "chunk_idx", "col" -> "chunk"))
      .observe(obs,
        count(lit(1)).as("n_chunks"),
        // CollectMetrics forbids distinct aggs; chunk 0 marks each doc once
        sum(when(col("chunk_idx") === 0, 1L).otherwise(0L)).as("n_docs_out"),
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train_chunks"))
    chunks.write.mode("overwrite").partitionBy("split").parquet(outDir)

    // 6. layout maintenance — compact each split's leaf dir (the
    // per-partition unit LayoutOps.compactFiles documents) so training
    // readers open ~targetFileBytes files, not one file per write task;
    // CoreOps.commitSwap moves the compacted copy in without deleting
    // the only complete leaf first
    val reclaimed = Seq("train", "heldout").map { s =>
      val leaf = s"$outDir/split=$s"
      if (new java.io.File(leaf).exists()) {
        val (live, staged, old) = graft.ops.CoreOps.siblings(leaf)
        val st = graft.ops.LayoutOps.compactFiles(
          spark, leaf, staged.toString, 128L << 20)
        graft.ops.CoreOps.commitSwap(graft.ops.CoreOps.fsOf(spark, leaf),
          live, staged, old, "TrainingDataDemo")
        st.filesIn - st.filesOut
      } else 0
    }.sum

    val m = obs.get
    Seq(
      "lines_in" -> parsed.count(),
      // plain count is fine here: parsed is checkpointed, so this reads
      // materialized rows, not a corrupt-column-only file scan
      "quarantined" -> quarantined.count(),
      "docs_in" -> docs.count(),
      "admitted" -> admitted.count(),
      "exact_deduped" -> exactDeduped.count(),
      "near_deduped" -> deduped.count(),
      "decontaminated" -> clean.count(),
      "docs_out" -> m("n_docs_out").asInstanceOf[Long],
      "chunks" -> m("n_chunks").asInstanceOf[Long],
      "train_chunks" -> m("n_train_chunks").asInstanceOf[Long],
      "files_reclaimed" -> reclaimed.toLong)
  }
}
