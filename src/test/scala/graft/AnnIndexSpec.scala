package graft

import graft.functions.{AnnIndex, VectorOps}
import org.apache.spark.sql.functions._

/** Persisted ANN index ([[graft.functions.AnnIndex]]): parity of the
  * stored-index probes against the retrain-per-call operators, the
  * zero-training-jobs probe claim, and the stored layout's plan shape
  * (single postings scan, no corpus rescan).
  */
class AnnIndexSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"
  private lazy val e = Tables(spark, sfDir, "embeddings")

  // untrained build (trainRounds = 0): centroids and codebook are the
  // SAME md5-ordered sample the per-call operators derive, so the
  // stored-index probes must be row-identical to them
  private lazy val rawIdx: String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_ann_index_spec/raw"
    AnnIndex.build(e, dir, nlist = 0, trainRounds = 0)
    dir
  }

  private def canon(df: org.apache.spark.sql.DataFrame, score: String) =
    df.select(col("q_id"), col("rk"), col("n_id"), col(score))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq

  test("indexed IVF probe is row-identical to the per-call ivfTopK") {
    val q = e.filter(col("vec_id") < 50)
    val fresh = canon(VectorOps.ivfTopK(q, e, k = 5), "cos_sim")
    val stored = canon(AnnIndex.ivfTopK(q, rawIdx, k = 5), "cos_sim")
    assert(stored == fresh)
    assert(stored.nonEmpty)
  }

  test("indexed PQ probe is row-identical to the per-call pqTopK") {
    val q = e.filter(col("vec_id") < 50)
    val fresh = canon(VectorOps.pqTopK(q, e, k = 5, dsub = 8, ksub = 16), "score")
    val stored = canon(AnnIndex.pqTopK(q, rawIdx, k = 5), "score")
    assert(stored == fresh)
    assert(stored.nonEmpty)
  }

  test("indexed PQ rerank matches the per-call rerank path") {
    val q = e.filter(col("vec_id") < 3)
    val fresh = canon(
      VectorOps.pqTopK(q, e, k = 5, dsub = 8, ksub = 16, rerank = 20), "score")
    val stored = canon(AnnIndex.pqTopK(q, rawIdx, k = 5, rerank = 20), "score")
    assert(stored == fresh)
  }

  test("probe construction runs zero training jobs (index reads only)") {
    // the per-call ivfTopK fires a CORPUS-SCAN sample job (+ Lloyd
    // rounds when trained) inside every invocation; the stored-index
    // probe may only read the tiny meta row and the nlist centroids.
    // Count jobs during DataFrame CONSTRUCTION (training happens at
    // construction, not execution).
    // Pin the claim in RECORDS READ, not job count (read.parquet fires
    // tiny listing/footer jobs too): the per-call ivfTopK's sample job
    // reads the WHOLE corpus (500 rows here, the corpus at scale) at
    // construction; the stored-index probe may read only the one meta
    // row and the nlist centroid rows.
    val records = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          records.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
    }
    rawIdx // force the one-time build OUTSIDE the counted window
    // listener delivery is async: drain the bus before the window opens
    // (the build's events stay out) and before the count is read (every
    // construction job's tasks are in)
    org.apache.spark.GraftSparkBridge.drainListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = AnnIndex.ivfTopK(e.filter(col("vec_id") < 50), rawIdx, k = 5)
      df.queryExecution.executedPlan // plan fully, still no execution
      org.apache.spark.GraftSparkBridge.drainListeners(spark)
      val n = records.get()
      // nlist (16) centroids + 1 meta row, with headroom well below
      // the 500-row corpus a hidden training scan would read
      assert(n <= 64, s"probe construction read $n records — training scan?")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("probe plan scans the stored postings once and never rescans the corpus") {
    // static plan, AQE off (AdaptiveSparkPlanExec hides its input plan
    // from collect until execution — same discipline as ExplainSpec)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan =
      try AnnIndex.ivfTopK(e.filter(col("vec_id") < 50), rawIdx, k = 5)
        .queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
      p.collectWithSubqueries {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.mkString(",")
      }
    val locs = scans(plan)
    assert(locs.count(_.contains("graft_ann_index_spec/raw/postings")) == 1,
      locs.mkString("\n"))
    // the ONLY embeddings scan is the query side — the corpus data
    // comes from the index's postings, so the raw table is not rescanned
    assert(locs.count(_.contains("embeddings.parquet")) == 1,
      locs.mkString("\n"))
    // the 100 TB payoff of partitioning postings by cell: dynamic
    // partition pruning fires on the probe join, so only the probed
    // cells' FILES are read — nprobe/nlist of the corpus off disk
    val postingsScan = plan.collectWithSubqueries {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.mkString(",").contains("postings") => f
    }.head
    assert(postingsScan.partitionFilters.exists(
        _.toString.contains("dynamicpruning")),
      "postings scan lost dynamic partition pruning:\n" + postingsScan)
  }

  test("append() is probe-identical to a fresh build with the same quantizers") {
    // the production ingestion path: quantizers trained once, batches
    // appended. Build a union index (dirU), then rebuild from the first
    // 400 vectors WITH dirU's stored centroids+codebook and append the
    // remaining 100 — every probe over the appended index must be
    // row-identical to the union build (IVF and PQ alike, since both
    // share the injected quantizers).
    val base = s"${sys.props("java.io.tmpdir")}/graft_ann_index_spec"
    val dirU = s"$base/union"
    val dirA = s"$base/appended"
    AnnIndex.build(e, dirU, nlist = 0, trainRounds = 1)
    val cents = spark.read.parquet(s"$dirU/centroids")
      .orderBy("cell").select("centroid").collect().map(_.getSeq[Double](0))
    val cb = spark.read.parquet(s"$dirU/meta").head()
      .getAs[Seq[Double]]("flat").toArray
    AnnIndex.build(e.filter(col("vec_id") < 400), dirA,
      centroids = cents, codebook = cb)
    AnnIndex.append(e.filter(col("vec_id") >= 400), dirA)
    // postings hold the full corpus
    assert(spark.read.parquet(s"$dirA/postings").count() ==
      spark.read.parquet(s"$dirU/postings").count())
    val q = e.filter(col("vec_id") < 50)
    assert(canon(AnnIndex.ivfTopK(q, dirA, k = 5), "cos_sim") ==
      canon(AnnIndex.ivfTopK(q, dirU, k = 5), "cos_sim"))
    assert(canon(AnnIndex.pqTopK(q, dirA, k = 5), "score") ==
      canon(AnnIndex.pqTopK(q, dirU, k = 5), "score"))
  }

  test("filtered probe == unfiltered probe of a subset index (same quantizers)") {
    // filtered search semantics: probing with `label = 1` over an index
    // whose postings carry the attr column must equal the UNFILTERED
    // probe of an index built over only the label-1 subset with the
    // SAME stored quantizers — the predicate restricts candidates, it
    // must never change cells, scores, or ranking rules.
    val base = s"${sys.props("java.io.tmpdir")}/graft_ann_index_spec"
    val dirF = s"$base/attrs"
    val dirS = s"$base/attrs_subset"
    AnnIndex.build(e, dirF, nlist = 0, trainRounds = 1, attrCols = Seq("label"))
    val cents = spark.read.parquet(s"$dirF/centroids")
      .orderBy("cell").select("centroid").collect().map(_.getSeq[Double](0))
    val cb = spark.read.parquet(s"$dirF/meta").head()
      .getAs[Seq[Double]]("flat").toArray
    AnnIndex.build(e.filter(col("label") === 1), dirS,
      centroids = cents, codebook = cb)
    val q = e.filter(col("vec_id") < 50)
    val filtered = canon(
      AnnIndex.ivfTopK(q, dirF, k = 5, filter = col("label") === 1), "cos_sim")
    assert(filtered == canon(AnnIndex.ivfTopK(q, dirS, k = 5), "cos_sim"))
    assert(filtered.nonEmpty)
    // PQ path honors the same predicate
    val filteredPq = canon(
      AnnIndex.pqTopK(q, dirF, k = 5, filter = col("label") === 1), "score")
    assert(filteredPq == canon(AnnIndex.pqTopK(q, dirS, k = 5), "score"))
  }

  test("append to an attr index requires matching attrCols; with them, filtered probes stay exact") {
    // an append WITHOUT the index's attr columns would write posting
    // files whose label reads as NULL — silently excluding every
    // appended vector from filtered top-k results. The mismatch must
    // fail loudly, and the matched append must be probe-identical to a
    // fresh attr build over the union corpus with the same quantizers.
    val base = s"${sys.props("java.io.tmpdir")}/graft_ann_index_spec"
    val dirF = s"$base/attrs"
    val dirA = s"$base/attrs_appended"
    AnnIndex.build(e, dirF, nlist = 0, trainRounds = 1, attrCols = Seq("label"))
    val cents = spark.read.parquet(s"$dirF/centroids")
      .orderBy("cell").select("centroid").collect().map(_.getSeq[Double](0))
    val cb = spark.read.parquet(s"$dirF/meta").head()
      .getAs[Seq[Double]]("flat").toArray
    AnnIndex.build(e.filter(col("vec_id") < 400), dirA,
      centroids = cents, codebook = cb, attrCols = Seq("label"))
    val batch = e.filter(col("vec_id") >= 400)
    assert(intercept[IllegalArgumentException] {
      AnnIndex.append(batch, dirA) // default attrCols = Nil: mismatch
    }.getMessage.contains("attr columns"))
    AnnIndex.append(batch, dirA, attrCols = Seq("label"))
    val q = e.filter(col("vec_id") < 50)
    assert(
      canon(AnnIndex.ivfTopK(q, dirA, k = 5, filter = col("label") === 1), "cos_sim") ==
      canon(AnnIndex.ivfTopK(q, dirF, k = 5, filter = col("label") === 1), "cos_sim"))
  }

  test("ivfTopKExactK escalates deficient queries to exact filtered search") {
    import spark.implicits._
    // two constructed cells: cluster A (around +x) holds only 3 label-1
    // rows, cluster B (around -x) holds 10 — a +x query probing one cell
    // is DEFICIENT for k=5 and must escalate to the exact filtered
    // ranking over both cells; a -x query is sufficient and must keep
    // the plain phase-1 ranking
    val dim = 8
    def vec(x: Double, jitter: Double, i: Int): Seq[Double] =
      Seq.tabulate(dim)(d => if (d == 0) x else jitter * ((i + d) % 5 - 2) / 10.0)
    val aLab = (0 until 3).map(i => (100L + i, vec(1.0, 0.3, i), 1))
    val aBg = (0 until 20).map(i => (200L + i, vec(1.0, 0.4, i + 7), 0))
    val bLab = (0 until 10).map(i => (300L + i, vec(-1.0, 0.3, i), 1))
    val bBg = (0 until 20).map(i => (400L + i, vec(-1.0, 0.4, i + 3), 0))
    val corpus = (aLab ++ aBg ++ bLab ++ bBg).toDF("vec_id", "embedding", "label")
    val dir = s"${sys.props("java.io.tmpdir")}/graft_ann_index_spec/exactk"
    val cents: Array[Seq[Double]] = Array(
      Seq.tabulate(dim)(d => if (d == 0) 1.0 else 0.0),
      Seq.tabulate(dim)(d => if (d == 0) -1.0 else 0.0))
    AnnIndex.build(corpus, dir, centroids = cents, attrCols = Seq("label"))
    val qDef = Seq((1L, vec(1.0, 0.2, 11))).toDF("vec_id", "embedding")
    val qSuf = Seq((2L, vec(-1.0, 0.2, 13))).toDF("vec_id", "embedding")
    val got = canon(AnnIndex.ivfTopKExactK(qDef.unionByName(qSuf), dir,
      k = 5, nprobe = 1, filter = col("label") === 1), "cos_sim")
    // every query gets exactly k results even though the deficient one's
    // probed cell holds only 3 filtered candidates
    assert(got.count(_._1 == 1L) == 5)
    assert(got.count(_._1 == 2L) == 5)
    // deficient query == exact filtered brute force
    val brute = canon(VectorOps.bruteForceTopK(
      qDef, corpus.filter(col("label") === 1), k = 5), "cos_sim")
    assert(got.filter(_._1 == 1L) == brute)
    // sufficient query == the plain phase-1 filtered probe
    val p1 = canon(AnnIndex.ivfTopK(qSuf, dir, k = 5, nprobe = 1,
      filter = col("label") === 1), "cos_sim")
    assert(got.filter(_._1 == 2L) == p1)
    // and the deficient one REALLY was deficient in phase 1
    assert(canon(AnnIndex.ivfTopK(qDef, dir, k = 5, nprobe = 1,
      filter = col("label") === 1), "cos_sim").size < 5)
  }

  test("filtered probe pushes the attr predicate into the postings scan") {
    // the 100 TB point of storing attrs inline: the metadata predicate
    // reaches the pruned postings scan as a parquet pushed filter (row
    // groups whose label stats miss are skipped) — not a post-join
    // Filter over re-fetched corpus metadata.
    val base = s"${sys.props("java.io.tmpdir")}/graft_ann_index_spec"
    val dirF = s"$base/attrs"
    AnnIndex.build(e, dirF, nlist = 0, trainRounds = 1, attrCols = Seq("label"))
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan =
      try AnnIndex.ivfTopK(e.filter(col("vec_id") < 50), dirF, k = 5,
          filter = col("label") === 1).queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    val postingsScan = plan.collectWithSubqueries {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.mkString(",").contains("/attrs/postings") => f
    }.head
    assert(postingsScan.metadata("PushedFilters").contains("EqualTo(label,1)"),
      "label predicate missing from PushedFilters:\n" + postingsScan.metadata("PushedFilters"))
  }

  test("streaming probe (annTopKStream) matches the batch probe per query") {
    // the retrieval-service shape: query vectors arrive as a stream and
    // probe the STORED index; the per-query top-k is a streaming
    // aggregation over the k-capped typed aggregator (update mode), so
    // it stays incrementally evaluable where the batch rank window is
    // not. Content must equal the batch probe for the same queries —
    // including across micro-batches (the second batch adds new
    // queries; the first batch's rows just re-emit unchanged state).
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val qRows = e.filter(col("vec_id") < 6)
      .select(col("vec_id"), VectorOps.toDoubleVec(col("embedding")))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val mem = MemoryStream[(Long, Seq[Double])]
    val stream = mem.toDF().toDF("vec_id", "embedding")
    val out = graft.streaming.StreamingOps.annTopKStream(stream, rawIdx, k = 5)
    val q = out.writeStream.format("memory").queryName("ann_topk_stream")
      .outputMode("update").start()
    try {
      mem.addData(qRows.take(3).toSeq: _*)
      q.processAllAvailable()
      mem.addData(qRows.drop(3).toSeq: _*)
      q.processAllAvailable()
      // update mode re-emits refreshed rows; keep the LAST row per q_id
      val got = spark.table("ann_topk_stream").collect()
        .map(r => (r.getLong(0), r.getSeq[org.apache.spark.sql.Row](1)
          .map(s => (s.getDouble(0), s.getLong(1)))))
        .groupBy(_._1).map { case (k0, vs) => (k0, vs.last._2) }
      val batch = canon(AnnIndex.ivfTopK(
        e.filter(col("vec_id") < 6), rawIdx, k = 5), "cos_sim")
        .groupBy(_._1).map { case (k0, vs) =>
          (k0, vs.sortBy(_._2).map(v => (v._4, v._3)).toSeq) }
      assert(got.keySet == batch.keySet)
      got.foreach { case (qid, top) =>
        assert(top.toSeq == batch(qid).toSeq, s"q_id $qid")
      }
    } finally q.stop()
  }

  test("delete() hides tombstoned ids; vacuum() reclaims with identical probes") {
    import spark.implicits._
    val dir = s"${sys.props("java.io.tmpdir")}/graft_ann_index_spec/del"
    AnnIndex.build(e, dir, nlist = 0, trainRounds = 0)
    val q = e.filter(col("vec_id") < 20)
    // delete ids that provably appear in the pre-delete top-k, so the
    // test can't pass vacuously
    val preIvf = canon(AnnIndex.ivfTopK(q, dir, k = 5), "cos_sim")
    val victims = preIvf.map(_._3).distinct.take(5)
    assert(victims.nonEmpty)
    AnnIndex.delete(victims.toDF("vec_id"), dir)
    val postIvf = canon(AnnIndex.ivfTopK(q, dir, k = 5), "cos_sim")
    val postPq = canon(AnnIndex.pqTopK(q, dir, k = 5), "score")
    assert(postIvf.nonEmpty && postPq.nonEmpty)
    assert(!postIvf.exists(r => victims.contains(r._3)))
    assert(!postPq.exists(r => victims.contains(r._3)))
    assert(postIvf != preIvf) // the victims' slots re-filled, not frozen
    // vacuum physically removes exactly the tombstoned rows that exist
    // in postings, clears the tombstones, and changes NO probe result
    val before = spark.read.parquet(s"$dir/postings").count()
    val removed = AnnIndex.vacuum(spark, dir)
    assert(removed == victims.length)
    assert(spark.read.parquet(s"$dir/postings").count() == before - removed)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/tombstones")))
    assert(canon(AnnIndex.ivfTopK(q, dir, k = 5), "cos_sim") == postIvf)
    assert(canon(AnnIndex.pqTopK(q, dir, k = 5), "score") == postPq)
    // idempotent: nothing left to reclaim
    assert(AnnIndex.vacuum(spark, dir) == 0L)
    // deleting an id the index never held is harmless
    AnnIndex.delete(Seq(Long.MaxValue).toDF("vec_id"), dir)
    assert(canon(AnnIndex.ivfTopK(q, dir, k = 5), "cos_sim") == postIvf)
    assert(AnnIndex.vacuum(spark, dir) == 0L)
  }

  test("compactPostings merges append-fragmented cells, probes unchanged") {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_ann_index_spec/cpct"
    // quantizers trained on the full corpus, postings built from a third
    // of it, then two appends — every touched cell now holds >= 2 files
    AnnIndex.build(e, dir, nlist = 0, trainRounds = 0)
    AnnIndex.vacuum(spark, dir) // no-op, just proves composability
    AnnIndex.append(e.filter(col("vec_id") >= 300 && col("vec_id") < 400), dir)
    AnnIndex.append(e.filter(col("vec_id") >= 400), dir)
    def files = {
      val st = java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"$dir/postings"))
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.filter(p =>
          java.nio.file.Files.isRegularFile(p) &&
            p.getFileName.toString.endsWith(".parquet")).toVector
      } finally st.close()
    }
    val q = e.filter(col("vec_id") < 10)
    val before = canon(AnnIndex.ivfTopK(q, dir, k = 5), "cos_sim")
    val fragFiles = files
    val cells = fragFiles.map(_.getParent).distinct.length
    assert(fragFiles.length > cells, "appends should have fragmented cells")
    val reclaimed = AnnIndex.compactPostings(spark, dir)
    val compacted = files
    assert(reclaimed == fragFiles.length - compacted.length && reclaimed > 0)
    // one file per cell, same cells, identical probe
    assert(compacted.length == cells)
    assert(compacted.map(_.getParent).distinct.length == cells)
    assert(canon(AnnIndex.ivfTopK(q, dir, k = 5), "cos_sim") == before)
    // already compact: nothing further to reclaim
    assert(AnnIndex.compactPostings(spark, dir) == 0L)
  }

  test("retrain -> drift -> reassign: the quantizer-cadence repair cycle") {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_ann_index_spec/drift"
    AnnIndex.build(e, dir, nlist = 0, trainRounds = 0)
    def drifted = AnnIndex.driftStats(spark, dir)
      .agg(sum(col("n_rows")), sum(col("n_misassigned"))).head()
    // fresh build: every row sits in its nearest cell by construction
    assert(drifted.getLong(1) == 0L)
    // retrain moves the centroid field; postings keep stale assignments
    AnnIndex.retrainCentroids(spark, dir, rounds = 2)
    val afterRetrain = drifted
    assert(afterRetrain.getLong(1) > 0L,
      "2 Lloyd rounds over sample-seeded cells should reassign something")
    // reassignment repairs: zero drift, and the index is probe-identical
    // to a fresh build over the same corpus with the SAME (retrained)
    // quantizers
    val cents = spark.read.parquet(s"$dir/centroids")
      .orderBy("cell").select("centroid").collect().map(_.getSeq[Double](0))
    val cb = spark.read.parquet(s"$dir/meta").head()
      .getAs[Seq[Double]]("flat").toArray
    AnnIndex.reassignPostings(spark, dir)
    assert(drifted.getLong(1) == 0L)
    assert(drifted.getLong(0) == afterRetrain.getLong(0), "no rows lost")
    val fresh = s"${sys.props("java.io.tmpdir")}/graft_ann_index_spec/drift_fresh"
    AnnIndex.build(e, fresh, centroids = cents, codebook = cb)
    val q = e.filter(col("vec_id") < 10)
    assert(canon(AnnIndex.ivfTopK(q, dir, k = 5), "cos_sim") ==
      canon(AnnIndex.ivfTopK(q, fresh, k = 5), "cos_sim"))
    assert(canon(AnnIndex.pqTopK(q, dir, k = 5), "score") ==
      canon(AnnIndex.pqTopK(q, fresh, k = 5), "score"))
  }

  test("vacuum's delete-then-crash window recovers; unmarked staging refuses") {
    import spark.implicits._
    // fresh dir per run: this test deliberately ENDS in the refuse state
    // (unmarked staging), which a shared path would carry into the next
    // suite run's build
    val dir = java.nio.file.Files
      .createTempDirectory("graft_annidx_crash").toString
    AnnIndex.build(e, dir, nlist = 0, trainRounds = 0)
    val q = e.filter(col("vec_id") < 10)
    val want = canon(AnnIndex.ivfTopK(q, dir, k = 5), "cos_sim")
    // simulate: staged rewrite complete (marker present), postings
    // deleted, crash before the move — the exact delete-then-crash state
    val postings = java.nio.file.Paths.get(s"$dir/postings")
    val staged = java.nio.file.Paths.get(s"$dir/postings_staged")
    java.nio.file.Files.move(postings, staged)
    java.nio.file.Files.createFile(
      staged.resolve(graft.ops.CoreOps.CommitMarker))
    // the next probe finishes the swap and reads the recovered postings
    assert(canon(AnnIndex.ivfTopK(q, dir, k = 5), "cos_sim") == want)
    assert(java.nio.file.Files.exists(postings) &&
      !java.nio.file.Files.exists(staged))
    // rename-aside mid-state: postings renamed to postings_old, staging
    // incomplete (crash during the staged write of the NEXT maintenance
    // run) — recovery restores the old copy verbatim
    val old = java.nio.file.Paths.get(s"$dir/postings_old")
    java.nio.file.Files.move(postings, old)
    assert(canon(AnnIndex.ivfTopK(q, dir, k = 5), "cos_sim") == want)
    assert(java.nio.file.Files.exists(postings) &&
      !java.nio.file.Files.exists(old))
    // unmarked staging + missing postings + no old copy = unrecoverable:
    // loud failure, nothing touched (the write's own _SUCCESS must go
    // too — either marker is accepted as completeness evidence, like
    // CoreOps.upsert)
    java.nio.file.Files.move(postings, staged)
    java.nio.file.Files.delete(
      staged.resolve(graft.ops.CoreOps.CommitMarker))
    java.nio.file.Files.deleteIfExists(staged.resolve("_SUCCESS"))
    val ex = intercept[IllegalArgumentException] {
      AnnIndex.vacuum(spark, dir)
    }
    assert(ex.getMessage.contains("manual inspection"))
    assert(java.nio.file.Files.exists(staged))
  }

  test("vacuum refuses to leave an empty (unreadable) index behind") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_annidx_purge").toString
    AnnIndex.build(e.filter(col("vec_id") < 40), dir, nlist = 0, trainRounds = 0)
    AnnIndex.delete(e.filter(col("vec_id") < 40).select("vec_id"), dir)
    val ex = intercept[IllegalStateException] { AnnIndex.vacuum(spark, dir) }
    assert(ex.getMessage.contains("drop the index directory"))
    // the live postings are untouched and still probe correctly (minus
    // the tombstoned rows, i.e. empty results — but readable plans)
    assert(spark.read.parquet(s"$dir/postings").count() == 40)
  }

  test("build() meta describes the INJECTED centroids, not the auto-sizing") {
    // an explicit quantizer of a different cardinality than the
    // auto-derived nlist: the stored nlist/nprobe must describe the
    // cells actually assigned, or a default probe reads
    // nprobe-of-the-wrong-nlist cells
    val dir = java.nio.file.Files
      .createTempDirectory("graft_annidx_meta").toString
    val cents64 = (0 until 64).map(i =>
      Seq.tabulate(64)(d => (i * 64 + d) / 4096.0)).toArray
    val cb = spark.read.parquet(s"$rawIdx/meta").head()
      .getAs[Seq[Double]]("flat").toArray
    AnnIndex.build(e, dir, centroids = cents64, codebook = cb)
    val meta = spark.read.parquet(s"$dir/meta").head()
    assert(meta.getAs[Int]("nlist") == 64)
    assert(meta.getAs[Int]("nprobe") == 8) // max(4, 64/8)
    // and the postings really span the injected cell domain
    val cells = spark.read.parquet(s"$dir/postings")
      .select("cell").distinct().collect().map(_.getInt(0))
    assert(cells.forall(c => c >= 0 && c < 64))
  }

  test("ensure() is content-keyed: corpus rewrite mints a new index") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx_ensure").toString
    def write(n: Int): Unit =
      (0 until n).map(i => (i.toLong, Seq.fill(64)(i / 100.0 + 0.1)))
        .toDF("vec_id", "embedding")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    write(40)
    val first = AnnIndex.ensure(spark, dir)
    assert(AnnIndex.ensure(spark, dir) == first) // idempotent
    write(60) // rewrite: new fingerprint
    val second = AnnIndex.ensure(spark, dir)
    assert(second != first, "rewritten corpus must not serve the stale index")
  }
}
