package graft.functions

import graft.queries.GridSum
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Vector similarity over embedding columns (`array<float>`).
  *
  * Scalar math is pure higher-order-function column expressions
  * (`zip_with` + `aggregate`) — codegen-friendly, no UDF, no serialization
  * cliff. The sequential left fold in [[dot]] also makes the double
  * summation order deterministic, which the DuckDB oracle reproduces.
  *
  * Search operators, cheapest-exact to most-compressed:
  *  - [[bruteForceTopK]] / [[bruteForceTopKAgg]]: exact, broadcast the
  *    (small) query set against the corpus — the right plan whenever
  *    |queries| is broadcastable, at any corpus size (narrow scan, no
  *    shuffle on the corpus side); the Agg form caps shuffle rows at
  *    k per (query, partition).
  *  - [[lshTopK]]: random-hyperplane LSH — candidates only join within
  *    a sign-signature bucket; per-bucket fan-in tunable via `bits`.
  *  - [[ivfTopK]]: centroid cells prune WHICH rows are scanned
  *    (nprobe of nlist).
  *  - [[bqTopK]]: 1-bit/dim signatures — Hamming candidate pass over an
  *    8-byte projection, exact rerank.
  *  - [[pqTopK]] / [[ivfPqTopK]]: product quantization compresses WHAT a
  *    scanned row costs (table adds, no vector math); IVF+PQ composes
  *    both prunings, the FAISS architecture as one Spark plan.
  * All tiers are deterministic end to end and oracle-checked.
  */
object VectorOps {

  def toDoubleVec(c: Column): Column = c.cast(ArrayType(DoubleType))

  /** Dot product via the native codegen'd expression (graft_dot,
    * [[DotProduct]]); requires `GraftFunctions.register(spark)` — done
    * by Tables, the engine mains, and SparkSpec. Sequential left-fold
    * summation order, bit-identical to [[dotHof]].
    */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Higher-order-function fallback (no registration needed) — same
    * result, interpreted per row; kept for parity testing.
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Fused single-pass cosine ([[CosineSimilarity]], codegen'd). */
  def cosine(a: Column, b: Column): Column = call_function("graft_cosine", a, b)

  /** Exact top-k cosine neighbors for each query vector.
    *
    * Plan: broadcast nested-loop join (query side must be small — it is
    * hint-broadcast), cosine scored in codegen, then per-query top-k via
    * `row_number` over (score desc, id) — ties broken deterministically.
    * The corpus is scanned once with only (id, vec) columns read.
    */
  /** SQL table-valued surface, registered as `graft_ann` (same
    * injection path as `graft_asof` / `graft_dedup`):
    *
    * {{{
    * SELECT q_id, rk, n_id, cos_sim
    * FROM graft_ann('queries_view', 'corpus_view', '5'[, 'brute'|'ivf'
    *                [, 'vec_id'[, 'embedding']]])
    * -- persisted-index probes: the second argument is the INDEX
    * -- DIRECTORY written by AnnIndex.build / VectorOps.buildIvfIndex
    * SELECT * FROM graft_ann('queries_view', '/path/to/index', '5', 'indexed')
    * SELECT * FROM graft_ann('queries_view', '/path/to/index', '5', 'indexed_pq')
    * -- guaranteed-k filtered probe (ivfTopKExactK): deficient queries
    * -- escalate to an exact rescore of the filtered postings
    * SELECT * FROM graft_ann('queries_view', '/path/to/index', '5',
    *                         'guaranteed_k', 'vec_id', 'embedding',
    *                         'label = 1', '1')
    * }}}
    *
    * 'brute' (default) is the exact window-ranked scan; 'ivf' the
    * cell-probed sublinear path (auto-sized nlist/nprobe); 'indexed' /
    * 'indexed_pq' probe a STORED [[AnnIndex]] (zero training jobs —
    * the second argument names the index directory, not a table);
    * 'guaranteed_k' (alias 'exact_k') is the stored-index probe under
    * the k-whenever-the-filtered-corpus-has-them retrieval contract.
    * Trailing arguments optional ('nprobe' overrides the stored probe
    * width for the cell-probing stored-index modes); every mode emits
    * (q_id, n_id, cos_sim/score, rk), so SQL users reach the whole ANN
    * tier — including the persisted index — without the DataFrame API.
    */
  def sqlBuilder(
      es: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    def strLit(i: Int, what: String): String =
      graft.plans.TvfArgs.strLit("graft_ann", es)(i, what)
    if (es.size < 3 || es.size > 8)
      throw new IllegalArgumentException(
        "graft_ann(queries, corpus_or_index_dir, k[, " +
          "'brute'|'ivf'|'indexed'|'indexed_pq'|'guaranteed_k'[, " +
          "id_col[, vec_col[, filter_sql[, nprobe]]]]])")
    val spark = org.apache.spark.sql.SparkSession.active
    val queries = spark.table(strLit(0, "queries table name"))
    // ANALYSIS-TIME rejection (the graft_asof Merge-rejection pattern):
    // every mode ends in a per-query rank window and broadcasts one
    // side — neither is streamable in either direction. Fail here with
    // the streaming alternative instead of at stream start.
    if (queries.isStreaming)
      throw new UnsupportedOperationException(
        "graft_ann: the queries table is a stream — the rank-window " +
          "top-k is not incrementally evaluable. For streaming query " +
          "vectors over a PERSISTED index use StreamingOps.annTopKStream " +
          "(stream-static postings probe, aggregator-capped top-k); for " +
          "streaming candidate generation without an index use " +
          "StreamingOps.lshCandidatesStream (stream-static LSH buckets)")
    val second = strLit(1, "corpus table name / index dir")
    val k = strLit(2, "k").toInt
    val idCol = if (es.size > 4) strLit(4, "id_col") else "vec_id"
    val vecCol = if (es.size > 5) strLit(5, "vec_col") else "embedding"
    def corpus = {
      val c = spark.table(second)
      if (c.isStreaming)
        throw new UnsupportedOperationException(
          "graft_ann: the corpus table is a stream — top-k ranking over " +
            "a stream is not incrementally evaluable. For streaming " +
            "candidate generation use StreamingOps.lshCandidatesStream " +
            "(stream-static LSH buckets)")
      c
    }
    // metadata predicate over the index's stored attr columns (see
    // AnnIndex.build attrCols) — parsed from SQL text, evaluated inside
    // the pruned postings scan. Only the stored-index modes carry attrs.
    val filterSql = if (es.size > 6) strLit(6, "filter_sql") else ""
    val filt: org.apache.spark.sql.Column =
      if (filterSql.nonEmpty) expr(filterSql) else null
    val mode = if (es.size > 3) strLit(3, "mode") else "brute"
    val storedIndexModes = Set("indexed", "indexed_pq", "guaranteed_k", "exact_k")
    if (filt != null && !storedIndexModes(mode))
      throw new IllegalArgumentException(
        "graft_ann: filter_sql applies to the stored-index modes " +
          "('indexed'|'indexed_pq'|'guaranteed_k') whose postings carry " +
          s"attr columns; mode '$mode' has no stored attrs — filter the " +
          "corpus table in SQL instead")
    // probe width override (0 = the index meta's stored default); only
    // the cell-probing stored-index modes have a probe width to set
    val nprobe = if (es.size > 7) strLit(7, "nprobe").toInt else 0
    if (nprobe != 0 && mode != "indexed" && mode != "guaranteed_k" &&
        mode != "exact_k")
      throw new IllegalArgumentException(
        s"graft_ann: nprobe applies to the cell-probing stored-index " +
          s"modes ('indexed'|'guaranteed_k'); mode '$mode' has no probe " +
          "width")
    val out = mode match {
      case "" | "brute" => bruteForceTopK(queries, corpus, k, idCol, vecCol)
      case "ivf" => ivfTopK(queries, corpus, k, idCol = idCol, vecCol = vecCol)
      case "indexed" =>
        AnnIndex.ivfTopK(queries, second, k, nprobe = nprobe, idCol = idCol,
          vecCol = vecCol, filter = filt)
      case "indexed_pq" =>
        AnnIndex.pqTopK(queries, second, k, idCol = idCol, vecCol = vecCol,
          filter = filt)
      // the guaranteed-k filtered probe (AnnIndex.ivfTopKExactK): the
      // SQL spelling of the retrieval contract "k results whenever the
      // filtered corpus has them" — selective predicates no longer
      // silently return < k ('exact_k' accepted as an alias)
      case "guaranteed_k" | "exact_k" =>
        AnnIndex.ivfTopKExactK(queries, second, k, nprobe = nprobe,
          idCol = idCol, vecCol = vecCol, filter = filt)
      case m => throw new IllegalArgumentException(
        s"graft_ann: mode must be brute|ivf|indexed|indexed_pq|" +
          s"guaranteed_k, got '$m'")
    }
    out.queryExecution.analyzed
  }

  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), toDoubleVec(col(vecCol)).as("q_vec"))
    val c = corpus.select(col(idCol).as("n_id"), toDoubleVec(col(vecCol)).as("n_vec"))
    val scored = c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), cosine(col("q_vec"), col("n_vec")).as("cos_sim"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("n_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** bruteForceTopK with the reduction done by [[TopKAggregator]] instead
    * of a window: partial aggregation caps each map task's contribution
    * at k rows per query, so the shuffle carries O(k · partitions ·
    * |queries|) rows instead of |corpus| · |queries| — the form to use
    * when the scored candidate set is huge. Results identical to
    * [[bruteForceTopK]] (same tie-break).
    */
  def bruteForceTopKAgg(
      queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), toDoubleVec(col(vecCol)).as("q_vec"))
    val c = corpus.select(col(idCol).as("n_id"), toDoubleVec(col(vecCol)).as("n_vec"))
    c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), cosine(col("q_vec"), col("n_vec")).as("cos_sim"))
      .groupBy(col("q_id"))
      .agg(TopKAggregator.topK(k, col("cos_sim"), col("n_id")).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).as("rk"),
        col("col.id").as("n_id"), col("col.score").as("cos_sim"))
  }

  /** Hard-negative mining for contrastive training: for each anchor, the
    * top-k most-similar corpus vectors with a DIFFERENT label — close in
    * embedding space but wrong under supervision, the negatives that
    * actually move a contrastive loss (random negatives are mostly too
    * easy to inform the gradient). Same plan as [[bruteForceTopK]]:
    * anchors broadcast, corpus scanned once with no shuffle, only scored
    * label-mismatch pairs reach the per-anchor top-k window.
    */
  def hardNegatives(
      queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"),
      toDoubleVec(col(vecCol)).as("q_vec"), col(labelCol).as("q_label"))
    val c = corpus.select(col(idCol).as("n_id"),
      toDoubleVec(col(vecCol)).as("n_vec"), col(labelCol).as("n_label"))
    val scored = c.join(broadcast(q), col("q_label") =!= col("n_label"))
      .select(col("q_id"), col("n_id"), col("n_label"),
        cosine(col("q_vec"), col("n_vec")).as("cos_sim"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("n_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** Deterministic random hyperplane coefficients (seeded), plane p dim d
    * ~ U(-1, 1). Exposed so an external oracle (DuckDB SQL) can embed the
    * SAME plane literals and reproduce bucket signatures exactly.
    */
  private[graft] def planeCoeffs(bits: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(bits)((0 until dim).map(_ => rnd.nextDouble() * 2 - 1))
  }

  /** [[planeCoeffs]] as literal array columns, constant-folded by Catalyst. */
  private def planes(bits: Int, dim: Int, seed: Long): Seq[Column] =
    planeCoeffs(bits, dim, seed).map(p => array(p.map(lit): _*))

  /** Sign-bit signature of `vec` against `bits` hyperplanes, packed into
    * one long — the LSH bucket id.
    */
  def hyperplaneSignature(vec: Column, bits: Int, dim: Int, seed: Long = 42L): Column =
    planes(bits, dim, seed).zipWithIndex.map { case (p, i) =>
      when(dot(vec, p) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** (sim, cell) struct array of `vec` against every centroid, with the
    * row's self-norm hoisted to the caller-supplied `vnorm` alias and
    * centroid norms driver-precomputed as literals — ~1/3 less work than
    * k fused cosines per row. INVARIANT (relied on by the q_kmeans_iter
    * oracle): ascending-index folds and sqrt x sqrt-then-divide operand
    * order exactly match `graft_cosine`, so sims are bit-identical to
    * the fused form. `negate` flips the sign (argmin-by-struct-min
    * callers) without a second copy of this arithmetic.
    */
  private def centroidSims(
      centroids: Array[Seq[Double]], vec: Column, vnorm: Column,
      negate: Boolean): Column = {
    val norms = centroids.map(c => math.sqrt(c.map(x => x * x).sum))
    array(centroids.zipWithIndex.toIndexedSeq.map { case (c, i) =>
      val sim = dot(vec, array(c.map(lit): _*)) / (vnorm * lit(norms(i)))
      struct((if (negate) -sim else sim).as(if (negate) "nsim" else "sim"),
        lit(i).as("cell"))
    }: _*)
  }

  /** Auto-sizing cap: centroids travel as ONE flat array literal (a few
    * MB at worst), but the per-row assignment kernel is O(nlist · dim) —
    * past a few thousand cells you want a coarse-quantizer tier instead.
    * Explicit `nlist` is uncapped (the caller knows their corpus).
    */
  private val MaxAutoNlist = 4096

  /** md5-ordered coarse-centroid sample (engine-portable — the oracle
    * re-derives it in SQL, like kMeansInit) with auto `nlist` sizing:
    * the sample job must scan the corpus anyway (TakeOrdered), so the
    * exact row count rides the SAME job as an `Observation` — no
    * separate count() pass. Expects `c0` with columns (n_id, n_vec).
    */
  private[graft] def coarseSample(c0: DataFrame, nlist: Int): (Int, Array[Seq[Double]]) = {
    val sampleOrder = Seq(md5(col("n_id").cast(StringType)), col("n_id"))
    if (nlist > 0)
      (nlist, c0.orderBy(sampleOrder: _*).limit(nlist).collect().map(_.getSeq[Double](1)))
    else {
      val obs = new org.apache.spark.sql.Observation
      val sampled = c0.observe(obs, count(lit(1)).as("n"))
        .orderBy(sampleOrder: _*).limit(MaxAutoNlist)
        .collect().map(_.getSeq[Double](1))
      val total = obs.get("n").asInstanceOf[Long]
      (math.min(MaxAutoNlist, math.max(16, math.ceil(total / 256.0).toInt)), sampled)
    }
  }

  /** Per-query top-k over an ADC-`score`d candidate frame (q_id, q_vec,
    * n_id, score); `rerank > 0` re-scores the top `rerank` candidates
    * with EXACT cosine against the raw vectors first (only the candidate
    * sliver is ever decoded) — shared by [[pqTopK]] and [[ivfPqTopK]].
    */
  private[functions] def topKOrRerank(
      scored: DataFrame, corpus: DataFrame, k: Int, rerank: Int,
      idCol: String, vecCol: String): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id"))
    if (rerank <= 0)
      scored.drop("q_vec")
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
    else {
      val cands = scored.withColumn("rk0", row_number().over(w))
        .filter(col("rk0") <= math.max(rerank, k)).drop("rk0", "score")
      val raw = corpus.select(col(idCol).as("n_id"), toDoubleVec(col(vecCol)).as("n_vec"))
      val exact = cands.join(raw, Seq("n_id"))
        .select(col("q_id"), col("n_id"), cosine(col("q_vec"), col("n_vec")).as("score"))
      val w2 = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id"))
      exact.withColumn("rk", row_number().over(w2)).filter(col("rk") <= k)
    }
  }

  /** IVF-flat ANN: the corpus is partitioned into `nlist` cells by
    * nearest centroid; each query probes its `nprobe` closest cells.
    *
    * Centroids are a deterministic hash-ordered sample of the corpus
    * (k-means init; `trainRounds > 0` swaps in Lloyd-trained centroids
    * from [[kMeansCentroids]] — tighter cells, same plan shape). They are
    * collected to the driver — nlist vectors, at most a few MB — and
    * shipped as ONE flat `array<double>` literal into the native
    * [[NearestCentroid]]/[[TopCentroids]] kernels, so cell assignment is
    * a single codegen'd loop per row with NO join and O(1) planning cost
    * in `nlist` (thousands of cells plan as fast as 16): the corpus is
    * scanned once, shuffles only on the final per-query top-k.
    *
    * `nlist <= 0` = auto: target a roughly constant cell SIZE (~256
    * vectors), so the probed fraction of the corpus shrinks as the
    * corpus grows instead of staying at nprobe/nlist of everything —
    * at 500k vectors, 16 fixed cells with 8 probes meant scanning half
    * the corpus per query (measured 56 s at 100x; this sizing: ~5 s).
    * Auto-sizing needs the corpus row count: the centroid-sample job
    * must scan the corpus anyway (TakeOrdered), so the exact count rides
    * along as an `Observation` on the SAME job — no separate `count()`
    * pass (one briefly existed here and cost a full extra corpus scan
    * per invocation).
    *
    * Assignment parity: corpus cells break similarity ties toward the
    * LOWEST cell, exactly like [[kMeansIterationFrom]]'s `array_min` over
    * (-sim, cell) — a vector indexes into the same cell it trained in
    * (the kernels reproduce the literal form's arithmetic bit-for-bit).
    */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      nlist: Int = 0, nprobe: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trainRounds: Int = 0): DataFrame = {
    val c0 = corpus.select(col(idCol).as("n_id"), toDoubleVec(col(vecCol)).as("n_vec"))
    val (effNlist, sample) = coarseSample(c0, nlist)
    // A corpus smaller than the cell count gains nothing from cells —
    // exact scan is both simpler and faster there.
    if (sample.length < math.min(16, effNlist))
      return bruteForceTopK(queries, corpus, k, idCol, vecCol)
    val effNprobe = if (nprobe > 0) nprobe else math.max(4, effNlist / 8)
    val centroids: Array[Seq[Double]] =
      if (trainRounds > 0) kMeansCentroids(corpus, effNlist, trainRounds, idCol, vecCol)
      else sample.take(effNlist)
    val dim = centroids.head.size
    val flat = lit(centroids.flatten.toArray)

    val c = c0.withColumn("cell",
      call_function("graft_nearest_cell", col("n_vec"), flat, lit(dim)))
    val q = queries.select(col(idCol).as("q_id"), toDoubleVec(col(vecCol)).as("q_vec"))
      .withColumn("cell",
        explode(call_function("graft_top_cells", col("q_vec"), flat, lit(dim), lit(effNprobe))))

    // No dedup needed: each corpus row lands in exactly one cell and a
    // query's probed cells are distinct, so a (q, n) pair joins at most
    // once — unlike multi-table LSH, where cross-table collisions repeat.
    val scored = c.join(broadcast(q), Seq("cell")).filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), cosine(col("q_vec"), col("n_vec")).as("cos_sim"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("n_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** One Lloyd (k-means) iteration, the IVF/clustering training step, in
    * the 100 TB shape: the k centroids are tiny, so they are
    * DRIVER-FOLDED into the plan as codegen literals (the ivfTopK
    * pattern) — assignment is k codegen'd cosines inside the scan
    * projection and the corpus NEVER shuffles for it; the only shuffle
    * is the partial-agged (cell, pos) centroid update, bounded by
    * k x dim regardless of corpus size. Returns (cell, pos, n,
    * sum_scaled): element sums as floor(x * 2^20) integers — exact,
    * order-free, engine-portable (the q_embed_centroid trick); the new
    * centroid is sum_scaled / n / 2^20, one exact division at the edge.
    *
    * Init is a deterministic md5-ordered corpus sample — engine-portable
    * (unlike xxhash64), so a SQL oracle reproduces the same centroids,
    * assignments, and sums bit-for-bit. Argmin is `array_min` over
    * (-sim, cell) structs: lexicographic struct ordering gives "highest
    * similarity, lowest cell on ties" without re-evaluating any cosine.
    */
  def kMeansIteration(
      corpus: DataFrame, kCells: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    kMeansIterationFrom(corpus,
      kMeansInit(corpus, kCells, idCol, vecCol), vecCol)

  /** Deterministic md5-ordered sample init (engine-portable; see
    * [[kMeansIteration]]).
    */
  def kMeansInit(
      corpus: DataFrame, kCells: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): Array[Seq[Double]] =
    corpus
      .select(col(idCol).as("id"), toDoubleVec(col(vecCol)).as("vec"))
      .orderBy(md5(col("id").cast(StringType)), col("id"))
      .limit(kCells).collect().map(_.getSeq[Double](1))

  /** One assign+update round against the GIVEN centroids.
    *
    * The row's self-norm is hoisted into one `__vnorm` alias instead of
    * letting each of the k cosines recompute it (CollapseProject keeps
    * a multi-referenced non-cheap alias in project-project chains), and
    * centroid norms are driver-precomputed literals — cutting ~1/3 of
    * the assignment arithmetic at k cells per row. The arithmetic
    * (ascending-index folds, sqrt x sqrt then divide) is ordered exactly
    * as `graft_cosine`, so results stay bit-identical to the fused form
    * and to the SQL oracle.
    */
  def kMeansIterationFrom(
      corpus: DataFrame, cents: Array[Seq[Double]],
      vecCol: String = "embedding"): DataFrame = {
    def negSims(vec: Column, vnorm: Column): Column =
      centroidSims(cents, vec, vnorm, negate = true)
    corpus.select(toDoubleVec(col(vecCol)).as("vec"))
      .withColumn("__vnorm", sqrt(dot(col("vec"), col("vec"))))
      .withColumn("cell",
        array_min(negSims(col("vec"), col("__vnorm"))).getField("cell"))
      .select(col("cell"), posexplode(col("vec")).as(Seq("pos", "x")))
      .groupBy(col("cell").cast(LongType).as("cell"), col("pos").cast(LongType).as("pos"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("x") * (1L << 20)).cast(LongType)).as("sum_scaled"))
  }

  /** Multi-round Lloyd training: `rounds` x [[kMeansIterationFrom]], new
    * centroids rebuilt driver-side between rounds from the (cell, pos)
    * sums — k x dim doubles per round cross the driver, NEVER the
    * corpus. A cell that captured no vectors keeps its previous centroid
    * (the standard empty-cluster fallback). This is the "few
    * broadcast-assign-reaverage rounds" the IVF docs reference — each
    * round is one corpus scan plus a k x dim aggregate, so training cost
    * is rounds x one-pass regardless of cluster count.
    */
  def kMeansCentroids(
      corpus: DataFrame, kCells: Int, rounds: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): Array[Seq[Double]] = {
    var cents = kMeansInit(corpus, kCells, idCol, vecCol)
    for (_ <- 0 until rounds) {
      val byCell = kMeansIterationFrom(corpus, cents, vecCol)
        .collect()
        .groupBy(_.getLong(0))
      cents = cents.zipWithIndex.map { case (old, i) =>
        byCell.get(i.toLong).map { rows =>
          rows.sortBy(_.getLong(1))
            .map(r => r.getLong(3).toDouble / r.getLong(2) / (1L << 20)).toSeq
        }.getOrElse(old)
      }
    }
    cents
  }

  /** Product-quantization codebook, flat layout `[(m*ksub + j)*dsub + t]`
    * ([[PqKernel]]). Vectors are unit-normalized before everything (the
    * ADC dot then approximates cosine).
    *
    * `trainRounds = 0`: the codebook is the subvectors of the first
    * `ksub` md5-ordered corpus vectors — deterministic AND
    * engine-portable, so the q_embed_pq oracle re-derives it in SQL.
    * `trainRounds > 0`: per-subspace Lloyd on an md5-ordered sample of
    * `sampleN` vectors, entirely driver-side (the sample is tiny; the
    * corpus is never touched during training) — tighter cells, the
    * production configuration.
    */
  def pqCodebook(
      corpus: DataFrame, dsub: Int, ksub: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trainRounds: Int = 0, sampleN: Int = 4096): Array[Double] = {
    val want = if (trainRounds > 0) math.max(sampleN, ksub) else ksub
    val rows = corpus
      .select(col(idCol).as("id"), toDoubleVec(col(vecCol)).as("vec"))
      .orderBy(md5(col("id").cast(StringType)), col("id"))
      .limit(want).collect().map(_.getSeq[Double](1))
    pqCodebookFromRows(rows, dsub, ksub, trainRounds)
  }

  /** Codebook from ALREADY-COLLECTED sample rows. Bit-identical to
    * [[pqCodebook]] on the same corpus PROVIDED the rows are an
    * (md5(id), id)-ordered prefix of length >= ksub (untrained) — the
    * exact prefix [[coarseSample]] collects, which is how [[ivfPqTopK]]
    * derives coarse centroids AND codebook from ONE corpus-scan job
    * instead of two (the second sample job was half the fixed cost the
    * 100x ScaleSmoke measured on the IVF+PQ tier).
    */
  private[functions] def pqCodebookFromRows(
      rows: Array[Seq[Double]], dsub: Int, ksub: Int,
      trainRounds: Int = 0): Array[Double] = {
    require(rows.nonEmpty, "pqCodebook: empty corpus")
    val dim = rows.head.size
    require(dim % dsub == 0, s"pqCodebook: dim $dim not divisible by dsub $dsub")
    val m = dim / dsub
    val normed = rows.map { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n).toArray
    }
    val effK = math.min(ksub, normed.length)
    // init: subvectors of the first effK sample vectors
    val flat = new Array[Double](m * effK * dsub)
    for (mi <- 0 until m; j <- 0 until effK; t <- 0 until dsub)
      flat((mi * effK + j) * dsub + t) = normed(j)(mi * dsub + t)
    // optional per-subspace Lloyd on the (driver-local) sample
    for (_ <- 0 until trainRounds; mi <- 0 until m) {
      val sums = Array.fill(effK)(new Array[Double](dsub))
      val counts = new Array[Int](effK)
      normed.foreach { v =>
        var best = 0
        var bestD = Double.PositiveInfinity
        var j = 0
        while (j < effK) {
          var d2 = 0.0
          var t = 0
          while (t < dsub) {
            val d = v(mi * dsub + t) - flat((mi * effK + j) * dsub + t)
            d2 += d * d; t += 1
          }
          if (d2 < bestD) { bestD = d2; best = j }
          j += 1
        }
        counts(best) += 1
        var t = 0
        while (t < dsub) { sums(best)(t) += v(mi * dsub + t); t += 1 }
      }
      for (j <- 0 until effK if counts(j) > 0; t <- 0 until dsub)
        flat((mi * effK + j) * dsub + t) = sums(j)(t) / counts(j)
    }
    flat
  }

  /** PQ-ADC approximate top-k: the corpus is scanned in the COMPRESSED
    * domain — per row only the `array<int>` codes (M small ints instead
    * of the d-float vector) meet the broadcast query side, and each
    * (query, row) score is M table adds ([[PqKernel.score]]). This is
    * the exhaustive-but-compressed tier: same plan shape as
    * [[bruteForceTopK]] (broadcast queries, no corpus shuffle), with the
    * scan bandwidth and per-pair arithmetic both cut ~d/M-fold — pair it
    * with IVF cells for the sublinear variant, exactly as FAISS composes
    * IVF+PQ.
    *
    * `rerank > 0` re-scores the top `rerank` ADC candidates per query
    * with EXACT cosine (one semi-join back to the raw vectors — only the
    * candidate sliver is ever decoded) and emits the exact-scored top-k:
    * the standard two-stage retrieval that recovers near-exact recall at
    * compressed-scan cost.
    */
  def pqTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      dsub: Int = 8, ksub: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trainRounds: Int = 0, rerank: Int = 0): DataFrame = {
    val flat = pqCodebook(corpus, dsub, ksub, idCol, vecCol, trainRounds)
    // effective codebook size from the flat layout (m * kEff * dsub):
    // pqCodebook shrinks ksub when the sample is smaller
    val dim = queries.select(toDoubleVec(col(vecCol)).as("v")).limit(1)
      .collect().headOption.map(_.getSeq[Double](0).size)
      .getOrElse(dsub) // no queries: any consistent dim yields an empty result
    val m = math.max(1, dim / dsub)
    val kEff = flat.length / (m * dsub)
    val flatLit = lit(flat)

    val enc = corpus.select(col(idCol).as("n_id"),
      call_function("graft_pq_encode",
        toDoubleVec(col(vecCol)), flatLit, lit(dsub), lit(kEff)).as("codes"))
    val q = queries.select(col(idCol).as("q_id"),
      toDoubleVec(col(vecCol)).as("q_vec"),
      call_function("graft_pq_table",
        toDoubleVec(col(vecCol)), flatLit, lit(dsub), lit(kEff)).as("qtab"))
    val scored = enc.join(broadcast(q), col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("q_vec"), col("n_id"),
        call_function("graft_pq_score", col("codes"), col("qtab"), lit(kEff)).as("score"))
    topKOrRerank(scored, corpus, k, rerank, idCol, vecCol)
  }

  /** IVF + PQ composed — the FAISS IVFPQ architecture re-expressed as a
    * Spark plan: the coarse quantizer prunes WHICH rows are scanned
    * (each query probes `nprobe` of `nlist` cells — sublinear candidate
    * count), and PQ compresses WHAT a scanned row costs (M sub-codes +
    * table adds, no vector arithmetic). The corpus is scanned once,
    * computing cell + codes in one codegen'd projection; only
    * (cell, codes) rows meet the broadcast query side, and only the
    * final per-query top-k shuffles. This variant encodes raw vectors,
    * not per-cell residuals — residual encoding (classical IVFPQ) would
    * add a per-cell recenter before [[PqKernel.encode]] for tighter
    * codes at the same cost; the plan shape is identical.
    *
    * Fully deterministic (md5-ordered coarse sample AND codebook), so
    * q_embed_ivfpq is oracle-checked end to end like the other tiers.
    */
  def ivfPqTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      nlist: Int = 0, nprobe: Int = 0, dsub: Int = 8, ksub: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      rerank: Int = 0): DataFrame = {
    val c0 = corpus.select(col(idCol).as("n_id"), toDoubleVec(col(vecCol)).as("n_vec"))
    val (effNlist, sample) = coarseSample(c0, nlist)
    if (sample.length < math.min(16, effNlist))
      return bruteForceTopK(queries, corpus, k, idCol, vecCol)
    val effNprobe = if (nprobe > 0) nprobe else math.max(4, effNlist / 8)
    val cents = sample.take(effNlist)
    val dim = cents.head.size
    val coarseFlat = lit(cents.flatten.toArray)
    // the coarse sample is the SAME (md5(id), id) prefix pqCodebook would
    // re-collect — reuse it and skip the second corpus scan (falls back
    // only when the caller's explicit nlist left fewer rows than ksub)
    val pqFlat0 =
      if (sample.length >= ksub) pqCodebookFromRows(sample, dsub, ksub)
      else pqCodebook(corpus, dsub, ksub, idCol, vecCol)
    val m = math.max(1, dim / dsub)
    val kEff = pqFlat0.length / (m * dsub)
    val pqFlat = lit(pqFlat0)

    val enc = c0.select(col("n_id"),
      call_function("graft_nearest_cell", col("n_vec"), coarseFlat, lit(dim)).as("cell"),
      call_function("graft_pq_encode", col("n_vec"), pqFlat, lit(dsub), lit(kEff)).as("codes"))
    val q = queries.select(col(idCol).as("q_id"), toDoubleVec(col(vecCol)).as("q_vec"))
      .withColumn("qtab",
        call_function("graft_pq_table", col("q_vec"), pqFlat, lit(dsub), lit(kEff)))
      .withColumn("cell",
        explode(call_function("graft_top_cells", col("q_vec"), coarseFlat, lit(dim), lit(effNprobe))))
    val scored = enc.join(broadcast(q), Seq("cell")).filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("q_vec"), col("n_id"),
        call_function("graft_pq_score", col("codes"), col("qtab"), lit(kEff)).as("score"))
    topKOrRerank(scored, corpus, k, rerank, idCol, vecCol)
  }

  /** Approximate top-k via multi-table hyperplane LSH: `tables`
    * independent signatures per vector; a corpus vector is a candidate
    * for a query iff they collide in at least one table. Recall rises
    * with `tables` (candidate-set cost rises linearly); `bits` trades
    * bucket size against per-table recall.
    *
    * Plan shape at scale: the query side is broadcast, so the corpus is
    * scanned once, computes `tables` signatures in the scan projection,
    * explodes to (table, sig) and hash-joins against the broadcast — NO
    * corpus shuffle. Only surviving candidates (deduped across tables)
    * reach the top-k window shuffle, which is keyed on q_id.
    */
  def lshTopK(
      queries: DataFrame, corpus: DataFrame, k: Int, bits: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding", seed: Long = 42L,
      tables: Int = 8): DataFrame = {
    require(bits < 56, "table id is packed above the sig bits in one long")
    def withBuckets(df: DataFrame, id: String, vecOut: String) =
      df.select(col(idCol).as(id), toDoubleVec(col(vecCol)).as(vecOut))
        .withColumn("bucket", explode(array((0 until tables).map { t =>
          lit(t.toLong << bits) + hyperplaneSignature(col(vecOut), bits, dim, seed + t)
        }: _*)))
    val q = withBuckets(queries, "q_id", "q_vec")
    val c = withBuckets(corpus, "n_id", "n_vec")
    val scored = c.join(broadcast(q), Seq("bucket")).filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), cosine(col("q_vec"), col("n_vec")).as("cos_sim"))
      .dropDuplicates("q_id", "n_id")
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("n_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** Sign bits of a (dim <= 64) vector packed into one 64-bit word —
    * the binary-quantization signature. Computed ONCE per row in the
    * scan projection (a 64-step fold, off the per-pair hot path), so the
    * interpreted higher-order fold costs nothing that matters; the
    * per-PAIR operation it enables — `bit_count(q_sig ^ n_sig)` — is a
    * single codegen'd xor+popcount. SQL-string form because the Scala
    * `shiftleft` wrapper only takes a literal shift; the SQL builtin
    * accepts the lambda variable.
    */
  private[graft] def signBits(vecCol: String, dim: Int): Column = {
    require(dim <= 64, "one 64-bit signature word")
    expr(s"aggregate(filter(sequence(0, ${dim - 1}), " +
      s"i -> element_at($vecCol, i + 1) > 0D), 0L, " +
      "(acc, i) -> acc | shiftleft(1L, i))")
  }

  /** Binary-quantization ANN: 1-bit-per-dimension signatures + Hamming
    * distance for the candidate pass, exact cosine rerank of the best
    * `rerank` candidates. sign(a)·sign(b) tracks cos(a,b) (for unit-ish
    * vectors E[hamming] = dim·θ/π), so low Hamming distance ≈ high
    * cosine — the standard 32x-compression recall trick.
    *
    * Why this is THE 100 TB candidate pass: a dim=64 float vector is
    * 256 B, its signature 8 B. The Hamming scan reads a 32x smaller
    * projection (signatures can even live as their own column /
    * materialized table), and each query-pair costs one xor+popcount
    * instead of 64 FMAs. Plan shape matches [[bruteForceTopK]]: query
    * side broadcast, corpus scanned once with NO shuffle; only the
    * per-query candidate window shuffles, and the exact rerank joins
    * raw vectors back by id for `rerank` rows per query, not the corpus.
    *
    * Fully deterministic (sign bits + (hamming, id) candidate cut +
    * exact rerank), so oracle-checked end to end like the other tiers.
    */
  def bqTopK(
      queries: DataFrame, corpus: DataFrame, k: Int, dim: Int = 64,
      rerank: Int = 50,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val qRaw = queries.select(col(idCol).as("q_id"),
      toDoubleVec(col(vecCol)).as("q_vec"))
    val qSig = qRaw.select(col("q_id"), signBits("q_vec", dim).as("q_sig"))
    val cSig = corpus.select(col(idCol).as("n_id"),
        toDoubleVec(col(vecCol)).as("n_vec"))
      .select(col("n_id"), signBits("n_vec", dim).as("n_sig"))
    val hammed = cSig.join(broadcast(qSig), col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        bit_count(col("q_sig").bitwiseXOR(col("n_sig"))).as("hd"))
    // candidate cut via [[TopKAggregator]] (score = -hamming), NOT a
    // window: partial aggregation reduces each map task to ≤rerank rows
    // per query BEFORE the exchange, so the shuffle carries
    // O(rerank · partitions · |queries|) rows instead of every scored
    // pair (a per-query window sort over the full pair set measured
    // ~2x the whole query's wall at 100x corpus). Tie-break (-hd desc,
    // id asc) ≡ the window's (hd asc, n_id asc) — same candidate set.
    val cands = hammed.groupBy(col("q_id"))
      .agg(TopKAggregator.topK(math.max(rerank, k),
        -col("hd").cast(DoubleType), col("n_id")).as("top"))
      .select(col("q_id"), explode(col("top")).as("c"))
      .select(col("q_id"), col("c.id").as("n_id"))
    val raw = corpus.select(col(idCol).as("n_id"),
      toDoubleVec(col(vecCol)).as("n_vec"))
    // rerank: the (tiny) candidate set is broadcast INTO the corpus
    // scan — the corpus side never shuffles at any stage of this plan
    val exact = raw.join(broadcast(cands.join(broadcast(qRaw), Seq("q_id"))), Seq("n_id"))
      .select(col("q_id"), col("n_id"),
        cosine(col("q_vec"), col("n_vec")).as("cos_sim"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("n_id"))
    exact.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** Persist an IVF(+PQ) index for `corpus` at `dir` — see [[AnnIndex]]
    * for the layout and the 100 TB rationale. The training scans
    * (centroid sample, Lloyd rounds, codebook) run HERE, once, instead
    * of inside every [[ivfTopK]]/[[pqTopK]] call.
    */
  def buildIvfIndex(
      corpus: DataFrame, dir: String,
      nlist: Int = 0, trainRounds: Int = 0,
      dsub: Int = 8, ksub: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    AnnIndex.build(corpus, dir, nlist, trainRounds, dsub, ksub, idCol, vecCol)

  /** Distributed covariance of an embedding column, upper triangle as
    * (i, j, cov) rows with 1-based dims: each row explodes into its
    * d(d+1)/2 grid-quantized products (the k-means posexplode pattern,
    * widened to pairs), ONE (i, j)-keyed aggregate sums them exactly as
    * BIGINTs — map-side partials absorb the d² inflation, so the
    * shuffle carries |partitions| x d(d+1)/2 narrow rows and the corpus
    * never crosses an exchange. cov = E[xy] - E[x]E[y] evaluated in the
    * same expression order both engines. The d² work per row is
    * covariance's intrinsic cost; at 100 TB it stays embarrassingly
    * parallel (no driver state, no broadcast).
    */
  def covarianceUpper(df: DataFrame, vecCol: String): DataFrame = {
    // fanOut (r20): the d(d+1)/2-pair explode below otherwise runs on
    // the scan's single task (one parquet row group); keyless round-
    // robin is fine — the grid sums are exact integers, order-free.
    // Identity at scale — CoreOps.fanOut.
    val v = graft.ops.CoreOps.fanOut(df.select(toDoubleVec(col(vecCol)).as("vec")))
    val pairs = flatten(transform(sequence(lit(1), size(col("vec"))),
      i => transform(sequence(i, size(col("vec"))),
        j => struct(i.as("i"), j.as("j")))))
    def grid(c: Column): Column =
      floor(c * lit(GridSum.Grid) + lit(0.5)).cast(LongType)
    v.select(col("vec"), explode(pairs).as("p"))
      .select(col("p.i").cast(LongType).as("i"), col("p.j").cast(LongType).as("j"),
        grid(element_at(col("vec"), col("p.i")) *
          element_at(col("vec"), col("p.j"))).as("gxy"),
        grid(element_at(col("vec"), col("p.i"))).as("gxi"),
        grid(element_at(col("vec"), col("p.j"))).as("gxj"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("gxy")).as("sxy"), sum(col("gxi")).as("sxi"),
        sum(col("gxj")).as("sxj"), count(lit(1)).as("n"))
      .select(col("i"), col("j"),
        // + 0.0 normalizes IEEE negative zero (round(-1e-9, 6) -> -0.0
        // in one engine, +0.0 in the other: -0.0 + 0.0 == +0.0)
        (round(GridSum.fromGrid(col("sxy")) / col("n") -
          (GridSum.fromGrid(col("sxi")) / col("n")) *
          (GridSum.fromGrid(col("sxj")) / col("n")), 6) + lit(0.0)).as("cov"))
  }

  /** Maximal Marginal Relevance selection (Carbonell & Goldstein 1998):
    * greedily pick k items maximizing
    * lambda·rel(c) − (1−lambda)·max_{s∈selected} sim(c, s) — the
    * diverse-subset selector training-data curation uses to avoid
    * sampling near-identical documents. Driver loop of k rounds; each
    * round scans the checkpointed (id, vec, rel) frame ONCE with the
    * selected vectors as broadcast literals (the k-means centroid
    * pattern) and collects exactly one argmax row via
    * TakeOrderedAndProject — k rows total cross the driver, the corpus
    * never shuffles. All cosines are the sequential-fold graft_cosine,
    * so the unrolled SQL oracle reproduces every score bit-for-bit and
    * the argmax chain is engine-portable (ties to smallest id).
    */
  def mmrSelect(corpus: DataFrame, queryVec: Seq[Double], k: Int,
      lambda: Double, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val sp = corpus.sparkSession
    val base = corpus
      .select(col(idCol).as("id"), toDoubleVec(col(vecCol)).as("vec"))
      .withColumn("rel", cosine(col("vec"), array(queryVec.map(lit): _*)))
      .localCheckpoint()
    var selected = Vector.empty[(Long, Seq[Double], Double)]
    var exhausted = false
    while (selected.size < k && !exhausted) {
      val div =
        if (selected.isEmpty) lit(0.0)
        else if (selected.size == 1)
          cosine(col("vec"), array(selected.head._2.map(lit): _*))
        else greatest(selected.map(s =>
          cosine(col("vec"), array(s._2.map(lit): _*))): _*)
      val top = base
        .filter(!col("id").isin(selected.map(_._1): _*))
        .select(col("id"), col("vec"),
          (lit(lambda) * col("rel") - lit(1 - lambda) * div).as("mmr"))
        .orderBy(col("mmr").desc, col("id")).limit(1)
        .collect()
      // Fewer candidates than k: return what exists instead of
      // throwing head-of-empty mid-loop.
      if (top.isEmpty) exhausted = true
      else selected :+= ((top(0).getLong(0), top(0).getSeq[Double](1),
        top(0).getDouble(2)))
    }
    import sp.implicits._
    selected.zipWithIndex
      .map { case ((id, _, mmr), i) =>
        (i + 1L, id, BigDecimal(mmr).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .toDF("rank", "vec_id", "mmr")
  }

  /** Driver-side power iteration over a COLLECTED symmetric matrix
    * (the d x d covariance — d² scalars cross the driver once, never
    * the corpus): deterministic all-ones init, `iters` multiply-and-
    * normalize rounds, returns (top eigenvalue by Rayleigh quotient,
    * unit eigenvector). O(d² · iters) driver math — the standard
    * split for PCA-at-scale: moments distributed, eigen local.
    */
  def topEigenpair(m: Array[Array[Double]], iters: Int = 100): (Double, Array[Double]) = {
    val d = m.length
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    var lambda = 0.0
    var it = 0
    while (it < iters) {
      val mv = Array.tabulate(d)(i => {
        var s = 0.0; var j = 0
        while (j < d) { s += m(i)(j) * v(j); j += 1 }; s
      })
      val norm = math.sqrt(mv.map(x => x * x).sum)
      if (norm > 0) v = mv.map(_ / norm)
      lambda = norm
      it += 1
    }
    // Rayleigh quotient for the eigenvalue sign (norm loses it)
    val mv = Array.tabulate(d)(i => {
      var s = 0.0; var j = 0
      while (j < d) { s += m(i)(j) * v(j); j += 1 }; s
    })
    (v.zip(mv).map { case (a, b) => a * b }.sum, v)
  }
}
