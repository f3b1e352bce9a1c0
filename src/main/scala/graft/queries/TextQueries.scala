package graft.queries

import graft.Tables
import graft.functions.{BpeOps, TextOps, VectorOps}
import graft.multimodal.MultimodalOps
import graft.operators.{DedupOps, GraphOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** LLM-training-data pipeline queries over `documents` and `embeddings`:
  * dedup (exact / incremental / MinHash-LSH / SimHash / n-gram Jaccard /
  * embedding cosine / SemDeDup), similarity search (brute-force, LSH,
  * IVF, PQ, IVF+PQ, binary quantization), retrieval (BM25, hybrid RRF),
  * LM scoring (unigram, interpolated bigram, perplexity bands),
  * tokenizer train+apply (BPE), graph priors (dup clusters, PageRank),
  * text analysis (lang-ID, quality, token counts, fingerprints,
  * novelty), sampling/mixing, multimodal plumbing.
  *
  * Oracle coverage: everything whose semantics ANSI SQL + DuckDB can
  * express bit-identically is oracled (exact dedup, n-gram Jaccard,
  * text stats, fingerprints, brute-force cosine); hash-family ops
  * (MinHash/SimHash/LSH) are validated by ScalaTest specs with planted
  * duplicates instead (xxhash64 has no DuckDB twin).
  */
object TextQueries {

  /** q_knn_label_acc's body with the probe/corpus split INJECTED — the
    * registered query derives both from one table (vec_id % 100); the
    * production regime this plan is designed for has a FIXED held-out
    * probe against a growing corpus, and ScaleSmoke's fixed-probe
    * entries reuse this method with a base-range probe to measure
    * exactly that. Plan shape (TopKAggregator map-side top-k, broadcast
    * probe, corpus never shuffles) is identical either way.
    */
  def knnLabelAccuracy(queries: DataFrame, corpus: DataFrame): DataFrame = {
    val top = VectorOps.bruteForceTopKAgg(queries, corpus, k = 10)
    val labeled = corpus.select(col("vec_id").as("n_id"),
        col("label").cast(LongType).as("n_label"))
      .join(broadcast(top.select("q_id", "n_id")), Seq("n_id"))
    val votes = labeled.groupBy("q_id", "n_label").agg(count(lit(1)).as("v"))
    val maj = votes.groupBy("q_id")
      .agg(min(struct((-col("v")).as("nv"), col("n_label").as("l"))).as("m"))
      .select(col("q_id"), col("m.l").as("pred"))
    maj.join(broadcast(queries.select(col("vec_id").as("q_id"),
        col("label").cast(LongType).as("q_label"))), Seq("q_id"))
      .groupBy(col("q_label").as("label"))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("pred") === col("q_label"), 1L).otherwise(0L)).as("n_correct"))
      .select(col("label"), col("n_queries"), col("n_correct"),
        round(col("n_correct").cast(DoubleType) / col("n_queries"), 6)
          .as("acc_at10"))
      .orderBy("label")
  }

  /** q_fuzzy_decontam's body with the train/benchmark split INJECTED
    * (same rationale as [[knnLabelAccuracy]]: the production benchmark
    * is FIXED eval-suite MBs; only the train corpus grows). Signature
    * scheme, broadcast discipline and verify-on-candidates-only shape
    * are identical to the registered query.
    */
  def fuzzyDecontam(train: DataFrame, bench: DataFrame): DataFrame = {
    // fanOut (r20): the shingle explode + 4-digest md5 signature kernel
    // otherwise runs on the corpus scan's single task; identity at scale
    def shingles(df: DataFrame) = graft.ops.CoreOps
      .fanOut(df.select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"),
        explode(array_distinct(TextOps.shingles(col("text"), 3))).as("sh"))
    def sig(shf: DataFrame) = shf
      .withColumn("g", explode(sequence(lit(0), lit(3))))
      .withColumn("m", md5(concat(col("g").cast(StringType), lit(":"), col("sh"))))
      .withColumn("slot", explode(sequence(lit(0), lit(3))))
      .withColumn("p", col("g") * 4 + col("slot") + 1)
      .withColumn("h",
        conv(expr("substring(m, slot * 8 + 1, 8)"), 16, 10).cast(LongType))
      .groupBy("doc_id", "p").agg(min(col("h")).as("h"))
    def bands(sigf: DataFrame) = sigf
      .withColumn("b", floor((col("p") - 1) / 2))
      .groupBy("doc_id", "b")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("p"), col("h")))),
        x => x.getField("h").cast(StringType)), ",").as("key"))
    val shTrain = shingles(train).localCheckpoint()
    val shBench = shingles(bench).localCheckpoint() // eval-suite sized
    val cand = bands(sig(shTrain)).as("t")
      .join(broadcast(bands(sig(shBench)).as("q")),
        col("t.b") === col("q.b") && col("t.key") === col("q.key"))
      .select(col("t.doc_id").as("doc_id"), col("q.doc_id").as("bench_id"))
      .distinct().localCheckpoint()
    // Candidate-id prune (r21, guide §3.2, the q_minhash_est recipe):
    // the verify arm only reads train-shingle rows of docs that banded
    // against SOME benchmark doc, yet the joins below shuffled the FULL
    // corpus shingle frame by doc_id (the 0.60 8→32c scaling ratio —
    // the one corpus-sized exchange left in this query). cand is
    // checkpointed (count is cheap); under the measured broadcast gate
    // the semi join prunes shTrain map-side and the verify join +
    // per-doc size agg then run over candidate-sized frames. Inner
    // joins against cand downstream make the prune a semantic no-op;
    // past the gate the corpus-sized joins run unchanged.
    val candPrune = cand.count() <= 4L * 1000 * 1000
    val shT = if (candPrune)
      shTrain.join(broadcast(cand.select("doc_id").distinct()),
        Seq("doc_id"), "left_semi")
    else shTrain
    val shared = shT.join(if (candPrune) broadcast(cand) else cand, Seq("doc_id"))
      .join(broadcast(shBench
        .select(col("doc_id").as("bench_id"), col("sh"))), Seq("bench_id", "sh"))
      .groupBy("doc_id", "bench_id").agg(count(lit(1)).as("ns"))
    val sizesT = shT.groupBy("doc_id").agg(count(lit(1)).as("na"))
    val sizesB = shBench.groupBy("doc_id").agg(count(lit(1)).as("nb"))
      .withColumnRenamed("doc_id", "bench_id")
    val scored = cand.join(shared, Seq("doc_id", "bench_id"), "left")
      .join(sizesT, Seq("doc_id"))
      .join(broadcast(sizesB), Seq("bench_id"))
      .withColumn("ns", coalesce(col("ns"), lit(0L)))
      .withColumn("j", round(col("ns").cast(DoubleType) /
        (col("na") + col("nb") - col("ns")), 6))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("j").desc, col("bench_id").asc)
    val best = scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("bench_id"), col("j"))
    // best is candidate-bounded; broadcasting it (BuildRight is legal
    // for a left outer join) removes the plan's LAST corpus-sized
    // exchange — the train id scan no longer shuffles at all (checkpoint
    // descendants carry no stats, so Catalyst planned this SMJ).
    train.select("doc_id")
      .join(if (candPrune) broadcast(best) else best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (coalesce(col("j"), lit(0.0)) >= 0.5).as("contaminated"),
        col("bench_id").as("best_bench_id"),
        coalesce(col("j"), lit(0.0)).as("jaccard"))
      .orderBy("doc_id")
  }

  /** q_oov_rate's body with the vocab-learning corpus INJECTED (the
    * registered query learns the top-1000 vocab from the same documents
    * it scores; the production tokenizer vocab is FIXED once learned,
    * so ScaleSmoke's fixed-vocab entry learns from the base corpus and
    * probes the grown stream). The vocab broadcast and the single
    * source-keyed aggregate are identical either way.
    */
  def oovRate(docs: DataFrame, vocabDocs: DataFrame): DataFrame = {
    def toks(df: DataFrame) = df.select(
      col("source"), explode(TextOps.tokens(col("text"))).as("token"))
    val vocab = toks(vocabDocs).groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("token")).limit(1000)
      .select(col("token"), lit(1L).as("iv"))
    toks(docs).join(broadcast(vocab), Seq("token"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("iv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("source"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast(DoubleType) / col("n_tokens"), 6)
          .as("oov_rate"))
      .orderBy("source")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact dedup groups: one narrow hash aggregate over md5(norm text).
    "q_dedup_exact" -> { (s, dir) =>
      DedupOps.exactDupGroups(Tables(s, dir, "documents"), "doc_id", "text")
        .orderBy("text_hash")
    },

    // The same exact-dedup audit spelled in Spark SQL through the
    // graft_dedup table-valued function — SHARES q_dedup_exact's oracle
    // val, so the TVF path and the DataFrame path must agree
    // bit-for-bit (the graft_asof pattern, second operator family).
    "q_dedup_sql" -> { (s, dir) =>
      Tables(s, dir, "documents").createOrReplaceTempView("graft_dedup_docs")
      s.sql("""
        SELECT text_hash, n_copies, keep_id
        FROM graft_dedup('graft_dedup_docs', 'doc_id', 'text', 'groups')
        ORDER BY text_hash""")
    },

    // Exact repeated-SUBSTRING detection (the within/cross-document
    // span-level dedup of Lee et al. 2022, token-n-gram form): a
    // position p in a doc is duplicated iff its 8-token gram occurs
    // more than once in the ENTIRE corpus; overlapping/adjacent
    // duplicated windows merge into spans (the interval-island fold).
    // This is span-level — q_dedup_exact's whole-doc twin can't see a
    // copied paragraph inside an otherwise-unique doc; this does.
    // Scale shape: the corpus crosses as (gram, doc_id, pos) —
    // O(total tokens) rows, ONE exchange keyed on the gram (a window
    // count, not a self-join; no pair frame ever materializes), then
    // one doc-keyed exchange for the span merge. The registered query
    // keys the exchange on the gram TEXT for oracle-exact substring
    // equality; the production swap is an 8-byte digest key
    // (graft_md5_top32-style) + winnowing (q_winnow) to thin the
    // position stream ~2/(w+1), both one-line changes to this plan.
    "q_repeated_spans" -> { (s, dir) =>
      repeatedSpans(Tables(s, dir, "documents"), 8)
    },

    // The remediation twin: excise every duplicated 8-gram span and
    // hash the surviving text (see exciseRepeatedSpans).
    "q_span_excise" -> { (s, dir) =>
      exciseRepeatedSpans(Tables(s, dir, "documents"), 8)
    },

    // Surgical decontamination: excise the benchmark-overlapping spans
    // instead of dropping whole documents (see exciseContaminatedSpans).
    "q_decontam_excise" -> { (s, dir) =>
      exciseContaminatedSpans(Tables(s, dir, "documents"), 8)
    },

    // MinHash+LSH: per-doc band keys (the shuffle keys for candidate
    // generation) + LSH candidate count, on the md5-keyed kernel
    // (16 permutations sliced from 4 digests, 8x2 bands — the
    // q_minhash_est pipeline) so DuckDB recomputes the WHOLE frame
    // bit-for-bit: full hash-match, not rows-only (r17 verdict item 2).
    // The XXH64 production kernel (withMinHashBands /
    // minHashCandidatePairsFromBanded — same statistics, native-hash
    // band keys, no md5 cost) stays spec-pinned in DedupSpec with
    // planted near-dups. Docs with fewer than 3 tokens have no shingles
    // and no signature — absent here as in every shingle consumer.
    "q_dedup_minhash" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val (_, _, bands, cand) = md5MinhashPipeline(docs)
      val bandCols = (0 until 8).map(b =>
        max(when(col("b") === b, col("key"))).as(s"band_$b"))
      val wide = bands.groupBy("doc_id")
        .agg(bandCols.head, bandCols.tail: _*)
      // one explode, not unionAll of two projections — a Union would plan
      // the candidate join subtree twice
      val candCounts = cand
        .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_candidates"))
      wide.join(candCounts, Seq("doc_id"), "left")
        .na.fill(0, Seq("n_candidates"))
        .orderBy("doc_id")
    },

    // SimHash: 64-bit near-dup signature as 4 Hamming-LSH bands
    // (16-bit chunks, MSB-first) per doc, on md5 token hashes so the
    // oracle recomputes every band bit-for-bit (r17 verdict item 2):
    // per token the first 16 md5 hex digits give a 64-bit hash (two
    // exact 32-bit halves), each hash bit votes ±1, a positive vote sum
    // sets the signature bit. Duplicate tokens vote once per
    // occurrence, matching the production kernel's semantics
    // (graft_simhash64, the codegen'd XXH64 single-pass expression —
    // spec-pinned in DedupSpec/VectorExpressionsSpec, and what a 100 TB
    // run uses: ~2 machine ops per (token, bit), no 64-row explode).
    "q_dedup_simhash" -> { (s, dir) =>
      // fanOut (r20): two md5 digests per (doc, token) otherwise run on
      // the scan's single task; identity at scale — CoreOps.fanOut
      val docs = graft.ops.CoreOps.fanOut(
        Tables(s, dir, "documents").select("doc_id", "text"), col("doc_id"))
      val hv = docs.select(col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("t"))
        .select(col("doc_id"),
          conv(substring(md5(col("t")), 1, 8), 16, 10).cast(LongType).as("hi"),
          conv(substring(md5(col("t")), 9, 8), 16, 10).cast(LongType).as("lo"))
      val bits = hv
        .select(col("doc_id"), col("hi"), col("lo"),
          explode(sequence(lit(0), lit(63))).as("b"))
        .withColumn("bit",
          when(col("b") < 32, expr("shiftright(lo, cast(b as int))"))
            .otherwise(expr("shiftright(hi, cast(b as int) - 32)"))
            .bitwiseAND(lit(1L)))
      val simbits = bits.groupBy("doc_id", "b")
        .agg(sum(col("bit") * 2 - 1).as("v"))
        .withColumn("sb", when(col("v") > 0, 1L).otherwise(0L))
      val bandCols = (0 until 4).map { i =>
        val lo = 48 - 16 * i // band_0 = hash bits 48..63 (MSB chunk)
        sum(when(col("b").between(lo, lo + 15),
          col("sb") * expr("shiftleft(1L, cast(b % 16 as int))")))
          .as(s"band_$i")
      }
      simbits.groupBy("doc_id").agg(bandCols.head, bandCols.tail: _*)
        .orderBy("doc_id")
    },

    // Exact n-gram Jaccard near-dup pairs via inverted shingle index —
    // deterministic (no hashing), so fully oracle-checked. Registered on
    // the CLONE-COLLAPSED derivation (bit-equal, DedupSpec-pinned;
    // adaptive — this corpus is mostly unique, so one 16-byte-key probe
    // routes to the plain operator): on a duplicate-heavy corpus the
    // shingle self-join runs over distinct texts, not docs — the
    // candidate stage that exhausted this box's disk at the 100x clone
    // corpus under the plain builder (PERF_NOTES r16) finishes collapsed
    // (r19 at-scale gate: the pair LIST value+hash at 10x/100x).
    "q_ngram_jaccard" -> { (s, dir) =>
      DedupOps.ngramJaccardPairsCloneCollapsed(
        Tables(s, dir, "documents"), "doc_id", "text",
        threshold = 0.05, n = 3)
        .orderBy("id_a", "id_b")
    },

    // PPJoin-style prefix-filtered set-similarity join at Jaccard >=
    // 0.5: only each set's RAREST |X| - floor(0.5|X|) + 1 shingles are
    // indexed (prefix-filter lemma), candidates are length- and
    // POSITION-filtered and exactly verified. The oracle recomputes the
    // answer through the FULL inverted index, independently proving the
    // filters admit no false negatives on this corpus. The registered
    // spelling is the CLONE-COLLAPSED derivation (bit-equal,
    // DedupSpec-pinned; adaptive — this corpus is mostly unique, so it
    // routes to the plain operator after one 16-byte-key probe): on a
    // duplicate-heavy corpus the prefix self-join runs over distinct
    // texts — identical texts share identical prefixes, so the
    // candidate stage would otherwise quadratic-blow exactly like the
    // plain inverted index did at the 100x corpus (PERF_NOTES r16).
    "q_setsim_prefix" -> { (s, dir) =>
      DedupOps.prefixJaccardPairsCloneCollapsed(
        Tables(s, dir, "documents"), "doc_id", "text", threshold = 0.5, n = 3)
        .orderBy("id_a", "id_b")
    },

    // Directed shingle-set containment |A∩B|/|A| >= 0.8 — catches a doc
    // embedded inside a longer one (boilerplate, quote-inclusion),
    // which symmetric Jaccard misses. Same inverted-index shape as
    // q_ngram_jaccard; the registered spelling is the CLONE-COLLAPSED
    // derivation (bit-equal, DedupSpec-pinned; adaptive — mostly-unique
    // corpora route to the plain operator after one 16-byte-key probe),
    // so the directed candidate stage runs over distinct texts on
    // duplicate-heavy corpora. See DedupOps.containmentPairsCloneCollapsed.
    "q_containment" -> { (s, dir) =>
      DedupOps.containmentPairsCloneCollapsed(
        Tables(s, dir, "documents"), "doc_id", "text",
        threshold = 0.8, n = 3, minShingles = 5)
        .orderBy("id_a", "id_b")
    },

    // Brute-force cosine top-5 for the first 5 vectors: exact ANN baseline.
    "q_embed_cosine_topk" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      VectorOps.bruteForceTopK(e.filter(col("vec_id") < 5), e, k = 5)
        .select(col("q_id"), col("rk"), col("n_id"), col("cos_sim"))
        .orderBy("q_id", "rk")
    },

    // The same exact top-k spelled in Spark SQL through the graft_ann
    // table-valued function — SHARES q_embed_cosine_topk's oracle val
    // (third TVF family after graft_asof / graft_dedup: the ANN tier
    // reachable from spark.sql).
    "q_ann_sql" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      e.filter(col("vec_id") < 5).createOrReplaceTempView("graft_ann_queries")
      e.createOrReplaceTempView("graft_ann_corpus")
      s.sql("""
        SELECT q_id, rk, n_id, cos_sim
        FROM graft_ann('graft_ann_queries', 'graft_ann_corpus', '5', 'brute')
        ORDER BY q_id, rk""")
    },

    // Hard-negative mining: per anchor, the 5 nearest corpus vectors
    // with a DIFFERENT label (contrastive-training negatives). Same
    // broadcast-anchor/no-corpus-shuffle plan as q_embed_cosine_topk.
    "q_hard_negatives" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      VectorOps.hardNegatives(e.filter(col("vec_id") < 5), e, k = 5)
        .select(col("q_id"), col("rk").cast(LongType).as("rk"),
          col("n_id"), col("n_label").cast(LongType).as("n_label"), col("cos_sim"))
        .orderBy("q_id", "rk")
    },

    // kNN label-consistency probe — the standard embedding-quality eval
    // (a good encoder's neighbors share its label): for each vector of a
    // FIXED eval sample (vec_id % 100, the bounded stand-in for a held-
    // out probe set — at 100 TB the sample stays broadcastable because
    // it's capped, not a corpus fraction), take the 10 nearest corpus
    // vectors via the TopKAggregator form (map tasks emit <= k rows per
    // query, so the shuffle never carries the scored corpus), majority-
    // vote their labels (ties: min label), and report per-label
    // accuracy. Labels rejoin AFTER the top-k cut — the broadcast probe
    // of a |queries|x10 id list against the corpus, never a second scan
    // of scored pairs.
    "q_knn_label_acc" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      knnLabelAccuracy(
        e.filter(col("vec_id") % 100 === 0), e.filter(col("vec_id") % 100 =!= 0))
    },

    // Same top-k via the typed TopKAggregator (partial-agg reduction:
    // <= k rows per map task reach the shuffle) — must hash-match the
    // window form's oracle exactly.
    "q_embed_topk_agg" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      VectorOps.bruteForceTopKAgg(e.filter(col("vec_id") < 5), e, k = 5)
        .select(col("q_id"), col("rk").cast(LongType).as("rk"), col("n_id"), col("cos_sim"))
        .orderBy("q_id", "rk")
    },

    // Rank-biased overlap (Webber et al. 2010) between two sources'
    // top-20 token rankings — RANKING drift, which share-based measures
    // (PSI/KS) can't see: two sources with identical token shares but
    // reshuffled prominence score rbo < 1. A common token enters the
    // overlap at depth max(rank_a, rank_b); the truncated RBO sum runs
    // over 20 depths on the aggregated vocab domain, with the geometric
    // p^(d−1) terms grid-summed (order-free) and round(6)ed for libm
    // pow parity.
    "q_rbo" -> { (s, dir) =>
      val p = 0.9
      val k = 20
      def top(src: String, rk: String) = {
        // top-k via sort+limit -> TakeOrderedAndProject (map-side
        // partial top-k; <= k rows per task reach the driver), NOT a
        // vocab-wide row_number window (round 6 shipped the full
        // vocabulary through one partition here). Ranks on the k-row
        // checkpointed result come from a triangular broadcast join
        // (count of rows strictly ordered before), so the plan has no
        // unpartitioned window at all, bounded or otherwise.
        val t = Tables(s, dir, "documents").filter(col("source") === src)
          .select(explode(TextOps.tokens(col("text"))).as("token"))
          .groupBy(col("token")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("token").asc).limit(k)
          .localCheckpoint()
        t.as("a").join(broadcast(t.as("b")),
            col("b.n") > col("a.n") ||
              (col("b.n") === col("a.n") && col("b.token") < col("a.token")),
            "left")
          .groupBy(col("a.token").as("token"))
          .agg((count(col("b.token")) + lit(1L)).cast(LongType).as(rk))
      }
      val pairs = top("src0", "ra").join(top("src1", "rb"), Seq("token"))
        .select(greatest(col("ra"), col("rb")).as("e"))
      val depths = Tables(s, dir, "documents").sparkSession
        .range(1, k + 1).toDF("d")
      val agree = depths.crossJoin(pairs)
        .filter(col("e") <= col("d"))
        .groupBy(col("d")).agg(count(lit(1)).as("a"))
      val nCommon = pairs.agg(count(lit(1)).as("n_common"))
      // (1 − p) as the PARSED literal 0.1, not Scala's 1.0 − 0.9 —
      // const-folding lands one ulp off the value DuckDB parses
      val oneMinusP = lit(0.1)
      depths.join(agree, Seq("d"), "left")
        .withColumn("a", coalesce(col("a"), lit(0L)))
        .agg(GridSum.exactGridSum(
          oneMinusP * pow(lit(p), col("d") - lit(1)) *
            col("a").cast(DoubleType) / col("d")).as("g"))
        .crossJoin(broadcast(nCommon))
        .select(lit(k.toLong).as("k"), col("n_common"),
          round(GridSum.fromGrid(col("g")), 6).as("rbo_min"))
    },

    // Corpus data card: the one-row summary a dataset release ships —
    // size, token volume, vocabulary, language/source mix, length
    // profile. Three scans total (not one per stat): the scalar
    // aggregates fold into ONE pass, the trigram vocabulary needs its
    // explode pass, and the modal language its groupBy; the three
    // 1-row frames broadcast-join for free.
    "q_data_card" -> { (s, dir) =>
      val d = Tables(s, dir, "documents")
      val scalars = d.agg(
        count(lit(1)).as("n_docs"),
        sum(size(TextOps.tokens(col("text"))).cast(LongType)).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("n_chars")).as("n_chars_total"),
        min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
      val vocab = d.select(explode(call_function("graft_shingle_hashes",
        TextOps.tokens(col("text")), lit(3), lit(42L))).as("sh"))
        .agg(countDistinct(col("sh")).as("n_distinct_trigrams"))
      val modal = d.groupBy(col("lang")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("lang").asc).limit(1)
        .select(col("lang").as("modal_lang"), col("n").as("modal_lang_docs"))
      scalars.crossJoin(broadcast(vocab)).crossJoin(broadcast(modal))
        .select(col("n_docs"), col("n_tokens"), col("n_distinct_trigrams"),
          col("n_langs"), col("n_sources"), col("modal_lang"),
          col("modal_lang_docs"),
          (col("n_chars_total").cast(DoubleType) / col("n_docs")).as("mean_chars"),
          col("min_chars"), col("max_chars"))
    },

    // Embedding-level decontamination: flag training vectors whose max
    // cosine to ANY eval-set vector crosses the near-dup threshold —
    // the semantic sibling of q_decontaminate's exact-span probe
    // (paraphrased eval leakage that span hashes miss). Scale shape:
    // the (tiny, FIXED-size) eval set rides in one broadcast row as an
    // array; each corpus vector folds its max similarity IN-ROW — the
    // corpus never shuffles at all until the output sort.
    "q_embed_decontam" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val evalSet = e.filter(col("vec_id") % 50 === 0)
        .agg(collect_list(VectorOps.toDoubleVec(col("embedding"))).as("evals"))
      e.filter(col("vec_id") % 50 =!= 0)
        .crossJoin(broadcast(evalSet))
        .select(col("vec_id"),
          array_max(transform(col("evals"),
            v => call_function("graft_cosine",
              VectorOps.toDoubleVec(col("embedding")), v)))
            .as("max_eval_sim"))
        .select(col("vec_id"), col("max_eval_sim"),
          (col("max_eval_sim") >= 0.95).as("contaminated"))
        .orderBy("vec_id")
    },

    // Matryoshka / truncated-dimension ablation: recall@5 of cosine
    // top-k computed on the first 8/16/32 components against the
    // full-64-dim truth — the "how few dims can retrieval afford"
    // diagnostic behind embedding-dimension and storage decisions.
    // The truth set is checkpointed once and semi-joined per variant;
    // recall compares ID SETS (counts of exact integers), so the only
    // float parity needed is the cosine ranking itself — already
    // engine-exact per q_embed_cosine_topk.
    "q_matryoshka" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 50)
      val truth = VectorOps.bruteForceTopK(q, e, k = 5)
        .select(col("q_id"), col("n_id")).localCheckpoint()
      val hits = Seq(8, 16, 32).map { d =>
        val qd = q.withColumn("embedding", slice(col("embedding"), 1, d))
        val ed = e.withColumn("embedding", slice(col("embedding"), 1, d))
        VectorOps.bruteForceTopK(qd, ed, k = 5)
          .select(col("q_id"), col("n_id"))
          .join(truth, Seq("q_id", "n_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits"))
          .select(lit(d.toLong).as("dim"), col("n_hits"))
      }.reduce(_ unionByName _)
      val nQ = truth.select(col("q_id")).distinct()
        .agg(count(lit(1)).as("n_queries"))
      hits.crossJoin(broadcast(nQ))
        .select(col("dim"), col("n_queries"), col("n_hits"),
          (col("n_hits").cast(DoubleType) / (col("n_queries") * lit(5)))
            .as("recall_at5"))
        .orderBy("dim")
    },

    // Per-label element-wise centroid — the k-means/IVF training step:
    // posexplode to (label, pos, x), one partial-agged shuffle. Element
    // sums are accumulated as floor(x * 2^20) integers: the float→double
    // cast and the power-of-two scale are both EXACT, so the sum is
    // order-independent and byte-identical in any engine — no decimal
    // rounding-mode coupling (the usual double-agg oracle hazard).
    "q_embed_centroid" -> { (s, dir) =>
      Tables(s, dir, "embeddings")
        .select(col("label"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("label"), col("pos").cast(LongType).as("pos"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("x").cast(DoubleType) * (1L << 20)).cast(LongType))
            .as("sum_scaled"))
        .orderBy("label", "pos")
    },

    // Johnson-Lindenstrauss random projection (±1 signs) with a
    // distortion AUDIT: every vector is projected 64 -> 16 dims through
    // a hash-derived sign matrix (bit j of one md5 per input dim — 64
    // hashes total, not per row), then each probe x corpus pair's dot
    // product is computed in BOTH spaces. Two audit columns: `ratio`
    // (dot_proj / (k·dot_orig) — ≈1 only when the pair is correlated;
    // it legitimately explodes near orthogonality, so the id_a = id_b
    // rows are its real content: norm preservation) and `err_jl`, the
    // quantity the JL inner-product guarantee actually bounds —
    // (dot_proj/k − dot_orig) / (‖a‖·‖b‖) ∈ ±ε with ε ~ 1/sqrt(k).
    // Every sum is over floor(x·2^20) exact integers — the
    // q_embed_centroid discipline — and the only non-integer ops are
    // IEEE divisions and sqrt (correctly rounded by both engines), so
    // the whole audit is bit-identical cross-engine, unrounded.
    // Scale shape: the sign matrix is a 1024-row broadcast, probes
    // broadcast against the corpus (the ANN-tier pattern), norms join
    // keyed on vec id, and the corpus crosses exchanges only as
    // (vec, dim) integer partials.
    // Maximal Marginal Relevance: greedy diverse top-5 against the
    // vec-0 query, lambda = 0.5 (exactly representable, so 1 - lambda
    // is bit-identical cross-engine). k argmax rows cross the driver;
    // the corpus never shuffles. Oracle = the 5 rounds unrolled in SQL.
    "q_mmr_select" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(VectorOps.toDoubleVec(col("embedding"))).head().getSeq[Double](0)
      VectorOps.mmrSelect(e.filter(col("vec_id") =!= 0), q, k = 5, lambda = 0.5)
        .orderBy("rank")
    },

    // Embedding covariance, upper triangle — the distributed-moments
    // half of PCA (power iteration on the collected d x d matrix is
    // VectorOps.topEigenpair, spec'd in VectorSpec): one pair-keyed
    // grid-exact aggregate, corpus never shuffles. See
    // VectorOps.covarianceUpper for the scale analysis.
    "q_embed_cov" -> { (s, dir) =>
      VectorOps.covarianceUpper(Tables(s, dir, "embeddings"), "embedding")
        .orderBy("i", "j")
    },

    "q_embed_rp" -> { (s, dir) =>
      val kOut = 16
      val xq = Tables(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .select(col("vec_id"), col("pos"),
          floor(col("x").cast(DoubleType) * (1L << 20)).cast(LongType).as("xq"))
        .localCheckpoint()
      val signs = s.range(0, 64).select(col("id").cast(IntegerType).as("pos"),
          call_function("graft_md5_top32",
            concat(lit("rp:"), col("id").cast(StringType))).as("h"))
        .crossJoin(s.range(0, kOut).select(col("id").cast(IntegerType).as("j")))
        .select(col("pos"), col("j"),
          (lit(1L) - lit(2L) *
            call_function("shiftright", col("h"), col("j")).bitwiseAND(lit(1L)))
            .as("sgn"))
      val proj = xq.join(broadcast(signs), Seq("pos"))
        .groupBy(col("vec_id"), col("j"))
        .agg(sum(col("sgn") * col("xq")).as("p"))
        .localCheckpoint()
      val dotOrig = xq
        .select(col("vec_id").as("id_b"), col("pos"), col("xq").as("xb"))
        .join(broadcast(xq.filter(col("vec_id") < 3)
          .select(col("vec_id").as("id_a"), col("pos"), col("xq").as("xa"))),
          Seq("pos"))
        .groupBy("id_a", "id_b").agg(sum(col("xa") * col("xb")).as("dot_orig"))
      val dotProj = proj
        .select(col("vec_id").as("id_b"), col("j"), col("p").as("pb"))
        .join(broadcast(proj.filter(col("vec_id") < 3)
          .select(col("vec_id").as("id_a"), col("j"), col("p").as("pa"))),
          Seq("j"))
        .groupBy("id_a", "id_b").agg(sum(col("pa") * col("pb")).as("dot_proj"))
      val norms = xq.groupBy(col("vec_id"))
        .agg(sum(col("xq") * col("xq")).as("n2"))
      val nprod = sqrt(col("na2").cast(DoubleType) * col("nb2").cast(DoubleType))
      dotOrig.join(dotProj, Seq("id_a", "id_b"))
        .join(broadcast(norms.filter(col("vec_id") < 3)
          .select(col("vec_id").as("id_a"), col("n2").as("na2"))), Seq("id_a"))
        .join(norms.select(col("vec_id").as("id_b"), col("n2").as("nb2")),
          Seq("id_b"))
        .select(col("id_a"), col("id_b"), col("dot_orig"), col("dot_proj"),
          when(col("dot_orig") =!= 0L,
            col("dot_proj").cast(DoubleType) /
              (lit(16.0) * col("dot_orig").cast(DoubleType))).as("ratio"),
          when(col("na2") =!= 0L && col("nb2") =!= 0L,
            (col("dot_proj").cast(DoubleType) / lit(16.0) -
              col("dot_orig").cast(DoubleType)) / nprod).as("err_jl"))
        .orderBy("id_a", "id_b")
    },

    // One full Lloyd iteration (assign + update) over the embeddings:
    // centroids driver-folded as literals, corpus never shuffles for
    // assignment; see VectorOps.kMeansIteration. md5-ordered init +
    // integer-scaled sums keep every step engine-portable, so the
    // WHOLE iteration is oracle-checked, not just the update half
    // (q_embed_centroid).
    "q_kmeans_iter" -> { (s, dir) =>
      VectorOps.kMeansIteration(Tables(s, dir, "embeddings"), kCells = 8)
        .orderBy("cell", "pos")
    },

    // Two rounds of BPE merge induction over the corpus: word-frequency
    // vocab in ONE corpus shuffle, then pair-count / argmax-merge rounds
    // on the vocabulary only (bounded by language, not data size); per
    // round a single chosen pair crosses the driver. The WHOLE two-merge
    // run is oracle-checked — greedy-left merge semantics reproduce
    // exactly in ANSI SQL (see BpeOps).
    "q_bpe_merges" -> { (s, dir) =>
      BpeOps.bpeMerges(Tables(s, dir, "documents"), "text",
        merges = 2, topK = 20)
    },

    // Tokenizer APPLY: encode every document with the 2-round trained
    // merge table, reporting subword counts — the corpus-scale second
    // half of the tokenizer story (training touches only the vocab;
    // encoding is one linear codegen'd string pass, no shuffle).
    "q_bpe_encode" -> { (s, dir) =>
      BpeOps.bpeEncode(Tables(s, dir, "documents"), "text", "doc_id",
        merges = 2)
        .orderBy("doc_id")
    },

    // Inverted-index build: token -> document frequency, postings count,
    // and the first 5 postings (zero-padded "doc:pos" so lexicographic
    // sort = numeric order — %012d:%08d keeps that invariant to 1e12
    // docs x 1e8 positions; format_string WIDENS past the pad width, so
    // a narrow pad would silently mis-sort exactly at the scale this
    // query targets). Two-level aggregate: the (tok, doc) level
    // compacts first — a flat groupBy(tok) with collect_list would ship
    // EVERY posting of a hot token ("the" ~ a constant fraction of a
    // 100 TB corpus) to one reducer, and count_distinct would add an
    // expand + extra shuffle. Here each (tok, doc) contributes a count
    // and at most 5 head postings to the token level, so the hot-key
    // payload is bounded by document frequency, not posting count; the
    // global head-5 equals the merged per-doc head-5s because the sort
    // key is (doc, pos) and each doc keeps its pos-smallest entries.
    "q_inverted_index" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "tok")))
        .groupBy(col("tok"), col("doc_id"))
        .agg(count(lit(1)).as("c"),
          slice(sort_array(collect_list(
            format_string("%012d:%08d", col("doc_id"), col("pos")))), 1, 5)
            .as("head5"))
        .groupBy(col("tok"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("c")).as("n_postings"),
          concat_ws(",", slice(sort_array(flatten(collect_list(col("head5")))), 1, 5))
            .as("postings_head"))
        .orderBy("tok")
    },

    // LSH-bucketed ANN (single-probe) — the 100 TB path; recall vs the
    // brute-force baseline is asserted in VectorSpec.
    "q_embed_ann_lsh" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      VectorOps.lshTopK(e.filter(col("vec_id") < 50), e, k = 5, bits = 4, dim = 64)
        .select(col("q_id"), col("rk"), col("n_id"), col("cos_sim"))
        .orderBy("q_id", "rk")
    },

    // IVF-flat ANN (auto-sized centroid cells, native assignment kernel;
    // sizing count rides the centroid-sample job as an Observation) —
    // the second scale path; recall vs brute force asserted in VectorSpec.
    "q_embed_ann_ivf" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      VectorOps.ivfTopK(e.filter(col("vec_id") < 50), e, k = 5)
        .select(col("q_id"), col("rk"), col("n_id"), col("cos_sim"))
        .orderBy("q_id", "rk")
    },

    // IVF probe of the PERSISTED index (AnnIndex / BucketedTables
    // thesis): centroids Lloyd-trained ONCE at build time and stored as
    // parquet with cell-partitioned postings; the probe reads the stored
    // tables — zero training jobs at query time (ExplainSpec-pinned).
    // The oracle re-derives probe cells, candidates, and exact cosines
    // in DuckDB FROM THE STORED INDEX FILES (read_parquet on
    // centroids/meta/postings), so the persisted bytes are what's
    // verified, not just the algorithm.
    "q_ann_indexed" -> { (s, dir) =>
      val idx = graft.functions.AnnIndex.ensure(s, dir)
      val e = Tables(s, dir, "embeddings")
      graft.functions.AnnIndex.ivfTopK(e.filter(col("vec_id") < 50), idx, k = 5)
        .select(col("q_id"), col("rk"), col("n_id"), col("cos_sim"))
        .orderBy("q_id", "rk")
    },

    // The SAME stored-index IVF probe spelled in Spark SQL through the
    // graft_ann TVF's 'indexed' mode (second argument = the index
    // DIRECTORY, not a table) — SHARES q_ann_indexed's stored-index
    // oracle, so the SQL spelling and the DataFrame probe must agree
    // bit-for-bit on the same persisted bytes.
    "q_ann_indexed_sql" -> { (s, dir) =>
      val idx = graft.functions.AnnIndex.ensure(s, dir)
      Tables(s, dir, "embeddings").filter(col("vec_id") < 50)
        .createOrReplaceTempView("graft_ann_idx_queries")
      s.sql(s"""
        SELECT q_id, rk, n_id, cos_sim
        FROM graft_ann('graft_ann_idx_queries', '$idx', '5', 'indexed')
        ORDER BY q_id, rk""")
    },

    // FILTERED vector search (the production-vector-store shape: "top-k
    // neighbors among rows passing a metadata predicate"): the demo
    // index stores the embeddings' `label` column INLINE in the
    // postings rows (AnnIndex.build attrCols), and the probe's
    // label = 1 predicate is evaluated in the pruned postings SCAN
    // (parquet PushedFilters) before any join — post-filter IVF with
    // zero extra joins, vs the naive plan that joins candidate ids back
    // to the corpus table to re-fetch metadata. The oracle re-derives
    // the filtered probe from the STORED index bytes, predicate
    // included.
    "q_ann_filtered" -> { (s, dir) =>
      val idx = graft.functions.AnnIndex.ensureAttrs(s, dir)
      val e = Tables(s, dir, "embeddings")
      graft.functions.AnnIndex.ivfTopK(e.filter(col("vec_id") < 50), idx,
          k = 5, filter = col("label") === 1)
        .select(col("q_id"), col("rk"), col("n_id"), col("cos_sim"))
        .orderBy("q_id", "rk")
    },

    // The SAME filtered stored-index probe spelled in Spark SQL — the
    // graft_ann TVF's filter_sql argument parsed into the postings-scan
    // predicate. SHARES q_ann_filtered's stored-index oracle, so the
    // SQL spelling and the DataFrame probe must agree bit-for-bit.
    "q_ann_filtered_sql" -> { (s, dir) =>
      val idx = graft.functions.AnnIndex.ensureAttrs(s, dir)
      Tables(s, dir, "embeddings").filter(col("vec_id") < 50)
        .createOrReplaceTempView("graft_ann_filt_queries")
      s.sql(s"""
        SELECT q_id, rk, n_id, cos_sim
        FROM graft_ann('graft_ann_filt_queries', '$idx', '5', 'indexed',
                       'vec_id', 'embedding', 'label = 1')
        ORDER BY q_id, rk""")
    },

    // GUARANTEED-K filtered search (AnnIndex.ivfTopKExactK): the
    // two-phase escalation — normal pruned probe, then the queries left
    // with fewer than k filtered candidates re-score against the full
    // filtered postings (exact search for exactly the queries that need
    // it, as lazy plan branches — no driver loop). The oracle
    // re-derives the same two-phase rule from the stored index bytes,
    // so both the sufficiency split and both rankings are verified.
    "q_ann_filtered_k" -> { (s, dir) =>
      val idx = graft.functions.AnnIndex.ensureAttrs(s, dir)
      val e = Tables(s, dir, "embeddings")
      // nprobe = 1 (single probed cell) makes deficiency REAL at this
      // corpus size, so the escalation branch demonstrably executes and
      // the oracle checks both phases
      graft.functions.AnnIndex.ivfTopKExactK(e.filter(col("vec_id") < 50), idx,
          k = 5, nprobe = 1, filter = col("label") === 1)
        .select(col("q_id"), col("rk"), col("n_id"), col("cos_sim"))
        .orderBy("q_id", "rk")
    },

    // The SAME guaranteed-k filtered probe spelled in Spark SQL — the
    // graft_ann TVF's 'guaranteed_k' mode with filter_sql + nprobe
    // arguments. SHARES q_ann_filtered_k's stored-index oracle, so the
    // SQL spelling reproduces both phases (pruned probe + exact rescore
    // of deficient queries) bit-for-bit.
    "q_ann_filtered_k_sql" -> { (s, dir) =>
      val idx = graft.functions.AnnIndex.ensureAttrs(s, dir)
      Tables(s, dir, "embeddings").filter(col("vec_id") < 50)
        .createOrReplaceTempView("graft_ann_gk_queries")
      s.sql(s"""
        SELECT q_id, rk, n_id, cos_sim
        FROM graft_ann('graft_ann_gk_queries', '$idx', '5', 'guaranteed_k',
                       'vec_id', 'embedding', 'label = 1', '1')
        ORDER BY q_id, rk""")
    },

    // Measured FILTERED-search quality — q_ann_eval's twin for the new
    // tier: the filtered stored-index probe's top-5 vs the exact
    // filtered brute-force top-5 (label-1 corpus scored directly), per
    // query recall@5. Post-filter IVF loses recall when probed cells
    // hold few predicate survivors — this is the measured number that
    // says whether the operating point (nprobe, selectivity) is usable,
    // not a design claim. Both chains are individually oracle-matched;
    // the eval is exact integer set math. At sf0.01 (500 random vectors,
    // default nprobe) it reads avg 0.448 — right under q_ann_eval's
    // unfiltered 0.528 on the same index family, the expected thinning
    // from ~10% predicate selectivity; nprobe is the recovery knob.
    "q_ann_filtered_eval" -> { (s, dir) =>
      val idx = graft.functions.AnnIndex.ensureAttrs(s, dir)
      val e = Tables(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 50)
      val truth = VectorOps.bruteForceTopK(q, e.filter(col("label") === 1), k = 5)
        .select(col("q_id"), col("n_id"))
      val ivf = graft.functions.AnnIndex
        .ivfTopK(q, idx, k = 5, filter = col("label") === 1)
        .select(col("q_id").as("iq"), col("n_id").as("in"))
      truth.join(ivf, col("q_id") === col("iq") && col("n_id") === col("in"),
          "left")
        .groupBy("q_id")
        .agg(count(col("in")).as("hits"), count(lit(1)).as("k"))
        .select(col("q_id"), col("hits"),
          round(col("hits").cast(DoubleType) / col("k"), 6).as("recall"))
        .orderBy("q_id")
    },

    // Index MAINTENANCE: the same IVF probe over an index copy with
    // every vec_id % 41 tombstone-deleted (AnnIndex.delete — O(batch)
    // append, no postings rewrite; vacuum reclaims on a cadence,
    // spec-pinned identical). The oracle excludes the STORED tombstones
    // table from the STORED postings, so the persisted deletion bytes
    // are verified, and deleted ids must vanish from every top-k.
    "q_ann_index_delete" -> { (s, dir) =>
      val idx = graft.functions.AnnIndex.ensureDeleted(s, dir)
      val e = Tables(s, dir, "embeddings")
      graft.functions.AnnIndex.ivfTopK(e.filter(col("vec_id") < 50), idx, k = 5)
        .select(col("q_id"), col("rk"), col("n_id"), col("cos_sim"))
        .orderBy("q_id", "rk")
    },

    // Index STALENESS audit (AnnIndex.driftStats): per stored cell, how
    // many postings rows would no longer land there under the CURRENT
    // centroids — the number that schedules reassignment/retraining.
    // The demo index is built with sample centroids then Lloyd-retrained
    // in place (postings keep stale assignments), so there is real
    // divergence; the oracle recomputes every row's nearest centroid in
    // DuckDB FROM THE STORED centroids + postings.
    "q_ann_index_drift" -> { (s, dir) =>
      graft.functions.AnnIndex.driftStats(
        s, graft.functions.AnnIndex.ensureDrifted(s, dir))
    },

    // PQ-ADC probe of the SAME persisted index: codebook off the stored
    // meta row, compressed codes off postings — no sample scan, no
    // Lloyd, no base-corpus read anywhere in the plan. Oracle re-scores
    // the stored codes against the stored codebook in DuckDB.
    "q_ann_indexed_pq" -> { (s, dir) =>
      val idx = graft.functions.AnnIndex.ensure(s, dir)
      val e = Tables(s, dir, "embeddings")
      graft.functions.AnnIndex.pqTopK(e.filter(col("vec_id") < 50), idx, k = 5)
        .select(col("q_id"), col("rk"), col("n_id"), col("score"))
        .orderBy("q_id", "rk")
    },

    // Measured ANN quality — the vector twin of q_lsh_eval: IVF top-5
    // vs the exact brute-force top-5 as ground truth, per-query
    // recall@5. An AUDIT query by construction (it runs BOTH the
    // approximate and the exact pipeline on one corpus — its cost is
    // q_embed_ann_ivf + q_embed_cosine_topk back to back), closing the
    // same loop for the vector tier that q_lsh_eval closes for LSH
    // dedup: the recall an operating point delivers is a measured,
    // oracle-checked number, not a design claim. Both pipelines are
    // individually oracle-matched (annIvfOracle / the brute CTE), so
    // the eval just set-intersects their id lists — exact integer math.
    "q_ann_eval" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 50)
      val truth = VectorOps.bruteForceTopK(q, e, k = 5)
        .select(col("q_id"), col("n_id"))
      val ivf = VectorOps.ivfTopK(q, e, k = 5)
        .select(col("q_id").as("iq"), col("n_id").as("in"))
      truth.join(ivf, col("q_id") === col("iq") && col("n_id") === col("in"),
          "left")
        .groupBy("q_id")
        .agg(count(col("in")).as("hits"), count(lit(1)).as("k"))
        .select(col("q_id"), col("hits"),
          round(col("hits").cast(DoubleType) / col("k"), 6).as("recall"))
        .orderBy("q_id")
    },

    // PQ-ADC ANN: the corpus is scanned as M=8 sub-codes per row (the
    // compressed domain — 8 ints instead of 64 floats meet the broadcast
    // query side), scored by table lookup. trainRounds=0 keeps the
    // codebook a deterministic md5-ordered sample, so the DuckDB oracle
    // re-derives the ENTIRE pipeline (codebook, codes, tables, scores)
    // bit-for-bit; recall/rerank quality is VectorSpec's job.
    "q_embed_pq" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      VectorOps.pqTopK(e.filter(col("vec_id") < 50), e, k = 5, dsub = 8, ksub = 16)
        .select(col("q_id"), col("rk"), col("n_id"), col("score"))
        .orderBy("q_id", "rk")
    },

    // IVF+PQ composed (the FAISS IVFPQ architecture): coarse cells prune
    // WHICH rows are scanned, PQ compresses WHAT a scanned row costs.
    // Deterministic sample codebooks -> the oracle re-derives the whole
    // two-tier pipeline in SQL.
    "q_embed_ivfpq" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      VectorOps.ivfPqTopK(e.filter(col("vec_id") < 50), e, k = 5, dsub = 8, ksub = 16)
        .select(col("q_id"), col("rk"), col("n_id"), col("score"))
        .orderBy("q_id", "rk")
    },

    // Embedding near-dup pairs above a cosine threshold, LSH-bucketed.
    // Self-match excluded; synthetic corpus has no near-dups (planted
    // ones covered in DedupSpec), so threshold is low to keep rows.
    "q_embed_neardup" -> { (s, dir) =>
      DedupOps.embeddingNearDupPairs(Tables(s, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.3, bits = 4, dim = 64)
        .select(col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b")
    },

    // SemDeDup semantic dedup: cluster by nearest coarse centroid
    // (md5-sampled, native kernel — auto ~256-vector cells), drop any
    // vector with a smaller-id same-cell neighbor at cosine >= 0.3.
    // Synthetic corpus has no true semantic dups, so the threshold is
    // low to keep the drop path exercised; planted-dup behavior is
    // covered in DedupSpec.
    "q_semdedup" -> { (s, dir) =>
      DedupOps.semDedup(Tables(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.3)
        .select(col("id").as("vec_id"), col("cell"))
        .orderBy("vec_id")
    },

    // The SAME semantic dedup spelled in Spark SQL through the
    // graft_semdedup TVF (r19 — SQL parity for the vector dedup tier,
    // closing the last bespoke operator without a SQL surface) — SHARES
    // q_semdedup's end-to-end pipeline oracle.
    "q_semdedup_sql" -> { (s, dir) =>
      Tables(s, dir, "embeddings")
        .createOrReplaceTempView("graft_semdedup_vecs")
      s.sql("""
        SELECT vec_id, cell
        FROM graft_semdedup('graft_semdedup_vecs', 'vec_id', 'embedding', 0.3)
        ORDER BY vec_id""")
    },

    // Text statistics: token counts, length, diversity, punct/stopword
    // ratios — one codegen'd pass, no shuffle.
    "q_text_stats" -> { (s, dir) =>
      Tables(s, dir, "documents").select(
        col("doc_id"),
        length(col("text")).cast(LongType).as("n_chars"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.tokenCountBpeIsh(col("text")).as("n_tokens_bpeish"),
        size(array_distinct(TextOps.tokens(col("text")))).cast(LongType).as("n_distinct_tokens"),
        TextOps.stopwordCount(col("text")).as("n_stopwords"))
        .orderBy("doc_id")
    },

    // The ingest tier's SQL spelling: graft_ingest's 'clean' mode is the
    // downstream-table shape (quarantine filtered, corrupt column
    // dropped), so the per-language rollup re-derives from the original
    // parquet with the corruption rule inverted.
    "q_ingest_sql" -> { (s, dir) =>
      // explicit (idempotent) registration: every other query reaches it
      // through Tables(), but ensureJsonl only touches Tables on a cache
      // MISS — a warm corpus would otherwise leave a plain session
      // without the TVF registry
      graft.functions.GraftFunctions.register(s)
      val path = graft.ops.IngestOps.ensureJsonl(s, dir)
      s.sql(s"""
        SELECT lang, count(*) AS n_docs,
          sum(length(text)) AS n_chars
        FROM graft_ingest('$path', 'clean')
        GROUP BY lang ORDER BY lang""")
    },

    // Robust JSONL ingestion (IngestOps): permissive parse with
    // corrupt-record quarantine + schema-drift tolerance, the front door
    // of every crawl-fed pipeline. The derived corpus deterministically
    // truncates every doc_id % 37 line (quarantine population) and adds
    // an unknown "_extra" field to surviving % 11 lines (must parse
    // clean) — so the oracle re-derives the split and the clean rows'
    // content from the original parquet. The parse is one codegen'd
    // scan; the clean/quarantine split is a filter on _corrupt_record.
    "q_jsonl_ingest" -> { (s, dir) =>
      val parsed = graft.ops.IngestOps.readJsonlQuarantine(
        s, graft.ops.IngestOps.ensureJsonl(s, dir))
      // two-level aggregate: the corpus-sized line stream combines
      // map-side into the per-(status, lang, source) frame; the
      // multi-distinct Expand runs over THAT tag-domain-sized frame
      // (expandAllow-justified), never the raw lines
      parsed
        .groupBy(when(col("_corrupt_record").isNotNull, "quarantined")
          .otherwise("ok").as("status"), col("lang"), col("source"))
        .agg(count(lit(1)).as("n"),
          sum(coalesce(length(col("text")).cast(LongType), lit(0L))).as("chars"))
        .groupBy("status")
        .agg(sum(col("n")).as("n_docs"),
          sum(col("chars")).as("n_chars"),
          count_distinct(col("lang")).as("n_langs"),
          count_distinct(col("source")).as("n_sources"))
        .orderBy("status")
    },

    // Exact-substring dedup signal (RefinedWeb/MassiveText-style) at
    // token-window granularity: every 8-token span is counted corpus-wide
    // and each doc reports what fraction of its spans occur more than
    // once globally. The span key is the native graft_shingle_hashes
    // 64-bit chained token hash — no span STRING is ever materialized
    // (the concat_ws/transform + xxhash64(str) formulation costs ~2 s
    // more at sf0.1, and at 100 TB the shuffle rows are 16 bytes instead
    // of ~50). Window-count over the hash instead of groupBy + self-join:
    // one shuffle total. A 64-bit collision would conflate two spans —
    // odds ~ |spans|^2/2^64, immaterial.
    "q_span_dedup" -> { (s, dir) =>
      val d = Tables(s, dir, "documents")
      val byHash = Window.partitionBy(col("h"))
      val per = d
        .select(col("doc_id"),
          explode(call_function("graft_shingle_hashes",
            TextOps.tokens(col("text")), lit(8), lit(42L))).as("h"))
        .withColumn("n", count(lit(1)).over(byHash))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_dup_spans"))
      d.select(col("doc_id")).join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
          when(coalesce(col("n_spans"), lit(0L)) === 0, lit(0.0))
            .otherwise(col("n_dup_spans") / col("n_spans")).as("dup_frac"))
        .orderBy("doc_id")
    },

    // Benchmark decontamination (the GPT-3/PaLM eval-overlap pass): flag
    // every training document sharing an exact 8-token span with the
    // held-out benchmark set (doc_id % 50 == 0 stands in for the eval
    // suite). The benchmark side is TINY relative to the corpus (eval
    // suites are MBs against 100 TB), so its distinct span hashes
    // BROADCAST: corpus spans are probed map-side and never shuffle
    // (contrast q_span_dedup, whose corpus-wide window must). Span key =
    // native graft_shingle_hashes 64-bit chained token hash — no span
    // string materialized; the oracle joins span STRINGS, identical
    // result bar ~|spans|^2/2^64 collision odds.
    "q_decontaminate" -> { (s, dir) =>
      val d = Tables(s, dir, "documents")
      def spans(df: DataFrame) = df.select(col("doc_id"),
        explode(call_function("graft_shingle_hashes",
          TextOps.tokens(col("text")), lit(8), lit(42L))).as("h"))
      val bench = spans(d.filter(col("doc_id") % 50 === 0)).select("h").distinct()
      val hits = spans(d.filter(col("doc_id") % 50 =!= 0))
        .join(broadcast(bench), Seq("h"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated_spans"))
      d.filter(col("doc_id") % 50 =!= 0).select(col("doc_id"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_contaminated_spans"), lit(0L)).as("n_contaminated_spans"),
          (coalesce(col("n_contaminated_spans"), lit(0L)) > 0).as("contaminated"))
        .orderBy("doc_id")
    },

    // FUZZY benchmark decontamination — the third leg of the decontam
    // trio (exact spans: q_decontaminate; embeddings: q_embed_decontam):
    // an eval document that was paraphrased or truncated into the
    // training set shares no exact 8-token span, but its MinHash bands
    // still collide. Same engine-portable md5 signature scheme as
    // q_minhash_est (16 perms from 4 digests, 8 bands x 2 rows); the
    // benchmark side is MBs against a 100 TB corpus, so its bands AND
    // its shingle sets broadcast — train-side signatures are computed in
    // one shingle scan and probed map-side; only band-collision
    // CANDIDATES (a vanishing fraction of the corpus) ever reach the
    // exact-Jaccard verify join. Flag = verified 3-gram Jaccard >= 0.5
    // against the best-matching benchmark doc (ties: min bench id).
    "q_fuzzy_decontam" -> { (s, dir) =>
      val d = Tables(s, dir, "documents")
      fuzzyDecontam(
        d.filter(col("doc_id") % 50 =!= 0), d.filter(col("doc_id") % 50 === 0))
    },

    // C4-style per-domain cap: keep at most 15 documents per source,
    // chosen by a deterministic md5 shuffle (engine-portable "random"
    // subset — same winners under any partitioning or engine). One rank
    // window keyed on source; the heavy-tail domain that motivates the
    // cap is also the window's skew key, but the cost is bounded by the
    // PRE-cap per-domain count and the rank never materializes more
    // than the partition — WindowGroupLimit pushes the rk<=15 filter
    // into the sort at the executor.
    "q_domain_cap" -> { (s, dir) =>
      val w = Window.partitionBy(col("source"))
        .orderBy(md5(col("doc_id").cast(StringType)), col("doc_id"))
      Tables(s, dir, "documents")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 15)
        .select(col("source"), col("rk").cast(LongType).as("rk"), col("doc_id"))
        .orderBy("source", "rk")
    },

    // Sequence packing: greedy assignment of documents to fixed
    // token-budget training bins via a running token sum, SHARD-LOCAL
    // (partitioned by source) — a global cumulative sum would serialize
    // the corpus through one partition; per-shard packing is how a
    // 100 TB corpus actually assembles sequences (each shard packs
    // independently, bin ids are (shard, local_bin)).
    "q_seq_pack" -> { (s, dir) =>
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_tok"))
        .withColumn("cum", sum(col("n_tok")).over(w))
        // bin by tokens BEFORE this doc: a doc straddling the boundary
        // goes to the bin it started in
        .withColumn("bin", floor((col("cum") - col("n_tok")) / 2048).cast(LongType))
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy("source", "bin")
    },

    // Gopher-style repetition signals, fully in-row (ZERO shuffles
    // before the output sort): top-unigram count = graft_max_run over
    // the codegen-sorted token array (max run of equals in a sorted
    // array = max frequency), dup-bigram fraction over the in-row bigram
    // array. The earlier explode + groupBy(doc,tok) + groupBy(doc) form
    // shuffled exploded tokens twice and was the worst scaler of the
    // 100x smoke (9.2x wall); this form scales like the per-row text
    // stats (~2x).
    "q_repetition" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.tokens(col("text")).as("toks"),
          TextOps.bigrams(col("text")).as("bg"))
        .select(col("doc_id"),
          size(col("toks")).cast(LongType).as("n_tokens"),
          call_function("graft_max_run", sort_array(col("toks"))).as("top_c"),
          size(col("bg")).cast(LongType).as("n_bigrams"),
          size(array_distinct(col("bg"))).cast(LongType).as("n_dist"))
        .select(col("doc_id"), col("n_tokens"),
          (col("top_c") / col("n_tokens")).as("top_tok_frac"),
          when(col("n_bigrams") === 0, lit(0.0))
            .otherwise(lit(1.0) - col("n_dist") / col("n_bigrams"))
            .as("dup_bigram_frac"))
        .orderBy("doc_id")
    },

    // Language-ID heuristic (marker argmax) + quality score.
    "q_lang_quality" -> { (s, dir) =>
      Tables(s, dir, "documents").select(
        col("doc_id"), col("lang"),
        TextOps.langId(col("text")).as("pred_lang"),
        round(TextOps.qualityScore(col("text")), 6).as("quality"))
        .orderBy("doc_id")
    },

    // Character-n-gram language ID — the profile-based classifier family
    // (vs the marker-word argmax of q_lang_quality); profiles are
    // deterministic trigram sets, scoring is one codegen'd pass.
    "q_lang_ngram" -> { (s, dir) =>
      Tables(s, dir, "documents").select(
        col("doc_id"), col("lang"),
        TextOps.langIdNgram(col("text")).as("pred_lang"))
        .orderBy("doc_id")
    },

    // Labeler-drift audit: confusion matrix of the shipped `lang` label
    // against the trigram-profile prediction, with per-label row shares
    // — the dataset-card number behind "N% of docs tagged en look like
    // de". In-row prediction, one (lang, pred)-keyed aggregate, share
    // window over the |langs|²-bounded matrix.
    "q_lang_confusion" -> { (s, dir) =>
      val m = Tables(s, dir, "documents")
        .select(col("lang"), TextOps.langIdNgram(col("text")).as("pred_lang"))
        .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("lang")
      m.withColumn("frac",
          round(col("n").cast(DoubleType) / sum(col("n")).over(w), 6))
        .orderBy("lang", "pred_lang")
    },

    // Multinomial Naive Bayes language classifier, trained on the
    // doc_id % 5 != 0 split and scored on the held-out fifth: per-class
    // Laplace-smoothed token log-likelihoods ln((cnt+1)/(N_c+V)) over
    // the TRAIN vocabulary (held-out tokens outside it contribute
    // nothing — the standard closed-vocabulary convention, mirrored in
    // the oracle), plus the class log-prior. Every cross-row float sum
    // rides the 1e9 grid (GridSum) so the per-doc class scores are
    // exact BIGINTs in both engines and the argmax is tie-stable.
    // Scale shape: the train token stream crosses once into the
    // (lang, tok) count; the smoothing grid is vocab x |langs| built
    // from broadcast class dimensions; scoring joins the held-out
    // token frame to the grid token-keyed — never corpus x corpus.
    "q_naive_bayes" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val train = docs.filter(col("doc_id") % 5 =!= 0)
      val test = docs.filter(col("doc_id") % 5 === 0)
      val trainToks = train.select(
        col("lang"), explode(TextOps.tokens(col("text"))).as("tok"))
      // The train corpus explodes exactly ONCE, into the vocab x
      // |langs|-bounded count frame; class totals, the vocab list, and
      // V all derive from this checkpoint, never from a re-scan.
      val cnt = trainToks.groupBy(col("lang"), col("tok"))
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val nc = cnt.groupBy(col("lang")).agg(sum(col("cnt")).as("n_c"))
      val vocabToks = cnt.select(col("tok")).distinct()
      val vocabN = vocabToks.agg(count(lit(1)).as("v"))
      val logPrior = train.groupBy(col("lang")).agg(count(lit(1)).as("n_docs_c"))
        .crossJoin(broadcast(train.agg(count(lit(1)).as("n_docs"))))
        .select(col("lang"),
          floor((log(col("n_docs_c")) - log(col("n_docs"))) * GridSum.Grid
            + lit(0.5)).cast(LongType).as("prior_g"))
      val grid = vocabToks
        .crossJoin(broadcast(nc))
        .join(cnt, Seq("tok", "lang"), "left")
        .crossJoin(broadcast(vocabN))
        .select(col("tok"), col("lang"),
          (log(coalesce(col("cnt"), lit(0L)) + 1) -
            log(col("n_c") + col("v"))).as("logp"))
      val testToks = test.select(col("doc_id"), col("lang").as("actual_lang"),
          explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("actual_lang"), col("tok"))
        .agg(count(lit(1)).as("tf"))
      val scored = testToks.join(grid, Seq("tok"))
        .groupBy(col("doc_id"), col("actual_lang"), col("lang"))
        .agg(GridSum.exactGridSum(col("tf") * col("logp")).as("gsum"))
        .join(broadcast(logPrior), Seq("lang"))
        .withColumn("sg", col("gsum") + col("prior_g"))
      val byScore = Window.partitionBy(col("doc_id"))
        .orderBy(col("sg").desc, col("lang").asc)
      scored.withColumn("rk", row_number().over(byScore))
        .filter(col("rk") === 1)
        .select(col("doc_id"), col("actual_lang"), col("lang").as("pred_lang"),
          round(GridSum.fromGrid(col("sg")), 6).as("score"))
        .orderBy("doc_id")
    },

    // Winnowing fingerprint sets (rolling-hash; no DuckDB twin → rows
    // only; copy-detection property proven in TextOpsSpec).
    "q_winnow" -> { (s, dir) =>
      Tables(s, dir, "documents").select(
        col("doc_id"),
        size(TextOps.winnowFingerprints(col("text"))).cast(LongType).as("n_fps"),
        element_at(TextOps.winnowFingerprints(col("text")), 1).as("first_fp"))
        .orderBy("doc_id")
    },

    // Document fingerprint over normalized text.
    "q_fingerprint" -> { (s, dir) =>
      Tables(s, dir, "documents").select(
        col("doc_id"),
        TextOps.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    },

    // Global vocabulary top-k — the tokenizer-building histogram. The
    // canonical skewed aggregation at corpus scale: map-side partial
    // counts absorb the head tokens before the one shuffle, and the
    // top-k is TakeOrderedAndProject (no global sort materialized).
    "q_vocab_topk" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("token")).limit(100)
    },

    // Out-of-vocabulary rate per source against a top-1000 learned
    // vocabulary — the tokenizer-fit check (a source whose OOV rate
    // spikes will fragment into byte-fallback tokens and train poorly).
    // The vocab is a deterministic top-k cut (freq desc, token asc —
    // TakeOrderedAndProject, map-side partial) and BROADCASTS: the
    // corpus token stream is probed map-side with a left join and never
    // shuffles on token; one (source)-keyed aggregate ends the plan.
    "q_oov_rate" -> { (s, dir) =>
      val d = Tables(s, dir, "documents")
      oovRate(d, d)
    },

    // Truncation-loss accounting at a 256-token context: tokens lost and
    // documents clipped per source if the corpus were packed at that
    // length — the budgeting number behind every max_seq_len choice.
    // Pure per-row arithmetic folded into one source-keyed aggregate.
    "q_trunc_loss" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("source"),
          size(TextOps.tokens(col("text"))).cast(LongType).as("nt"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nt")).as("total_tokens"),
          sum(greatest(col("nt") - 256L, lit(0L))).as("truncated_tokens"),
          sum(when(col("nt") > 256, 1L).otherwise(0L)).as("n_truncated_docs"))
        .select(col("source"), col("n_docs"), col("total_tokens"),
          col("truncated_tokens"), col("n_truncated_docs"),
          round(col("truncated_tokens").cast(DoubleType) / col("total_tokens"), 6)
            .as("trunc_frac"))
        .orderBy("source")
    },

    // TF-IDF top term per document. idf kept rational (n_docs/df, no
    // log) so both engines compute bit-identical doubles; the corpus
    // size joins in as a broadcast scalar, never a driver-side collect.
    "q_tfidf_top" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val tf = docs
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      // Document frequency as a window count over tf: a groupBy+join
      // formulation BRANCHES the tf subtree, and Catalyst re-plans the
      // token explode + aggregate under each branch (aggregated subtrees
      // are not shared after optimization) — tokens were exploded twice
      // and the plan carried an extra exchange. The window form scans
      // and explodes once; df values are identical (count of tf rows per
      // term), so the oracle is unchanged.
      val wTerm = org.apache.spark.sql.expressions.Window.partitionBy("term")
      val total = docs.agg(count(lit(1)).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(desc("tfidf"), asc("term"))
      tf.withColumn("df", count(lit(1)).over(wTerm))
        .crossJoin(broadcast(total))
        .withColumn("tfidf", col("tf") * (col("n_docs").cast(DoubleType) / col("df")))
        .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("doc_id"), col("term").as("top_term"), col("tfidf"))
        .orderBy("doc_id")
    },

    // PII-style scrubbing: mask digit runs, count the redactions —
    // one codegen'd pass, the fingerprint proves byte-identical output.
    "q_pii_redact" -> { (s, dir) =>
      Tables(s, dir, "documents").select(
        col("doc_id"),
        regexp_count(col("text"), lit("[0-9]+")).cast(LongType).as("n_redacted"),
        md5(regexp_replace(col("text"), "[0-9]+", "#")).as("redacted_md5"))
        .orderBy("doc_id")
    },

    // Multimodal: blob metadata (oracle-checkable half of media handling).
    "q_blob_meta" -> { (s, dir) =>
      val d = MultimodalOps.withBlob(Tables(s, dir, "documents"), "text")
      MultimodalOps.blobMeta(d, "doc_id", "blob").orderBy("doc_id")
    },

    // Multimodal: one-to-many frame sampling through the batched
    // plumbing. Oracle-checked end to end: the stub codec's frame count
    // and per-frame slice bounds are pure byte math, re-derived in SQL
    // (fakeCodecCte); stride/shape additionally proven in MultimodalSpec.
    "q_media_frames" -> { (s, dir) =>
      import org.apache.spark.sql.Encoders
      val d = MultimodalOps.withBlob(Tables(s, dir, "documents"), "text")
        .filter(col("doc_id") % 3 === 2) // the "video" subset
        .select(col("doc_id").as("media_id"), lit("video").as("kind"), col("blob"))
        .as(Encoders.product[MultimodalOps.MediaRow])
      MultimodalOps.sampleFrames(s, d, everyNth = 50).toDF()
        .select(col("media_id"), col("frame_idx").cast(LongType).as("frame_idx"),
          length(col("frame")).cast(LongType).as("n_frame_bytes"))
        .orderBy("media_id", "frame_idx")
    },

    // Multimodal near-dup scan by perceptual hash: 64-bit average-hash
    // per blob (MultimodalOps.pHash64 through the batched codec
    // plumbing — integer-exact byte math, so the oracle re-derives it in
    // SQL), indexed by 4x16-bit bands: media sharing ANY band are
    // candidates (the simhash-index argument applied to media — within
    // hamming 3 a band survives intact, so dup-radius recall is exact;
    // farther pairs surface only when a band happens to agree). Each
    // media reports its NEAREST band-sharing candidate + distance and an
    // is_dup flag at radius 3 — the review-queue shape (pairs to
    // inspect, not just pairs to drop). Candidate buckets are 16-bit
    // keyed (65k values), so bucket sizes stay sub-quadratic at fleet
    // scale; the hash pass is checkpointed before the band self-join
    // (object-op subtrees re-execute per branch).
    "q_media_phash" -> { (s, dir) =>
      import org.apache.spark.sql.Encoders
      // fanOut tried and REVERTED (r20): the pHash codec pass is cheap
      // at this corpus size — the repartition's exchange cost more than
      // the serialization it removed (quiet 0.39 s -> 0.83 s measured).
      val d = MultimodalOps.withBlob(
          Tables(s, dir, "documents").select("doc_id", "text"), "text")
        .select(col("doc_id").as("media_id"),
          lit("image").as("kind"), col("blob"))
        .as(Encoders.product[MultimodalOps.MediaRow])
      val ph = MultimodalOps.perceptualHashes(s, d).toDF().localCheckpoint()
      val bands = ph.select(col("media_id"), col("phash"), explode(array(
          (0 until 4).map(b => struct(lit(b).as("band"),
            shiftrightunsigned(col("phash"), 16 * b)
              .bitwiseAND(lit(0xffffL)).as("key"))): _*)).as("bk"))
        .select(col("media_id"), col("phash"),
          col("bk.band").as("band"), col("bk.key").as("key"))
      val cand = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.media_id") < col("b.media_id"))
        .select(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"),
          col("a.phash").as("pa"), col("b.phash").as("pb"))
        .distinct()
        .withColumn("hamming",
          bit_count(col("pa").bitwiseXOR(col("pb"))).cast(LongType))
      val sym = cand.select(col("id_a").as("media_id"),
          col("id_b").as("nn_id"), col("hamming"))
        .unionAll(cand.select(col("id_b").as("media_id"),
          col("id_a").as("nn_id"), col("hamming")))
      // per-media argmin over its (bounded) candidate bucket — a keyed
      // window, never global
      val w = Window.partitionBy("media_id")
        .orderBy(col("hamming").asc, col("nn_id").asc)
      sym.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("media_id"), col("nn_id"), col("hamming"),
          (col("hamming") <= 3).as("is_dup"))
        .orderBy("media_id")
    },

    // Near-dup PAIRS -> duplicate CLUSTERS: connected components over the
    // exact n-gram Jaccard edge list (distributed min-label propagation
    // with pointer jumping, GraphOps). cluster_id = min doc_id of the
    // component — the canonical "keep one per cluster" key. The edge
    // stage is CONNECTIVITY MODE (DedupSpec pins cluster equality with
    // the all-pairs contract): clone groups contribute a gid→member
    // star (g−1 edges) instead of a g²/2 clique and cross-group pairs
    // stay at representative level, so the edge build is LINEAR in
    // clone-group size — a 10⁶-member boilerplate group emits 10⁶
    // edges, not 5·10¹¹ (r17 verdict's last named 100 TB killer). The
    // oracle recomputes components from the full clique, which CC is
    // invariant to — a wrong star would flip the hash.
    "q_dup_clusters" -> { (s, dir) =>
      val pairs = DedupOps.ngramJaccardConnectivityEdges(
        Tables(s, dir, "documents"), "doc_id", "text", threshold = 0.05, n = 3)
      graft.operators.GraphOps.dupClusters(pairs)
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
    },

    // The SAME clustering spelled in Spark SQL through the
    // graft_dup_clusters TVF (r18) — the SQL parity surface for the
    // near-dup tier, riding the identical connectivity-mode edge build.
    // SHARES q_dup_clusters' full-clique CC oracle.
    "q_dup_clusters_sql" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .createOrReplaceTempView("graft_dupc_docs")
      s.sql("""
        SELECT doc_id, cluster_id
        FROM graft_dup_clusters('graft_dupc_docs', 'doc_id', 'text', 0.05)
        ORDER BY doc_id""")
    },

    // The TVF's 'dedup' mode: the complete near-dedup pass in one SQL
    // call — SHARES q_dedup_full's base-table oracle.
    "q_dedup_full_sql" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .createOrReplaceTempView("graft_dupf_docs")
      s.sql("""
        SELECT doc_id, lang
        FROM graft_dup_clusters('graft_dupf_docs', 'doc_id', 'text', 0.05, 'dedup')
        ORDER BY doc_id""")
    },

    // B-cubed evaluation of the near-dup clustering against exact-dup
    // gold truth (md5 groups): per-document precision/recall/F1 averaged
    // over the corpus — the dedup-quality metric that neither collapses
    // under one giant cluster nor rewards shattering. Docs outside every
    // predicted cluster are singletons (coalesce to self).
    "q_bcubed" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      // connectivity edges: CC-equal to the all-pairs contract (see
      // q_dup_clusters) — bcubed only consumes the cluster assignment
      val pairs = DedupOps.ngramJaccardConnectivityEdges(docs, "doc_id",
        "text", threshold = 0.05, n = 3)
      val pred = graft.operators.GraphOps.dupClusters(pairs)
        .select(col("id").as("doc_id"), col("cluster_id"))
      val assign = docs.select(col("doc_id"), md5(col("text")).as("h"))
        .withColumn("g", min(col("doc_id")).over(Window.partitionBy(col("h"))))
        .join(pred, Seq("doc_id"), "left")
        .select(coalesce(col("cluster_id"), col("doc_id")).as("c"), col("g"))
      DedupOps.bcubed(assign)
    },

    // The complete near-dedup pass: pairs -> clusters -> corpus minus
    // every non-canonical cluster member (keep the min doc_id). The
    // loser set is tiny relative to the corpus, so the final step is a
    // cheap left-anti join against a narrow id list.
    "q_dedup_full" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      // connectivity edges: loser selection reads only cluster
      // membership (CC-invariant to the star rewrite, q_dup_clusters)
      val pairs = DedupOps.ngramJaccardConnectivityEdges(docs, "doc_id",
        "text", threshold = 0.05, n = 3)
      val losers = graft.operators.GraphOps.dupClusters(pairs)
        .filter(col("id") =!= col("cluster_id"))
        .select(col("id").as("doc_id"))
      docs.join(losers, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    },

    // Canonical-document selection per duplicate cluster — the policy
    // step between q_dup_clusters and q_dedup_full: instead of blindly
    // keeping the min doc_id, keep the LONGEST member (truncated scrapes
    // and paywall stubs lose to the full article; ties: min doc_id).
    // One argmax struct-min per cluster — no window, no second pass:
    // (-n_tokens, doc_id) min is lexicographic argmax-by-length, the
    // same one-shuffle shape whatever the quality key becomes.
    "q_cluster_canonical" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      // connectivity edges: canonical selection is per-cluster
      // (CC-invariant to the star rewrite, q_dup_clusters)
      val pairs = DedupOps.ngramJaccardConnectivityEdges(docs, "doc_id",
        "text", threshold = 0.05, n = 3)
      val clusters = graft.operators.GraphOps.dupClusters(pairs)
        .select(col("id").as("doc_id"), col("cluster_id"))
      clusters.join(docs.select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast(LongType).as("n_tokens")),
          Seq("doc_id"))
        .groupBy("cluster_id")
        .agg(min(struct((-col("n_tokens")).as("neg"), col("doc_id").as("id"))).as("m"),
          count(lit(1)).as("n_members"))
        .select(col("cluster_id"), col("m.id").as("canonical_doc_id"),
          (-col("m.neg")).as("canonical_tokens"), col("n_members"))
        .orderBy("cluster_id")
    },

    // LEAKAGE-SAFE train/valid split: the split key is the duplicate
    // CLUSTER, not the document — a doc_id-keyed split puts near-copies
    // of one article on both sides and the validation loss silently
    // measures memorization (the classic contaminated-split bug).
    // Cluster assignment reuses the Jaccard pair build; singletons fall
    // back to their own id (coalesce). Same md5 hash-split primitive as
    // q_sample_stratified, so the split stays auditable and
    // engine/layout-independent; every member of a cluster lands on the
    // SAME side by construction.
    "q_leakage_safe_split" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      // connectivity edges: the split key is the cluster id
      // (CC-invariant to the star rewrite, q_dup_clusters)
      val pairs = DedupOps.ngramJaccardConnectivityEdges(docs, "doc_id",
        "text", threshold = 0.05, n = 3)
      val clusters = GraphOps.dupClusters(pairs)
        .select(col("id").as("doc_id"), col("cluster_id"))
      docs.select("doc_id").join(clusters, Seq("doc_id"), "left")
        .withColumn("split_key", coalesce(col("cluster_id"), col("doc_id")))
        .withColumn("split",
          when(graft.ops.CoreOps.hashSample(col("split_key"), lit("1")),
            "valid").otherwise("train"))
        .select(col("doc_id"), col("split_key"), col("split"))
        .orderBy("doc_id")
    },

    // Cluster-once, read-many (r19): the CC consumers re-expressed
    // against the PERSISTED assignment table (DupClusterStore — the
    // AnnIndex/BucketedTables fixture discipline, content-tagged per
    // (corpus, threshold)). At 100 TB the marginal consumer is a keyed
    // probe of a |clustered docs|-sized table instead of its own edge
    // build + connected components — five redundant corpus passes
    // collapse to one. The self-contained registrations above keep the
    // full pipeline-under-oracle contract; these verify the STORED
    // bytes: their oracles read the assignment parquet directly and
    // DupClusterStoreSpec pins stored ≡ recomputed bit-for-bit.
    // The INCREMENTAL path under the oracle gate (r19): the store is
    // built on the lower half of the id range and the upper half is
    // absorbed through maintainIncremental — every assignment row
    // flowed through the incremental machinery (joiner hash-resolution,
    // stored-index edges, star-compressed re-closure, ledgered swap) —
    // while the oracle recomputes the FULL clustering from the raw
    // corpus in DuckDB. Incremental == rebuild is thus driver-gated,
    // not just spec-pinned.
    "q_dup_clusters_inc" -> { (s, dir) =>
      val root = graft.operators.DupClusterStore.ensureIncrementalDemo(s, dir)
      graft.operators.DupClusterStore.assignmentsIncremental(s, root)
        .orderBy("doc_id")
    },

    // The SAME stored assignment through the graft_dup_clusters_store
    // TVF (SQL parity for the incremental store — the graft_ann
    // directory-argument pattern); SHARES q_dup_clusters_inc's
    // full-clustering oracle.
    "q_dup_clusters_inc_sql" -> { (s, dir) =>
      val root = graft.operators.DupClusterStore.ensureIncrementalDemo(s, dir)
      // explicit registration: unlike the other TVF queries this one
      // reads no table first (a WARM fixture skips its build entirely),
      // so Tables()'s idempotent register may not have run yet
      graft.functions.GraftFunctions.register(s)
      s.sql(s"""
        SELECT doc_id, cluster_id
        FROM graft_dup_clusters_store('$root')
        ORDER BY doc_id""")
    },

    "q_dedup_full_stored" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val losers = graft.operators.DupClusterStore.assignments(s, dir)
        .filter(col("doc_id") =!= col("cluster_id"))
        .select("doc_id")
      docs.join(losers, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    },

    "q_cluster_canonical_stored" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      graft.operators.DupClusterStore.assignments(s, dir)
        .join(docs.select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast(LongType).as("n_tokens")),
          Seq("doc_id"))
        .groupBy("cluster_id")
        .agg(min(struct((-col("n_tokens")).as("neg"), col("doc_id").as("id"))).as("m"),
          count(lit(1)).as("n_members"))
        .select(col("cluster_id"), col("m.id").as("canonical_doc_id"),
          (-col("m.neg")).as("canonical_tokens"), col("n_members"))
        .orderBy("cluster_id")
    },

    "q_leakage_safe_split_stored" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      docs.select("doc_id")
        .join(graft.operators.DupClusterStore.assignments(s, dir),
          Seq("doc_id"), "left")
        .withColumn("split_key", coalesce(col("cluster_id"), col("doc_id")))
        .withColumn("split",
          when(graft.ops.CoreOps.hashSample(col("split_key"), lit("1")),
            "valid").otherwise("train"))
        .select(col("doc_id"), col("split_key"), col("split"))
        .orderBy("doc_id")
    },

    "q_bcubed_stored" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val assign = docs.select(col("doc_id"), md5(col("text")).as("h"))
        .withColumn("g", min(col("doc_id")).over(Window.partitionBy(col("h"))))
        .join(graft.operators.DupClusterStore.assignments(s, dir),
          Seq("doc_id"), "left")
        .select(coalesce(col("cluster_id"), col("doc_id")).as("c"), col("g"))
      DedupOps.bcubed(assign)
    },

    // Deterministic stratified hash sampling: ~50% of English docs, ~25%
    // of the rest, reproducible across engines and cluster layouts
    // (CoreOps.hashSample) — the auditable train/held-out split primitive.
    "q_sample_stratified" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .filter(graft.ops.CoreOps.hashSample(col("doc_id"),
          when(col("lang") === "en", lit("7")).otherwise(lit("3"))))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    },

    // Fixed-width sequence packing: split each document into 256-char
    // chunks (generator fan-out, no shuffle — the pre-tokenization
    // chunking pass of a training-data pipeline).
    "q_pack_chunks" -> { (s, dir) =>
      val w = 256
      Tables(s, dir, "documents")
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), posexplode(TextOps.chunks(col("text"), w)))
        .select(
          col("doc_id"),
          col("pos").cast(LongType).as("chunk_idx"),
          length(col("col")).cast(LongType).as("n_chunk_chars"),
          md5(col("col")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")
    },

    // The composed training-data admission filter: exact-dedup survivors
    // that are predicted English, high-quality, and length-bounded.
    // Dedup via the windowed exactDedup (ONE shuffle on the content
    // hash) rather than dup-groups + semi-join (two shuffles); language
    // and quality predicates run on survivors only.
    "q_quality_filter" -> { (s, dir) =>
      // pinKeyed (r20): langId + qualityScore are regex-heavy per-doc
      // kernels; the dedup aggregate's output stage is byte-coalesced
      // to one task on this corpus — pin the kernel's parallelism
      graft.ops.CoreOps.pinKeyed(
        DedupOps.exactDedup(Tables(s, dir, "documents"), "doc_id", "text"),
        col("doc_id"))
        .filter(TextOps.langId(col("text")) === "en")
        .withColumn("quality", round(TextOps.qualityScore(col("text")), 6))
        .filter(col("quality") >= 0.5 &&
          TextOps.tokenCount(col("text")).between(10, 2000))
        .select(col("doc_id"), col("lang"), col("quality"))
        .orderBy("doc_id")
    },

    // Corpus-unigram-LM document scoring (the exact-integer cousin of a
    // CCNet-style perplexity filter): the global unigram counts are the
    // "language model"; each document scores the mean corpus frequency
    // of its tokens, so rare-token documents surface as low-scoring
    // outliers. All accumulation is BIGINT — order-free and exact across
    // engines — with ONE double division per document at the end (no
    // cross-partition float-sum nondeterminism, no transcendentals).
    // The count table joins back broadcast (post-cap vocabularies are
    // small); a vocabulary too big to broadcast degrades to a shuffle
    // join on token, the same key the counts were built on.
    "q_unigram_lm" -> { (s, dir) =>
      val toks = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
      val lm = toks.groupBy("token").agg(count(lit(1)).as("tok_n"))
      toks.join(broadcast(lm), Seq("token"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"), sum(col("tok_n")).as("lm_sum"))
        .withColumn("score", round(col("lm_sum") / col("n_tok"), 6))
        .orderBy("doc_id")
    },

    // Exact heavy hitters (tokens with count > n/200) via Misra-Gries
    // candidate pruning: per-partition k-counter sketches bound what
    // reaches any shuffle to |partitions x k| candidate rows — the
    // vocabulary-wide groupBy shuffle the naive form pays never happens.
    // The final counts are EXACT (the sketch only prunes, never
    // answers), so the oracle is the naive group-count-filter.
    "q_heavy_hitters" -> { (s, dir) =>
      val toks = Tables(s, dir, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("token"))
      graft.operators.HeavyHitters.frequentItems(toks, "token", 200)
        .select(col("item").as("token"), col("cnt").as("n"))
        .orderBy("token")
    },

    // The SAME exact heavy hitters spelled in Spark SQL through the
    // graft_hh TVF — SHARES q_heavy_hitters' naive group-count-filter
    // oracle, so the pruned two-pass plan and the SQL spelling must
    // agree exactly.
    "q_heavy_hitters_sql" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("token"))
        .createOrReplaceTempView("graft_hh_toks")
      s.sql("""
        SELECT item AS token, cnt AS n
        FROM graft_hh('graft_hh_toks', 'token', '200')
        ORDER BY token""")
    },

    // Count-Min Sketch — the third approximate-counting tier next to
    // HLL (distinct) and Misra-Gries (candidates): d=4 rows x w=256
    // counters, all four bucket indices sliced from ONE md5-top32 per
    // DISTINCT token (8 bits each — the r10 kernel lesson: never d
    // digests where one slices), estimate = min over rows. Unlike the
    // HLL/GK entries this sketch is fully oracle-checked: deterministic
    // buckets make every counter and every estimate SQL-reproducible,
    // and the CMS overestimate invariant (est >= true) is visible in
    // the output rather than spec-asserted. Scale shape: the corpus
    // crosses ONCE as (token, count) partials; the counter table is
    // d x w = 1024 rows built from the vocab frame and broadcast back;
    // top-20 leaves via TakeOrdered. At 100 TB the sketch side is
    // constant-size — the mergeable-counter property production ships.
    "q_cms_est" -> { (s, dir) =>
      val counts = Tables(s, dir, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n_true"))
        .withColumn("h", call_function("graft_md5_top32",
          concat(lit("cms:"), col("token"))))
        .localCheckpoint()
      val rows = s.range(0, 4).select(col("id").cast(IntegerType).as("d"))
      val buckets = counts.crossJoin(broadcast(rows))
        .select(col("token"), col("n_true"), col("d"),
          call_function("shiftright", col("h"), col("d") * lit(8))
            .bitwiseAND(lit(255L)).as("bucket"))
      val counters = buckets.groupBy(col("d"), col("bucket"))
        .agg(sum(col("n_true")).as("c"))
      buckets.join(broadcast(counters), Seq("d", "bucket"))
        .groupBy(col("token"), col("n_true"))
        .agg(min(col("c")).as("cms_est"))
        .orderBy(col("n_true").desc, col("token"))
        .limit(20)
    },

    // Mixture sampling to a per-domain token budget — the "data mixing"
    // step of a training run: each source contributes documents in a
    // deterministic md5-priority order until its token budget fills
    // (greedy, strict cum <= budget). One shuffle on source for the
    // running sum; a domain too hot for one task range-partitions on
    // (source, pri) instead — the cumsum stays prefix-computable. The
    // priority hash makes the draw reproducible across engines, cluster
    // layouts, and reruns — auditable sampling, like hashSample.
    // Mixture-preserving shard packing: every shard gets an EXACT ±1
    // slice of each source (round-robin in deterministic md5 order), so
    // each training shard is a miniature of the corpus mixture — the
    // guarantee hash%K gives only statistically. The per-source global
    // numbering is DISTRIBUTED: a 2-hex-prefix bucket count frame
    // (|sources|x256, broadcast) provides offsets, then a window ranked
    // within (source, bucket) — 256-way parallel per source, never one
    // task per source. (bucket, rest-of-md5) order == md5 order, so the
    // composition equals the global rank exactly.
    "q_shard_stratified" -> { (s, dir) =>
      val K = 8
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          md5(col("doc_id").cast(StringType)).as("pri"))
        .withColumn("bkt", substring(col("pri"), 1, 2))
      val offs = docs.groupBy("source", "bkt").agg(count(lit(1)).as("n"))
        .withColumn("off", coalesce(
          sum(col("n")).over(Window.partitionBy("source").orderBy("bkt")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("source", "bkt", "off")
      val w = Window.partitionBy("source", "bkt").orderBy("pri", "doc_id")
      docs.join(broadcast(offs), Seq("source", "bkt"))
        .withColumn("shard", pmod(col("off") + (row_number().over(w) - 1), lit(K)))
        .groupBy("shard", "source").agg(count(lit(1)).as("n_cell"))
        .groupBy("source").agg(
          sum(col("n_cell")).cast(LongType).as("n_src"),
          min(col("n_cell")).as("min_shard_docs"),
          max(col("n_cell")).as("max_shard_docs"),
          (max(col("n_cell")) - min(col("n_cell"))).as("spread"))
        .orderBy("source")
    },

    "q_mix_sample" -> { (s, dir) =>
      val w = Window.partitionBy(col("source")).orderBy(col("pri"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextOps.tokenCount(col("text")).as("n_tok"),
          md5(col("doc_id").cast(StringType)).as("pri"))
        .withColumn("cum_tok", sum(col("n_tok")).over(w))
        .filter(col("cum_tok") <= 600L)
        .select(col("doc_id"), col("source"), col("n_tok"), col("cum_tok"))
        .orderBy("doc_id")
    },

    // Mixture REWEIGHTING (DoReMi-style multiplicative-weights step) —
    // the optimization counterpart to q_mix_sample's budget draw: domains
    // whose mean loss exceeds the corpus mean get their mixture weight
    // multiplied up by (1 + clipped excess), renormalized, then smoothed
    // with a uniform floor (0.8·α + 0.2/k) so no domain starves. The
    // per-doc loss is a deterministic md5 stand-in (graft_md5_top32 mod
    // 5000 milli-units) so the WHOLE update is oracle-checkable; real
    // per-doc losses swap in without touching the plan. Float hazards
    // closed the q_logreg_step way: losses are exact integer milli-sums
    // (one corpus aggregate keyed by source — the only corpus-sized
    // shuffle), weights are floor-quantized to integer micro-units
    // before the normalizing sum, and every double op after that runs
    // on the k-row domain frame with an identical expression tree in
    // both engines. At 100 TB: the corpus crosses once as (source,
    // count, sum) partials; all mixture math touches |sources| rows.
    "q_mix_reweight" -> { (s, dir) =>
      val lMilli = pmod(call_function("graft_md5_top32",
        concat(lit("loss:"), col("doc_id").cast(StringType))), lit(5000L))
      val per = Tables(s, dir, "documents")
        .select(col("source"), lMilli.as("l_milli"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("l_milli")).as("sum_milli"))
        .localCheckpoint()
      val tot = per.agg(sum(col("n_docs")).as("nn"),
        sum(col("sum_milli")).as("ss"), count(lit(1)).as("k"))
      val meanD = col("sum_milli").cast(DoubleType) /
        (col("n_docs") * lit(1000L)).cast(DoubleType)
      val meanAll = col("ss").cast(DoubleType) /
        (col("nn") * lit(1000L)).cast(DoubleType)
      val w = per.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("k"),
          meanD.as("mean_loss"),
          greatest(meanD - meanAll, lit(0.0)).as("excess"))
        .withColumn("wq",
          floor((lit(1.0) + col("excess")) * lit(1000000.0) + lit(0.5))
            .cast(LongType))
        .localCheckpoint()
      val wt = w.agg(sum(col("wq")).as("wtot"))
      val alpha = col("wq").cast(DoubleType) / col("wtot").cast(DoubleType)
      w.crossJoin(broadcast(wt))
        .select(col("source"), col("n_docs"), col("mean_loss"), col("excess"),
          alpha.as("alpha"),
          (lit(0.8) * alpha + lit(0.2) / col("k").cast(DoubleType))
            .as("alpha_mix"))
        .orderBy("source")
    },

    // Deterministic weighted sampling without replacement (Efraimidis-
    // Spirakis): key = ln(u) / w with u a uniform derived EXACTLY from
    // 8 md5 hex digits (sum of hv_i * 16^-i is exact in binary floating
    // point, so both engines compute the identical u — no RNG, no seed
    // skew), w = n_chars, top-5 per source by key. Longer documents are
    // proportionally likelier — importance sampling for data mixing.
    // Shape: one shuffle on source + WindowGroupLimit pushes the top-k
    // map-side, exactly like q_domain_cap.
    "q_weighted_sample" -> { (s, dir) =>
      val pri = md5(concat(lit("ws:"), col("doc_id").cast(StringType)))
      val u = (1 to 8).map { i =>
        val a = ascii(substring(col("pri"), i, 1))
        (a - when(a >= 97, 87).otherwise(48)).cast(DoubleType) *
          lit(1.0 / math.pow(16.0, i))
      }.reduce(_ + _)
      val w = Window.partitionBy(col("source")).orderBy(col("key").desc, col("doc_id"))
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"), pri.as("pri"))
        .withColumn("key", log(u) / col("n_chars").cast(DoubleType))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("rk").cast(LongType).as("rk"))
        .orderBy("doc_id")
    },

    // Binary-quantization ANN: 1-bit/dim signatures, Hamming candidate
    // pass (xor+popcount per pair over a 32x-smaller projection), exact
    // cosine rerank of the top-50. Fourth ANN tier next to LSH/IVF/PQ;
    // fully deterministic, oracle-checked end to end.
    "q_embed_bq" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      VectorOps.bqTopK(e.filter(col("vec_id") < 5), e, k = 5, dim = 64, rerank = 50)
        .select(col("q_id"), col("rk"), col("n_id"), col("cos_sim"))
        .orderBy("q_id", "rk")
    },

    // Okapi BM25 retrieval: the first 3 documents as queries, ranked
    // against the whole corpus. tf/df/dlen all derive from ONE token
    // explode + (doc, term) aggregate — df and dlen are windows over the
    // tf frame (vocab-sized data), not second corpus scans; the query
    // term set and the corpus-level (N, avgdl) constants are broadcast.
    // Only scored (q_id, doc) rows reach the per-query top-k shuffle.
    "q_bm25" -> { (s, dir) =>
      bm25Ranked(s, dir, topN = 10).orderBy("q_id", "rk")
    },

    // Hybrid retrieval via reciprocal-rank fusion: BM25 top-20 and
    // exact-cosine top-20 rank lists fused as 1/(60+rank) sums, top-10
    // per query (documents and their embeddings share ids in the
    // fixtures, so doc 0..2 are the query set on both sides). The two
    // retrieval arms run independently; fusion touches only the 2x20
    // ranked rows per query, joined full-outer so a doc found by one
    // arm still scores.
    "q_hybrid_rrf" -> { (s, dir) =>
      hybridRrf(s, dir).orderBy("q_id", "rk")
    },

    // Cross-encoder-style reranker closing the retrieval cascade:
    // retrieve (hybrid-RRF top-10 per query) → rerank → cut to a final
    // top-5. The reranker is a deterministic cross-encoder stand-in: it
    // scores each (query, candidate) pair JOINTLY — distinct-token
    // Jaccard over both texts, exact embedding cosine, and the
    // normalized retrieval prior, blended 0.5/0.3/0.2 — so the whole
    // cascade stays oracle-checkable while exercising exactly the
    // dataflow a learned reranker needs. Plan shape is the part that
    // matters at 100 TB: the candidate id set broadcast-semi-filters
    // the documents and embeddings scans BEFORE tokenization/cast, so
    // per-pair feature cost is CANDIDATE-proportional (|Q| x 10 rows),
    // never corpus-proportional — the corpus is touched by the
    // retriever, never by the reranker. Features round to 6 decimals
    // each before the fixed-order blend, so the combined score is
    // bit-identical across engines.
    "q_rerank" -> { (s, dir) =>
      // localCheckpoint: the candidate frame feeds three consumers (two
      // semi-filters + the feature join); without it the whole
      // BM25+brute-force retrieval subtree would re-execute per branch
      val cand = hybridRrf(s, dir).localCheckpoint()
      rerankTop(s, dir, cand).orderBy("q_id", "rk")
    },

    // Did the reranker HELP? NDCG@5 of the reranked list vs NDCG@5 of
    // the raw RRF list, per query, under the same deterministic md5
    // relevance draw q_ndcg uses — the eval that closes the cascade
    // (retrieve → rerank → judge) with a measured, oracle-checked
    // quality delta instead of an assumption. Both lists come off ONE
    // checkpointed candidate frame, so the retrieval subtree runs once;
    // everything after it is 15-row arithmetic.
    "q_rerank_ndcg" -> { (s, dir) =>
      val cand = hybridRrf(s, dir).localCheckpoint()
      val rrf5 = cand.filter(col("rk") <= 5)
        .select(col("q_id"), col("rk"), col("doc_id"))
      val rr5 = rerankTop(s, dir, cand)
        .select(col("q_id"), col("rk"), col("doc_id"))
      def ndcgOf(list: DataFrame, out: String): DataFrame = {
        val rel = (conv(substring(md5(concat(lit("rel:"),
            col("q_id").cast(StringType), lit(":"),
            col("doc_id").cast(StringType))), 1, 1), 16, 10)
          .cast(LongType) % 4).as("rel")
        val lab = list.withColumn("rel", rel)
          .withColumn("gain",
            when(col("rel") === 0, 0L).when(col("rel") === 1, 1L)
              .when(col("rel") === 2, 3L).otherwise(7L))
          .withColumn("irk", row_number().over(
            Window.partitionBy("q_id")
              .orderBy(col("rel").desc, col("doc_id").asc)).cast(LongType))
        def disc(rank: Column) =
          log(rank.cast(DoubleType) + lit(1.0)) / log(lit(2.0))
        lab.groupBy("q_id")
          .agg(
            exactGridSum(col("gain").cast(DoubleType) / disc(col("rk"))).as("gd"),
            exactGridSum(col("gain").cast(DoubleType) / disc(col("irk"))).as("gi"))
          .select(col("q_id"),
            round(fromGrid(col("gd")) / fromGrid(col("gi")), 6).as(out))
      }
      ndcgOf(rrf5, "ndcg_rrf")
        .join(ndcgOf(rr5, "ndcg_rerank"), Seq("q_id"))
        .select(col("q_id"), col("ndcg_rrf"), col("ndcg_rerank"),
          round(col("ndcg_rerank") - col("ndcg_rrf"), 6).as("delta"))
        .orderBy("q_id")
    },

    // NDCG@10 of the BM25 ranking — the eval primitive that closes the
    // retrieval loop (rank → judge → score) before a ranker gates
    // training data. Relevance labels are deterministic md5 draws
    // (0..3), so the whole eval is oracle-checkable; gains 2^rel - 1
    // via an exact CASE (no float pow), log2 discounts as ln(r+1)/ln(2)
    // with the terms grid-summed; the ideal ordering is a window over
    // the 10-row-per-query ranked frame (limit-bounded by construction).
    "q_ndcg" -> { (s, dir) =>
      val ranked = bm25Ranked(s, dir, topN = 10)
      val rel = (conv(substring(md5(concat(lit("rel:"),
          col("q_id").cast(StringType), lit(":"),
          col("doc_id").cast(StringType))), 1, 1), 16, 10)
        .cast(LongType) % 4).as("rel")
      val lab = ranked.withColumn("rel", rel)
        .withColumn("gain",
          when(col("rel") === 0, 0L).when(col("rel") === 1, 1L)
            .when(col("rel") === 2, 3L).otherwise(7L))
        .withColumn("irk", row_number().over(
          Window.partitionBy("q_id")
            .orderBy(col("rel").desc, col("doc_id").asc)).cast(LongType))
      def disc(rank: Column) =
        log(rank.cast(DoubleType) + lit(1.0)) / log(lit(2.0))
      lab.groupBy("q_id")
        .agg(
          exactGridSum(col("gain").cast(DoubleType) / disc(col("rk"))).as("gd"),
          exactGridSum(col("gain").cast(DoubleType) / disc(col("irk"))).as("gi"))
        .select(col("q_id"),
          round(fromGrid(col("gd")), 6).as("dcg"),
          round(fromGrid(col("gi")), 6).as("idcg"),
          round(fromGrid(col("gd")) / fromGrid(col("gi")), 6).as("ndcg"))
        .orderBy("q_id")
    },

    // Interpolated bigram language model scored over its own corpus
    // (KenLM-lite): P(w2|w1) = 0.75·c(w1w2)/c(w1) + 0.25·c(w2)/T, doc
    // score = mean log-prob over its bigrams. One shuffle each for the
    // bigram and unigram count tables (both vocab-sized — broadcast to
    // the corpus-side probe; a web-scale vocab would swap the bigram
    // join to a shuffle join, same semantics), then a per-doc aggregate.
    "q_bigram_lm" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      // c12 as a window count over the exploded bigram frame — a
      // groupBy+self-join would BRANCH the explode subtree and Catalyst
      // re-plans it per branch (the q_tfidf_top lesson); T comes straight
      // off a narrow docs scan for the same reason (no branch on uni).
      val bg = docs.select(col("doc_id"),
          explode(TextOps.bigrams(col("text"))).as("bg"))
        .withColumn("c12", count(lit(1)).over(Window.partitionBy("bg")))
      val tot = docs.agg(sum(TextOps.tokenCount(col("text"))).as("t_tok"))
      joinBigramEnds(bg, unigramCounts(docs))
        .crossJoin(broadcast(tot))
        .withColumn("logp",
          log(lit(0.75) * col("c12") / col("c1") +
            lit(0.25) * col("c2") / col("t_tok").cast(DoubleType)))
        // per-bigram log-probs quantized to a 1e-9 grid and summed
        // exactly in BIGINT: the doc mean is order-free (identical
        // across partial-agg orders and engines), so the round-6 output
        // can never sit on a half-ulp boundary between runs — and the
        // q_ppl_strata bands derived from it can never flip
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          exactGridSum(col("logp")).as("lsum"))
        .withColumn("avg_logp",
          round(fromGrid(col("lsum")) / col("n_bigrams"), 6))
        .select(col("doc_id"), col("n_bigrams"), col("avg_logp"))
        .orderBy("doc_id")
    },

    // PMI collocation mining: pointwise mutual information over bigram
    // occurrences, ln(c12·T / (c1·c2)), min support 3, top-20. The
    // word2vec-statistics pass — one bigram-count shuffle, unigram
    // counts broadcast to the (tiny) surviving pair set.
    "q_pmi_top" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val c12 = docs.select(explode(TextOps.bigrams(col("text"))).as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 3)
      // total bigram count straight off a narrow docs scan (n_tok - 1
      // per doc with >= 2 tokens) — no branch on the explode subtree
      val nTok = TextOps.tokenCount(col("text"))
      val tot = docs.agg(
        sum(when(nTok >= 2, nTok - 1).otherwise(0L)).as("t_bg"))
      val scored = joinBigramEnds(c12, unigramCounts(docs))
        .crossJoin(broadcast(tot))
        .withColumn("pmi", round(
          log(col("n") * col("t_bg").cast(DoubleType) / (col("c1") * col("c2"))), 6))
      scored.orderBy(desc("pmi"), asc("w1"), asc("w2")).limit(20)
        .select(col("w1"), col("w2"), col("n"), col("pmi"))
    },

    // Dataset-drift monitor (PSI): per-source token-length distribution
    // vs the reference source src0 over fixed-width n_chars buckets
    // (map-side banding — no quantile job), PSI = sum (q-p)*ln(q/p)
    // over buckets observed in BOTH populations (the finite-sample
    // guard). Per-bucket terms are quantized to a 1e-9 grid and summed
    // exactly in BIGINT (order-free, engine-identical). Two narrow
    // 2-column scans; the reference histogram is broadcast; everything
    // past the (source, bucket) aggregate is bucket-count sized.
    "q_drift_psi" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val bucket = floor(col("n_chars") / 100).as("bucket")
      val cur = docs.filter(col("source") =!= "src0")
        .select(col("source"), bucket)
        .groupBy("source", "bucket").agg(count(lit(1)).as("n"))
        .withColumn("tot", sum(col("n")).over(Window.partitionBy("source")))
        .withColumn("share", col("n").cast(DoubleType) / col("tot"))
      val ref = docs.filter(col("source") === "src0")
        .select(bucket)
        .groupBy("bucket").agg(count(lit(1)).as("rn"))
        // BOUNDED global window: input is the |n_chars/100| histogram-
        // bucket frame (doc-length-bounded) — ExplainSpec allowlist
        .withColumn("p", col("rn").cast(DoubleType) /
          sum(col("rn")).over(Window.partitionBy()))
        .select(col("bucket"), col("p"))
      cur.join(broadcast(ref), Seq("bucket"))
        .withColumn("term",
          (col("share") - col("p")) * log(col("share") / col("p")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_buckets"),
          exactGridSum(col("term")).as("tsum"))
        .withColumn("psi", round(fromGrid(col("tsum")), 6))
        .select(col("source"), col("n_buckets"), col("psi"))
        .orderBy("source")
    },

    // N-gram novelty: per document, the fraction of its DISTINCT word
    // trigrams that occur nowhere else in the corpus — the memorization
    // / boilerplate diagnostic run after dedup. One explode of in-row
    // deduped shingles, one window keyed on the shingle (global counts;
    // keys grow with the corpus so partitions stay narrow at scale),
    // one per-doc aggregate. Docs under 3 tokens have no shingles and
    // drop out, exactly like the Jaccard pipeline.
    "q_novelty" -> { (s, dir) =>
      val sh = Tables(s, dir, "documents")
        .select(col("doc_id"),
          explode(array_distinct(TextOps.shingles(col("text"), 3))).as("sh"))
      sh.withColumn("c", count(lit(1)).over(Window.partitionBy("sh")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_unique"))
        .withColumn("novelty", round(
          col("n_unique").cast(DoubleType) / col("n_shingles"), 6))
        .orderBy("doc_id")
    },

    // Heaps-law vocabulary growth: cumulative distinct trigram count
    // after each decile of the corpus (doc-id order) — the diversity
    // diagnostic that says whether new data still adds new content or
    // the corpus has saturated. Scale design: "distinct seen so far"
    // is NOT a running set — each shingle is charged to its FIRST
    // document (one min-aggregate on the shingle key), per-doc
    // new-shingle counts follow. The per-doc rank is DISTRIBUTED: the
    // doc-id domain is range-bucketed off a 1-row min/max broadcast,
    // ranks come from a bucket-PARTITIONED window plus per-bucket
    // offsets computed on the B-row bucket-count frame, and the final
    // cumulative vocab runs as a triangular self-join over the 10-row
    // decile frame — no unpartitioned window touches an unbounded
    // domain anywhere (round 6 shipped a single-partition |docs|-wide
    // cumsum here; this is the de-serialized shape).
    "q_heaps" -> { (s, dir) =>
      val nBuckets = 32
      val docs = Tables(s, dir, "documents")
      val sh = docs.select(col("doc_id"),
        explode(call_function("graft_shingle_hashes",
          TextOps.tokens(col("text")), lit(3), lit(42L))).as("sh"))
      val perDocNew = sh.groupBy(col("sh")).agg(min(col("doc_id")).as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_new"))
      val bounds = docs.agg(min(col("doc_id")).as("lo"),
        max(col("doc_id")).as("hi"), count(lit(1)).as("n"))
      val ids = docs.select(col("doc_id")).crossJoin(broadcast(bounds))
        .withColumn("bucket",
          expr(s"CAST((doc_id - lo) * $nBuckets div (hi - lo + 1) AS INT)"))
      // bucket counts: <= nBuckets rows; checkpointed so the offset
      // self-join below reads the tiny frame, not the scan twice
      val bucketCounts = ids.groupBy(col("bucket"))
        .agg(count(lit(1)).as("bn")).localCheckpoint()
      val offsets = bucketCounts.as("a")
        .join(broadcast(bucketCounts.as("b")), col("b.bucket") < col("a.bucket"), "left")
        .groupBy(col("a.bucket").as("bucket"))
        .agg(coalesce(sum(col("b.bn")), lit(0L)).as("off"))
      val ranked = ids.join(broadcast(offsets), Seq("bucket"))
        .withColumn("r", (col("off") + row_number().over(
          Window.partitionBy(col("bucket")).orderBy(col("doc_id")))).cast(LongType))
      // decile partials: 10 rows; checkpointed for the triangular join
      val dec = ranked.join(perDocNew, Seq("doc_id"), "left")
        .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
        .withColumn("decile", expr("((r - 1) * 10) div n + 1"))
        .groupBy(col("decile"))
        .agg(max(col("r")).as("n_docs_cum"),
          sum(col("n_new")).as("new_in_decile"))
        .localCheckpoint()
      dec.as("a").join(broadcast(dec.as("b")), col("b.decile") <= col("a.decile"))
        .groupBy(col("a.decile").as("decile"))
        .agg(max(col("a.n_docs_cum")).as("n_docs_cum"),
          max(col("a.new_in_decile")).as("new_in_decile"),
          sum(col("b.new_in_decile")).as("vocab_cum"))
        .orderBy("decile")
    },

    // PageRank over the n-gram-Jaccard similarity graph: document
    // authority as a curation prior. Edge pipeline (the expensive
    // subtree) is checkpointed ONCE; three power-iteration rounds of
    // two narrow shuffles each, per-round localCheckpoint (the
    // dup-clusters iteration discipline). Isolated docs keep the
    // teleport rank; output rounded for cross-engine double compare.
    "q_pagerank" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      // clone-collapsed edge build (bit-equal to the plain builder,
      // DedupSpec-pinned): PageRank is degree-sensitive, so it needs the
      // FULL pair multiset — the collapse keeps the candidate stage
      // 1x-sized on clone-heavy corpora while emitting identical pairs
      val p = DedupOps.ngramJaccardPairsCloneCollapsed(docs, "doc_id", "text",
          threshold = 0.05, n = 3)
        .select("id_a", "id_b").localCheckpoint()
      val edges = p.unionByName(
        p.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      GraphOps.pageRank(docs.select("doc_id"), edges, iters = 3)
        .select(col("id").as("doc_id"), round(col("pr"), 9).as("pr"))
        .orderBy("doc_id")
    },

    // Label-propagation communities over the COLLAPSED similarity
    // graph: one node per distinct text (gid = min doc_id of its
    // exact-dup group, the engine's md5 standard), edges = qualifying
    // Jaccard pairs between representatives, then every clone inherits
    // its representative's community. The deterministic synchronous
    // variant (argmax neighbor-label frequency, ties to the smallest
    // label) — entirely count-based integer arithmetic, so the 3-round
    // unrolled oracle matches exactly.
    //
    // Why collapsed rather than star edges (q_dup_clusters's rewrite):
    // LPA counts neighbor-label FREQUENCIES, so it is NOT clique/star
    // invariant — in a 3-clique {1,2,3} with an external neighbor, node
    // 2 sees labels {1,3,ext} under the clique but {1,ext} under the
    // star, and the argmax can differ (PERF_NOTES r18 has the worked
    // counterexample). Communities of CONTENT are the well-defined
    // scalable object: byte-identical clones belong to one community by
    // construction, the propagation runs on the |distinct texts|-sized
    // graph (no clone-group quadratic anywhere — the r17 at-scale
    // oracle had to materialize 61M doc-level edges for the old
    // doc-level semantics; this one propagates over the 1x group
    // graph), and membership is one hash-keyed inheritance join.
    "q_label_prop" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val groups = docs.select(col("doc_id"), md5(col("text")).as("__h"))
        .groupBy("__h").agg(min("doc_id").as("gid"))
      val membership = docs.select(col("doc_id"), md5(col("text")).as("__h"))
        .join(groups, Seq("__h")).select("doc_id", "gid")
      val reps = docs.select("doc_id", "text")
        .join(groups.select(col("gid").as("doc_id")), Seq("doc_id"), "left_semi")
        .localCheckpoint()
      val p = DedupOps.ngramJaccardPairs(reps, "doc_id", "text",
          threshold = 0.05, n = 3)
        .select("id_a", "id_b").localCheckpoint()
      val edges = p.unionByName(
        p.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      val repLabels = GraphOps.labelPropagation(
          reps.select("doc_id"), edges, iters = 3)
        .select(col("id").as("gid"), col("label"))
      membership.join(repLabels, Seq("gid"))
        .select(col("doc_id"), col("label").as("community"))
        .orderBy("doc_id")
    },

    // LSH quality evaluation — the recall/precision audit every banded
    // dedup deployment owes its operators: the md5-keyed MinHash
    // candidates (same pipeline q_minhash_est audits) scored against
    // exact-Jaccard ground truth at three similarity levels. recall =
    // share of true pairs at level t the bands surfaced (the S-curve's
    // measured value, next to q_lsh_curve's theoretical one);
    // precision_at_t = share of all candidates that are true at t.
    // Everything is integer pair counts + one division — exact
    // cross-engine. The truth build is the q_ngram_jaccard pair frame;
    // candidates shuffle only band keys.
    "q_lsh_eval" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val (_, _, _, cand) = md5MinhashPipeline(docs)
      // truth build clone-collapsed (bit-equal): recall/precision need
      // the exact pair LIST, and on a clone-heavy corpus the plain
      // builder's candidate stage is the quadratic — not the LSH side
      val truth = DedupOps.ngramJaccardPairsCloneCollapsed(docs, "doc_id", "text",
          threshold = 0.3, n = 3)
        .localCheckpoint()
      val grid = s.range(1)
        .select(explode(array(lit(0.3), lit(0.5), lit(0.7))).as("t"))
      val tt = truth.crossJoin(broadcast(grid))
        .filter(col("jaccard") >= col("t"))
      val nTruth = tt.groupBy("t").agg(count(lit(1)).as("n_truth"))
      val nHit = tt.join(cand, Seq("id_a", "id_b"))
        .groupBy("t").agg(count(lit(1)).as("n_hit"))
      val nCand = cand.agg(count(lit(1)).as("n_cand"))
      nTruth.join(nHit, Seq("t"), "left")
        .crossJoin(broadcast(nCand))
        .select(col("t"), col("n_truth"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"), col("n_cand"),
          (coalesce(col("n_hit"), lit(0L)).cast(DoubleType) /
            col("n_truth").cast(DoubleType)).as("recall"),
          (coalesce(col("n_hit"), lit(0L)).cast(DoubleType) /
            col("n_cand").cast(DoubleType)).as("precision_at_t"))
        .orderBy("t")
    },

    // Dedup operating-point curve — the MEASURED counterpart to
    // q_lsh_curve's theoretical S-curves: at each candidate Jaccard
    // threshold, how many near-dup pairs fire and how many documents
    // they touch. This is the table a curation team reads to pick the
    // dedup threshold (pairs explode as t drops; docs-affected shows
    // blast radius). One shared pair frame (checkpointed), a 9-row
    // broadcast threshold grid, and two tiny aggregates — the corpus
    // pays the pair build once, the curve is free.
    "q_dedup_curve" -> { (s, dir) =>
      // clone-collapsed pair frame (bit-equal): the operating points are
      // per-PAIR counts, so the full list is the contract — the collapse
      // keeps the build linear-in-clones while the output stays identical
      val p = DedupOps.ngramJaccardPairsCloneCollapsed(
          Tables(s, dir, "documents"),
          "doc_id", "text", threshold = 0.05, n = 3)
        .localCheckpoint()
      val grid = s.range(1, 10)
        .select((col("id").cast(DoubleType) / lit(10.0)).as("t"))
      val hits = p.crossJoin(broadcast(grid))
        .filter(col("jaccard") >= col("t"))
      val pairs = hits.groupBy("t").agg(count(lit(1)).as("n_pairs"))
      val docsHit = hits
        .select(col("t"), explode(array(col("id_a"), col("id_b"))).as("d"))
        .groupBy("t").agg(countDistinct(col("d")).as("n_docs"))
      pairs.join(docsHit, Seq("t")).orderBy("t")
    },

    // BFS hop-distance from a seed document over the similarity graph —
    // the reachability probe next to q_label_prop's communities: how far
    // a seed's near-dup neighborhood extends, level by level. The seed
    // is the max-degree node (ties to the smallest id) so the probe
    // lands inside the densest neighborhood at every SF — one scalar
    // crosses the driver, derived identically in the oracle. Pure
    // integer levels; the oracle unrolls the same six synchronous
    // waves. Each round is frontier-bounded edge-keyed work (see
    // GraphOps.bfsLevels).
    "q_bfs_levels" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      // clone-collapsed edge build (bit-equal, DedupSpec pins THIS edge
      // frame against the plain builder's). NOT connectivity-mode star
      // edges: BFS levels are a path METRIC, not reachability — in a
      // clone clique {a,b,c} with gid=a, dist(b,c) is 1 under the full
      // pair set but 2 via the star (b→a→c), and the max-degree seed
      // selection is degree-sensitive too — so the star rewrite would
      // change the registered output. The collapse alone already makes
      // the candidate stage clone-group linear; only the OUTPUT keeps
      // the (inherent, pair-list-contract) clique quadratic.
      val p = DedupOps.ngramJaccardPairsCloneCollapsed(docs, "doc_id", "text",
          threshold = 0.05, n = 3)
        .select("id_a", "id_b").localCheckpoint()
      val edges = p.unionByName(
        p.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
        .localCheckpoint()
      val source = edges.groupBy(col("id_a")).agg(count(lit(1)).as("d"))
        .orderBy(col("d").desc, col("id_a")).limit(1)
        .collect().headOption.map(_.getLong(0)).getOrElse(0L)
      GraphOps.bfsLevels(edges, source, maxDepth = 6)
        .select(col("id").as("doc_id"), col("lvl"))
        .orderBy("lvl", "doc_id")
    },

    // Incremental ingestion dedup: the production shape — an incoming
    // batch (doc_id % 10 == 0 stands in for "today's crawl") is deduped
    // against the already-indexed corpus AND within itself, without the
    // corpus text ever being re-read (only its DISTINCT content hashes —
    // in production a stored fingerprint table). Anti join + in-batch
    // window both key on text_hash, so the join's exchange is reused by
    // the window (no second batch-side shuffle). At 100 TB the index
    // side is the big one: the anti join shuffles 16-byte hashes, never
    // documents, and a bloom prefilter (operators.BloomJoin) can cut
    // definitely-new rows map-side before the exchange.
    "q_incr_dedup" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val hashed = docs.select(col("doc_id"),
        md5(TextOps.normText(col("text"))).as("text_hash"))
      val batch = hashed.filter(col("doc_id") % 10 === 0)
      val index = hashed.filter(col("doc_id") % 10 =!= 0)
        .select("text_hash").distinct()
      val w = Window.partitionBy("text_hash").orderBy("doc_id")
      batch.join(index, Seq("text_hash"), "left_anti")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("doc_id"), col("text_hash"))
        .orderBy("doc_id")
    },

    // Int8 symmetric embedding quantization (scale = max|x|/127): the
    // storage tier below PQ/BQ — 4x smaller vectors with per-vector
    // reconstruction error reported. Everything is a per-row sequential
    // fold (no cross-row floats), so the oracle matches bit-for-bit
    // unrounded. floor(x/scale + 0.5) instead of round(): both engines
    // floor identically; round() half-away/half-even rules differ. An
    // all-zero vector (scale = 0) quantizes losslessly — mse pinned to
    // 0 rather than evaluating 0/0; divisor is the vector's own length,
    // not a hard-coded dim.
    "q_embed_quant" -> { (s, dir) =>
      val sq = (c: Column) => c * c
      Tables(s, dir, "embeddings")
        .select(col("vec_id"), VectorOps.toDoubleVec(col("embedding")).as("vec"))
        .select(col("vec_id"), col("vec"),
          (array_max(transform(col("vec"), x => abs(x))) / lit(127.0)).as("scale"))
        .select(col("vec_id"), col("scale"),
          when(col("scale") === 0, lit(0.0)).otherwise(
            aggregate(
              transform(col("vec"), x =>
                sq(x - floor(x / col("scale") + lit(0.5)) * col("scale"))),
              lit(0.0), (acc, e) => acc + e)
              / size(col("vec")).cast(DoubleType)).as("mse"))
        .orderBy("vec_id")
    },

    // Perplexity-band selection (the CCNet head/middle/tail move): score
    // every document with the corpus-trained bigram LM, band by FIXED
    // logprob thresholds (map-side — a global ntile would serialize on
    // one partition at 100 TB), and keep head fully, middle 1/2, tail
    // 1/4 via the deterministic md5 hash sample. Composes q_bigram_lm +
    // CoreOps.hashSample; adds zero shuffles beyond the LM scoring.
    "q_ppl_strata" -> { (s, dir) =>
      val scored = TextQueries.defs("q_bigram_lm")(s, dir)
      val band = when(col("avg_logp") >= lit(-3.39), "head")
        .when(col("avg_logp") >= lit(-3.41), "middle")
        .otherwise("tail")
      scored.withColumn("band", band)
        .filter(graft.ops.CoreOps.hashSample(col("doc_id"),
          when(col("band") === "head", lit("f"))
            .when(col("band") === "middle", lit("7")).otherwise(lit("3"))))
        .select(col("doc_id"), col("band"), col("avg_logp"))
        .orderBy("doc_id")
    },

    // DSIR-style importance scoring (Xie et al. 2023, "Data Selection
    // for Language Models via Importance Resampling"): score each doc
    // by the mean log-likelihood ratio of a target unigram LM (src0 —
    // the high-quality domain) over the general source LM (the rest),
    // add-1 smoothed on the joint vocabulary; positive = target-like,
    // `keep` is the selection flag at threshold 0. Scale shape: ONE
    // token aggregate builds both models in a single pass (conditional
    // sums), the three scalar normalizers ride a 1-row broadcast, and
    // scoring is a vocab-keyed shuffle join (the vocabulary is never
    // broadcast or windowed) + per-doc aggregate; ln terms grid-summed
    // per the drift_psi libm-parity discipline.
    "q_dsir" -> { (s, dir) =>
      val toks = Tables(s, dir, "documents")
        .select(col("doc_id"), (col("source") === "src0").as("is_t"),
          explode(TextOps.tokens(col("text"))).as("token"))
      val cnt = toks.groupBy(col("token")).agg(
        sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"),
        sum(when(col("is_t"), 0L).otherwise(1L)).as("cs"))
      val scal = cnt.agg(sum(col("ct")).as("nt"), sum(col("cs")).as("ns"),
        count(lit(1)).as("v"))
      val term =
        log((col("ct") + lit(1L)).cast(DoubleType) /
          (col("nt") + col("v")).cast(DoubleType)) -
        log((col("cs") + lit(1L)).cast(DoubleType) /
          (col("ns") + col("v")).cast(DoubleType))
      toks.join(cnt, Seq("token"))
        .crossJoin(broadcast(scal))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"), exactGridSum(term).as("g"))
        .withColumn("score", round(fromGrid(col("g")) / col("n_tok"), 6))
        .select(col("doc_id"), col("n_tok"), col("score"),
          (col("score") > lit(0.0)).as("keep"))
        .orderBy("doc_id")
    },

    // Distinct-n lexical diversity per source (distinct n-grams over
    // total n-grams, n = 1, 2, 3) — the templated-text detector
    // (boilerplate and generated spam crater distinct-2/3 while
    // per-doc stats look normal). ONE text scan: the three gram
    // streams are tagged (n, gram) in-row and exploded together, then
    // TWO-LEVEL aggregated (per-gram occurrence counts, then per-
    // (source, n) sum + row count — the q_dup_rate discipline): a
    // single mixed count/countDistinct aggregate would plan an Expand
    // that doubles the exploded gram stream before the shuffle, while
    // the per-gram level combines map-side (hot boilerplate grams
    // collapse before the exchange) and the second level runs on the
    // already-distinct frame. Final pivot-style regroup on the
    // |sources|x3-bounded frame — no joins.
    "q_distinct_n" -> { (s, dir) =>
      def tag(n: Int, c: Column) =
        transform(c, g => struct(lit(n).as("n"), g.as("g")))
      // fanOut (r20): the triple gram explode otherwise runs on the
      // scan's single task; identity at scale — CoreOps.fanOut
      val agg = graft.ops.CoreOps.fanOut(
          Tables(s, dir, "documents").select("source", "text", "doc_id"),
          col("doc_id"))
        .select(col("source"), explode(concat(
          tag(1, TextOps.tokens(col("text"))),
          tag(2, TextOps.shingles(col("text"), 2)),
          tag(3, TextOps.shingles(col("text"), 3)))).as("t"))
        .select(col("source"), col("t.n").as("n"), col("t.g").as("g"))
        .groupBy(col("source"), col("n"), col("g"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("source"), col("n"))
        .agg(sum(col("c")).as("tot"), count(lit(1)).as("dis"))
      def pick(n: Int, c: String) = max(when(col("n") === n, col(c)))
      agg.groupBy(col("source"))
        .agg(pick(1, "tot").as("n1"), pick(1, "dis").as("d1"),
          pick(2, "tot").as("n2"), pick(2, "dis").as("d2"),
          pick(3, "tot").as("n3"), pick(3, "dis").as("d3"))
        .select(col("source"), col("n1"),
          round(col("d1").cast(DoubleType) / col("n1"), 6).as("distinct_1"),
          col("n2"),
          round(col("d2").cast(DoubleType) / col("n2"), 6).as("distinct_2"),
          col("n3"),
          round(col("d3").cast(DoubleType) / col("n3"), 6).as("distinct_3"))
        .orderBy("source")
    },

    // Zipf rank-frequency fit: OLS slope of ln(freq) on ln(rank) over
    // the top-100 tokens — the power-law health check (natural corpora
    // land near -1; templated/synthetic text flattens the head). The
    // vocabulary is cut by sort+limit (TakeOrderedAndProject map-side
    // partial top-k, the q_rbo discipline) and ranked by the
    // triangular broadcast join on the checkpointed 100-row frame — no
    // global sort or window ever sees the full vocab. Regression sums
    // are grid-quantized so both engines add identical integers; the
    // closed-form slope then runs on exact 1e-9-multiples.
    "q_zipf" -> { (s, dir) =>
      val k = 100
      val top = Tables(s, dir, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc).limit(k)
        .localCheckpoint()
      val ranked = top.as("a").join(broadcast(top.as("b")),
          col("b.n") > col("a.n") ||
            (col("b.n") === col("a.n") && col("b.token") < col("a.token")),
          "left")
        .groupBy(col("a.token").as("token"), col("a.n").as("n"))
        .agg((count(col("b.token")) + lit(1L)).as("rk"))
      val x = log(col("rk").cast(DoubleType))
      val y = log(col("n").cast(DoubleType))
      ranked.agg(count(lit(1)).as("k"),
          exactGridSum(x).as("sx"), exactGridSum(y).as("sy"),
          exactGridSum(x * y).as("sxy"), exactGridSum(x * x).as("sxx"))
        .select(col("k"),
          round((col("k") * fromGrid(col("sxy")) -
              fromGrid(col("sx")) * fromGrid(col("sy"))) /
            (col("k") * fromGrid(col("sxx")) -
              fromGrid(col("sx")) * fromGrid(col("sx"))), 6).as("zipf_slope"))
    },

    // Binned calibration + expected calibration error — the eval
    // primitive for any learned quality/filter score before it gates a
    // corpus. The "model" here is deterministic so the whole pipeline
    // is oracle-checkable: p = clamp(n_chars/1000) (pure IEEE rational
    // arithmetic, NO libm anywhere), the outcome an md5-uniform draw
    // u < p (u is an exact 16-adic fraction, the q_weighted_sample
    // construction — both engines derive it bit-identically). 10 fixed
    // bins; per-bin mean p via grid sums; ece = sum share*|gap| over
    // the checkpointed 10-row bin frame (branched for the scalar, so
    // no re-scan).
    "q_calibration" -> { (s, dir) =>
      val pri = md5(concat(lit("cal:"), col("doc_id").cast(StringType)))
      val u = (1 to 8).map { i =>
        val a = ascii(substring(col("pri"), i, 1))
        (a - when(a >= 97, 87).otherwise(48)).cast(DoubleType) *
          lit(1.0 / math.pow(16.0, i))
      }.reduce(_ + _)
      val p = least(lit(0.95), greatest(lit(0.05),
        col("n_chars").cast(DoubleType) / lit(1000.0)))
      val bins = Tables(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), pri.as("pri"))
        .withColumn("p", p)
        .withColumn("y", (u < col("p")).cast(LongType))
        .withColumn("bin", least(lit(9L), floor(col("p") * 10)))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), exactGridSum(col("p")).as("gp"),
          sum(col("y")).as("pos"))
        .localCheckpoint() // <= 10 rows; branched below for the scalar
      val ece = bins.agg(exactGridSum(
          abs(fromGrid(col("gp")) / col("n") -
            col("pos").cast(DoubleType) / col("n")) *
          col("n").cast(DoubleType)).as("ge"),
        sum(col("n")).as("nn"))
        .select(round(fromGrid(col("ge")) / col("nn"), 6).as("ece"))
      bins.crossJoin(broadcast(ece))
        .select(col("bin"), col("n"),
          round(fromGrid(col("gp")) / col("n"), 6).as("mean_p"),
          round(col("pos").cast(DoubleType) / col("n"), 6).as("rate"),
          round(abs(fromGrid(col("gp")) / col("n") -
            col("pos").cast(DoubleType) / col("n")), 6).as("gap"),
          col("ece"))
        .orderBy("bin")
    },

    // Interpolated Kneser-Ney bigram LM (Kneser & Ney 1995; the KenLM
    // default) — the smoothing that q_bigram_lm's simple interpolation
    // approximates: absolute discount D=0.75 off every seen bigram, the
    // freed mass backed off to the CONTINUATION distribution (how many
    // distinct contexts a word follows, not how often it occurs — the
    // "San Francisco" correction). Scale shape: the bigram TYPE table is
    // built off its own scan (no branch on the per-doc stream),
    // checkpointed once, and feeds three small keyed aggregates
    // (prefix/suffix/scalar); scoring joins are all vocab- or
    // bigram-keyed shuffles — nothing vocab-sized is broadcast or
    // windowed. ln terms grid-summed per the q_bigram_lm discipline.
    "q_kneser_ney" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val bc = docs.select(explode(TextOps.bigrams(col("text"))).as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("c12"))
        .withColumn("w1", substring_index(col("bg"), " ", 1))
        .withColumn("w2", substring_index(col("bg"), " ", -1))
        .localCheckpoint()
      // prefix totals + fanout N1+(w1, .), fanin N1+(., w2), and the
      // distinct-bigram-type scalar — all off the checkpointed LM table
      val pre = bc.groupBy("w1")
        .agg(sum(col("c12")).as("c1f"), count(lit(1)).as("nf"))
      val suf = bc.groupBy("w2").agg(count(lit(1)).as("nb"))
      val nbb = bc.agg(count(lit(1)).as("n_bb"))
      val p = (col("c12").cast(DoubleType) - lit(0.75)) / col("c1f") +
        lit(0.75) * col("nf") / col("c1f") *
          (col("nb").cast(DoubleType) / col("n_bb"))
      docs.select(col("doc_id"), explode(TextOps.bigrams(col("text"))).as("bg"))
        .join(bc, Seq("bg"))
        .join(pre, Seq("w1")).join(suf, Seq("w2"))
        .crossJoin(broadcast(nbb))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), exactGridSum(log(p)).as("lsum"))
        .withColumn("avg_logp",
          round(fromGrid(col("lsum")) / col("n_bigrams"), 6))
        .select(col("doc_id"), col("n_bigrams"), col("avg_logp"))
        .orderBy("doc_id")
    },

    // Mutual nearest neighbors over embeddings — the bitext/pair-mining
    // primitive (Artetxe & Schwenk 2019 margin mining's exact-NN core):
    // vectors split into two halves (vec_id parity standing in for the
    // two languages), and a pair survives only if each side is the
    // OTHER's top-1 — the reciprocity test that kills hub false
    // positives. Scale shape: the pairwise scoring is confined to
    // SemDeDup-style coarse cells (nearest-centroid assignment via the
    // native flat-literal kernel — no corpus shuffle; in-cell work is
    // linear at fixed cell size), the per-side argmax is an aggregate
    // (never a global window), and cross-cell neighbors are forfeited —
    // the documented IVF-recall tradeoff, same as q_embed_ann_ivf.
    "q_mutual_nn" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val c0 = e.select(col("vec_id").as("id"),
        VectorOps.toDoubleVec(col("embedding")).as("vec"))
      val (nlist, sample) = VectorOps.coarseSample(
        c0.select(col("id").as("n_id"), col("vec").as("n_vec")), 0)
      val centroids = sample.take(nlist)
      val dim = centroids.head.size
      val flat = lit(centroids.flatten.toArray)
      val assigned = c0.withColumn("cell",
          call_function("graft_nearest_cell", col("vec"), flat, lit(dim)))
        .localCheckpoint()
      val a = assigned.filter(col("id") % 2 === 0)
        .select(col("cell"), col("id").as("ia"), col("vec").as("va"))
      val b = assigned.filter(col("id") % 2 === 1)
        .select(col("cell"), col("id").as("ib"), col("vec").as("vb"))
      val scored = a.join(b, Seq("cell"))
        .withColumn("cs", round(VectorOps.cosine(col("va"), col("vb")), 6))
        .select("ia", "ib", "cs").localCheckpoint()
      val bestB = scored.groupBy("ia")
        .agg(min(struct(negate(col("cs")).as("ns"), col("ib").as("ib"))).as("m"))
        .select(col("ia"), col("m.ib").as("ib"))
      val bestA = scored.groupBy("ib")
        .agg(min(struct(negate(col("cs")).as("ns"), col("ia").as("ia"))).as("m"))
        .select(col("ib"), col("m.ia").as("ia"))
      bestB.join(bestA, Seq("ia", "ib"))
        .join(scored, Seq("ia", "ib"))
        .select(col("ia").as("id_a"), col("ib").as("id_b"),
          col("cs").as("cos_sim"))
        .orderBy("id_a")
    },

    // Dunning log-likelihood keyness (Dunning 1993): G² of each token's
    // 2x2 contingency (this source vs the rest) — the corpus-linguistics
    // keyword extractor that surfaces what makes a source's vocabulary
    // DISTINCTIVE (chi2 without the small-count breakdown). Scale
    // shape: one token aggregate to the (source, token) frame
    // (checkpointed — three tiny aggregates branch off it), token-keyed
    // join for totals, per-source top-20 via a rank-limit window (Spark
    // plans WindowGroupLimit: map-side partial top-k per partition, so
    // no source's full vocabulary is ever sorted on one task). G²
    // terms use integer cross-products inside the ln (exact on both
    // engines) and rank on the rounded score.
    "q_keyness" -> { (s, dir) =>
      val a = Tables(s, dir, "documents")
        .select(col("source"), explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy("source", "token").agg(count(lit(1)).as("a"))
        .localCheckpoint()
      val tt = a.groupBy("token").agg(sum(col("a")).as("ab"))
      val st = a.groupBy("source").agg(sum(col("a")).as("n1"))
      val nn = a.agg(sum(col("a")).as("nn"))
      val b = col("ab") - col("a")
      val n2 = col("nn") - col("n1")
      // cast each FACTOR before multiplying: cross-products like a*nn
      // reach ~1e9 * 1e13 at 100 TB corpora — a BIGINT product wraps
      // silently; double products compute the identical IEEE value in
      // both engines (same op order both sides)
      val t1 = col("a").cast(DoubleType) *
        log(col("a").cast(DoubleType) * col("nn") /
          (col("n1").cast(DoubleType) * col("ab")))
      val t2 = when(b > 0, b.cast(DoubleType) *
        log(b.cast(DoubleType) * col("nn") /
          (n2.cast(DoubleType) * col("ab")))).otherwise(lit(0.0))
      val scored = a.join(tt, Seq("token"))
        .join(broadcast(st), Seq("source"))
        .crossJoin(broadcast(nn))
        .select(col("source"), col("token"),
          round(lit(2.0) * (t1 + t2), 6).as("g2"),
          (col("a").cast(DoubleType) * col("nn") >
            col("n1").cast(DoubleType) * col("ab")).as("over_rep"))
      val w = Window.partitionBy("source")
        .orderBy(col("g2").desc, col("token").asc)
      scored.withColumn("rk", row_number().over(w).cast(LongType))
        .filter(col("rk") <= 20)
        .select(col("source"), col("rk"), col("token"), col("g2"), col("over_rep"))
        .orderBy("source", "rk")
    },

    // MinHash with engine-portable md5 permutations — the
    // oracle-CHECKED twin of q_dedup_minhash (whose native XXH64 path
    // is rows-only by construction): 16 per-shingle md5 hashes, per-doc
    // min signature, 8x2 banded candidate generation, and the
    // estimate-vs-exact accuracy report (est = agreeing perms / 16 —
    // the unbiased Broder estimator — against the exact shingle
    // Jaccard on the SAME candidate pairs). This is the per-round
    // calibration check a production LSH pipeline runs on a sample:
    // the abs_err column IS the measured estimator error. Scale shape:
    // the shingle explode is the one corpus-sized frame (checkpointed,
    // reused by signatures and the exact-overlap join), signatures are
    // |docs|x16, bands are keyed joins — no all-pairs anything.
    "q_minhash_est" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val (sh0, sig0, _, cand) = md5MinhashPipeline(docs, reuseShingles = true)
      // Candidate-id prune (r21, guide §3.2): the est/exact arms only
      // read signature and shingle rows of docs that appear in a
      // candidate PAIR, yet the joins below shuffled the FULL corpus
      // frames (sh is the biggest frame of the query — OPTIMIZATION_r21.md
      // attributed the residual cost and the 0.41 8→32c scaling ratio
      // to exactly these two doc-id exchanges). cand is checkpointed,
      // so the id list is cheap to count; under the same measured ≤8M
      // broadcast gate as triangleRows' degree table the semi joins
      // prune BOTH frames map-side, and the pair joins then shuffle
      // candidate-sized inputs. Inner joins against cand's ids make
      // the prune a semantic no-op; past the gate the original
      // corpus-sized joins run unchanged.
      val pruneGate = cand.count() <= 4L * 1000 * 1000
      // checkpointed so the distinct-id subtree is planned (and run)
      // once, not once per semi join
      lazy val candIds = cand.select(col("id_a").as("doc_id"))
        .union(cand.select(col("id_b").as("doc_id"))).distinct()
        .localCheckpoint()
      val sh = if (pruneGate)
        sh0.join(broadcast(candIds), Seq("doc_id"), "left_semi") else sh0
      val sig = if (pruneGate)
        sig0.join(broadcast(candIds), Seq("doc_id"), "left_semi") else sig0
      val est = cand
        .join(sig.select(col("doc_id").as("id_a"), col("p"), col("h").as("ha")),
          Seq("id_a"))
        .join(sig.select(col("doc_id").as("id_b"), col("p"), col("h").as("hb")),
          Seq("id_b", "p"))
        .groupBy("id_a", "id_b")
        .agg((sum(when(col("ha") === col("hb"), 1L).otherwise(0L))
          .cast(DoubleType) / lit(16.0)).as("est"))
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      val shared = cand
        .join(sh.select(col("doc_id").as("id_a"), col("sh")), Seq("id_a"))
        .join(sh.select(col("doc_id").as("id_b"), col("sh")), Seq("id_b", "sh"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("ns"))
      val exact = col("ns").cast(DoubleType) /
        (col("na") + col("nb") - col("ns"))
      cand.join(est, Seq("id_a", "id_b"))
        .join(shared, Seq("id_a", "id_b"), "left")
        .join(sizes.select(col("doc_id").as("id_a"), col("n_sh").as("na")),
          Seq("id_a"))
        .join(sizes.select(col("doc_id").as("id_b"), col("n_sh").as("nb")),
          Seq("id_b"))
        .withColumn("ns", coalesce(col("ns"), lit(0L)))
        .select(col("id_a"), col("id_b"),
          round(col("est"), 6).as("est_jaccard"),
          round(exact, 6).as("exact_jaccard"),
          round(abs(col("est") - exact), 6).as("abs_err"))
        .orderBy("id_a", "id_b")
    },

    // Token burstiness (Church & Gale 1995): variance-to-mean ratio of
    // per-doc counts — a Poisson word has VMR ~ 1; content words BURST
    // (all occurrences clumped in few docs), and burst outliers flag
    // keyword stuffing / boilerplate the per-doc stats miss. Exact
    // integer moments (sum c, sum c^2 over the (token, doc) frame,
    // zeros contribute nothing to either), corpus size broadcast from a
    // narrow scan, min-df 5 cut, top-30 via orderBy+limit
    // (TakeOrderedAndProject — map-side partial top-k, the q_rbo
    // discipline) with ranks assigned on the 30-row result.
    "q_burstiness" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val td = docs.select(col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy("token", "doc_id").agg(count(lit(1)).as("c"))
      val tok = td.groupBy("token").agg(
        count(lit(1)).as("df"), sum(col("c")).as("tf"),
        sum(col("c") * col("c")).as("sq"))
      val nd = docs.agg(count(lit(1)).as("n_docs"))
      val mu = col("tf").cast(DoubleType) / col("n_docs")
      val vmr = (col("sq").cast(DoubleType) / col("n_docs") - mu * mu) / mu
      val top = tok.filter(col("df") >= 5)
        .crossJoin(broadcast(nd))
        .select(col("token"), col("df"), col("tf"),
          round(vmr, 6).as("burstiness"))
        .orderBy(col("burstiness").desc, col("token").asc).limit(30)
      // the rank window sits directly above the global limit, so the
      // ExplainSpec gate sees the 30-row bound in the same subtree
      top.withColumn("rk", row_number().over(
          Window.orderBy(col("burstiness").desc, col("token").asc))
          .cast(LongType))
        .select(col("rk"), col("token"), col("df"), col("tf"), col("burstiness"))
        .orderBy("rk")
    },

    // Per-source duplication rate — the "which domain is spammiest"
    // triage that decides WHERE dedup budget goes before any pairwise
    // pass runs: normalized-content distinct count vs doc count per
    // source. One exact two-level aggregate (hash keys first, then the
    // per-source roll-up — no countDistinct Expand), rates as the only
    // doubles.
    "q_dup_rate" -> { (s, dir) =>
      val h = Tables(s, dir, "documents")
        .select(col("source"), md5(TextOps.normText(col("text"))).as("th"))
        .groupBy("source", "th").agg(count(lit(1)).as("c"))
      h.groupBy("source")
        .agg(sum(col("c")).as("n_docs"), count(lit(1)).as("n_distinct"),
          sum(col("c") - 1).as("n_dups"))
        .select(col("source"), col("n_docs"), col("n_distinct"), col("n_dups"),
          round(col("n_dups").cast(DoubleType) / col("n_docs"), 6)
            .as("dup_rate"))
        .orderBy("source")
    },

    // LSH design table: the s-curve P(candidate | similarity s) =
    // 1 - (1 - s^r)^b for every banding scheme this engine deploys —
    // the chart that justifies each (r, b) choice (where the curve's
    // threshold sits, how sharp the cutoff is). Pure closed form on a
    // generated grid (no table scan); powers are exact
    // multiply-by-squaring chains so both engines build the identical
    // expression tree.
    "q_lsh_curve" -> { (s, dir) =>
      def pow2Chain(x: Column, n: Int): Column =
        if (n == 1) x else { val h = pow2Chain(x, n / 2); h * h }
      val grid = s.range(1, 20)
        .select(col("id"), (col("id").cast(DoubleType) / lit(20.0)).as("s"))
      val frames = Seq(("media_phash", 16, 4), ("dedup_minhash", 4, 4),
        ("minhash_est", 2, 8)).map { case (scheme, r, b) =>
        grid.select(lit(scheme).as("scheme"),
          lit(r.toLong).as("r"), lit(b.toLong).as("b"),
          round(col("s"), 6).as("s"),
          round(lit(1.0) - pow2Chain(lit(1.0) - pow2Chain(col("s"), r), b), 6)
            .as("p_candidate"))
      }
      frames.reduce(_ unionByName _).orderBy("scheme", "s")
    },

    // Jensen-Shannon divergence matrix between source unigram
    // distributions — the corpus-similarity input to mixture design
    // (which domains are near-duplicates of each other, which add
    // coverage; symmetric, bounded by ln 2, defined even where vocabs
    // don't overlap — the reasons JSD beats raw KL here). Scale shape:
    // one token aggregate to the checkpointed (source, token) frame,
    // the |sources|²/2 pair grid broadcast onto it twice, a full-outer
    // token join per pair (token-keyed shuffle — vocab never broadcast),
    // ln terms grid-summed per pair. Zero-side terms reduce to
    // p·ln 2 exactly, handled by identical CASEs in both engines.
    "q_js_divergence" -> { (s, dir) =>
      val a = Tables(s, dir, "documents")
        .select(col("source"), explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy("source", "token").agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val st = a.groupBy("source").agg(sum(col("c")).as("n"))
      val pairs = st.select(col("source").as("s1"), col("n").as("n1"))
        .join(st.select(col("source").as("s2"), col("n").as("n2")),
          col("s1") < col("s2"))
      val x = a.join(broadcast(pairs), col("source") === col("s1"))
        .select(col("s1"), col("s2"), col("n1"), col("n2"),
          col("token"), col("c").as("ca"))
      val y = a.join(broadcast(pairs), col("source") === col("s2"))
        .select(col("s1").as("t1"), col("s2").as("t2"),
          col("token").as("tok"), col("c").as("cb"))
      val joined = x.join(y,
          col("s1") === col("t1") && col("s2") === col("t2") &&
            col("token") === col("tok"), "full_outer")
        .select(
          coalesce(col("s1"), col("t1")).as("s1"),
          coalesce(col("s2"), col("t2")).as("s2"),
          coalesce(col("ca"), lit(0L)).as("ca"),
          coalesce(col("cb"), lit(0L)).as("cb"))
      // totals re-attached AFTER the outer join (the y side carries no
      // n1/n2 for tokens absent from x)
      val tot = joined
        .join(broadcast(st.select(col("source").as("s1"), col("n").as("n1"))), Seq("s1"))
        .join(broadcast(st.select(col("source").as("s2"), col("n").as("n2"))), Seq("s2"))
      val p = col("ca").cast(DoubleType) / col("n1")
      val q = col("cb").cast(DoubleType) / col("n2")
      val termP = when(col("ca") > 0,
        p * log(lit(2.0) * p / (p + q))).otherwise(lit(0.0))
      val termQ = when(col("cb") > 0,
        q * log(lit(2.0) * q / (p + q))).otherwise(lit(0.0))
      tot.groupBy("s1", "s2")
        .agg(exactGridSum(termP).as("gp"), exactGridSum(termQ).as("gq"))
        .select(col("s1"), col("s2"),
          round(lit(0.5) * fromGrid(col("gp")) +
            lit(0.5) * fromGrid(col("gq")), 6).as("jsd"))
        .orderBy("s1", "s2")
    },

    // Inter-rater agreement (Cohen's kappa) per source — the label-QA
    // primitive before any annotated set trains a filter: agreement
    // corrected for chance. Rater 1 is a deterministic length heuristic,
    // rater 2 a 20%-noise copy flipped on an md5-uniform draw (the
    // q_weighted_sample 16-adic construction — exact in both engines),
    // so the whole table is oracle-checkable. Pure counting: one
    // aggregate per source, kappa from exact integer marginals.
    "q_kappa" -> { (s, dir) =>
      val pri = md5(concat(lit("r2:"), col("doc_id").cast(StringType)))
      val u = (1 to 8).map { i =>
        val a = ascii(substring(col("pri"), i, 1))
        (a - when(a >= 97, 87).otherwise(48)).cast(DoubleType) *
          lit(1.0 / math.pow(16.0, i))
      }.reduce(_ + _)
      val lab = Tables(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          (col("n_chars") >= 400).as("r1"), pri.as("pri"))
        .withColumn("r2", (col("r1") =!= (u < lit(0.2))))
      val agg = lab.groupBy("source").agg(
        count(lit(1)).as("n"),
        sum(when(col("r1") === col("r2"), 1L).otherwise(0L)).as("agree"),
        sum(when(col("r1"), 1L).otherwise(0L)).as("a1"),
        sum(when(col("r2"), 1L).otherwise(0L)).as("b1"))
      val a0 = col("n") - col("a1")
      val b0 = col("n") - col("b1")
      val po = col("agree").cast(DoubleType) / col("n")
      val pe = (col("a1") * col("b1") + a0 * b0).cast(DoubleType) /
        (col("n") * col("n")).cast(DoubleType)
      agg.select(col("source"), col("n"), col("agree"),
          round((po - pe) / (lit(1.0) - pe), 6).as("kappa"))
        .orderBy("source")
    },

    // Tokenizer fertility by source: subwords per word and bytes per
    // subword under the trained BPE — the tokenizer-eval metric that
    // decides whether a vocab serves every source fairly (a domain
    // with high fertility pays more sequence length per byte of
    // content). Composes the q_bpe_encode pipeline (vocab-only merge
    // rounds; encode is the linear pass) with a per-source aggregate —
    // exact integer sums, two double divisions per source row.
    "q_fertility" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val enc = BpeOps.bpeEncode(docs, "text", "doc_id", merges = 2)
      enc.join(docs.select(col("doc_id"), col("source"), col("n_chars")),
          Seq("doc_id"))
        .groupBy("source")
        .agg(sum(col("n_words")).as("words"),
          sum(col("n_subwords")).as("subwords"),
          sum(col("n_chars")).as("chars"))
        .select(col("source"), col("words"), col("subwords"), col("chars"),
          round(col("subwords").cast(DoubleType) / col("words"), 6)
            .as("fertility"),
          round(col("chars").cast(DoubleType) / col("subwords"), 6)
            .as("chars_per_subword"))
        .orderBy("source")
    },

    // Learned-filter application (fastText-style linear inference): the
    // quality-classifier shape production pipelines run corpus-wide —
    // hashed bag-of-words features x a weight vector, one score per
    // doc, keep = sign. Weights are a deterministic hash-derived stand-
    // in (md5 8-hex prefix -> [-1000, 1000]) so the WHOLE inference is
    // oracle-checkable; swapping real trained weights in changes the
    // literals, not the plan. Scale shape: entirely IN-ROW — zero
    // shuffles, zero explode; the weight sum is an exact integer fold
    // via the native codegen'd graft_weight_sum kernel (one md5 per
    // token — the aggregate() HOF spelling was CodegenFallback and
    // recomputed the md5 up to 8x per token; HashExpressionsSpec pins
    // the two forms equal), one double division per doc at the end.
    "q_linear_quality" -> { (s, dir) =>
      val toks = split(col("text"), " ")
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(toks).cast(LongType).as("n_tok"),
          call_function("graft_weight_sum", toks).as("wsum"))
        // NOT rounded: the score is one IEEE division of two exact
        // integers — bit-identical cross-engine as is, while round(…, 6)
        // hits half-way ties (wsum/(1000·n) lands exactly on …5 when n
        // is a power of two) that the engines break differently
        .select(col("doc_id"), col("source"), col("n_tok"),
          (col("wsum").cast(DoubleType) /
            (col("n_tok") * lit(1000L)).cast(DoubleType)).as("score"),
          (col("wsum") > 0L).as("keep"))
        .orderBy("doc_id")
    },

    // Per-source token Shannon entropy — the within-source diversity
    // probe (q_js_divergence measures BETWEEN-source divergence; this
    // measures how peaked each source's own distribution is — near-zero
    // entropy flags templated/boilerplate sources before they skew a
    // mixture). One (source, token) aggregate off the scan
    // (checkpointed — branched into totals and the term sum), totals
    // broadcast back, -p·ln(p) terms grid-summed exactly; normalized
    // entropy divides by ln(vocab) for a size-free [0, 1] health score.
    "q_token_entropy" -> { (s, dir) =>
      val counts = Tables(s, dir, "documents")
        .select(col("source"), explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy("source", "token").agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val st = counts.groupBy("source")
        .agg(sum(col("c")).as("n"), count(lit(1)).as("vocab"))
      val p = col("c").cast(DoubleType) / col("n").cast(DoubleType)
      counts.join(broadcast(st), Seq("source"))
        .groupBy(col("source"), col("n"), col("vocab"))
        .agg(exactGridSum(-p * log(p)).as("g"))
        .select(col("source"), col("n").as("n_tok"), col("vocab"),
          round(fromGrid(col("g")), 6).as("entropy"),
          when(col("vocab") > 1L,
            round(fromGrid(col("g")) / log(col("vocab").cast(DoubleType)), 6))
            .otherwise(lit(0.0)).as("entropy_norm"))
        .orderBy("source")
    },

    // Learned-filter TRAINING step (the counterpart to
    // q_linear_quality's inference): one full-batch logistic-regression
    // gradient step over hashed binary bag-of-words features — the
    // compute shape of fitting a quality classifier corpus-wide. Every
    // float hazard is closed: the margin is an exact integer milli-sum
    // of the (deterministic) weight literals over the doc's active
    // buckets divided ONCE; the sigmoid is the rational surrogate
    // 0.5·(1 + m/(1+|m|)) (no libm exp, bit-identical cross-engine);
    // the per-bucket gradient Σ(σ−y) is grid-summed. Plan: one token
    // explode → distinct (doc, bucket) → per-doc margin aggregate →
    // rejoin on doc_id (same key, shared exchange layout) → 32-row
    // bucket aggregate. At 100 TB: everything is token- or doc-keyed;
    // only |buckets| rows reach the final group.
    "q_logreg_step" -> { (s, dir) =>
      val nBuckets = 32
      def hexVal(h: Column, i: Int): Column = {
        val a = ascii(substring(h, i, 1))
        (a - when(a >= 97, 87).otherwise(48)).cast(LongType)
      }
      // deterministic "current" weights, in exact milli-units
      def wMilli(b: Column): Column = (b * lit(2654435761L)) % 2001L - 1000L
      val db = Tables(s, dir, "documents")
        .select(col("doc_id"), (col("n_chars") >= 400L).as("y"),
          explode(TextOps.tokens(col("text"))).as("token"))
        .select(col("doc_id"), col("y"),
          ((1 to 8).map { i =>
            hexVal(md5(concat(lit("b:"), col("token"))), i) *
              lit(1L << (4 * (8 - i)))
          }.reduce(_ + _) % nBuckets).as("bucket"))
        .distinct()
        .localCheckpoint()
      val margins = db.groupBy(col("doc_id"), col("y"))
        .agg(sum(wMilli(col("bucket"))).as("m_milli"))
      val m = col("m_milli").cast(DoubleType) / lit(1000.0)
      val sigma = lit(0.5) * (lit(1.0) + m / (lit(1.0) + abs(m)))
      val scored = margins.select(col("doc_id").as("sd"),
        (sigma - when(col("y"), 1.0).otherwise(0.0)).as("err"))
      db.join(scored, col("doc_id") === col("sd"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), exactGridSum(col("err")).as("g"))
        .select(col("bucket"), col("n_docs"),
          (wMilli(col("bucket")).cast(DoubleType) / lit(1000.0)).as("w_old"),
          fromGrid(col("g")).as("grad"),
          (wMilli(col("bucket")).cast(DoubleType) / lit(1000.0) -
            lit(0.1) * fromGrid(col("g"))).as("w_new"))
        .orderBy("bucket")
    },

    // Differentially-private count release (Laplace mechanism) — the
    // privacy tier's RELEASE side (q_k_anonymity is the audit side):
    // per-(source, lang) doc counts plus Laplace(1/ε) noise, ε = 1,
    // sensitivity 1. The noise draw is a deterministic md5-uniform of
    // the GROUP KEY (so the whole release is oracle-checkable — a
    // production run swaps in a real RNG, plan unchanged), inverted
    // through the standard -sign·ln(1−2|u−½|) transform; the noise is
    // quantized to 1e-6 via an exact floor (identical bits in, floor
    // out — no round() ties), so noisy = n + k/1e6 exactly. One
    // aggregate, |sources|x|langs| rows, noise math on the tiny frame.
    "q_dp_noise" -> { (s, dir) =>
      def hexVal(h: Column, i: Int): Column = {
        val a = ascii(substring(h, i, 1))
        (a - when(a >= 97, 87).otherwise(48)).cast(DoubleType)
      }
      val counts = Tables(s, dir, "documents")
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n"))
      val h = md5(concat(lit("dp:"), col("source"), lit(":"), col("lang")))
      val u = (1 to 8).map(i =>
        hexVal(h, i) * lit(1.0 / math.pow(16.0, i))).reduce(_ + _)
      val t = abs(u - lit(0.5))
      val lap = -signum(u - lit(0.5)) *
        log(greatest(lit(1.0) - lit(2.0) * t, lit(1e-12)))
      counts
        .select(col("source"), col("lang"), col("n"),
          (col("n").cast(DoubleType) +
            floor(lap * lit(1e6) + lit(0.5)) / lit(1e6)).as("noisy_n"))
        .orderBy("source", "lang")
    },

    // Multimodal: batched fake-decode through the mapPartitions plumbing.
    // The codec is a deterministic stub, so its byte-statistics output IS
    // SQL-reproducible — the oracle re-derives the Arrays.hashCode fold
    // and byte sums (fakeCodecCte below), the same R->O conversion
    // q_embed_pq's codebook got.
    "q_media_decode" -> { (s, dir) =>
      import org.apache.spark.sql.Encoders
      val d = MultimodalOps.withBlob(Tables(s, dir, "documents"), "text")
        .select(
          col("doc_id").as("media_id"),
          when(col("doc_id") % 3 === 0, "image")
            .when(col("doc_id") % 3 === 1, "audio")
            .otherwise("video").as("kind"),
          col("blob"))
        .as(Encoders.product[MultimodalOps.MediaRow])
      MultimodalOps.decodeFeatures(s, d).toDF()
        .select(col("media_id"), col("kind"), col("n_bytes"),
          col("width").cast(LongType).as("width"),
          col("height").cast(LongType).as("height"),
          col("n_frames").cast(LongType).as("n_frames"),
          col("mean_intensity"))
        .orderBy("media_id")
    },

    // Multimodal AUDIO, oracle-checked end to end THROUGH a real WAV
    // container: each doc's utf-8 text bytes become 8-bit unsigned PCM
    // samples, encoded into WAV by the JDK's own encoder
    // (AudioSystem.write) and decoded back by WavPcmCodec
    // (javax.sound.sampled) inside one mapPartitions pass — no shuffle,
    // no driver hop, real container bytes in between. Because the
    // samples ARE the text bytes, every decoded stat has a closed form
    // the oracle re-derives per char (the generator text is ASCII, so
    // chars == bytes — a non-ASCII regeneration would fail the gate
    // loudly): n_frames = octet_length, rms/peak over (byte−128)/128
    // with the identical IEEE op order, and n_bytes = samples + the
    // 44-byte canonical RIFF header, which pins the container
    // roundtrip itself.
    // Audio FINGERPRINTING on top of the real WAV path — the retrieval/
    // dedup tier for the audio modality (q_media_phash's counterpart):
    // encode text bytes as 8-bit PCM WAV, decode the data chunk back
    // through the RIFF fast path, then the frame-energy delta signature
    // (MultimodalOps.audioFingerprint — Haitsma-Kalker sign bits
    // without the FFT, so the WHOLE path is oracle-checkable). Docs
    // sharing a signature are dup candidates; n_same_sig surfaces the
    // group sizes. Scale shape: fingerprints compute in-task (no
    // shuffle), then ONE exchange keyed on the 8-byte signature — the
    // audio analog of q_dedup_exact's digest-only shuffle.
    "q_audio_fingerprint" -> { (s, dir) =>
      import org.apache.spark.sql.Encoders
      // fanOut tried and REVERTED (r20): the WAV kernel is cheap at this
      // corpus size — the exchange cost more than the serialization it
      // removed (quiet 0.15 s -> 0.60 s measured).
      val fps = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .as(Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
        .mapPartitions(_.map { case (id, text) =>
          val pcm = MultimodalOps.WavPcmCodec.pcmU8Data(
            MultimodalOps.pcmU8ToWav(
              text.getBytes(java.nio.charset.StandardCharsets.UTF_8), 8000))
          val (nBits, sig) = MultimodalOps.audioFingerprint(pcm)
          (id, pcm.length.toLong, nBits.toLong, sig)
        })(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
          Encoders.scalaLong, Encoders.scalaLong))
        .toDF("doc_id", "n_samples", "n_bits", "sig")
      val w = Window.partitionBy(col("sig"))
      fps.withColumn("n_same_sig", count(lit(1)).over(w))
        .orderBy("doc_id")
    },

    // Video-fingerprint dedup through a REAL container: each document
    // deterministically becomes an uncompressed-DIB AVI (frame k = a
    // flat gray at the ascii code of text char 16k, up to 32 frames),
    // the blob is parsed back through AviMjpegCodec's RIFF walk + DIB
    // pixel decode, and the signature is the frame-delta sign-bit fold
    // (q_audio_fingerprint's shape on mean lumas instead of frame
    // energies). Everything is exact integer math — flat-gray BT.601
    // luma is the gray level itself — so the DuckDB oracle re-derives
    // the ENTIRE pipeline from the text, the same closed-form identity
    // the WAV roundtrip uses. Scale shape: one linear encode→decode
    // pass per doc inside mapPartitions, then ONE shuffle keyed on the
    // 8-byte signature — video bytes never cross an exchange.
    "q_video_fingerprint" -> { (s, dir) =>
      import org.apache.spark.sql.Encoders
      // fanOut tried and REVERTED (r20): the AVI kernel is cheap at this
      // corpus size — the exchange cost more than the serialization it
      // removed (quiet 0.28 s -> 0.70 s measured).
      val fps = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .as(Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
        .mapPartitions(_.map { case (id, text) =>
          // Code-POINT positions and values (mod 256 for the 8-bit DIB
          // gray), matching the oracle's character-based substring/
          // ascii exactly for non-ASCII and astral text alike — UTF-16
          // code units would silently diverge from DuckDB there.
          val cps = text.codePointCount(0, text.length)
          val f = math.min(32, cps / 16)
          if (f == 0) (id, 0L, 0L, 0L)
          else {
            val grays = (0 until f).map { k =>
              text.codePointAt(text.offsetByCodePoints(0, 16 * k)) & 0xff
            }
            val avi = MultimodalOps.grayFramesToAviDib(grays, 8, 6)
            val (nBits, sig) = MultimodalOps.videoFingerprint(id, avi)
            (id, f.toLong, nBits.toLong, sig)
          }
        })(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
          Encoders.scalaLong, Encoders.scalaLong))
        .toDF("doc_id", "n_frames", "n_bits", "sig")
      val w = Window.partitionBy(col("sig"))
      fps.withColumn("n_same_sig", count(lit(1)).over(w))
        .orderBy("doc_id")
    },

    "q_audio_decode" -> { (s, dir) =>
      import org.apache.spark.sql.Encoders
      // fanOut tried and REVERTED (r20): the WAV roundtrip is cheap at
      // this corpus size — the exchange cost more than the
      // serialization it removed (quiet 0.15 s -> 0.46 s measured).
      val feats = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .as(Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
        .mapPartitions(_.map { case (id, text) =>
          MultimodalOps.WavPcmCodec.decode(id,
            MultimodalOps.pcmU8ToWav(
              text.getBytes(java.nio.charset.StandardCharsets.UTF_8), 8000))
        })(Encoders.product[MultimodalOps.AudioFeatures])
      feats.toDF()
        .select(col("media_id").as("doc_id"), col("n_bytes"),
          col("sample_rate").cast(LongType).as("sample_rate"),
          col("channels").cast(LongType).as("channels"),
          col("bits").cast(LongType).as("bits"),
          col("n_frames"),
          round(col("duration_ms"), 6).as("duration_ms"),
          round(col("rms"), 6).as("rms"),
          round(col("peak"), 6).as("peak"))
        .orderBy("doc_id")
    },

    // Rendezvous (highest-random-weight) sharding with a resize audit:
    // every document routes to argmax over shards of md5(shard:doc_id),
    // computed entirely IN-ROW (an array fold over the shard list — no
    // explode, no per-shard rows, nothing but the 72-key (old, new)
    // transition matrix ever crosses an exchange). The audit compares
    // the 8-shard and 9-shard assignments: HRW's guarantee is that
    // resizing moves ONLY documents whose new argmax IS the added shard
    // (expected 1/9 of the corpus) — every off-diagonal row with
    // shard_new <> 8 would be a routing-stability bug. This is the 100
    // TB ingest-routing primitive: stable writer assignment under
    // elastic resize without a coordination service.
    "q_shard_assign" -> { (s, dir) =>
      def hrw(n: Int): Column =
        array_max(transform(sequence(lit(0), lit(n - 1)),
          sh => struct(
            md5(concat(lit("shard"), sh.cast(StringType), lit(":"),
              col("doc_id").cast(StringType))).as("h"),
            sh.cast(LongType).as("s")))).getField("s")
      // fanOut tried and REVERTED (r20): 17 md5 digests per doc is
      // still cheap at this corpus size — the exchange cost more than
      // it saved (quiet 0.20 s -> 0.30 s measured).
      Tables(s, dir, "documents").select("doc_id")
        .select(hrw(8).as("shard_old"), hrw(9).as("shard_new"))
        .groupBy("shard_old", "shard_new")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("shard_old", "shard_new")
    },

    // Blocklist filtering (the C4-style bad-phrase gate): per-phrase
    // document hits and total occurrences, plus the '__any__' roll-up
    // row a filtering run actually gates on. Counting runs through the
    // native Aho-Corasick kernel (`graft_multi_count`): ONE codegen'd
    // pass over each document's bytes yields all phrase counts at once
    // — per-row cost O(|text|) regardless of dictionary size, where the
    // portable replace-length spelling rescans the text once per phrase
    // (measured 23.4x at a 240-phrase dictionary, graft.AcBench at
    // sf0.1; AcExpressionsSpec pins the semantic equivalence on the
    // borderless dictionary). The
    // oracle keeps the replace-length identity — the hash-match IS the
    // cross-implementation proof. Only |dict|-keyed partials plus one
    // counter row cross exchanges.
    "q_blocklist" -> { (s, dir) =>
      blocklistGate(Tables(s, dir, "documents"), BlocklistPhrases)
    },

    // The same gate at a production-shaped dictionary (240 phrases —
    // the C4-badwords order of magnitude): identical plan, identical
    // oracle construction, so the driver's hash gate certifies the AC
    // kernel at the dictionary size where the one-pass design is the
    // difference between 0.2 s and 5 s per sweep (graft.AcBench).
    "q_blocklist_240" -> { (s, dir) =>
      blocklistGate(Tables(s, dir, "documents"), BlocklistPhrases240)
    })

  /** Shared body of the blocklist queries: per-phrase rows + the
    * '__any__' roll-up, counting through `graft_multi_count` (one AC
    * pass per document for the whole dictionary).
    */
  private def blocklistGate(docs: DataFrame, phrases: Seq[String]): DataFrame = {
    val d = docs.select(col("doc_id"), col("text"))
    val counts = call_function("graft_multi_count", col("text"),
      lit(phrases.mkString(",")))
    val phraseArr = array(phrases.map(lit): _*)
    val perPhrase = d
      .select(posexplode(counts).as(Seq("pos", "o")))
      .groupBy("pos")
      .agg(sum(when(col("o") > 0, 1L).otherwise(0L)).as("n_docs"),
        sum(col("o")).as("n_occurrences"))
      .select(element_at(phraseArr, col("pos") + 1).as("phrase"),
        col("n_docs"), col("n_occurrences"))
      // |dict| rows; reused by the union AND the '__any__' total below
      .localCheckpoint()
    val anyDocs = d
      .select((array_max(counts) > 0).as("f"))
      .agg(sum(when(col("f"), 1L).otherwise(0L)).as("n_docs"))
    val anyRow = anyDocs
      .join(broadcast(perPhrase.agg(sum(col("n_occurrences"))
        .as("n_occurrences"))))
      .select(lit("__any__").as("phrase"), col("n_docs"),
        col("n_occurrences"))
    perPhrase.unionByName(anyRow).orderBy("phrase")
  }

  /** The q_blocklist dictionary: two-word phrases over the corpus
    * vocabulary, none a substring of another and none self-overlapping
    * (no phrase has a proper border), so non-overlapping replace counts
    * equal all-occurrence counts and a future trie kernel would agree.
    */
  /** Body of q_repeated_spans (see the registered entry's scaladoc):
    * positions whose L-token gram repeats corpus-wide, merged into
    * per-doc spans. Exposed for spec-level planted-duplication tests.
    */
  /** (doc_id, toks) token frame shared by the repeated-span family. */
  private def spanTokFrame(docs: DataFrame): DataFrame =
    // fanOut tried and REVERTED (r20): the span family was already fast
    // at quiet minima (0.35-1.19 s each) — the added exchange was a
    // small net loss across the five consumers (sum +0.4 s measured).
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))

  /** Position-aligned L-token grams: (doc_id, pos, gram) with pos the
    * 0-based start token. (graft_shingle_hashes deliberately returns a
    * SORTED-DEDUPED hash set — right for membership probes, useless for
    * positions — so the span family materializes gram strings.)
    */
  private def gramFrame(t: DataFrame, L: Int): DataFrame =
    t.select(col("doc_id"),
      posexplode(when(size(col("toks")) >= L,
        transform(sequence(lit(0), size(col("toks")) - L),
          k => concat_ws(" ", slice(col("toks"), k + 1, lit(L)))))
        .otherwise(array().cast("array<string>"))).as(Seq("pos", "gram")))

  /** Merged duplicated-gram spans per doc: (doc_id, island, st, en2,
    * npos) with [st, en2) half-open in token positions. The gram-keyed
    * window count is the one corpus-wide exchange; the doc-keyed
    * window merges islands.
    */
  private def dupSpanFrame(t: DataFrame, L: Int): DataFrame = {
    val dup = gramFrame(t, L)
      .withColumn("c", count(lit(1)).over(Window.partitionBy("gram")))
      .filter(col("c") > 1)
      .select(col("doc_id"), col("pos"), (col("pos") + L).as("en"))
    mergeIslands(dup)
  }

  /** Overlapping/adjacent flagged windows (doc_id, pos, en) → merged
    * per-doc spans (doc_id, island, st, en2, npos) with [st, en2)
    * half-open — the doc-keyed interval-island fold shared by the
    * repeated-span and contamination-excision families.
    */
  private def mergeIslands(dup: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos", "en")
    val prevMax = max(col("en")).over(w.rowsBetween(Window.unboundedPreceding, -1))
    dup
      .withColumn("ni",
        when(prevMax.isNull || col("pos") > prevMax, 1L).otherwise(0L))
      .withColumn("island",
        sum(col("ni")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min("pos").as("st"), max("en").as("en2"),
        count(lit(1)).as("npos"))
  }

  /** Cut every span from its doc's token array and account for the
    * attrition: per-doc counts plus the md5 of the rebuilt text (pins
    * the FULL transform in both engines, not just counts). The token
    * filter is one higher-order `filter` with the per-doc span list as
    * its lambda environment — in-row, no extra exchange.
    */
  private def exciseSpans(t: DataFrame, spanFrame: DataFrame): DataFrame = {
    val spans = spanFrame.groupBy("doc_id")
      .agg(collect_list(struct(col("st"), col("en2"))).as("spans"))
    t.join(spans, Seq("doc_id"), "left")
      .withColumn("kept", when(col("spans").isNull, col("toks"))
        .otherwise(filter(col("toks"), (_, i) =>
          !exists(col("spans"),
            s => s.getField("st") <= i && i < s.getField("en2")))))
      .select(col("doc_id"),
        size(col("toks")).cast(LongType).as("n_tokens"),
        (size(col("toks")) - size(col("kept"))).cast(LongType).as("n_removed"),
        md5(concat_ws(" ", col("kept"))).as("excised_md5"),
        round(size(col("kept")).cast(DoubleType) / size(col("toks")), 6)
          .as("retained_frac"))
      .orderBy("doc_id")
  }

  private[graft] def repeatedSpans(docs: DataFrame, L: Int): DataFrame = {
    val t = spanTokFrame(docs)
    val perDoc = dupSpanFrame(t, L).groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), sum("npos").as("n_dup_pos"),
        sum(col("en2") - col("st")).as("dup_tokens"))
    t.select(col("doc_id"), size(col("toks")).cast(LongType).as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_pos"), lit(0L)).as("n_dup_pos"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        round(coalesce(col("dup_tokens"), lit(0L)).cast(DoubleType) /
          col("n_tokens"), 6).as("dup_frac"))
      .orderBy("doc_id")
  }

  /** The remediation half of the repeated-span pair: EXCISE every
    * duplicated span (the boilerplate-removal transform — dedup-first
    * ordering has already collapsed whole-doc clones, so what repeats
    * across the survivors is shared boilerplate, and removing every
    * occurrence is the standard treatment). Output is per-doc attrition
    * accounting plus the md5 of the excised text (both engines rebuild
    * the text from the SAME token frame, so the hash pins the full
    * transform, not just the counts). In-row work after the span
    * frames: the token filter is one higher-order `filter` with the
    * per-doc span list as its lambda environment — no extra exchange.
    */
  private[graft] def exciseRepeatedSpans(docs: DataFrame, L: Int): DataFrame = {
    val t = spanTokFrame(docs)
    exciseSpans(t, dupSpanFrame(t, L))
  }

  /** Surgical decontamination: EXCISE the benchmark-overlapping spans
    * instead of dropping whole documents (q_decontaminate's detection
    * turned into remediation — the standard treatment when a long
    * document contains one quoted benchmark item). Corpus positions
    * whose L-gram hits the broadcast benchmark gram set become covered
    * windows, merged and cut by the shared island/excise machinery.
    * Exact string grams on both sides: positions are required here, and
    * graft_shingle_hashes returns a sorted-deduped SET (membership-only
    * by design) — a position-aligned probe must carry the gram.
    */
  private[graft] def exciseContaminatedSpans(docs: DataFrame, L: Int): DataFrame = {
    val bench = gramFrame(spanTokFrame(docs.filter(col("doc_id") % 50 === 0)), L)
      .select("gram").distinct()
    val corpus = docs.filter(col("doc_id") % 50 =!= 0)
    val t = spanTokFrame(corpus)
    val covered = gramFrame(t, L)
      .join(broadcast(bench), Seq("gram"), "left_semi")
      .select(col("doc_id"), col("pos"), (col("pos") + L).as("en"))
    exciseSpans(t, mergeIslands(covered))
  }

  private[graft] val BlocklistPhrases = Seq(
    "big table", "big vector", "fast merge", "hash join", "slow query",
    "slow scan", "small batch", "sort merge", "stream filter", "window agg")

  /** Production-shaped dictionary generator: n two-word phrases over
    * the generator vocabulary, EXCLUDING the pairs that realize a
    * proper border (a phrase whose prefix equals its suffix, e.g.
    * "key spark" with border "k" — 21 of the raw 756). The oracle
    * counts occurrences via DuckDB `replace` (leftmost
    * non-overlapping), while the AC kernel counts ALL occurrences
    * including self-overlapping ones — and only a phrase with a proper
    * border can self-overlap, so the exclusion makes the AC ≡
    * replace-identity equivalence hold BY CONSTRUCTION on any text,
    * not merely on the word-boundary corpora the generator emits.
    * (Distinct words alone do NOT rule a border out — the earlier
    * docstring claimed they did.) The SINGLE source for both
    * q_blocklist_240's gated dictionary and graft.AcBench's curve — so
    * the bench always measures exactly the dictionary the oracle
    * certifies.
    */
  private[graft] def blocklistDict(n: Int): Seq[String] = {
    val vocab = Seq("key", "agg", "row", "scan", "slow", "fast", "table",
      "value", "part", "hash", "merge", "batch", "line", "sort", "window",
      "spark", "order", "data", "column", "join", "small", "customer",
      "query", "big", "stream", "group", "filter", "vector")
    def hasProperBorder(s: String): Boolean =
      (1 until s.length).exists(k => s.substring(0, k) == s.substring(s.length - k))
    val all = (for (a <- vocab; b <- vocab if a != b) yield s"$a $b")
      .filterNot(hasProperBorder)
    require(n <= all.size, s"blocklistDict: max ${all.size} phrases, asked $n")
    all.take(n)
  }

  /** The production-shaped dictionary for q_blocklist_240. */
  private[graft] val BlocklistPhrases240: Seq[String] = blocklistDict(240)

  /** DuckDB twin of [[TextOps.langIdNgram]], with the same deterministic
    * trigram profiles interpolated as literals so both engines score
    * identical sets.
    */
  /** Per-document (doc_id, lang, pred_lang) via the same trigram-profile
    * vote as `TextOps.langIdNgram` — the shared core of the q_lang_ngram
    * oracle and the q_lang_confusion rollup.
    */
  private def langPredSql: String = {
    val profiles = TextOps.langTrigramProfiles()
    def inList(p: Seq[String]) = p.map(t => "'" + t.replace("'", "''") + "'").mkString(", ")
    val scoreCols = profiles.map { case (lang, p) =>
      s"len(list_filter(grams, t -> t IN (${inList(p)}))) AS s_$lang"
    }.mkString(",\n             ")
    val langs = profiles.map(_._1)
    val greatestAll = langs.map("s_" + _).mkString("greatest(", ", ", ")")
    val caseArms = langs.map(l =>
      s"WHEN s_$l >= $greatestAll AND s_$l > 0 THEN '$l'").mkString("\n               ")
    s"""WITH g AS (
          SELECT doc_id, lang,
            list_transform(range(1, greatest(length(text) - 1, 1)),
              i -> substring(lower(text), CAST(i AS INT), 3)) AS grams
          FROM documents),
        scored AS (
          SELECT doc_id, lang,
             $scoreCols
          FROM g)
        SELECT doc_id, lang,
          CASE $caseArms
               ELSE 'und' END AS pred_lang
        FROM scored"""
  }

  private def langNgramOracle: String =
    s"""SELECT doc_id, lang, pred_lang FROM ($langPredSql) ORDER BY doc_id"""

  private def langConfusionOracle: String =
    s"""WITH p AS ($langPredSql),
        m AS (
          SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
          FROM p GROUP BY lang, pred_lang)
        SELECT lang, pred_lang, n,
          round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY lang), 6) AS frac
        FROM m ORDER BY lang, pred_lang"""

  /** Sequential-fold dot product of a DuckDB list column against a
    * literal coefficient array — the `list_sum(list_transform(...))`
    * form already proven bit-identical to `graft_dot` by the
    * q_embed_topk_agg / q_kmeans_iter oracles.
    */
  private def dotLitSql(vec: String, coeffs: Seq[Double]): String = {
    val lits = coeffs.map(_.toString).mkString("[", ", ", "]")
    s"list_sum(list_transform(range(1, len($vec) + 1), i -> $vec[i] * ($lits)[i]))"
  }

  /** q_embed_neardup oracle: reproduces the SAME hyperplane LSH buckets
    * (plane coefficients come from [[VectorOps.planeCoeffs]], the exact
    * literals the Spark plan folds in) and the same threshold-exact
    * cosine verify, so the emitted pair set matches bit-for-bit — the
    * LSH candidate stage is part of the query's semantics, not an
    * approximation the oracle has to forgive.
    */
  private lazy val neardupOracle: String = {
    val planes = VectorOps.planeCoeffs(bits = 4, dim = 64, seed = 42L)
    val bucket = planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN ${dotLitSql("vec", p)} >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       b AS (SELECT vec_id, vec, $bucket AS bucket FROM v)
       SELECT a.vec_id AS id_a, c.vec_id AS id_b
       FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
       WHERE list_sum(list_transform(range(1, len(a.vec) + 1), i -> a.vec[i] * c.vec[i]))
         / (sqrt(list_sum(list_transform(range(1, len(a.vec) + 1), i -> a.vec[i] * a.vec[i])))
          * sqrt(list_sum(list_transform(range(1, len(c.vec) + 1), i -> c.vec[i] * c.vec[i])))) >= 0.3
       ORDER BY id_a, id_b"""
  }

  /** q_winnow oracle: the k=5 rolling Rabin-Karp hash in closed form —
    * B^4..B^0 coefficients (B=257) against 5 consecutive bytes; max
    * value ~5.6e12, so BIGINT arithmetic is exact and equals the Scala
    * rolling form (which also never wraps at k=5). Window selection is
    * rightmost-argmin per w=8 window; selected positions are monotonic
    * non-decreasing, so the paper's record-on-change count equals
    * len(list_distinct(minpos)). Uses ord(char) for byte values — the
    * synthetic documents are pure ASCII at every SF (verified), where
    * codepoint == UTF-8 byte.
    */
  private val winnowOracle: String =
    """WITH h AS (
         SELECT doc_id,
           list_transform(range(1, greatest(length(text) - 4, 0) + 1), i ->
             4362470401 * ord(text[i]) + 16974593 * ord(text[i+1]) + 66049 * ord(text[i+2])
             + 257 * ord(text[i+3]) + ord(text[i+4])) AS hs
         FROM documents),
       sel AS (
         SELECT doc_id, hs,
           list_transform(range(1, greatest(len(hs) - 8 + 1, CASE WHEN len(hs) > 0 THEN 1 ELSE 0 END) + 1), s ->
             s + len(hs[s:least(s+7, len(hs))]) - list_position(list_reverse(hs[s:least(s+7, len(hs))]), list_min(hs[s:least(s+7, len(hs))]))
           ) AS minpos
         FROM h)
       SELECT doc_id,
         CAST(len(list_distinct(minpos)) AS BIGINT) AS n_fps,
         CASE WHEN len(minpos) = 0 THEN NULL ELSE hs[minpos[1]] END AS first_fp
       FROM sel ORDER BY doc_id"""

  /** Sequential-fold cosine between two DuckDB list columns — the form
    * proven bit-identical to `graft_cosine` by the q_embed_topk_agg
    * oracle (each accumulator's add sequence is ascending-index in both
    * the fused one-pass kernel and these three separate folds).
    */
  private def cosSql(a: String, c: String): String =
    s"""list_sum(list_transform(range(1, len($a.vec) + 1), i -> $a.vec[i] * $c.vec[i]))
     / (sqrt(list_sum(list_transform(range(1, len($a.vec) + 1), i -> $a.vec[i] * $a.vec[i])))
      * sqrt(list_sum(list_transform(range(1, len($c.vec) + 1), i -> $c.vec[i] * $c.vec[i]))))"""

  /** q_mmr_select's oracle: the k greedy rounds UNROLLED — stage i
    * rescoring the candidates against sel1..sel(i-1) with the same
    * sequential-fold cosine ([[cosSql]]) and 0.5/0.5 blend the Spark
    * driver loop evaluates, each argmax an ORDER BY mmr DESC, id
    * LIMIT 1. Generated programmatically so k changes in one place.
    */
  private def mmrOracle(k: Int): String = {
    val head =
      s"""WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec
           FROM embeddings),
         q AS (SELECT vec FROM v WHERE id = 0),
         cand AS (SELECT v.id, v.vec, ${cosSql("v", "q")} AS rel
           FROM v, q WHERE v.id <> 0),
         sel1 AS (SELECT id, vec, 0.5e0 * rel AS mmr FROM cand
           ORDER BY mmr DESC, id LIMIT 1)"""
    val stages = (2 to k).map { i =>
      val prevSels = (1 until i).map(j => s"sel$j s$j").mkString(", ")
      val notIn = (1 until i).map(j => s"c.id <> s$j.id").mkString(" AND ")
      val sims = (1 until i).map(j => cosSql("c", s"s$j"))
      val div = if (sims.size == 1) sims.head
        else s"greatest(${sims.mkString(", ")})"
      s""",
         stage$i AS (SELECT c.id, c.vec,
             0.5e0 * c.rel - 0.5e0 * ($div) AS mmr
           FROM cand c, $prevSels WHERE $notIn),
         sel$i AS (SELECT id, vec, mmr FROM stage$i
           ORDER BY mmr DESC, id LIMIT 1)"""
    }.mkString
    val out = (1 to k).map(i =>
      s"SELECT CAST($i AS BIGINT) AS rank, id AS vec_id, round(mmr, 6) AS mmr FROM sel$i")
      .mkString("\n         UNION ALL ")
    s"$head$stages\n         $out\n         ORDER BY rank"
  }

  /** Okapi BM25 (k1=1.2, b=0.75) top-`topN` per query, the first 3
    * documents acting as queries. Constants are written as the EXACT
    * literals the DuckDB oracle parses (2.2, 0.25) — not Scala
    * arithmetic on k1/b (1.2+1.0 is one ulp off the double "2.2"
    * parses to). dlen (= token count) rides the scan projection and the
    * tf aggregate as max(), NOT a second window over the tf frame whose
    * partitionBy(doc_id) would cost one more full shuffle. The final
    * `repartition(q_id)` makes ONE exchange serve both the per-(q_id,
    * doc) sum and the per-q_id top-k window: hashpartitioning(q_id)
    * satisfies the aggregate's (q_id, doc_id) clustering, so Spark
    * inserts no second shuffle; tail-stage parallelism is bounded by
    * |queries| either way, and the map-side partial sum has already
    * shrunk rows to one per (q_id, doc, partition) before the exchange.
    */
  /** Bench-only spellings — timed by Bench (SparkEntry.benchHeadline)
    * but NOT in the Verify/oracle catalog: the XXH64 production
    * dedup-signature kernels whose REGISTERED twins became md5 audit
    * formulations in r18 (deliberately ~5x slower so DuckDB can replay
    * every band bit-for-bit). Registering these under the oracle
    * contract would grow the no-oracle class (XXH64 is not
    * reproducible in DuckDB); leaving them untimed let the production
    * path drift out of the bench entirely (ADVICE r18). So: timed
    * here, correctness spec-pinned (DedupSpec planted near-dups,
    * VectorExpressionsSpec bit-level kernels). Output shapes mirror
    * the registered md5 twins so the timed work is comparable.
    */
  val benchOnly: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_minhash_x64" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val banded = DedupOps.withMinHashBands(docs, "text")
      val cand = DedupOps.minHashCandidatePairsFromBanded(banded, "doc_id")
      val candCounts = cand
        .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_candidates"))
      banded
        .select(col("doc_id") +: (0 until 4).map(i => col(s"band_$i")): _*)
        .join(candCounts, Seq("doc_id"), "left")
        .na.fill(0, Seq("n_candidates"))
        .orderBy("doc_id")
    },
    "q_dedup_simhash_x64" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          DedupOps.simHashBandsFromHash(
            DedupOps.simHash64(col("text"))).as("__bs"))
        .select(col("doc_id") +:
          (0 until 4).map(i => element_at(col("__bs"), i + 1).as(s"band_$i")): _*)
        .orderBy("doc_id")
    })

  /** Shared md5-keyed MinHash pipeline (16 permutations from FOUR md5s
    * per shingle — one digest is 32 hex chars = four independent 32-bit
    * slices, so the two-level explode pays a quarter of the hash cost
    * for the same statistics — banded 8x2): distinct word-trigram
    * shingles, per-(doc, perm) signature minima, and banded candidate
    * pairs. The oracle-checkable twin of the XXH64 production path,
    * used by q_dedup_minhash (the registered LSH frame), q_minhash_est
    * (estimator audit) and q_lsh_eval (measured precision/recall).
    * Returns (shingles, signatures, bands, candidates).
    */
  private def md5MinhashPipeline(docs: DataFrame,
      reuseShingles: Boolean = false)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // fanOut (r20): the shingle explode AND the 4-digest md5 kernel
    // downstream otherwise run on the corpus scan's single task (one
    // parquet row group = one split); identity at scale — CoreOps.fanOut
    val sh0 = graft.ops.CoreOps
      .fanOut(docs.select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"),
        explode(array_distinct(TextOps.shingles(col("text"), 3))).as("sh"))
    // Checkpoint the corpus-sized shingle frame ONLY for callers that
    // consume it again outside the signature build (q_minhash_est's
    // exact-overlap arm): for the single-consumer callers
    // (q_dedup_minhash, q_lsh_eval) the materialization was a pure
    // pipeline barrier — without it the shingle explode FUSES into the
    // signature build's map stage (r21, guide §5: avoid
    // re-materialization; one job and one corpus-frame write fewer).
    val sh = if (reuseShingles) sh0.localCheckpoint() else sh0
    val sig = sh.withColumn("g", explode(sequence(lit(0), lit(3))))
      .withColumn("m", md5(concat(col("g").cast(StringType),
        lit(":"), col("sh"))))
      .withColumn("slot", explode(sequence(lit(0), lit(3))))
      .withColumn("p", col("g") * 4 + col("slot") + 1)
      .withColumn("h",
        conv(expr("substring(m, slot * 8 + 1, 8)"), 16, 10).cast(LongType))
      .groupBy("doc_id", "p").agg(min(col("h")).as("h"))
      .localCheckpoint()
    val bands = sig.withColumn("b", floor((col("p") - 1) / 2))
      .groupBy("doc_id", "b")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("p"), col("h")))),
        x => x.getField("h").cast(StringType)), ",").as("key"))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.b") === col("y.b") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
      .localCheckpoint()
    (sh, sig, bands, cand)
  }

  private def bm25Ranked(s: SparkSession, dir: String, topN: Int): DataFrame = {
    val docs = Tables(s, dir, "documents")
    // fanOut (r20): the tokenize+explode term build otherwise runs on the
    // scan's single task; identity at scale — CoreOps.fanOut
    val tf = graft.ops.CoreOps
      .fanOut(docs.select("doc_id", "text"), col("doc_id"))
      .select(col("doc_id"), TextOps.tokenCount(col("text")).as("dl"),
        explode(TextOps.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dlen"))
    val tfdf = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
    val stats = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(TextOps.tokenCount(col("text"))).as("tot_len"))
    val qterms = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(TextOps.tokens(col("text")))).as("term"))
    val scored = tfdf.join(broadcast(qterms), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("contrib",
        col("idf") * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) +
            lit(0.75) * col("dlen") / (col("tot_len").cast(DoubleType) / col("n_docs")))))
      // groupBy its own exchange, NOT repartition(q_id) + groupBy: Spark
      // plans partial aggregation BELOW a groupBy's exchange (term-level
      // rows shrink to one per (q_id, doc, partition) map-side) but
      // ABOVE an explicit repartition — a repartition(q_id) here would
      // ship the full term-level scored frame unreduced. The extra
      // window exchange after the agg carries only (q_id, doc) rows.
      // Per-term contributions are quantized to a 1e-9 grid and summed
      // exactly in BIGINT so the doc score is order-free — identical
      // across partial-agg orders and engines (the q_embed_centroid
      // discipline); quantization error ≤ 5e-10/term, invisible at the
      // round-6 output.
      .groupBy("q_id", "doc_id")
      .agg(exactGridSum(col("contrib")).as("csum"))
      .withColumn("bm25", round(fromGrid(col("csum")), 6))
    val w = Window.partitionBy("q_id").orderBy(desc("bm25"), asc("doc_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= topN)
      .select(col("q_id"), col("rk").cast(LongType).as("rk"),
        col("doc_id"), col("bm25"))
  }

  /** Hybrid BM25+cosine retrieval fused by reciprocal-rank fusion — the
    * shared candidate generator for q_hybrid_rrf (which emits it
    * directly) and q_rerank (which re-scores it). BM25 top-20 and
    * exact-cosine top-20 rank lists fuse as 1/(60+rank) sums, top-`k`
    * per query (documents and their embeddings share ids in the
    * fixtures, so docs 0..2 are the query set on both sides). The two
    * retrieval arms run independently; fusion touches only the 2x20
    * ranked rows per query. Fusion is union + re-aggregate, NOT a
    * full-outer join: each doc holds at most one rank row per arm, so
    * summing 1/(60+rk) over the union is exactly the coalesce-sum of a
    * full outer join — minus the join's two hash exchanges. The
    * repartition(q_id) serves both the fuse aggregate and the final
    * top-k window.
    */
  private def hybridRrf(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val bm = bm25Ranked(s, dir, topN = 20)
      .select(col("q_id"), col("doc_id"), col("rk"))
    val e = Tables(s, dir, "embeddings")
    val vr = VectorOps.bruteForceTopK(e.filter(col("vec_id") < 3), e, k = 20)
      .select(col("q_id"), col("n_id").as("doc_id"),
        col("rk").cast(LongType).as("rk"))
    val fused = bm.unionByName(vr)
      .repartition(col("q_id"))
      .groupBy("q_id", "doc_id")
      .agg(round(sum(lit(1.0) / (lit(60) + col("rk"))), 6).as("rrf"))
    val w = Window.partitionBy("q_id").orderBy(desc("rrf"), asc("doc_id"))
    fused.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("q_id"), col("rk").cast(LongType).as("rk"),
        col("doc_id"), col("rrf"))
  }

  /** Cross-encoder-style rerank of an (already materialized) candidate
    * frame (q_id, rk, doc_id, rrf) — joint features per pair, fixed
    * 0.5/0.3/0.2 blend, top-`k` per query. Shared by q_rerank and
    * q_rerank_ndcg; `cand` must be checkpointed by the caller (it feeds
    * three consumers here).
    */
  private def rerankTop(s: SparkSession, dir: String, cand: DataFrame,
      k: Int = 5): DataFrame = {
    val candIds = cand.select(col("doc_id")).distinct()
    val docs = Tables(s, dir, "documents")
    val dToks = docs
      .join(broadcast(candIds), Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        array_distinct(TextOps.tokens(col("text"))).as("toks"))
    val qToks = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("q_id"),
        array_distinct(TextOps.tokens(col("text"))).as("q_toks"))
    val e = Tables(s, dir, "embeddings")
    val dVec = e
      .join(broadcast(candIds), e("vec_id") === candIds("doc_id"), "left_semi")
      .select(col("vec_id").as("doc_id"),
        VectorOps.toDoubleVec(col("embedding")).as("vec"))
    val qVec = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"),
        VectorOps.toDoubleVec(col("embedding")).as("q_vec"))
    val feat = cand
      .join(dToks, Seq("doc_id"))
      .join(dVec, Seq("doc_id"))
      .join(broadcast(qToks), Seq("q_id"))
      .join(broadcast(qVec), Seq("q_id"))
      .withColumn("jacc", round(
        size(array_intersect(col("toks"), col("q_toks"))).cast(DoubleType) /
          size(array_union(col("toks"), col("q_toks"))), 6))
      .withColumn("cosf", round(VectorOps.cosine(col("q_vec"), col("vec")), 6))
      // rrf ∈ (0, 2/61]: x30.5 normalizes the prior to (0, 1]
      .withColumn("ce_score", round(
        lit(0.5) * col("jacc") + lit(0.3) * col("cosf") +
          lit(0.2) * round(col("rrf") * lit(30.5), 6), 6))
    val w = Window.partitionBy("q_id").orderBy(desc("ce_score"), asc("doc_id"))
    feat.withColumn("rrk", row_number().over(w)).filter(col("rrk") <= k)
      .select(col("q_id"), col("rrk").cast(LongType).as("rk"), col("doc_id"),
        col("ce_score"), col("jacc"), col("cosf"))
  }

  /** CTE body shared by the q_bm25 and q_hybrid_rrf oracles: BM25
    * scores for every (query, doc) pair, ranked per query — consumers
    * filter `ranked` to their own top-N.
    */
  private val bm25TermSql: String =
    """ln(1.0e0 + (s.n_docs - t.df + 0.5e0) / (t.df + 0.5e0)) *
             (t.tf * 2.2e0) /
             (t.tf + 1.2e0 * (0.25e0 + 0.75e0 * t.dlen / (CAST(s.tot_len AS DOUBLE) / s.n_docs)))"""

  private val bm25RankedCte: String =
    s"""toks AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
       tfdf AS (
         SELECT *, count(*) OVER (PARTITION BY term) AS df,
           sum(tf) OVER (PARTITION BY doc_id) AS dlen
         FROM tf),
       stats AS (
         SELECT count(*) AS n_docs, sum(len(string_split(text, ' '))) AS tot_len
         FROM documents),
       qterms AS (
         SELECT doc_id AS q_id, unnest(list_distinct(string_split(text, ' '))) AS term
         FROM documents WHERE doc_id < 3),
       scored AS (
         SELECT q.q_id, t.doc_id,
           round(${gridSumSql(bm25TermSql)}, 6) AS bm25
         FROM tfdf t JOIN qterms q USING (term), stats s
         GROUP BY q.q_id, t.doc_id),
       ranked AS (
         SELECT q_id, doc_id, bm25,
           row_number() OVER (PARTITION BY q_id ORDER BY bm25 DESC, doc_id) AS rk
         FROM scored)"""

  /** CTE chain shared by the q_hybrid_rrf and q_rerank oracles: the
    * BM25 arm (via [[bm25RankedCte]]), the exact-cosine arm, and the
    * reciprocal-rank fusion ranked per query (`rranked`).
    */
  private val rrfRankedCtes: String =
    s"""$bm25RankedCte,
       bmr AS (SELECT q_id, doc_id, rk FROM ranked WHERE rk <= 20),
       v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       vscored AS (
         SELECT q.vec_id AS q_id, c.vec_id AS n_id,
           list_sum(list_transform(range(1, len(q.vec) + 1), i -> q.vec[i] * c.vec[i]))
             / (sqrt(list_sum(list_transform(range(1, len(q.vec) + 1), i -> q.vec[i] * q.vec[i])))
              * sqrt(list_sum(list_transform(range(1, len(c.vec) + 1), i -> c.vec[i] * c.vec[i])))) AS cos_sim
         FROM v q JOIN v c ON q.vec_id < 3 AND q.vec_id <> c.vec_id),
       vranked AS (
         SELECT q_id, n_id,
           row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rk
         FROM vscored),
       vr AS (SELECT q_id, n_id AS doc_id, rk FROM vranked WHERE rk <= 20),
       fused AS (
         SELECT COALESCE(b.q_id, x.q_id) AS q_id,
           COALESCE(b.doc_id, x.doc_id) AS doc_id,
           round(COALESCE(1.0e0 / (60 + b.rk), 0.0e0)
               + COALESCE(1.0e0 / (60 + x.rk), 0.0e0), 6) AS rrf
         FROM bmr b FULL OUTER JOIN vr x
           ON b.q_id = x.q_id AND b.doc_id = x.doc_id),
       rranked AS (
         SELECT q_id, doc_id, rrf,
           row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, doc_id) AS rk
         FROM fused)"""

  /** CTE chain shared by the q_rerank and q_rerank_ndcg oracles: the
    * RRF retrieval ([[rrfRankedCtes]]), the top-10 candidate cut, the
    * joint feature build, and the reranked ordering (`rr`).
    */
  private val rerankCtes: String =
    s"""$rrfRankedCtes,
       cand AS (SELECT q_id, doc_id, rrf FROM rranked WHERE rk <= 10),
       dt AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
              FROM documents),
       feat AS (
         SELECT c.q_id, c.doc_id, c.rrf,
           round(CAST(len(list_intersect(d.toks, q.toks)) AS DOUBLE)
             / len(list_distinct(list_concat(d.toks, q.toks))), 6) AS jacc,
           round(list_sum(list_transform(range(1, len(qv.vec) + 1), i -> qv.vec[i] * dv.vec[i]))
             / (sqrt(list_sum(list_transform(range(1, len(qv.vec) + 1), i -> qv.vec[i] * qv.vec[i])))
              * sqrt(list_sum(list_transform(range(1, len(dv.vec) + 1), i -> dv.vec[i] * dv.vec[i])))), 6) AS cosf
         FROM cand c
           JOIN dt d ON d.doc_id = c.doc_id
           JOIN dt q ON q.doc_id = c.q_id
           JOIN v dv ON dv.vec_id = c.doc_id
           JOIN v qv ON qv.vec_id = c.q_id),
       ce AS (
         SELECT q_id, doc_id, jacc, cosf,
           round(0.5e0 * jacc + 0.3e0 * cosf
               + 0.2e0 * round(rrf * 30.5e0, 6), 6) AS ce_score
         FROM feat),
       rr AS (
         SELECT q_id, doc_id, ce_score, jacc, cosf,
           row_number() OVER (PARTITION BY q_id ORDER BY ce_score DESC, doc_id) AS rk
         FROM ce)"""

  /** DuckDB twin of q_rerank_ndcg: NDCG@5 of the raw RRF ordering and
    * of the reranked ordering under q_ndcg's md5 relevance draw, both
    * rounded to 6 BEFORE the delta (matching the Spark side exactly).
    */
  private def rerankNdcgOracle: String = {
    val dcgTerm = "CAST(gain AS DOUBLE) / (ln(CAST(rk AS DOUBLE) + 1.0e0) / ln(2.0e0))"
    val idcgTerm = "CAST(gain AS DOUBLE) / (ln(CAST(irk AS DOUBLE) + 1.0e0) / ln(2.0e0))"
    def ndcgBlock(src: String, labName: String, gName: String,
        nName: String, outCol: String): String =
      s"""$labName AS (
           SELECT q_id, CAST(rk AS BIGINT) AS rk, doc_id,
             (strpos('0123456789abcdef',
                substring(md5('rel:' || CAST(q_id AS VARCHAR) || ':'
                  || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 4 AS rel
           FROM $src WHERE rk <= 5),
         $gName AS (
           SELECT q_id, rk, doc_id,
             CASE WHEN rel = 0 THEN 0 WHEN rel = 1 THEN 1
                  WHEN rel = 2 THEN 3 ELSE 7 END AS gain,
             CAST(row_number() OVER (
               PARTITION BY q_id ORDER BY rel DESC, doc_id ASC) AS BIGINT) AS irk
           FROM $labName),
         $nName AS (
           SELECT q_id,
             round((${GridSum.gridSumSql(dcgTerm)})
                 / (${GridSum.gridSumSql(idcgTerm)}), 6) AS $outCol
           FROM $gName GROUP BY q_id)"""
    s"""WITH $rerankCtes,
       ${ndcgBlock("rranked", "lab1", "g1", "n1", "ndcg_rrf")},
       ${ndcgBlock("rr", "lab2", "g2", "n2", "ndcg_rerank")}
       SELECT n1.q_id, ndcg_rrf, ndcg_rerank,
         round(ndcg_rerank - ndcg_rrf, 6) AS delta
       FROM n1 JOIN n2 ON n1.q_id = n2.q_id ORDER BY n1.q_id"""
  }

  // Exact order-free double accumulation — see the shared [[GridSum]]
  // object (promoted there so EventQueries' stats tier can use the same
  // idiom); local aliases keep the 14 call sites stable.
  private def exactGridSum(term: Column): Column = GridSum.exactGridSum(term)
  private def fromGrid(gridSum: Column): Column = GridSum.fromGrid(gridSum)
  private def gridSumSql(termSql: String): String = GridSum.gridSumSql(termSql)

  /** Global unigram counts (w, cw) off one token explode — shared by
    * the bigram-LM and PMI statistics so tokenization fixes can never
    * desynchronize them.
    */
  private def unigramCounts(docs: DataFrame): DataFrame =
    docs.select(explode(TextOps.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))

  /** Split "w1 w2" bigram strings into their end words and broadcast-
    * join both ends' unigram counts as c1/c2 (same sharing rationale).
    */
  private def joinBigramEnds(bg: DataFrame, uni: DataFrame): DataFrame =
    bg.withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .join(broadcast(uni.withColumnRenamed("w", "w1").withColumnRenamed("cw", "c1")), Seq("w1"))
      .join(broadcast(uni.withColumnRenamed("w", "w2").withColumnRenamed("cw", "c2")), Seq("w2"))

  /** CTE body shared by the q_ngram_jaccard and q_pagerank oracles:
    * distinct word-trigram shingles per doc, per-doc shingle counts, and
    * shared-shingle counts per candidate pair.
    */
  private val ngramSharedCte: String =
    """sh AS (
         SELECT doc_id AS id, unnest(list_distinct(
           list_transform(range(1, greatest(len(string_split(text,' ')) - 1, 1)),
             i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])
         )) AS sh
         FROM documents WHERE len(string_split(text,' ')) >= 3),
       sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
       shared AS (
         SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
         FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
         GROUP BY a.id, b.id)"""

  /** Just the per-doc distinct-trigram CTE (the `sh` block of
    * [[ngramSharedCte]]) for oracles that need the shingle stream
    * without the pair join.
    */
  private val shingleCte: String =
    """sh AS (
         SELECT doc_id AS id, unnest(list_distinct(
           list_transform(range(1, greatest(len(string_split(text,' ')) - 1, 1)),
             i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])
         )) AS sh
         FROM documents WHERE len(string_split(text,' ')) >= 3)"""

  /** Directed twin of [[ngramSharedCte]] (ordered pairs a <> b) for the
    * containment oracle.
    */
  private val ngramDirectedCte: String =
    """sh AS (
         SELECT doc_id AS id, unnest(list_distinct(
           list_transform(range(1, greatest(len(string_split(text,' ')) - 1, 1)),
             i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])
         )) AS sh
         FROM documents WHERE len(string_split(text,' ')) >= 3),
       sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
       shared AS (
         SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
         FROM sh a JOIN sh b ON a.sh = b.sh AND a.id <> b.id
         GROUP BY a.id, b.id)"""

  /** CTE body shared by the q_bpe_merges and q_bpe_encode oracles: two
    * BPE training rounds — word-freq vocab, pair counts, chosen pairs
    * b0/b1, and the post-merge vocabulary sequences seq2.
    */
  /** Shared by the q_bpe_encode and q_fertility oracles: per-doc
    * char-sequence expansion and the two merge applications (enc2 ends
    * with (doc_id, n_words, seq)).
    */
  private val bpeEncodeCte: String =
    raw"""docseq AS (
           SELECT doc_id, len(string_split(text, ' ')) AS n_words,
             array_to_string(list_transform(string_split(text, ' '),
               w -> trim(regexp_replace(w, '(.)', '\1 ', 'g'))), ' <w> ') AS seq
           FROM documents),
         enc1 AS (
           SELECT doc_id, n_words,
             CASE WHEN b.pair IS NULL THEN seq ELSE
               trim(regexp_replace(
                 replace(' ' || replace(seq, ' ', '  ') || ' ',
                         ' ' || replace(b.pair, ' ', '  ') || ' ',
                         ' ' || replace(b.pair, ' ', '') || ' '),
                 ' +', ' ', 'g')) END AS seq
           FROM docseq LEFT JOIN b0 b ON TRUE),
         enc2 AS (
           SELECT doc_id, n_words,
             CASE WHEN b.pair IS NULL THEN seq ELSE
               trim(regexp_replace(
                 replace(' ' || replace(seq, ' ', '  ') || ' ',
                         ' ' || replace(b.pair, ' ', '  ') || ' ',
                         ' ' || replace(b.pair, ' ', '') || ' '),
                 ' +', ' ', 'g')) END AS seq
           FROM enc1 LEFT JOIN b1 b ON TRUE)"""

  private val bpeTrainCte: String =
    """words AS (
         SELECT word, count(*) AS freq
         FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         WHERE length(word) >= 2
         GROUP BY word),
       seq0 AS (
         SELECT trim(regexp_replace(word, '(.)', '\1 ', 'g')) AS seq, freq FROM words),
       pc0 AS (
         SELECT a[i] || ' ' || a[i + 1] AS pair, sum(freq) AS cnt
         FROM (SELECT string_split(seq, ' ') AS a, freq FROM seq0),
              unnest(range(1, len(a))) AS u(i)
         GROUP BY pair),
       b0 AS (SELECT pair FROM pc0 ORDER BY cnt DESC, pair LIMIT 1),
       seq1 AS (
         SELECT CASE WHEN b.pair IS NULL THEN seq ELSE
                  trim(regexp_replace(
                    replace(' ' || replace(seq, ' ', '  ') || ' ',
                            ' ' || replace(b.pair, ' ', '  ') || ' ',
                            ' ' || replace(b.pair, ' ', '') || ' '),
                    ' +', ' ', 'g')) END AS seq, freq
         FROM seq0 LEFT JOIN b0 b ON TRUE),
       pc1 AS (
         SELECT a[i] || ' ' || a[i + 1] AS pair, sum(freq) AS cnt
         FROM (SELECT string_split(seq, ' ') AS a, freq FROM seq1),
              unnest(range(1, len(a))) AS u(i)
         GROUP BY pair),
       b1 AS (SELECT pair FROM pc1 ORDER BY cnt DESC, pair LIMIT 1),
       seq2 AS (
         SELECT CASE WHEN b.pair IS NULL THEN seq ELSE
                  trim(regexp_replace(
                    replace(' ' || replace(seq, ' ', '  ') || ' ',
                            ' ' || replace(b.pair, ' ', '  ') || ' ',
                            ' ' || replace(b.pair, ' ', '') || ' '),
                    ' +', ' ', 'g')) END AS seq, freq
         FROM seq1 LEFT JOIN b1 b ON TRUE)"""

  /** DuckDB twin of the interpolated bigram LM (q_bigram_lm); also the
    * scoring CTE inside the q_ppl_strata oracle.
    */
  private val bigramLmSql: String =
    s"""WITH bgx AS (
         SELECT doc_id, a[i] || ' ' || a[i + 1] AS bg, a[i] AS w1, a[i + 1] AS w2
         FROM (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
              unnest(range(1, len(a))) AS u(i)
         WHERE len(a) >= 2),
       wc12 AS (SELECT *, count(*) OVER (PARTITION BY bg) AS c12 FROM bgx),
       uni AS (
         SELECT w, count(*) AS cw
         FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         GROUP BY w),
       tot AS (SELECT sum(len(string_split(text, ' '))) AS t_tok FROM documents)
       SELECT b.doc_id, count(*) AS n_bigrams,
         round(${gridSumSql(
           "ln(0.75e0 * b.c12 / u1.cw + 0.25e0 * u2.cw / CAST(t.t_tok AS DOUBLE))")}
           / count(*), 6)
           AS avg_logp
       FROM wc12 b
         JOIN uni u1 ON u1.w = b.w1
         JOIN uni u2 ON u2.w = b.w2, tot t
       GROUP BY b.doc_id ORDER BY b.doc_id"""

  /** q_embed_bq oracle: the binary-quantization pipeline reproduced
    * stage by stage — sign-bit Hamming distance (expressed positionally,
    * no bit packing needed: popcount(xor) of the packed words IS the
    * count of sign-disagreeing dimensions), the (hamming, id) candidate
    * cut at 50, and the exact cosine rerank.
    */
  private val bqOracle: String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       q AS (SELECT vec_id AS q_id, vec AS q_vec FROM v WHERE vec_id < 5),
       ham AS (
         SELECT q.q_id, v.vec_id AS n_id,
           len(list_filter(range(1, 65), i -> (q.q_vec[i] > 0) != (v.vec[i] > 0))) AS hd
         FROM v JOIN q ON v.vec_id <> q.q_id),
       cand AS (
         SELECT q_id, n_id,
           row_number() OVER (PARTITION BY q_id ORDER BY hd, n_id) AS rk0
         FROM ham),
       exact AS (
         SELECT c.q_id, c.n_id, ${cosSql("av", "cv")} AS cos_sim
         FROM cand c JOIN v av ON av.vec_id = c.q_id JOIN v cv ON cv.vec_id = c.n_id
         WHERE c.rk0 <= 50),
       ranked AS (
         SELECT q_id, n_id, cos_sim,
           row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rk
         FROM exact)
       SELECT q_id, CAST(rk AS INT) AS rk, n_id, cos_sim
       FROM ranked WHERE rk <= 5 ORDER BY q_id, rk"""

  /** q_embed_ann_lsh oracle: every stage of the approximate pipeline is
    * deterministic, so the oracle REPRODUCES it instead of forgiving it —
    * all 8 tables' hyperplane buckets re-derived from the same seeded
    * coefficients ([[VectorOps.planeCoeffs]], seeds 42+t, the exact
    * literals the Spark plan folds in), candidates = any-table collision,
    * then the identical exact top-k with bit-matching cos_sim.
    */
  private lazy val annLshOracle: String = {
    val buckets = (0 until 8).map { t =>
      val sig = VectorOps.planeCoeffs(bits = 4, dim = 64, seed = 42L + t)
        .zipWithIndex.map { case (p, i) =>
          s"(CASE WHEN ${dotLitSql("vec", p)} >= 0 THEN ${1L << i} ELSE 0 END)"
        }.mkString(" + ")
      s"($t * 16 + $sig)"
    }.mkString("[", ", ", "]")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       b AS (SELECT vec_id, vec, unnest($buckets) AS bucket FROM v),
       cand AS (
         SELECT DISTINCT a.vec_id AS q_id, c.vec_id AS n_id
         FROM (SELECT * FROM b WHERE vec_id < 50) a JOIN b c
           ON a.bucket = c.bucket AND a.vec_id != c.vec_id),
       scored AS (
         SELECT q_id, n_id, ${cosSql("av", "cv")} AS cos_sim
         FROM cand JOIN v av ON av.vec_id = q_id JOIN v cv ON cv.vec_id = n_id),
       ranked AS (
         SELECT q_id, n_id, cos_sim,
           row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rk
         FROM scored)
       SELECT q_id, CAST(rk AS INT) AS rk, n_id, cos_sim FROM ranked WHERE rk <= 5
       ORDER BY q_id, rk"""
  }

  /** q_embed_ann_ivf oracle: the auto-sized IVF pipeline end to end —
    * the md5-ordered centroid sample (engine-portable by construction,
    * like kMeansInit), nlist/nprobe re-derived from the corpus count by
    * the same formula, cell assignment with the same arithmetic and
    * lowest-cell tie-break as the native kernel, probe cells by (sim
    * desc, cell asc), and the exact top-k over candidates.
    */
  private val ivfRankedCtes: String =
    s"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       nl AS (SELECT LEAST(4096, GREATEST(16, CAST(ceil(count(*) / 256.0) AS BIGINT))) AS nlist FROM v),
       cent AS (
         SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell, vec
         FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
         LIMIT (SELECT nlist FROM nl)),
       sims AS (
         SELECT v.vec_id, cent.cell, ${cosSql("v", "cent")} AS sim
         FROM v CROSS JOIN cent),
       assign AS (
         SELECT vec_id AS n_id, cell FROM (
           SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rk
           FROM sims) WHERE rk = 1),
       probes AS (
         SELECT vec_id AS q_id, cell FROM (
           SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rk
           FROM sims WHERE vec_id < 50)
         WHERE rk <= GREATEST(4, (SELECT nlist FROM nl) // 8)),
       cand AS (
         SELECT p.q_id, a.n_id FROM probes p JOIN assign a ON p.cell = a.cell AND p.q_id != a.n_id),
       scored AS (
         SELECT q_id, n_id, ${cosSql("av", "cv")} AS cos_sim
         FROM cand JOIN v av ON av.vec_id = q_id JOIN v cv ON cv.vec_id = n_id),
       ranked AS (
         SELECT q_id, n_id, cos_sim,
           row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rk
         FROM scored)"""

  private val annIvfOracle: String =
    s"""WITH $ivfRankedCtes
       SELECT q_id, CAST(rk AS INT) AS rk, n_id, cos_sim FROM ranked WHERE rk <= 5
       ORDER BY q_id, rk"""

  /** q_ann_indexed oracle — built AGAINST THE STORED INDEX: DuckDB
    * reads the persisted centroids/meta/postings parquet
    * ([[graft.functions.AnnIndex]]) and re-derives the probe end to end
    * from those bytes — probe cells from the stored centroids (same
    * (sim DESC, cell) rule as the TopCentroids kernel, nprobe from the
    * stored meta row), candidates from the stored cell-partitioned
    * postings, exact cosines from the postings' stored vectors. A wrong
    * stored assignment, centroid, or vector flips the hash. Fallback
    * SQL (index never built this process) is a valid empty relation; it
    * can only be reached on a filtered run that skipped the query, in
    * which case check.py skips the compare too.
    */
  /** q_ann_index_drift oracle — every stored posting's nearest CURRENT
    * centroid recomputed in DuckDB (same (cos DESC, cell) tie rule as
    * the nearest-cell kernel), aggregated per stored cell. A wrong
    * stored centroid, assignment, or vector flips the hash.
    */
  private def annIndexDriftOracle: String =
    graft.functions.AnnIndex.lastDriftDir match {
      case None =>
        "SELECT 0 AS cell, 0 AS n_rows, 0 AS n_misassigned WHERE 1=0"
      case Some(root) =>
        s"""WITH cent AS (SELECT cell, centroid AS vec
             FROM read_parquet('$root/centroids/*.parquet')),
           p AS (SELECT cell, n_id, n_vec AS vec
             FROM read_parquet('$root/postings/*/*.parquet', hive_partitioning=1)),
           scored AS (
             SELECT p.n_id, p.cell AS stored, cent.cell AS cand,
               row_number() OVER (PARTITION BY p.n_id
                 ORDER BY ${cosSql("p", "cent")} DESC, cent.cell) AS rk
             FROM p CROSS JOIN cent)
           SELECT stored AS cell, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN cand <> stored THEN 1 ELSE 0 END) AS BIGINT)
               AS n_misassigned
           FROM scored WHERE rk = 1
           GROUP BY 1 ORDER BY cell"""
    }

  private def annIndexedOracle: String =
    annIvfStoredOracle(graft.functions.AnnIndex.lastEnsuredDir, tombstoned = false)

  /** q_ann_index_delete oracle — the stored-index probe with the STORED
    * tombstones table excluded from postings, so the persisted deletion
    * bytes (not just the rule) are what gets verified.
    */
  private def annIndexDeleteOracle: String =
    annIvfStoredOracle(graft.functions.AnnIndex.lastDeletedDir, tombstoned = true)

  /** q_ann_filtered oracle — the stored-index probe with the metadata
    * predicate applied to the STORED postings (the `label` attr column
    * persisted by AnnIndex.build attrCols), so the filtered-search
    * bytes — attrs included — are what gets verified.
    */
  private def annFilteredOracle: String =
    annIvfStoredOracle(graft.functions.AnnIndex.lastAttrDir,
      tombstoned = false, attrPred = "label = 1")

  /** The shared stored-index probe CTE chain (cent → mt → p → q →
    * probes → scored → ranked), parameterized on the postings-side
    * predicate — the single source the plain, tombstoned, filtered, and
    * eval oracles all build from.
    */
  private def annIvfStoredCtes(root: String, postingsWhere: String,
      nprobeSql: String = "(SELECT nprobe FROM mt)"): String =
    s"""cent AS (SELECT cell, centroid AS vec
         FROM read_parquet('$root/centroids/*.parquet')),
       mt AS (SELECT nprobe FROM read_parquet('$root/meta/*.parquet')),
       p AS (SELECT cell, n_id, n_vec AS vec
         FROM read_parquet('$root/postings/*/*.parquet', hive_partitioning=1)
         $postingsWhere),
       q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS vec
         FROM embeddings WHERE vec_id < 50),
       probes AS (
         SELECT q_id, cell FROM (
           SELECT q.q_id, cent.cell,
             row_number() OVER (PARTITION BY q.q_id
               ORDER BY ${cosSql("q", "cent")} DESC, cent.cell) AS prk
           FROM q CROSS JOIN cent)
         WHERE prk <= $nprobeSql),
       scored AS (
         SELECT pr.q_id, p.n_id, ${cosSql("qq", "p")} AS cos_sim
         FROM probes pr JOIN p ON p.cell = pr.cell AND p.n_id <> pr.q_id
         JOIN q qq ON qq.q_id = pr.q_id),
       ranked AS (
         SELECT q_id, n_id, cos_sim,
           row_number() OVER (PARTITION BY q_id
             ORDER BY cos_sim DESC, n_id) AS rk
         FROM scored)"""

  private def annStoredWhere(root: String, tombstoned: Boolean,
      attrPred: String): String = {
    val conds =
      (if (tombstoned)
        Seq(s"n_id NOT IN (SELECT n_id FROM read_parquet('$root/tombstones/*.parquet'))")
      else Nil) ++ (if (attrPred.nonEmpty) Seq(attrPred) else Nil)
    if (conds.nonEmpty) conds.mkString("WHERE ", " AND ", "") else ""
  }

  /** q_ann_filtered_k oracle — the two-phase guaranteed-k rule
    * re-derived from the stored bytes: sufficiency = at least k
    * candidates in the probed cells (the `scored` CTE), sufficient
    * queries keep the phase-1 ranking, deficient ones take the exact
    * ranking over the FULL filtered postings.
    */
  private def annFilteredKOracle: String =
    graft.functions.AnnIndex.lastAttrDir match {
      case None =>
        "SELECT 0 AS q_id, 0 AS rk, 0 AS n_id, 0.0 AS cos_sim WHERE 1=0"
      case Some(root) =>
        s"""WITH ${annIvfStoredCtes(root,
            annStoredWhere(root, tombstoned = false, "label = 1"),
            nprobeSql = "1")},
           suff AS (
             SELECT q_id FROM scored GROUP BY q_id HAVING count(*) >= 5),
           phase1 AS (
             SELECT q_id, rk, n_id, cos_sim FROM ranked
             WHERE rk <= 5 AND q_id IN (SELECT q_id FROM suff)),
           exacts AS (
             SELECT q.q_id, p.n_id, ${cosSql("q", "p")} AS cos_sim
             FROM q JOIN p ON p.n_id <> q.q_id
             WHERE q.q_id NOT IN (SELECT q_id FROM suff)),
           exactr AS (
             SELECT q_id, n_id, cos_sim,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY cos_sim DESC, n_id) AS rk
             FROM exacts),
           phase2 AS (
             SELECT q_id, rk, n_id, cos_sim FROM exactr WHERE rk <= 5)
           SELECT q_id, CAST(rk AS INT) AS rk, n_id, cos_sim
           FROM (SELECT * FROM phase1 UNION ALL SELECT * FROM phase2)
           ORDER BY q_id, rk"""
    }

  private def annIvfStoredOracle(
      dir: Option[String], tombstoned: Boolean,
      attrPred: String = ""): String =
    dir match {
      case None =>
        "SELECT 0 AS q_id, 0 AS rk, 0 AS n_id, 0.0 AS cos_sim WHERE 1=0"
      case Some(root) =>
        s"""WITH ${annIvfStoredCtes(root, annStoredWhere(root, tombstoned, attrPred))}
           SELECT q_id, CAST(rk AS INT) AS rk, n_id, cos_sim FROM ranked
           WHERE rk <= 5 ORDER BY q_id, rk"""
    }

  /** q_ann_filtered_eval oracle: the filtered stored-index probe's top-5
    * set-intersected with the exact filtered brute-force top-5 (the
    * label-1 corpus scored directly from the embeddings table) — the
    * measured recall the filtered operating point delivers, as exact
    * integer set math over two independently-derived rankings.
    */
  private def annFilteredEvalOracle: String =
    graft.functions.AnnIndex.lastAttrDir match {
      case None =>
        "SELECT 0 AS q_id, 0 AS hits, 0.0 AS recall WHERE 1=0"
      case Some(root) =>
        s"""WITH ${annIvfStoredCtes(root, annStoredWhere(root, tombstoned = false, "label = 1"))},
           c1 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
             FROM embeddings WHERE label = 1),
           tscored AS (
             SELECT q.q_id, c1.vec_id AS n_id, ${cosSql("q", "c1")} AS cos_sim
             FROM q JOIN c1 ON c1.vec_id <> q.q_id),
           tranked AS (
             SELECT q_id, n_id,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY cos_sim DESC, n_id) AS rk
             FROM tscored),
           truth AS (SELECT q_id, n_id FROM tranked WHERE rk <= 5),
           approx AS (SELECT q_id, n_id FROM ranked WHERE rk <= 5)
           SELECT t.q_id, CAST(count(i.n_id) AS BIGINT) AS hits,
             round(CAST(count(i.n_id) AS DOUBLE) / count(*), 6) AS recall
           FROM truth t LEFT JOIN approx i ON i.q_id = t.q_id AND i.n_id = t.n_id
           GROUP BY t.q_id ORDER BY t.q_id"""
    }

  /** q_ann_indexed_pq oracle — ADC scoring re-derived from the STORED
    * codebook (meta row's flat array) and the STORED codes (postings):
    * score = m-ascending sum of t-ascending subvector dots against the
    * unit-normalized query, exactly [[graft.functions.PqKernel]]'s fold
    * order ([[dotLitSql]]-style list_sum folds, the form proven
    * bit-identical by the q_embed_pq oracle).
    */
  private def annIndexedPqOracle: String =
    graft.functions.AnnIndex.lastEnsuredDir match {
      case None =>
        "SELECT 0 AS q_id, 0 AS rk, 0 AS n_id, 0.0 AS score WHERE 1=0"
      case Some(root) =>
        s"""WITH mt AS (SELECT dsub, ksub_eff, m, flat
             FROM read_parquet('$root/meta/*.parquet')),
           p AS (SELECT n_id, codes
             FROM read_parquet('$root/postings/*/*.parquet', hive_partitioning=1)),
           q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings WHERE vec_id < 50),
           qn AS (SELECT q_id,
             list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS vn
             FROM q),
           scored AS (
             SELECT qn.q_id, p.n_id,
               list_sum(list_transform(range(0, mt.m), mi ->
                 list_sum(list_transform(range(1, mt.dsub + 1), t ->
                   qn.vn[mi * mt.dsub + t] *
                   mt.flat[(mi * mt.ksub_eff + p.codes[mi + 1]) * mt.dsub + t]))))
                 AS score
             FROM qn CROSS JOIN mt JOIN p ON p.n_id <> qn.q_id),
           ranked AS (
             SELECT q_id, n_id, score,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY score DESC, n_id) AS rk
             FROM scored)
           SELECT q_id, CAST(rk AS INT) AS rk, n_id, score FROM ranked
           WHERE rk <= 5 ORDER BY q_id, rk"""
    }

  /** q_heavy_hitters / q_hh TVF oracle: the naive group-count-filter —
    * the MG sketch only prunes the shuffle domain, never the answer.
    */
  private def heavyHittersOracle =
    """WITH toks AS (
         SELECT unnest(string_split(text, ' ')) AS token FROM documents),
       tot AS (SELECT count(*) AS total FROM toks)
       SELECT token, count(*) AS n FROM toks, tot
       GROUP BY token, tot.total
       HAVING count(*) > tot.total / 200
       ORDER BY token"""

  /** The full oracle map: the static entries plus the two whose SQL is
    * built from the recorded persisted-index path.
    */
  /** The STORED dup-cluster assignment table as a DuckDB relation — the
    * side channel the `_stored` consumer oracles read (the AnnIndex
    * stored-bytes discipline: the persisted parquet, not a rebuild, is
    * what DuckDB consumes, so a wrong stored assignment flips every
    * consumer's hash). Fallback (store never built this process) is a
    * valid empty relation, reachable only on filtered runs that also
    * skipped the stored queries.
    */
  private def storedClustersRel: String =
    graft.operators.DupClusterStore.lastEnsuredDir match {
      case None =>
        "(SELECT CAST(0 AS BIGINT) AS doc_id, CAST(0 AS BIGINT) AS cluster_id WHERE 1=0)"
      case Some(r) =>
        s"(SELECT doc_id, cluster_id FROM read_parquet('$r/*.parquet'))"
    }

  private def dedupFullStoredOracle: String =
    s"""SELECT d.doc_id, d.lang FROM documents d
       LEFT JOIN $storedClustersRel x ON x.doc_id = d.doc_id
       WHERE x.doc_id IS NULL OR x.cluster_id = d.doc_id
       ORDER BY d.doc_id"""

  private def clusterCanonicalStoredOracle: String =
    s"""WITH sized AS (
         SELECT c.cluster_id, c.doc_id,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
         FROM $storedClustersRel c JOIN documents d ON d.doc_id = c.doc_id),
       rk AS (
         SELECT *, row_number() OVER (PARTITION BY cluster_id
           ORDER BY n_tokens DESC, doc_id ASC) AS rn
         FROM sized),
       agg AS (
         SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
         FROM sized GROUP BY cluster_id)
       SELECT r.cluster_id, r.doc_id AS canonical_doc_id,
         r.n_tokens AS canonical_tokens, a.n_members
       FROM rk r JOIN agg a USING (cluster_id)
       WHERE r.rn = 1 ORDER BY r.cluster_id"""

  private def leakageSplitStoredOracle: String =
    s"""SELECT d.doc_id,
         coalesce(c.cluster_id, d.doc_id) AS split_key,
         CASE WHEN substring(md5(CAST(coalesce(c.cluster_id, d.doc_id) AS VARCHAR)), 1, 1) <= '1'
              THEN 'valid' ELSE 'train' END AS split
       FROM documents d LEFT JOIN $storedClustersRel c ON c.doc_id = d.doc_id
       ORDER BY d.doc_id"""

  private def bcubedStoredOracle: String =
    s"""WITH gold AS (
         SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS g
         FROM documents),
       assign AS (
         SELECT coalesce(c.cluster_id, gold.doc_id) AS c, gold.g
         FROM gold LEFT JOIN $storedClustersRel c ON c.doc_id = gold.doc_id),
       cells AS (SELECT c, g, count(*) AS n_cg FROM assign GROUP BY c, g),
       nc AS (SELECT c, sum(n_cg) AS n_c FROM cells GROUP BY c),
       ng AS (SELECT g, sum(n_cg) AS n_g FROM cells GROUP BY g)
       SELECT CAST(sum(n_cg) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT cells.c) AS BIGINT) AS n_pred,
         CAST(count(DISTINCT cells.g) AS BIGINT) AS n_gold,
         round(sum(CAST(n_cg * n_cg AS DOUBLE) / n_c) / sum(n_cg), 6) AS bcubed_p,
         round(sum(CAST(n_cg * n_cg AS DOUBLE) / n_g) / sum(n_cg), 6) AS bcubed_r,
         round(sum(2.0 * n_cg * n_cg / CAST(n_c + n_g AS DOUBLE)) / sum(n_cg), 6)
           AS bcubed_f1
       FROM cells JOIN nc ON nc.c = cells.c JOIN ng ON ng.g = cells.g"""

  def oracles: Map[String, String] = oraclesStatic +
    ("q_dedup_full_stored" -> dedupFullStoredOracle) +
    ("q_cluster_canonical_stored" -> clusterCanonicalStoredOracle) +
    ("q_leakage_safe_split_stored" -> leakageSplitStoredOracle) +
    ("q_bcubed_stored" -> bcubedStoredOracle) +
    ("q_ann_indexed" -> annIndexedOracle) +
    ("q_ann_indexed_sql" -> annIndexedOracle) + // TVF spelling, same truth
    ("q_ann_indexed_pq" -> annIndexedPqOracle) +
    ("q_ann_index_delete" -> annIndexDeleteOracle) +
    ("q_ann_index_drift" -> annIndexDriftOracle) +
    ("q_ann_filtered" -> annFilteredOracle) +
    ("q_ann_filtered_sql" -> annFilteredOracle) + // TVF spelling, same truth
    ("q_ann_filtered_eval" -> annFilteredEvalOracle) +
    ("q_ann_filtered_k" -> annFilteredKOracle) +
    ("q_ann_filtered_k_sql" -> annFilteredKOracle) // TVF spelling, same truth

  /** q_ann_eval oracle: the IVF chain ([[ivfRankedCtes]]) and the exact
    * brute-force chain side by side, recall@5 as the per-query count of
    * IVF ids present in the exact top-5 — pure integer set math over
    * two already-oracle-matched rankings.
    */
  private val annEvalOracle: String =
    s"""WITH $ivfRankedCtes,
       tscored AS (
         SELECT q.vec_id AS q_id, c.vec_id AS n_id, ${cosSql("q", "c")} AS cos_sim
         FROM v q JOIN v c ON q.vec_id < 50 AND q.vec_id <> c.vec_id),
       tranked AS (
         SELECT q_id, n_id,
           row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rk
         FROM tscored),
       truth AS (SELECT q_id, n_id FROM tranked WHERE rk <= 5),
       ivf AS (SELECT q_id, n_id FROM ranked WHERE rk <= 5)
       SELECT t.q_id, CAST(count(i.n_id) AS BIGINT) AS hits,
         round(CAST(count(i.n_id) AS DOUBLE) / count(*), 6) AS recall
       FROM truth t LEFT JOIN ivf i ON i.q_id = t.q_id AND i.n_id = t.n_id
       GROUP BY t.q_id ORDER BY t.q_id"""

  /** q_embed_pq oracle: the whole PQ pipeline re-derived in SQL — unit
    * normalization, the md5-ordered 16-vector codebook, per-subspace
    * L2 code assignment (ties → lowest code), per-query ADC tables, and
    * the score as an m-ascending ordered list sum (`list(dp ORDER BY m)`,
    * NOT a bare `sum` — double addition is order-dependent and the
    * kernel folds subspaces in ascending order). Every fold mirrors
    * [[graft.functions.PqKernel]]'s operation order, so scores match
    * bit-for-bit.
    */
  private val pqOracle: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       n AS (SELECT vec_id,
         list_transform(vec, x -> x / sqrt(list_sum(list_transform(vec, y -> y * y)))) AS vn
         FROM v),
       cent AS (
         SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j, vn
         FROM n ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
       mm AS (SELECT unnest(range(0, 8)) AS m),
       d AS (
         SELECT nv.vec_id AS n_id, mm.m, c.j,
           list_sum(list_transform(range(1, 9), t ->
             (nv.vn[mm.m * 8 + t] - c.vn[mm.m * 8 + t]) * (nv.vn[mm.m * 8 + t] - c.vn[mm.m * 8 + t]))) AS d2
         FROM n nv CROSS JOIN mm CROSS JOIN cent c),
       codes AS (
         SELECT n_id, m, j AS code FROM (
           SELECT n_id, m, j, row_number() OVER (PARTITION BY n_id, m ORDER BY d2, j) AS rk FROM d)
         WHERE rk = 1),
       qtab AS (
         SELECT qv.vec_id AS q_id, mm.m, c.j,
           list_sum(list_transform(range(1, 9), t -> qv.vn[mm.m * 8 + t] * c.vn[mm.m * 8 + t])) AS dp
         FROM (SELECT * FROM n WHERE vec_id < 50) qv CROSS JOIN mm CROSS JOIN cent c),
       pairterm AS (
         SELECT t.q_id, co.n_id, t.m, t.dp
         FROM qtab t JOIN codes co ON co.m = t.m AND co.code = t.j
         WHERE t.q_id != co.n_id),
       scored AS (
         SELECT q_id, n_id, list_sum(list(dp ORDER BY m)) AS score
         FROM pairterm GROUP BY q_id, n_id),
       ranked AS (
         SELECT q_id, n_id, score,
           row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rk
         FROM scored)
       SELECT q_id, CAST(rk AS INT) AS rk, n_id, score FROM ranked WHERE rk <= 5
       ORDER BY q_id, rk"""

  /** q_embed_ivfpq oracle: the two-tier pipeline composed from the IVF
    * and PQ oracle fragments — coarse assignment/probes on raw vectors
    * (cosine is scale-free, matching ivfPqTopK), PQ codes/tables on
    * normalized vectors, ADC scores only over cell-join candidates.
    */
  private val ivfPqOracle: String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       n AS (SELECT vec_id,
         list_transform(vec, x -> x / sqrt(list_sum(list_transform(vec, y -> y * y)))) AS vn
         FROM v),
       nl AS (SELECT LEAST(4096, GREATEST(16, CAST(ceil(count(*) / 256.0) AS BIGINT))) AS nlist FROM v),
       coarse AS (
         SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell, vec
         FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
         LIMIT (SELECT nlist FROM nl)),
       csims AS (
         SELECT v.vec_id, coarse.cell, ${cosSql("v", "coarse")} AS sim
         FROM v CROSS JOIN coarse),
       assign AS (
         SELECT vec_id AS n_id, cell FROM (
           SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rk
           FROM csims) WHERE rk = 1),
       probes AS (
         SELECT vec_id AS q_id, cell FROM (
           SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rk
           FROM csims WHERE vec_id < 50)
         WHERE rk <= GREATEST(4, (SELECT nlist FROM nl) // 8)),
       cand AS (
         SELECT p.q_id, a.n_id FROM probes p JOIN assign a ON p.cell = a.cell AND p.q_id != a.n_id),
       cent AS (
         SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j, vn
         FROM n ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
       mm AS (SELECT unnest(range(0, 8)) AS m),
       d AS (
         SELECT nv.vec_id AS n_id, mm.m, c.j,
           list_sum(list_transform(range(1, 9), t ->
             (nv.vn[mm.m * 8 + t] - c.vn[mm.m * 8 + t]) * (nv.vn[mm.m * 8 + t] - c.vn[mm.m * 8 + t]))) AS d2
         FROM n nv CROSS JOIN mm CROSS JOIN cent c),
       codes AS (
         SELECT n_id, m, j AS code FROM (
           SELECT n_id, m, j, row_number() OVER (PARTITION BY n_id, m ORDER BY d2, j) AS rk FROM d)
         WHERE rk = 1),
       qtab AS (
         SELECT qv.vec_id AS q_id, mm.m, c.j,
           list_sum(list_transform(range(1, 9), t -> qv.vn[mm.m * 8 + t] * c.vn[mm.m * 8 + t])) AS dp
         FROM (SELECT * FROM n WHERE vec_id < 50) qv CROSS JOIN mm CROSS JOIN cent c),
       pairterm AS (
         SELECT cand.q_id, cand.n_id, t.m, t.dp
         FROM cand
           JOIN qtab t ON t.q_id = cand.q_id
           JOIN codes co ON co.n_id = cand.n_id AND co.m = t.m AND co.code = t.j),
       scored AS (
         SELECT q_id, n_id, list_sum(list(dp ORDER BY m)) AS score
         FROM pairterm GROUP BY q_id, n_id),
       ranked AS (
         SELECT q_id, n_id, score,
           row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rk
         FROM scored)
       SELECT q_id, CAST(rk AS INT) AS rk, n_id, score FROM ranked WHERE rk <= 5
       ORDER BY q_id, rk"""

  /** q_semdedup oracle: the SemDeDup pipeline reproduced end to end —
    * the md5-ordered centroid sample and auto `nlist` formula (the
    * annIvf CTEs verbatim), nearest-cell assignment with the native
    * kernel's arithmetic (`dot / (vnorm * cnorm)`, lowest-cell ties),
    * in-cell pair cosines, min-id drop rule, anti-join survivors.
    * Per-vector norms are hoisted into the `v` CTE — bit-identical to
    * the fused `graft_cosine`/`graft_nearest_cell` forms (same
    * ascending-index folds, same `sqrt x sqrt`-then-divide operand
    * order), and ~dim x cheaper for DuckDB than re-folding norms per
    * pair.
    */
  private val semdedupOracle: String =
    """WITH v0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       v AS (
         SELECT vec_id, vec,
           sqrt(list_sum(list_transform(range(1, len(vec) + 1), i -> vec[i] * vec[i]))) AS nrm
         FROM v0),
       nl AS (SELECT LEAST(4096, GREATEST(16, CAST(ceil(count(*) / 256.0) AS BIGINT))) AS nlist FROM v),
       cent AS (
         SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell, vec, nrm
         FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
         LIMIT (SELECT nlist FROM nl)),
       sims AS (
         SELECT v.vec_id, cent.cell,
           list_sum(list_transform(range(1, len(v.vec) + 1), i -> v.vec[i] * cent.vec[i]))
             / (v.nrm * cent.nrm) AS sim
         FROM v CROSS JOIN cent),
       assign AS (
         SELECT vec_id, cell FROM (
           SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rk
           FROM sims) WHERE rk = 1),
       losers AS (
         SELECT DISTINCT b.vec_id AS vec_id
         FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
           JOIN v va ON va.vec_id = a.vec_id
           JOIN v vb ON vb.vec_id = b.vec_id
         WHERE list_sum(list_transform(range(1, len(va.vec) + 1), i -> va.vec[i] * vb.vec[i]))
           / (va.nrm * vb.nrm) >= 0.3)
       SELECT a.vec_id, CAST(a.cell AS INT) AS cell
       FROM assign a
       WHERE a.vec_id NOT IN (SELECT vec_id FROM losers)
       ORDER BY vec_id"""

  /** CTE reproducing [[MultimodalOps.FakeCodec]] over documents.text in
    * pure SQL — possible BECAUSE the codec stub is deterministic byte
    * math: the unsigned byte list comes from the hex expansion of the
    * utf-8 blob, `java.util.Arrays.hashCode` is a left fold
    * r -> 31*r + signed_byte with 32-bit wraparound (list_reduce with
    * the wrap expressed as shifted mods), and the `& 0x7fffffff`
    * non-negative clamp is the same bitwise-and on the two's-complement
    * BIGINT. `hashed` ends with one row per doc: n (byte count), bsum
    * (unsigned byte sum as DOUBLE), h (the clamped hash).
    */
  private val fakeCodecCte: String =
    """codec AS (
         SELECT doc_id,
           octet_length(encode(text)) AS n,
           list_transform(range(0, octet_length(encode(text))),
             i -> 16 * (strpos('0123456789ABCDEF', substring(hex(encode(text)), 2*i+1, 1)) - 1)
                  + (strpos('0123456789ABCDEF', substring(hex(encode(text)), 2*i+2, 1)) - 1)) AS ub
         FROM documents),
       hashed AS (
         SELECT doc_id, n,
           CAST(coalesce(CAST(list_sum(ub) AS BIGINT), 0) AS DOUBLE) AS bsum,
           (list_reduce(
              list_prepend(CAST(1 AS BIGINT),
                list_transform(ub, u -> CAST(CASE WHEN u > 127 THEN u - 256 ELSE u END AS BIGINT))),
              (r, x) -> ((((31*r + x) + 2147483648) % 4294967296 + 4294967296) % 4294967296) - 2147483648)
            & 2147483647) AS h
         FROM codec)"""

  /** DuckDB twin of q_audio_fingerprint: the text bytes ARE the u8
    * samples (ASCII fixtures — the q_audio_decode oracle leans on the
    * same identity), so frame energies are exact integer |b-128| sums
    * over 32-char windows and the signature is the same
    * greater-than-next bit fold, `1 << f` summed as BIGINT.
    */
  private def audioFingerprintOracle: String =
    """WITH n AS (
         SELECT doc_id, CAST(length(text) AS BIGINT) AS n_samples,
           CAST(floor(length(text) / 32) AS BIGINT) AS nf
         FROM documents),
       e AS (
         SELECT doc_id, CAST(floor((i - 1) / 32) AS BIGINT) AS f,
           CAST(sum(abs(ascii(substring(text, CAST(i AS INT), 1)) - 128))
             AS BIGINT) AS en
         FROM documents,
           unnest(range(1, CAST(floor(length(text) / 32) * 32 AS BIGINT) + 1))
             AS u(i)
         GROUP BY doc_id, f),
       bits AS (
         SELECT a.doc_id,
           CAST(sum(CASE WHEN a.en > b.en
             THEN CAST(1 AS BIGINT) << CAST(a.f AS INT)
             ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
         FROM e a JOIN e b ON a.doc_id = b.doc_id AND b.f = a.f + 1
         WHERE a.f < 31
         GROUP BY a.doc_id),
       sg AS (
         SELECT n.doc_id, n.n_samples,
           least(CAST(31 AS BIGINT), greatest(n.nf - 1, 0)) AS n_bits,
           COALESCE(bits.sig, 0) AS sig
         FROM n LEFT JOIN bits ON bits.doc_id = n.doc_id)
       SELECT doc_id, n_samples, n_bits, sig,
         count(*) OVER (PARTITION BY sig) AS n_same_sig
       FROM sg ORDER BY doc_id"""

  /** DuckDB twin of q_video_fingerprint: the text chars ARE the flat
    * frame grays (ascii of char 16k+1, 1-based, mod 256 to match the
    * 8-bit DIB gray), flat-gray BT.601 luma is the gray itself, so the
    * signature is the same greater-than-next bit fold over up to 32
    * frames — all integers. Positions/lengths are CHARACTERS (code
    * points) on both engines: Spark samples with offsetByCodePoints.
    */
  private val videoFingerprintOracle: String =
    """WITH n AS (
         SELECT doc_id,
           least(CAST(32 AS BIGINT), CAST(floor(length(text) / 16) AS BIGINT)) AS nf
         FROM documents),
       g AS (
         SELECT doc_id, CAST(k AS BIGINT) AS f,
           CAST(ascii(substring(text, CAST(16 * k + 1 AS INT), 1)) AS BIGINT) % 256 AS gray
         FROM documents,
           unnest(range(0, least(CAST(32 AS BIGINT),
             CAST(floor(length(text) / 16) AS BIGINT)))) AS u(k)),
       bits AS (
         SELECT a.doc_id,
           CAST(sum(CASE WHEN a.gray > b.gray
             THEN CAST(1 AS BIGINT) << CAST(a.f AS INT)
             ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
         FROM g a JOIN g b ON a.doc_id = b.doc_id AND b.f = a.f + 1
         GROUP BY a.doc_id),
       sg AS (
         SELECT n.doc_id, n.nf AS n_frames,
           greatest(n.nf - 1, CAST(0 AS BIGINT)) AS n_bits,
           COALESCE(bits.sig, 0) AS sig
         FROM n LEFT JOIN bits ON bits.doc_id = n.doc_id)
       SELECT doc_id, n_frames, n_bits, sig,
         count(*) OVER (PARTITION BY sig) AS n_same_sig
       FROM sg ORDER BY doc_id"""

  /** DuckDB twin of q_cms_est: the same one-md5-per-token top32 decode
    * sliced into four 8-bit buckets, the same (d, bucket) counter sums,
    * and min-over-rows estimates — all integers, compared exactly.
    */
  private def cmsEstOracle: String = {
    val top32 = (1 to 8).map { d =>
      s"""(ascii(substring(h, $d, 1)) -
          CASE WHEN ascii(substring(h, $d, 1)) >= 97 THEN 87 ELSE 48 END)
          * CAST(${1L << (4 * (8 - d))} AS BIGINT)"""
    }.mkString(" + ")
    s"""WITH tc AS (
         SELECT token, CAST(count(*) AS BIGINT) AS n_true
         FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
         GROUP BY token),
       th AS (
         SELECT token, n_true, ($top32) AS h32
         FROM (SELECT token, n_true, md5('cms:' || token) AS h FROM tc)),
       bk AS (
         SELECT token, n_true, d.d AS d, (h32 >> (d.d * 8)) & 255 AS bucket
         FROM th, range(0, 4) d(d)),
       ct AS (
         SELECT d, bucket, CAST(sum(n_true) AS BIGINT) AS c
         FROM bk GROUP BY 1, 2)
       SELECT token, n_true, CAST(min(c) AS BIGINT) AS cms_est
       FROM bk JOIN ct USING (d, bucket)
       GROUP BY token, n_true
       ORDER BY n_true DESC, token LIMIT 20"""
  }

  /** DuckDB twin of q_embed_rp: the same md5-top32 sign matrix (bit j
    * of the 16-adic decode, via `>> j & 1`), the same floor(x·2^20)
    * integer quantization, and exact BIGINT dot products in both
    * spaces; the JL ratio is the only double op — one division of two
    * exact integers, identical expression order, so no rounding.
    */
  private def embedRpOracle: String = {
    val top32 = (1 to 8).map { d =>
      s"""(ascii(substring(h, $d, 1)) -
          CASE WHEN ascii(substring(h, $d, 1)) >= 97 THEN 87 ELSE 48 END)
          * CAST(${1L << (4 * (8 - d))} AS BIGINT)"""
    }.mkString(" + ")
    s"""WITH xq AS (
         SELECT vec_id, i - 1 AS pos,
           CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576) AS BIGINT) AS xq
         FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
       hs AS (
         SELECT i.i AS pos, md5('rp:' || CAST(i.i AS VARCHAR)) AS h
         FROM range(0, 64) i(i)),
       sgn AS (
         SELECT pos, j.j AS j,
           1 - 2 * ((($top32) >> j.j) & 1) AS sgn
         FROM hs, range(0, 16) j(j)),
       proj AS (
         SELECT vec_id, j, CAST(sum(sgn * xq) AS BIGINT) AS p
         FROM xq JOIN sgn USING (pos) GROUP BY vec_id, j),
       do_ AS (
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(sum(a.xq * b.xq) AS BIGINT) AS dot_orig
         FROM xq a JOIN xq b USING (pos)
         WHERE a.vec_id < 3 GROUP BY 1, 2),
       dp AS (
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(sum(a.p * b.p) AS BIGINT) AS dot_proj
         FROM proj a JOIN proj b USING (j)
         WHERE a.vec_id < 3 GROUP BY 1, 2),
       nrm AS (
         SELECT vec_id, CAST(sum(xq * xq) AS BIGINT) AS n2
         FROM xq GROUP BY 1)
       SELECT id_a, id_b, dot_orig, dot_proj,
         CASE WHEN dot_orig <> 0
           THEN CAST(dot_proj AS DOUBLE) / (16.0e0 * CAST(dot_orig AS DOUBLE))
         END AS ratio,
         CASE WHEN na.n2 <> 0 AND nb.n2 <> 0
           THEN (CAST(dot_proj AS DOUBLE) / 16.0e0 - CAST(dot_orig AS DOUBLE))
             / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))
         END AS err_jl
       FROM do_ JOIN dp USING (id_a, id_b)
         JOIN nrm na ON na.vec_id = id_a
         JOIN nrm nb ON nb.vec_id = id_b
       ORDER BY id_a, id_b"""
  }

  /** DuckDB twin of q_dup_clusters AND its graft_dup_clusters TVF
    * spelling: full-clique candidate pairs, recursive-CTE connected
    * components, cluster_id = component min — CC is invariant to the
    * Spark side's connectivity-mode star rewrite, so a wrong star
    * flips this hash.
    */
  private def dupClustersOracle: String =
    """WITH RECURSIVE sh AS (
         SELECT doc_id AS id, unnest(list_distinct(
           list_transform(range(1, greatest(len(string_split(text,' ')) - 1, 1)),
             i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])
         )) AS sh
         FROM documents WHERE len(string_split(text,' ')) >= 3),
       sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
       shared AS (
         SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
         FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
         GROUP BY a.id, b.id),
       pairs AS (
         SELECT id_a, id_b FROM shared
           JOIN sizes sa ON sa.id = id_a
           JOIN sizes sb ON sb.id = id_b
         WHERE CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) >= 0.05),
       edges AS (
         SELECT id_a AS u, id_b AS v FROM pairs
         UNION SELECT id_b, id_a FROM pairs),
       reach(id, r) AS (
         SELECT u, u FROM edges
         UNION
         SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v)
       SELECT id AS doc_id, min(r) AS cluster_id
       FROM reach GROUP BY id ORDER BY doc_id"""

  /** DuckDB twin of q_dedup_full AND its graft_dup_clusters TVF
    * 'dedup' spelling: full-clique CC, then the corpus minus every
    * non-canonical cluster member.
    */
  private def dedupFullOracle: String =
    """WITH RECURSIVE sh AS (
           SELECT doc_id AS id, unnest(list_distinct(
             list_transform(range(1, greatest(len(string_split(text,' ')) - 1, 1)),
               i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])
           )) AS sh
           FROM documents WHERE len(string_split(text,' ')) >= 3),
         sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
         shared AS (
           SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
           FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
           GROUP BY a.id, b.id),
         pairs AS (
           SELECT id_a, id_b FROM shared
             JOIN sizes sa ON sa.id = id_a
             JOIN sizes sb ON sb.id = id_b
           WHERE CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) >= 0.05),
         edges AS (
           SELECT id_a AS u, id_b AS v FROM pairs
           UNION SELECT id_b, id_a FROM pairs),
         reach(id, r) AS (
           SELECT u, u FROM edges
           UNION
           SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v),
         comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)
         SELECT doc_id, lang FROM documents
         WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> cluster)
         ORDER BY doc_id"""

  /** DuckDB twin of q_label_prop: the COLLAPSED-graph formulation —
    * one node per distinct text (gid = min doc_id, grouped by the text
    * itself where Spark groups by md5(text): the same partition), the
    * similarity edges computed over representative texts only, the 3
    * synchronous rounds unrolled — each round the same (node, label)
    * count + argmax (count DESC, label ASC) + left-join-coalesce the
    * Spark loop performs — then every clone inherits its
    * representative's community. Pure integer counts throughout, so the
    * compare is exact with no rounding.
    */
  private def labelPropOracle: String = {
    val rounds = (1 to 3).map { r =>
      val prev = s"l${r - 1}"
      s"""c$r AS (
           SELECT e.dst, p.label, count(*) AS c
           FROM edges e JOIN $prev p ON p.id = e.src
           GROUP BY e.dst, p.label),
         b$r AS (
           SELECT dst, label FROM (
             SELECT dst, label,
               row_number() OVER (PARTITION BY dst ORDER BY c DESC, label) AS rn
             FROM c$r) WHERE rn = 1),
         l$r AS (
           SELECT p.id, COALESCE(b.label, p.label) AS label
           FROM $prev p LEFT JOIN b$r b ON b.dst = p.id)"""
    }.mkString(",\n         ")
    s"""WITH grp AS (SELECT text, min(doc_id) AS gid FROM documents GROUP BY text),
       reps AS (SELECT gid AS doc_id, text FROM grp),
       sh AS (
         SELECT doc_id AS id, unnest(list_distinct(
           list_transform(range(1, greatest(len(string_split(text,' ')) - 1, 1)),
             i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])
         )) AS sh
         FROM reps WHERE len(string_split(text,' ')) >= 3),
       sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
       shared AS (
         SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
         FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
         GROUP BY a.id, b.id),
       jp AS (
         SELECT id_a, id_b FROM shared
           JOIN sizes sa ON sa.id = id_a
           JOIN sizes sb ON sb.id = id_b
         WHERE CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) >= 0.05),
       edges AS (SELECT id_a AS src, id_b AS dst FROM jp
                 UNION ALL SELECT id_b, id_a FROM jp),
       l0 AS (SELECT gid AS id, gid AS label FROM grp),
       $rounds
       SELECT d.doc_id, l3.label AS community
       FROM documents d
         JOIN grp g ON g.text = d.text
         JOIN l3 ON l3.id = g.gid
       ORDER BY d.doc_id"""
  }

  /** DuckDB twin of q_dedup_curve: the shared-shingle pair CTE with
    * the jaccard kept, the same i/10 threshold grid (identical double
    * literals both engines), pair counts and UNION-ALL-then-distinct
    * docs-affected per threshold. Thresholds with zero firing pairs
    * drop from both sides alike (inner join semantics).
    */
  private def dedupCurveOracle: String =
    s"""WITH $ngramSharedCte,
       jp AS (
         SELECT id_a, id_b,
           CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) AS j
         FROM shared
           JOIN sizes sa ON sa.id = id_a
           JOIN sizes sb ON sb.id = id_b
         WHERE CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) >= 0.05),
       grid AS (SELECT CAST(i AS DOUBLE) / 10.0e0 AS t FROM range(1, 10) g(i)),
       hits AS (SELECT t, id_a, id_b FROM jp, grid WHERE j >= t),
       pairs AS (
         SELECT t, CAST(count(*) AS BIGINT) AS n_pairs FROM hits GROUP BY t),
       dh AS (
         SELECT t, CAST(count(DISTINCT d) AS BIGINT) AS n_docs
         FROM (SELECT t, id_a AS d FROM hits
               UNION ALL SELECT t, id_b FROM hits)
         GROUP BY t)
       SELECT t, n_pairs, n_docs
       FROM pairs JOIN dh USING (t) ORDER BY t"""

  /** DuckDB twin of q_bfs_levels: the q_pagerank oracle's edges, then
    * six synchronous BFS waves unrolled — each adds the unseen
    * neighbors of the previous level. Full unroll is safe past the
    * Spark side's early stop: an empty frontier contributes nothing.
    * Every round is MATERIALIZED (the kCore-oracle discipline): each
    * level references its predecessor three times, so DuckDB's default
    * CTE inlining would otherwise expand the chain 3^6-fold.
    */
  private def bfsLevelsOracle: String = {
    val rounds = (1 to 6).map { k =>
      s"""lv$k AS MATERIALIZED (
           SELECT * FROM lv${k - 1}
           UNION ALL
           SELECT DISTINCT e.dst AS id, CAST($k AS BIGINT) AS lvl
           FROM edges e JOIN lv${k - 1} p ON p.id = e.src AND p.lvl = ${k - 1}
           WHERE e.dst NOT IN (SELECT id FROM lv${k - 1}))"""
    }.mkString(",\n       ")
    s"""WITH $ngramSharedCte,
       jp AS (
         SELECT id_a, id_b FROM shared
           JOIN sizes sa ON sa.id = id_a
           JOIN sizes sb ON sb.id = id_b
         WHERE CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) >= 0.05),
       edges AS MATERIALIZED (
         SELECT id_a AS src, id_b AS dst FROM jp
         UNION ALL SELECT id_b, id_a FROM jp),
       lv0 AS (
         SELECT src AS id, CAST(0 AS BIGINT) AS lvl
         FROM edges GROUP BY src
         ORDER BY count(*) DESC, src LIMIT 1),
       $rounds
       SELECT id AS doc_id, lvl FROM lv6 ORDER BY lvl, doc_id"""
  }

  /** DuckDB twin of q_mix_reweight: the same md5 16-adic milli-losses
    * (exact BIGINT per-source sums), the same floor-quantized
    * micro-unit weights, and the same k-row double expression tree —
    * every post-aggregate op is a scalar IEEE op on identical inputs,
    * so no rounding is needed anywhere.
    */
  private def mixReweightOracle: String = {
    val digits = (1 to 8).map { i =>
      s"""(ascii(substring(h, $i, 1)) -
          CASE WHEN ascii(substring(h, $i, 1)) >= 97 THEN 87 ELSE 48 END)
          * CAST(${1L << (4 * (8 - i))} AS BIGINT)"""
    }.mkString(" + ")
    s"""WITH d AS (
         SELECT source, ($digits) % 5000 AS l_milli
         FROM (SELECT source, md5('loss:' || CAST(doc_id AS VARCHAR)) AS h
               FROM documents)),
       per AS (
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(l_milli) AS BIGINT) AS sum_milli
         FROM d GROUP BY 1),
       tot AS (
         SELECT CAST(sum(n_docs) AS BIGINT) AS nn,
           CAST(sum(sum_milli) AS BIGINT) AS ss,
           CAST(count(*) AS BIGINT) AS k
         FROM per),
       e AS (
         SELECT source, n_docs, k,
           CAST(sum_milli AS DOUBLE) / CAST(n_docs * 1000 AS DOUBLE)
             AS mean_loss,
           greatest(CAST(sum_milli AS DOUBLE) / CAST(n_docs * 1000 AS DOUBLE)
             - CAST(ss AS DOUBLE) / CAST(nn * 1000 AS DOUBLE), 0.0e0)
             AS excess
         FROM per, tot),
       w AS (
         SELECT *, CAST(floor((1.0e0 + excess) * 1000000.0e0 + 0.5e0)
           AS BIGINT) AS wq
         FROM e),
       wt AS (SELECT CAST(sum(wq) AS BIGINT) AS wtot FROM w)
       SELECT source, n_docs, mean_loss, excess,
         CAST(wq AS DOUBLE) / CAST(wtot AS DOUBLE) AS alpha,
         0.8e0 * (CAST(wq AS DOUBLE) / CAST(wtot AS DOUBLE))
           + 0.2e0 / CAST(k AS DOUBLE) AS alpha_mix
       FROM w, wt ORDER BY source"""
  }

  /** DuckDB twin of q_linear_quality: the same md5 8-hex-digit base-16
    * decode (generated positional multipliers — exact BIGINT), modulo
    * weight map, and exact integer fold; the score division is the only
    * double op. The fold runs as unnest + GROUP BY rather than Spark's
    * in-row list aggregate — same exact integer sum either way.
    */
  private def linearQualityOracle: String = {
    val digits = (1 to 8).map { i =>
      s"""(ascii(substring(h, $i, 1)) -
          CASE WHEN ascii(substring(h, $i, 1)) >= 97 THEN 87 ELSE 48 END)
          * CAST(${1L << (4 * (8 - i))} AS BIGINT)"""
    }.mkString(" + ")
    s"""WITH toks AS (
         SELECT doc_id, source, md5('w:' || t) AS h
         FROM (SELECT doc_id, source,
                 unnest(string_split(text, ' ')) AS t
               FROM documents)),
       d AS (
         SELECT doc_id, source,
           CAST(count(*) AS BIGINT) AS n_tok,
           CAST(sum((($digits) % 2001) - 1000) AS BIGINT) AS wsum
         FROM toks GROUP BY 1, 2)
       SELECT doc_id, source, n_tok,
         CAST(wsum AS DOUBLE) / CAST(n_tok * 1000 AS DOUBLE) AS score,
         wsum > 0 AS keep
       FROM d ORDER BY doc_id"""
  }

  /** DuckDB twin of q_token_entropy: same (source, token) counts, same
    * -p·ln(p) terms grid-summed, same ln(vocab) normalization guard.
    */
  private def tokenEntropyOracle: String = {
    val p = "CAST(c AS DOUBLE) / CAST(n AS DOUBLE)"
    s"""WITH counts AS (
         SELECT source, token, CAST(count(*) AS BIGINT) AS c
         FROM (SELECT source, unnest(string_split(text, ' ')) AS token
               FROM documents)
         GROUP BY 1, 2),
       st AS (
         SELECT source, CAST(sum(c) AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS vocab
         FROM counts GROUP BY 1),
       g AS (
         SELECT source, n, vocab,
           ${gridSumSql(s"-($p) * ln($p)")} AS gs
         FROM counts JOIN st USING (source)
         GROUP BY source, n, vocab)
       SELECT source, n AS n_tok, vocab,
         round(gs, 6) AS entropy,
         CASE WHEN vocab > 1
           THEN round(gs / ln(CAST(vocab AS DOUBLE)), 6)
           ELSE 0.0e0 END AS entropy_norm
       FROM g ORDER BY source"""
  }

  /** DuckDB twin of q_logreg_step: same md5 bucket fold, same integer
    * milli-weight literals, same rational-sigmoid expression tree, same
    * grid-summed gradient.
    */
  private def logregStepOracle: String = {
    val digits = (1 to 8).map { i =>
      s"""(ascii(substring(md5('b:' || t), $i, 1)) -
          CASE WHEN ascii(substring(md5('b:' || t), $i, 1)) >= 97
            THEN 87 ELSE 48 END)
          * CAST(${1L << (4 * (8 - i))} AS BIGINT)"""
    }.mkString(" + ")
    val w = "CAST(((bucket * 2654435761) % 2001) - 1000 AS BIGINT)"
    s"""WITH db AS (
         SELECT DISTINCT doc_id, y, (($digits) % 32) AS bucket
         FROM (SELECT doc_id, n_chars >= 400 AS y,
                 unnest(string_split(text, ' ')) AS t
               FROM documents)),
       m AS (
         SELECT doc_id, y, CAST(sum($w) AS BIGINT) AS m_milli
         FROM db GROUP BY 1, 2),
       sc AS (
         SELECT doc_id,
           CAST(m_milli AS DOUBLE) / 1000.0e0 AS md, y
         FROM m),
       er AS (
         SELECT doc_id,
           0.5e0 * (1.0e0 + md / (1.0e0 + abs(md)))
             - CASE WHEN y THEN 1.0e0 ELSE 0.0e0 END AS err
         FROM sc),
       g AS (
         SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
           ${gridSumSql("err")} AS gs
         FROM db JOIN er USING (doc_id) GROUP BY 1)
       SELECT bucket, n_docs,
         CAST($w AS DOUBLE) / 1000.0e0 AS w_old,
         gs AS grad,
         CAST($w AS DOUBLE) / 1000.0e0 - 0.1e0 * gs AS w_new
       FROM g ORDER BY bucket"""
  }

  /** DuckDB twin of q_dp_noise: same group-key md5 uniform, the same
    * Laplace inverse-CDF expression tree, the same exact 1e-6 floor
    * quantization.
    */
  private def dpNoiseOracle: String = {
    val uTerms = (1 to 8).map { i =>
      s"""(ascii(substring(hh, $i, 1)) -
          CASE WHEN ascii(substring(hh, $i, 1)) >= 97 THEN 87 ELSE 48 END)
          * ${1.0 / math.pow(16.0, i)}"""
    }.mkString(" + ")
    s"""WITH c AS (
         SELECT source, lang, CAST(count(*) AS BIGINT) AS n
         FROM documents GROUP BY 1, 2),
       h AS (
         SELECT source, lang, n,
           md5('dp:' || source || ':' || lang) AS hh
         FROM c),
       u AS (SELECT source, lang, n, ($uTerms) AS u FROM h)
       SELECT source, lang, n,
         CAST(n AS DOUBLE) + floor(
           (-sign(u - 0.5e0) *
             ln(greatest(1.0e0 - 2.0e0 * abs(u - 0.5e0), 1e-12)))
           * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS noisy_n
       FROM u ORDER BY source, lang"""
  }

  /** DuckDB twin of [[blocklistGate]]: the replace-length occurrence
    * identity per (doc, phrase) row — generic over the phrase column,
    * so the SQL stays dictionary-size-independent; the '__any__' row's
    * flagged-doc count is a distinct-doc filter over the same frame.
    */
  private def blocklistOracle(phrases: Seq[String]): String = {
    val vals = phrases.map(p => s"('$p')").mkString(", ")
    s"""WITH p(phrase) AS (SELECT * FROM (VALUES $vals)),
       occ AS (
         SELECT doc_id, phrase,
           CAST((length(text) - length(replace(text, phrase, '')))
             / length(phrase) AS BIGINT) AS o
         FROM documents CROSS JOIN p),
       per AS (
         SELECT phrase,
           CAST(sum(CASE WHEN o > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
           CAST(sum(o) AS BIGINT) AS n_occurrences
         FROM occ GROUP BY 1),
       anyr AS (
         SELECT '__any__' AS phrase,
           CAST(count(DISTINCT CASE WHEN o > 0 THEN doc_id END) AS BIGINT)
             AS n_docs,
           CAST(sum(o) AS BIGINT) AS n_occurrences
         FROM occ)
       SELECT * FROM per UNION ALL SELECT * FROM anyr ORDER BY phrase"""
  }

  /** Backward exact-dedup oracle, SHARED by q_dedup_exact (DataFrame)
    * and q_dedup_sql (the graft_dedup TVF spelling).
    */
  private val dedupExactOracle =
    """SELECT md5(lower(trim(regexp_replace(nfc_normalize(text), '\s+', ' ', 'g')))) AS text_hash,
       count(*) AS n_copies, min(doc_id) AS keep_id
       FROM documents GROUP BY 1 ORDER BY text_hash"""

  /** Exact cosine top-k oracle, SHARED by q_embed_cosine_topk
    * (DataFrame) and q_ann_sql (the graft_ann TVF spelling).
    */
  private val cosineTopkOracle =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       scored AS (
         SELECT q.vec_id AS q_id, c.vec_id AS n_id,
           list_sum(list_transform(range(1, len(q.vec) + 1), i -> q.vec[i] * c.vec[i]))
             / (sqrt(list_sum(list_transform(range(1, len(q.vec) + 1), i -> q.vec[i] * q.vec[i])))
              * sqrt(list_sum(list_transform(range(1, len(c.vec) + 1), i -> c.vec[i] * c.vec[i])))) AS cos_sim
         FROM v q JOIN v c ON q.vec_id < 5 AND q.vec_id <> c.vec_id),
       ranked AS (
         SELECT q_id, n_id, cos_sim,
           row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rk
         FROM scored)
       SELECT q_id, CAST(rk AS BIGINT) AS rk, n_id, cos_sim FROM ranked
       WHERE rk <= 5 ORDER BY q_id, rk"""

  /** Static oracle map; [[oracles]] adds the entries whose SQL embeds a
    * runtime-recorded path (the persisted-ANN-index probes read the
    * STORED index via read_parquet, and the index root is only known
    * after [[graft.functions.AnnIndex.ensure]] ran — Verify dumps
    * oracle_sql.json after the query loop, so the recorded path is
    * always fresh there).
    */
  private val oraclesStatic: Map[String, String] = Map(
    // Repeated-span twin: same 8-token grams (1-based inclusive list
    // slice), same corpus-wide window count, same island merge — all
    // integers except the final rounded fraction.
    "q_repeated_spans" ->
      """WITH t AS (
           SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         g AS (
           SELECT doc_id, CAST(u.k AS BIGINT) AS pos,
             array_to_string(toks[CAST(u.k + 1 AS INT):CAST(u.k + 8 AS INT)], ' ') AS gram
           FROM t, unnest(range(0, greatest(CAST(len(toks) AS BIGINT) - 7, 0))) AS u(k)),
         c AS (
           SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS n FROM g),
         p AS (
           SELECT doc_id, pos, pos + 8 AS en FROM c WHERE n > 1),
         fl AS (
           SELECT doc_id, pos, en,
             CASE WHEN max(en) OVER (PARTITION BY doc_id ORDER BY pos, en
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                  OR pos > max(en) OVER (PARTITION BY doc_id ORDER BY pos, en
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             THEN 1 ELSE 0 END AS ni
           FROM p),
         isl AS (
           SELECT doc_id, pos, en,
             sum(ni) OVER (PARTITION BY doc_id ORDER BY pos, en
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
           FROM fl),
         spans AS (
           SELECT doc_id, island, min(pos) AS st, max(en) AS en2,
             count(*) AS npos
           FROM isl GROUP BY doc_id, island),
         perdoc AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
             CAST(sum(npos) AS BIGINT) AS n_dup_pos,
             CAST(sum(en2 - st) AS BIGINT) AS dup_tokens
           FROM spans GROUP BY doc_id)
       SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
         COALESCE(pd.n_dup_pos, 0) AS n_dup_pos,
         COALESCE(pd.n_spans, 0) AS n_spans,
         round(COALESCE(pd.dup_tokens, 0) * 1.0 / len(t.toks), 6) AS dup_frac
       FROM t LEFT JOIN perdoc pd ON pd.doc_id = t.doc_id
       ORDER BY t.doc_id""",
    // Contamination-excision: benchmark gram membership marks covered
    // windows, then the identical island-merge + token-drop + re-hash
    // chain as q_span_excise, restricted to the corpus half. EXACT gram
    // STRINGS on BOTH sides (positions require carrying the gram, and
    // the hash kernel returns a sorted-deduped set) — no collision
    // caveat, unlike q_decontaminate's hash probe.
    "q_decontam_excise" ->
      """WITH t AS (
           SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         g AS (
           SELECT doc_id, CAST(u.k AS BIGINT) AS pos,
             array_to_string(toks[CAST(u.k + 1 AS INT):CAST(u.k + 8 AS INT)], ' ') AS gram
           FROM t, unnest(range(0, greatest(CAST(len(toks) AS BIGINT) - 7, 0))) AS u(k)),
         bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
         p AS (
           SELECT doc_id, pos, pos + 8 AS en FROM g JOIN bench USING (gram)
           WHERE doc_id % 50 != 0),
         fl AS (
           SELECT doc_id, pos, en,
             CASE WHEN max(en) OVER (PARTITION BY doc_id ORDER BY pos, en
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                  OR pos > max(en) OVER (PARTITION BY doc_id ORDER BY pos, en
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             THEN 1 ELSE 0 END AS ni
           FROM p),
         isl AS (
           SELECT doc_id, pos, en,
             sum(ni) OVER (PARTITION BY doc_id ORDER BY pos, en
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
           FROM fl),
         spans AS (
           SELECT doc_id, island, min(pos) AS st, max(en) AS en2
           FROM isl GROUP BY doc_id, island),
         tok AS (
           SELECT doc_id, CAST(u.k AS BIGINT) AS idx,
             toks[CAST(u.k + 1 AS INT)] AS tok
           FROM t, unnest(range(0, CAST(len(toks) AS BIGINT))) AS u(k)
           WHERE doc_id % 50 != 0),
         keep AS (
           SELECT tk.doc_id, tk.idx, tk.tok
           FROM tok tk
           WHERE NOT EXISTS (SELECT 1 FROM spans s
             WHERE s.doc_id = tk.doc_id AND s.st <= tk.idx AND tk.idx < s.en2)),
         newt AS (
           SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS txt,
             CAST(count(*) AS BIGINT) AS nk
           FROM keep GROUP BY doc_id)
       SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
         CAST(len(t.toks) - COALESCE(nt.nk, 0) AS BIGINT) AS n_removed,
         md5(COALESCE(nt.txt, '')) AS excised_md5,
         round(COALESCE(nt.nk, 0) * 1.0 / len(t.toks), 6) AS retained_frac
       FROM t LEFT JOIN newt nt ON nt.doc_id = t.doc_id
       WHERE t.doc_id % 50 != 0
       ORDER BY t.doc_id""",
    // Excision twin: same span CTE chain, then every covered token
    // position is dropped and the survivor text re-agreed token-by-token
    // (string_agg ORDER BY idx) so the md5 pins the transform exactly.
    "q_span_excise" ->
      """WITH t AS (
           SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         g AS (
           SELECT doc_id, CAST(u.k AS BIGINT) AS pos,
             array_to_string(toks[CAST(u.k + 1 AS INT):CAST(u.k + 8 AS INT)], ' ') AS gram
           FROM t, unnest(range(0, greatest(CAST(len(toks) AS BIGINT) - 7, 0))) AS u(k)),
         c AS (
           SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS n FROM g),
         p AS (
           SELECT doc_id, pos, pos + 8 AS en FROM c WHERE n > 1),
         fl AS (
           SELECT doc_id, pos, en,
             CASE WHEN max(en) OVER (PARTITION BY doc_id ORDER BY pos, en
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                  OR pos > max(en) OVER (PARTITION BY doc_id ORDER BY pos, en
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             THEN 1 ELSE 0 END AS ni
           FROM p),
         isl AS (
           SELECT doc_id, pos, en,
             sum(ni) OVER (PARTITION BY doc_id ORDER BY pos, en
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
           FROM fl),
         spans AS (
           SELECT doc_id, island, min(pos) AS st, max(en) AS en2
           FROM isl GROUP BY doc_id, island),
         tok AS (
           SELECT doc_id, CAST(u.k AS BIGINT) AS idx,
             toks[CAST(u.k + 1 AS INT)] AS tok
           FROM t, unnest(range(0, CAST(len(toks) AS BIGINT))) AS u(k)),
         keep AS (
           SELECT tk.doc_id, tk.idx, tk.tok
           FROM tok tk
           WHERE NOT EXISTS (SELECT 1 FROM spans s
             WHERE s.doc_id = tk.doc_id AND s.st <= tk.idx AND tk.idx < s.en2)),
         newt AS (
           SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS txt,
             CAST(count(*) AS BIGINT) AS nk
           FROM keep GROUP BY doc_id)
       SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
         CAST(len(t.toks) - COALESCE(nt.nk, 0) AS BIGINT) AS n_removed,
         md5(COALESCE(nt.txt, '')) AS excised_md5,
         round(COALESCE(nt.nk, 0) * 1.0 / len(t.toks), 6) AS retained_frac
       FROM t LEFT JOIN newt nt ON nt.doc_id = t.doc_id
       ORDER BY t.doc_id""",
    // HRW re-derived per (doc, shard) row: same md5 keys, argmax via
    // arg_max over the same lowercase-hex strings (bytewise comparison
    // in both engines), then the identical transition-matrix rollup
    "q_shard_assign" ->
      """WITH a AS (
           SELECT doc_id, arg_max(s, md5('shard' || CAST(s AS VARCHAR)
             || ':' || CAST(doc_id AS VARCHAR))) AS shard_old
           FROM documents, range(0, 8) t(s) GROUP BY doc_id),
         b AS (
           SELECT doc_id, arg_max(s, md5('shard' || CAST(s AS VARCHAR)
             || ':' || CAST(doc_id AS VARCHAR))) AS shard_new
           FROM documents, range(0, 9) t(s) GROUP BY doc_id)
         SELECT CAST(shard_old AS BIGINT) AS shard_old,
           CAST(shard_new AS BIGINT) AS shard_new,
           CAST(count(*) AS BIGINT) AS n_docs
         FROM a JOIN b USING (doc_id)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // same replace-length occurrence identity per phrase, same
    // '__any__' roll-up; the dictionary is interpolated from the one
    // shared Scala list so the two engines can never drift
    "q_blocklist" -> blocklistOracle(BlocklistPhrases),
    "q_blocklist_240" -> blocklistOracle(BlocklistPhrases240),
    "q_linear_quality" -> linearQualityOracle,
    "q_token_entropy" -> tokenEntropyOracle,
    "q_logreg_step" -> logregStepOracle,
    "q_dp_noise" -> dpNoiseOracle,
    "q_media_decode" ->
      s"""WITH $fakeCodecCte
         SELECT doc_id AS media_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS kind,
           CAST(n AS BIGINT) AS n_bytes,
           CAST(16 + h % 640 AS BIGINT) AS width,
           CAST(16 + (h // 640) % 480 AS BIGINT) AS height,
           CAST(CASE WHEN doc_id % 3 = 2 THEN 1 + h % 300 ELSE 1 END AS BIGINT) AS n_frames,
           CASE WHEN n = 0 THEN 0.0e0 ELSE bsum / n END AS mean_intensity
         FROM hashed ORDER BY media_id""",
    "q_media_frames" ->
      s"""WITH $fakeCodecCte,
         vids AS (
           SELECT doc_id AS media_id, n, 1 + h % 300 AS n_frames
           FROM hashed WHERE doc_id % 3 = 2)
         SELECT media_id, CAST(idx AS BIGINT) AS frame_idx,
           CAST(CASE WHEN n = 0 THEN 0
                ELSE least(16, n - (idx % n)) END AS BIGINT) AS n_frame_bytes
         FROM vids, unnest(range(0, n_frames, 50)) AS u(idx)
         ORDER BY media_id, frame_idx""",
    // closed-form twin of the WAV encode->decode roundtrip: samples are
    // the (ASCII) text bytes as 8-bit unsigned PCM; the per-char fold
    // mirrors WavPcmCodec's sequential sum-of-squares exactly (divide
    // THEN square, left fold, one final division + sqrt)
    "q_audio_decode" ->
      """SELECT doc_id,
           CAST(strlen(text) + 44 AS BIGINT) AS n_bytes,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(1 AS BIGINT) AS channels,
           CAST(8 AS BIGINT) AS bits,
           CAST(strlen(text) AS BIGINT) AS n_frames,
           round(strlen(text) * 1000.0e0 / 8000.0e0, 6) AS duration_ms,
           CASE WHEN strlen(text) = 0 THEN 0.0e0
             ELSE round(sqrt(list_sum(list_transform(
               range(1, strlen(text) + 1),
               i -> ((ascii(substring(text, i, 1)) - 128) / 128.0e0)
                  * ((ascii(substring(text, i, 1)) - 128) / 128.0e0)))
               / strlen(text)), 6)
           END AS rms,
           CASE WHEN strlen(text) = 0 THEN 0.0e0
             ELSE round(list_max(list_transform(
               range(1, strlen(text) + 1),
               i -> abs(ascii(substring(text, i, 1)) - 128) / 128.0e0)), 6)
           END AS peak
         FROM documents ORDER BY doc_id""",
    "q_dsir" ->
      s"""WITH toks AS (
           SELECT doc_id, source = 'src0' AS is_t,
             unnest(string_split(text, ' ')) AS token
           FROM documents),
         cnt AS (
           SELECT token,
             CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
             CAST(sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS cs
           FROM toks GROUP BY token),
         scal AS (
           SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cs) AS BIGINT) AS ns,
             count(*) AS v
           FROM cnt),
         scored AS (
           SELECT t.doc_id, count(*) AS n_tok,
             round(${gridSumSql(
               """ln(CAST(c.ct + 1 AS DOUBLE) / (s.nt + s.v))
                  - ln(CAST(c.cs + 1 AS DOUBLE) / (s.ns + s.v))""")}
               / count(*), 6) AS score
           FROM toks t JOIN cnt c USING (token), scal s
           GROUP BY t.doc_id)
         SELECT doc_id, n_tok, score, score > 0.0e0 AS keep
         FROM scored ORDER BY doc_id""",
    "q_distinct_n" ->
      """WITH t1 AS (
           SELECT source, unnest(string_split(text, ' ')) AS g FROM documents),
         a1 AS (SELECT source, count(*) AS n1, count(DISTINCT g) AS d1
                FROM t1 GROUP BY source),
         t2 AS (
           SELECT source, unnest(list_transform(
             range(1, greatest(len(string_split(text, ' ')), 1)),
             i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])) AS g
           FROM documents WHERE len(string_split(text, ' ')) >= 2),
         a2 AS (SELECT source, count(*) AS n2, count(DISTINCT g) AS d2
                FROM t2 GROUP BY source),
         t3 AS (
           SELECT source, unnest(list_transform(
             range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
             i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
                  || ' ' || string_split(text, ' ')[i+2])) AS g
           FROM documents WHERE len(string_split(text, ' ')) >= 3),
         a3 AS (SELECT source, count(*) AS n3, count(DISTINCT g) AS d3
                FROM t3 GROUP BY source)
         SELECT source, n1, round(CAST(d1 AS DOUBLE) / n1, 6) AS distinct_1,
           n2, round(CAST(d2 AS DOUBLE) / n2, 6) AS distinct_2,
           n3, round(CAST(d3 AS DOUBLE) / n3, 6) AS distinct_3
         FROM a1 JOIN a2 USING (source) JOIN a3 USING (source)
         ORDER BY source""",
    "q_zipf" ->
      s"""WITH vocab AS (
           SELECT token, count(*) AS n
           FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
           GROUP BY token),
         top AS (
           SELECT token, n,
             CAST(row_number() OVER (ORDER BY n DESC, token ASC) AS BIGINT) AS rk
           FROM vocab QUALIFY rk <= 100),
         sums AS (
           SELECT count(*) AS k,
             ${gridSumSql("ln(CAST(rk AS DOUBLE))")} AS sx,
             ${gridSumSql("ln(CAST(n AS DOUBLE))")} AS sy,
             ${gridSumSql("ln(CAST(rk AS DOUBLE)) * ln(CAST(n AS DOUBLE))")} AS sxy,
             ${gridSumSql("ln(CAST(rk AS DOUBLE)) * ln(CAST(rk AS DOUBLE))")} AS sxx
           FROM top)
         SELECT k, round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS zipf_slope
         FROM sums""",
    "q_calibration" -> calibrationOracle,
    "q_kneser_ney" -> kneserNeyOracle,
    "q_media_phash" -> mediaPhashOracle,
    "q_keyness" ->
      """WITH tok AS (
           SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
         a AS (
           SELECT source, token, CAST(count(*) AS BIGINT) AS a
           FROM tok GROUP BY 1, 2),
         tt AS (SELECT token, CAST(sum(a) AS BIGINT) AS ab FROM a GROUP BY 1),
         st AS (SELECT source, CAST(sum(a) AS BIGINT) AS n1 FROM a GROUP BY 1),
         nn AS (SELECT CAST(sum(a) AS BIGINT) AS nn FROM a),
         sc AS (
           SELECT a.source, a.token,
             round(2.0e0 * (
               CAST(a.a AS DOUBLE)
                 * ln(CAST(a.a AS DOUBLE) * nn.nn / (CAST(st.n1 AS DOUBLE) * tt.ab))
               + CASE WHEN tt.ab - a.a > 0 THEN
                   CAST(tt.ab - a.a AS DOUBLE)
                     * ln(CAST(tt.ab - a.a AS DOUBLE) * nn.nn
                       / (CAST(nn.nn - st.n1 AS DOUBLE) * tt.ab))
                 ELSE 0.0e0 END), 6) AS g2,
             CAST(a.a AS DOUBLE) * nn.nn > CAST(st.n1 AS DOUBLE) * tt.ab AS over_rep
           FROM a JOIN tt USING (token) JOIN st USING (source), nn),
         r AS (
           SELECT source, token, g2, over_rep,
             CAST(row_number() OVER (
               PARTITION BY source ORDER BY g2 DESC, token ASC) AS BIGINT) AS rk
           FROM sc)
         SELECT source, rk, token, g2, over_rep
         FROM r WHERE rk <= 20 ORDER BY source, rk""",
    "q_kappa" -> kappaOracle,
    "q_mutual_nn" -> mutualNnOracle,
    "q_minhash_est" -> minhashEstOracle,
    "q_dedup_minhash" -> dedupMinhashOracle,
    "q_dedup_simhash" -> dedupSimhashOracle,
    "q_fuzzy_decontam" -> fuzzyDecontamOracle,
    "q_leakage_safe_split" ->
      """WITH RECURSIVE sh AS (
           SELECT doc_id AS id, unnest(list_distinct(
             list_transform(range(1, greatest(len(string_split(text,' ')) - 1, 1)),
               i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])
           )) AS sh
           FROM documents WHERE len(string_split(text,' ')) >= 3),
         sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
         shared AS (
           SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
           FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
           GROUP BY a.id, b.id),
         pairs AS (
           SELECT id_a, id_b FROM shared
             JOIN sizes sa ON sa.id = id_a
             JOIN sizes sb ON sb.id = id_b
           WHERE CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) >= 0.05),
         edges AS (
           SELECT id_a AS u, id_b AS v FROM pairs
           UNION SELECT id_b, id_a FROM pairs),
         reach(id, r) AS (
           SELECT u, u FROM edges
           UNION
           SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v),
         comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
         SELECT d.doc_id,
           coalesce(c.cluster_id, d.doc_id) AS split_key,
           CASE WHEN substring(md5(CAST(coalesce(c.cluster_id, d.doc_id) AS VARCHAR)), 1, 1) <= '1'
                THEN 'valid' ELSE 'train' END AS split
         FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
         ORDER BY d.doc_id""",
    "q_cluster_canonical" ->
      """WITH RECURSIVE sh AS (
           SELECT doc_id AS id, unnest(list_distinct(
             list_transform(range(1, greatest(len(string_split(text,' ')) - 1, 1)),
               i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])
           )) AS sh
           FROM documents WHERE len(string_split(text,' ')) >= 3),
         sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
         shared AS (
           SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
           FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
           GROUP BY a.id, b.id),
         pairs AS (
           SELECT id_a, id_b FROM shared
             JOIN sizes sa ON sa.id = id_a
             JOIN sizes sb ON sb.id = id_b
           WHERE CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) >= 0.05),
         edges AS (
           SELECT id_a AS u, id_b AS v FROM pairs
           UNION SELECT id_b, id_a FROM pairs),
         reach(id, r) AS (
           SELECT u, u FROM edges
           UNION
           SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v),
         comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         sized AS (
           SELECT c.cluster_id, c.id AS doc_id,
             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
           FROM comp c JOIN documents d ON d.doc_id = c.id),
         rk AS (
           SELECT *, row_number() OVER (PARTITION BY cluster_id
             ORDER BY n_tokens DESC, doc_id ASC) AS rn
           FROM sized),
         agg AS (
           SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
           FROM sized GROUP BY cluster_id)
         SELECT r.cluster_id, r.doc_id AS canonical_doc_id,
           r.n_tokens AS canonical_tokens, a.n_members
         FROM rk r JOIN agg a USING (cluster_id)
         WHERE r.rn = 1 ORDER BY r.cluster_id""",
    "q_js_divergence" -> jsDivergenceOracle,
    "q_dup_rate" ->
      raw"""WITH h AS (
           SELECT source,
             md5(lower(trim(regexp_replace(nfc_normalize(text), '\s+', ' ', 'g'))))
               AS th
           FROM documents),
         c AS (SELECT source, th, CAST(count(*) AS BIGINT) AS c
               FROM h GROUP BY source, th),
         agg AS (
           SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(sum(c - 1) AS BIGINT) AS n_dups
           FROM c GROUP BY source)
         SELECT source, n_docs, n_distinct, n_dups,
           round(CAST(n_dups AS DOUBLE) / n_docs, 6) AS dup_rate
         FROM agg ORDER BY source""",
    "q_lsh_curve" -> lshCurveOracle,
    "q_burstiness" ->
      """WITH td AS (
           SELECT token, doc_id, CAST(count(*) AS BIGINT) AS c
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                 FROM documents)
           GROUP BY token, doc_id),
         tok AS (
           SELECT token, CAST(count(*) AS BIGINT) AS df,
             CAST(sum(c) AS BIGINT) AS tf, CAST(sum(c * c) AS BIGINT) AS sq
           FROM td GROUP BY token),
         nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         sc AS (
           SELECT token, df, tf,
             round((CAST(sq AS DOUBLE) / n_docs
                 - (CAST(tf AS DOUBLE) / n_docs) * (CAST(tf AS DOUBLE) / n_docs))
               / (CAST(tf AS DOUBLE) / n_docs), 6) AS burstiness
           FROM tok, nd WHERE df >= 5),
         top AS (
           SELECT token, df, tf, burstiness
           FROM sc ORDER BY burstiness DESC, token ASC LIMIT 30)
         SELECT CAST(row_number() OVER (
             ORDER BY burstiness DESC, token ASC) AS BIGINT) AS rk,
           token, df, tf, burstiness
         FROM top ORDER BY rk""",
    "q_semdedup" -> semdedupOracle,
    "q_semdedup_sql" -> semdedupOracle, // TVF spelling, same truth
    "q_embed_ivfpq" -> ivfPqOracle,
    "q_embed_neardup" -> neardupOracle,
    "q_winnow" -> winnowOracle,
    "q_embed_ann_lsh" -> annLshOracle,
    "q_embed_ann_ivf" -> annIvfOracle,
    "q_ann_eval" -> annEvalOracle,
    "q_embed_bq" -> bqOracle,
    "q_bm25" ->
      s"""WITH $bm25RankedCte
         SELECT q_id, CAST(rk AS BIGINT) AS rk, doc_id, bm25
         FROM ranked WHERE rk <= 10 ORDER BY q_id, rk""",
    "q_hybrid_rrf" ->
      s"""WITH $rrfRankedCtes
         SELECT q_id, CAST(rk AS BIGINT) AS rk, doc_id, rrf
         FROM rranked WHERE rk <= 10 ORDER BY q_id, rk""",
    // cross-encoder stand-in: joint (query, candidate) features over
    // the RRF top-10 only — distinct-token Jaccard, exact cosine (the
    // q_embed_cosine_topk spelling, bit-identical to graft_cosine),
    // and the x30.5-normalized RRF prior, each rounded to 6 before the
    // fixed-order 0.5/0.3/0.2 blend
    "q_rerank" ->
      s"""WITH $rerankCtes
         SELECT q_id, CAST(rk AS BIGINT) AS rk, doc_id, ce_score, jacc, cosf
         FROM rr WHERE rk <= 5 ORDER BY q_id, rk""",
    "q_rerank_ndcg" -> rerankNdcgOracle,
    "q_ndcg" -> ndcgOracle,
    "q_bigram_lm" -> bigramLmSql,
    "q_ppl_strata" ->
      s"""WITH lm AS ($bigramLmSql),
         banded AS (
           SELECT doc_id, avg_logp,
             CASE WHEN avg_logp >= -3.39e0 THEN 'head'
                  WHEN avg_logp >= -3.41e0 THEN 'middle'
                  ELSE 'tail' END AS band
           FROM lm)
         SELECT doc_id, band, avg_logp FROM banded
         WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
           <= (CASE WHEN band = 'head' THEN 'f'
                    WHEN band = 'middle' THEN '7' ELSE '3' END)
         ORDER BY doc_id""",
    "q_incr_dedup" ->
      """WITH h AS (
           SELECT doc_id,
             md5(lower(trim(regexp_replace(nfc_normalize(text), '\s+', ' ', 'g')))) AS text_hash
           FROM documents),
         idx AS (SELECT DISTINCT text_hash FROM h WHERE doc_id % 10 <> 0),
         b AS (
           SELECT doc_id, text_hash FROM h
           WHERE doc_id % 10 = 0
             AND text_hash NOT IN (SELECT text_hash FROM idx)),
         surv AS (
           SELECT doc_id, text_hash,
             row_number() OVER (PARTITION BY text_hash ORDER BY doc_id) AS rn
           FROM b)
         SELECT doc_id, text_hash FROM surv WHERE rn = 1 ORDER BY doc_id""",
    "q_embed_quant" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
         sc AS (
           SELECT vec_id, vec,
             list_max(list_transform(vec, x -> abs(x))) / 127.0e0 AS scale
           FROM v)
         SELECT vec_id, scale,
           CASE WHEN scale = 0 THEN 0.0e0 ELSE
             list_sum(list_transform(vec, x ->
               (x - floor(x / scale + 0.5e0) * scale)
               * (x - floor(x / scale + 0.5e0) * scale))) / CAST(len(vec) AS DOUBLE)
           END AS mse
         FROM sc ORDER BY vec_id""",
    "q_pmi_top" ->
      """WITH bgx AS (
           SELECT a[i] AS w1, a[i + 1] AS w2
           FROM (SELECT string_split(text, ' ') AS a FROM documents),
                unnest(range(1, len(a))) AS u(i)
           WHERE len(a) >= 2),
         c12 AS (
           SELECT w1, w2, count(*) AS n FROM bgx GROUP BY w1, w2 HAVING count(*) >= 3),
         tot AS (
           SELECT sum(CASE WHEN len(string_split(text, ' ')) >= 2
                           THEN len(string_split(text, ' ')) - 1 ELSE 0 END) AS t_bg
           FROM documents),
         uni AS (
           SELECT w, count(*) AS cw
           FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
           GROUP BY w),
         scored AS (
           SELECT c.w1, c.w2, c.n,
             round(ln(c.n * CAST(t.t_bg AS DOUBLE) / (u1.cw * u2.cw)), 6) AS pmi
           FROM c12 c JOIN uni u1 ON u1.w = c.w1 JOIN uni u2 ON u2.w = c.w2, tot t)
         SELECT w1, w2, n, pmi FROM scored
         ORDER BY pmi DESC, w1, w2 LIMIT 20""",
    "q_embed_pq" -> pqOracle,
    "q_lang_ngram" -> langNgramOracle,
    "q_lang_confusion" -> langConfusionOracle,
    "q_dedup_exact" -> dedupExactOracle,
    // SHARED def: the TVF spelling binds to the same string — agreement
    // between the SQL and DataFrame paths is structural
    "q_dedup_sql" -> dedupExactOracle,
    "q_ngram_jaccard" ->
      s"""WITH $ngramSharedCte
         SELECT id_a, id_b,
           CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) AS jaccard
         FROM shared
           JOIN sizes sa ON sa.id = id_a
           JOIN sizes sb ON sb.id = id_b
         WHERE CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) >= 0.05
         ORDER BY id_a, id_b""",
    // Independent check of the prefix filter: the oracle takes the FULL
    // inverted-index route (no prefixes), so a false negative in the
    // Spark side's prefix/length pruning would hash-mismatch here.
    "q_setsim_prefix" ->
      s"""WITH $ngramSharedCte
         SELECT id_a, id_b,
           CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) AS jaccard
         FROM shared
           JOIN sizes sa ON sa.id = id_a
           JOIN sizes sb ON sb.id = id_b
         WHERE CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) >= 0.5e0
         ORDER BY id_a, id_b""",
    "q_naive_bayes" ->
      """WITH train AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
         test AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
         ttok AS (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM train),
         cnt AS (SELECT lang, tok, count(*) AS cnt FROM ttok GROUP BY 1, 2),
         nc AS (SELECT lang, count(*) AS n_c FROM ttok GROUP BY 1),
         voc AS (SELECT count(DISTINCT tok) AS v FROM ttok),
         pri AS (SELECT lang, count(*) AS n_docs_c FROM train GROUP BY 1),
         tot AS (SELECT count(*) AS n_docs FROM train),
         lp AS (
           SELECT t.tok, nc.lang,
             ln(coalesce(c.cnt, 0) + 1) - ln(nc.n_c + voc.v) AS logp
           FROM (SELECT DISTINCT tok FROM ttok) t
           CROSS JOIN nc
           LEFT JOIN cnt c ON c.tok = t.tok AND c.lang = nc.lang, voc),
         qt AS (
           SELECT doc_id, actual_lang, tok, count(*) AS tf
           FROM (SELECT doc_id, lang AS actual_lang,
                   unnest(string_split(text, ' ')) AS tok FROM test)
           GROUP BY 1, 2, 3),
         sc AS (
           SELECT q.doc_id, q.actual_lang, l.lang,
             sum(CAST(floor(q.tf * l.logp * 1.0e9 + 0.5e0) AS BIGINT)) AS gsum
           FROM qt q JOIN lp l ON q.tok = l.tok GROUP BY 1, 2, 3),
         scp AS (
           SELECT sc.doc_id, sc.actual_lang, sc.lang,
             sc.gsum + CAST(floor((ln(p.n_docs_c) - ln(t.n_docs)) * 1.0e9 + 0.5e0)
               AS BIGINT) AS sg
           FROM sc JOIN pri p ON p.lang = sc.lang, tot t),
         rk AS (
           SELECT *, row_number() OVER (PARTITION BY doc_id
             ORDER BY sg DESC, lang) AS r FROM scp)
         SELECT doc_id, actual_lang, lang AS pred_lang,
           round(CAST(sg AS DOUBLE) / 1.0e9, 6) AS score
         FROM rk WHERE r = 1 ORDER BY doc_id""",
    "q_mmr_select" -> mmrOracle(5),
    "q_embed_cov" ->
      """WITH v AS (SELECT CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
         dims AS (
           SELECT unnest(range(1, len(vec) + 1)) AS i
           FROM (SELECT vec FROM v LIMIT 1) one),
         ij AS (SELECT a.i AS i, b.i AS j FROM dims a, dims b WHERE b.i >= a.i),
         t AS (
           SELECT ij.i, ij.j,
             CAST(floor(vec[ij.i] * vec[ij.j] * 1.0e9 + 0.5e0) AS BIGINT) AS gxy,
             CAST(floor(vec[ij.i] * 1.0e9 + 0.5e0) AS BIGINT) AS gxi,
             CAST(floor(vec[ij.j] * 1.0e9 + 0.5e0) AS BIGINT) AS gxj
           FROM v, ij),
         s AS (
           SELECT i, j, sum(gxy) AS sxy, sum(gxi) AS sxi, sum(gxj) AS sxj,
             count(*) AS n
           FROM t GROUP BY 1, 2)
         SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
           round(CAST(sxy AS DOUBLE) / 1.0e9 / n
               - (CAST(sxi AS DOUBLE) / 1.0e9 / n)
               * (CAST(sxj AS DOUBLE) / 1.0e9 / n), 6) + 0.0e0 AS cov
         FROM s ORDER BY i, j""",
    "q_heaps" ->
      s"""WITH $shingleCte,
         firsts AS (SELECT sh, min(id) AS fd FROM sh GROUP BY 1),
         nnew AS (SELECT fd, count(*) AS nn FROM firsts GROUP BY 1),
         base AS (
           SELECT d.doc_id, coalesce(nn, 0) AS nn,
             row_number() OVER (ORDER BY d.doc_id) AS r,
             sum(coalesce(nn, 0)) OVER (ORDER BY d.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             count(*) OVER () AS n
           FROM documents d LEFT JOIN nnew ON d.doc_id = nnew.fd)
         SELECT CAST((r - 1) * 10 // n + 1 AS BIGINT) AS decile,
           CAST(max(r) AS BIGINT) AS n_docs_cum,
           CAST(sum(nn) AS BIGINT) AS new_in_decile,
           CAST(max(cum) AS BIGINT) AS vocab_cum
         FROM base GROUP BY 1 ORDER BY decile""",
    // directed variant of the shared-shingle CTE: ordered pairs, A's
    // distinct-shingle count as the denominator
    "q_containment" ->
      s"""WITH $ngramDirectedCte
         SELECT id_a, id_b, n_shared, sa.n_sh AS n_a,
           CAST(n_shared AS DOUBLE) / sa.n_sh AS containment
         FROM shared JOIN sizes sa ON sa.id = id_a
         WHERE sa.n_sh >= 5
           AND CAST(n_shared AS DOUBLE) / sa.n_sh >= 0.8e0
         ORDER BY id_a, id_b""",
    "q_drift_psi" ->
      s"""WITH b AS (
           SELECT source, CAST(floor(n_chars / 100) AS BIGINT) AS bucket, count(*) AS n
           FROM documents GROUP BY 1, 2),
         tot AS (SELECT source, sum(n) AS tot FROM b GROUP BY source),
         sh AS (
           SELECT b.source, b.bucket, CAST(b.n AS DOUBLE) / t.tot AS share
           FROM b JOIN tot t ON t.source = b.source),
         ref AS (SELECT bucket, share AS p FROM sh WHERE source = 'src0'),
         terms AS (
           SELECT s.source, (s.share - r.p) * ln(s.share / r.p) AS term
           FROM sh s JOIN ref r ON r.bucket = s.bucket
           WHERE s.source <> 'src0')
         SELECT source, count(*) AS n_buckets,
           round(${gridSumSql("term")}, 6)
             AS psi
         FROM terms GROUP BY source ORDER BY source""",
    "q_novelty" ->
      s"""WITH $ngramSharedCte,
         cnt AS (SELECT id, count(*) OVER (PARTITION BY sh) AS c FROM sh)
         SELECT id AS doc_id, count(*) AS n_shingles,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
           round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
             AS novelty
         FROM cnt GROUP BY id ORDER BY id""",
    "q_pagerank" ->
      s"""WITH $ngramSharedCte,
         jp AS (
           SELECT id_a, id_b FROM shared
             JOIN sizes sa ON sa.id = id_a
             JOIN sizes sb ON sb.id = id_b
           WHERE CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) >= 0.05),
         edges AS (SELECT id_a AS src, id_b AS dst FROM jp
                   UNION ALL SELECT id_b, id_a FROM jp),
         deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM edges GROUP BY src),
         nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
         pr0 AS (SELECT doc_id AS id, 1.0e0 / nn.n AS pr FROM documents, nn),
         s1 AS (SELECT e.dst AS id,
                sum(CAST(floor(p.pr / d.deg * 1.0e12 + 0.5e0) AS BIGINT)) AS s FROM edges e
                JOIN pr0 p ON p.id = e.src JOIN deg d ON d.src = e.src GROUP BY e.dst),
         pr1 AS (SELECT v.doc_id AS id,
                   (1.0e0 - 0.85e0) / nn.n
                     + 0.85e0 * (CAST(COALESCE(s1.s, 0) AS DOUBLE) / 1.0e12) AS pr
                 FROM documents v CROSS JOIN nn LEFT JOIN s1 ON s1.id = v.doc_id),
         s2 AS (SELECT e.dst AS id,
                sum(CAST(floor(p.pr / d.deg * 1.0e12 + 0.5e0) AS BIGINT)) AS s FROM edges e
                JOIN pr1 p ON p.id = e.src JOIN deg d ON d.src = e.src GROUP BY e.dst),
         pr2 AS (SELECT v.doc_id AS id,
                   (1.0e0 - 0.85e0) / nn.n
                     + 0.85e0 * (CAST(COALESCE(s2.s, 0) AS DOUBLE) / 1.0e12) AS pr
                 FROM documents v CROSS JOIN nn LEFT JOIN s2 ON s2.id = v.doc_id),
         s3 AS (SELECT e.dst AS id,
                sum(CAST(floor(p.pr / d.deg * 1.0e12 + 0.5e0) AS BIGINT)) AS s FROM edges e
                JOIN pr2 p ON p.id = e.src JOIN deg d ON d.src = e.src GROUP BY e.dst),
         pr3 AS (SELECT v.doc_id AS id,
                   (1.0e0 - 0.85e0) / nn.n
                     + 0.85e0 * (CAST(COALESCE(s3.s, 0) AS DOUBLE) / 1.0e12) AS pr
                 FROM documents v CROSS JOIN nn LEFT JOIN s3 ON s3.id = v.doc_id)
         SELECT id AS doc_id, round(pr, 9) AS pr FROM pr3 ORDER BY doc_id""",
    "q_embed_centroid" ->
      """WITH e AS (
           SELECT label, i - 1 AS pos,
             CAST(embedding[i] AS DOUBLE) AS x
           FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i))
         SELECT label, CAST(pos AS BIGINT) AS pos,
           count(*) AS n,
           CAST(sum(CAST(floor(x * 1048576) AS BIGINT)) AS BIGINT) AS sum_scaled
         FROM e GROUP BY label, pos ORDER BY label, pos""",
    "q_bpe_merges" ->
      s"""WITH $bpeTrainCte,
         pc2 AS (
           SELECT a[i] || ' ' || a[i + 1] AS pair, sum(freq) AS cnt
           FROM (SELECT string_split(seq, ' ') AS a, freq FROM seq2),
                unnest(range(1, len(a))) AS u(i)
           GROUP BY pair)
         SELECT pair, CAST(cnt AS BIGINT) AS cnt
         FROM pc2 ORDER BY cnt DESC, pair LIMIT 20""",
    "q_bpe_encode" ->
      s"""WITH $bpeTrainCte,
         $bpeEncodeCte
         SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           CAST(len(string_split(seq, ' ')) - (n_words - 1) AS BIGINT) AS n_subwords
         FROM enc2 ORDER BY doc_id""",
    "q_fertility" ->
      s"""WITH $bpeTrainCte,
         $bpeEncodeCte,
         agg AS (
           SELECT d.source,
             CAST(sum(e.n_words) AS BIGINT) AS words,
             CAST(sum(len(string_split(e.seq, ' ')) - (e.n_words - 1)) AS BIGINT)
               AS subwords,
             CAST(sum(d.n_chars) AS BIGINT) AS chars
           FROM enc2 e JOIN documents d USING (doc_id)
           GROUP BY d.source)
         SELECT source, words, subwords, chars,
           round(CAST(subwords AS DOUBLE) / words, 6) AS fertility,
           round(CAST(chars AS DOUBLE) / subwords, 6) AS chars_per_subword
         FROM agg ORDER BY source""",
    "q_kmeans_iter" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
         cent AS (
           SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell,
                  vec
           FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
         sims AS (
           SELECT v.vec_id, cent.cell,
             list_sum(list_transform(range(1, len(v.vec) + 1), i -> v.vec[i] * cent.vec[i]))
               / (sqrt(list_sum(list_transform(range(1, len(v.vec) + 1), i -> v.vec[i] * v.vec[i])))
                * sqrt(list_sum(list_transform(range(1, len(cent.vec) + 1), i -> cent.vec[i] * cent.vec[i])))) AS sim
           FROM v CROSS JOIN cent),
         assigned AS (
           SELECT vec_id, cell FROM (
             SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rk
             FROM sims) WHERE rk = 1),
         e AS (
           SELECT a.cell, i - 1 AS pos, v.vec[i] AS x
           FROM assigned a JOIN v USING (vec_id), unnest(range(1, len(v.vec) + 1)) AS u(i))
         SELECT CAST(cell AS BIGINT) AS cell, CAST(pos AS BIGINT) AS pos,
           count(*) AS n,
           CAST(sum(CAST(floor(x * 1048576) AS BIGINT)) AS BIGINT) AS sum_scaled
         FROM e GROUP BY cell, pos ORDER BY cell, pos""",
    "q_inverted_index" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
         p AS (SELECT doc_id, l[i] AS tok, i - 1 AS pos
               FROM t, unnest(range(1, len(l) + 1)) AS u(i))
         SELECT tok,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           count(*) AS n_postings,
           array_to_string(list_sort(list(printf('%012d:%08d', doc_id, pos)))[1:5], ',')
             AS postings_head
         FROM p GROUP BY tok ORDER BY tok""",
    "q_embed_topk_agg" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
         scored AS (
           SELECT q.vec_id AS q_id, c.vec_id AS n_id,
             list_sum(list_transform(range(1, len(q.vec) + 1), i -> q.vec[i] * c.vec[i]))
               / (sqrt(list_sum(list_transform(range(1, len(q.vec) + 1), i -> q.vec[i] * q.vec[i])))
                * sqrt(list_sum(list_transform(range(1, len(c.vec) + 1), i -> c.vec[i] * c.vec[i])))) AS cos_sim
           FROM v q JOIN v c ON q.vec_id < 5 AND q.vec_id <> c.vec_id),
         ranked AS (
           SELECT q_id, n_id, cos_sim,
             row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rk
           FROM scored)
         SELECT q_id, CAST(rk AS BIGINT) AS rk, n_id, cos_sim FROM ranked
         WHERE rk <= 5 ORDER BY q_id, rk""",
    "q_rbo" ->
      """WITH ca AS (
           SELECT token, count(*) AS n
           FROM (SELECT unnest(string_split(text, ' ')) AS token
                 FROM documents WHERE source = 'src0')
           GROUP BY 1),
         ta AS (
           SELECT token,
             CAST(row_number() OVER (ORDER BY n DESC, token ASC) AS BIGINT) AS ra
           FROM ca QUALIFY ra <= 20),
         cb AS (
           SELECT token, count(*) AS n
           FROM (SELECT unnest(string_split(text, ' ')) AS token
                 FROM documents WHERE source = 'src1')
           GROUP BY 1),
         tb AS (
           SELECT token,
             CAST(row_number() OVER (ORDER BY n DESC, token ASC) AS BIGINT) AS rb
           FROM cb QUALIFY rb <= 20),
         pairs AS (SELECT greatest(ra, rb) AS e FROM ta JOIN tb USING (token)),
         depths AS (SELECT unnest(range(1, 21)) AS d),
         agree AS (
           SELECT d, CAST(count(e) AS BIGINT) AS a
           FROM depths LEFT JOIN pairs ON e <= d GROUP BY 1),
         ncom AS (SELECT CAST(count(*) AS BIGINT) AS n_common FROM pairs)
         SELECT CAST(20 AS BIGINT) AS k, n_common,
           round(CAST(sum(CAST(floor((0.1e0 * pow(0.9e0, d - 1)
             * CAST(a AS DOUBLE) / d) * 1.0e9 + 0.5e0) AS BIGINT)) AS DOUBLE)
             / 1.0e9, 6) AS rbo_min
         FROM agree, ncom GROUP BY n_common""",
    "q_data_card" ->
      s"""WITH $shingleCte,
         scalars AS (
           SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
             CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
             CAST(min(n_chars) AS BIGINT) AS min_chars,
             CAST(max(n_chars) AS BIGINT) AS max_chars
           FROM documents),
         vocab AS (
           SELECT CAST(count(DISTINCT sh) AS BIGINT) AS n_distinct_trigrams FROM sh),
         modal AS (
           SELECT lang AS modal_lang, CAST(count(*) AS BIGINT) AS modal_lang_docs
           FROM documents GROUP BY lang
           ORDER BY count(*) DESC, lang ASC LIMIT 1)
         SELECT n_docs, n_tokens, n_distinct_trigrams, n_langs, n_sources,
           modal_lang, modal_lang_docs,
           CAST(n_chars_total AS DOUBLE) / n_docs AS mean_chars,
           min_chars, max_chars
         FROM scalars, vocab, modal""",
    "q_embed_decontam" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
         sims AS (
           SELECT c.vec_id,
             max(list_sum(list_transform(range(1, len(c.vec) + 1), i -> c.vec[i] * q.vec[i]))
               / (sqrt(list_sum(list_transform(range(1, len(c.vec) + 1), i -> c.vec[i] * c.vec[i])))
                * sqrt(list_sum(list_transform(range(1, len(q.vec) + 1), i -> q.vec[i] * q.vec[i])))))
               AS max_eval_sim
           FROM v c JOIN v q ON c.vec_id % 50 <> 0 AND q.vec_id % 50 = 0
           GROUP BY c.vec_id)
         SELECT vec_id, max_eval_sim, max_eval_sim >= 0.95e0 AS contaminated
         FROM sims ORDER BY vec_id""",
    "q_matryoshka" -> {
      def cosD(d: String) =
        s"""list_sum(list_transform(range(1, $d + 1), i -> q.vec[i] * c.vec[i]))
           / (sqrt(list_sum(list_transform(range(1, $d + 1), i -> q.vec[i] * q.vec[i])))
            * sqrt(list_sum(list_transform(range(1, $d + 1), i -> c.vec[i] * c.vec[i]))))"""
      val dims = Seq(8, 16, 32)
      val blocks = (dims.map { d =>
        s"""sc$d AS (
             SELECT q.vec_id AS q_id, c.vec_id AS n_id, ${cosD(d.toString)} AS cs
             FROM v q JOIN v c ON q.vec_id < 50 AND q.vec_id <> c.vec_id),
           rk$d AS (
             SELECT q_id, n_id,
               row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, n_id) AS rk
             FROM sc$d),
           hit$d AS (
             SELECT CAST(count(*) AS BIGINT) AS n_hits
             FROM rk$d JOIN truth USING (q_id, n_id) WHERE rk$d.rk <= 5)"""
      }).mkString(",\n")
      val rows = dims.map { d =>
        s"""SELECT CAST($d AS BIGINT) AS dim,
           (SELECT n_queries FROM nq) AS n_queries,
           (SELECT n_hits FROM hit$d) AS n_hits,
           CAST((SELECT n_hits FROM hit$d) AS DOUBLE)
             / ((SELECT n_queries FROM nq) * 5) AS recall_at5"""
      }.mkString("\nUNION ALL\n")
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
         scf AS (
           SELECT q.vec_id AS q_id, c.vec_id AS n_id, ${cosD("len(q.vec)")} AS cs
           FROM v q JOIN v c ON q.vec_id < 50 AND q.vec_id <> c.vec_id),
         truth AS (
           SELECT q_id, n_id FROM (
             SELECT q_id, n_id,
               row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, n_id) AS rk
             FROM scf) WHERE rk <= 5),
         nq AS (SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS n_queries FROM truth),
         $blocks
         SELECT * FROM ($rows) ORDER BY dim"""
    },
    "q_embed_cosine_topk" -> cosineTopkOracle,
    // SHARED def: the graft_ann TVF spelling binds to the same string
    "q_ann_sql" -> cosineTopkOracle,
    "q_hard_negatives" ->
      """WITH v AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec, label FROM embeddings),
         scored AS (
           SELECT q.vec_id AS q_id, c.vec_id AS n_id,
             CAST(c.label AS BIGINT) AS n_label,
             list_sum(list_transform(range(1, len(q.vec) + 1), i -> q.vec[i] * c.vec[i]))
               / (sqrt(list_sum(list_transform(range(1, len(q.vec) + 1), i -> q.vec[i] * q.vec[i])))
                * sqrt(list_sum(list_transform(range(1, len(c.vec) + 1), i -> c.vec[i] * c.vec[i])))) AS cos_sim
           FROM v q JOIN v c ON q.vec_id < 5 AND q.label <> c.label),
         ranked AS (
           SELECT q_id, n_id, n_label, cos_sim,
             row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rk
           FROM scored)
         SELECT q_id, CAST(rk AS BIGINT) AS rk, n_id, n_label, cos_sim FROM ranked
         WHERE rk <= 5 ORDER BY q_id, rk""",
    "q_knn_label_acc" ->
      """WITH v AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
             CAST(label AS BIGINT) AS label
           FROM embeddings),
         scored AS (
           SELECT q.vec_id AS q_id, q.label AS q_label,
             c.vec_id AS n_id, c.label AS n_label,
             list_sum(list_transform(range(1, len(q.vec) + 1), i -> q.vec[i] * c.vec[i]))
               / (sqrt(list_sum(list_transform(range(1, len(q.vec) + 1), i -> q.vec[i] * q.vec[i])))
                * sqrt(list_sum(list_transform(range(1, len(c.vec) + 1), i -> c.vec[i] * c.vec[i])))) AS cs
           FROM v q JOIN v c
             ON q.vec_id % 100 = 0 AND c.vec_id % 100 <> 0 AND q.vec_id <> c.vec_id),
         ranked AS (
           SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, n_id) AS rk
           FROM scored),
         votes AS (
           SELECT q_id, q_label, n_label, count(*) AS v
           FROM ranked WHERE rk <= 10 GROUP BY q_id, q_label, n_label),
         maj AS (
           SELECT q_id, q_label, n_label AS pred,
             row_number() OVER (PARTITION BY q_id ORDER BY v DESC, n_label ASC) AS mr
           FROM votes)
         SELECT q_label AS label, CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(CASE WHEN pred = q_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           round(CAST(sum(CASE WHEN pred = q_label THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS acc_at10
         FROM maj WHERE mr = 1 GROUP BY q_label ORDER BY label""",
    "q_text_stats" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(regexp_split_to_array(text, '[\s]+'))
            + len(regexp_split_to_array(text, '[^\pL\pN\s]')) - 1 AS BIGINT) AS n_tokens_bpeish,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens,
         CAST(len(list_filter(string_split(text, ' '),
           t -> t IN ('the','a','of','and','to','in','is','on','for','with'))) AS BIGINT) AS n_stopwords
         FROM documents ORDER BY doc_id""",
    // the ingest split re-derived from the corruption rule: % 37 lines
    // are truncated (quarantined, all typed fields null), everything
    // else parses clean with its original content
    "q_ingest_sql" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS n_chars
         FROM documents WHERE doc_id % 37 <> 0
         GROUP BY lang ORDER BY lang""",
    "q_jsonl_ingest" ->
      """SELECT CASE WHEN doc_id % 37 = 0 THEN 'quarantined' ELSE 'ok' END AS status,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN doc_id % 37 = 0 THEN 0 ELSE length(text) END) AS BIGINT) AS n_chars,
           CAST(count(DISTINCT CASE WHEN doc_id % 37 = 0 THEN NULL ELSE lang END) AS BIGINT) AS n_langs,
           CAST(count(DISTINCT CASE WHEN doc_id % 37 = 0 THEN NULL ELSE source END) AS BIGINT) AS n_sources
         FROM documents
         GROUP BY 1 ORDER BY status""",
    "q_decontaminate" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
         sp AS (SELECT doc_id, array_to_string(l[i:i+7], ' ') AS span
                FROM t, unnest(range(1, len(l) - 6)) AS u(i)),
         bench AS (SELECT DISTINCT span FROM sp WHERE doc_id % 50 = 0),
         hits AS (SELECT doc_id, count(*) AS n_hits
                  FROM sp JOIN bench USING (span)
                  WHERE doc_id % 50 != 0 GROUP BY doc_id)
         SELECT d.doc_id,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_contaminated_spans,
           coalesce(h.n_hits, 0) > 0 AS contaminated
         FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
         WHERE d.doc_id % 50 != 0
         ORDER BY d.doc_id""",
    "q_domain_cap" ->
      """WITH ranked AS (
           SELECT source, doc_id,
             row_number() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
           FROM documents)
         SELECT source, CAST(rk AS BIGINT) AS rk, doc_id
         FROM ranked WHERE rk <= 15 ORDER BY source, rk""",
    "q_span_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
         sp AS (SELECT doc_id, array_to_string(l[i:i+7], ' ') AS span
                FROM t, unnest(range(1, len(l) - 6)) AS u(i)),
         c AS (SELECT doc_id, count(*) OVER (PARTITION BY span) AS n FROM sp),
         per AS (SELECT doc_id, count(*) AS n_spans,
                        sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS n_dup
                 FROM c GROUP BY doc_id)
         SELECT d.doc_id,
           CAST(coalesce(per.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(coalesce(per.n_dup, 0) AS BIGINT) AS n_dup_spans,
           CASE WHEN coalesce(per.n_spans, 0) = 0 THEN 0.0
                ELSE per.n_dup / per.n_spans END AS dup_frac
         FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
         ORDER BY d.doc_id""",
    "q_seq_pack" ->
      """WITH d AS (
           SELECT source, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
           FROM documents),
         c AS (
           SELECT source, doc_id, n_tok,
             sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM d)
         SELECT source, CAST(floor((cum - n_tok) / 2048) AS BIGINT) AS bin,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
         FROM c GROUP BY 1, 2 ORDER BY source, bin""",
    "q_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
         u AS (SELECT doc_id, tok, count(*) AS c
               FROM t, unnest(l) AS z(tok) GROUP BY doc_id, tok),
         uni AS (SELECT doc_id, max(c) AS top_c,
                        CAST(sum(c) AS BIGINT) AS n_tokens
                 FROM u GROUP BY doc_id),
         bi AS (SELECT doc_id, CAST(len(bg) AS BIGINT) AS n_bigrams,
                       CAST(len(list_distinct(bg)) AS BIGINT) AS n_dist
                FROM (SELECT doc_id,
                        list_transform(range(1, len(l)),
                          i -> l[i] || ' ' || l[i + 1]) AS bg
                      FROM t))
         SELECT uni.doc_id, uni.n_tokens,
           uni.top_c / uni.n_tokens AS top_tok_frac,
           CASE WHEN bi.n_bigrams = 0 THEN 0.0
                ELSE 1.0 - bi.n_dist / bi.n_bigrams END AS dup_bigram_frac
         FROM uni JOIN bi ON uni.doc_id = bi.doc_id
         ORDER BY uni.doc_id""",
    "q_lang_quality" ->
      """WITH scores AS (
           SELECT doc_id, lang, text,
             len(list_filter(string_split(text,' '), t -> t IN ('the','and','is','of','was','are'))) AS s_en,
             len(list_filter(string_split(text,' '), t -> t IN ('der','und','das','ein','ist','nicht'))) AS s_de,
             len(list_filter(string_split(text,' '), t -> t IN ('le','les','et','une','est','pas'))) AS s_fr,
             len(list_filter(string_split(text,' '), t -> t IN ('el','los','las','una','es','como'))) AS s_es,
             CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) / len(string_split(text,' ')) AS diversity,
             CAST(len(list_filter(string_split(text,' '),
               t -> t IN ('the','a','of','and','to','in','is','on','for','with'))) AS DOUBLE)
               / len(string_split(text,' ')) AS stop_ratio,
             CAST(length(regexp_replace(text, '[\p{L}\p{N}\s]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio
           FROM documents)
         SELECT doc_id, lang,
           CASE
             WHEN s_en >= greatest(s_en, s_de, s_fr, s_es) AND s_en > 0 THEN 'en'
             WHEN s_de >= greatest(s_en, s_de, s_fr, s_es) AND s_de > 0 THEN 'de'
             WHEN s_fr >= greatest(s_en, s_de, s_fr, s_es) AND s_fr > 0 THEN 'fr'
             WHEN s_es >= greatest(s_en, s_de, s_fr, s_es) AND s_es > 0 THEN 'es'
             ELSE 'und' END AS pred_lang,
           round(least(length(text) / 500.0, 1.0) * 0.3
             + diversity * 0.4
             + least(stop_ratio * 5.0, 1.0) * 0.2
             + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.1, 6) AS quality
         FROM scores ORDER BY doc_id""",
    "q_vocab_topk" ->
      """SELECT token, count(*) AS n
         FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
         GROUP BY token ORDER BY n DESC, token LIMIT 100""",
    "q_oov_rate" ->
      """WITH toks AS (
           SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
         vocab AS (
           SELECT token FROM (
             SELECT token, count(*) AS n FROM toks GROUP BY token
             ORDER BY n DESC, token LIMIT 1000)),
         j AS (
           SELECT t.source, v.token AS iv
           FROM toks t LEFT JOIN vocab v ON v.token = t.token)
         SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN iv IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           round(CAST(sum(CASE WHEN iv IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS oov_rate
         FROM j GROUP BY source ORDER BY source""",
    "q_trunc_loss" ->
      """WITH d AS (
           SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
           FROM documents)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(nt) AS BIGINT) AS total_tokens,
           CAST(sum(greatest(nt - 256, 0)) AS BIGINT) AS truncated_tokens,
           CAST(sum(CASE WHEN nt > 256 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_truncated_docs,
           round(CAST(sum(greatest(nt - 256, 0)) AS DOUBLE) / sum(nt), 6)
             AS trunc_frac
         FROM d GROUP BY source ORDER BY source""",
    "q_tfidf_top" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
         dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         total AS (SELECT count(*) AS n_docs FROM documents),
         scored AS (
           SELECT doc_id, term, tf * (CAST(n_docs AS DOUBLE) / df) AS tfidf
           FROM tf JOIN dfreq USING (term) CROSS JOIN total),
         ranked AS (
           SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
           FROM scored)
         SELECT doc_id, term AS top_term, tfidf FROM ranked
         WHERE rk = 1 ORDER BY doc_id""",
    "q_pii_redact" ->
      """SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_redacted,
           md5(regexp_replace(text, '[0-9]+', '#', 'g')) AS redacted_md5
         FROM documents ORDER BY doc_id""",
    "q_dup_clusters" -> dupClustersOracle,
    // the incremental store must equal the full clustering (see the
    // q_dup_clusters_inc registration comment)
    "q_dup_clusters_inc" -> dupClustersOracle,
    "q_dup_clusters_inc_sql" -> dupClustersOracle, // TVF spelling, same truth
    "q_dup_clusters_sql" -> dupClustersOracle, // TVF spelling, same truth
    // Same cluster CTE chain as q_dup_clusters, then the exact
    // contingency-cell reduction: every numerator is an integer
    // (per-cell F1 = 2·n_cg/(n_c+n_g)), so both engines divide the same
    // exact counts.
    "q_bcubed" ->
      """WITH RECURSIVE sh AS (
           SELECT doc_id AS id, unnest(list_distinct(
             list_transform(range(1, greatest(len(string_split(text,' ')) - 1, 1)),
               i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])
           )) AS sh
           FROM documents WHERE len(string_split(text,' ')) >= 3),
         sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
         shared AS (
           SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
           FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
           GROUP BY a.id, b.id),
         prs AS (
           SELECT id_a, id_b FROM shared
             JOIN sizes sa ON sa.id = id_a
             JOIN sizes sb ON sb.id = id_b
           WHERE CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) >= 0.05),
         edges AS (
           SELECT id_a AS u, id_b AS v FROM prs
           UNION SELECT id_b, id_a FROM prs),
         reach(id, r) AS (
           SELECT u, u FROM edges
           UNION
           SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v),
         comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
         assign AS (
           SELECT COALESCE(c.cluster, d.doc_id) AS c,
             min(d.doc_id) OVER (PARTITION BY md5(d.text)) AS g
           FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
         cells AS (SELECT c, g, count(*) AS n_cg FROM assign GROUP BY c, g),
         nc AS (SELECT c, sum(n_cg) AS n_c FROM cells GROUP BY c),
         ng AS (SELECT g, sum(n_cg) AS n_g FROM cells GROUP BY g)
       SELECT CAST(sum(n_cg) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT cells.c) AS BIGINT) AS n_pred,
         CAST(count(DISTINCT cells.g) AS BIGINT) AS n_gold,
         round(sum(n_cg * n_cg * 1.0 / n_c) / sum(n_cg), 6) AS bcubed_p,
         round(sum(n_cg * n_cg * 1.0 / n_g) / sum(n_cg), 6) AS bcubed_r,
         round(sum(2.0 * n_cg * n_cg / (n_c + n_g)) / sum(n_cg), 6) AS bcubed_f1
       FROM cells JOIN nc USING (c) JOIN ng USING (g)""",
    "q_dedup_full" -> dedupFullOracle,
    "q_dedup_full_sql" -> dedupFullOracle, // TVF dedup mode, same truth
    "q_sample_stratified" ->
      """SELECT doc_id, lang FROM documents
         WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
           <= (CASE WHEN lang = 'en' THEN '7' ELSE '3' END)
         ORDER BY doc_id""",
    "q_pack_chunks" ->
      """WITH c AS (
           SELECT doc_id, text,
             unnest(range(0, CAST(ceil(length(text) / 256.0) AS BIGINT))) AS chunk_idx
           FROM documents WHERE length(text) > 0)
         SELECT doc_id, chunk_idx,
           CAST(length(substring(text, CAST(chunk_idx * 256 + 1 AS INT), 256)) AS BIGINT) AS n_chunk_chars,
           md5(substring(text, CAST(chunk_idx * 256 + 1 AS INT), 256)) AS chunk_md5
         FROM c ORDER BY doc_id, chunk_idx""",
    "q_quality_filter" ->
      """WITH scores AS (
           SELECT doc_id, lang, text,
             len(list_filter(string_split(text,' '), t -> t IN ('the','and','is','of','was','are'))) AS s_en,
             len(list_filter(string_split(text,' '), t -> t IN ('der','und','das','ein','ist','nicht'))) AS s_de,
             len(list_filter(string_split(text,' '), t -> t IN ('le','les','et','une','est','pas'))) AS s_fr,
             len(list_filter(string_split(text,' '), t -> t IN ('el','los','las','una','es','como'))) AS s_es,
             CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) / len(string_split(text,' ')) AS diversity,
             CAST(len(list_filter(string_split(text,' '),
               t -> t IN ('the','a','of','and','to','in','is','on','for','with'))) AS DOUBLE)
               / len(string_split(text,' ')) AS stop_ratio,
             CAST(length(regexp_replace(text, '[\p{L}\p{N}\s]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
             len(string_split(text, ' ')) AS n_tok
           FROM documents),
         q AS (
           SELECT doc_id, lang, n_tok,
             CASE
               WHEN s_en >= greatest(s_en, s_de, s_fr, s_es) AND s_en > 0 THEN 'en'
               WHEN s_de >= greatest(s_en, s_de, s_fr, s_es) AND s_de > 0 THEN 'de'
               WHEN s_fr >= greatest(s_en, s_de, s_fr, s_es) AND s_fr > 0 THEN 'fr'
               WHEN s_es >= greatest(s_en, s_de, s_fr, s_es) AND s_es > 0 THEN 'es'
               ELSE 'und' END AS pred_lang,
             round(least(length(text) / 500.0, 1.0) * 0.3
               + diversity * 0.4
               + least(stop_ratio * 5.0, 1.0) * 0.2
               + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.1, 6) AS quality
           FROM scores),
         keep AS (
           SELECT min(doc_id) AS doc_id FROM documents
           GROUP BY md5(lower(trim(regexp_replace(nfc_normalize(text), '\s+', ' ', 'g')))))
         SELECT q.doc_id, lang, quality
         FROM q JOIN keep USING (doc_id)
         WHERE pred_lang = 'en' AND quality >= 0.5 AND n_tok BETWEEN 10 AND 2000
         ORDER BY doc_id""",
    "q_fingerprint" ->
      """SELECT doc_id,
         substring(md5(lower(trim(regexp_replace(nfc_normalize(text), '\s+', ' ', 'g')))), 1, 16) AS fp
         FROM documents ORDER BY doc_id""",
    "q_blob_meta" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes, md5(text) AS digest
         FROM documents ORDER BY doc_id""",
    "q_unigram_lm" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
         lm AS (SELECT token, count(*) AS tok_n FROM toks GROUP BY token)
         SELECT t.doc_id, count(*) AS n_tok,
           CAST(sum(l.tok_n) AS BIGINT) AS lm_sum,
           round(CAST(sum(l.tok_n) AS DOUBLE) / count(*), 6) AS score
         FROM toks t JOIN lm l USING (token)
         GROUP BY t.doc_id ORDER BY t.doc_id""",
    "q_heavy_hitters" -> heavyHittersOracle,
    "q_heavy_hitters_sql" -> heavyHittersOracle, // TVF spelling, same truth
    // Oracle numbers each source GLOBALLY (plain row_number over the md5
    // order); the Spark side composes bucket offsets + within-bucket
    // ranks — the equality of the two IS the distributed-ranking proof.
    "q_shard_stratified" ->
      """WITH a AS (
           SELECT source,
             (row_number() OVER (PARTITION BY source
                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1) % 8 AS shard
           FROM documents),
         c AS (SELECT source, shard, count(*) AS n_cell FROM a GROUP BY source, shard)
       SELECT source, CAST(sum(n_cell) AS BIGINT) AS n_src,
         CAST(min(n_cell) AS BIGINT) AS min_shard_docs,
         CAST(max(n_cell) AS BIGINT) AS max_shard_docs,
         CAST(max(n_cell) - min(n_cell) AS BIGINT) AS spread
       FROM c GROUP BY source ORDER BY source""",
    "q_mix_sample" ->
      """WITH t AS (
           SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             md5(CAST(doc_id AS VARCHAR)) AS pri
           FROM documents),
         c AS (
           SELECT *, sum(n_tok) OVER (PARTITION BY source ORDER BY pri, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
           FROM t)
         SELECT doc_id, source, n_tok, CAST(cum_tok AS BIGINT) AS cum_tok
         FROM c WHERE cum_tok <= 600 ORDER BY doc_id""",
    "q_weighted_sample" -> weightedSampleOracle,
    "q_mix_reweight" -> mixReweightOracle,
    "q_label_prop" -> labelPropOracle,
    "q_embed_rp" -> embedRpOracle,
    "q_cms_est" -> cmsEstOracle,
    "q_audio_fingerprint" -> audioFingerprintOracle,
    "q_video_fingerprint" -> videoFingerprintOracle,
    "q_bfs_levels" -> bfsLevelsOracle,
    "q_dedup_curve" -> dedupCurveOracle,
    "q_lsh_eval" -> lshEvalOracle)

  /** DuckDB twin of q_lsh_curve: the same grid and the same
    * multiply-by-squaring power chains, so both engines evaluate the
    * identical floating-point expression tree.
    */
  private def lshCurveOracle: String = {
    def powSql(x: String, n: Int): String =
      if (n == 1) x else { val h = powSql(x, n / 2); s"($h) * ($h)" }
    val arms = Seq(("media_phash", 16, 4), ("dedup_minhash", 4, 4),
      ("minhash_est", 2, 8)).map { case (scheme, r, b) =>
      val p = s"1.0e0 - ${powSql(s"(1.0e0 - ${powSql("(s)", r)})", b)}"
      s"""SELECT '$scheme' AS scheme, CAST($r AS BIGINT) AS r,
           CAST($b AS BIGINT) AS b, round(s, 6) AS s,
           round($p, 6) AS p_candidate
         FROM grid"""
    }.mkString("\n         UNION ALL\n         ")
    s"""WITH grid AS (
         SELECT CAST(i AS DOUBLE) / 20.0e0 AS s FROM range(1, 20) t(i))
       $arms
       ORDER BY scheme, s"""
  }

  /** DuckDB twin of q_js_divergence: the same (source, token) counts,
    * pair grid, full-outer token union, and CASE-guarded ln terms with
    * the identical expression tree, grid-summed per pair.
    */
  private def jsDivergenceOracle: String = {
    val p = "CAST(ca AS DOUBLE) / n1"
    val q = "CAST(cb AS DOUBLE) / n2"
    val termP = s"CASE WHEN ca > 0 THEN ($p) * ln(2.0e0 * ($p) / (($p) + ($q))) ELSE 0.0e0 END"
    val termQ = s"CASE WHEN cb > 0 THEN ($q) * ln(2.0e0 * ($q) / (($p) + ($q))) ELSE 0.0e0 END"
    s"""WITH a AS (
         SELECT source, token, CAST(count(*) AS BIGINT) AS c
         FROM (SELECT source, unnest(string_split(text, ' ')) AS token
               FROM documents)
         GROUP BY source, token),
       st AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM a GROUP BY source),
       pairs AS (
         SELECT x.source AS s1, y.source AS s2
         FROM st x JOIN st y ON x.source < y.source),
       xx AS (
         SELECT p.s1, p.s2, a.token, a.c AS ca
         FROM a JOIN pairs p ON a.source = p.s1),
       yy AS (
         SELECT p.s1 AS t1, p.s2 AS t2, a.token AS tok, a.c AS cb
         FROM a JOIN pairs p ON a.source = p.s2),
       u AS (
         SELECT coalesce(s1, t1) AS s1, coalesce(s2, t2) AS s2,
           coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
         FROM xx FULL OUTER JOIN yy
           ON xx.s1 = yy.t1 AND xx.s2 = yy.t2 AND xx.token = yy.tok),
       t AS (
         SELECT u.s1, u.s2, u.ca, u.cb, z1.n AS n1, z2.n AS n2
         FROM u JOIN st z1 ON z1.source = u.s1 JOIN st z2 ON z2.source = u.s2)
       SELECT s1, s2,
         round(0.5e0 * (${GridSum.gridSumSql(termP)})
             + 0.5e0 * (${GridSum.gridSumSql(termQ)}), 6) AS jsd
       FROM t GROUP BY s1, s2 ORDER BY s1, s2"""
  }

  /** DuckDB twin of q_minhash_est: the same md5 permutations (first 8
    * hex digits parsed to a 32-bit value — exact in BIGINT), min
    * signatures, 8x2 band keys (p-sorted h values joined by comma),
    * and the estimate-vs-exact report on the identical candidate set.
    */
  /** DuckDB twin of q_fuzzy_decontam: the q_minhash_est signature scheme
    * (16 perms from 4 md5 digests, 8 bands x 2 rows) split train/bench
    * at doc_id % 50, band-collision candidates, exact 3-gram Jaccard
    * verify, best bench match per train doc (j desc, bench_id asc),
    * contaminated = rounded j >= 0.5.
    */
  private def fuzzyDecontamOracle: String = {
    val hexVal = (1 to 8).map { i =>
      val pow = 1L << (4 * (8 - i)) // 16^(8-i)
      s"(strpos('0123456789abcdef', substring(m, slot * 8 + $i, 1)) - 1) * ${pow}"
    }.mkString(" + ")
    s"""WITH sh AS (
         SELECT doc_id, unnest(list_distinct(
           list_transform(range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
             i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
                  || ' ' || string_split(text, ' ')[i+2]))) AS sh
         FROM documents WHERE len(string_split(text, ' ')) >= 3),
       hv AS (
         SELECT doc_id, g, md5(CAST(g AS VARCHAR) || ':' || sh) AS m
         FROM sh, unnest(range(0, 4)) AS r(g)),
       sig AS (
         SELECT doc_id, g * 4 + slot + 1 AS p, CAST(min($hexVal) AS BIGINT) AS h
         FROM hv, unnest(range(0, 4)) AS u(slot)
         GROUP BY doc_id, g, slot),
       bands AS (
         SELECT doc_id, (p - 1) // 2 AS b,
           array_to_string(list_transform(
             list_sort(list({'p': p, 'h': h})), x -> CAST(x.h AS VARCHAR)), ',')
             AS key
         FROM sig GROUP BY doc_id, (p - 1) // 2),
       cand AS (
         SELECT DISTINCT t.doc_id AS doc_id, q.doc_id AS bench_id
         FROM bands t JOIN bands q ON t.b = q.b AND t.key = q.key
         WHERE t.doc_id % 50 <> 0 AND q.doc_id % 50 = 0),
       sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
       shared AS (
         SELECT c.doc_id, c.bench_id, CAST(count(*) AS BIGINT) AS ns
         FROM cand c
           JOIN sh a ON a.doc_id = c.doc_id
           JOIN sh b ON b.doc_id = c.bench_id AND b.sh = a.sh
         GROUP BY c.doc_id, c.bench_id),
       scored AS (
         SELECT c.doc_id, c.bench_id,
           round(CAST(coalesce(s.ns, 0) AS DOUBLE)
             / (za.n_sh + zb.n_sh - coalesce(s.ns, 0)), 6) AS j
         FROM cand c
           LEFT JOIN shared s ON s.doc_id = c.doc_id AND s.bench_id = c.bench_id
           JOIN sizes za ON za.doc_id = c.doc_id
           JOIN sizes zb ON zb.doc_id = c.bench_id),
       best AS (
         SELECT doc_id, bench_id, j,
           row_number() OVER (PARTITION BY doc_id ORDER BY j DESC, bench_id ASC)
             AS rk
         FROM scored)
       SELECT d.doc_id,
         coalesce(b.j, 0.0e0) >= 0.5e0 AS contaminated,
         b.bench_id AS best_bench_id,
         coalesce(b.j, 0.0e0) AS jaccard
       FROM documents d
         LEFT JOIN best b ON b.doc_id = d.doc_id AND b.rk = 1
       WHERE d.doc_id % 50 <> 0
       ORDER BY d.doc_id"""
  }

  /** Shared oracle CTE prefix for the md5-keyed MinHash pipeline
    * ([[md5MinhashPipeline]]'s twin): shingles → four-digest sliced
    * signatures → 8x2 bands → distinct candidate pairs. Composed by
    * the q_minhash_est and q_lsh_eval oracles.
    */
  private def md5MinhashCandCte: String = {
    val hexVal = (1 to 8).map { i =>
      val pow = 1L << (4 * (8 - i)) // 16^(8-i)
      s"(strpos('0123456789abcdef', substring(m, slot * 8 + $i, 1)) - 1) * ${pow}"
    }.mkString(" + ")
    s"""sh AS (
         SELECT doc_id, unnest(list_distinct(
           list_transform(range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
             i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
                  || ' ' || string_split(text, ' ')[i+2]))) AS sh
         FROM documents WHERE len(string_split(text, ' ')) >= 3),
       hv AS (
         SELECT doc_id, g, md5(CAST(g AS VARCHAR) || ':' || sh) AS m
         FROM sh, unnest(range(0, 4)) AS r(g)),
       sig AS (
         SELECT doc_id, g * 4 + slot + 1 AS p, CAST(min($hexVal) AS BIGINT) AS h
         FROM hv, unnest(range(0, 4)) AS u(slot)
         GROUP BY doc_id, g, slot),
       bands AS (
         SELECT doc_id, (p - 1) // 2 AS b,
           array_to_string(list_transform(
             list_sort(list({'p': p, 'h': h})), x -> CAST(x.h AS VARCHAR)), ',')
             AS key
         FROM sig GROUP BY doc_id, (p - 1) // 2),
       cand AS (
         SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         FROM bands x JOIN bands y
           ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id)"""
  }

  /** DuckDB twin of q_dedup_minhash: the shared md5-MinHash CTE's band
    * keys pivoted wide (8 bands per doc) plus each doc's LSH candidate
    * count from the distinct band-collision pair set.
    */
  private def dedupMinhashOracle: String = {
    val bandCols = (0 until 8).map(b =>
      s"max(CASE WHEN b = $b THEN key END) AS band_$b").mkString(",\n           ")
    s"""WITH $md5MinhashCandCte,
       wide AS (
         SELECT doc_id,
           $bandCols
         FROM bands GROUP BY doc_id),
       nc AS (
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_candidates
         FROM (SELECT id_a AS doc_id FROM cand
               UNION ALL SELECT id_b FROM cand)
         GROUP BY doc_id)
       SELECT w.doc_id, band_0, band_1, band_2, band_3,
         band_4, band_5, band_6, band_7,
         coalesce(nc.n_candidates, 0) AS n_candidates
       FROM wide w LEFT JOIN nc ON nc.doc_id = w.doc_id
       ORDER BY w.doc_id"""
  }

  /** DuckDB twin of q_dedup_simhash: per token the first 16 md5 hex
    * digits parsed as two exact 32-bit halves, per-bit ±1 votes summed
    * over every token occurrence, positive sum sets the bit, bits
    * packed into four 16-bit bands MSB-first — the identical integer
    * arithmetic on both engines.
    */
  private def dedupSimhashOracle: String = {
    def hexVal(off: Int): String = (1 to 8).map { i =>
      val pow = 1L << (4 * (8 - i)) // 16^(8-i)
      s"(strpos('0123456789abcdef', substring(m, ${off + i}, 1)) - 1) * ${pow}"
    }.mkString(" + ")
    val bandCols = (0 until 4).map { i =>
      val lo = 48 - 16 * i
      s"""CAST(sum(CASE WHEN b >= $lo AND b <= ${lo + 15}
             THEN sb * (CAST(1 AS BIGINT) << CAST(b % 16 AS INT)) END) AS BIGINT)
             AS band_$i"""
    }.mkString(",\n         ")
    s"""WITH tok AS (
         SELECT doc_id, md5(t) AS m
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
               FROM documents)),
       hv AS (
         SELECT doc_id,
           CAST(${hexVal(0)} AS BIGINT) AS hi,
           CAST(${hexVal(8)} AS BIGINT) AS lo
         FROM tok),
       bits AS (
         SELECT doc_id, b,
           (CASE WHEN b < 32 THEN lo >> CAST(b AS INT)
                 ELSE hi >> CAST(b - 32 AS INT) END) & 1 AS bit
         FROM hv, unnest(range(0, 64)) AS r(b)),
       sbv AS (
         SELECT doc_id, b,
           CASE WHEN sum(2 * bit - 1) > 0 THEN 1 ELSE 0 END AS sb
         FROM bits GROUP BY doc_id, b)
       SELECT doc_id,
         $bandCols
       FROM sbv GROUP BY doc_id ORDER BY doc_id"""
  }

  private def minhashEstOracle: String = {
    s"""WITH $md5MinhashCandCte,
       est AS (
         SELECT c.id_a, c.id_b,
           CAST(sum(CASE WHEN sa.h = sb.h THEN 1 ELSE 0 END) AS DOUBLE) / 16.0e0
             AS est
         FROM cand c
           JOIN sig sa ON sa.doc_id = c.id_a
           JOIN sig sb ON sb.doc_id = c.id_b AND sb.p = sa.p
         GROUP BY c.id_a, c.id_b),
       sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
       shared AS (
         SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS ns
         FROM cand c
           JOIN sh a ON a.doc_id = c.id_a
           JOIN sh b ON b.doc_id = c.id_b AND b.sh = a.sh
         GROUP BY c.id_a, c.id_b)
       SELECT c.id_a, c.id_b,
         round(e.est, 6) AS est_jaccard,
         round(CAST(coalesce(s.ns, 0) AS DOUBLE) / (za.n_sh + zb.n_sh - coalesce(s.ns, 0)), 6)
           AS exact_jaccard,
         round(abs(e.est - CAST(coalesce(s.ns, 0) AS DOUBLE)
           / (za.n_sh + zb.n_sh - coalesce(s.ns, 0))), 6) AS abs_err
       FROM cand c
         JOIN est e ON e.id_a = c.id_a AND e.id_b = c.id_b
         LEFT JOIN shared s ON s.id_a = c.id_a AND s.id_b = c.id_b
         JOIN sizes za ON za.doc_id = c.id_a
         JOIN sizes zb ON zb.doc_id = c.id_b
       ORDER BY c.id_a, c.id_b"""
  }

  /** DuckDB twin of q_lsh_eval: the shared candidate CTE, exact-Jaccard
    * truth over the same shingle stream, and integer hit/truth/candidate
    * counts per similarity level — the only doubles are the final two
    * divisions of exact integers.
    */
  private def lshEvalOracle: String =
    s"""WITH $md5MinhashCandCte,
       sizes AS (
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1),
       tshared AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS ns
         FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
       truth AS (
         SELECT id_a, id_b,
           CAST(ns AS DOUBLE) / (za.n_sh + zb.n_sh - ns) AS j
         FROM tshared
           JOIN sizes za ON za.doc_id = id_a
           JOIN sizes zb ON zb.doc_id = id_b
         WHERE CAST(ns AS DOUBLE) / (za.n_sh + zb.n_sh - ns) >= 0.3),
       grid AS (SELECT unnest([0.3e0, 0.5e0, 0.7e0]) AS t),
       tt AS (SELECT t, id_a, id_b FROM truth, grid WHERE j >= t),
       nt AS (SELECT t, CAST(count(*) AS BIGINT) AS n_truth FROM tt GROUP BY t),
       nh AS (
         SELECT t, CAST(count(*) AS BIGINT) AS n_hit
         FROM tt JOIN cand USING (id_a, id_b) GROUP BY t),
       nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM cand)
       SELECT nt.t, nt.n_truth,
         CAST(coalesce(nh.n_hit, 0) AS BIGINT) AS n_hit, nc.n_cand,
         CAST(coalesce(nh.n_hit, 0) AS DOUBLE) / CAST(nt.n_truth AS DOUBLE)
           AS recall,
         CAST(coalesce(nh.n_hit, 0) AS DOUBLE) / CAST(nc.n_cand AS DOUBLE)
           AS precision_at_t
       FROM nt LEFT JOIN nh ON nh.t = nt.t CROSS JOIN nc
       ORDER BY nt.t"""

  /** DuckDB twin of q_mutual_nn: the same md5-ordered coarse centroids
    * and nearest-cell assignment as the semdedup oracle, in-cell
    * cross-parity cosine scoring (rounded before ranking so ties are
    * engine-identical), per-side argmax via rank-1 windows, and the
    * reciprocity join.
    */
  private def mutualNnOracle: String =
    """WITH v0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       v AS (
         SELECT vec_id, vec,
           sqrt(list_sum(list_transform(range(1, len(vec) + 1), i -> vec[i] * vec[i]))) AS nrm
         FROM v0),
       nl AS (SELECT LEAST(4096, GREATEST(16, CAST(ceil(count(*) / 256.0) AS BIGINT))) AS nlist FROM v),
       cent AS (
         SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell, vec, nrm
         FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
         LIMIT (SELECT nlist FROM nl)),
       sims AS (
         SELECT v.vec_id, cent.cell,
           list_sum(list_transform(range(1, len(v.vec) + 1), i -> v.vec[i] * cent.vec[i]))
             / (v.nrm * cent.nrm) AS sim
         FROM v CROSS JOIN cent),
       assign AS (
         SELECT vec_id, cell FROM (
           SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rk
           FROM sims) WHERE rk = 1),
       sc AS (
         SELECT x.vec_id AS ia, y.vec_id AS ib,
           round(list_sum(list_transform(range(1, len(va.vec) + 1), i -> va.vec[i] * vb.vec[i]))
             / (va.nrm * vb.nrm), 6) AS cs
         FROM assign x JOIN assign y ON x.cell = y.cell
           JOIN v va ON va.vec_id = x.vec_id
           JOIN v vb ON vb.vec_id = y.vec_id
         WHERE x.vec_id % 2 = 0 AND y.vec_id % 2 = 1),
       ba AS (
         SELECT ia, ib FROM (
           SELECT ia, ib, row_number() OVER (PARTITION BY ia ORDER BY cs DESC, ib ASC) AS rk
           FROM sc) WHERE rk = 1),
       bb AS (
         SELECT ia, ib FROM (
           SELECT ia, ib, row_number() OVER (PARTITION BY ib ORDER BY cs DESC, ia ASC) AS rk
           FROM sc) WHERE rk = 1)
       SELECT sc.ia AS id_a, sc.ib AS id_b, sc.cs AS cos_sim
       FROM sc JOIN ba USING (ia, ib) JOIN bb USING (ia, ib)
       ORDER BY id_a"""

  /** DuckDB twin of q_kappa: the same md5 16-adic uniform flip draw and
    * exact integer marginals; kappa's divisions are the only doubles.
    */
  private def kappaOracle: String = {
    val uTerms = (1 to 8).map { i =>
      s"""(ascii(substring(pri, $i, 1)) -
          CASE WHEN ascii(substring(pri, $i, 1)) >= 97 THEN 87 ELSE 48 END)
          / power(16.0, $i)"""
    }.mkString(" + ")
    s"""WITH lab AS (
         SELECT source, doc_id, n_chars >= 400 AS r1,
           md5('r2:' || CAST(doc_id AS VARCHAR)) AS pri
         FROM documents),
       flip AS (
         SELECT source, r1, r1 != (($uTerms) < 0.2e0) AS r2 FROM lab),
       agg AS (
         SELECT source, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN r1 = r2 THEN 1 ELSE 0 END) AS BIGINT) AS agree,
           CAST(sum(CASE WHEN r1 THEN 1 ELSE 0 END) AS BIGINT) AS a1,
           CAST(sum(CASE WHEN r2 THEN 1 ELSE 0 END) AS BIGINT) AS b1
         FROM flip GROUP BY source)
       SELECT source, n, agree,
         round((CAST(agree AS DOUBLE) / n
             - CAST(a1 * b1 + (n - a1) * (n - b1) AS DOUBLE) / CAST(n * n AS DOUBLE))
           / (1.0e0 - CAST(a1 * b1 + (n - a1) * (n - b1) AS DOUBLE)
               / CAST(n * n AS DOUBLE)), 6) AS kappa
       FROM agg ORDER BY source"""
  }

  /** DuckDB twin of q_media_phash: the 64-chunk average-hash re-derived
    * from the blob's unsigned-byte list (codec CTE), each bit an
    * integer-exact chunk-mean comparison; bit values are emitted as
    * power-of-two literals (bit 63 as -2^63 — disjoint bits sum without
    * carries, so + equals OR in two's complement), then the same
    * 4x16-bit band join and popcount verify.
    */
  private def mediaPhashOracle: String = {
    val bitTerms = (0 until 64).map { j =>
      val bit = if (j == 63) "-9223372036854775808" else (1L << j).toString
      s"""CASE WHEN ((${j + 1} * n) // 64 > ($j * n) // 64)
            AND coalesce(CAST(list_sum(ub[($j * n) // 64 + 1:((${j + 1}) * n) // 64]) AS BIGINT), 0) * n
                > tot * (((${j + 1}) * n) // 64 - ($j * n) // 64)
          THEN CAST($bit AS BIGINT) ELSE 0 END"""
    }.mkString(" + ")
    s"""WITH $fakeCodecCte,
       pmeta AS (
         SELECT doc_id, n, ub,
           coalesce(CAST(list_sum(ub) AS BIGINT), 0) AS tot
         FROM codec),
       ph AS (
         SELECT doc_id,
           CASE WHEN n = 0 THEN 0 ELSE ($bitTerms) END AS phash
         FROM pmeta),
       bands AS (
         SELECT doc_id, phash, bd, (phash >> CAST(16 * bd AS INT)) & 65535 AS key
         FROM ph, unnest(range(0, 4)) AS u(bd)),
       cand AS (
         SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
           x.phash AS pa, y.phash AS pb
         FROM bands x JOIN bands y
           ON x.bd = y.bd AND x.key = y.key AND x.doc_id < y.doc_id),
       ham AS (
         SELECT id_a, id_b, CAST(bit_count(xor(pa, pb)) AS BIGINT) AS hamming
         FROM cand),
       sym AS (
         SELECT id_a AS media_id, id_b AS nn_id, hamming FROM ham
         UNION ALL
         SELECT id_b AS media_id, id_a AS nn_id, hamming FROM ham),
       best AS (
         SELECT media_id, nn_id, hamming,
           row_number() OVER (
             PARTITION BY media_id ORDER BY hamming ASC, nn_id ASC) AS rk
         FROM sym)
       SELECT media_id, nn_id, hamming, hamming <= 3 AS is_dup
       FROM best WHERE rk = 1 ORDER BY media_id"""
  }

  /** DuckDB twin of q_ndcg: the shared BM25 ranked CTE cut at 10, the
    * same md5 relevance draw, exact CASE gains, and ln(r+1)/ln(2)
    * discounts grid-summed — the ideal ranking re-ranks the same 10-row
    * frame by (rel DESC, doc_id ASC) exactly as the Spark window does.
    */
  private def ndcgOracle: String = {
    val dcgTerm = "CAST(gain AS DOUBLE) / (ln(CAST(rk AS DOUBLE) + 1.0e0) / ln(2.0e0))"
    val idcgTerm = "CAST(gain AS DOUBLE) / (ln(CAST(irk AS DOUBLE) + 1.0e0) / ln(2.0e0))"
    s"""WITH $bm25RankedCte,
       lab AS (
         SELECT q_id, CAST(rk AS BIGINT) AS rk, doc_id,
           (strpos('0123456789abcdef',
              substring(md5('rel:' || CAST(q_id AS VARCHAR) || ':'
                || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 4 AS rel
         FROM ranked WHERE rk <= 10),
       g AS (
         SELECT q_id, rk, doc_id,
           CASE WHEN rel = 0 THEN 0 WHEN rel = 1 THEN 1
                WHEN rel = 2 THEN 3 ELSE 7 END AS gain,
           CAST(row_number() OVER (
             PARTITION BY q_id ORDER BY rel DESC, doc_id ASC) AS BIGINT) AS irk
         FROM lab)
       SELECT q_id,
         round(${GridSum.gridSumSql(dcgTerm)}, 6) AS dcg,
         round(${GridSum.gridSumSql(idcgTerm)}, 6) AS idcg,
         round((${GridSum.gridSumSql(dcgTerm)})
             / (${GridSum.gridSumSql(idcgTerm)}), 6) AS ndcg
       FROM g GROUP BY q_id ORDER BY q_id"""
  }

  /** DuckDB twin of q_kneser_ney: the same bigram type table, prefix
    * totals/fanout, continuation fanin, and distinct-type scalar, with
    * the discounted-plus-continuation probability written as the
    * IDENTICAL expression tree (left-associated, same casts) so both
    * engines produce the same doubles before the grid sum.
    */
  private def kneserNeyOracle: String = {
    val term = """ln((CAST(b.c12 AS DOUBLE) - 0.75e0) / p.c1f
      + 0.75e0 * p.nf / p.c1f * (CAST(f.nb AS DOUBLE) / t.n_bb))"""
    s"""WITH bgx AS (
         SELECT doc_id, a[i] || ' ' || a[i + 1] AS bg,
           a[i] AS w1, a[i + 1] AS w2
         FROM (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
              unnest(range(1, len(a))) AS u(i)
         WHERE len(a) >= 2),
       bc AS (
         SELECT bg, CAST(count(*) AS BIGINT) AS c12,
           min(w1) AS w1, min(w2) AS w2
         FROM bgx GROUP BY bg),
       pre AS (
         SELECT w1, CAST(sum(c12) AS BIGINT) AS c1f,
           CAST(count(*) AS BIGINT) AS nf
         FROM bc GROUP BY w1),
       suf AS (SELECT w2, CAST(count(*) AS BIGINT) AS nb FROM bc GROUP BY w2),
       nbb AS (SELECT CAST(count(*) AS BIGINT) AS n_bb FROM bc)
       SELECT s.doc_id, count(*) AS n_bigrams,
         round(${GridSum.gridSumSql("TERM")} / count(*), 6) AS avg_logp
       FROM bgx s
         JOIN bc b ON b.bg = s.bg
         JOIN pre p ON p.w1 = b.w1
         JOIN suf f ON f.w2 = b.w2, nbb t
       GROUP BY s.doc_id ORDER BY s.doc_id""".replace("TERM", term)
  }

  /** DuckDB twin of q_calibration: the same md5 16-adic uniform as
    * q_weighted_sample (exact in both engines), a pure-rational p
    * (clamp(n_chars/1000) — no libm anywhere in this query, so every
    * comparison and bin assignment is IEEE-deterministic), and the
    * grid-sum ECE over the 10-row bin frame.
    */
  private def calibrationOracle: String = {
    val uTerms = (1 to 8).map { i =>
      s"""(ascii(substring(pri, $i, 1)) -
          CASE WHEN ascii(substring(pri, $i, 1)) >= 97 THEN 87 ELSE 48 END)
          / power(16.0, $i)"""
    }.mkString(" + ")
    s"""WITH b AS (
         SELECT doc_id, n_chars,
           md5('cal:' || CAST(doc_id AS VARCHAR)) AS pri,
           least(0.95e0, greatest(0.05e0, CAST(n_chars AS DOUBLE) / 1000.0e0)) AS p
         FROM documents),
       lab AS (
         SELECT doc_id, p,
           CASE WHEN ($uTerms) < p THEN 1 ELSE 0 END AS y,
           least(9, CAST(floor(p * 10) AS BIGINT)) AS bin
         FROM b),
       bins AS (
         SELECT bin, count(*) AS n,
           CAST(sum(CAST(floor(p * 1.0e9 + 0.5e0) AS BIGINT)) AS BIGINT) AS gp,
           CAST(sum(y) AS BIGINT) AS pos
         FROM lab GROUP BY bin),
       e AS (
         SELECT round(${GridSum.gridSumSql(
          "abs(CAST(gp AS DOUBLE) / 1.0e9 / n - CAST(pos AS DOUBLE) / n) * n")}
           / sum(n), 6) AS ece
         FROM bins)
       SELECT bin, n,
         round(CAST(gp AS DOUBLE) / 1.0e9 / n, 6) AS mean_p,
         round(CAST(pos AS DOUBLE) / n, 6) AS rate,
         round(abs(CAST(gp AS DOUBLE) / 1.0e9 / n - CAST(pos AS DOUBLE) / n), 6) AS gap,
         ece
       FROM bins, e ORDER BY bin"""
  }

  /** DuckDB twin of q_weighted_sample's exact md5-derived uniform: the
    * same 8 hex-digit expansion sum(hv_i / 16^i) — every term and
    * partial sum is exact in binary floating point, so both engines
    * derive bit-identical u (power(16.0, i) is an exact power of two;
    * hv/2^k division is exact). ln() may differ from the JVM by an ulp
    * across libms, but u values are 2^-32-grained and well separated, so
    * the per-source top-5 selection is stable.
    */
  private def weightedSampleOracle: String = {
    val uTerms = (1 to 8).map { i =>
      s"""(ascii(substring(pri, $i, 1)) -
          CASE WHEN ascii(substring(pri, $i, 1)) >= 97 THEN 87 ELSE 48 END)
          / power(16.0, $i)"""
    }.mkString(" + ")
    s"""WITH b AS (
         SELECT doc_id, source, n_chars,
           md5('ws:' || CAST(doc_id AS VARCHAR)) AS pri
         FROM documents),
       k AS (
         SELECT doc_id, source, n_chars,
           ln($uTerms) / n_chars AS key
         FROM b),
       r AS (
         SELECT doc_id, source, n_chars,
           row_number() OVER (PARTITION BY source ORDER BY key DESC, doc_id) AS rk
         FROM k)
       SELECT doc_id, source, n_chars, rk FROM r WHERE rk <= 5 ORDER BY doc_id"""
  }
}
