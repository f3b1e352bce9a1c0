package graft

import graft.operators.GraphOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types.{DataType, DecimalType, IntegerType, LongType}

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  private def withGate[T](rows: Long)(body: => T): T = {
    spark.conf.set("graft.graph.localEdges", rows.toString)
    try body finally spark.conf.unset("graft.graph.localEdges")
  }

  /** Runs `body` with every graph operator forced onto its general arm. */
  private def withGeneralArm[T](body: => T): T = withGate(0L)(body)

  private def withIds(df: DataFrame, t: DataType): DataFrame =
    df.select(df.columns.map(c => col(c).cast(t)).toIndexedSeq: _*)

  /** For ids cast to Int, Long, the widest decimal the local arm takes
    * and one it refuses: both arms give the same rows (repeats counted),
    * and `idCol` comes out at the input type.
    */
  private def bothArms(idCol: String)(op: DataType => DataFrame): Unit =
    for (t <- Seq(IntegerType, LongType, DecimalType(18, 0), DecimalType(20, 0))) {
      def arm(): (DataType, Seq[String]) = {
        val df = op(t)
        (df.schema(idCol).dataType, df.collect().map(_.toString).sorted.toSeq)
      }
      val fast = arm()
      assert(fast == withGeneralArm(arm()), s"$t")
      assert(fast._1 == t, s"$t")
    }

  test("connected components: chain, triangle, isolated pair -> min-id labels") {
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), // chain
      (10L, 11L), (10L, 12L), (11L, 12L), // triangle
      (20L, 21L)) // isolated pair
      .toDF("src", "dst")
    val cc = GraphOps.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("pointer jumping: a 64-node path converges in far fewer rounds than its diameter") {
    val edges = (0L until 63L).map(i => (i, i + 1)).toDF("src", "dst")
    // plain min-label propagation would need ~63 rounds; with comp :=
    // comp(comp) each round the reach doubles — 12 rounds is ample
    val cc = GraphOps.connectedComponents(edges, maxIter = 12)
      .as[(Long, Long)].collect()
    assert(cc.length == 64)
    assert(cc.forall(_._2 == 0L))
  }

  test("edge direction and duplicate edges don't matter") {
    val edges = Seq((5L, 3L), (3L, 5L), (9L, 3L), (9L, 3L)).toDF("a", "b")
    val cc = GraphOps.connectedComponents(edges).as[(Long, Long)].collect().toMap
    assert(cc == Map(3L -> 3L, 5L -> 3L, 9L -> 3L))
  }

  test("labelPropagation: two bridged cliques resolve to their min labels; isolated keeps its own") {
    // K4 on {1..4}, K4 on {11..14}, one bridge 4-11, isolated node 99.
    // Hand-simulated: round 1 spreads mins locally, round 2 settles the
    // cliques, round 3 is stable — bridge endpoints stay with their own
    // clique (3 same-clique neighbors outvote the 1 bridge label).
    val cliques = for {
      base <- Seq(1L, 11L); a <- 0L to 3L; b <- 0L to 3L if a < b
    } yield (base + a, base + b)
    val und = (cliques :+ (4L, 11L)).flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val nodes = ((1L to 4L) ++ (11L to 14L) :+ 99L).toDF("id")
    val labels = GraphOps.labelPropagation(nodes, und.toDF("src", "dst"), iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(labels == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      11L -> 11L, 12L -> 11L, 13L -> 11L, 14L -> 11L,
      99L -> 99L))
  }

  test("labelPropagation single-task fast path matches the iterative path exactly") {
    // r21 fast path: force the gate to 0 to run the SAME graph through
    // the iterative rounds and pin label-for-label equality. The graph
    // mixes the shapes that stress the semantics: bridged cliques
    // (frequency argmax), a tie (two equal-frequency neighbor labels →
    // smallest wins), a node with no in-edges (keeps its label), an
    // edge whose src is OUTSIDE the node set (contributes nothing), and
    // an edge whose dst is outside (dropped from the output).
    val und = (for {
      base <- Seq(1L, 11L); a <- 0L to 3L; b <- 0L to 3L if a < b
    } yield (base + a, base + b)).flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val edges = (und ++ Seq((4L, 11L), (11L, 4L),
      (50L, 51L), (52L, 51L), // tie at 51: labels 50 vs 52, 50 wins
      (999L, 1L), // src outside the node set
      (2L, 888L)) // dst outside the node set
      ).toDF("src", "dst")
    val nodes = ((1L to 4L) ++ (11L to 14L) ++ Seq(50L, 51L, 52L, 99L)).toDF("id")
    val fast = GraphOps.labelPropagation(nodes, edges, iters = 3)
      .as[(Long, Long)].collect().toMap
    withGeneralArm {
      val iterative = GraphOps.labelPropagation(nodes, edges, iters = 3)
        .as[(Long, Long)].collect().toMap
      assert(fast == iterative)
    }
    assert(fast(51L) == 50L && fast(99L) == 99L && !fast.contains(888L))
    // a repeated node id counts once per copy toward its neighbours'
    // label frequencies and comes out once per copy: 52 twice outvotes
    // 50 at 51
    val repeated = nodes.union(Seq(52L).toDF("id"))
    // a null id matches no join: a null node keeps its null label and an
    // edge row with a null endpoint carries no label
    val nullNode = nodes.union(Seq(Option.empty[Long]).toDF("id"))
    val nullEnds = edges.union(Seq[(Option[Long], Option[Long])](
      (None, Some(51L)), (Some(50L), None)).toDF("src", "dst"))
    for ((ns, es) <- Seq((nodes, edges), (repeated, edges), (nullNode, nullEnds)))
      bothArms("id") { t =>
        GraphOps.labelPropagation(withIds(ns, t), withIds(es, t), iters = 3)
      }
  }

  test("pageRank single-task fast path matches the iterative path bit for bit") {
    // r21 fast path: the in-task loop replays the quantized-BIGINT
    // arithmetic op for op, so ranks must be IDENTICAL doubles. Star +
    // chain + dangling mass + an isolated vertex + edges with endpoints
    // outside the vertex set (src outside: contributes nothing; dst
    // outside: mass leaks but still divides src's out-degree).
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), // star out of 1
      (2L, 1L), (3L, 1L), // back-edges
      (4L, 5L), (5L, 6L), // chain into dangling 6
      (7L, 1L), // src 7 outside the vertex set
      (3L, 77L)) // dst 77 outside the vertex set
      .toDF("src", "dst")
    val verts = (1L to 6L).toDF("id") // 99 isolated? keep 1..6
    val fast = GraphOps.pageRank(verts, edges, iters = 3)
      .as[(Long, Double)].collect().toMap
    withGeneralArm {
      val iterative = GraphOps.pageRank(verts, edges, iters = 3)
        .as[(Long, Double)].collect().toMap
      assert(fast == iterative) // exact double equality — same op chain
    }
    assert(!fast.contains(77L) && !fast.contains(7L))
    // a repeated vertex id contributes once per copy and comes out once
    // per copy, as in the loop's joins
    val repeated = verts.union(Seq(1L).toDF("id"))
    // a null id matches no join: a null vertex keeps the teleport rank, and
    // an edge row with a null dst still divides its src's mass
    val nullVertex = verts.union(Seq(Option.empty[Long]).toDF("id"))
    val nullEnds = edges.union(Seq[(Option[Long], Option[Long])](
      (None, Some(2L)), (Some(1L), None)).toDF("src", "dst"))
    for ((vs, es) <- Seq((verts, edges), (repeated, edges), (nullVertex, nullEnds)))
      bothArms("id") { t =>
        GraphOps.pageRank(withIds(vs, t), withIds(es, t), iters = 3)
      }
    // edges within the gate, vertices over it: the local probe hands its
    // vertex checkpoint and count to the iterative arm
    val triangle = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val isolated = (1L to 40L).toDF("id")
    def ranks() = GraphOps.pageRank(isolated, triangle, iters = 3)
      .as[(Long, Double)].collect().toMap
    assert(withGate(10L)(ranks()) == withGeneralArm(ranks()))
  }

  test("bfsLevels: path distances, depth cap, early stop, unreachable excluded") {
    // path 0-1-2-3, a branch 1-5, isolated pair 8-9 (unreachable from 0)
    val es = Seq((0L, 1L), (1L, 2L), (2L, 3L), (1L, 5L), (8L, 9L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val full = GraphOps.bfsLevels(es.toDF("src", "dst"), source = 0L)
      .as[(Long, Long)].collect().toMap
    assert(full == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 5L -> 2L, 3L -> 3L))
    // depth cap truncates the wave
    val capped = GraphOps.bfsLevels(es.toDF("src", "dst"), 0L, maxDepth = 1)
      .as[(Long, Long)].collect().toMap
    assert(capped == Map(0L -> 0L, 1L -> 1L))
    // early stop: a dead wave well before maxDepth still terminates
    val iso = GraphOps.bfsLevels(es.toDF("src", "dst"), 8L, maxDepth = 6)
      .as[(Long, Long)].collect().toMap
    assert(iso == Map(8L -> 0L, 9L -> 1L))
  }

  test("kCore: 2-core strips a pendant chain, keeps the cycle; deep peel cascades") {
    // triangle with a tail 3-4-5: peeling 5 (deg 1) exposes 4, then 3
    // stays (in the triangle) — the 2-core is exactly the triangle
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
      .toDF("u", "v")
    val core = GraphOps.kCore(edges, k = 2)
      .as[(Long, Long)].collect().toMap
    assert(core == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // a pure path has an EMPTY 2-core (every peel round exposes new
    // leaves — the cascade needs length/2 rounds, exercising the loop)
    val path = (0L until 10L).map(i => (i, i + 1)).toDF("u", "v")
    assert(GraphOps.kCore(path, k = 2).isEmpty)
    // K4 survives k=3 intact with degree 3 everywhere
    val k4 = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L))
      .toDF("u", "v")
    val c3 = GraphOps.kCore(k4, k = 3).as[(Long, Long)].collect().toMap
    assert(c3 == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
  }

  test("kCore: >60-vertex pendant chain converges within the cap; past it the guard raises") {
    // a 61-vertex path (60 edges) peels 2 edges per round — exactly 30
    // rounds, the default maxIter: must converge to the empty 2-core,
    // not silently return leftovers
    val path60 = (0L until 60L).map(i => (i, i + 1)).toDF("u", "v")
    assert(GraphOps.kCore(path60, k = 2).isEmpty)
    // one round short of the needed depth: the unconverged exit must
    // RAISE (a silent superset is a wrong answer), naming maxIter —
    // an ITERATIVE-path property, so force past the r21 single-task
    // fast path (which is exact and never raises)
    withGeneralArm {
      val ex = intercept[IllegalStateException] {
        GraphOps.kCore(path60, k = 2, maxIter = 29).count()
      }
      assert(ex.getMessage.contains("maxIter"))
    }
  }

  test("kCore single-task peel matches the iterative path exactly") {
    // triangle+tail, K4, a long cascade path, and both-direction dup
    // rows (the loop double-counts those in its union-based degree —
    // the fast path must reproduce that multigraph counting)
    val edges = (Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L)) ++
      Seq((10L, 11L), (10L, 12L), (10L, 13L), (11L, 12L), (11L, 13L), (12L, 13L)) ++
      (20L until 30L).map(i => (i, i + 1)) ++
      Seq((40L, 41L), (41L, 40L))).toDF("u", "v")
    for (k <- 1 to 3) {
      val fast = GraphOps.kCore(edges, k = k).as[(Long, Long)].collect().toMap
      withGeneralArm {
        val iterative = GraphOps.kCore(edges, k = k).as[(Long, Long)].collect().toMap
        assert(fast == iterative, s"k=$k")
      }
    }
    bothArms("id")(t => GraphOps.kCore(withIds(edges, t), k = 2))
  }

  test("q_kcore's driver graph converges well inside the oracle's 30-round unroll") {
    // The registered q_kcore's DuckDB oracle unrolls EXACTLY 30 peel
    // rounds (kcoreOracle), matching the operator's default maxIter —
    // the operator raises past 30, so a deeper-than-30 graph can't
    // silently diverge. What COULD slip through a testdata regen is a
    // graph needing (12, 30] rounds with a later oracle edit that
    // shortens the unroll. Guard: the exact pairs frame the registered
    // query builds must converge within 12 rounds (measured 6 across
    // SFs), keeping a wide margin to the unroll depth. kCore with
    // maxIter=12 RAISES if convergence needs more — a regen that
    // deepens peeling fails here before it can reach the oracle.
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val li = Tables(spark, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
      val pairs = li.as("x").join(li.as("y"), Seq("ok"))
        .filter(col("x.pk") < col("y.pk"))
        .groupBy(col("x.pk").as("u"), col("y.pk").as("v"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
        .select("u", "v")
      // force the iterative path: the 12-round-margin canary measures
      // CONVERGENCE DEPTH, which the exact fast path would mask
      withGeneralArm(assert(GraphOps.kCore(pairs, k = 2, maxIter = 12).count() > 0, dir))
    }
  }

  test("triangle count: K4, path, and dirty input normalize correctly") {
    // K4 has C(4,3) = 4 triangles; a path has none; duplicate /
    // reversed edges and self-loops must not change the answer.
    val k4 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    val noisy = (k4 ++ k4.map(_.swap) ++ Seq((0L, 0L), (2L, 2L)) ++
      Seq((10L, 11L), (11L, 12L), (12L, 13L))).toDF("u", "v")
    val row = GraphOps.triangleCount(noisy).collect().head
    assert(row.getAs[Long]("n_nodes") == 8)
    assert(row.getAs[Long]("n_edges") == 6 + 3)
    assert(row.getAs[Long]("n_triangles") == 4)
  }

  test("triangle count is identical with the wedge bloom disabled (size-budget fallback)") {
    // a 0-byte budget can never fit the filter, so the prefilter is
    // skipped and the full wedge set reaches the exact closing join —
    // both paths must agree exactly (the bloom is an optimization, not
    // a semantics change)
    val rnd = new scala.util.Random(7)
    val edges = Seq.tabulate(300)(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .toDF("u", "v")
    // gate 0 forces the DISTRIBUTED wedge machinery on both sides —
    // otherwise the r21 single-task fast path would bypass the bloom
    // entirely and this test would pin nothing
    val (withBloom, noBloom) = withGeneralArm {
      (GraphOps.triangleCount(edges).collect().head,
        GraphOps.triangleCount(edges, maxBloomBytes = 0L).collect().head)
    }
    assert(withBloom.getAs[Long]("n_triangles") == noBloom.getAs[Long]("n_triangles"))
    assert(withBloom.getAs[Long]("n_edges") == noBloom.getAs[Long]("n_edges"))
    assert(noBloom.getAs[Long]("n_triangles") > 0L)
    // the prose claim "~1.2 GB per 1e9 edges" is the formula, not lore
    val gb = GraphOps.bloomBytes(1000000000L, 0.01).toDouble / (1L << 30)
    assert(gb > 1.0 && gb < 1.3, s"bloomBytes(1e9, 0.01) = $gb GiB")
  }

  test("triangle count matches a brute-force oracle on a random graph") {
    val rnd = new scala.util.Random(11)
    val n = 40
    val edges = (for {
      i <- 0 until n; j <- (i + 1) until n
      if rnd.nextDouble() < 0.15
    } yield (i.toLong, j.toLong))
    val adj = edges.toSet
    def has(a: Long, b: Long) = adj.contains((a min b, a max b))
    val expected = (for {
      a <- 0L until n.toLong; b <- (a + 1) until n.toLong; c <- (b + 1) until n.toLong
      if has(a, b) && has(b, c) && has(a, c)
    } yield 1).size.toLong
    val row = GraphOps.triangleCount(edges.toDF("u", "v")).collect().head
    assert(row.getAs[Long]("n_triangles") == expected)
    assert(row.getAs[Long]("n_edges") == edges.size.toLong)
  }

  test("triangle single-task fast path matches the distributed path row for row") {
    // r21 fast path: force the gate to 0 to run the SAME graphs through
    // the distributed orientation/wedge/bloom machinery and pin both
    // the scalar counts and the per-node triangle charges (the latter
    // exercises the full (src, x, y) triangle-row set through
    // clusteringCoefficients, so a wrong orientation or a double-
    // counted triangle flips it)
    val rnd = new scala.util.Random(41)
    val edges = (Seq.tabulate(400)(_ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)) ++
      Seq((100L, 101L), (101L, 102L), (100L, 102L))) // guaranteed triangle
      .toDF("u", "v")
    val fastTri = GraphOps.triangleCount(edges).collect().head
    val fastCc = GraphOps.clusteringCoefficients(edges).collect()
      .map(r => r.getAs[Long]("n") -> ((r.getAs[Long]("d"),
        r.getAs[Long]("t"), r.getAs[Double]("cc")))).toMap
    withGeneralArm {
      val distTri = GraphOps.triangleCount(edges).collect().head
      assert(fastTri == distTri)
      val distCc = GraphOps.clusteringCoefficients(edges).collect()
        .map(r => r.getAs[Long]("n") -> ((r.getAs[Long]("d"),
          r.getAs[Long]("t"), r.getAs[Double]("cc")))).toMap
      assert(fastCc == distCc)
    }
    assert(fastTri.getAs[Long]("n_triangles") > 0L)
    bothArms("n")(t => GraphOps.clusteringCoefficients(withIds(edges, t)))
  }

  test("clustering coefficients match a brute-force oracle on a random graph") {
    val rnd = new scala.util.Random(23)
    val n = 30
    val edges = (for {
      i <- 0 until n; j <- (i + 1) until n
      if rnd.nextDouble() < 0.2
    } yield (i.toLong, j.toLong))
    val adj = edges.toSet
    def has(a: Long, b: Long) = adj.contains((a min b, a max b))
    val nbrs = (0L until n.toLong)
      .map(v => v -> (0L until n.toLong).filter(u => u != v && has(u, v))).toMap
    val got = GraphOps.clusteringCoefficients(edges.toDF("u", "v"))
      .collect().map(r => r.getAs[Long]("n") ->
        ((r.getAs[Long]("d"), r.getAs[Long]("t"), r.getAs[Double]("cc")))).toMap
    for ((v, ns) <- nbrs if ns.nonEmpty) {
      val t = (for (a <- ns; b <- ns if a < b && has(a, b)) yield 1).size.toLong
      val d = ns.size.toLong
      val cc = if (d < 2) 0.0 else 2.0 * t / (d * (d - 1))
      assert(got(v) == ((d, t, cc)), s"vertex $v")
    }
  }

  test("random graphs match a driver-side union-find oracle") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val nNodes = 40 + trial * 20
      val edges = Seq.fill(nNodes / 2)((rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
        .filter { case (a, b) => a != b }
      // union-find oracle
      val parent = Array.tabulate(nNodes)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val touched = edges.flatMap { case (a, b) => Seq(a, b) }.toSet
      val expected = touched.map(id => id -> {
        // min id of the component = fully-compressed root (parents always
        // point to smaller ids, so the root IS the minimum)
        find(id.toInt).toLong
      }).toMap
      val got = GraphOps.connectedComponents(edges.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      assert(got == expected, s"trial $trial")
    }
  }

  test("single-task union-find fast path matches the iterative path exactly") {
    // the r21 fast path handles any graph under the edge gate; force the
    // gate to 0 to run the SAME graph through the iterative loop and pin
    // label-for-label equality (chain + clique + dup/reversed edges +
    // isolated pair exercises multi-round convergence shapes)
    val edges = (Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), // chain
      (10L, 11L), (10L, 12L), (11L, 12L), (12L, 10L), // triangle + dup
      (20L, 21L), (21L, 20L), // reversed pair
      (30L, 30L)) // self-loop (dropped)
      ).toDF("src", "dst")
    val fast = GraphOps.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    withGeneralArm {
      val iterative = GraphOps.connectedComponents(edges)
        .as[(Long, Long)].collect().toMap
      assert(fast == iterative)
    }
    assert(fast(6L) == 1L && fast(12L) == 10L && fast(21L) == 20L)
    assert(!fast.contains(30L))
    bothArms("id")(t => GraphOps.connectedComponents(withIds(edges, t)))
  }

  test("string ids (fingerprint keys) take the join-diff convergence path and still converge") {
    // a 6-node path of string ids — forces multiple rounds; the decimal
    // label-sum shortcut would see null sums and stop after round 1
    val ids = "abcdef".map(c => s"fp_$c")
    val edges = ids.sliding(2).map(p => (p(0), p(1))).toSeq.toDF("src", "dst")
    val cc = GraphOps.connectedComponents(edges).as[(String, String)].collect()
    assert(cc.length == 6)
    assert(cc.forall(_._2 == "fp_a"))
  }

  test("fractional (double) ids take the join-diff path and converge exactly") {
    // sub-unit label gaps would vanish under a DecimalType(38,0) cast, so
    // the label-sum shortcut must not be used for fractional id types; a
    // path graph of 0.1-spaced doubles forces multiple propagation rounds
    val ids = (0 to 5).map(_ * 0.1)
    val edges = ids.sliding(2).map(p => (p(0), p(1))).toSeq.toDF("src", "dst")
    val cc = GraphOps.connectedComponents(edges).as[(Double, Double)].collect()
    assert(cc.length == 6)
    assert(cc.forall(_._2 == 0.0))
  }

  test("empty and self-loop-only edge lists yield an empty labeling") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(GraphOps.connectedComponents(empty).isEmpty)
    val loops = Seq((4L, 4L), (9L, 9L)).toDF("src", "dst")
    assert(GraphOps.connectedComponents(loops).isEmpty)
  }

  test("pageRank: star center outranks leaves; isolated vertex keeps teleport; mass conserved on closed graphs") {
    // star 1<->{2,3,4} (undirected: both directions), vertex 9 isolated
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L))
    val edges = (star ++ star.map(_.swap)).toDF("src", "dst")
    val verts = Seq(1L, 2L, 3L, 4L, 9L).toDF("id")
    val pr = GraphOps.pageRank(verts, edges, iters = 10)
      .as[(Long, Double)].collect().toMap
    val teleport = (1.0 - 0.85) / 5
    assert(math.abs(pr(9L) - teleport) < 1e-12) // no in-edges: teleport only
    assert(pr(1L) > pr(2L) && pr(2L) > pr(9L)) // center > leaf > isolated
    assert(math.abs(pr(2L) - pr(3L)) < 1e-15 && math.abs(pr(3L) - pr(4L)) < 1e-15)
    // the star subgraph is closed (every vertex has out-edges except 9,
    // which also has no in-edges) — rank leaks only via 9's dangling
    // teleport share, so the star's total stays near 4/5 + its share
    val starMass = pr(1L) + pr(2L) + pr(3L) + pr(4L)
    assert(starMass > 0.75 && starMass < 1.0)
  }

  test("dupClusters keys clusters by min doc id, extra pair columns ignored") {
    val pairs = Seq((5L, 3L, 0.9), (3L, 9L, 0.8), (100L, 101L, 0.7))
      .toDF("id_a", "id_b", "jaccard")
    val m = GraphOps.dupClusters(pairs).as[(Long, Long)].collect().toMap
    assert(m == Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 100L -> 100L, 101L -> 100L))
  }
}
