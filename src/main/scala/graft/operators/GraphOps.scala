package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, DecimalType, DoubleType, IntegerType,
  LongType, ShortType, StructField, StructType}

import scala.collection.mutable.ArrayBuilder

/** Distributed graph primitives needed by training-data pipelines —
  * chiefly connected components, which turns near-duplicate PAIRS (from
  * MinHash/SimHash/n-gram Jaccard candidate generation, DedupOps) into
  * duplicate CLUSTERS so "keep one document per cluster" is well-defined
  * even when duplicates chain (a~b, b~c but not a~c).
  *
  * Scale design: the iterative driver loop runs a fixed small number of
  * rounds; every round is three narrow shuffles (neighbor join, min agg,
  * pointer-jump join) over (id, label) rows — no adjacency
  * materialization beyond the edge list, no driver-side graph. Pointer jumping (comp := comp(comp)) makes
  * label convergence logarithmic in component diameter, so even
  * pathological chain-shaped duplicate clusters converge in ~log2(n)
  * rounds, the same bound as the large-star/small-star MapReduce
  * algorithm (Kiveris et al., "Connected Components in MapReduce and
  * Beyond"). `localCheckpoint` after each round truncates lineage —
  * without it the plan doubles per iteration and Catalyst re-optimizes
  * an exponentially growing tree.
  *
  * Single-task arm: connected components, kCore, label propagation,
  * triangle enumeration and PageRank each run in ONE task over an
  * interned in-memory graph ([[LocalGraph]]) when the graph is small.
  * On such graphs the iterative loops are per-job fixed cost: the sf0.1
  * near-dup graph's ~20 CC jobs carried under 0.5 s of task work inside
  * ~2 s. The gate is one conf key, `graft.graph.localEdges` (default
  * 2000000), compared with the edge-row count each operator already
  * takes (PageRank also compares its vertex-row count). It bounds the
  * task's memory: 2M edges are ~130 MB of rows plus a few int/long
  * arrays per edge, well inside one task's execution memory. Above it
  * the distributed arm runs unchanged; `GraphOpsSpec` pins each local
  * arm equal to it with the gate forced to 0. Ids must be Byte, Short,
  * Int, Long or DecimalType(p ≤ 18, 0): they are interned as longs, whose
  * order is Spark's order for those types (strings differ: UTF-8 binary
  * vs UTF-16 code units), and come back out at their input type. Other
  * id types take the distributed arm at any size.
  */
object GraphOps {

  /** Connected components of an undirected graph given as an edge list.
    *
    * @param edges any DataFrame whose FIRST TWO columns are the edge
    *              endpoints (any orderable, nullable-free type; ids of
    *              one component must be mutually comparable).
    * @return (id, comp) — every vertex mapped to the minimum vertex id
    *         of its component (a canonical, deterministic cluster key).
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25): DataFrame = {
    val u = edges.columns(0)
    val v = edges.columns(1)
    // Checkpoint the raw edge list BEFORE symmetrizing: the input is
    // typically an expensive subtree (an LSH/Jaccard pair pipeline), and
    // union(e, e.swap) would otherwise embed that subtree twice in the
    // plan. After the checkpoint, the union reads materialized rows.
    val eRaw = edges.select(col(u).as("u"), col(v).as("v"))
      .filter(col("u") =!= col("v")).localCheckpoint()
    // Size-adaptive layout (r20): the iteration frames are (id, label)
    // pairs — for near-dup graphs a few thousand rows — but they inherit
    // the edge BUILD's fan-out (its checkpoint keeps the producing
    // stage's partition count), and per-task fixed costs (shuffle-writer
    // setup, codec buffers — measured ~100 ms/task on this box) then
    // dominate every round's map stages. One scalar count on the
    // materialized checkpoint picks a partition count proportional to
    // the data (~128k edge rows per task, capped at the session's
    // cores); the coalesce is NARROW (no shuffle — it only concatenates
    // already-materialized local blocks). At scale the count lands at
    // the core cap and the layout is unchanged.
    val m = eRaw.count()
    // Local arm: union-find is exact, so the minimum id per component
    // equals the CONVERGED iterative labels.
    val idType = eRaw.schema("u").dataType
    if (LocalGraph.integral(idType) && LocalGraph.fits(edges.sparkSession, m)) {
      val out = StructType(Seq(StructField("id", idType), StructField("comp", idType)))
      return LocalGraph.run(out, eRaw) { g =>
        val parent = Array.range(0, g.n)
        def find(x0: Int): Int = {
          var x = x0
          while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
          x
        }
        var i = 0
        while (i < g.from.length) {
          val ra = find(g.from(i))
          val rb = find(g.to(i))
          if (ra != rb) parent(rb) = ra
          i += 1
        }
        val minv = Array.fill(g.n)(-1) // per root: the vertex with the least id
        i = 0
        while (i < g.n) {
          val r = find(i)
          if (minv(r) < 0 || g.key(i) < g.key(minv(r))) minv(r) = i
          i += 1
        }
        Iterator.range(0, g.n).map(x => Row(g.id(x), g.id(minv(find(x)))))
      }.localCheckpoint()
    }
    val targetParts = math.min(
      edges.sparkSession.sparkContext.defaultParallelism.toLong,
      1L + m / 131072L).toInt
    val e = if (eRaw.rdd.getNumPartitions > targetParts)
      eRaw.coalesce(targetParts) else eRaw
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      .distinct().localCheckpoint()
    // Initialization IS the first propagation round: min over self and
    // all neighbors comes straight off the symmetrized edge list in one
    // aggregate — for clique-shaped duplicate clusters (the common case)
    // labels are already final and the loop exits after one
    // no-change round.
    var labels = sym.groupBy(col("u"))
      .agg(min(least(col("u"), col("v"))).as("comp"))
      .withColumnRenamed("u", "id").localCheckpoint()
    // Convergence detection: per-vertex labels are monotonically
    // non-increasing (min over self+neighbors, then a jump to an equal or
    // smaller label), so for INTEGRAL ids the exact decimal label total
    // strictly decreases until the fixpoint — comparing one scalar per
    // round replaces a join-and-diff of old vs new labels (one fewer
    // shuffle per round). The shortcut is gated on integral types only:
    // fractional ids (Double/Float/scaled Decimal) would round under the
    // DecimalType(38,0) cast, so a sub-unit label change could leave the
    // sum unchanged and declare convergence early. Those — and string
    // fingerprints — take the exact join-and-diff path instead.
    val numericIds = LocalGraph.integral(labels.schema("comp").dataType, fitsLong = false)
    def labelSum(df: DataFrame): Option[java.math.BigDecimal] =
      Option(df.agg(sum(col("comp").cast(DecimalType(38, 0)))).head().getDecimal(0))
    def unchanged(next: DataFrame, prev: DataFrame): Boolean =
      next.join(prev.withColumnRenamed("comp", "comp_old"), "id")
        .filter(col("comp") =!= col("comp_old")).isEmpty
    var prevSum = if (numericIds) labelSum(labels) else None
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      // each vertex takes the min label over itself and its neighbors
      val viaNbr = sym
        .join(labels.select(col("id").as("v"), col("comp")), "v")
        .select(col("u").as("id"), col("comp"))
      val minned = labels.union(viaNbr)
        .groupBy("id").agg(min("comp").as("comp"))
      // pointer jumping: comp := comp(comp) — labels propagate through
      // labels, halving remaining path length every round. (r20 measured
      // note: a 3-fold jump composition per round was tried and REVERTED
      // — it does cut rounds on a synthetic 256-chain (5 vs ~9) but the
      // real near-dup graph converged in 6 rounds either way, so the two
      // extra joins per round bought nothing here.)
      val jumped = minned
        .join(minned.select(col("id").as("comp"), col("comp").as("comp2")),
          Seq("comp"), "left")
        .select(col("id"), coalesce(col("comp2"), col("comp")).as("comp"))
      val next = jumped.localCheckpoint()
      if (numericIds) {
        val s = labelSum(next)
        // a null sum (decimal overflow near the 38-digit cap) carries no
        // information — None == None must NOT read as converged; fall
        // back to the exact join-and-diff for such rounds
        done = (s, prevSum) match {
          case (Some(a), Some(b)) => a == b
          case _ => unchanged(next, labels)
        }
        prevSum = s
      } else {
        done = unchanged(next, labels)
      }
      labels = next
      iter += 1
    }
    labels
  }

  /** k-core subgraph by iterative peeling: repeatedly delete every
    * vertex with degree < k (and its edges) until no vertex falls below
    * k — the standard cohesion filter (a 2-core strips trees and
    * pendant chains; higher k isolates densely-knit groups). Returns
    * the surviving vertices with their within-core degree.
    *
    * Peeling is monotone (degrees only drop as vertices leave), so the
    * fixpoint is unique and rounds PAST the fixpoint are no-ops — which
    * is what lets a fixed-unroll oracle reproduce the converged answer.
    * Convergence is probed with one scalar edge-count per round (the
    * connectedComponents discipline: a count beats a join-and-diff by a
    * shuffle), each round's survivor edge list is localCheckpoint'd so
    * the lineage stays one round deep, and every exchange after the
    * first carries the (shrinking) edge list, never the source scan.
    */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 30): DataFrame = {
    val cu = edges.columns(0)
    val cv = edges.columns(1)
    var e = edges.select(col(cu).as("u"), col(cv).as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint()
    var m = e.count()
    // Local arm: the k-core is the maximal subgraph of min degree ≥ k, so
    // peel order cannot change it, and counting each distinct row toward
    // both endpoints matches the loop's union-based multigraph degree.
    val idType = e.schema("u").dataType
    if (LocalGraph.integral(idType) && LocalGraph.fits(edges.sparkSession, m)) {
      val out = StructType(Seq(StructField("id", idType),
        StructField("core_degree", LongType, nullable = false)))
      return LocalGraph.run(out, e) { g =>
        val (off, nbr) = LocalGraph.csr(g.n, g.from ++ g.to, g.to ++ g.from)
        val deg = Array.tabulate(g.n)(v => off(v + 1) - off(v))
        val removed = new Array[Boolean](g.n)
        // a vertex is queued once: when its degree starts below k or
        // drops to exactly k - 1
        val queue = new Array[Int](g.n)
        var qn = 0
        var v = 0
        while (v < g.n) { if (deg(v) < k) { queue(qn) = v; qn += 1 }; v += 1 }
        while (qn > 0) {
          qn -= 1
          val x = queue(qn)
          removed(x) = true
          var j = off(x)
          while (j < off(x + 1)) {
            val y = nbr(j)
            if (!removed(y)) {
              deg(y) -= 1
              if (deg(y) == k - 1) { queue(qn) = y; qn += 1 }
            }
            j += 1
          }
        }
        Iterator.range(0, g.n).filter(!removed(_)).map(v => Row(g.id(v), deg(v).toLong))
      }.localCheckpoint()
    }
    var done = m == 0L
    var iter = 0
    while (!done && iter < maxIter) {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val keep = sym.groupBy("u").agg(count(lit(1)).as("d"))
        .filter(col("d") >= k)
      val e2 = e.join(keep.select(col("u")), Seq("u"), "left_semi")
        .join(keep.select(col("u").as("v")), Seq("v"), "left_semi")
        .select("u", "v").localCheckpoint()
      val m2 = e2.count()
      done = m2 == m || m2 == 0L
      e = e2
      m = m2
      iter += 1
    }
    // An unconverged exit would silently return a SUPERSET of the core
    // (vertices still peelable) — fail loudly instead; extreme peel
    // depths (a 2k-vertex pendant chain) are a maxIter choice the
    // caller must make consciously, not a wrong answer.
    if (!done) throw new IllegalStateException(
      s"kCore(k=$k) did not converge within $maxIter peel rounds " +
        s"($m edges still shrinking); raise maxIter")
    e.union(e.select(col("v").as("u"), col("u").as("v")))
      .groupBy("u").agg(count(lit(1)).as("core_degree"))
      .select(col("u").as("id"), col("core_degree"))
  }

  /** Synchronous label propagation (community detection): every node
    * starts as its own label; each round, a node adopts the most
    * frequent label among its in-neighbors, ties broken by the SMALLEST
    * label, isolated nodes (or nodes whose neighbors all lack labels
    * this round) keep their current label. Fully deterministic — unlike
    * the textbook randomized-order LPA — so the result is
    * oracle-checkable and stable across reruns and cluster layouts.
    *
    * Scale design: each round is edge-keyed — one join of the edge list
    * with the label frame (both shuffle on node ids), one
    * (node, label) count aggregate, and a per-node arg-max window whose
    * rank-1 filter plans as WindowGroupLimit (map-side top-1, so the
    * exchange carries one row per (node, distinct neighbor label), not
    * the neighbor multiset). Per-round localCheckpoint caps lineage
    * exactly like [[pageRank]]; nothing corpus-sized ever reaches the
    * driver.
    *
    * @param nodes single-column frame of ALL node ids (labels are kept
    *              for isolated nodes too).
    * @param edges first two columns = directed src,dst; pass both
    *              directions for an undirected graph.
    */
  def labelPropagation(nodes: DataFrame, edges: DataFrame, iters: Int = 3): DataFrame = {
    val idCol = nodes.columns(0)
    // Checkpoint the edge list before anything else (the
    // connectedComponents discipline): every round joins it, so an
    // expensive caller subtree would otherwise re-run `iters` times —
    // and the count that materialization makes cheap gates the r21
    // single-task fast path below.
    val e = edges.select(col(edges.columns(0)).as("src"),
      col(edges.columns(1)).as("dst")).localCheckpoint()
    val mE = e.count()
    // Local arm: the same synchronous rounds over in-neighbour lists —
    // argmax neighbour-label count, ties to the SMALLEST label, nodes
    // without labelled in-neighbours keep their label, every edge row
    // counted. The loop keeps repeated node rows: a repeated id joins its
    // out-edges once per copy and comes out once per copy.
    val idType = nodes.schema(idCol).dataType
    if (LocalGraph.integral(idType) && e.schema("src").dataType == idType &&
        e.schema("dst").dataType == idType && LocalGraph.fits(edges.sparkSession, mE)) {
      val out = StructType(Seq(StructField("id", idType), StructField("label", idType)))
      val nodesCk = nodes.select(col(idCol).as("id")).localCheckpoint()
      return LocalGraph.run(out, e, Some(nodesCk)) { g =>
        val copies = g.copies
        // an edge with an endpoint outside the node frame never carries a
        // label: the loop's join drops its src, its final left join its dst
        val inside = g.inside
        val (off, inNbr) = LocalGraph.csr(g.n, inside.map(g.to), inside.map(g.from))
        var label = Array.range(0, g.n) // a label is the vertex whose id it is
        val votes = new Array[Long](g.n)
        val seen = new Array[Int](g.n)
        for (_ <- 1 to iters) {
          val next = label.clone()
          var d = 0
          while (d < g.nNodes) {
            var ns = 0
            var j = off(d)
            while (j < off(d + 1)) {
              val l = label(inNbr(j))
              if (votes(l) == 0L) { seen(ns) = l; ns += 1 }
              votes(l) += copies(inNbr(j))
              j += 1
            }
            if (ns > 0) {
              var best = seen(0)
              var q = 1
              while (q < ns) {
                val l = seen(q)
                if (votes(l) > votes(best) ||
                    (votes(l) == votes(best) && g.key(l) < g.key(best))) best = l
                q += 1
              }
              next(d) = best
              q = 0
              while (q < ns) { votes(seen(q)) = 0L; q += 1 }
            }
            d += 1
          }
          label = next
        }
        g.nodes.iterator.map(v => Row(g.id(v), g.id(label(v))))
      }.localCheckpoint()
    }
    var labels = nodes.select(col(idCol).as("id"), col(idCol).as("label"))
    for (_ <- 1 to iters) {
      val counts = e.join(labels.select(col("id").as("src_id"), col("label")),
          col("src") === col("src_id"))
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("dst"))
        .orderBy(col("c").desc, col("label"))
      val best = counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("dst").as("id"), col("label").as("new_label"))
      labels = labels.join(best, Seq("id"), "left")
        .select(col("id"), coalesce(col("new_label"), col("label")).as("label"))
        .localCheckpoint()
    }
    labels
  }

  /** Synchronous BFS from one source: returns (id, lvl) for every node
    * reachable within `maxDepth` hops — the distance/reachability probe
    * next to [[connectedComponents]]' membership and
    * [[labelPropagation]]'s communities (e.g. "how many hops from a
    * seed document does its near-dup neighborhood extend").
    *
    * Scale design: per round, ONE edge-keyed join of the edge list with
    * the current frontier plus an anti join against the seen set (both
    * id-keyed exchanges over (id, lvl) longs — never payloads), with
    * the usual per-round localCheckpoint lineage cap. Frontier-bounded:
    * a round's work is proportional to the frontier's out-edges, the
    * textbook level-synchronous BFS the Pregel-likes run.
    */
  def bfsLevels(edges: DataFrame, source: Long, maxDepth: Int = 6): DataFrame = {
    // checkpoint at entry (the connectedComponents discipline): every
    // round joins the edge list, so an expensive caller subtree would
    // otherwise re-run maxDepth times
    val e = edges.select(col(edges.columns(0)).as("src"),
      col(edges.columns(1)).as("dst")).localCheckpoint()
    val spark = edges.sparkSession
    var levels = spark.range(1)
      .select(lit(source).as("id"), lit(0L).as("lvl"))
      .localCheckpoint()
    var k = 1
    var frontierEmpty = false
    while (k <= maxDepth && !frontierEmpty) {
      val frontier = levels.filter(col("lvl") === (k - 1).toLong)
      val next = e.join(frontier.select(col("id").as("src")), Seq("src"))
        .select(col("dst").as("id")).distinct()
        .join(levels.select("id"), Seq("id"), "left_anti")
        .withColumn("lvl", lit(k.toLong))
      levels = levels.unionByName(next).localCheckpoint()
      // one scalar to the driver per round; stop when the wave dies out
      frontierEmpty = levels.filter(col("lvl") === k.toLong).isEmpty
      k += 1
    }
    levels
  }

  /** Duplicate-cluster assignment: near-dup pairs → (id, cluster_id)
    * where cluster_id is the minimum doc id of the connected component.
    * Only documents that appear in at least one pair are returned —
    * singletons are trivially their own cluster and joining them in
    * would shuffle the whole corpus for no information.
    */
  def dupClusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b"): DataFrame =
    connectedComponents(pairs.select(idA, idB))
      .select(col("id"), col("comp").as("cluster_id"))

  /** Exact triangle count over an undirected edge list — the standard
    * graph-density / community-cohesion statistic (clustering
    * coefficient numerator).
    *
    * Scale design: the textbook degree-ordered orientation (Cohen,
    * "Graph Twiddling in a MapReduce World"; also the node-iterator++
    * bound) — every edge is directed from its lower-(degree, id)
    * endpoint to the higher, so each triangle is generated by exactly
    * ONE wedge at its lowest-ordered vertex and, crucially, wedge
    * fan-out per vertex is bounded by its OUT-degree, which the
    * orientation caps at O(sqrt(m)) even for power-law hubs: a
    * celebrity node with 10^7 neighbors contributes no wedges at all
    * unless its neighbors have higher degree still. Three shuffles do
    * all the work (degree agg, wedge self-join on src, closing-edge
    * semi-equi-join); nothing is ever collected to the driver.
    *
    * @param edges DataFrame whose first two columns are the endpoints
    *              of an undirected edge (self-loops and duplicate /
    *              reversed edges are normalized away).
    * @return one row: (n_nodes, n_edges, n_triangles).
    */
  /** Serialized size of a bloom filter over `n` items at `fpp`:
    * m = -n·ln(fpp)/ln(2)² bits (~1.20 bytes/item at fpp 0.01, i.e.
    * ~1.2 GB per 1e9 edges), plus a small header. Used to decide
    * whether the wedge prefilter's filter fits the broadcast budget.
    */
  private[graft] def bloomBytes(n: Long, fpp: Double): Long =
    (-n * math.log(fpp) / (math.log(2) * math.log(2)) / 8.0).toLong + 64L

  /** Shared triangle-enumeration plumbing: canonical undirected edges,
    * degrees, degree-ordered orientation, and the bloom-pruned triangle
    * row set (one row per triangle, all three vertices). See
    * [[triangleCount]] for the orientation/skew rationale.
    *
    * `maxBloomBytes`: the wedge prefilter is an OPTIMIZATION — the
    * exact closing join is unconditionally correct — so when the edge
    * count would need a bloom beyond this budget (it must broadcast to
    * every task), the prefilter is skipped and the full wedge set goes
    * to the exact join. Correctness parity of the two paths is a spec
    * invariant (`GraphOpsSpec` forces the fallback with a 0 budget).
    */
  private def triangleRows(edges: DataFrame,
      maxBloomBytes: Long = 512L << 20): (DataFrame, DataFrame, DataFrame) = {
    val u = col(edges.columns(0))
    val v = col(edges.columns(1))
    // Canonical undirected form: (min, max), no self-loops, distinct.
    // Checkpoint: the edge list is typically an expensive subtree (a
    // co-occurrence self-join) and is branched 4x below (degree x2,
    // wedges, closing probe) — without truncation each branch re-runs it.
    val und = edges.select(least(u, v).as("a"), greatest(u, v).as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint()
    val nEdgesCnt = und.count() // cheap: und is checkpointed
    // Local arm: the SAME degree-ordered orientation ((deg, id) total
    // order) emits the identical triangle-row set — each triangle once, at
    // its lowest-ordered vertex, neighbours in orientation order — so every
    // consumer aggregation is unchanged.
    val idType = und.schema("a").dataType
    if (LocalGraph.integral(idType) && LocalGraph.fits(edges.sparkSession, nEdgesCnt)) {
      // degree frame still built distributed (one small exchange —
      // callers consume it directly); NOT checkpointed here: each
      // caller reads it once, and here it feeds no orientation joins
      val degF = und.select(col("a").as("n")).unionAll(und.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      val out = StructType(Seq(StructField("src", idType), StructField("x", idType),
        StructField("y", idType)))
      val tri = LocalGraph.run(out, und) { g =>
        val n = g.n
        val nE = g.from.length
        val deg = new Array[Int](n)
        var i = 0
        while (i < nE) { deg(g.from(i)) += 1; deg(g.to(i)) += 1; i += 1 }
        // rank = position in the (deg, id) total order the distributed
        // orientation uses; comparing ranks == comparing (deg, id)
        val order = (0 until n).sortBy(j => (deg(j), g.key(j)))
        val rank = new Array[Int](n)
        i = 0
        while (i < n) { rank(order(i)) = i; i += 1 }
        // orient every edge low-rank -> high-rank, and keep an
        // open-addressing set of the oriented edges packed (lo << 32) | hi
        val lo = new Array[Int](nE)
        val hi = new Array[Int](nE)
        var cap = java.lang.Integer.highestOneBit(math.max(4, nE * 2) - 1) << 1
        if (cap < 4) cap = 4
        val slots = new Array[Long](cap)
        java.util.Arrays.fill(slots, -1L)
        def put(k: Long): Unit = {
          var h = (java.lang.Long.hashCode(k * -7046029254386353131L) & (cap - 1))
          while (slots(h) != -1L && slots(h) != k) h = (h + 1) & (cap - 1)
          slots(h) = k
        }
        def has(k: Long): Boolean = {
          var h = (java.lang.Long.hashCode(k * -7046029254386353131L) & (cap - 1))
          while (slots(h) != -1L) {
            if (slots(h) == k) return true
            h = (h + 1) & (cap - 1)
          }
          false
        }
        i = 0
        while (i < nE) {
          val fwd = rank(g.from(i)) < rank(g.to(i))
          lo(i) = if (fwd) g.from(i) else g.to(i)
          hi(i) = if (fwd) g.to(i) else g.from(i)
          put((lo(i).toLong << 32) | (hi(i).toLong & 0xffffffffL))
          i += 1
        }
        val (off, nbr) = LocalGraph.csr(n, lo, hi)
        // neighbors sorted by rank so each wedge is generated once in
        // the same (x, y) orientation the distributed wedge filter
        // uses; packing (rank, idx) into one long keeps the slice
        // sorts primitive (no comparator boxing)
        val packed = new Array[Long](nE)
        i = 0
        while (i < nE) {
          packed(i) = (rank(nbr(i)).toLong << 32) | (nbr(i).toLong & 0xffffffffL)
          i += 1
        }
        i = 0
        while (i < n) {
          java.util.Arrays.sort(packed, off(i), off(i + 1))
          var j = off(i)
          while (j < off(i + 1)) { nbr(j) = (packed(j) & 0xffffffffL).toInt; j += 1 }
          i += 1
        }
        // lazy per-src emission: per-src triangle fan-out is bounded by
        // C(outdeg, 2) (orientation caps outdeg at ~sqrt(m)), so memory
        // stays src-local even on dense in-gate graphs
        Iterator.range(0, n).flatMap { s =>
          val buf = new scala.collection.mutable.ArrayBuffer[Row]()
          var a = off(s)
          while (a < off(s + 1)) {
            val x = nbr(a)
            var b = a + 1
            while (b < off(s + 1)) {
              val y = nbr(b)
              if (has((x.toLong << 32) | (y.toLong & 0xffffffffL)))
                buf += Row(g.id(s), g.id(x), g.id(y))
              b += 1
            }
            a += 1
          }
          buf
        }
      }
      return (und, degF, tri)
    }
    // r20: below this MEASURED edge count the |V|-bounded degree table
    // (|V| <= 2|E|) fits the broadcast budget — broadcasting it turns
    // the two orientation joins into map-side hash joins, so the edge
    // list crosses NO exchange to orient (a checkpointed frame carries
    // no size statistics, so Catalyst would otherwise plan both as
    // shuffle joins). Past the gate — the 100 TB co-occurrence graph —
    // the original shuffle-join orientation runs unchanged. GraphOpsSpec
    // pins count parity of the two paths.
    val broadcastEdges = nEdgesCnt <= 8L * 1000 * 1000
    // checkpointed once on the broadcast path: the degree frame feeds
    // both orientation joins here plus the callers' per-node outputs
    val deg0 = {
      val d = und.select(col("a").as("n")).unionAll(und.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      if (broadcastEdges) d.localCheckpoint() else d
    }
    val deg = if (broadcastEdges) broadcast(deg0) else deg0
    // Orient each edge low -> high in the strict total order (degree, id).
    val withDeg = und
      .join(deg.withColumnsRenamed(Map("n" -> "a", "d" -> "da")), "a")
      .join(deg.withColumnsRenamed(Map("n" -> "b", "d" -> "db")), "b")
    val lowFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = withDeg.select(
      when(lowFirst, col("a")).otherwise(col("b")).as("src"),
      when(lowFirst, col("b")).otherwise(col("a")).as("dst"),
      when(lowFirst, col("db")).otherwise(col("da")).as("ddeg"))
      .localCheckpoint()
    // Wedges at src, neighbor pair ordered by the SAME (degree, id)
    // order the edges were oriented by, so the closing edge — if it
    // exists — is stored exactly as (x -> y).
    val e1 = oriented.select(col("src"), col("dst").as("x"), col("ddeg").as("dx"))
    val e2 = oriented.select(col("src"), col("dst").as("y"), col("ddeg").as("dy"))
    val wedges = e1.join(e2, Seq("src"))
      .filter(col("dx") < col("dy") || (col("dx") === col("dy") && col("x") < col("y")))
      .select(col("src"), col("x"), col("y"))
    // Bloom-prune non-closing wedges map-side (see triangleCount doc),
    // unless the filter itself would outgrow the broadcast budget — the
    // exact join below is correct either way, the bloom only cuts the
    // wedge shuffle. (r20 measured note: an exact broadcast-hash closing
    // probe was tried under the same gate and REVERTED — building and
    // shipping the |E|-row hash relation cost more per run than the
    // 1.2 B/edge bloom it replaced; the bloom stays the closing-side
    // shape at every scale.)
    val closing = oriented.select(
      xxhash64(col("src"), col("dst")).as("ek"), col("src").as("x"), col("dst").as("y"))
    val expected = math.max(nEdgesCnt, 1000L)
    val prunedWedges =
      if (bloomBytes(expected, 0.01) <= maxBloomBytes)
        BloomJoin.bloomPrefilter(
          wedges.withColumn("ek", xxhash64(col("x"), col("y"))),
          closing, "ek", "ek",
          expectedItems = expected, fpp = 0.01)
      else wedges
    val tri = prunedWedges.join(closing.drop("ek"), Seq("x", "y"))
      .select(col("src"), col("x"), col("y"))
    (und, deg0, tri)
  }

  def triangleCount(edges: DataFrame,
      maxBloomBytes: Long = 512L << 20): DataFrame = {
    val (und, deg, triRows) = triangleRows(edges, maxBloomBytes)
    // Wedges outnumber edges ~sqrt(m):1 and only a few percent close
    // into triangles, so the closing equi-join's shuffle of the full
    // wedge set IS the cost of this operator (measured 41M wedges vs
    // 1.2M edges on the sf0.1 co-purchase graph). A broadcast bloom
    // over the hashed edge keys drops non-closing wedges MAP-SIDE,
    // inside the wedge-join stage, before the exchange — the exact
    // join then verifies survivors (bloom false positives and xxhash64
    // key collisions just pass a few extra rows into the exact check).
    // At extreme edge counts the bloom is ~1.2 GB/1e9 edges (the
    // bloomBytes formula, asserted in GraphOpsSpec): still
    // broadcastable where a 30x wedge shuffle is not — and past
    // maxBloomBytes the prefilter drops out entirely, with count
    // parity proven by the forced-fallback spec case.
    val tri = triRows.agg(count(lit(1)).as("n_triangles"))
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    val nEdges = und.agg(count(lit(1)).as("n_edges"))
    nNodes.crossJoin(broadcast(nEdges)).crossJoin(broadcast(tri))
  }

  /** Local clustering coefficient per vertex: cc(v) = 2·t(v) / (d(v)·
    * (d(v)−1)) where t(v) is the number of triangles through v — the
    * per-node cohesion score (spam rings and boilerplate clusters are
    * high-cc; bridges are low). Reuses [[triangleRows]]'s oriented,
    * bloom-pruned enumeration; each triangle is then charged to all
    * three vertices by one generator + count (no second pair join).
    *
    * @return (n, d, t, cc) for every vertex, d ≥ 1; t = 0 and cc = 0
    *         for vertices on no triangle.
    */
  def clusteringCoefficients(edges: DataFrame,
      maxBloomBytes: Long = 512L << 20): DataFrame = {
    val (_, deg, triRows) = triangleRows(edges, maxBloomBytes)
    val perNode = triRows
      .select(explode(array(col("src"), col("x"), col("y"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("t"))
    deg.join(perNode, Seq("n"), "left")
      .select(col("n"), col("d"), coalesce(col("t"), lit(0L)).as("t"),
        when(col("d") < 2, lit(0.0))
          .otherwise(lit(2.0) * coalesce(col("t"), lit(0L)) /
            (col("d") * (col("d") - lit(1)))).as("cc"))
  }

  /** PageRank by power iteration — document authority over a similarity
    * (or link) graph, the classic quality prior for corpus curation.
    *
    * Same scale discipline as [[connectedComponents]]: a fixed small
    * number of rounds, each round two narrow shuffles (contribution
    * join keyed on src, sum keyed on dst) over (id, pr) rows;
    * `localCheckpoint` per round truncates lineage so round t+1 reads
    * round t's materialized rows instead of re-optimizing (and
    * re-executing) an exponentially growing tree. Edge weights (1/deg)
    * are materialized ONCE up front — the expensive edge-producing
    * subtree (an LSH/Jaccard pipeline) never re-runs. One scalar
    * (|V|) crosses the driver.
    *
    * Dangling mass: vertices with no out-edges leak their rank (the
    * standard simplification); ranks still order vertices correctly for
    * curation use. Fully deterministic: per-edge contributions are
    * quantized to a 1e-12 grid and summed exactly in BIGINT (per-vertex
    * sums are bounded by the quantized total mass, 1e12, so no
    * overflow at any graph size), then one identical double op chain
    * per vertex per round — bit-identical across runs, partitionings,
    * and engines (the q_embed_centroid accumulation discipline).
    * Quantization error is <= 5e-13 per in-edge per round, invisible at
    * any sane output rounding.
    *
    * @param vertices one-column frame of vertex ids (isolated vertices
    *                 keep the teleport rank).
    * @param edges    directed (src, dst) pairs in the FIRST TWO columns;
    *                 pass both directions for an undirected graph.
    */
  def pageRank(vertices: DataFrame, edges: DataFrame, iters: Int = 3,
      damping: Double = 0.85): DataFrame = {
    val idCol = vertices.columns(0)
    val sc = edges.sparkSession.sparkContext
    // Size-adaptive layout (r21) — the connectedComponents recipe
    // applied to the OTHER graph loop (r20 driver scaling 0.19: 5.7 s at
    // 32c vs 1.06 s at 8c). The checkpointed edge/vertex frames inherit
    // their BUILD's fan-out (a 32-way pair pipeline), so every
    // power-iteration round paid per-task fixed costs on dozens of
    // near-empty tasks. One scalar count per input picks a partition
    // count proportional to the data (~128k rows/task, capped at the
    // session's cores); the coalesce is NARROW over the already-
    // materialized checkpoint blocks. At scale the count lands at the
    // core cap and the layout is unchanged.
    def sized(df: DataFrame, rows: Long): DataFrame = {
      val target = math.min(sc.defaultParallelism.toLong, 1L + rows / 131072L).toInt
      if (df.rdd.getNumPartitions > target) df.coalesce(target) else df
    }
    val e0 = edges.select(col(edges.columns(0)).as("src"),
      col(edges.columns(1)).as("dst")).localCheckpoint()
    val m = e0.count()
    // Local arm: replays the quantized-BIGINT arithmetic OP FOR OP (same
    // double divisions, same floor(x*1e12+0.5) grid, same long sums), so
    // ranks are bit-identical by construction.
    val idType = vertices.schema(idCol).dataType
    // hoisted so a probe that fails the VERTEX gate hands its
    // checkpoint+count to the iterative path instead of paying it twice
    var vertsCk: DataFrame = null
    var nVerts = -1L
    if (LocalGraph.integral(idType) && e0.schema("src").dataType == idType &&
        e0.schema("dst").dataType == idType && LocalGraph.fits(edges.sparkSession, m)) {
      vertsCk = vertices.select(col(idCol).as("id")).localCheckpoint()
      nVerts = vertsCk.count()
      if (LocalGraph.fits(edges.sparkSession, nVerts)) {
        val out = StructType(Seq(StructField("id", idType),
          StructField("pr", DoubleType, nullable = false)))
        return LocalGraph.run(out, e0, Some(vertsCk)) { g =>
          val copies = g.copies
          val nRows = g.nodes.length.toDouble // == verts.count() below
          // out-degree counts EVERY edge row of a src (rows whose dst is
          // outside the vertex set still divide the mass — that rank
          // leaks, exactly as in the iterative form); a contribution needs
          // both endpoints in the vertex set and lands once per vertex row
          // of its src (the loop's join repeats it)
          val deg = new Array[Long](g.n)
          var j = 0
          while (j < g.from.length) { deg(g.from(j)) += 1L; j += 1 }
          val inside = g.inside
          var pr = Array.fill(g.n)(1.0 / nRows)
          val base = (1.0 - damping) / nRows
          for (_ <- 1 to iters) {
            val sums = new Array[Long](g.n)
            j = 0
            while (j < inside.length) {
              val s = g.from(inside(j))
              sums(g.to(inside(j))) +=
                math.floor(pr(s) / deg(s).toDouble * 1e12 + 0.5).toLong * copies(s)
              j += 1
            }
            val next = new Array[Double](g.n)
            j = 0
            while (j < g.n) { next(j) = base + damping * (sums(j).toDouble / 1e12); j += 1 }
            pr = next
          }
          g.nodes.iterator.map(v => Row(g.id(v), pr(v)))
        }.localCheckpoint()
      }
    }
    val e = sized(e0, m)
    val deg = e.groupBy("src").agg(count(lit(1)).cast(DoubleType).as("deg"))
    // |wEdges| == |e| exactly (deg holds one row per src), so the edge
    // count sizes it without a second count job
    val wEdges0 = e.join(deg, "src").localCheckpoint()
    val verts0 = if (vertsCk != null) vertsCk
      else vertices.select(col(idCol).as("id")).localCheckpoint()
    val n = (if (nVerts >= 0L) nVerts else verts0.count()).toDouble
    val wEdges = sized(wEdges0, m)
    val verts = sized(verts0, n.toLong)
    var pr = verts.withColumn("pr", lit(1.0) / lit(n)).localCheckpoint()
    for (_ <- 1 to iters) {
      val sums = wEdges.join(pr, wEdges("src") === pr("id"))
        .select(col("dst").as("id"),
          floor(col("pr") / col("deg") * lit(1e12) + lit(0.5))
            .cast(org.apache.spark.sql.types.LongType).as("ci"))
        .groupBy("id").agg(sum(col("ci")).as("s"))
      pr = verts.join(sums, Seq("id"), "left")
        .select(col("id"),
          ((lit(1.0) - lit(damping)) / lit(n) +
            lit(damping) * (coalesce(col("s"), lit(0L)).cast(DoubleType) / lit(1e12)))
            .as("pr"))
        .localCheckpoint()
    }
    pr
  }

  /** The single-task arm shared by the graph operators above (the gate
    * and id rule are in the [[GraphOps]] doc). Each operator checks
    * [[integral]] and [[fits]], then hands [[run]] its materialized
    * frames and an algorithm body over the interned [[Graph]].
    */
  private[operators] object LocalGraph {

    /** Whether a graph with this many rows runs in one task. */
    def fits(spark: SparkSession, rows: Long): Boolean =
      rows <= spark.conf.get("graft.graph.localEdges", "2000000").toLong

    /** Integral id types. `fitsLong` (the local arm's rule) further
      * requires every value to fit a long: decimal precision ≤ 18.
      */
    def integral(t: DataType, fitsLong: Boolean = true): Boolean = t match {
      case ByteType | ShortType | IntegerType | LongType => true
      case d: DecimalType => d.scale == 0 && (!fitsLong || d.precision <= 18)
      case _ => false
    }

    /** An interned graph over vertices `0 until n`: edge row i is
      * `from(i) -> to(i)`. With a vertex frame, its distinct ids are
      * vertices `0 until nNodes` and `nodes` holds the vertex of each of
      * its rows, repeats included; edge endpoints outside it come after.
      * A null id is a vertex of its own that no edge row touches (a null
      * endpoint is one vertex outside the frame), so no join matches it.
      */
    final class Graph private[LocalGraph] (val n: Int, val key: Array[Long],
        val nodes: Array[Int], val nNodes: Int, val from: Array[Int], val to: Array[Int],
        nulls: java.util.BitSet, restore: Long => Any) {
      /** The vertex's id at the input type. */
      def id(v: Int): Any = if (nulls.get(v)) null else restore(key(v))
      /** Vertex-frame rows per vertex. */
      def copies: Array[Long] = {
        val c = new Array[Long](n)
        nodes.foreach(v => c(v) += 1L)
        c
      }
      /** Edge rows with both endpoints in the vertex frame. */
      def inside: Array[Int] = {
        val b = new ArrayBuilder.ofInt
        var i = 0
        while (i < from.length) { if (from(i) < nNodes && to(i) < nNodes) b += i; i += 1 }
        b.result()
      }
    }

    /** Adjacency in CSR form: the neighbours of `v` are
      * `nbr(off(v) until off(v + 1))`, one per `from(i) == v`, in row order.
      */
    def csr(n: Int, from: Array[Int], to: Array[Int]): (Array[Int], Array[Int]) = {
      val off = new Array[Int](n + 1)
      var i = 0
      while (i < from.length) { off(from(i) + 1) += 1; i += 1 }
      i = 0
      while (i < n) { off(i + 1) += off(i); i += 1 }
      val pos = java.util.Arrays.copyOf(off, n)
      val nbr = new Array[Int](from.length)
      i = 0
      while (i < from.length) { nbr(pos(from(i))) = to(i); pos(from(i)) += 1; i += 1 }
      (off, nbr)
    }

    /** Runs `body` in one task over the graph of `edges` (first two
      * columns) and, when given, the one-column vertex frame `nodes`; the
      * result has schema `out`. Both frames must already be materialized:
      * coalesce(1) is narrow, so it would pull an unmaterialized subtree
      * into the one task.
      */
    def run(out: StructType, edges: DataFrame, nodes: Option[DataFrame] = None)(
        body: Graph => Iterator[Row]): DataFrame = {
      val idType = edges.schema(0).dataType
      // one frame, kind-tagged (0 vertex row, 1 edge row)
      val tagged = edges.select(lit(1).as("k"), col(edges.columns(0)).as("a"),
        col(edges.columns(1)).as("b"))
      val input = nodes.fold(tagged)(v => v.select(lit(0).as("k"),
        col(v.columns(0)).as("a"), col(v.columns(0)).as("b")).unionAll(tagged))
      input.coalesce(1).mapPartitions(rows => body(read(rows, idType)))(Encoders.row(out))
    }

    private def read(rows: Iterator[Row], idType: DataType): Graph = {
      val ids = new LongInterner
      val nulls = new java.util.BitSet
      def nullVertex(): Int = { val v = ids.add(0L); nulls.set(v); v }
      def asLong(a: Any): Long = a.asInstanceOf[Number].longValue()
      // vertex rows are interned first; edge ids wait until all are in
      val nodes = new ArrayBuilder.ofInt
      var nullNode = -1
      val ends = new ArrayBuilder.ofLong // src, dst of each edge row
      val nullEnds = new java.util.BitSet // positions in `ends` that are null
      while (rows.hasNext) {
        val r = rows.next()
        if (r.getInt(0) == 0) {
          if (r.isNullAt(1)) { if (nullNode < 0) nullNode = nullVertex(); nodes += nullNode }
          else nodes += ids(asLong(r.get(1)))
        } else {
          var c = 1
          while (c <= 2) {
            if (r.isNullAt(c)) { nullEnds.set(ends.length); ends += 0L } else ends += asLong(r.get(c))
            c += 1
          }
        }
      }
      val nNodes = ids.n
      val e = ends.result()
      var nullEnd = -1
      def vertex(p: Int): Int =
        if (!nullEnds.get(p)) ids(e(p))
        else { if (nullEnd < 0) nullEnd = nullVertex(); nullEnd }
      val from = new Array[Int](e.length / 2)
      val to = new Array[Int](e.length / 2)
      var i = 0
      while (i < from.length) { from(i) = vertex(2 * i); to(i) = vertex(2 * i + 1); i += 1 }
      val restore: Long => Any = idType match {
        case ByteType => _.toByte
        case ShortType => _.toShort
        case IntegerType => _.toInt
        case LongType => identity
        case _ => java.math.BigDecimal.valueOf(_) // DecimalType(p ≤ 18, 0)
      }
      new Graph(ids.n, ids.keys, nodes.result(), nNodes, from, to, nulls, restore)
    }

    /** Primitive open-addressing long -> vertex interner; a boxed HashMap
      * cost ~0.5 s of the triangle task on its 2.4M endpoint lookups at
      * sf0.1.
      */
    private final class LongInterner {
      private var key = new Array[Long](1 << 12)
      private var table = new Array[Int](1 << 16) // vertex + 1; 0 = empty
      var n = 0

      private def home(k: Long): Int =
        java.lang.Long.hashCode(k * -7046029254386353131L) & (table.length - 1)

      def apply(k: Long): Int = {
        var h = home(k)
        while (table(h) != 0) {
          if (key(table(h) - 1) == k) return table(h) - 1
          h = (h + 1) & (table.length - 1)
        }
        val v = add(k)
        table(h) = v + 1
        if (2 * n >= table.length) grow()
        v
      }

      /** A new vertex with key `k` that no lookup finds (a null id). */
      def add(k: Long): Int = {
        if (n == key.length) key = java.util.Arrays.copyOf(key, 2 * n)
        key(n) = k
        n += 1
        n - 1
      }

      def keys: Array[Long] = java.util.Arrays.copyOf(key, n)

      private def grow(): Unit = {
        val old = table
        table = new Array[Int](2 * old.length)
        var i = 0
        while (i < old.length) {
          if (old(i) != 0) {
            var h = home(key(old(i) - 1))
            while (table(h) != 0) h = (h + 1) & (table.length - 1)
            table(h) = old(i)
          }
          i += 1
        }
      }
    }
  }
}
