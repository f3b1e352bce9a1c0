package graft.queries

import graft.Tables
import graft.ops.CoreOps.{davg, dsum}
import graft.operators.AsOfJoin
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The relational surface the reference lacks but the north star requires
  * (SURVEY.md §2.3-2.8 ABSENT rows): the join family, aggregation family
  * (incl. rollup/cube/grouping sets), window functions, sorts/top-k, set
  * operations, and scalar function coverage — all Spark built-ins, plans
  * shaped for scale (broadcast dims, single-shuffle aggs, pushed filters).
  */
object RelationalQueries {

  /** The per-customer order snapshot the CDC trio (q_cdc_diff /
    * q_cdc_sql / q_cdc_apply) diffs: one half-year date window,
    * count + exact decimal-cent total per customer. ONE definition so
    * the three queries and their shared oracle can never desynchronize.
    */
  private def cdcSnapshot(
      s: SparkSession, dir: String, lo: String, hi: String): DataFrame =
    Tables(s, dir, "orders")
      .filter(col("o_orderdate") >= lit(lo).cast(DateType) &&
        col("o_orderdate") < lit(hi).cast(DateType))
      .groupBy(col("o_custkey").as("custkey"))
      .agg(count(lit(1)).as("n_orders"),
        (sum(col("o_totalprice").cast(DecimalType(18, 4))) * 100)
          .cast(LongType).as("total_cents"))

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // TPC-H Q1 shape: the canonical partial+final hash aggregate. Sums
    // go through decimal (order-free, oracle-exact); filter pushed to scan.
    "q1_pricing_summary" -> { (s, dir) =>
      Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          graft.ops.CoreOps.dsumExact(col("l_extendedprice").cast(DecimalType(18, 4)) *
            (lit(1).cast(DecimalType(18, 4)) - col("l_discount").cast(DecimalType(18, 4)))).as("sum_disc_price"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_extendedprice")).as("avg_price"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // TPC-H Q5 shape: the star join. Dims broadcast (no shuffle on the
    // fact side for them); lineitem-orders is the one real shuffle join.
    "q_star_join" -> { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
      val o = Tables(s, dir, "orders")
      val c = Tables(s, dir, "customer")
      val n = Tables(s, dir, "nation")
      val r = Tables(s, dir, "region")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          graft.ops.CoreOps.dsumExact(col("l_extendedprice").cast(DecimalType(18, 4)) *
            (lit(1).cast(DecimalType(18, 4)) - col("l_discount").cast(DecimalType(18, 4)))).as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy("r_name", "n_name")
    },

    // Left-semi join (EXISTS): orders having any high-quantity line.
    "q_semi_join" -> { (s, dir) =>
      val o = Tables(s, dir, "orders")
      val li = Tables(s, dir, "lineitem").filter(col("l_quantity") >= 49)
      o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // Bloom-filter pre-filtered semi join (operators.BloomJoin): the
    // sketch built from the filtered dimension prunes fact rows BEFORE
    // the join shuffle; the trailing exact semi join removes false
    // positives, so the result equals a plain semi join (the oracle).
    "q_bloom_semi_join" -> { (s, dir) =>
      val o = Tables(s, dir, "orders")
      val c = Tables(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
      graft.operators.BloomJoin
        .bloomSemiJoin(o, c, "o_custkey", "c_custkey", expectedItems = 100000L)
        .select("o_orderkey", "o_custkey", "o_orderstatus")
        .orderBy("o_orderkey")
    },

    // The SAME Bloom-pruned semi join spelled in Spark SQL through the
    // graft_bloom TVF — SHARES q_bloom_semi_join's plain-semi-join
    // oracle, so the SQL spelling must prune without losing a match.
    "q_bloom_sql" -> { (s, dir) =>
      Tables(s, dir, "orders").createOrReplaceTempView("graft_bloom_big")
      Tables(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .createOrReplaceTempView("graft_bloom_small")
      s.sql("""
        SELECT o_orderkey, o_custkey, o_orderstatus
        FROM graft_bloom('graft_bloom_big', 'graft_bloom_small',
                         'o_custkey', 'c_custkey', '100000')
        ORDER BY o_orderkey""")
    },

    // Dimension-coverage matrix: cross join of the two small distinct
    // dimension domains (BroadcastNestedLoopJoin — tiny x tiny, the one
    // legitimate cross-join shape) left-joined to actual counts;
    // zero-filled combos surface holes in the data.
    "q_dim_coverage" -> { (s, dir) =>
      val o = Tables(s, dir, "orders")
      val st = o.select(col("o_orderstatus")).distinct()
      val pr = o.select(col("o_orderpriority")).distinct()
      val actual = o.groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"))
      st.crossJoin(pr)
        .join(actual, Seq("o_orderstatus", "o_orderpriority"), "left")
        .select(col("o_orderstatus"), col("o_orderpriority"),
          coalesce(col("n"), lit(0L)).as("n"),
          col("n").isNotNull.as("present"))
        .orderBy("o_orderstatus", "o_orderpriority")
    },

    // Left-anti join (NOT EXISTS): customers with no 'P'-status order.
    "q_anti_join" -> { (s, dir) =>
      val c = Tables(s, dir, "customer")
      val o = Tables(s, dir, "orders").filter(col("o_orderstatus") === "P")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    },

    // Range (non-equi) join via band-bucketing (operators.RangeJoin):
    // the range predicate becomes an equi-join on a bucket id — a real
    // hash join instead of broadcast-nested-loop, the big-big scale path.
    "q_range_join" -> { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
      val p = Tables(s, dir, "part")
      graft.operators.RangeJoin
        .bandJoin(li, p, col("l_extendedprice"), col("p_retailprice"), 10.0)
        .groupBy(col("p_partkey"))
        .agg(count(lit(1)).as("n_matches"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("p_partkey")
    },

    // The same banded range join spelled in Spark SQL through the
    // graft_range table-valued function — SHARES q_range_join's oracle
    // string, so the TVF path and the DataFrame path must agree
    // bit-for-bit (the graft_asof pattern, fourth operator family).
    "q_range_sql" -> { (s, dir) =>
      Tables(s, dir, "lineitem").createOrReplaceTempView("graft_range_li")
      Tables(s, dir, "part").createOrReplaceTempView("graft_range_part")
      s.sql("""
        SELECT p_partkey, count(*) AS n_matches,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        FROM graft_range('graft_range_li', 'graft_range_part',
                         'l_extendedprice', 'p_retailprice', '10.0')
        GROUP BY p_partkey ORDER BY p_partkey""")
    },

    // As-of join: each purchase event picks up the user's most recent
    // click at-or-before it (union + ordered window — one shuffle).
    // tie-broken on click_id (min wins) so equal-ts clicks stay
    // deterministic whatever the fixture holds — the oracle's window
    // adds event_id DESC for the identical tie semantics.
    "q_asof_join" -> { (s, dir) =>
      val (purchases, clicks) = purchaseClickFrames(s, dir)
      AsOfJoin.asOf(purchases, clicks, "user_id", "ts", Seq("click_id"),
        tieBreak = Some("click_id"))
        .select(col("user_id"), col("event_id"), col("value"), col("asof_click_id"))
        .orderBy("event_id")
    },

    // Forward + tolerance through the native exec (q_asof_tolerance's
    // SHARED oracle val — byte-identical by construction): with the
    // backward twin below, the DuckDB gate covers every directional
    // mode of the custom operator.
    "q_asof_native_tol" -> { (s, dir) =>
      val (purchases, clicks) = purchaseClickFrames(s, dir)
      graft.plans.NativeAsOfJoin
        .asOf(purchases, clicks, "user_id", "ts", Seq("click_id"),
          forward = true, toleranceMs = Some(3600L * 1000),
          tieBreak = Some("click_id"),
          strategy = graft.plans.AsOfPhysicalStrategy.Merge)
        .select(col("user_id"), col("event_id"), col("asof_click_id"))
        .orderBy("event_id")
    },

    // The same as-of join through the custom WHOLE-OPERATOR path: a
    // graft LogicalPlan planned by an injected SparkStrategy onto a
    // streaming-merge SparkPlan (plans/NativeAsOfJoin.scala). SHARES
    // q_asof_join's oracle val — the two implementations must agree
    // bit-for-bit, and binding one string to both keys makes that
    // structural. The native exec holds O(1) state per key group where
    // the window composition's WindowExec buffers the whole group (the
    // skew-safety case; measured in AsOfBench).
    "q_asof_native" -> { (s, dir) =>
      val (purchases, clicks) = purchaseClickFrames(s, dir)
      // the q_asof_native* family pins strategy = Merge: these entries
      // exist to keep the streaming-merge exec under the DuckDB oracle
      // (Auto at test SFs would route them all to the broadcast exec,
      // which q_asof_bcast already gates; q_asof_auto gates Auto)
      graft.plans.NativeAsOfJoin
        .asOf(purchases, clicks, "user_id", "ts", Seq("click_id"),
          tieBreak = Some("click_id"),
          strategy = graft.plans.AsOfPhysicalStrategy.Merge)
        .select(col("user_id"), col("event_id"), col("value"), col("asof_click_id"))
        .orderBy("event_id")
    },

    // Interval-overlap join: per-customer order pairs whose service
    // windows [orderdate, orderdate + orderkey%30 days] overlap. The
    // equi key (custkey) bounds the fan-out — the overlap predicate only
    // filters within a customer's partition, so the plan is a plain
    // shuffle hash join, never a nested-loop cross product.
    "q_interval_join" -> { (s, dir) =>
      val o = Tables(s, dir, "orders").select(
        col("o_custkey"),
        col("o_orderkey"),
        datediff(col("o_orderdate"), to_date(lit("1990-01-01"))).cast(LongType).as("sd"))
        .withColumn("ed", col("sd") + col("o_orderkey") % 30)
      val a = o.select(col("o_custkey"), col("o_orderkey").as("k_a"),
        col("sd").as("s_a"), col("ed").as("e_a"))
      val b = o.select(col("o_custkey"), col("o_orderkey").as("k_b"),
        col("sd").as("s_b"), col("ed").as("e_b"))
      a.join(b, Seq("o_custkey"))
        .filter(col("k_a") < col("k_b") &&
          col("s_a") <= col("e_b") && col("s_b") <= col("e_a"))
        .groupBy(col("o_custkey"))
        .agg(
          count(lit(1)).as("n_pairs"),
          sum(least(col("e_a"), col("e_b")) - greatest(col("s_a"), col("s_b")) + 1)
            .as("total_overlap_days"))
        .orderBy("o_custkey")
    },

    // Distribution window functions: ntile / percent_rank / cume_dist
    // per order priority (one shuffle on the partition key).
    "q_window_ntile" -> { (s, dir) =>
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderpriority"),
        ntile(4).over(w).cast(LongType).as("tile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"))
        .orderBy("o_orderkey")
    },

    // Argmin/argmax aggregates: cheapest/richest supplier per nation in
    // ONE pass (min_by/max_by) — no self-join back onto the extremes.
    "q_minmax_by" -> { (s, dir) =>
      val sup = Tables(s, dir, "supplier")
      val n = Tables(s, dir, "nation")
      sup.join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          // struct ordering key = (acctbal, name): equal balances break
          // ties on the name, keeping the argmin/argmax deterministic
          // (and oracle-stable) at any scale factor
          min_by(col("s_name"), struct(col("s_acctbal"), col("s_name"))).as("poorest"),
          max_by(col("s_name"), struct(col("s_acctbal"), col("s_name"))).as("richest"),
          min(col("s_acctbal")).as("min_bal"),
          max(col("s_acctbal")).as("max_bal"),
          count(lit(1)).as("n_suppliers"))
        .orderBy("n_name")
    },

    // Forward as-of with tolerance: each purchase picks up the user's
    // NEXT click within one hour (same union+window shape as backward;
    // tie-broken on click_id so repeated timestamps stay deterministic).
    "q_asof_tolerance" -> { (s, dir) =>
      val (purchases, clicks) = purchaseClickFrames(s, dir)
      AsOfJoin.asOfForward(purchases, clicks, "user_id", "ts", Seq("click_id"),
        toleranceMs = Some(3600L * 1000), tieBreak = Some("click_id"))
        .select(col("user_id"), col("event_id"), col("asof_click_id"))
        .orderBy("event_id")
    },

    // Nearest-direction as-of (pandas merge_asof direction='nearest'):
    // min |gap| per purchase, backward wins exact ties. One shuffle,
    // two ordered window scans over the same exchange.
    "q_asof_nearest" -> { (s, dir) =>
      val (purchases, clicks) = purchaseClickFrames(s, dir)
      AsOfJoin.asOfNearest(purchases, clicks, "user_id", "ts", Seq("click_id"),
        tieBreak = Some("click_id"))
        .select(col("user_id"), col("event_id"), col("asof_click_id"))
        .orderBy("event_id")
    },

    // Nearest direction through the custom whole-operator path — SHARES
    // q_asof_nearest's oracle val, so the streaming merge (one held
    // backward candidate + the unconsumed head as the forward
    // candidate, O(1) state per key group) must agree bit-for-bit with
    // the composed two-window spelling AND the DuckDB row_number oracle.
    "q_asof_native_nearest" -> { (s, dir) =>
      val (purchases, clicks) = purchaseClickFrames(s, dir)
      graft.plans.NativeAsOfJoin
        .asOfNearest(purchases, clicks, "user_id", "ts", Seq("click_id"),
          tieBreak = Some("click_id"),
          strategy = graft.plans.AsOfPhysicalStrategy.Merge)
        .select(col("user_id"), col("event_id"), col("asof_click_id"))
        .orderBy("event_id")
    },

    // BROADCAST as-of: the same backward join through the broadcast
    // timeline index (BroadcastAsOfJoinExec) — the fact side pays NO
    // exchange and NO sort; the plan's only movement is one
    // BroadcastExchange of the clicks side. SHARES q_asof_join's oracle
    // val with the composed and merge spellings — three physical
    // strategies, one truth. (At production scale the right side must
    // be dimension-sized — the broadcast() hash-join contract; the
    // plan-shape guarantee is gated in NativeAsOfJoinSpec.)
    "q_asof_bcast" -> { (s, dir) =>
      val (purchases, clicks) = purchaseClickFrames(s, dir)
      graft.plans.NativeAsOfJoin
        .asOfBroadcast(purchases, clicks, Seq("user_id"), "ts", Seq("click_id"),
          tieBreak = Some("click_id"))
        .select(col("user_id"), col("event_id"), col("value"), col("asof_click_id"))
        .orderBy("event_id")
    },

    // AUTO-strategy as-of: the DEFAULT spelling a production caller
    // writes — AsOfJoinStrategy picks broadcast-vs-merge from the right
    // child's planning-time sizeInBytes against autoBroadcastJoinThreshold
    // (Spark's own JoinSelection rule; merge on unknown stats — the safe
    // side). SHARES q_asof_join's oracle val: whatever exec the stats
    // pick at the gate's SF, the values must stay bit-identical to the
    // composed, merge, and broadcast spellings.
    "q_asof_auto" -> { (s, dir) =>
      val (purchases, clicks) = purchaseClickFrames(s, dir)
      graft.plans.NativeAsOfJoin
        .asOf(purchases, clicks, "user_id", "ts", Seq("click_id"),
          tieBreak = Some("click_id"))
        .select(col("user_id"), col("event_id"), col("value"), col("asof_click_id"))
        .orderBy("event_id")
    },

    // SQL-surface as-of: the SAME backward join spelled entirely in
    // Spark SQL through the graft_asof table-valued function (injected
    // via SparkSessionExtensions) — the analyzer resolves the TVF call
    // straight to AsOfJoinPlan, so spark.sql users reach all three
    // physical strategies. SHARES q_asof_join's oracle val: four
    // spellings (composed / merge / broadcast / SQL), one truth.
    "q_asof_sql" -> { (s, dir) =>
      val (purchases, clicks) = purchaseClickFrames(s, dir)
      purchases.createOrReplaceTempView("graft_asof_purchases")
      clicks.createOrReplaceTempView("graft_asof_clicks")
      s.sql("""
        SELECT user_id, event_id, value, asof_click_id
        FROM graft_asof('graft_asof_purchases', 'graft_asof_clicks',
                        'user_id', 'ts', 'click_id',
                        'backward', '', 'click_id', 'auto')
        ORDER BY event_id""")
    },

    // COMPOSITE-key as-of through the native exec (pandas merge_asof's
    // multi-column `by`): each purchase picks up the most recent click
    // at-or-before it from the SAME (user, calendar day) — the grouped
    // PIT lookup where the key is (id, derived bucket). This is the
    // registered-oracle consumer of asOfKeys' multi-key path (the
    // randomized spec parity and the 2-key streaming twin pin the same
    // code; this entry puts it under the driver's DuckDB gate, and the
    // second component being a DATE also gates a non-long key type
    // end-to-end through the merge's lexicographic compare).
    "q_asof_native_keys" -> { (s, dir) =>
      val (purchases, clicks) = purchaseClickFrames(s, dir)
      graft.plans.NativeAsOfJoin
        .asOfKeys(purchases.withColumn("day", to_date(col("ts"))),
          clicks.withColumn("day", to_date(col("ts"))),
          Seq("user_id", "day"), "ts", Seq("click_id"),
          tieBreak = Some("click_id"),
          strategy = graft.plans.AsOfPhysicalStrategy.Merge)
        .select(col("user_id"), col("event_id"), col("asof_click_id"))
        .orderBy("event_id")
    },

    // Full outer join: BUILDING-segment customers x per-customer order
    // rollup — unmatched rows survive on BOTH sides (customers with no
    // orders keep null counts; orders of other segments keep null names).
    "q_full_outer" -> { (s, dir) =>
      val c = Tables(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), col("c_name"))
      val o = Tables(s, dir, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_name"), col("n_orders"))
        .orderBy("custkey")
    },

    // RANGE window frame: trailing-7-day order count and revenue per
    // priority — a value-based frame (rangeBetween), not a row count.
    "q_window_range" -> { (s, dir) =>
      val o = Tables(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderpriority"),
        datediff(col("o_orderdate"), to_date(lit("1990-01-01"))).cast(LongType).as("d"),
        col("o_totalprice"))
      val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("d"))
        .rangeBetween(-7, Window.currentRow)
      o.select(
        col("o_orderkey"), col("o_orderpriority"), col("d"),
        count(lit(1)).over(w).as("n_7d"),
        sum(col("o_totalprice").cast(DecimalType(18, 4))).over(w)
          .cast(DoubleType).as("rev_7d"))
        .orderBy("o_orderkey")
    },

    // Bag (multiset) set operations: EXCEPT ALL / INTERSECT ALL keep
    // duplicate cardinalities, unlike the set-semantics q_except/
    // q_intersect; output is the per-status multiset size of each result.
    "q_bag_setops" -> { (s, dir) =>
      val o = Tables(s, dir, "orders")
      val a = o.filter(col("o_totalprice") < 150000).select("o_orderstatus")
      val b = o.filter(col("o_orderpriority") === "1-URGENT").select("o_orderstatus")
      val ex = a.exceptAll(b).groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
      val in = a.intersectAll(b).groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
      ex.unionByName(in).select("op", "o_orderstatus", "n")
        .orderBy("op", "o_orderstatus")
    },

    // Array aggregation: per-customer sorted order-key list (deterministic
    // via sort_array) + distinct status count — collect_list/collect_set.
    // The list is serialized with concat_ws for the output: the driver's
    // checker sorts result rows across ALL columns in pandas, and a
    // list-typed column is unhashable there (r03 failure) — a string
    // column carries the same information and stays comparable.
    "q_array_agg" -> { (s, dir) =>
      Tables(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(
          concat_ws(",", sort_array(collect_list(col("o_orderkey")))).as("okeys"),
          size(collect_set(col("o_orderstatus"))).cast(LongType).as("n_statuses"))
        .orderBy("o_custkey")
    },

    // Equi-width histogram: one hash aggregate on the computed bucket —
    // the profiling pass that sizes partitions/salts before a big run.
    "q_histogram" -> { (s, dir) =>
      Tables(s, dir, "orders")
        .groupBy(floor(col("o_totalprice") / 25000).cast(LongType).as("bucket"))
        .agg(count(lit(1)).as("n"),
          graft.ops.CoreOps.dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("bucket")
    },

    // Single-pass table profile: per-column null/distinct/extreme stats
    // in ONE aggregate (no per-column scans — the shape that matters when
    // the table is 100 TB).
    "q_profile" -> { (s, dir) =>
      Tables(s, dir, "orders").agg(
        count(lit(1)).as("n_rows"),
        count_distinct(col("o_custkey")).as("n_customers"),
        count_distinct(col("o_orderstatus")).as("n_statuses"),
        sum(when(col("o_orderpriority").isNull, 1).otherwise(0)).as("n_null_priority"),
        min(col("o_orderdate")).as("min_date"),
        max(col("o_orderdate")).as("max_date"),
        graft.ops.CoreOps.davg(col("o_totalprice")).as("avg_price"))
    },

    // UNPIVOT (melt): wide per-line measures -> long (metric, value)
    // rows — the inverse of q_pivot, a generator-like projection with no
    // shuffle until the final presentation sort.
    "q_unpivot" -> { (s, dir) =>
      Tables(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 100)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax"))
        .unpivot(
          ids = Array(col("l_orderkey"), col("l_linenumber")),
          values = Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          variableColumnName = "metric", valueColumnName = "value")
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic data;
        // value joins the sort key to keep the order total
        .orderBy("l_orderkey", "l_linenumber", "metric", "value")
    },

    // Fuzzy string matching with LOSSLESS pigeonhole blocking
    // (operators.FuzzyJoin, PassJoin-style): candidates from a segment
    // equi-join, never a cartesian product; the Levenshtein verify makes
    // the result EXACTLY the all-pairs answer — same DuckDB oracle as
    // the naive form. At this query's loose threshold (d=12 on 20-char
    // keys) the short segments prune little — production thresholds
    // (d << len) give long segments and real pruning — but the SHAPE is
    // the one that scales: shuffle keys are segments, and no plan node
    // is all-pairs (ExplainSpec gates it; FuzzyJoinSpec property-tests
    // the naive equivalence).
    "q_fuzzy_match" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id"), substring(col("text"), 1, 20).as("prefix"))
      graft.operators.FuzzyJoin.editDistancePairs(docs, "doc_id", "prefix", d = 12)
        .orderBy("id_a", "id_b")
    },

    // The same PassJoin edit-distance join spelled in Spark SQL through
    // the graft_fuzzy table-valued function — SHARES q_fuzzy_match's
    // oracle string (fifth TVF'd operator family).
    "q_fuzzy_sql" -> { (s, dir) =>
      Tables(s, dir, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id"), substring(col("text"), 1, 20).as("prefix"))
        .createOrReplaceTempView("graft_fuzzy_docs")
      s.sql("""
        SELECT id_a, id_b, dist
        FROM graft_fuzzy('graft_fuzzy_docs', 'doc_id', 'prefix', '12')
        ORDER BY id_a, id_b""")
    },

    // Bitwise aggregates (exact, order-free) + deterministic string
    // aggregation (sorted distinct join — Spark's listagg/string_agg has
    // no WITHIN GROUP ordering, so the portable-deterministic form is
    // sort-then-join).
    "q_bit_string_agg" -> { (s, dir) =>
      Tables(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          bit_and(col("o_orderkey")).as("key_and"),
          bit_or(col("o_orderkey")).as("key_or"),
          bit_xor(col("o_orderkey")).as("key_xor"),
          array_join(array_sort(collect_set(col("o_orderpriority"))), "|").as("priorities"))
        .orderBy("o_orderstatus")
    },

    // The pure-SQL entry path (TPC-H Q3 shape over temp views): the same
    // Catalyst plan as the DataFrame API — shared optimizer, shared
    // physical strategies — exercised through `spark.sql`.
    "q_sql_shipping_priority" -> { (s, dir) =>
      Seq("customer", "orders", "lineitem")
        .foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
      s.sql(
        """SELECT l_orderkey,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                  * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
             o_orderdate, o_orderpriority
           FROM customer
             JOIN orders ON c_custkey = o_custkey
             JOIN lineitem ON l_orderkey = o_orderkey
           WHERE c_mktsegment = 'BUILDING'
             AND o_orderdate < TIMESTAMP '1998-06-01'
             AND l_shipdate > TIMESTAMP '1998-06-01'
           GROUP BY l_orderkey, o_orderdate, o_orderpriority
           ORDER BY revenue DESC, o_orderdate, l_orderkey
           LIMIT 10""")
    },

    // Parameterized SQL (Spark 4 named parameters): constants bound at
    // the API instead of spliced into the string — the injection-safe
    // templated-query surface every reporting layer needs. Parameter
    // markers resolve in Catalyst before optimization, so the plan is
    // identical to the literal form (pushdown included); the oracle
    // inlines the same constants.
    "q_param_sql" -> { (s, dir) =>
      Tables(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """SELECT o_orderpriority,
             count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
           FROM orders
           WHERE o_totalprice >= :min_price AND o_orderdate >= :since
           GROUP BY o_orderpriority
           ORDER BY o_orderpriority""",
        Map("min_price" -> 50000.0, "since" -> "1998-01-01"))
    },

    // Spark 4 EXECUTE IMMEDIATE — the dynamic-SQL surface (a query text
    // assembled at runtime, parameters bound via USING rather than
    // spliced): the remaining piece of the parameterized-SQL family
    // next to q_param_sql's sql(query, args) form. The inner statement
    // resolves through the same parser/Catalyst path, so pushdown and
    // plan shape match the literal form.
    // Spark 4 SQL scalar UDF (CREATE FUNCTION ... RETURN expr): the
    // catalog-function path for shared business logic — unlike a Scala
    // UDF the body is pure SQL, so Catalyst INLINES it (the plan is
    // identical to writing the expression in place: whole-stage
    // codegen'd, no black-box eval, pushdown still works). The oracle
    // simply inlines the same expression, which is exactly what the
    // optimizer does.
    "q_sql_udf" -> { (s, dir) =>
      Tables(s, dir, "lineitem").createOrReplaceTempView("li_udf")
      s.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION graft_disc_price(
             p DECIMAL(18,4), d DECIMAL(18,4))
           RETURNS DECIMAL(38,8)
           RETURN p * (CAST(1 AS DECIMAL(18,4)) - d)""")
      s.sql(
        """SELECT l_returnflag, count(*) AS n_lines,
             CAST(sum(graft_disc_price(
               CAST(l_extendedprice AS DECIMAL(18,4)),
               CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
           FROM li_udf
           GROUP BY l_returnflag ORDER BY l_returnflag""")
    },

    "q_exec_immediate" -> { (s, dir) =>
      Tables(s, dir, "orders").createOrReplaceTempView("orders_ei")
      s.sql(
        """EXECUTE IMMEDIATE
             'SELECT o_orderstatus, count(*) AS n,
                CAST(min(o_totalprice) AS DOUBLE) AS min_price
              FROM orders_ei WHERE o_totalprice >= :floor
              GROUP BY o_orderstatus ORDER BY o_orderstatus'
           USING 100000.0 AS floor""")
    },

    // Spark 4 SQL pipe syntax (SPARK-49555): the linear dataflow spelling
    // of the SQL surface — each |> stage is one logical operator in plan
    // order, the same mental model as the DataFrame API. The parser lowers
    // it to the identical Catalyst plan as the nested-SELECT form (verified:
    // the date predicate reaches the parquet scan as a PushedFilter, the
    // customer dim broadcasts, EXTEND's derived column is a plain Project),
    // so the oracle is simply the standard-SQL equivalent.
    "q_pipe_sql" -> { (s, dir) =>
      Tables(s, dir, "orders").createOrReplaceTempView("orders_pipe")
      Tables(s, dir, "customer").createOrReplaceTempView("customer_pipe")
      s.sql(
        """FROM orders_pipe
           |> WHERE o_orderdate >= DATE '1997-01-01'
           |> JOIN customer_pipe ON o_custkey = c_custkey
           |> AGGREGATE count(*) AS n_orders,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
              GROUP BY c_mktsegment
           |> EXTEND round(total / n_orders, 2) AS avg_price
           |> WHERE n_orders > 0
           |> ORDER BY c_mktsegment""")
    },

    // ROLLUP over the region/nation hierarchy (null keys -> 'ALL').
    "q_rollup" -> { (s, dir) =>
      val c = Tables(s, dir, "customer")
      val n = Tables(s, dir, "nation")
      val r = Tables(s, dir, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("sum_acctbal"))
        .select(
          coalesce(col("r_name"), lit("ALL")).as("region"),
          coalesce(col("n_name"), lit("ALL")).as("nation"),
          col("n_customers"), col("sum_acctbal"))
        .orderBy("region", "nation")
    },

    // CUBE over two independent dims.
    "q_cube" -> { (s, dir) =>
      Tables(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n"), col("sum_qty"))
        .orderBy("returnflag", "linestatus")
    },

    // Explicit GROUPING SETS (SQL form).
    "q_grouping_sets" -> { (s, dir) =>
      Tables(s, dir, "orders").createOrReplaceTempView("orders_gs")
      s.sql(
        """SELECT coalesce(o_orderstatus, 'ALL') AS status,
                  coalesce(o_orderpriority, 'ALL') AS priority,
                  count(*) AS n,
                  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
           FROM orders_gs
           GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
           ORDER BY status, priority""")
    },

    // grouping_id disambiguates which grouping-set a row came from —
    // the bitmask form downstream consumers key on (coalesce-to-'ALL'
    // breaks when a real value equals the sentinel).
    "q_grouping_id" -> { (s, dir) =>
      Tables(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"))
        .select(col("gid"), col("o_orderstatus"), col("o_orderpriority"), col("n"))
        .orderBy("gid", "o_orderstatus", "o_orderpriority")
    },

    // Distinct aggregate + plain counts in one pass.
    "q_count_distinct" -> { (s, dir) =>
      Tables(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          countDistinct(col("o_custkey")).as("n_customers"),
          count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("o_orderpriority")
    },

    // Approximate distinct (HLL++) — no exact oracle by construction;
    // registered rows-only. The ScalaTest spec bounds its error vs exact.
    "q_approx_distinct" -> { (s, dir) =>
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_partkey")).as("approx_parts"),
          approx_count_distinct(col("l_orderkey")).as("approx_orders"))
        .orderBy("l_returnflag")
    },

    // Ranking window: top-3 orders per customer by price.
    "q_window_rank" -> { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("o_custkey", "rk", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rk")
    },

    // Running-total window (rows frame), decimal-exact sums.
    "q_window_running" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "events").select(
        col("user_id"), col("event_id"),
        sum(col("value").cast(DecimalType(18, 4))).over(w).cast(DoubleType).as("running_value"),
        count(lit(1)).over(w).as("running_n"))
        .orderBy("user_id", "event_id")
    },

    // lag/lead analytics.
    "q_window_lag" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables(s, dir, "events").select(
        col("user_id"), col("event_id"), col("value"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("event_type"), 1).over(w).as("next_type"))
        .orderBy("user_id", "event_id")
    },

    // Global top-k -> TakeOrderedAndProject (no full sort at scale).
    "q_topk" -> { (s, dir) =>
      Tables(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(25)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    },

    // INTERSECT (set semantics).
    "q_intersect" -> { (s, dir) =>
      val o = Tables(s, dir, "orders")
      o.filter(col("o_orderstatus") === "O").select("o_custkey")
        .intersect(o.filter(col("o_orderstatus") === "F").select("o_custkey"))
        .orderBy("o_custkey")
    },

    // EXCEPT (set semantics): customers ordering in 1995 but never 2001.
    "q_except" -> { (s, dir) =>
      val o = Tables(s, dir, "orders")
      o.filter(year(col("o_orderdate")) === 1995).select("o_custkey")
        .except(o.filter(year(col("o_orderdate")) === 2001).select("o_custkey"))
        .orderBy("o_custkey")
    },

    // Multi-column sort with explicit null/direction semantics.
    "q_sort_multi" -> { (s, dir) =>
      Tables(s, dir, "orders")
        .select(
          col("o_orderpriority"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          col("o_totalprice"))
        .orderBy(col("o_orderpriority").asc, col("order_date").desc, col("o_orderkey").asc)
        .limit(200)
    },

    // Scalar string functions (F4 generalization).
    "q_scalar_string" -> { (s, dir) =>
      Tables(s, dir, "customer").select(
        col("c_custkey"),
        upper(col("c_mktsegment")).as("seg_upper"),
        length(col("c_name")).cast(LongType).as("name_len"),
        substring(col("c_name"), 1, 8).as("name_prefix"),
        concat_ws("-", col("c_mktsegment"), col("c_custkey")).as("seg_key"),
        regexp_extract(col("c_name"), "([0-9]+)", 1).as("name_digits"),
        replace(col("c_name"), lit("Customer"), lit("Cust")).as("name_short"))
        .orderBy("c_custkey")
    },

    // Scalar date functions (F1 generalization).
    "q_scalar_date" -> { (s, dir) =>
      Tables(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        (weekday(col("o_orderdate")) + 1).as("isodow"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        date_format(date_add(col("o_orderdate").cast(DateType), 30), "yyyy-MM-dd").as("due_date"),
        datediff(lit("2002-01-01").cast(DateType), col("o_orderdate").cast(DateType)).as("age_days"))
        .orderBy("o_orderkey")
    },

    // Scalar math functions; transcendentals rounded to dodge last-ulp
    // libm differences between engines.
    "q_scalar_math" -> { (s, dir) =>
      Tables(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        round(sqrt(col("l_extendedprice")), 6).as("sqrt_price"),
        round(log(col("l_extendedprice")), 6).as("ln_price"),
        round(pow(col("l_discount"), 2), 6).as("disc_sq"),
        ceil(col("l_quantity")).as("qty_ceil"),
        floor(col("l_extendedprice") / 1000).as("price_k"),
        abs(col("l_quantity") - 25).as("qty_dev"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // Correlated scalar subquery: orders above their customer's average.
    // Catalyst decorrelates (RewriteCorrelatedScalarSubquery) into an
    // aggregate + join — no per-row subquery execution (SURVEY §4).
    "q_corr_subquery" -> { (s, dir) =>
      Tables(s, dir, "orders").createOrReplaceTempView("orders_cs")
      s.sql(
        """SELECT o_orderkey, o_custkey, o_totalprice
           FROM orders_cs o
           WHERE o_totalprice > 1.5 * (
             SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                    / count(*) FROM orders_cs i
             WHERE i.o_custkey = o.o_custkey)
           ORDER BY o_orderkey""")
    },

    // LATERAL correlated subquery with ORDER BY + LIMIT: per-nation
    // top-3 customers by balance. Declaratively a per-row nested loop;
    // Catalyst DECORRELATES it into a ranked-window join — one shuffle,
    // no per-outer-row re-execution, no CartesianProduct (the plan gate
    // asserts both), so the same query shape runs on a 100 TB outer.
    "q_lateral_topk" -> { (s, dir) =>
      Tables(s, dir, "nation").createOrReplaceTempView("nation_lt")
      Tables(s, dir, "customer").createOrReplaceTempView("customer_lt")
      s.sql(
        """SELECT n_name, c_name, c_acctbal
           FROM nation_lt, LATERAL (
             SELECT c_name, c_acctbal FROM customer_lt
             WHERE c_nationkey = n_nationkey
             ORDER BY c_acctbal DESC, c_name LIMIT 3)
           ORDER BY n_name, c_acctbal DESC, c_name""")
    },

    // PIVOT: per-user event-type counts as columns (wide aggregation).
    "q_pivot" -> { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("user_id")
    },

    // Exact percentiles (median / p90) per group. Spark `percentile` and
    // DuckDB `quantile_cont` both interpolate linearly; rounded to dodge
    // last-ulp libm differences.
    "q_percentile" -> { (s, dir) =>
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_extendedprice, 0.5)"), 4).as("median_price"),
          round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"),
          round(expr("percentile(l_quantity, 0.5)"), 4).as("median_qty"))
        .orderBy("l_returnflag")
    },

    // Second-moment statistical aggregates: correlation, covariance,
    // variance, skewness/kurtosis, and the bivariate regr_* family — all
    // merge-able moment sketches (n, Σx, Σy, Σxx, Σyy, Σxy, m3, m4), so
    // one partial+final shuffle regardless of group size. Rounded to
    // dodge summation-order ulp drift vs the oracle; moments taken over
    // small-magnitude columns (quantity, discount) so absolute double
    // error sits far below the rounding grain.
    "q_stats_agg" -> { (s, dir) =>
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
          round(covar_samp(col("l_quantity"), col("l_discount")), 8).as("covar_s"),
          round(covar_pop(col("l_quantity"), col("l_discount")), 8).as("covar_p"),
          round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
          round(var_pop(col("l_discount")), 10).as("var_disc"),
          round(skewness(col("l_quantity")), 6).as("skew_qty"),
          round(kurtosis(col("l_quantity")), 6).as("kurt_qty"),
          round(expr("regr_slope(l_extendedprice, l_quantity)"), 6).as("slope"),
          round(expr("regr_intercept(l_extendedprice, l_quantity)"), 4).as("icept"),
          round(expr("regr_r2(l_extendedprice, l_quantity)"), 6).as("r2"))
        .orderBy("l_returnflag")
    },

    // Schema-drift union: a day-2 source dropped a column; unionByName
    // with allowMissingColumns null-fills instead of failing — drift
    // becomes nullability (the engine's schema-drift stance, SURVEY §1.3).
    "q_union_drift" -> { (s, dir) =>
      val o = Tables(s, dir, "orders")
      val full = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val drifted = o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_orderstatus"))
      full.unionByName(drifted, allowMissingColumns = true)
        .orderBy("o_orderkey")
    },

    // Regex extraction family: first match, all matches (serialized),
    // and match count — one codegen'd pass, no UDF. Null props stays
    // null in every output (concat_ws would yield "" and size -1 on a
    // null array, diverging from the oracle's NULL semantics).
    "q_regex_extract" -> { (s, dir) =>
      val notNull = col("props").isNotNull
      Tables(s, dir, "events").select(
        col("event_id"),
        regexp_extract(col("props"), "\\d+", 0).as("first_num"),
        when(notNull,
          concat_ws(",", regexp_extract_all(col("props"), lit("\\d"), lit(0))))
          .as("digits"),
        when(notNull,
          size(regexp_extract_all(col("props"), lit("\\d"), lit(0)))
            .cast(LongType)).as("n_digits"))
        .orderBy("event_id")
    },

    // Referential-integrity audit — the pre-flight every ingest runs:
    // orphan FKs via left-anti joins, null keys, duplicate PKs. Four
    // independent scans that AQE runs as separate tiny stages; at 100 TB
    // each check is one shuffle (or none for the null scan).
    "q_integrity_check" -> { (s, dir) =>
      val o = Tables(s, dir, "orders")
      val c = Tables(s, dir, "customer")
      val li = Tables(s, dir, "lineitem")
      val orphanOrders = o
        .join(c, o("o_custkey") === c("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("n"))
        .select(lit("orders_without_customer").as("chk"), col("n"))
      val orphanLines = li
        .join(o, li("l_orderkey") === o("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n"))
        .select(lit("lineitems_without_order").as("chk"), col("n"))
      val nullKeys = o.filter(col("o_custkey").isNull)
        .agg(count(lit(1)).as("n"))
        .select(lit("orders_null_custkey").as("chk"), col("n"))
      val dupPks = o.groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("c"))
        .filter(col("c") > 1)
        .agg(count(lit(1)).as("n"))
        .select(lit("orders_duplicate_pk").as("chk"), col("n"))
      orphanOrders.unionByName(orphanLines)
        .unionByName(nullKeys).unionByName(dupPks)
        .orderBy("chk")
    },

    // Approximate percentiles (Greenwald-Khanna sketch) — the sketch
    // family's quantile member beside HLL (q_approx_distinct). Mergeable
    // partial sketches, so one narrow shuffle at any scale. No DuckDB
    // twin (engine-specific sketch) -> rows-only; the rank-error bound
    // vs exact `percentile` is asserted in SketchSpec.
    "q_approx_quantile" -> { (s, dir) =>
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("p50"),
          expr("approx_percentile(l_extendedprice, 0.95, 10000)").as("p95"))
        .orderBy("l_returnflag")
    },

    // Generator / UDTF surface (F2's explode semantics): explode document
    // tokens, aggregate frequencies, keep tokens seen in >= 100 docs.
    "q_explode_tokens" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n_occurrences"),
          countDistinct(col("doc_id")).as("n_docs"))
        .filter(col("n_docs") >= 100)
        .orderBy("token")
    },

    // Map functions (§2.8 ABSENT row): construct, extract, keys, size.
    // The oracle computes the same OUTPUT scalars directly — the map ops
    // are the Spark surface under test, not the comparison vehicle.
    "q_scalar_map" -> { (s, dir) =>
      val m = map(
        lit("et"), col("event_type"),
        lit("uid"), col("user_id").cast(StringType))
      Tables(s, dir, "events").select(
        col("event_id"),
        element_at(m, "et").as("et_val"),
        size(m).cast(LongType).as("n_entries"),
        array_join(map_keys(m), ",").as("keys"),
        map_contains_key(m, "uid").as("has_uid"))
        .orderBy("event_id")
    },

    // Array functions (§2.8 ABSENT row): build, sort, slice, contains,
    // join, distinct — DuckDB list functions as the oracle.
    "q_scalar_array" -> { (s, dir) =>
      val words = split(col("text"), " ")
      Tables(s, dir, "documents").select(
        col("doc_id"),
        array_join(slice(sort_array(array_distinct(words)), 1, 3), " ").as("first3_sorted"),
        array_contains(words, "data").as("has_data"),
        size(array_distinct(words)).cast(LongType).as("n_distinct"),
        element_at(sort_array(words, asc = false), 1).as("max_word"))
        .orderBy("doc_id")
    },

    // Salted shuffle join (operators.SkewOps): hot-key mitigation when
    // AQE's skew split can't apply. Semantics-preserving, so the oracle
    // is the plain join — the salt must not change a single row.
    "q_skew_salted_join" -> { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
      val o = Tables(s, dir, "orders").select("o_orderkey", "o_orderpriority")
      graft.operators.SkewOps
        .saltedJoin(
          li.withColumnRenamed("l_orderkey", "o_orderkey"), o,
          Seq("o_orderkey"), buckets = 8)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("o_orderpriority")
    },

    // Bucketed co-located join: lineitem + orders pre-shuffled at WRITE
    // time (`bucketBy(8, orderkey)` — see BucketedTables), then the
    // join AND the bucket-key aggregate run with ZERO shuffle exchanges;
    // the only cross-partition movement left is TakeOrderedAndProject's
    // driver-side top-k merge. At 100 TB this amortizes the catalog's
    // single largest repeated exchange (the orderkey shuffle) into one
    // stored layout. `.hint("merge")` keeps the demo honest at small SF
    // (otherwise the sub-threshold orders side would broadcast, which is
    // also shuffle-free but does not scale to two large facts).
    "q_bucket_join" -> { (s, dir) =>
      val (li, o) = graft.operators.BucketedTables.bucketJoin(s, dir)
      li.join(o.hint("merge"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderpriority"))
        .agg(graft.ops.CoreOps.dsumExact(
            col("l_extendedprice").cast(DecimalType(18, 4)) *
              (lit(1).cast(DecimalType(18, 4)) -
                col("l_discount").cast(DecimalType(18, 4)))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("o_orderkey")).limit(100)
    },

    // Bucket PRUNING on the same stored layout: an equality filter on
    // the bucket key scans exactly one of the 8 buckets
    // (SelectedBucketsCount: 1 out of 8, asserted in BucketedSpec) — at
    // 100 TB a point lookup touches 1/8 of the files before any row
    // filtering, with zero index structures maintained. The single
    // probe key derives from the data (the smallest orderkey ending in
    // 7, cached per dir so repeated construction doesn't re-pay the
    // derivation scan) and the query works at any SF without a
    // hardcoded id; a dataset with NO such key yields an empty result,
    // matching the oracle's NULL-equality semantics.
    "q_bucket_prune" -> { (s, dir) =>
      val (li, _) = graft.operators.BucketedTables.bucketJoin(s, dir)
      val probe = graft.operators.BucketedTables.probeKey(s, dir)
      // no output sort: it's a single-group result and a global sort
      // would add the plan's only exchange (driver compare sorts rows)
      li.filter(probe.map(k => col("l_orderkey") === k).getOrElse(lit(false)))
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_quantity")).as("sum_qty"))
    },

    // RFM customer segmentation (recency / frequency / monetary
    // quartiles) — the classic behavioral-cohort labeling. Scale shape:
    // ONE shuffle builds the per-customer profile (map-side partial
    // agg); quartile CUT POINTS come from a three-value exact-percentile
    // reduce over the profile — NOT a global ntile window, which would
    // sort every customer on one partition — and are broadcast back for
    // a compare-only labeling pass. Determinism: all three metrics are
    // integers (days, count, cents via exact DECIMAL sum), so the
    // interpolated quartile cuts are dyadic-exact doubles any engine
    // reproduces bit-for-bit.
    "q_rfm" -> { (s, dir) =>
      val o = Tables(s, dir, "orders")
      // The profile is branched below (cut-point reduce + labeling
      // pass), and Catalyst does not share aggregated subtrees —
      // checkpoint the |customers|-sized frame so orders is scanned
      // exactly once. The corpus max date then comes off the profile
      // (max of per-customer maxima), not a second fact-table scan.
      val per = o.groupBy(col("o_custkey"))
        .agg(max(to_date(col("o_orderdate"))).as("last_day"),
          count(lit(1)).as("freq"),
          (sum(col("o_totalprice").cast(DecimalType(18, 4))) * lit(100))
            .cast(LongType).as("mon_cents"))
        .localCheckpoint()
      val maxDay = per.agg(max(col("last_day")).as("corpus_max"))
      val rfm = per.crossJoin(broadcast(maxDay))
        .select(col("o_custkey"),
          datediff(col("corpus_max"), col("last_day")).cast(LongType).as("r_days"),
          col("freq"), col("mon_cents"))
      val qs = array(lit(0.25), lit(0.5), lit(0.75))
      val cuts = rfm.agg(
        percentile(col("r_days"), qs).as("rc"),
        percentile(col("freq"), qs).as("fc"),
        percentile(col("mon_cents"), qs).as("mc"))
      def quart(v: Column, c: Column): Column =
        (lit(1) + (v > c.getItem(0)).cast(IntegerType)
          + (v > c.getItem(1)).cast(IntegerType)
          + (v > c.getItem(2)).cast(IntegerType)).cast(LongType)
      rfm.crossJoin(broadcast(cuts))
        .select(col("o_custkey"), col("r_days"), col("freq"),
          (col("mon_cents").cast(DoubleType) / lit(1e2)).as("monetary"),
          quart(col("r_days"), col("rc")).as("rq"),
          quart(col("freq"), col("fc")).as("fq"),
          quart(col("mon_cents"), col("mc")).as("mq"),
          concat(quart(col("r_days"), col("rc")).cast(StringType),
            quart(col("freq"), col("fc")).cast(StringType),
            quart(col("mon_cents"), col("mc")).cast(StringType)).as("segment"))
        .orderBy("o_custkey")
    },

    // 2-D skyline / Pareto frontier (min price, max size): a part is on
    // the frontier iff no part is cheaper-or-equal with a larger size
    // (or equal-price larger). Scale shape: the dominance test needs
    // only per-PRICE maxima — one map-side-partial aggregate collapses
    // the corpus to |distinct prices| rows, the strictly-cheaper
    // running max is a window over that TINY aggregated domain (the
    // aggregate-then-small-global-window pattern, same as q_rfm's
    // cuts), and frontier membership is a broadcast join + filter back
    // on the base table. No all-pairs dominance join anywhere.
    "q_skyline" -> { (s, dir) =>
      val p = Tables(s, dir, "part")
      val perPrice = p.groupBy(col("p_retailprice").as("price"))
        .agg(max(col("p_size")).as("gmax"))
      // BOUNDED global window: input is the per-price maxima frame,
      // |distinct prices| rows (generator-bounded) — ExplainSpec allowlist
      val w = Window.orderBy(col("price"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val frontier = perPrice.withColumn("mlt", max(col("gmax")).over(w))
      p.join(broadcast(frontier), col("p_retailprice") === col("price"))
        .filter(col("p_size") === col("gmax") &&
          (col("mlt").isNull || col("p_size") > col("mlt")))
        .select(col("p_partkey"), col("p_name"), col("p_retailprice"),
          col("p_size").cast(LongType).as("p_size"))
        .orderBy("p_retailprice", "p_partkey")
    },

    // Exact triangle count over the part co-purchase graph (parts
    // sharing an order are linked) — GraphOps.triangleCount with the
    // degree-ordered orientation; see the operator doc for the
    // O(sqrt(m)) wedge bound that makes it survive power-law hubs.
    "q_triangle_count" -> { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
      val pairs = li.as("x").join(li.as("y"), Seq("ok"))
        .filter(col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("u"), col("y.pk").as("v"))
      graft.operators.GraphOps.triangleCount(pairs)
    },

    // Per-node local clustering coefficient over the same co-purchase
    // graph — GraphOps.clusteringCoefficients (triangle enumeration
    // charged to all three vertices by a generator, no second pair
    // join). Top-50 most clustered hubs via TakeOrderedAndProject.
    "q_clustering_coef" -> { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
      val pairs = li.as("x").join(li.as("y"), Seq("ok"))
        .filter(col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("u"), col("y.pk").as("v"))
      graft.operators.GraphOps.clusteringCoefficients(pairs)
        .orderBy(col("t").desc, col("n").asc).limit(50)
    },

    // TPC-H Q5 (local supplier volume): the 6-table snowflake join —
    // lineitem ⋈ orders ⋈ customer ⋈ supplier ⋈ nation ⋈ region with
    // the same-nation constraint — the multi-way join-order stress
    // test. Plan shape to want: region/nation broadcast (tiny),
    // customer/supplier broadcast at this SF but shuffle-joinable at
    // fleet scale (no hint forced — Catalyst picks from stats), the
    // orders date filter pushed to the scan BEFORE any join, and one
    // exact-decimal revenue aggregate.
    "q_tpch_q5" -> { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
      val o = Tables(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01").cast(DateType) &&
          col("o_orderdate") < lit("1996-01-01").cast(DateType))
      val c = Tables(s, dir, "customer")
      val su = Tables(s, dir, "supplier")
      val n = broadcast(Tables(s, dir, "nation"))
      val r = broadcast(Tables(s, dir, "region").filter(col("r_name") === "ASIA"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(su, col("l_suppkey") === col("s_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(graft.ops.CoreOps.dsumExact(
          col("l_extendedprice").cast(DecimalType(18, 4)) *
            (lit(1).cast(DecimalType(18, 4)) -
              col("l_discount").cast(DecimalType(18, 4)))).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    // Recursive CTE (Spark 4, SPARK-24497) — iteration in PURE SQL,
    // no driver-side loop: the canonical calendar-ladder recursion
    // (Spark supports UNION ALL recursion; each month row begets
    // exactly one successor, so the working set is linear in the span
    // — the shape that is SAFE under UNION ALL semantics, unlike
    // cyclic-graph walks, which stay with GraphOps' checkpointed
    // iterative joins). The generated month spine then left-joins the
    // monthly revenue rollup, so a month with zero orders still
    // surfaces — the continuity property a GROUP BY alone can't give.
    "q_recursive_cal" -> { (s, dir) =>
      // Bounds are collected ONCE (a one-row min/max aggregate) and
      // recursed against as LITERALS. The previous form joined a bounds
      // VIEW inside the recursive step, which re-ran the orders min/max
      // aggregate on EVERY monthly round (~80 rounds at the fixture's
      // date span — measured 13.1 s at sf0.1, the full-catalog sweep's
      // #1 by 1.7x); with literal bounds each round is a LocalRelation
      // step and the whole query scans orders exactly once (the monthly
      // rollup — ExplainSpec pins the single-scan bound so a regression
      // back into per-round corpus scans can't land silently). The
      // recursion itself stays pure SQL: one row per round, linear in
      // the month span, never corpus-sized.
      val b = Tables(s, dir, "orders")
        .agg(trunc(min(col("o_orderdate")), "MM").as("start_month"),
          trunc(max(col("o_orderdate")), "MM").as("end_month")).head()
      Tables(s, dir, "orders")
        .groupBy(trunc(col("o_orderdate"), "MM").as("m"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 4))).as("rev_d"))
        .createOrReplaceTempView("graft_cal_monthly")
      if (b.isNullAt(0))
        // no orders at all: empty spine, same schema (oracle NULL-bound
        // semantics — generate_series over NULL bounds is empty too)
        s.sql("""SELECT date_format(m, 'yyyy-MM') AS month, 0L AS n_orders,
          round(0.0D, 2) AS revenue
          FROM (SELECT DATE '1970-01-01' AS m) WHERE 1 = 0""")
      else
        s.sql(s"""
          WITH RECURSIVE months(m) AS (
            SELECT DATE '${b.getDate(0)}'
            UNION ALL
            SELECT add_months(m, 1) FROM months
            WHERE m < DATE '${b.getDate(1)}')
          SELECT date_format(months.m, 'yyyy-MM') AS month,
            coalesce(g.n_orders, 0L) AS n_orders,
            round(coalesce(CAST(g.rev_d AS DOUBLE), 0.0D), 2) AS revenue
          FROM months LEFT JOIN graft_cal_monthly g ON g.m = months.m
          ORDER BY month""")
    },

    // TPC-H Q8 (national market share), adapted to the generator's
    // domains: NATION_3's share of ECONOMY-part revenue sold to
    // AMERICA-region customers, per order year. The 8-table shape with
    // nation joined TWICE under different roles (customer-region
    // filter vs supplier attribution) — both broadcast; the share is a
    // conditional-over-total ratio of decimal-exact revenue sums, cast
    // to double only for the final division.
    "q_tpch_q8" -> { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
      val o = Tables(s, dir, "orders")
      val c = Tables(s, dir, "customer")
      val su = Tables(s, dir, "supplier")
      val p = Tables(s, dir, "part").filter(col("p_type") === "ECONOMY")
      val n1 = broadcast(Tables(s, dir, "nation"))
      val r = broadcast(Tables(s, dir, "region")
        .filter(col("r_name") === "AMERICA"))
      val n2 = broadcast(Tables(s, dir, "nation")
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation")))
      val rev = col("l_extendedprice").cast(DecimalType(18, 4)) *
        (lit(1).cast(DecimalType(18, 4)) - col("l_discount").cast(DecimalType(18, 4)))
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(n1, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .join(n2, col("s_nationkey") === col("s_nk"))
        .groupBy(year(col("o_orderdate")).cast(LongType).as("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_3", rev)
            .otherwise(lit(0).cast(DecimalType(18, 4)))).as("nat_rev"),
          sum(rev).as("tot_rev"))
        .select(col("o_year"),
          round(col("nat_rev").cast(DoubleType) / col("tot_rev").cast(DoubleType), 6)
            .as("mkt_share"))
        .orderBy("o_year")
    },

    // TPC-H Q3 (shipping priority), adapted to the generator's columns:
    // o_orderpriority stands in for the missing o_shippriority, and the
    // pivot date sits mid-range (1998-06-15) so both the not-yet-ordered
    // and not-yet-shipped filters keep real selectivity. Completes the
    // 22-query TPC-H suite under the q_tpch_* naming (Q1 =
    // q1_pricing_summary; q_sql_shipping_priority exercises this same
    // Q3 shape through the spark.sql entry path — different pivot date,
    // both oracle-gated). Plan shape to
    // want: BOTH date predicates pushed into their parquet scans before
    // the joins, the filtered customer segment broadcast at this SF
    // (Catalyst picks from stats, shuffle-joinable at fleet scale), and
    // the top-10 as TakeOrderedAndProject — map-side partial top-k, no
    // full sort of the per-order revenue frame.
    "q_tpch_q3" -> { (s, dir) =>
      val c = Tables(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
      val o = Tables(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1998-06-15").cast(DateType))
      val li = Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1998-06-15").cast(DateType))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"),
          col("o_orderpriority"))
        .agg(graft.ops.CoreOps.dsumExact(
          col("l_extendedprice").cast(DecimalType(18, 4)) *
            (lit(1).cast(DecimalType(18, 4)) -
              col("l_discount").cast(DecimalType(18, 4)))).as("revenue"))
        .orderBy(col("revenue").desc, col("odate"), col("l_orderkey"))
        .limit(10)
    },

    // CDC change feed (ChangeFeed.diff — the Delta-CDF / Debezium row
    // model): per-customer order count + exact cent total in two
    // adjacent half-year windows, diffed keyed on custkey — customers
    // active only in H1 emit `delete`, only in H2 `insert`, in both
    // with changed stats an `update_preimage`/`update_postimage` pair,
    // unchanged keys nothing. ONE hash-partitioned full-outer join;
    // the compared values are exact integers (decimal cents), so the
    // changed/unchanged classification is bit-stable across engines.
    "q_cdc_diff" -> { (s, dir) =>
      def snap(lo: String, hi: String) = cdcSnapshot(s, dir, lo, hi)
      graft.ops.ChangeFeed.diff(
          snap("1996-01-01", "1996-07-01"), snap("1996-07-01", "1997-01-01"),
          Seq("custkey"))
        .orderBy("custkey", "change_type")
    },

    // The SAME change feed spelled in Spark SQL through the graft_cdc
    // TVF (snapshots as temp views) — SHARES q_cdc_diff's oracle, so
    // the SQL spelling and the DataFrame diff must agree bit-for-bit.
    "q_cdc_sql" -> { (s, dir) =>
      def snap(lo: String, hi: String) = cdcSnapshot(s, dir, lo, hi)
      snap("1996-01-01", "1996-07-01").createOrReplaceTempView("graft_cdc_prev")
      snap("1996-07-01", "1997-01-01").createOrReplaceTempView("graft_cdc_cur")
      s.sql("""
        SELECT custkey, change_type, n_orders, total_cents
        FROM graft_cdc('graft_cdc_prev', 'graft_cdc_cur', 'custkey')
        ORDER BY custkey, change_type""")
    },

    // Incremental view maintenance (ChangeFeed.applyFeed): snapshot N
    // plus its change feed reconstructs snapshot N+1 WITHOUT re-reading
    // it — the oracle recomputes snapshot N+1 directly from orders, so
    // a single wrong/missing/duplicated feed application flips the
    // hash. At 100 TB the state moves through one anti-join against the
    // feed's touched keys (broadcast-sized when changes ≪ corpus) plus
    // a union of the incoming rows.
    "q_cdc_apply" -> { (s, dir) =>
      def snap(lo: String, hi: String) = cdcSnapshot(s, dir, lo, hi)
      val prev = snap("1996-01-01", "1996-07-01")
      val cur = snap("1996-07-01", "1997-01-01")
      val feed = graft.ops.ChangeFeed.diff(prev, cur, Seq("custkey"))
      graft.ops.ChangeFeed.applyFeed(prev, feed, Seq("custkey"))
        .orderBy("custkey")
    },

    // CDC across SCHEMA DRIFT (diff's allowSchemaDrift mode): the H2
    // snapshot DROPPED total_cents and ADDED max_cents — the upstream
    // schema change every long-lived pipeline eventually meets. The
    // snapshots align by name (unionByName-with-null-fill stance), the
    // null-filled columns participate in change detection (a populated
    // added/removed column makes the row an update, because the
    // materialized row really changed), and the output carries the
    // union schema. The oracle re-derives the same alignment in DuckDB.
    "q_cdc_drift" -> { (s, dir) =>
      val prev = cdcSnapshot(s, dir, "1996-01-01", "1996-07-01")
      val cur = Tables(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-07-01").cast(DateType) &&
          col("o_orderdate") < lit("1997-01-01").cast(DateType))
        .groupBy(col("o_custkey").as("custkey"))
        .agg(count(lit(1)).as("n_orders"),
          (max(col("o_totalprice").cast(DecimalType(18, 4))) * 100)
            .cast(LongType).as("max_cents"))
      graft.ops.ChangeFeed.diff(prev, cur, Seq("custkey"),
          allowSchemaDrift = true)
        .orderBy("custkey", "change_type")
    },

    // The SAME apply spelled in Spark SQL through the graft_cdc_apply
    // TVF, itself fed by graft_cdc — the whole CDC round trip in pure
    // SQL. SHARES q_cdc_apply's direct-recompute oracle.
    "q_cdc_apply_sql" -> { (s, dir) =>
      def snap(lo: String, hi: String) = cdcSnapshot(s, dir, lo, hi)
      snap("1996-01-01", "1996-07-01").createOrReplaceTempView("graft_cdca_prev")
      snap("1996-07-01", "1997-01-01").createOrReplaceTempView("graft_cdca_cur")
      s.sql("""
        SELECT * FROM graft_cdc('graft_cdca_prev', 'graft_cdca_cur', 'custkey')
      """).createOrReplaceTempView("graft_cdca_feed")
      s.sql("""
        SELECT custkey, n_orders, total_cents
        FROM graft_cdc_apply('graft_cdca_prev', 'graft_cdca_feed', 'custkey')
        ORDER BY custkey""")
    },

    // Materialized-view rewrite (SummaryRewrite — injected Catalyst
    // optimizer rule): this aggregate is WRITTEN against the raw orders
    // table, but the optimizer re-plans it onto the stored
    // (priority, status)-keyed summary — a COARSER rollup re-aggregated
    // from exact partials (count from summed counts, min/max from
    // per-key min/max, a LongType sum from summed partials). The oracle
    // computes from the BASE table in DuckDB, so a wrong or stale
    // rewrite flips the hash; SummaryRewriteSpec pins that the plan
    // scans the summary files and never the base. At 100 TB the
    // rewritten scan is |priority x status|-sized instead of the fact
    // corpus.
    "q_mv_rewrite" -> { (s, dir) =>
      graft.operators.SummaryTables.ensure(s, dir)
      Tables(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"),
          sum(col("o_orderkey")).as("key_sum"))
        .orderBy("o_orderpriority")
    },

    // The SAME rewritten aggregate through the spark.sql entry path (the
    // rule lives in the optimizer, so SQL text over a temp view of the
    // base table re-plans onto the summary identically) — SHARES
    // q_mv_rewrite's base-table oracle.
    "q_mv_rewrite_sql" -> { (s, dir) =>
      graft.operators.SummaryTables.ensure(s, dir)
      Tables(s, dir, "orders").createOrReplaceTempView("graft_mv_orders")
      s.sql("""
        SELECT o_orderpriority, count(*) AS n_orders,
          min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
          sum(o_orderkey) AS key_sum
        FROM graft_mv_orders
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    },

    // avg through the MV: SummaryRewrite derives avg(x) as
    // sum-partial / non-null-count-partial — EXACT because the stored
    // sum is integral, so both re-sums are exact longs and the single
    // double division is correctly rounded (the oracle computes the
    // same CAST(sum AS DOUBLE)/count from the BASE table). A float avg
    // (avg(o_totalprice)) has no integral partial and aborts to the
    // base scan — pinned in SummaryRewriteSpec.
    "q_mv_rewrite_avg" -> { (s, dir) =>
      graft.operators.SummaryTables.ensure(s, dir)
      Tables(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(avg(col("o_orderkey")).as("avg_okey"),
          count(col("o_orderkey")).as("n_keys"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_orderstatus")
    },

    // key-column WHERE through the MV: a predicate that references the
    // base only through summary KEY columns is constant per group, so
    // it applies verbatim to the summary relation — the commonest
    // dashboard shape (filter + rollup) answers from the keys-sized
    // summary instead of the fact scan. Non-key filters abort (pinned).
    "q_mv_rewrite_filter" -> { (s, dir) =>
      graft.operators.SummaryTables.ensure(s, dir)
      Tables(s, dir, "orders")
        .filter(col("o_orderstatus") === "F" &&
          col("o_orderpriority") =!= "3-MEDIUM")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"),
          sum(col("o_orderkey")).as("key_sum"))
        .orderBy("o_orderpriority")
    },

    // count(DISTINCT key) through the MV: the summary stores one row
    // per distinct (priority, status) tuple, so distinct statuses per
    // priority re-count EXACTLY from summary rows — no fact scan, no
    // sketch. count(DISTINCT non-key) aborts (the summary collapsed
    // those values — pinned in SummaryRewriteSpec), and with BOTH
    // fixtures registered the rule picks this (priority, status)
    // summary by cost, the custkey one being underivable here. Oracle:
    // DuckDB count(DISTINCT) from the base table.
    "q_mv_rewrite_distinct" -> { (s, dir) =>
      graft.operators.SummaryTables.ensure(s, dir)
      graft.operators.SummaryTables.ensureCust(s, dir)
      Tables(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_orderstatus")).as("n_status"),
          count(lit(1)).as("n_orders"),
          max(col("o_totalprice")).as("max_price"))
        .orderBy("o_orderpriority")
    },

    // star-schema MV: the aggregate is WRITTEN as fact ⋈ dim, and the
    // optimizer re-plans it onto summary ⋈ dim — sound because the join
    // touches the fact side only through the summary key (o_custkey),
    // so each fact group shares one join outcome and per-pair partials
    // absorb the join multiplicity exactly. At 100 TB the join input
    // shrinks from the fact corpus to |custkeys| rows (broadcastable).
    // The oracle computes the base join in DuckDB.
    "q_mv_rewrite_join" -> { (s, dir) =>
      graft.operators.SummaryTables.ensureCust(s, dir)
      Tables(s, dir, "orders")
        .join(Tables(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_orderkey")).as("key_sum"),
          min(col("o_totalprice")).as("min_price"),
          avg(col("o_orderkey")).as("avg_okey"))
        .orderBy("c_mktsegment")
    },

    // ROLLUP through the MV (the Expand shape): the grouping-sets
    // machinery — per-set null-substitution and spark_grouping_id —
    // replays over the summary relation, so the three-level dashboard
    // rollup (priority x status, priority, grand total) re-expands
    // |keys| summary rows instead of the fact corpus, once per set.
    // avg rides the sum/count partials per set. Oracle: DuckDB ROLLUP
    // over the base table.
    "q_mv_rewrite_rollup" -> { (s, dir) =>
      graft.operators.SummaryTables.ensure(s, dir)
      Tables(s, dir, "orders")
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_orderkey")).as("key_sum"),
          min(col("o_totalprice")).as("min_price"),
          avg(col("o_orderkey")).as("avg_okey"),
          grouping_id().as("gid"))
        .orderBy(col("gid"), col("o_orderpriority"), col("o_orderstatus"))
    },

    // Explicit GROUPING SETS through the MV — the third grouping-sets
    // spelling (rollup and cube are oracle-gated/spec-pinned already),
    // with an ASYMMETRIC set pattern: status appears without priority
    // in one set, so the Expand's null-substitution is exercised in
    // both directions. Same machinery: the set pattern replays over
    // the keys-sized summary.
    "q_mv_rewrite_gsets" -> { (s, dir) =>
      graft.operators.SummaryTables.ensure(s, dir)
      Tables(s, dir, "orders").createOrReplaceTempView("graft_mvg_orders")
      s.sql("""
        SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
          max(o_totalprice) AS max_price, grouping_id() AS gid
        FROM graft_mvg_orders
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                (o_orderstatus), ())
        ORDER BY gid, o_orderpriority, o_orderstatus""")
    },

    // Sum-of-EXPRESSION through the MV (SummarySpec.sumExprs): the
    // exact-cents revenue idiom — sum(CAST(CAST(price AS DEC)*100 AS
    // BIGINT)) — matches the registered expression by name-canonical
    // tree compare and answers from the stored per-group cents partial.
    // The dashboard money-rollup no longer pays the fact scan, and the
    // integral partial keeps it EXACT (the oracle recomputes the same
    // integer arithmetic from the base).
    "q_mv_rewrite_expr" -> { (s, dir) =>
      graft.operators.SummaryTables.ensure(s, dir)
      Tables(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum(expr(graft.operators.SummaryTables.CentsExprSql))
            .as("total_cents"))
        .orderBy("o_orderstatus")
    },

    // Summary-over-summary (r19): the (priority)-keyed COARSE summary is
    // built by rolling up the registered FINER (priority, status)
    // summary's partials — the build reads |finer keys| rows, never the
    // corpus — and the cost model (stored bytes, cheapest first) picks
    // it over the finer one for this GROUP BY o_orderpriority: the
    // derivation ladder a 100 TB warehouse climbs without re-scanning
    // the fact table. Every aggregate family rides it: count, min/max,
    // integral sum, avg-from-partials, and the cents EXPRESSION partial.
    // Oracle: the BASE table in DuckDB; SummaryRewriteSpec pins that the
    // plan scans the coarse summary, not the finer one or the base.
    "q_mv_rewrite_rollup2" -> { (s, dir) =>
      graft.operators.SummaryTables.ensureCoarse(s, dir)
      Tables(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"),
          sum(col("o_orderkey")).as("key_sum"),
          avg(col("o_orderkey")).as("avg_okey"),
          sum(expr(graft.operators.SummaryTables.CentsExprSql))
            .as("total_cents"))
        .orderBy("o_orderpriority")
    },

    // UNION ALL fact shape (r19): the fact is read as cold UNION ALL hot
    // (the warehouse's archive/recent split), each half a registered
    // base with its own summary — SummaryRewrite.rewriteUnion re-plans
    // the aggregate onto Union(summary_cold, summary_hot), two
    // keys-sized scans instead of two fact scans; per-branch partials
    // merge exactly like partial aggregation merges per-partition
    // partials. Partial coverage (one branch unregistered) aborts to
    // the base union — pinned in SummaryRewriteSpec. Oracle: the split
    // is a partition of orders, so the base table answers in DuckDB.
    "q_mv_rewrite_union" -> { (s, dir) =>
      val (coldP, hotP) =
        graft.operators.SummaryTables.ensureSplit(s, dir)
      s.read.parquet(coldP).union(s.read.parquet(hotP))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"),
          sum(col("o_orderkey")).as("key_sum"),
          avg(col("o_orderkey")).as("avg_okey"))
        .orderBy("o_orderpriority")
    },

    // The SAME union rewrite through the spark.sql entry path (the rule
    // lives in the optimizer; temp views of the split paths are
    // alias-eliminated before it runs) — SHARES q_mv_rewrite_union's
    // base-table oracle.
    "q_mv_rewrite_union_sql" -> { (s, dir) =>
      val (coldP, hotP) =
        graft.operators.SummaryTables.ensureSplit(s, dir)
      s.read.parquet(coldP).createOrReplaceTempView("graft_mvu_cold")
      s.read.parquet(hotP).createOrReplaceTempView("graft_mvu_hot")
      s.sql("""
        SELECT o_orderpriority, count(*) AS n_orders,
          min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
          sum(o_orderkey) AS key_sum, avg(o_orderkey) AS avg_okey
        FROM (SELECT * FROM graft_mvu_cold
              UNION ALL
              SELECT * FROM graft_mvu_hot)
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    },

    // MULTI-HOP star MV (the TPC-H Q5 family shape): the fact sits at
    // the bottom of a LEFT-DEEP join chain — orders ⋈ customer ⋈
    // nation — and the whole chain re-plans around the custkey summary,
    // because every join condition touches the fact only through the
    // summary key and the customer-nation conjunct is dim-dim (remaps
    // to itself). Grouping by a SECOND-hop dim column proves the chain
    // composes. At 100 TB the fact never enters either join.
    "q_mv_rewrite_star2" -> { (s, dir) =>
      graft.operators.SummaryTables.ensureCust(s, dir)
      Tables(s, dir, "orders")
        .join(Tables(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(Tables(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_orderkey")).as("key_sum"),
          min(col("o_totalprice")).as("min_price"),
          avg(col("o_orderkey")).as("avg_okey"))
        .orderBy("n_name")
    },

    // The SAME star rewrite through the spark.sql entry path — SHARES
    // q_mv_rewrite_join's base-tables oracle.
    "q_mv_rewrite_join_sql" -> { (s, dir) =>
      graft.operators.SummaryTables.ensureCust(s, dir)
      Tables(s, dir, "orders").createOrReplaceTempView("graft_mvj_orders")
      Tables(s, dir, "customer").createOrReplaceTempView("graft_mvj_customer")
      s.sql("""
        SELECT c_mktsegment, count(*) AS n_orders,
          sum(o_orderkey) AS key_sum, min(o_totalprice) AS min_price,
          avg(o_orderkey) AS avg_okey
        FROM graft_mvj_orders JOIN graft_mvj_customer
          ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")
    },

    // HAVING through the MV: Catalyst plans HAVING as a Filter ABOVE
    // the aggregate, so the rewrite composes with it untouched (output
    // exprIds are preserved) — the aggregate still answers from the
    // summary and the post-aggregation filter runs on keys-sized rows.
    "q_mv_rewrite_having" -> { (s, dir) =>
      graft.operators.SummaryTables.ensure(s, dir)
      Tables(s, dir, "orders").createOrReplaceTempView("graft_mvh_orders")
      s.sql("""
        SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
          min(o_totalprice) AS min_price
        FROM graft_mvh_orders
        GROUP BY o_orderpriority, o_orderstatus
        HAVING min(o_totalprice) < 5000
        ORDER BY o_orderpriority, o_orderstatus""")
    },

    // IVM freshness end-to-end (SummaryTables.maintain): the summary is
    // BUILT from the pre-1996 half of orders and brought current by the
    // incremental merge absorbing the post-cut rows as an insert feed —
    // count, non-null count, integral sum, min and max partials all flow
    // through maintain(), never a rebuild. This query re-aggregates the
    // maintained bytes (avg derived exactly as sum-partial / cnt-partial,
    // the SummaryRewrite arithmetic); the oracle recomputes from the BASE
    // table in DuckDB, so one wrong delta in any partial flips the hash.
    "q_mv_ivm" -> { (s, dir) =>
      val root = graft.operators.SummaryTables.ensureIvm(s, dir)
      s.read.parquet(root)
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("cnt")).as("n_orders"),
          min(col("min_price")).as("min_price"),
          max(col("max_price")).as("max_price"),
          sum(col("sum_okey")).as("key_sum"),
          (sum(col("sum_okey")).cast(DoubleType) /
            sum(col("cnt_okey")).cast(DoubleType)).as("avg_okey"))
        .orderBy("o_orderpriority")
    },

    // Spearman rank correlation (price vs order recency per priority) —
    // the monotone-association check Pearson misses (and q_theil_sen's
    // slope doesn't quantify). Ranks are total-ordered (ties broken by
    // order key, so rho is exactly reproducible rather than average-rank
    // approximated); BOTH rank windows share one priority exchange (two
    // sorts, one shuffle — the asOfNearest discipline). Rank sums are
    // exact decimal (order-free; products go through DECIMAL(38,0), not
    // BIGINT — rank² at a 3e10-row group would wrap int64), cast to
    // double once, and the closed-form rho runs on those exact values.
    "q_spearman" -> { (s, dir) =>
      val o = Tables(s, dir, "orders").select(
        col("o_orderpriority").as("prio"), col("o_orderkey").as("k"),
        (col("o_totalprice").cast(DecimalType(18, 4)) * 100)
          .cast(LongType).as("pc"),
        col("o_orderdate").as("d"))
      val wP = Window.partitionBy("prio").orderBy(col("pc"), col("k"))
      val wD = Window.partitionBy("prio").orderBy(col("d"), col("k"))
      val dec = DecimalType(38, 0)
      val ranked = o
        .withColumn("rx", row_number().over(wP).cast(dec))
        .withColumn("ry", row_number().over(wD).cast(dec))
      def dsum(c: Column) = sum(c).cast(DoubleType)
      val aggd = ranked.groupBy("prio").agg(
        count(lit(1)).as("n"),
        dsum(col("rx")).as("sx"), dsum(col("ry")).as("sy"),
        dsum(col("rx") * col("ry")).as("sxy"),
        dsum(col("rx") * col("rx")).as("sxx"),
        dsum(col("ry") * col("ry")).as("syy"))
      val nd = col("n").cast(DoubleType)
      val num = nd * col("sxy") - col("sx") * col("sy")
      val den = sqrt((nd * col("sxx") - col("sx") * col("sx")) *
        (nd * col("syy") - col("sy") * col("sy")))
      aggd.select(col("prio"), col("n"),
          round(num / den, 6).as("spearman_rho"))
        .orderBy("prio")
    },

    // TPC-H Q10 (returned-item reporting), adapted to the generator's
    // customer columns: revenue lost to returns per customer over one
    // quarter, top 20. The canonical 3-table fact join + broadcast dim:
    // the returnflag and date filters reach both parquet scans
    // (PushedFilters), nation broadcasts, and the top-20 runs as
    // TakeOrderedAndProject (map-side partial top-k) — revenue through
    // the decimal-exact dsumExact so both engines agg identical values.
    "q_tpch_q10" -> { (s, dir) =>
      val li = Tables(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      val o = Tables(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-10-01").cast(DateType) &&
          col("o_orderdate") < lit("1996-01-01").cast(DateType))
      val c = Tables(s, dir, "customer")
      val n = broadcast(Tables(s, dir, "nation"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(graft.ops.CoreOps.dsumExact(
          col("l_extendedprice").cast(DecimalType(18, 4)) *
            (lit(1).cast(DecimalType(18, 4)) -
              col("l_discount").cast(DecimalType(18, 4)))).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey")).limit(20)
        .select(col("c_custkey"), col("c_name"), col("revenue"),
          col("c_acctbal"), col("n_name"))
    },

    // TPC-H Q21 (suppliers who kept orders waiting), adapted to the
    // generator's columns: no receipt/commit dates, so "late" means
    // l_shipdate ran more than 60 days past o_orderdate; no nation
    // filter (the generator's per-nation supplier counts go empty at
    // sf0.001) — nation instead joins through to the output key. The
    // one classic decorrelation shape the catalog lacked: EXISTS +
    // NOT EXISTS against the SAME fact under different alias
    // conditions ("another supplier on this order exists; no OTHER
    // supplier was late"), planned as a left-semi ⋈ left-anti
    // composition on l_orderkey — the key the late-flag derivation
    // already shuffles on, so the three joins share one exchange
    // layout, and the l1/l3 late-side subplan is byte-identical
    // (ReuseExchange dedupes it). supplier/nation broadcast. (A
    // window formulation — distinct-supplier counts per order — needs
    // one shuffle fewer, but the POINT of this entry is the
    // decorrelated semi⋈anti plan the SQL EXISTS pair lowers to.)
    "q_tpch_q21" -> { (s, dir) =>
      val o = Tables(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      val lf = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") > date_add(col("o_orderdate"), 60)).as("late"))
      val l2 = lf.select(col("l_orderkey").as("k2"), col("l_suppkey").as("s2"))
      val l3 = lf.filter(col("late"))
        .select(col("l_orderkey").as("k3"), col("l_suppkey").as("s3"))
      lf.filter(col("late"))
        .join(l2,
          col("k2") === col("l_orderkey") && col("s2") =!= col("l_suppkey"),
          "left_semi")
        .join(l3,
          col("k3") === col("l_orderkey") && col("s3") =!= col("l_suppkey"),
          "left_anti")
        .join(broadcast(Tables(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("s_name"), col("n_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
    },

    // TPC-H Q2 (min-cost supplier), adapted to the generator's schema:
    // no partsupp table, so the part-supplier "supply cost" relation is
    // DERIVED from lineitem — min unit price (extendedprice/quantity)
    // each supplier ever charged for each part. The Q2 shape is the
    // correlated scalar-min subquery ("the supplier whose cost equals
    // the regional minimum for this part"), decorrelated as an
    // aggregate-then-rejoin. Plan discipline: the selective part filter
    // (STANDARD, size<=5) lands BEFORE the min-cost aggregate, so the
    // argmin runs over 25 parts' rows, not 3k parts'; region-filtered
    // suppliers and the per-part minima are both broadcast-tiny; the
    // one real shuffle is the (part, supplier) aggregate off the scan.
    // The cost equality join is double-exact: both sides are the min of
    // the IDENTICAL per-row divisions, so the bits match.
    "q_tpch_q2" -> { (s, dir) =>
      val eu = Tables(s, dir, "supplier")
        .join(broadcast(Tables(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables(s, dir, "region")
          .filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
      val pf = Tables(s, dir, "part")
        .filter(col("p_type") === "STANDARD" && col("p_size") <= 5)
        .select(col("p_partkey"), col("p_name"))
      val ps = Tables(s, dir, "lineitem")
        .join(broadcast(pf), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_partkey"), col("p_name"), col("l_suppkey"))
        .agg(min(col("l_extendedprice") / col("l_quantity")).as("cost"))
        .join(broadcast(eu), col("l_suppkey") === col("s_suppkey"))
      val minCost = ps.groupBy(col("p_partkey").as("mpk"))
        .agg(min(col("cost")).as("min_cost"))
      ps.join(broadcast(minCost),
          col("p_partkey") === col("mpk") && col("cost") === col("min_cost"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_name"), round(col("cost"), 6).as("cost"))
        .orderBy(col("s_acctbal").desc, col("s_name"), col("p_partkey"))
    },

    // TPC-H Q13 (customer order-count distribution): the left-outer
    // join with the filter in the JOIN CONDITION (not WHERE — a WHERE
    // would drop order-less customers and break the histogram's zero
    // bucket), then the double aggregate: per-customer count, then the
    // count-of-counts histogram. The first groupBy reuses the join's
    // c_custkey hash partitioning (no extra exchange); the histogram
    // regroup runs on the |customers|-row frame, and its output is
    // ~20 rows. Generator adaptation: the TPC-H comment NOT LIKE
    // filter becomes an order-priority exclusion.
    "q_tpch_q13" -> { (s, dir) =>
      Tables(s, dir, "customer").select(col("c_custkey"))
        .join(Tables(s, dir, "orders")
          .filter(col("o_orderpriority") =!= "1-URGENT")
          .select(col("o_custkey"), col("o_orderkey")),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },

    // TPC-H Q17 (small-quantity-order revenue): the canonical
    // correlated-AVG subquery ("lines whose quantity is under 20% of
    // this part's average"), decorrelated as a per-part aggregate
    // rejoined to the fact. Both passes run over the brand-pruned
    // lineitem (a broadcast part-filter join — the pushdown that keeps
    // the double scan affordable; at fleet scale the decorrelated
    // aggregate IS the textbook plan, the row-at-a-time subquery is
    // not runnable at all). The per-part averages are |brand parts|
    // rows — broadcast back. avg is written sum/count over integral
    // quantities, exact in double in both engines; revenue goes
    // through the decimal-exact sum.
    "q_tpch_q17" -> { (s, dir) =>
      val pf = Tables(s, dir, "part")
        .filter(col("p_brand") === "Brand#23").select(col("p_partkey"))
      val li = Tables(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
        .join(broadcast(pf), col("l_partkey") === col("p_partkey"))
      val avgQ = li.groupBy(col("p_partkey").as("pk"))
        .agg((sum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
      li.join(broadcast(avgQ), col("p_partkey") === col("pk"))
        .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg(count(lit(1)).as("n_lines"),
          round(graft.ops.CoreOps.dsumExact(
            col("l_extendedprice").cast(DecimalType(18, 4)))
            .cast(DoubleType) / lit(7.0), 2).as("avg_yearly"))
    },

    // TPC-H Q18 (large-volume customers): the IN-subquery-with-HAVING
    // shape — orders whose total line quantity clears a threshold —
    // planned as the aggregate-then-join decorrelation (the per-order
    // quantity aggregate is computed ONCE and reused as both the
    // membership filter and the output column, where the SQL form's
    // regroup would aggregate twice). One fact shuffle for the order
    // aggregate; the filtered survivors (~46 orders at sf0.01) join
    // orders on the SAME key, customer broadcasts, and the top-100
    // runs as TakeOrderedAndProject. Quantity sums are integral
    // doubles — exact in both engines.
    "q_tpch_q18" -> { (s, dir) =>
      val big = Tables(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 300.0)
      Tables(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(Tables(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(100)
    },

    // TPC-H Q22 (global sales opportunity): the ungrouped-scalar
    // subquery + NOT EXISTS composition — customers above the
    // positive-balance average who never placed an urgent order
    // (generator adaptation: every customer has orders, so the anti
    // set is "no 1-URGENT order"; the phone-prefix grouping becomes
    // the market segment). The scalar average is a one-row broadcast
    // cross join (decimal-exact sum, so the threshold double is
    // bit-identical cross-engine); the NOT EXISTS is a left-anti join
    // against the priority-pruned orders projection — the filter
    // reaches the orders scan, so the anti side ships only urgent
    // custkeys. Output balances go through the decimal-exact sum.
    "q_tpch_q22" -> { (s, dir) =>
      val avgBal = Tables(s, dir, "customer")
        .filter(col("c_acctbal") > 0.0)
        .agg(davg(col("c_acctbal")).as("avg_bal"))
      Tables(s, dir, "customer")
        .crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(Tables(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("numcust"),
          dsum(col("c_acctbal")).as("totacctbal"))
        .orderBy("c_mktsegment")
    },

    // TPC-H Q4 (order priority checking): EXISTS with a CROSS-SIDE
    // date predicate — the semi join's condition reads both the outer
    // row (o_orderdate) and the inner (l_shipdate), so it can't be
    // pushed as a plain filter; it rides the join. Quarter filter
    // pushed to the orders scan; generator adaptation: "late" =
    // shipped >45 days after order date (no commit/receipt dates).
    "q_tpch_q4" -> { (s, dir) =>
      Tables(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast(DateType) &&
          col("o_orderdate") < lit("1996-04-01").cast(DateType))
        .join(Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_shipdate")),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > date_add(col("o_orderdate"), 45),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },

    // TPC-H Q6 (forecasting revenue change): the pure scan-aggregate —
    // every predicate (date year, discount band, quantity cap) reaches
    // the parquet scan as PushedFilters, no join, no groupBy; ONE
    // single-partition exchange for the global sum. The query that
    // measures nothing but scan + filter + partial-agg throughput.
    "q_tpch_q6" -> { (s, dir) =>
      Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast(DateType) &&
          col("l_shipdate") < lit("1997-01-01").cast(DateType) &&
          col("l_discount") >= 0.02 && col("l_discount") <= 0.04 &&
          col("l_quantity") < 24.0)
        .agg(count(lit(1)).as("n_lines"),
          graft.ops.CoreOps.dsumExact(
            col("l_extendedprice").cast(DecimalType(18, 4)) *
              col("l_discount").cast(DecimalType(18, 4))).as("revenue"))
    },

    // TPC-H Q7 (volume shipping), region-adapted (nation-pair volumes
    // go empty at sf0.001): bidirectional trade between ASIA suppliers
    // and AMERICA customers by ship year. Each side is pre-pruned to
    // the two regions BEFORE touching the fact (broadcast nation ⋈
    // region dims), so the selective filter cuts the join inputs, and
    // the or-of-pairs predicate runs on the already-narrowed rows.
    "q_tpch_q7" -> { (s, dir) =>
      val regions = Seq("ASIA", "AMERICA")
      val nr = Tables(s, dir, "nation")
        .join(broadcast(Tables(s, dir, "region")
          .filter(col("r_name").isin(regions: _*))),
          col("n_regionkey") === col("r_regionkey"))
      val su = Tables(s, dir, "supplier")
        .join(broadcast(nr.select(col("n_nationkey").as("snk"),
          col("r_name").as("supp_region"))),
          col("s_nationkey") === col("snk"))
        .select(col("s_suppkey"), col("supp_region"))
      val cu = Tables(s, dir, "customer")
        .join(broadcast(nr.select(col("n_nationkey").as("cnk"),
          col("r_name").as("cust_region"))),
          col("c_nationkey") === col("cnk"))
        .select(col("c_custkey"), col("cust_region"))
      Tables(s, dir, "lineitem")
        .join(Tables(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .join(cu, col("o_custkey") === col("c_custkey"))
        .filter((col("supp_region") === "ASIA" && col("cust_region") === "AMERICA") ||
          (col("supp_region") === "AMERICA" && col("cust_region") === "ASIA"))
        .groupBy(col("supp_region"), col("cust_region"),
          year(col("l_shipdate")).cast(LongType).as("l_year"))
        .agg(graft.ops.CoreOps.dsumExact(
          col("l_extendedprice").cast(DecimalType(18, 4)) *
            (lit(1).cast(DecimalType(18, 4)) -
              col("l_discount").cast(DecimalType(18, 4)))).as("revenue"))
        .orderBy("supp_region", "cust_region", "l_year")
    },

    // TPC-H Q9 (product type profit), adapted: no partsupp, so supply
    // cost is the synthetic 0.6·p_retailprice per unit — carried as
    // EXACT integer milli-dollars (retail cents x 6 x integral qty).
    // Generator contract (load-bearing for cross-engine exactness): the
    // cents cast below requires 2-decimal prices — a sub-cent price
    // would TRUNCATE here but ROUND in DuckDB's BIGINT cast. The cost
    // accumulates as DecimalType, not BIGINT: Spark's sum(LongType)
    // wraps silently at 2^63 while DuckDB promotes to HUGEINT, so the
    // decimal sum (raises on overflow, never wraps) keeps the "exact
    // integer" invariant data-independent; profit = decimal-exact
    // revenue minus one exact division, no float accumulates anywhere.
    // Name-substring part filter broadcast-pruned into the fact scan.
    "q_tpch_q9" -> { (s, dir) =>
      val pf = Tables(s, dir, "part")
        .filter(col("p_name").contains("gear"))
        .select(col("p_partkey"),
          ((col("p_retailprice").cast(DecimalType(18, 4)) * 100)
            .cast(LongType) * 6).as("cost_millis_unit"))
      Tables(s, dir, "lineitem")
        .join(broadcast(pf), col("l_partkey") === col("p_partkey"))
        .join(Tables(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(Tables(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name"),
          year(col("o_orderdate")).cast(LongType).as("o_year"))
        .agg(
          graft.ops.CoreOps.dsumExact(
            col("l_extendedprice").cast(DecimalType(18, 4)) *
              (lit(1).cast(DecimalType(18, 4)) -
                col("l_discount").cast(DecimalType(18, 4)))).as("rev_d"),
          sum((col("cost_millis_unit") * col("l_quantity").cast(LongType))
            .cast(DecimalType(38, 0))).as("cost_millis"))
        .select(col("n_name").as("nation"), col("o_year"),
          // Decimal->double is BigDecimal.doubleValue (correctly
          // rounded), identical to the oracle's BIGINT->DOUBLE for any
          // in-range sum
          (col("rev_d") - col("cost_millis").cast(DoubleType) / lit(1000.0))
            .as("profit"))
        .orderBy(col("nation"), col("o_year").desc)
    },

    // TPC-H Q11 (important stock), adapted: "inventory value" per part
    // held by NATION_7 suppliers, kept when it clears 1.5x the fair
    // (mean) share — the grouped-aggregate-vs-ungrouped-scalar HAVING
    // shape, made scale-free (TPC-H's fixed fraction empties as part
    // count grows). Value terms are exact decimal products; the
    // threshold scalar is a one-row broadcast; the val/total doubles
    // convert from the SAME decimal sums on both engines.
    "q_tpch_q11" -> { (s, dir) =>
      val v = Tables(s, dir, "lineitem")
        .join(Tables(s, dir, "supplier")
          .join(broadcast(Tables(s, dir, "nation")
            .filter(col("n_name") === "NATION_7")),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 4)) *
          col("l_extendedprice").cast(DecimalType(18, 4))).as("val_dec"))
        .localCheckpoint()
      val tot = v.agg(sum(col("val_dec")).cast(DoubleType).as("total"),
        count(lit(1)).as("n_parts"))
      v.crossJoin(broadcast(tot))
        .filter(col("val_dec").cast(DoubleType) >
          lit(1.5) * col("total") / col("n_parts").cast(DoubleType))
        .select(col("l_partkey"),
          col("val_dec").cast(DoubleType).as("value"))
        .orderBy(col("value").desc, col("l_partkey"))
    },

    // TPC-H Q12 (shipping modes and priority), adapted: no shipmode
    // column, so the mode becomes a DERIVED delay band (FAST = within
    // 30 days of order). The shape is the conditional-count aggregate:
    // urgent vs non-urgent order counts per band, one join + one
    // 2-row group.
    "q_tpch_q12" -> { (s, dir) =>
      Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast(DateType) &&
          col("l_shipdate") < lit("1997-01-01").cast(DateType))
        .join(Tables(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(
          when(col("l_shipdate") <= date_add(col("o_orderdate"), 30), "FAST")
            .otherwise("SLOW").as("ship_band"),
          col("o_orderpriority"))
        .groupBy(col("ship_band"))
        .agg(
          sum(when(col("o_orderpriority") === "1-URGENT" ||
            col("o_orderpriority") === "2-HIGH", 1L).otherwise(0L))
            .as("high_line_count"),
          sum(when(col("o_orderpriority") =!= "1-URGENT" &&
            col("o_orderpriority") =!= "2-HIGH", 1L).otherwise(0L))
            .as("low_line_count"))
        .orderBy("ship_band")
    },

    // TPC-H Q14 (promotion effect): conditional-over-total revenue
    // ratio for one ship month — part type broadcast-joined into the
    // month-pruned fact, both decimal-exact sums in ONE aggregate,
    // the percentage one double expression (unrounded: identical
    // inputs + identical op tree = identical bits cross-engine).
    "q_tpch_q14" -> { (s, dir) =>
      val rev = col("l_extendedprice").cast(DecimalType(18, 4)) *
        (lit(1).cast(DecimalType(18, 4)) -
          col("l_discount").cast(DecimalType(18, 4)))
      Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-03-01").cast(DateType) &&
          col("l_shipdate") < lit("1996-04-01").cast(DateType))
        .join(broadcast(Tables(s, dir, "part")
          .select(col("p_partkey"), col("p_type"))),
          col("l_partkey") === col("p_partkey"))
        .agg(
          graft.ops.CoreOps.dsumExact(
            when(col("p_type") === "PROMO", rev)
              .otherwise(lit(0).cast(DecimalType(18, 4)))).as("promo_d"),
          graft.ops.CoreOps.dsumExact(rev).as("total_d"))
        .select((lit(100.0) * col("promo_d") / col("total_d"))
          .as("promo_revenue_pct"))
    },

    // TPC-H Q15 (top supplier): aggregate -> global-max scalar ->
    // equality join back, ties included by construction (the MAX is
    // computed FROM the same aggregate, so the double equality is
    // exact). One fact exchange for the per-supplier aggregate
    // (checkpointed — branched into the max probe and the winner
    // filter), supplier dim broadcast-joined to the survivors.
    "q_tpch_q15" -> { (s, dir) =>
      val r = Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast(DateType) &&
          col("l_shipdate") < lit("1996-04-01").cast(DateType))
        .groupBy(col("l_suppkey"))
        .agg(graft.ops.CoreOps.dsumExact(
          col("l_extendedprice").cast(DecimalType(18, 4)) *
            (lit(1).cast(DecimalType(18, 4)) -
              col("l_discount").cast(DecimalType(18, 4))))
          .as("total_revenue"))
        .localCheckpoint()
      r.crossJoin(broadcast(r.agg(max(col("total_revenue")).as("max_rev"))))
        .filter(col("total_revenue") === col("max_rev"))
        .join(broadcast(Tables(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy("s_suppkey")
    },

    // TPC-H Q16 (part/supplier relationship): distinct-supplier counts
    // per (brand, type, size) with a NOT-IN supplier exclusion —
    // planned as a broadcast left-anti join (the exclusion list is the
    // scan-filtered supplier projection) + a single-distinct two-level
    // aggregate (no Expand). The (part, supp) grain comes straight
    // from lineitem (no partsupp in the generator).
    "q_tpch_q16" -> { (s, dir) =>
      val sizes = Seq(1, 5, 9, 14, 23, 36, 45, 49)
      Tables(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"))
        .join(broadcast(Tables(s, dir, "part")
          .filter(col("p_type") =!= "PROMO" && col("p_size").isin(sizes: _*))),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables(s, dir, "supplier")
          .filter(col("s_acctbal") < 0.0).select(col("s_suppkey"))),
          col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    },

    // TPC-H Q19 (discounted revenue): the disjunctive OR-of-ANDs
    // predicate — three (brand, size-band, quantity-band) arms that
    // CANNOT collapse to one conjunctive pushdown. The join key and
    // the quantity arms still prune: partkey equi-join stays a hash
    // join (the OR is a post-join filter on broadcast-part columns),
    // and the common `l_quantity <= 35` envelope is pushed to the
    // fact scan while the per-arm bands run post-join.
    "q_tpch_q19" -> { (s, dir) =>
      val arm = (brand: String, szHi: Int, qLo: Int, qHi: Int) =>
        col("p_brand") === brand &&
          col("p_size").between(1, szHi) &&
          col("l_quantity").between(qLo.toDouble, qHi.toDouble)
      Tables(s, dir, "lineitem")
        .filter(col("l_quantity") >= 1.0 && col("l_quantity") <= 35.0)
        .join(broadcast(Tables(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"), col("p_size"))),
          col("l_partkey") === col("p_partkey"))
        .filter(arm("Brand#12", 15, 1, 15) || arm("Brand#23", 20, 10, 25) ||
          arm("Brand#34", 25, 20, 35))
        .agg(count(lit(1)).as("n_lines"),
          graft.ops.CoreOps.dsumExact(
            col("l_extendedprice").cast(DecimalType(18, 4)) *
              (lit(1).cast(DecimalType(18, 4)) -
                col("l_discount").cast(DecimalType(18, 4)))).as("revenue"))
    },

    // TPC-H Q20 (potential part promotion), adapted: suppliers whose
    // shipped share of some 'red' part exceeds 2x the fair (mean)
    // share — the nested correlated-aggregate shape (per-pair quantity
    // vs a per-part total at a DIFFERENT grain), decorrelated as two
    // aggregates off one (part, supplier) frame (the totals regroup
    // the pair frame — no second fact scan), joined back on the part
    // key. Share comparison is exact: integral-quantity sums in
    // doubles, integer multiply beats division. Supplier/nation dims
    // broadcast into the survivor set.
    "q_tpch_q20" -> { (s, dir) =>
      val pairs = Tables(s, dir, "lineitem")
        .join(broadcast(Tables(s, dir, "part")
          .filter(col("p_name").startsWith("red"))
          .select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity")).as("pq"))
        .localCheckpoint()
      val tot = pairs.groupBy(col("p_partkey").as("tpk"))
        .agg(sum(col("pq")).as("tq"), count(lit(1)).as("ns"))
      pairs.join(tot, col("p_partkey") === col("tpk"))
        .filter(col("pq") * col("ns").cast(DoubleType) > lit(2.0) * col("tq"))
        .select(col("l_suppkey")).distinct()
        .join(broadcast(Tables(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
        .orderBy("s_suppkey")
    },

    // IQR-trimmed mean per segment — the robust location estimate
    // (outliers beyond the quartiles don't move it). Cuts are exact
    // percentiles over integer cents at dyadic probes (cross-engine
    // exact), broadcast back for a compare-only second aggregate; the
    // trimmed mean itself is an exact integer sum over survivors.
    "q_trimmed_mean" -> { (s, dir) =>
      val cents = Tables(s, dir, "orders")
        .select(col("o_orderpriority").as("prio"),
          (col("o_totalprice").cast(DecimalType(18, 4)) * lit(100))
            .cast(LongType).as("x"))
      val cuts = cents.groupBy(col("prio"))
        .agg(percentile(col("x"), lit(0.25)).as("lo"),
          percentile(col("x"), lit(0.75)).as("hi"))
      cents.join(broadcast(cuts), Seq("prio"))
        .groupBy(col("prio"))
        .agg(count(lit(1)).as("n_all"),
          count(when(col("x") >= col("lo") && col("x") <= col("hi"), lit(1)))
            .as("n_kept"),
          sum(when(col("x") >= col("lo") && col("x") <= col("hi"), col("x")))
            .as("kept_cents"))
        .select(col("prio").as("o_orderpriority"), col("n_all"), col("n_kept"),
          (col("kept_cents").cast(DoubleType) / (col("n_kept") * lit(1e2)))
            .as("trimmed_mean"))
        .orderBy("o_orderpriority")
    },

    // Modal value — the one classic SQL aggregate Spark lacks natively:
    // most frequent ship-hour per priority via count + rank-1 (ties to
    // the earliest hour, deterministic).
    "q_mode" -> { (s, dir) =>
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("n").desc, col("hour").asc)
      Tables(s, dir, "orders")
        .groupBy(col("o_orderpriority"),
          hour(col("o_orderdate")).cast(LongType).as("hour"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("o_orderpriority"), col("hour").as("modal_hour"), col("n"))
        .orderBy("o_orderpriority")
    },

    // Benford first-digit screen on order values — the classic
    // fabricated-data / ingestion-bug detector: natural multi-scale
    // amounts follow P(d) = log10(1 + 1/d); a flat or spiked profile
    // flags the source. Exactness: the leading digit comes from the
    // DECIMAL-exact cents value via string head (never float log10 of
    // the value, whose edge rounding could flip a digit); only the
    // reference probabilities touch libm, and they are round(6)ed on
    // both sides.
    "q_benford" -> { (s, dir) =>
      // BOUNDED global window: input is the 9-row first-digit frame —
      // ExplainSpec allowlist
      val tot = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables(s, dir, "orders")
        .select(substring(
          (col("o_totalprice").cast(DecimalType(18, 4)) * lit(100))
            .cast(LongType).cast(StringType), 1, 1).cast(LongType).as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
        .withColumn("share", col("n").cast(DoubleType) / sum(col("n")).over(tot))
        .select(col("digit"), col("n"), round(col("share"), 6).as("share"),
          round(log10(lit(1.0) + lit(1.0) / col("digit")), 6).as("benford_p"),
          round(col("share") - log10(lit(1.0) + lit(1.0) / col("digit")), 6)
            .as("excess"))
        .orderBy("digit")
    },

    // Gini concentration of order value within each priority segment —
    // the inequality/concentration statistic (revenue concentration,
    // data-source dominance). The rank window is PARTITIONED by
    // segment (no global sort), ranks tie-break on the key so Σi·x_i
    // is deterministic (equal x make rank order irrelevant to the
    // sum), and cents-integer arithmetic in DECIMAL(38) keeps Σi·x_i
    // exact past 2^63 at fleet row counts; the closed form
    // G = (2Σi·x_i − (n+1)Σx) / (nΣx) needs no pairwise |x_i − x_j|.
    "q_gini" -> { (s, dir) =>
      val dec = DecimalType(38, 0)
      val w = Window.partitionBy(col("prio")).orderBy(col("x"), col("o_orderkey"))
      Tables(s, dir, "orders")
        .select(col("o_orderpriority").as("prio"),
          (col("o_totalprice").cast(DecimalType(18, 4)) * lit(100))
            .cast(LongType).as("x"),
          col("o_orderkey"))
        .withColumn("i", row_number().over(w).cast(LongType))
        .groupBy(col("prio"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum((col("i") * col("x")).cast(dec)).as("sixi"))
        .select(col("prio").as("o_orderpriority"), col("n").as("n_orders"),
          ((col("sixi") * lit(2) - (col("n").cast(dec) + lit(1)) * col("sx"))
            .cast(DoubleType) /
            (col("n").cast(dec) * col("sx")).cast(DoubleType)).as("gini"))
        .orderBy("o_orderpriority")
    },

    // Z-order (Morton) key derivation — the layout primitive behind
    // LayoutOps.zorderWrite (file-level clustering on TWO dimensions so
    // min/max footer stats prune scans for predicates on either). The
    // interleave is 32 codegen'd shift/mask terms; the oracle re-derives
    // the identical bit math, and the write side's disjoint-file-range
    // guarantee is proven in LayoutOpsSpec. Exact cents come from the
    // DECIMAL cast (the q_benford discipline), never float math.
    "q_zorder" -> { (s, dir) =>
      val o = Tables(s, dir, "orders")
      val cents = (col("o_totalprice").cast(DecimalType(18, 4)) * lit(100))
        .cast(LongType)
      o.select(col("o_orderkey"),
          (col("o_custkey") % 65536).cast(LongType).as("xa"),
          (cents % 65536).cast(LongType).as("xb"))
        .select(col("o_orderkey"), col("xa"), col("xb"),
          graft.ops.LayoutOps.zValue(col("xa"), col("xb")).as("z"))
        .orderBy("o_orderkey")
    },

    // Small-file compaction (LayoutOps.compactFiles) — table maintenance
    // as a first-class op: a deliberately fragmented copy of orders (64
    // KB-scale files, the streaming-sink failure mode) is compacted to
    // ~128 MB-target files via the zero-shuffle coalesce path, write-once
    // per dir contents. The query then aggregates the COMPACTED
    // copy; the oracle aggregates the original table — hash equality IS
    // the compaction correctness claim (content identical, only layout
    // changed). File-count/bytes mechanics are pinned in LayoutOpsSpec.
    "q_compact_scan" -> { (s, dir) =>
      s.read.parquet(graft.ops.LayoutOps.ensureCompacted(s, dir))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_orderkey")).as("sum_keys"),
          sum((col("o_totalprice").cast(DecimalType(18, 4)) * lit(100))
            .cast(LongType)).as("sum_cents"))
        .orderBy("o_orderstatus")
    },

    // Degree assortativity (Newman 2002) over the part co-purchase
    // graph — does the graph wire hubs-to-hubs (r > 0, social shape) or
    // hubs-to-leaves (r < 0, web/dependency shape)? The one-number
    // topology probe that decides whether hub-aware dedup/partitioning
    // strategies (salting, degree-ordered orientation) will pay off.
    // Pearson correlation of endpoint degrees over directed stubs; every
    // accumulator is an exact BIGINT sum (degrees x degrees — no libm,
    // no float sums anywhere), one double division at the end. The pair
    // subtree is localCheckpoint'd before branching into degrees vs
    // endpoints (Catalyst re-plans branched aggregate subtrees — the
    // GraphOps discipline); the degree table is vocab-sized and joined
    // by key, never broadcast.
    "q_assortativity" -> { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
      val pairs = li.as("x").join(li.as("y"), Seq("ok"))
        .filter(col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("u"), col("y.pk").as("v")).distinct()
        .localCheckpoint()
      val deg = pairs.select(col("u").as("n"))
        .unionAll(pairs.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      val ed = pairs
        .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
        .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
      val sums = ed.agg(
        count(lit(1)).as("m"),
        sum(col("du") * col("dv")).as("sjk"),
        sum(col("du") + col("dv")).as("sj"),
        sum(col("du") * col("du") + col("dv") * col("dv")).as("sj2"))
      val bigM = (lit(2L) * col("m")).cast(DoubleType)
      val mu = col("sj").cast(DoubleType) / bigM
      sums.crossJoin(broadcast(
          deg.agg(count(lit(1)).as("n_nodes"))))
        .select(col("n_nodes"), col("m").as("n_edges"),
          round(((lit(2L) * col("sjk")).cast(DoubleType) / bigM - mu * mu) /
            (col("sj2").cast(DoubleType) / bigM - mu * mu), 6)
            .as("assortativity"))
    },

    // 2-core of the REPEAT co-purchase graph (parts sharing >= 2
    // orders — the single-shared-order graph is too dense to peel):
    // iterative deletion of degree-<2 vertices strips trees and pendant
    // chains, leaving the cyclically-connected backbone — the cohesion
    // filter run before community detection wastes effort on leaves.
    // GraphOps.kCore peels to the true fixpoint with a scalar probe per
    // round (raising if the fixpoint needs more than its maxIter cap);
    // the oracle unrolls exactly maxIter peel rounds, so both sides
    // describe the same bounded computation — peeling is monotone, so
    // post-fixpoint rounds are no-ops and over-unrolling cannot change
    // the answer (measured convergence: 6 rounds across SFs).
    "q_kcore" -> { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
      val pairs = li.as("x").join(li.as("y"), Seq("ok"))
        .filter(col("x.pk") < col("y.pk"))
        .groupBy(col("x.pk").as("u"), col("y.pk").as("v"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
        .select("u", "v")
      graft.operators.GraphOps.kCore(pairs, k = 2)
        .orderBy("id")
    },

    // Poisson bootstrap CI (the distributed bootstrap: Chamandy et al.,
    // "Estimating Uncertainty for Massive Data Streams" — per-row
    // Poisson(1) weights approximate multinomial resampling WITHOUT
    // moving any data): 40 replicate means of order value per priority,
    // CI = [2nd, 39th] order statistic of the replicate means. Weights
    // come from md5-uniform draws against hardcoded Poisson(1) CDF
    // literals (both engines compare the same doubles), so every
    // replicate sum is an exact BIGINT — the only floats are the final
    // mean divisions. Scale shape: the B-fold explode is a generator in
    // the scan (no join), the replicate aggregate is partial-agg bound
    // on a |groups x B| domain, and the order-statistic window runs on
    // the B-row-per-group frame.
    "q_bootstrap" -> { (s, dir) =>
      val nB = 40
      // fanOut (r20): 40 md5 draws per order otherwise run on the scan's
      // single task; identity at scale — CoreOps.fanOut
      val base = graft.ops.CoreOps.fanOut(
        Tables(s, dir, "orders").select(
          col("o_orderpriority").as("stratum"), col("o_orderkey"),
          (col("o_totalprice").cast(DecimalType(18, 4)) * 100)
            .cast(LongType).as("cents")), col("o_orderkey"))
      val point = base.groupBy("stratum")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"))
      // u via the native graft_md5_top32 kernel: cast(V)/2^32 is the
      // exact same double as the oracle's 16-adic digit sum (both are
      // V·2⁻³² with every step exact — HashExpressionsSpec pins it),
      // at one digest and zero hex-string work per (row, replicate)
      val rep = base.withColumn("b", explode(sequence(lit(1), lit(nB))))
      val u = call_function("graft_md5_top32",
          concat(lit("bs:"), col("b").cast(StringType),
            lit(":"), col("o_orderkey").cast(StringType)))
        .cast(DoubleType) / lit(4294967296.0)
      // Poisson(1) inverse CDF: cumulative literals for w = 0..5
      val w = when(u < lit(0.36787944117144233), 0L)
        .when(u < lit(0.7357588823428847), 1L)
        .when(u < lit(0.9196986029286058), 2L)
        .when(u < lit(0.9810118431238462), 3L)
        .when(u < lit(0.996340153172656), 4L)
        .when(u < lit(0.9994058151824183), 5L)
        .otherwise(6L)
      val reps = rep.withColumn("w", w)
        .groupBy("stratum", "b")
        .agg(sum(col("w") * col("cents")).as("swc"), sum(col("w")).as("sw"))
        .withColumn("rep_mean",
          when(col("sw") > 0, col("swc").cast(DoubleType) / col("sw"))
            .otherwise(lit(0.0)))
      val rw = Window.partitionBy("stratum")
        .orderBy(col("rep_mean").asc, col("b").asc)
      val ci = reps.withColumn("rk", row_number().over(rw))
        .filter(col("rk") === 2 || col("rk") === nB - 1)
        .groupBy("stratum")
        .agg(min(col("rep_mean")).as("lo"), max(col("rep_mean")).as("hi"))
      point.join(ci, Seq("stratum"))
        .select(col("stratum"), col("n"),
          round(col("sc").cast(DoubleType) / col("n") / lit(100.0), 6)
            .as("mean_price"),
          round(col("lo") / lit(100.0), 6).as("ci_lo"),
          round(col("hi") / lit(100.0), 6).as("ci_hi"))
        .orderBy("stratum")
    },

    // Observational causal inference: stratified inverse-propensity
    // weighting (Horvitz-Thompson/Hájek) vs the naive difference —
    // the estimator a platform runs when treatment was NOT randomized.
    // Treatment here is a deterministic md5 draw whose propensity
    // varies by order-priority stratum (0.3..0.7) with a planted $5k
    // effect, so the confounded naive diff and the debiased IPW
    // estimate are both oracle-checkable. Scale shape: ONE pass to the
    // |strata|-row frame (partial-agg bound), the estimator runs on 5
    // rows. Per-stratum Hájek terms (syt*ns/nt ~ 1e12) ride a COARSE
    // 1e3 grid — the usual 1e9 grid would overflow BIGINT at this
    // magnitude; both engines quantize identically, so cross-engine
    // exactness is unaffected and the 5e-4/term error vanishes at the
    // rounded output.
    "q_ipw" -> { (s, dir) =>
      val pri = md5(concat(lit("t:"), col("o_orderkey").cast(StringType)))
      val base = Tables(s, dir, "orders").select(
        col("o_orderpriority").as("stratum"),
        substring(col("o_orderpriority"), 1, 1).cast(LongType).as("digit"),
        (col("o_totalprice").cast(DecimalType(18, 4)) * 100)
          .cast(LongType).as("cents"),
        pri.as("pri"))
      val u = (1 to 8).map { i =>
        val a = ascii(substring(col("pri"), i, 1))
        (a - when(a >= 97, 87).otherwise(48)).cast(DoubleType) *
          lit(1.0 / math.pow(16.0, i))
      }.reduce(_ + _)
      val p = col("digit").cast(DoubleType) / lit(10.0) + lit(0.2)
      val t = base.withColumn("treat", u < p)
        .withColumn("y", col("cents") + when(col("treat"), 500000L).otherwise(0L))
      val strata = t.groupBy("stratum").agg(
        count(lit(1)).as("ns"),
        sum(when(col("treat"), 1L).otherwise(0L)).as("nt"),
        sum(when(col("treat"), col("y")).otherwise(0L)).as("syt"),
        sum(when(!col("treat"), col("y")).otherwise(0L)).as("syc"))
      val nc = col("ns") - col("nt")
      // cast BEFORE the product: syt*ns is ~1e12 * 1e6 at sf100 — a
      // BIGINT product would wrap silently; the double product computes
      // the identical IEEE value in both engines at every SF
      val term1 = when(col("nt") > 0,
        col("syt").cast(DoubleType) * col("ns") / col("nt")).otherwise(lit(0.0))
      val term0 = when(nc > 0,
        col("syc").cast(DoubleType) * col("ns") / nc).otherwise(lit(0.0))
      def coarse(c: Column) = sum(floor(c * lit(1000.0) + lit(0.5)).cast(LongType))
      strata.agg(
          sum(col("ns")).as("n"), sum(col("nt")).as("n_t"),
          sum(col("syt")).as("ts"), sum(col("syc")).as("cs"),
          coarse(term1).as("g1"), coarse(term0).as("g0"))
        .select(col("n"), col("n_t"),
          round((col("ts").cast(DoubleType) / col("n_t") -
            col("cs").cast(DoubleType) / (col("n") - col("n_t"))) / lit(100.0), 6)
            .as("naive_diff"),
          round((col("g1").cast(DoubleType) / lit(1000.0) / col("n") -
            col("g0").cast(DoubleType) / lit(1000.0) / col("n")) / lit(100.0), 6)
            .as("ate_ipw"))
    },

    // Isotonic calibration via PAV (pool-adjacent-violators): orders
    // binned into 20 fixed-width price buckets, the per-bin urgent-order
    // rate fitted to the best monotone non-decreasing curve — the
    // classifier-calibration step a production quality-filter stack runs
    // before thresholding its scores. Computed through PAV's exact
    // minimax characterization fitted_i = max_{j<=i} min_{k>=i}
    // avg(y[j..k]) — O(B^3) but on the B=20-row BIN frame, never the
    // corpus: the corpus crosses exactly ONE exchange (the bin
    // aggregate); every join after is a broadcast of a 20-row frame.
    // Every average is a single double division of exact BIGINT segment
    // sums — correctly rounded, bit-identical cross-engine — and min/max
    // over identical doubles is engine-free, so the whole fit is
    // oracle-checked with no rounding shim.
    "q_isotonic_cal" -> { (s, dir) =>
      val bins = Tables(s, dir, "orders")
        .select(
          least(lit(19L), floor(col("o_totalprice") / lit(25000.0))).as("b"),
          when(col("o_orderpriority").startsWith("1"), 1L).otherwise(0L).as("y"))
        .groupBy("b")
        .agg(count(lit(1)).as("n"), sum(col("y")).as("s"))
        // the 20-row bin frame is reused four times below — materialize
        // once so the orders scan+aggregate runs once, not per branch
        .localCheckpoint()
      // segment sums over every bin range [j..k]: BNLJ of the tiny bin
      // frame against its own (j, k) pair grid, then one 210-row agg
      val ranges = bins.select(col("b").as("j"))
        .join(broadcast(bins.select(col("b").as("k"))), col("j") <= col("k"))
      val seg = bins
        .join(broadcast(ranges), col("b") >= col("j") && col("b") <= col("k"))
        .groupBy("j", "k")
        .agg(sum(col("n")).as("sn"), sum(col("s")).as("ss"))
        .select(col("j"), col("k"),
          (col("ss").cast(DoubleType) / col("sn")).as("a"))
      bins
        .join(broadcast(seg),
          col("j") <= col("b") && col("k") >= col("b"))
        .groupBy(col("b"), col("n"), col("s"), col("j"))
        .agg(min(col("a")).as("mn"))
        .groupBy(col("b"), col("n"), col("s"))
        .agg(max(col("mn")).as("fitted"))
        .select(col("b"), col("n"), col("s").as("n_pos"),
          (col("s").cast(DoubleType) / col("n")).as("rate"), col("fitted"))
        .orderBy("b")
    },

    // Weight-of-evidence / information-value feature screening (the
    // credit-scoring-style feature audit a quality-classifier stack
    // runs before training): per category of a candidate feature
    // (order priority), the good/bad split against the binary target
    // (order finalized), WoE = ln(dist_good / dist_bad) and the IV
    // contribution (dist_good − dist_bad)·WoE, plus the '__total__' IV
    // roll-up that ranks the feature. One corpus exchange (the
    // category aggregate); all ratio/ln math on the 5-row category
    // frame with totals broadcast. ln absorbed by round(.., 6), the
    // q_entropy convention.
    "q_woe_iv" -> { (s, dir) =>
      val cat = Tables(s, dir, "orders")
        .select(col("o_orderpriority").as("category"),
          when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("bad"))
        .groupBy("category")
        .agg(sum(lit(1L) - col("bad")).as("n_good"), sum(col("bad")).as("n_bad"))
        // 5 rows, reused by the totals and the per-category frame
        .localCheckpoint()
      val tot = cat.agg(sum(col("n_good")).as("tg"), sum(col("n_bad")).as("tb"))
      val dg = col("n_good").cast(DoubleType) / col("tg").cast(DoubleType)
      val db = col("n_bad").cast(DoubleType) / col("tb").cast(DoubleType)
      val woe = round(log(dg / db), 6)
      val perCat = cat.join(broadcast(tot))
        .select(col("category"), col("n_good"), col("n_bad"), woe.as("woe"),
          round((dg - db) * woe, 6).as("iv_term"))
        .localCheckpoint()
      val total = perCat
        .agg(sum(col("n_good")).as("n_good"), sum(col("n_bad")).as("n_bad"),
          round(sum(col("iv_term")), 6).as("iv"))
        .select(lit("__total__").as("category"), col("n_good"), col("n_bad"),
          lit(null).cast(DoubleType).as("woe"), col("iv").as("iv_term"))
      perCat.unionByName(total).orderBy("category")
    },

    // Fellegi-Sunter record linkage: two customer rosters (even/odd
    // custkey halves) blocked on nation, compared on three fields
    // (market segment, account-balance bucket, name check digit).
    // u-probabilities are estimated from the blocked comparison space
    // itself (exact pair counts — one double division each);
    // m-probabilities are the conventional reviewed-sample literals. The
    // deliverable is the agreement-pattern table: pair count, summed
    // log2 match weight, and the link / possible / nonlink decision.
    // Scale shape: blocking bounds the pair space (the 100 TB knob —
    // block key cardinality), the corpus crosses once into the block
    // join, and every weight computation runs on the 8-row pattern
    // frame. log2 is the one libm call — absorbed by round(.., 6), the
    // repo's standing convention for ln-family oracles (q_entropy,
    // q_pmi_top).
    "q_record_linkage" -> { (s, dir) =>
      val c = Tables(s, dir, "customer").select(
        col("c_custkey"), col("c_nationkey"), col("c_mktsegment").as("seg"),
        floor(col("c_acctbal") / lit(1000.0)).cast(LongType).as("balb"),
        // tens digit, not the last: c_name embeds the custkey, whose
        // final digit's parity is fixed per roster side (it would never
        // agree across the even/odd split — a constant-false feature)
        substring(col("c_name"), -2, 1).as("nd"))
      def side(par: Int, sfx: String) =
        c.filter(col("c_custkey") % 2 === par)
          .select(col("c_nationkey"), col("seg").as(s"seg_$sfx"),
            col("balb").as(s"balb_$sfx"), col("nd").as(s"nd_$sfx"))
      val pat = side(0, "a").join(side(1, "b"), "c_nationkey")
        .select(
          (when(col("seg_a") === col("seg_b"), 4L).otherwise(0L) +
           when(col("balb_a") === col("balb_b"), 2L).otherwise(0L) +
           when(col("nd_a") === col("nd_b"), 1L).otherwise(0L)).as("pattern"))
        .groupBy("pattern").agg(count(lit(1)).as("n_pairs"))
        // 8 rows; checkpointed so the blocked pair join runs once, not
        // once per branch (pattern table + u-probability totals)
        .localCheckpoint()
      val totals = pat.agg(
        sum(col("n_pairs")).as("tot"),
        sum(when(col("pattern").bitwiseAND(4) > 0, col("n_pairs"))
          .otherwise(0L)).as("a4"),
        sum(when(col("pattern").bitwiseAND(2) > 0, col("n_pairs"))
          .otherwise(0L)).as("a2"),
        sum(when(col("pattern").bitwiseAND(1) > 0, col("n_pairs"))
          .otherwise(0L)).as("a1"))
      val ms = Seq(4 -> 0.95, 2 -> 0.9, 1 -> 0.8)
      val score = ms.map { case (bit, m) =>
        val u = col(s"a$bit").cast(DoubleType) / col("tot").cast(DoubleType)
        when(col("pattern").bitwiseAND(bit) > 0, log2(lit(m) / u))
          .otherwise(log2((lit(1.0) - lit(m)) / (lit(1.0) - u)))
      }.reduce(_ + _)
      pat.join(broadcast(totals))
        .select(col("pattern"), col("n_pairs"), round(score, 6).as("score"),
          when(round(score, 6) > 3.0, "link")
            .when(round(score, 6) > 0.0, "possible")
            .otherwise("nonlink").as("decision"))
        .orderBy("pattern")
    })

  /** Shared by q_cdc_diff and its graft_cdc TVF spelling q_cdc_sql:
    * the two half-year per-customer snapshots full-outer-joined into
    * Debezium/Delta-CDF change rows. All compared values are exact
    * integers (decimal cents), so the changed/unchanged classification
    * is bit-stable across engines.
    */
  private val cdcDiffOracle =
    """WITH p AS (
         SELECT o_custkey AS custkey, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) * 100 AS BIGINT)
             AS total_cents
         FROM orders
         WHERE o_orderdate >= DATE '1996-01-01'
           AND o_orderdate < DATE '1996-07-01'
         GROUP BY 1),
       c AS (
         SELECT o_custkey AS custkey, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) * 100 AS BIGINT)
             AS total_cents
         FROM orders
         WHERE o_orderdate >= DATE '1996-07-01'
           AND o_orderdate < DATE '1997-01-01'
         GROUP BY 1),
       j AS (
         SELECT coalesce(p.custkey, c.custkey) AS custkey,
           p.custkey IS NULL AS ins, c.custkey IS NULL AS del,
           p.n_orders AS pn, p.total_cents AS pt,
           c.n_orders AS cn, c.total_cents AS ct
         FROM p FULL JOIN c ON p.custkey = c.custkey)
       SELECT custkey, 'insert' AS change_type, cn AS n_orders,
         ct AS total_cents FROM j WHERE ins
       UNION ALL
       SELECT custkey, 'delete', pn, pt FROM j WHERE del
       UNION ALL
       SELECT custkey, 'update_preimage', pn, pt FROM j
       WHERE NOT ins AND NOT del AND (pn <> cn OR pt <> ct)
       UNION ALL
       SELECT custkey, 'update_postimage', cn, ct FROM j
       WHERE NOT ins AND NOT del AND (pn <> cn OR pt <> ct)
       ORDER BY custkey, change_type"""

  /** q_mv_rewrite / q_mv_rewrite_sql oracle — computed from the BASE
    * orders table, so a wrong or stale summary rewrite flips the hash.
    */
  private val mvRewriteOracle =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
         min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
         CAST(sum(o_orderkey) AS BIGINT) AS key_sum
       FROM orders GROUP BY 1 ORDER BY o_orderpriority"""

  /** q_bloom_semi_join / q_bloom_sql (TVF) oracle: the Bloom pre-filter
    * only prunes — the result must equal a plain semi join.
    */
  private def bloomSemiOracle =
    """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
       WHERE o_custkey IN (SELECT c_custkey FROM customer
                           WHERE c_mktsegment = 'BUILDING')
       ORDER BY o_orderkey"""

  /** q_mv_rewrite_join / _join_sql oracle — the star join computed from
    * the BASE tables, so a wrong join rewrite (multiplicity, dim
    * duplication, avg weighting) flips the hash. avg is spelled as the
    * derivation's exact arithmetic (see q_mv_rewrite_avg).
    */
  private val mvRewriteJoinOracle =
    """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
         min(o_totalprice) AS min_price,
         CAST(sum(o_orderkey) AS DOUBLE) / count(o_orderkey) AS avg_okey
       FROM orders JOIN customer ON o_custkey = c_custkey
       GROUP BY 1 ORDER BY c_mktsegment"""

  /** q_cdc_apply / q_cdc_apply_sql oracle: applying the feed must equal
    * snapshot N+1 recomputed directly from orders.
    */
  private val cdcApplyOracle =
    """SELECT o_custkey AS custkey, CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) * 100 AS BIGINT)
           AS total_cents
       FROM orders
       WHERE o_orderdate >= DATE '1996-07-01'
         AND o_orderdate < DATE '1997-01-01'
       GROUP BY 1 ORDER BY custkey"""

  private val discountedDec =
    """CAST(l_extendedprice AS DECIMAL(18,4)) *
       (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))"""

  /** DuckDB's direct DECIMAL(38,8)→DOUBLE cast divides after an int128→
    * double conversion and can land one ulp off the correctly-rounded
    * value (observed at sf0.1 on q1.sum_disc_price); via VARCHAR it
    * strtod-rounds correctly and matches Spark's BigDecimal.doubleValue.
    */
  private def decToDouble(sumExpr: String): String =
    s"CAST(CAST($sumExpr AS VARCHAR) AS DOUBLE)"

  /** The purchases/clicks frame pair every as-of entry joins — one
    * definition so the composed and native operators provably run the
    * same inputs.
    */
  private def purchaseClickFrames(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = Tables(s, dir, "events")
    (e.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id", "value"),
      e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id")))
  }

  /** Backward as-of oracle, SHARED by q_asof_join (composed) and
    * q_asof_native (whole-operator) — one string bound to both keys
    * makes the must-agree-bit-for-bit contract structural. Clicks sort
    * before purchases at equal ts; event_id DESC makes the LAST click
    * scanned at a tie the minimum id, matching both operators'
    * min-tie-break.
    */
  /** Shared by the DataFrame and graft_range TVF spellings — the plain
    * range-predicate join is the semantic truth both must equal.
    */
  private val rangeJoinOracle: String =
    """SELECT p_partkey, count(*) AS n_matches,
       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty
       FROM lineitem JOIN part
         ON l_extendedprice >= p_retailprice - 10 AND l_extendedprice <= p_retailprice + 10
       GROUP BY p_partkey ORDER BY p_partkey"""

  /** Shared by the DataFrame and graft_fuzzy TVF spellings — the naive
    * all-pairs Levenshtein join is the semantic truth both must equal.
    */
  private val fuzzyMatchOracle: String =
    """WITH d AS (SELECT doc_id, substring(text, 1, 20) AS prefix
                  FROM documents WHERE doc_id < 50)
       SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(levenshtein(a.prefix, b.prefix) AS BIGINT) AS dist
       FROM d a JOIN d b ON a.doc_id < b.doc_id
       WHERE levenshtein(a.prefix, b.prefix) <= 12
       ORDER BY id_a, id_b"""

  private def asofBackwardOracle: String =
    """SELECT user_id, event_id, value, asof_click_id FROM (
         SELECT user_id, event_id, event_type, value,
           last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
             OVER (PARTITION BY user_id
                   ORDER BY ts, CASE WHEN event_type = 'click' THEN 0 ELSE 1 END,
                            event_id DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_click_id
         FROM events WHERE event_type IN ('click', 'purchase'))
       WHERE event_type = 'purchase' ORDER BY event_id"""

  /** Composite-key backward as-of oracle (q_asof_native_keys): the
    * backward oracle's union-window pattern with the calendar day
    * joining user_id in the partition key — an independent spelling of
    * the same (user, day)-grouped PIT lookup the native exec's
    * asOfKeys merge computes.
    */
  private def asofCompositeOracle: String =
    """SELECT user_id, event_id, asof_click_id FROM (
         SELECT user_id, event_id, event_type,
           last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
             OVER (PARTITION BY user_id, CAST(ts AS DATE)
                   ORDER BY ts, CASE WHEN event_type = 'click' THEN 0 ELSE 1 END,
                            event_id DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_click_id
         FROM events WHERE event_type IN ('click', 'purchase'))
       WHERE event_type = 'purchase' ORDER BY event_id"""

  /** Forward+tolerance as-of oracle, SHARED by q_asof_tolerance and
    * q_asof_native_tol (min click_id at ties via the row_number order).
    */
  private def asofToleranceOracle: String =
    """WITH p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
       c AS (SELECT user_id, ts, event_id AS click_id FROM events WHERE event_type = 'click'),
       j AS (
         SELECT p.event_id, p.user_id, c.click_id,
           row_number() OVER (PARTITION BY p.event_id ORDER BY c.ts, c.click_id) AS rk
         FROM p LEFT JOIN c ON p.user_id = c.user_id
           AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR)
       SELECT user_id, event_id, click_id AS asof_click_id
       FROM j WHERE rk = 1 ORDER BY event_id"""

  /** Nearest-direction as-of oracle, SHARED by q_asof_nearest
    * (composed two-window spelling) and q_asof_native_nearest (the
    * whole-operator merge) — min |gap| per purchase, backward winning
    * exact |gap| ties, min click_id within a direction at equal gap.
    */
  private def asofNearestOracle: String =
    """WITH p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
       c AS (SELECT user_id, ts, event_id AS click_id FROM events WHERE event_type = 'click'),
       j AS (
         SELECT p.event_id, p.user_id, c.click_id,
           row_number() OVER (PARTITION BY p.event_id
             ORDER BY abs(epoch_us(c.ts) - epoch_us(p.ts)),
                      CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END,
                      c.click_id) AS rk
         FROM p LEFT JOIN c ON p.user_id = c.user_id)
       SELECT user_id, event_id, click_id AS asof_click_id
       FROM j WHERE rk = 1 ORDER BY event_id"""

  /** DuckDB twin of q_bootstrap: the same md5 16-adic uniforms against
    * the same Poisson(1) CDF literals, exact BIGINT replicate sums, and
    * the [2nd, 39th] order statistics of the 40 replicate means.
    */
  private def bootstrapOracle: String = {
    val uTerms = (1 to 8).map { i =>
      s"""(ascii(substring(pri, $i, 1)) -
          CASE WHEN ascii(substring(pri, $i, 1)) >= 97 THEN 87 ELSE 48 END)
          / power(16.0, $i)"""
    }.mkString(" + ")
    s"""WITH base AS (
         SELECT o_orderpriority AS stratum, o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS cents
         FROM orders),
       point AS (
         SELECT stratum, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS sc
         FROM base GROUP BY stratum),
       drawn AS (
         SELECT stratum, b, cents,
           md5('bs:' || CAST(b AS VARCHAR) || ':' || CAST(o_orderkey AS VARCHAR))
             AS pri
         FROM base, unnest(range(1, 41)) AS r(b)),
       weighted AS (
         SELECT stratum, b, cents,
           CASE WHEN ($uTerms) < 0.36787944117144233e0 THEN 0
                WHEN ($uTerms) < 0.7357588823428847e0 THEN 1
                WHEN ($uTerms) < 0.9196986029286058e0 THEN 2
                WHEN ($uTerms) < 0.9810118431238462e0 THEN 3
                WHEN ($uTerms) < 0.996340153172656e0 THEN 4
                WHEN ($uTerms) < 0.9994058151824183e0 THEN 5
                ELSE 6 END AS w
         FROM drawn),
       reps AS (
         SELECT stratum, b,
           CAST(sum(w * cents) AS BIGINT) AS swc, CAST(sum(w) AS BIGINT) AS sw
         FROM weighted GROUP BY stratum, b),
       rm AS (
         SELECT stratum, b,
           CASE WHEN sw > 0 THEN CAST(swc AS DOUBLE) / sw ELSE 0.0e0 END
             AS rep_mean
         FROM reps),
       ranked AS (
         SELECT stratum, rep_mean,
           row_number() OVER (
             PARTITION BY stratum ORDER BY rep_mean ASC, b ASC) AS rk
         FROM rm),
       ci AS (
         SELECT stratum, min(rep_mean) AS lo, max(rep_mean) AS hi
         FROM ranked WHERE rk = 2 OR rk = 39 GROUP BY stratum)
       SELECT p.stratum, p.n,
         round(CAST(p.sc AS DOUBLE) / p.n / 100.0e0, 6) AS mean_price,
         round(c.lo / 100.0e0, 6) AS ci_lo,
         round(c.hi / 100.0e0, 6) AS ci_hi
       FROM point p JOIN ci c ON p.stratum = c.stratum
       ORDER BY p.stratum"""
  }

  /** DuckDB twin of q_kcore: peel rounds unrolled to GraphOps.kCore's
    * maxIter cap (30), so the oracle covers every depth the operator
    * can reach before its convergence guard raises. Peeling is
    * monotone, so any unroll >= the convergence round count (measured
    * max 6 across sf0.001/0.01/0.1) yields the identical core — extra
    * rounds are no-ops over an already-fixed survivor set.
    */
  private def kcoreOracle: String = {
    // each round's survivor set and degree table are MATERIALIZED —
    // plain CTEs inline per reference, and four references per round
    // over 30 rounds would expand the lineitem scan 4^30-fold
    val rounds = (1 to 30).map { i =>
      val prev = if (i == 1) "e0" else s"e${i - 1}"
      s"""d$i AS MATERIALIZED (
           SELECT n, count(*) AS d
           FROM (SELECT u AS n FROM $prev UNION ALL SELECT v FROM $prev)
           GROUP BY n),
         e$i AS MATERIALIZED (
           SELECT u, v FROM $prev
           WHERE u IN (SELECT n FROM d$i WHERE d >= 2)
             AND v IN (SELECT n FROM d$i WHERE d >= 2))"""
    }.mkString(",\n       ")
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       e0 AS MATERIALIZED (
         SELECT x.pk AS u, y.pk AS v
         FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
         GROUP BY x.pk, y.pk HAVING count(*) >= 2),
       $rounds
       SELECT n AS id, CAST(count(*) AS BIGINT) AS core_degree
       FROM (SELECT u AS n FROM e30 UNION ALL SELECT v FROM e30)
       GROUP BY n ORDER BY id"""
  }

  /** DuckDB twin of q_ipw: the same md5 16-adic treatment draw,
    * stratum propensities, planted effect, and coarse-grid Hájek terms
    * (identical quantization, so the engines agree bit-for-bit).
    */
  private def ipwOracle: String = {
    val uTerms = (1 to 8).map { i =>
      s"""(ascii(substring(pri, $i, 1)) -
          CASE WHEN ascii(substring(pri, $i, 1)) >= 97 THEN 87 ELSE 48 END)
          / power(16.0, $i)"""
    }.mkString(" + ")
    s"""WITH base AS (
         SELECT o_orderpriority AS stratum,
           CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS digit,
           CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS cents,
           md5('t:' || CAST(o_orderkey AS VARCHAR)) AS pri
         FROM orders),
       drawn AS (
         SELECT stratum,
           ($uTerms) < (CAST(digit AS DOUBLE) / 10.0e0 + 0.2e0) AS treat,
           cents
         FROM base),
       w AS (
         SELECT stratum, treat,
           cents + CASE WHEN treat THEN 500000 ELSE 0 END AS y
         FROM drawn),
       strata AS (
         SELECT stratum, CAST(count(*) AS BIGINT) AS ns,
           CAST(sum(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS nt,
           CAST(sum(CASE WHEN treat THEN y ELSE 0 END) AS BIGINT) AS syt,
           CAST(sum(CASE WHEN NOT treat THEN y ELSE 0 END) AS BIGINT) AS syc
         FROM w GROUP BY stratum),
       agg AS (
         SELECT CAST(sum(ns) AS BIGINT) AS n, CAST(sum(nt) AS BIGINT) AS n_t,
           CAST(sum(syt) AS BIGINT) AS ts, CAST(sum(syc) AS BIGINT) AS cs,
           CAST(sum(CAST(floor((CASE WHEN nt > 0
               THEN CAST(syt AS DOUBLE) * ns / nt ELSE 0.0e0 END)
             * 1000.0e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS g1,
           CAST(sum(CAST(floor((CASE WHEN ns - nt > 0
               THEN CAST(syc AS DOUBLE) * ns / (ns - nt) ELSE 0.0e0 END)
             * 1000.0e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS g0
         FROM strata)
       SELECT n, n_t,
         round((CAST(ts AS DOUBLE) / n_t - CAST(cs AS DOUBLE) / (n - n_t))
           / 100.0e0, 6) AS naive_diff,
         round((CAST(g1 AS DOUBLE) / 1000.0e0 / n
             - CAST(g0 AS DOUBLE) / 1000.0e0 / n) / 100.0e0, 6) AS ate_ipw
       FROM agg"""
  }

  /** DuckDB twin of [[graft.ops.LayoutOps.zValue]]: the same 32
    * shift/mask terms, OR-folded as a generated SQL expression.
    */
  private def zValueSql(a: String, b: String): String =
    (0 until 16).map { i =>
      // fully parenthesized: DuckDB gives bitwise operators equal
      // precedence, so bare `x << i | y << j` would associate wrongly
      s"(((($a >> $i) & 1) << ${2 * i}) | ((($b >> $i) & 1) << ${2 * i + 1}))"
    }.mkString(" | ")

  val oracles: Map[String, String] = Map(
    "q_kcore" -> kcoreOracle,
    "q_bootstrap" -> bootstrapOracle,
    "q_ipw" -> ipwOracle,
    "q_assortativity" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         und AS (
           SELECT DISTINCT x.pk AS u, y.pk AS v
           FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
         deg AS (
           SELECT n, CAST(count(*) AS BIGINT) AS d
           FROM (SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und)
           GROUP BY 1),
         ed AS (
           SELECT da.d AS du, db.d AS dv
           FROM und JOIN deg da ON und.u = da.n JOIN deg db ON und.v = db.n),
         sums AS (
           SELECT CAST(count(*) AS BIGINT) AS m,
             CAST(sum(du * dv) AS BIGINT) AS sjk,
             CAST(sum(du + dv) AS BIGINT) AS sj,
             CAST(sum(du * du + dv * dv) AS BIGINT) AS sj2
           FROM ed)
         SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
           m AS n_edges,
           round((CAST(2 * sjk AS DOUBLE) / CAST(2 * m AS DOUBLE)
                  - (CAST(sj AS DOUBLE) / CAST(2 * m AS DOUBLE))
                    * (CAST(sj AS DOUBLE) / CAST(2 * m AS DOUBLE)))
               / (CAST(sj2 AS DOUBLE) / CAST(2 * m AS DOUBLE)
                  - (CAST(sj AS DOUBLE) / CAST(2 * m AS DOUBLE))
                    * (CAST(sj AS DOUBLE) / CAST(2 * m AS DOUBLE))), 6)
             AS assortativity
         FROM sums""",
    "q_zorder" ->
      s"""WITH base AS (
           SELECT o_orderkey,
             CAST(o_custkey % 65536 AS BIGINT) AS xa,
             CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) % 65536 AS xb
           FROM orders)
         SELECT o_orderkey, xa, xb, ${zValueSql("xa", "xb")} AS z
         FROM base ORDER BY o_orderkey""",
    // the original table, not the compacted copy: layout must not
    // change content
    "q_compact_scan" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(o_orderkey) AS BIGINT) AS sum_keys,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q_sql_shipping_priority" ->
      s"""SELECT l_orderkey,
         ${decToDouble("""sum(CAST(l_extendedprice AS DECIMAL(18,4))
              * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))""")} AS revenue,
         o_orderdate, o_orderpriority
         FROM customer
           JOIN orders ON c_custkey = o_custkey
           JOIN lineitem ON l_orderkey = o_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-06-01'
           AND l_shipdate > TIMESTAMP '1998-06-01'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, o_orderdate, l_orderkey
         LIMIT 10""",
    "q_bit_string_agg" ->
      """SELECT o_orderstatus,
           bit_and(o_orderkey) AS key_and,
           bit_or(o_orderkey) AS key_or,
           bit_xor(o_orderkey) AS key_xor,
           array_to_string(list_sort(list_distinct(list(o_orderpriority))), '|') AS priorities
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q_unpivot" ->
      """SELECT l_orderkey, l_linenumber, metric, value
         FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
                      l_discount, l_tax
               FROM lineitem WHERE l_orderkey <= 100)
         UNPIVOT (value FOR metric IN (l_quantity, l_extendedprice, l_discount, l_tax))
         ORDER BY l_orderkey, l_linenumber, metric, value""",
    "q_fuzzy_match" -> fuzzyMatchOracle,
    // TVF spelling, same truth
    "q_fuzzy_sql" -> fuzzyMatchOracle,
    "q_histogram" ->
      s"""SELECT CAST(floor(o_totalprice / 25000) AS BIGINT) AS bucket,
         count(*) AS n,
         ${decToDouble("sum(CAST(o_totalprice AS DECIMAL(18,4)))")} AS sum_price
         FROM orders GROUP BY 1 ORDER BY bucket""",
    "q_profile" ->
      s"""SELECT count(*) AS n_rows,
         count(DISTINCT o_custkey) AS n_customers,
         count(DISTINCT o_orderstatus) AS n_statuses,
         CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_priority,
         min(o_orderdate) AS min_date,
         max(o_orderdate) AS max_date,
         ${decToDouble("sum(CAST(o_totalprice AS DECIMAL(18,4)))")} / count(o_totalprice) AS avg_price
         FROM orders""",
    "q_full_outer" ->
      """WITH c AS (SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'BUILDING'),
         o AS (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey)
         SELECT coalesce(c_custkey, o_custkey) AS custkey, c_name, n_orders
         FROM c FULL OUTER JOIN o ON c_custkey = o_custkey
         ORDER BY custkey""",
    "q_window_range" ->
      """SELECT o_orderkey, o_orderpriority, d,
           count(*) OVER w AS n_7d,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS VARCHAR) AS DOUBLE) AS rev_7d
         FROM (
           SELECT o_orderkey, o_orderpriority, o_totalprice,
             CAST(datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS d
           FROM orders)
         WINDOW w AS (PARTITION BY o_orderpriority ORDER BY d
           RANGE BETWEEN 7 PRECEDING AND CURRENT ROW)
         ORDER BY o_orderkey""",
    "q_bag_setops" ->
      """WITH a AS (SELECT o_orderstatus FROM orders WHERE o_totalprice < 150000),
         b AS (SELECT o_orderstatus FROM orders WHERE o_orderpriority = '1-URGENT'),
         ex AS (SELECT o_orderstatus, count(*) AS n
                FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) GROUP BY 1),
         ins AS (SELECT o_orderstatus, count(*) AS n
                 FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) GROUP BY 1)
         SELECT 'except_all' AS op, o_orderstatus, n FROM ex
         UNION ALL
         SELECT 'intersect_all' AS op, o_orderstatus, n FROM ins
         ORDER BY op, o_orderstatus""",
    "q_array_agg" ->
      """SELECT o_custkey,
           array_to_string(list_sort(list(o_orderkey)), ',') AS okeys,
           CAST(len(list_distinct(list(o_orderstatus))) AS BIGINT) AS n_statuses
         FROM orders GROUP BY o_custkey ORDER BY o_custkey""",
    "q_asof_tolerance" -> asofToleranceOracle,
    "q_asof_nearest" -> asofNearestOracle,
    "q_asof_native_nearest" -> asofNearestOracle,
    "q_interval_join" ->
      """WITH i AS (
           SELECT o_custkey, o_orderkey,
             CAST(datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS sd,
             CAST(datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
               + o_orderkey % 30 AS ed
           FROM orders),
         p AS (
           SELECT a.o_custkey,
             least(a.ed, b.ed) - greatest(a.sd, b.sd) + 1 AS ov
           FROM i a JOIN i b ON a.o_custkey = b.o_custkey
             AND a.o_orderkey < b.o_orderkey
             AND a.sd <= b.ed AND b.sd <= a.ed)
         SELECT o_custkey, count(*) AS n_pairs, CAST(sum(ov) AS BIGINT) AS total_overlap_days
         FROM p GROUP BY o_custkey ORDER BY o_custkey""",
    "q_window_ntile" ->
      """SELECT o_orderkey, o_orderpriority,
           CAST(ntile(4) OVER w AS BIGINT) AS tile,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
         ORDER BY o_orderkey""",
    "q_minmax_by" ->
      """SELECT n_name,
           (array_agg(s_name ORDER BY s_acctbal, s_name))[1] AS poorest,
           (array_agg(s_name ORDER BY s_acctbal DESC, s_name DESC))[1] AS richest,
           min(s_acctbal) AS min_bal,
           max(s_acctbal) AS max_bal,
           count(*) AS n_suppliers
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""",
    "q_scalar_map" ->
      """SELECT event_id, event_type AS et_val,
         CAST(2 AS BIGINT) AS n_entries, 'et,uid' AS keys, true AS has_uid
         FROM events ORDER BY event_id""",
    "q_scalar_array" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
         SELECT doc_id,
           array_to_string(list_sort(list_distinct(words))[1:3], ' ') AS first3_sorted,
           list_contains(words, 'data') AS has_data,
           CAST(len(list_distinct(words)) AS BIGINT) AS n_distinct,
           list_sort(words, 'DESC')[1] AS max_word
         FROM w ORDER BY doc_id""",
    "q_corr_subquery" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders o
         WHERE o_totalprice > 1.5 * (
           SELECT CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
                  / count(*) FROM orders i
           WHERE i.o_custkey = o.o_custkey)
         ORDER BY o_orderkey""",
    "q_lateral_topk" ->
      """SELECT n_name, c_name, c_acctbal
         FROM nation, LATERAL (
           SELECT c_name, c_acctbal FROM customer
           WHERE c_nationkey = n_nationkey
           ORDER BY c_acctbal DESC, c_name LIMIT 3)
         ORDER BY n_name, c_acctbal DESC, c_name""",
    "q_pivot" ->
      """SELECT user_id,
         count(*) FILTER (event_type = 'click') AS click,
         count(*) FILTER (event_type = 'view') AS view,
         count(*) FILTER (event_type = 'purchase') AS purchase,
         count(*) FILTER (event_type = 'signup') AS signup,
         count(*) FILTER (event_type = 'error') AS error
         FROM events GROUP BY user_id ORDER BY user_id""",
    "q_percentile" ->
      """SELECT l_returnflag,
         round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
         round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
         round(quantile_cont(l_quantity, 0.5), 4) AS median_qty
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // DuckDB's skewness is the SAMPLE-adjusted G1 and its kurtosis the
    // sample G2; Spark reports POPULATION g1 / excess g2. Convert G1→g1
    // by (n-2)/sqrt(n(n-1)); kurtosis_pop is already population excess.
    "q_stats_agg" ->
      """SELECT l_returnflag, count(*) AS n,
         round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
         round(covar_samp(l_quantity, l_discount), 8) AS covar_s,
         round(covar_pop(l_quantity, l_discount), 8) AS covar_p,
         round(stddev_samp(l_quantity), 6) AS sd_qty,
         round(var_pop(l_discount), 10) AS var_disc,
         round(skewness(l_quantity)
               * (count(*) - 2) / sqrt(count(*) * (count(*) - 1.0)), 6) AS skew_qty,
         round(kurtosis_pop(l_quantity), 6) AS kurt_qty,
         round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
         round(regr_intercept(l_extendedprice, l_quantity), 4) AS icept,
         round(regr_r2(l_extendedprice, l_quantity), 6) AS r2
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_explode_tokens" ->
      """SELECT token, count(*) AS n_occurrences,
         count(DISTINCT doc_id) AS n_docs
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
         GROUP BY token HAVING count(DISTINCT doc_id) >= 100 ORDER BY token""",
    // same probe-key derivation (min orderkey ending in 7), plain scan
    "q_bucket_prune" ->
      """WITH k AS (SELECT min(l_orderkey) AS k FROM lineitem WHERE l_orderkey % 10 = 7)
         SELECT l_orderkey, count(*) AS n_items,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty
         FROM lineitem, k WHERE l_orderkey = k.k
         GROUP BY l_orderkey ORDER BY l_orderkey""",
    // Same relational content as the bucketed Spark plan — DuckDB has no
    // bucket layout to exploit, so the oracle is the plain join+agg.
    "q_bucket_join" ->
      s"""SELECT o_orderkey, o_orderpriority,
          ${decToDouble(s"sum($discountedDec)")} AS revenue,
          count(*) AS n_items
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY o_orderkey, o_orderpriority
          ORDER BY revenue DESC, o_orderkey LIMIT 100""",
    "q_skew_salted_join" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
         CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
          CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
          CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
          ${decToDouble(s"sum($discountedDec)")} AS sum_disc_price,
          CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / count(l_quantity) AS avg_qty,
          CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / count(l_extendedprice) AS avg_price,
          CAST(CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / count(l_discount) AS avg_disc,
          count(*) AS count_order
          FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
          GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "q_star_join" ->
      s"""SELECT r_name, n_name,
          ${decToDouble(s"sum($discountedDec)")} AS revenue, count(*) AS n_lines
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                        JOIN customer ON o_custkey = c_custkey
                        JOIN nation ON c_nationkey = n_nationkey
                        JOIN region ON n_regionkey = r_regionkey
          GROUP BY r_name, n_name ORDER BY r_name, n_name""",
    "q_semi_join" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
         ORDER BY o_orderkey""",
    "q_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
         ORDER BY c_custkey""",
    "q_union_drift" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
         WHERE o_orderkey % 2 = 0
         UNION ALL
         SELECT o_orderkey, o_orderstatus, NULL AS o_totalprice FROM orders
         WHERE o_orderkey % 2 = 1
         ORDER BY o_orderkey""",
    "q_regex_extract" ->
      """SELECT event_id,
           regexp_extract(props, '\d+') AS first_num,
           array_to_string(regexp_extract_all(props, '\d'), ',') AS digits,
           CAST(len(regexp_extract_all(props, '\d')) AS BIGINT) AS n_digits
         FROM events ORDER BY event_id""",
    "q_grouping_id" ->
      """SELECT CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           o_orderstatus, o_orderpriority, count(*) AS n
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
         ORDER BY gid, o_orderstatus, o_orderpriority""",
    "q_integrity_check" ->
      """SELECT 'orders_without_customer' AS chk, count(*) AS n FROM orders
         WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
         UNION ALL
         SELECT 'lineitems_without_order' AS chk, count(*) AS n FROM lineitem
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
         UNION ALL
         SELECT 'orders_null_custkey' AS chk, count(*) AS n FROM orders
         WHERE o_custkey IS NULL
         UNION ALL
         SELECT 'orders_duplicate_pk' AS chk, count(*) AS n FROM (
           SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1)
         ORDER BY chk""",
    "q_bloom_semi_join" -> bloomSemiOracle,
    "q_bloom_sql" -> bloomSemiOracle, // TVF spelling, same truth
    "q_dim_coverage" ->
      """WITH st AS (SELECT DISTINCT o_orderstatus FROM orders),
         pr AS (SELECT DISTINCT o_orderpriority FROM orders),
         a AS (SELECT o_orderstatus, o_orderpriority, count(*) AS n
               FROM orders GROUP BY 1, 2)
         SELECT st.o_orderstatus, pr.o_orderpriority,
           coalesce(a.n, 0) AS n, a.n IS NOT NULL AS present
         FROM st CROSS JOIN pr
         LEFT JOIN a ON a.o_orderstatus = st.o_orderstatus
                    AND a.o_orderpriority = pr.o_orderpriority
         ORDER BY st.o_orderstatus, pr.o_orderpriority""",
    "q_range_join" -> rangeJoinOracle,
    // TVF spelling, same truth
    "q_range_sql" -> rangeJoinOracle,
    "q_asof_join" -> asofBackwardOracle,
    // SHARED defs: the native twins are bound to the same oracle strings
    // as their composed counterparts — agreement is structural
    "q_asof_native_tol" -> asofToleranceOracle,
    "q_asof_native" -> asofBackwardOracle,
    "q_asof_bcast" -> asofBackwardOracle,
    "q_asof_auto" -> asofBackwardOracle,
    "q_asof_sql" -> asofBackwardOracle,
    "q_asof_native_keys" -> asofCompositeOracle,
    "q_rollup" ->
      """SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
         count(*) AS n_customers,
         CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_acctbal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
                       JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP (r_name, n_name) ORDER BY region, nation""",
    "q_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                coalesce(l_linestatus, 'ALL') AS linestatus,
         count(*) AS n,
         CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY returnflag, linestatus""",
    "q_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
                coalesce(o_orderpriority, 'ALL') AS priority,
         count(*) AS n,
         CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_price
         FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         ORDER BY status, priority""",
    "q_count_distinct" ->
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_customers,
         count(*) AS n_orders,
         CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_price
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_window_rank" ->
      """SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
           FROM orders)
         WHERE rk <= 3 ORDER BY o_custkey, rk""",
    "q_window_running" ->
      """SELECT user_id, event_id,
         CAST(CAST(sum(CAST(value AS DECIMAL(18,4)))
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS running_value,
         count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n
         FROM events ORDER BY user_id, event_id""",
    "q_window_lag" ->
      """SELECT user_id, event_id, value,
         lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
         lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
         FROM events ORDER BY user_id, event_id""",
    "q_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""",
    "q_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
         INTERSECT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         ORDER BY o_custkey""",
    "q_except" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
         EXCEPT
         SELECT o_custkey FROM orders WHERE year(o_orderdate) = 2001
         ORDER BY o_custkey""",
    "q_sort_multi" ->
      """SELECT o_orderpriority, o_orderkey,
         strftime(o_orderdate, '%Y-%m-%d') AS order_date, o_totalprice
         FROM orders
         ORDER BY o_orderpriority ASC, order_date DESC, o_orderkey ASC LIMIT 200""",
    "q_scalar_string" ->
      """SELECT c_custkey, upper(c_mktsegment) AS seg_upper,
         CAST(length(c_name) AS BIGINT) AS name_len,
         substring(c_name, 1, 8) AS name_prefix,
         c_mktsegment || '-' || CAST(c_custkey AS VARCHAR) AS seg_key,
         coalesce(regexp_extract(c_name, '([0-9]+)', 1), '') AS name_digits,
         replace(c_name, 'Customer', 'Cust') AS name_short
         FROM customer ORDER BY c_custkey""",
    "q_scalar_date" ->
      """SELECT o_orderkey,
         CAST(year(o_orderdate) AS INT) AS yr,
         CAST(month(o_orderdate) AS INT) AS mo,
         CAST(day(o_orderdate) AS INT) AS dom,
         CAST(isodow(o_orderdate) AS INT) AS isodow,
         strftime(o_orderdate, '%Y-%m-%d') AS order_date,
         strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS due_date,
         CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INT) AS age_days
         FROM orders ORDER BY o_orderkey""",
    "q_scalar_math" ->
      """SELECT l_orderkey, l_linenumber,
         round(sqrt(l_extendedprice), 6) AS sqrt_price,
         round(ln(l_extendedprice), 6) AS ln_price,
         round(pow(l_discount, 2), 6) AS disc_sq,
         CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
         CAST(floor(l_extendedprice / 1000) AS BIGINT) AS price_k,
         abs(l_quantity - 25) AS qty_dev
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "q_rfm" ->
      """WITH per AS (
           SELECT o_custkey, max(CAST(o_orderdate AS DATE)) AS last_day,
             count(*) AS freq,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) * 100 AS BIGINT) AS mon_cents
           FROM orders GROUP BY 1),
         mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS corpus_max FROM orders),
         rfm AS (
           SELECT o_custkey,
             CAST(datediff('day', last_day, corpus_max) AS BIGINT) AS r_days,
             CAST(freq AS BIGINT) AS freq, mon_cents
           FROM per, mx),
         cuts AS (
           SELECT quantile_cont(r_days, [0.25e0, 0.5e0, 0.75e0]) AS rc,
             quantile_cont(freq, [0.25e0, 0.5e0, 0.75e0]) AS fc,
             quantile_cont(mon_cents, [0.25e0, 0.5e0, 0.75e0]) AS mc
           FROM rfm),
         lab AS (
           SELECT o_custkey, r_days, freq, mon_cents,
             CAST(1 + CAST(r_days > rc[1] AS INT) + CAST(r_days > rc[2] AS INT)
               + CAST(r_days > rc[3] AS INT) AS BIGINT) AS rq,
             CAST(1 + CAST(freq > fc[1] AS INT) + CAST(freq > fc[2] AS INT)
               + CAST(freq > fc[3] AS INT) AS BIGINT) AS fq,
             CAST(1 + CAST(mon_cents > mc[1] AS INT) + CAST(mon_cents > mc[2] AS INT)
               + CAST(mon_cents > mc[3] AS INT) AS BIGINT) AS mq
           FROM rfm, cuts)
         SELECT o_custkey, r_days, freq,
           CAST(mon_cents AS DOUBLE) / 1e2 AS monetary, rq, fq, mq,
           CAST(rq AS VARCHAR) || CAST(fq AS VARCHAR) || CAST(mq AS VARCHAR) AS segment
         FROM lab ORDER BY o_custkey""",
    "q_skyline" ->
      """WITH per AS (
           SELECT p_retailprice AS price, max(p_size) AS gmax
           FROM part GROUP BY 1),
         fr AS (
           SELECT price, gmax, max(gmax) OVER (ORDER BY price
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mlt
           FROM per)
         SELECT p.p_partkey, p.p_name, p.p_retailprice,
           CAST(p.p_size AS BIGINT) AS p_size
         FROM part p JOIN fr ON p.p_retailprice = fr.price
         WHERE p.p_size = fr.gmax AND (fr.mlt IS NULL OR p.p_size > fr.mlt)
         ORDER BY p.p_retailprice, p.p_partkey""",
    "q_triangle_count" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         und AS (
           SELECT DISTINCT x.pk AS a, y.pk AS b
           FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
         deg AS (
           SELECT n, count(*) AS d
           FROM (SELECT a AS n FROM und UNION ALL SELECT b AS n FROM und)
           GROUP BY 1),
         ori AS (
           SELECT
             CASE WHEN da.d < db.d OR (da.d = db.d AND a < b) THEN a ELSE b END AS src,
             CASE WHEN da.d < db.d OR (da.d = db.d AND a < b) THEN b ELSE a END AS dst,
             CASE WHEN da.d < db.d OR (da.d = db.d AND a < b) THEN db.d ELSE da.d END AS ddeg
           FROM und JOIN deg da ON und.a = da.n JOIN deg db ON und.b = db.n),
         wed AS (
           SELECT e1.src AS src, e1.dst AS x, e2.dst AS y
           FROM ori e1 JOIN ori e2 ON e1.src = e2.src
           WHERE e1.ddeg < e2.ddeg OR (e1.ddeg = e2.ddeg AND e1.dst < e2.dst)),
         tri AS (
           SELECT count(*) AS n_triangles
           FROM wed JOIN ori ON wed.x = ori.src AND wed.y = ori.dst)
         SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM und) AS n_edges,
           CAST(n_triangles AS BIGINT) AS n_triangles
         FROM tri""",
    "q_clustering_coef" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         und AS (
           SELECT DISTINCT x.pk AS a, y.pk AS b
           FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
         deg AS (
           SELECT n, count(*) AS d
           FROM (SELECT a AS n FROM und UNION ALL SELECT b AS n FROM und)
           GROUP BY 1),
         ori AS (
           SELECT
             CASE WHEN da.d < db.d OR (da.d = db.d AND a < b) THEN a ELSE b END AS src,
             CASE WHEN da.d < db.d OR (da.d = db.d AND a < b) THEN b ELSE a END AS dst,
             CASE WHEN da.d < db.d OR (da.d = db.d AND a < b) THEN db.d ELSE da.d END AS ddeg
           FROM und JOIN deg da ON und.a = da.n JOIN deg db ON und.b = db.n),
         wed AS (
           SELECT e1.src AS src, e1.dst AS x, e2.dst AS y
           FROM ori e1 JOIN ori e2 ON e1.src = e2.src
           WHERE e1.ddeg < e2.ddeg OR (e1.ddeg = e2.ddeg AND e1.dst < e2.dst)),
         tri AS (
           SELECT wed.src AS v1, wed.x AS v2, wed.y AS v3
           FROM wed JOIN ori ON wed.x = ori.src AND wed.y = ori.dst),
         tn AS (
           SELECT n, CAST(count(*) AS BIGINT) AS t
           FROM (SELECT v1 AS n FROM tri UNION ALL SELECT v2 FROM tri
                 UNION ALL SELECT v3 FROM tri)
           GROUP BY 1)
         SELECT deg.n AS n, CAST(deg.d AS BIGINT) AS d,
           coalesce(tn.t, 0) AS t,
           CASE WHEN deg.d < 2 THEN 0e0
                ELSE 2e0 * coalesce(tn.t, 0) / (deg.d * (deg.d - 1)) END AS cc
         FROM deg LEFT JOIN tn ON deg.n = tn.n
         ORDER BY t DESC, deg.n ASC LIMIT 50""",
    "q_trimmed_mean" ->
      """WITH cents AS (
           SELECT o_orderpriority AS prio,
             CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS x
           FROM orders),
         cuts AS (
           SELECT prio, quantile_cont(x, 0.25e0) AS lo, quantile_cont(x, 0.75e0) AS hi
           FROM cents GROUP BY 1)
         SELECT c.prio AS o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_all,
           CAST(count(*) FILTER (x >= lo AND x <= hi) AS BIGINT) AS n_kept,
           CAST(sum(x) FILTER (x >= lo AND x <= hi) AS DOUBLE)
             / (count(*) FILTER (x >= lo AND x <= hi) * 1e2) AS trimmed_mean
         FROM cents c JOIN cuts ON c.prio = cuts.prio
         GROUP BY 1 ORDER BY o_orderpriority""",
    "q_mode" ->
      """WITH h AS (
           SELECT o_orderpriority, CAST(hour(o_orderdate) AS BIGINT) AS hour,
             count(*) AS n
           FROM orders GROUP BY 1, 2),
         rk AS (
           SELECT o_orderpriority, hour, CAST(n AS BIGINT) AS n,
             row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY n DESC, hour ASC) AS r
           FROM h)
         SELECT o_orderpriority, hour AS modal_hour, n
         FROM rk WHERE r = 1 ORDER BY o_orderpriority""",
    "q_benford" ->
      """WITH d AS (
           SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100
             AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
           FROM orders),
         c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
         t AS (SELECT digit, n, CAST(n AS DOUBLE) / sum(n) OVER () AS share FROM c)
         SELECT digit, n, round(share, 6) AS share,
           round(log10(1e0 + 1e0 / digit), 6) AS benford_p,
           round(share - log10(1e0 + 1e0 / digit), 6) AS excess
         FROM t ORDER BY digit""",
    "q_tpch_q5" ->
      s"""SELECT n_name, ${decToDouble(s"sum($discountedDec)")} AS revenue
         FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= DATE '1995-01-01'
           AND o_orderdate < DATE '1996-01-01'
         GROUP BY n_name ORDER BY revenue DESC, n_name""",
    // the UDF body inlined — what Catalyst itself does with the SQL UDF
    "q_sql_udf" ->
      s"""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_lines,
         ${decToDouble(s"sum($discountedDec)")} AS revenue
         FROM lineitem
         GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_exec_immediate" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
         CAST(min(o_totalprice) AS DOUBLE) AS min_price
         FROM orders WHERE o_totalprice >= 100000.0
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q_pipe_sql" ->
      """SELECT c_mktsegment, n_orders, total,
           round(total / n_orders, 2) AS avg_price
         FROM (
           SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
             CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total
           FROM orders JOIN customer ON o_custkey = c_custkey
           WHERE o_orderdate >= DATE '1997-01-01'
           GROUP BY c_mktsegment)
         WHERE n_orders > 0
         ORDER BY c_mktsegment""",
    "q_param_sql" ->
      """SELECT o_orderpriority, count(*) AS n,
         CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total
         FROM orders
         WHERE o_totalprice >= 50000.0 AND o_orderdate >= TIMESTAMP '1998-01-01'
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_recursive_cal" ->
      """WITH RECURSIVE b AS (
           SELECT date_trunc('month', min(o_orderdate)) AS start_month,
             date_trunc('month', max(o_orderdate)) AS end_month
           FROM orders),
         monthly AS (
           SELECT date_trunc('month', o_orderdate) AS m,
             CAST(count(*) AS BIGINT) AS n_orders,
             sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev_d
           FROM orders GROUP BY 1),
         months(m) AS (
           SELECT start_month FROM b
           UNION ALL
           SELECT months.m + INTERVAL 1 MONTH
           FROM months JOIN b ON months.m < b.end_month)
         SELECT strftime(months.m, '%Y-%m') AS month,
           coalesce(g.n_orders, 0) AS n_orders,
           round(coalesce(CAST(CAST(g.rev_d AS VARCHAR) AS DOUBLE), 0.0e0), 2)
             AS revenue
         FROM months LEFT JOIN monthly g ON g.m = months.m
         ORDER BY month""",
    "q_tpch_q8" ->
      s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
           round(${decToDouble(s"sum(CASE WHEN n2.n_name = 'NATION_3' THEN $discountedDec ELSE CAST(0 AS DECIMAL(18,4)) END)")}
             / ${decToDouble(s"sum($discountedDec)")}, 6) AS mkt_share
         FROM lineitem
           JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation n1 ON c_nationkey = n1.n_nationkey
           JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'AMERICA'
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation n2 ON s_nationkey = n2.n_nationkey
         GROUP BY 1 ORDER BY o_year""",
    "q_tpch_q3" ->
      s"""SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS odate,
           o_orderpriority, ${decToDouble(s"sum($discountedDec)")} AS revenue
         FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < DATE '1998-06-15'
           AND l_shipdate > DATE '1998-06-15'
         GROUP BY l_orderkey, odate, o_orderpriority
         ORDER BY revenue DESC, odate, l_orderkey
         LIMIT 10""",
    "q_cdc_diff" -> cdcDiffOracle,
    "q_cdc_sql" -> cdcDiffOracle, // TVF spelling, same truth
    // schema-drift diff: H2 dropped total_cents and added max_cents;
    // the oracle aligns by name with null-fill and lets the null-filled
    // values participate in change detection, exactly like the engine
    "q_cdc_drift" ->
      """WITH p AS (
           SELECT o_custkey AS custkey, CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) * 100 AS BIGINT)
               AS total_cents
           FROM orders
           WHERE o_orderdate >= DATE '1996-01-01'
             AND o_orderdate < DATE '1996-07-01'
           GROUP BY 1),
         c AS (
           SELECT o_custkey AS custkey, CAST(count(*) AS BIGINT) AS n_orders,
             CAST(max(CAST(o_totalprice AS DECIMAL(18,4))) * 100 AS BIGINT)
               AS max_cents
           FROM orders
           WHERE o_orderdate >= DATE '1996-07-01'
             AND o_orderdate < DATE '1997-01-01'
           GROUP BY 1),
         j AS (
           SELECT coalesce(p.custkey, c.custkey) AS custkey,
             p.custkey IS NULL AS ins, c.custkey IS NULL AS del,
             p.n_orders AS pn, p.total_cents AS pt,
             c.n_orders AS cn, c.max_cents AS cm
           FROM p FULL JOIN c ON p.custkey = c.custkey)
         SELECT custkey, 'insert' AS change_type, cn AS n_orders,
           CAST(NULL AS BIGINT) AS total_cents, cm AS max_cents
         FROM j WHERE ins
         UNION ALL
         SELECT custkey, 'delete', pn, pt, CAST(NULL AS BIGINT) FROM j WHERE del
         UNION ALL
         SELECT custkey, 'update_preimage', pn, pt, CAST(NULL AS BIGINT)
         FROM j WHERE NOT ins AND NOT del
           AND (pn IS DISTINCT FROM cn OR pt IS NOT NULL OR cm IS NOT NULL)
         UNION ALL
         SELECT custkey, 'update_postimage', cn, CAST(NULL AS BIGINT), cm
         FROM j WHERE NOT ins AND NOT del
           AND (pn IS DISTINCT FROM cn OR pt IS NOT NULL OR cm IS NOT NULL)
         ORDER BY custkey, change_type""",
    // applyFeed(prev, feed) must equal snapshot N+1 recomputed directly
    "q_cdc_apply_sql" -> cdcApplyOracle, // TVF round trip, same truth
    "q_cdc_apply" -> cdcApplyOracle,
    "q_mv_rewrite" -> mvRewriteOracle,
    "q_mv_rewrite_sql" -> mvRewriteOracle, // SQL entry path, same truth
    // avg-from-partials: the oracle spells the derivation's exact
    // arithmetic (one correctly-rounded division over exact integer
    // sums) so both sides compute the identical double
    "q_mv_rewrite_avg" ->
      """SELECT o_orderstatus,
           CAST(sum(o_orderkey) AS DOUBLE) / count(o_orderkey) AS avg_okey,
           CAST(count(o_orderkey) AS BIGINT) AS n_keys,
           CAST(count(*) AS BIGINT) AS n_orders
         FROM orders GROUP BY 1 ORDER BY o_orderstatus""",
    "q_mv_rewrite_filter" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
           min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         FROM orders
         WHERE o_orderstatus = 'F' AND o_orderpriority <> '3-MEDIUM'
         GROUP BY 1 ORDER BY o_orderpriority""",
    "q_mv_rewrite_distinct" ->
      """SELECT o_orderpriority,
           CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_status,
           CAST(count(*) AS BIGINT) AS n_orders,
           max(o_totalprice) AS max_price
         FROM orders GROUP BY 1 ORDER BY o_orderpriority""",
    "q_mv_rewrite_join" -> mvRewriteJoinOracle,
    "q_mv_rewrite_join_sql" -> mvRewriteJoinOracle, // SQL path, same truth
    "q_mv_rewrite_gsets" ->
      """SELECT o_orderpriority, o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           max(o_totalprice) AS max_price,
           CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid
         FROM orders
         GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                 (o_orderstatus), ())
         ORDER BY gid, o_orderpriority, o_orderstatus""",
    "q_mv_rewrite_rollup" ->
      """SELECT o_orderpriority, o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           min(o_totalprice) AS min_price,
           CAST(sum(o_orderkey) AS DOUBLE) / count(o_orderkey) AS avg_okey,
           CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid
         FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
         ORDER BY gid, o_orderpriority, o_orderstatus""",
    "q_mv_rewrite_expr" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100
             AS BIGINT)) AS BIGINT) AS total_cents
         FROM orders GROUP BY 1 ORDER BY o_orderstatus""",
    "q_mv_rewrite_rollup2" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
           min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           CAST(sum(o_orderkey) AS DOUBLE) / count(o_orderkey) AS avg_okey,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100
             AS BIGINT)) AS BIGINT) AS total_cents
         FROM orders GROUP BY 1 ORDER BY o_orderpriority""",
    // the split is a partition of orders, so the base table is the truth
    "q_mv_rewrite_union" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
           min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           CAST(sum(o_orderkey) AS DOUBLE) / count(o_orderkey) AS avg_okey
         FROM orders GROUP BY 1 ORDER BY o_orderpriority""",
    "q_mv_rewrite_union_sql" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
           min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           CAST(sum(o_orderkey) AS DOUBLE) / count(o_orderkey) AS avg_okey
         FROM orders GROUP BY 1 ORDER BY o_orderpriority""",
    "q_mv_rewrite_star2" ->
      """SELECT n_name, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           min(o_totalprice) AS min_price,
           CAST(sum(o_orderkey) AS DOUBLE) / count(o_orderkey) AS avg_okey
         FROM orders
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
         GROUP BY 1 ORDER BY n_name""",
    "q_mv_rewrite_having" ->
      """SELECT o_orderpriority, o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           min(o_totalprice) AS min_price
         FROM orders
         GROUP BY 1, 2
         HAVING min(o_totalprice) < 5000
         ORDER BY o_orderpriority, o_orderstatus""",
    // every value flows through maintain()'s incremental merge; the
    // oracle is the direct base recompute, avg spelled as the exact
    // sum/count derivation (see q_mv_rewrite_avg)
    "q_mv_ivm" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
           min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           CAST(sum(o_orderkey) AS DOUBLE) / count(o_orderkey) AS avg_okey
         FROM orders GROUP BY 1 ORDER BY o_orderpriority""",
    "q_spearman" ->
      s"""WITH o AS (
           SELECT o_orderpriority AS prio, o_orderkey AS k,
             CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS pc,
             o_orderdate AS d
           FROM orders),
         r AS (
           SELECT prio,
             CAST(row_number() OVER (PARTITION BY prio ORDER BY pc, k) AS BIGINT) AS rx,
             CAST(row_number() OVER (PARTITION BY prio ORDER BY d, k) AS BIGINT) AS ry
           FROM o),
         a AS (
           SELECT prio, CAST(count(*) AS BIGINT) AS n,
             ${decToDouble("sum(rx)")} AS sx, ${decToDouble("sum(ry)")} AS sy,
             ${decToDouble("sum(rx * ry)")} AS sxy,
             ${decToDouble("sum(rx * rx)")} AS sxx,
             ${decToDouble("sum(ry * ry)")} AS syy
           FROM r GROUP BY prio)
         SELECT prio, n,
           round((CAST(n AS DOUBLE) * sxy - sx * sy)
             / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                  * (CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS spearman_rho
         FROM a ORDER BY prio""",
    "q_tpch_q10" ->
      s"""SELECT c_custkey, c_name, ${decToDouble(s"sum($discountedDec)")} AS revenue,
           c_acctbal, n_name
         FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND o_orderdate >= DATE '1995-10-01'
           AND o_orderdate < DATE '1996-01-01'
         GROUP BY c_custkey, c_name, c_acctbal, n_name
         ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "q_tpch_q21" ->
      """WITH lf AS (
           SELECT l.l_orderkey, l.l_suppkey,
             (l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY) AS late
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
           WHERE o.o_orderstatus = 'F')
         SELECT s.s_name, n.n_name, CAST(count(*) AS BIGINT) AS numwait
         FROM lf l1
           JOIN supplier s ON s.s_suppkey = l1.l_suppkey
           JOIN nation n ON s.s_nationkey = n.n_nationkey
         WHERE l1.late
           AND EXISTS (SELECT 1 FROM lf l2
             WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lf l3
             WHERE l3.late AND l3.l_orderkey = l1.l_orderkey
               AND l3.l_suppkey <> l1.l_suppkey)
         GROUP BY s.s_name, n.n_name
         ORDER BY numwait DESC, s_name""",
    "q_tpch_q4" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
         FROM orders
         WHERE o_orderdate >= DATE '1996-01-01'
           AND o_orderdate < DATE '1996-04-01'
           AND EXISTS (SELECT 1 FROM lineitem
             WHERE l_orderkey = o_orderkey
               AND l_shipdate > o_orderdate + INTERVAL 45 DAY)
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_tpch_q6" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_lines,
           ${decToDouble("""sum(CAST(l_extendedprice AS DECIMAL(18,4))
             * CAST(l_discount AS DECIMAL(18,4)))""")} AS revenue
         FROM lineitem
         WHERE l_shipdate >= DATE '1996-01-01'
           AND l_shipdate < DATE '1997-01-01'
           AND l_discount >= 0.02e0 AND l_discount <= 0.04e0
           AND l_quantity < 24.0e0""",
    "q_tpch_q7" ->
      s"""SELECT r1.r_name AS supp_region, r2.r_name AS cust_region,
           CAST(year(l_shipdate) AS BIGINT) AS l_year,
           ${decToDouble(s"sum($discountedDec)")} AS revenue
         FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation n1 ON s_nationkey = n1.n_nationkey
           JOIN region r1 ON n1.n_regionkey = r1.r_regionkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation n2 ON c_nationkey = n2.n_nationkey
           JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
         WHERE (r1.r_name = 'ASIA' AND r2.r_name = 'AMERICA')
            OR (r1.r_name = 'AMERICA' AND r2.r_name = 'ASIA')
         GROUP BY 1, 2, 3 ORDER BY supp_region, cust_region, l_year""",
    "q_tpch_q9" ->
      s"""WITH pf AS (
           SELECT p_partkey,
             CAST(CAST(p_retailprice AS DECIMAL(18,4)) * 100 AS BIGINT) * 6
               AS cost_millis_unit
           FROM part WHERE p_name LIKE '%gear%'),
         g AS (
           SELECT n_name AS nation,
             CAST(year(o_orderdate) AS BIGINT) AS o_year,
             ${decToDouble(s"sum($discountedDec)")} AS rev_d,
             CAST(sum(cost_millis_unit * CAST(l_quantity AS BIGINT)) AS BIGINT)
               AS cost_millis
           FROM lineitem
             JOIN pf ON l_partkey = p_partkey
             JOIN supplier ON l_suppkey = s_suppkey
             JOIN nation ON s_nationkey = n_nationkey
             JOIN orders ON l_orderkey = o_orderkey
           GROUP BY 1, 2)
         SELECT nation, o_year,
           rev_d - CAST(cost_millis AS DOUBLE) / 1000.0e0 AS profit
         FROM g ORDER BY nation, o_year DESC""",
    "q_tpch_q11" ->
      s"""WITH v AS (
           SELECT l_partkey,
             sum(CAST(l_quantity AS DECIMAL(18,4))
               * CAST(l_extendedprice AS DECIMAL(18,4))) AS val_dec
           FROM lineitem
             JOIN supplier ON l_suppkey = s_suppkey
             JOIN nation ON s_nationkey = n_nationkey
           WHERE n_name = 'NATION_7'
           GROUP BY 1),
         tot AS (
           SELECT ${decToDouble("sum(val_dec)")} AS total,
             CAST(count(*) AS BIGINT) AS n_parts
           FROM v)
         SELECT l_partkey, ${decToDouble("val_dec")} AS value
         FROM v, tot
         WHERE ${decToDouble("val_dec")} > 1.5e0 * total / CAST(n_parts AS DOUBLE)
         ORDER BY value DESC, l_partkey""",
    "q_tpch_q12" ->
      """SELECT CASE WHEN l_shipdate <= o_orderdate + INTERVAL 30 DAY
             THEN 'FAST' ELSE 'SLOW' END AS ship_band,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
             THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_shipdate >= DATE '1996-01-01'
           AND l_shipdate < DATE '1997-01-01'
         GROUP BY 1 ORDER BY ship_band""",
    "q_tpch_q14" ->
      s"""WITH a AS (
           SELECT
             ${decToDouble(s"""sum(CASE WHEN p_type = 'PROMO' THEN $discountedDec
               ELSE CAST(0 AS DECIMAL(18,4)) END)""")} AS promo_d,
             ${decToDouble(s"sum($discountedDec)")} AS total_d
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE l_shipdate >= DATE '1996-03-01'
             AND l_shipdate < DATE '1996-04-01')
         SELECT (100.0e0 * promo_d) / total_d AS promo_revenue_pct FROM a""",
    "q_tpch_q15" ->
      s"""WITH r AS (
           SELECT l_suppkey, ${decToDouble(s"sum($discountedDec)")}
             AS total_revenue
           FROM lineitem
           WHERE l_shipdate >= DATE '1996-01-01'
             AND l_shipdate < DATE '1996-04-01'
           GROUP BY 1)
         SELECT s_suppkey, s_name, total_revenue
         FROM r JOIN supplier ON l_suppkey = s_suppkey
         WHERE total_revenue = (SELECT max(total_revenue) FROM r)
         ORDER BY s_suppkey""",
    "q_tpch_q16" ->
      """SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_type <> 'PROMO'
           AND p_size IN (1, 5, 9, 14, 23, 36, 45, 49)
           AND l_suppkey NOT IN
             (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0e0)
         GROUP BY 1, 2, 3
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
    "q_tpch_q19" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_lines,
           ${decToDouble(s"sum($discountedDec)")} AS revenue
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE l_quantity >= 1.0e0 AND l_quantity <= 35.0e0
           AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
                 AND l_quantity BETWEEN 1.0e0 AND 15.0e0)
             OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20
                 AND l_quantity BETWEEN 10.0e0 AND 25.0e0)
             OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 25
                 AND l_quantity BETWEEN 20.0e0 AND 35.0e0))""",
    "q_tpch_q20" ->
      """WITH red AS (SELECT p_partkey FROM part WHERE p_name LIKE 'red%'),
         pairs AS (
           SELECT p_partkey, l_suppkey, sum(l_quantity) AS pq
           FROM lineitem JOIN red ON l_partkey = p_partkey
           GROUP BY 1, 2),
         tot AS (
           SELECT p_partkey AS tpk, sum(pq) AS tq,
             CAST(count(*) AS BIGINT) AS ns
           FROM pairs GROUP BY 1),
         keep AS (
           SELECT DISTINCT l_suppkey
           FROM pairs JOIN tot ON p_partkey = tpk
           WHERE pq * CAST(ns AS DOUBLE) > 2.0e0 * tq)
         SELECT s_suppkey, s_name, n_name
         FROM keep
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
         ORDER BY s_suppkey""",
    "q_tpch_q2" ->
      """WITH pf AS (
           SELECT p_partkey, p_name FROM part
           WHERE p_type = 'STANDARD' AND p_size <= 5),
         eu AS (
           SELECT s_suppkey, s_name, s_acctbal, n_name
           FROM supplier JOIN nation ON s_nationkey = n_nationkey
             JOIN region ON n_regionkey = r_regionkey
           WHERE r_name = 'EUROPE'),
         ps AS (
           SELECT p_partkey, p_name, l_suppkey,
             min(l_extendedprice / l_quantity) AS cost
           FROM lineitem JOIN pf ON l_partkey = p_partkey
           GROUP BY 1, 2, 3),
         pse AS (
           SELECT p_partkey, p_name, cost, s_name, s_acctbal, n_name
           FROM ps JOIN eu ON l_suppkey = s_suppkey),
         mc AS (SELECT p_partkey AS mpk, min(cost) AS min_cost
                FROM pse GROUP BY 1)
         SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
           round(cost, 6) AS cost
         FROM pse JOIN mc ON p_partkey = mpk AND cost = min_cost
         ORDER BY s_acctbal DESC, s_name, p_partkey""",
    "q_tpch_q13" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
           SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
           FROM customer LEFT JOIN orders
             ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
           GROUP BY c_custkey)
         GROUP BY c_count ORDER BY custdist DESC, c_count DESC""",
    // decimal sums go to DOUBLE via decToDouble (VARCHAR strtod), not a
    // direct cast: DuckDB's int128->double path can be 1 ulp off the
    // correctly-rounded value once the unscaled sum exceeds 2^53 —
    // harmless on avg_yearly's rounded output but load-bearing for
    // Q22's avg_bal threshold below, so both use the safe spelling
    "q_tpch_q17" ->
      s"""WITH pf AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#23'),
         li AS (
           SELECT p_partkey, l_quantity, l_extendedprice
           FROM lineitem JOIN pf ON l_partkey = p_partkey),
         av AS (
           SELECT p_partkey AS pk, sum(l_quantity) / count(*) AS avg_qty
           FROM li GROUP BY 1)
         SELECT CAST(count(*) AS BIGINT) AS n_lines,
           round(${decToDouble("sum(CAST(l_extendedprice AS DECIMAL(18,4)))")}
             / 7.0e0, 2) AS avg_yearly
         FROM li JOIN av ON p_partkey = pk
         WHERE l_quantity < 0.2e0 * avg_qty""",
    "q_tpch_q18" ->
      """WITH big AS (
           SELECT l_orderkey, sum(l_quantity) AS sum_qty
           FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 300.0e0)
         SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           sum_qty
         FROM orders JOIN big ON o_orderkey = l_orderkey
           JOIN customer ON o_custkey = c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
    "q_tpch_q22" ->
      s"""WITH ab AS (
           SELECT ${decToDouble("sum(CAST(c_acctbal AS DECIMAL(18,4)))")}
             / count(c_acctbal) AS avg_bal
           FROM customer WHERE c_acctbal > 0.0e0),
         urg AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_orderpriority = '1-URGENT')
         SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS numcust,
           ${decToDouble("sum(CAST(c_acctbal AS DECIMAL(18,4)))")} AS totacctbal
         FROM customer, ab
         WHERE c_acctbal > avg_bal
           AND c_custkey NOT IN (SELECT o_custkey FROM urg)
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    // HUGEINT Σi·x_i cast to DOUBLE via VARCHAR (correctly-rounded
    // strtod) to match Spark's BigDecimal.doubleValue — same hazard as
    // decToDouble above
    "q_gini" ->
      """WITH cents AS (
           SELECT o_orderpriority AS prio,
             CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS x,
             o_orderkey
           FROM orders),
         rk AS (
           SELECT prio, x,
             row_number() OVER (PARTITION BY prio ORDER BY x, o_orderkey) AS i
           FROM cents),
         agg AS (
           SELECT prio, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             sum(CAST(i AS HUGEINT) * x) AS sixi
           FROM rk GROUP BY 1)
         SELECT prio AS o_orderpriority, n AS n_orders,
           CAST(CAST(sixi * 2 - (CAST(n AS HUGEINT) + 1) * sx AS VARCHAR) AS DOUBLE) /
           CAST(CAST(CAST(n AS HUGEINT) * sx AS VARCHAR) AS DOUBLE) AS gini
         FROM agg ORDER BY o_orderpriority""",
    // PAV minimax unrolled: fitted_i = max_{j<=i} min_{k>=i} of the
    // exact-BIGINT segment average — same triangle-join shape as the
    // Spark plan, every double a single correctly-rounded division
    "q_isotonic_cal" ->
      """WITH pts AS (
           SELECT least(19, CAST(floor(o_totalprice / 25000.0e0) AS BIGINT)) AS b,
             CASE WHEN o_orderpriority LIKE '1%' THEN 1 ELSE 0 END AS y
           FROM orders),
         bins AS (
           SELECT b, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s
           FROM pts GROUP BY b),
         seg AS (
           SELECT j.b AS j, k.b AS k,
             CAST(sum(m.n) AS BIGINT) AS sn, CAST(sum(m.s) AS BIGINT) AS ss
           FROM bins j JOIN bins k ON j.b <= k.b
             JOIN bins m ON m.b BETWEEN j.b AND k.b
           GROUP BY 1, 2),
         mn AS (
           SELECT i.b AS i, seg.j, min(CAST(ss AS DOUBLE) / sn) AS mn
           FROM bins i JOIN seg ON seg.j <= i.b AND seg.k >= i.b
           GROUP BY 1, 2),
         fit AS (SELECT i, max(mn) AS fitted FROM mn GROUP BY 1)
         SELECT b, n, s AS n_pos, CAST(s AS DOUBLE) / n AS rate, fitted
         FROM bins JOIN fit ON fit.i = bins.b ORDER BY b""",
    // same category aggregate, same exact-ratio doubles, ln via
    // round(.., 6); iv_term multiplies the ALREADY-rounded WoE so both
    // engines compound identically
    "q_woe_iv" ->
      """WITH cat AS (
           SELECT o_orderpriority AS category,
             CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END) AS BIGINT) AS n_good,
             CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_bad
           FROM orders GROUP BY 1),
         tot AS (
           SELECT CAST(sum(n_good) AS BIGINT) AS tg,
             CAST(sum(n_bad) AS BIGINT) AS tb
           FROM cat),
         per AS (
           SELECT category, n_good, n_bad,
             round(ln((CAST(n_good AS DOUBLE) / tg)
               / (CAST(n_bad AS DOUBLE) / tb)), 6) AS woe,
             round((CAST(n_good AS DOUBLE) / tg - CAST(n_bad AS DOUBLE) / tb)
               * round(ln((CAST(n_good AS DOUBLE) / tg)
                   / (CAST(n_bad AS DOUBLE) / tb)), 6), 6) AS iv_term
           FROM cat CROSS JOIN tot)
         SELECT category, n_good, n_bad, woe, iv_term FROM per
         UNION ALL
         SELECT '__total__', CAST(sum(n_good) AS BIGINT),
           CAST(sum(n_bad) AS BIGINT), NULL, round(sum(iv_term), 6)
         FROM per
         ORDER BY category""",
    // same blocked pair space, pattern counts, data-derived u's and
    // literal m's; log2 differences absorbed by round(.., 6)
    "q_record_linkage" ->
      """WITH c AS (
           SELECT c_custkey, c_nationkey, c_mktsegment AS seg,
             CAST(floor(c_acctbal / 1000.0e0) AS BIGINT) AS balb,
             substring(right(c_name, 2), 1, 1) AS nd
           FROM customer),
         pairs AS (
           SELECT
             CASE WHEN a.seg = b.seg THEN 4 ELSE 0 END +
             CASE WHEN a.balb = b.balb THEN 2 ELSE 0 END +
             CASE WHEN a.nd = b.nd THEN 1 ELSE 0 END AS pattern
           FROM c a JOIN c b ON a.c_nationkey = b.c_nationkey
           WHERE a.c_custkey % 2 = 0 AND b.c_custkey % 2 = 1),
         pat AS (
           SELECT CAST(pattern AS BIGINT) AS pattern,
             CAST(count(*) AS BIGINT) AS n_pairs
           FROM pairs GROUP BY 1),
         tot AS (
           SELECT CAST(sum(n_pairs) AS BIGINT) AS tot,
             CAST(sum(CASE WHEN pattern & 4 > 0 THEN n_pairs ELSE 0 END) AS BIGINT) AS a4,
             CAST(sum(CASE WHEN pattern & 2 > 0 THEN n_pairs ELSE 0 END) AS BIGINT) AS a2,
             CAST(sum(CASE WHEN pattern & 1 > 0 THEN n_pairs ELSE 0 END) AS BIGINT) AS a1
           FROM pat),
         scored AS (
           SELECT pattern, n_pairs,
             round(
               (CASE WHEN pattern & 4 > 0
                  THEN log2(0.95e0 / (CAST(a4 AS DOUBLE) / tot))
                  ELSE log2((1.0e0 - 0.95e0) / (1.0e0 - CAST(a4 AS DOUBLE) / tot)) END) +
               (CASE WHEN pattern & 2 > 0
                  THEN log2(0.9e0 / (CAST(a2 AS DOUBLE) / tot))
                  ELSE log2((1.0e0 - 0.9e0) / (1.0e0 - CAST(a2 AS DOUBLE) / tot)) END) +
               (CASE WHEN pattern & 1 > 0
                  THEN log2(0.8e0 / (CAST(a1 AS DOUBLE) / tot))
                  ELSE log2((1.0e0 - 0.8e0) / (1.0e0 - CAST(a1 AS DOUBLE) / tot)) END),
               6) AS score
           FROM pat CROSS JOIN tot)
         SELECT pattern, n_pairs, score,
           CASE WHEN score > 3.0e0 THEN 'link'
                WHEN score > 0.0e0 THEN 'possible'
                ELSE 'nonlink' END AS decision
         FROM scored ORDER BY pattern""")
}
