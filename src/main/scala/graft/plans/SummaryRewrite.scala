package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, AttributeSet, Cast, Coalesce, Divide, EvalMode, Expression, Literal, NamedExpression, NumericEvalContext, PlanExpression, PredicateHelper}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Average, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Materialized-view rewrite (injected Catalyst optimizer rule): an
  * aggregate over a REGISTERED base table is transparently re-planned
  * onto its stored summary table when every piece is derivable — the
  * lakehouse pattern where a 100 TB fact table's daily rollups are
  * answered from a keys-sized summary instead of a corpus scan.
  *
  * Matched shapes (every guard sound-by-construction; anything else
  * silently runs against the base table — never wrong, just
  * unrewritten):
  *
  *  - `Aggregate([Project|Filter]* base)` — column pruning is free;
  *    Filters are admitted iff every conjunct is deterministic,
  *    subquery-free, and references the base ONLY through summary KEY
  *    columns. A key-only predicate is constant per group, so filtering
  *    summary rows ≡ filtering base rows then grouping (`WHERE
  *    o_orderstatus = 'F' GROUP BY o_orderstatus` answers from the
  *    summary instead of the fact scan).
  *  - `Aggregate([Project]* (fact ⋈,,inner,, dim))` — the star-schema
  *    MV. Sound whenever the join condition (and any below-join fact
  *    filter) references the fact side only through summary keys: all
  *    rows of a fact group g then share one join outcome, so the join
  *    result is ⋃,,g,, rows(g) × D(g), and re-aggregating the summary
  *    joined to the dim on the SAME condition reproduces every derivable
  *    aggregate exactly — count(*) and sums pick up the |D(g)| join
  *    multiplicity through per-pair partials, min/max are
  *    duplication-blind, avg weights itself through sum/count partials.
  *    This subsumes (and is pinned wider than) the broadcast FK
  *    equi-join: ANY deterministic fact-key-only predicate qualifies.
  *    The dim side is an opaque subtree reused as-is (exprIds intact).
  *    Aggregates over DIM columns abort: dim rows are duplicated
  *    per-fact-row in the base plan but per-group in the rewrite.
  *    Outer joins abort (null-extended rows have no group).
  *
  * Grouping columns must be a mix of summary KEYs (equal or COARSER —
  * re-aggregation over the stored partials handles rollup) and, under a
  * join, dim attributes. Aggregates must be derivable from stored
  * partials with EXACT semantics:
  *  - count(*)/count(1) from summing the stored count partial;
  *  - count(x) from summing a stored non-null-count partial;
  *  - count(DISTINCT k...) when every argument is a summary KEY, by
  *    re-counting DISTINCT over the summary's key columns (one summary
  *    row per distinct full-key tuple makes the re-count exact; non-key
  *    arguments abort);
  *  - min/max from re-min/max of the stored per-key min/max;
  *  - sum only when re-summing the stored partial yields the SAME data
  *    type as the original (LongType/integral sums — double re-sums
  *    change float addition order and decimal re-sums widen precision,
  *    both abort); TRY-mode aggregates (try_sum/try_avg) abort — their
  *    overflow-to-NULL semantics cannot be reproduced from partials —
  *    while LEGACY/ANSI derive with the query's own eval mode
  *    propagated into the reconstructed re-sums;
  *  - avg(x) as sum-partial / non-null-count-partial, only when the
  *    stored sum is integral (LongType): both partial re-sums are exact
  *    over longs, then ONE correctly-rounded double division. NOTE the
  *    deliberate exactness divergence: Spark's native Average
  *    accumulates its sum in DoubleType, so for groups whose |sum|
  *    exceeds 2^53 the UNREWRITTEN plan carries fp-order error in the
  *    last ulp while this derivation stays exact — below 2^53 (where
  *    doubles are exact) the two are bit-equal, above it the rewrite is
  *    the more correct side. Float/decimal partials abort.
  *
  * Freshness is the REGISTRAR's contract, as in every MV system: specs
  * are registered against a content-addressed summary (the fixture
  * builders key the summary dir on [[graft.ops.ContentTag]], so a base
  * rewrite mints a new summary path). Output attribute exprIds are
  * preserved via aliases, so parent plans are untouched; the summary
  * relation is `newInstance()`d per rewrite so two rewrites in one
  * query cannot collide on exprIds. The rule is idempotent (the
  * rewritten aggregate's child scans the summary relation, which is
  * never registered as a base). A base table may carry SEVERAL summaries
  * (e.g. one per key set); candidates are tried CHEAPEST FIRST (stored
  * summary bytes, [[regsFor]]) and the first derivable one wins — the
  * smallest summary that can answer the query.
  */
object SummaryRewrite extends Rule[LogicalPlan] with PredicateHelper {

  /** keys: summary grouping columns; countCol: stored count(*) partial;
    * minCols/maxCols/sumCols/cntCols: base column name → stored partial
    * column (cntCols are per-column NON-NULL counts, the count(x) and
    * avg denominators). sumExprs: SQL expression TEXT over base columns
    * → stored sum-of-expression partial (e.g. the exact-cents idiom
    * `CAST(CAST(p AS DECIMAL(18,4)) * 100 AS BIGINT)`): the expression
    * is resolved and optimizer-normalized against the base at
    * registration, then matched against query-side sum children by a
    * name-canonical tree compare — sound for ANY deterministic
    * expression (it aggregates per row, so non-key references are
    * fine), with the same integral exactness gate as plain sums.
    */
  case class SummarySpec(
      summaryPath: String, keys: Seq[String], countCol: String,
      minCols: Map[String, String] = Map.empty,
      maxCols: Map[String, String] = Map.empty,
      sumCols: Map[String, String] = Map.empty,
      cntCols: Map[String, String] = Map.empty,
      sumExprs: Map[String, String] = Map.empty,
      baseTag: String = "") {
    // resolved once at registration: the summary's analyzed relation
    // (file listing paid once, not per optimizer pass)
    private[SummaryRewrite] lazy val relation: LogicalPlan =
      SparkSession.active.read.parquet(summaryPath).queryExecution.analyzed
    // lowercase views of every name-keyed map: attribute names come off
    // the resolved plan with the parquet schema's casing, so the lookup
    // must be as case-insensitive as register()'s validation — a
    // case-mismatched spec must not pass validation yet silently never
    // rewrite
    private[SummaryRewrite] lazy val keySetLc: Set[String] =
      keys.map(_.toLowerCase).toSet
    private[SummaryRewrite] lazy val minLc: Map[String, String] =
      minCols.map { case (k, v) => k.toLowerCase -> v }
    private[SummaryRewrite] lazy val maxLc: Map[String, String] =
      maxCols.map { case (k, v) => k.toLowerCase -> v }
    private[SummaryRewrite] lazy val sumLc: Map[String, String] =
      sumCols.map { case (k, v) => k.toLowerCase -> v }
    private[SummaryRewrite] lazy val cntLc: Map[String, String] =
      cntCols.map { case (k, v) => k.toLowerCase -> v }
    private[SummaryRewrite] lazy val exprsLc: Map[String, String] =
      sumExprs.map { case (k, v) => k.toLowerCase -> v }
  }

  /** A registered spec plus its resolution-time artifacts: sumExprs
    * resolved and optimizer-normalized against the BASE relation, in
    * name-canonical form ([[nameCanon]]) ready for tree compare.
    */
  private case class Registered(
      spec: SummarySpec, exprCanon: Seq[(Expression, String)]) {
    // cost for candidate ordering: the summary relation's stats size
    // (file bytes for a parquet summary — exactly what the rewritten
    // plan will scan). Resolved once; a BigInt compare per candidate
    // sort, not a file listing.
    private[SummaryRewrite] lazy val costBytes: BigInt =
      spec.relation.stats.sizeInBytes
  }

  // base-relation identity = the relation's qualified root paths; a base
  // table may carry several summaries (tried cheapest-first, see
  // regsFor)
  private val specs = new ConcurrentHashMap[String, List[Registered]]()

  /** Candidate summaries for a base relation, CHEAPEST FIRST: with
    * several registered summaries the first DERIVABLE one wins, so
    * ordering by stored size makes the winner the smallest derivable
    * summary — e.g. a (returnflag) rollup beats the
    * (returnflag, linestatus) one for a GROUP BY returnflag, whatever
    * the registration order. Size is the right cost here because every
    * candidate answers the query exactly; they differ only in how many
    * summary bytes the rewritten plan scans and re-aggregates.
    * Registration order breaks ties (stable sort), keeping the historic
    * behavior for equal-size candidates.
    */
  private def regsFor(rel: LogicalRelation): Seq[Registered] =
    rootKey(rel).flatMap(k => Option(specs.get(k))).getOrElse(Nil)
      .sortBy(_.costBytes)

  /** Name-canonical form for cross-plan expression compare: attribute
    * references collapse to their lowercase NAME (exprIds differ
    * between the registration-time resolution and any later query) and
    * casts drop the session-zone id the analyzer stamps on them. Both
    * sides being analyzer-resolved and optimizer-folded makes the
    * remaining tree a faithful identity.
    */
  private def nameCanon(e: Expression): Expression =
    e.transform {
      case a: AttributeReference =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
          Seq(a.name.toLowerCase))
      case c: org.apache.spark.sql.catalyst.expressions.Cast
          if c.timeZoneId.isDefined =>
        c.copy(timeZoneId = None)
    }

  private def rootKey(rel: LogicalRelation): Option[String] =
    rel.relation match {
      case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        Some(fs.location.rootPaths.map(_.toString).sorted.mkString(","))
      case _ => None
    }

  /** Register `summary` as a stored rollup of the base table at
    * `srcPath`. Reads the base relation once to pin its qualified
    * identity, and FAILS FAST on a mis-registered spec (a bad column
    * name must surface here with a clear message, not as an optimizer
    * crash on some later query). Re-registration replaces any prior
    * spec with the same summaryPath OR the same key set — the
    * content-tagged fixtures mint a NEW path per corpus tag, and the
    * stale same-keys spec must not keep serving outdated bytes from
    * candidate position 0. Summaries with distinct key sets accumulate
    * as alternative candidates.
    */
  def register(srcPath: String, spec: SummarySpec): Unit = {
    // ONE base read shared by identity pinning, column validation, and
    // sumExprs resolution — register() runs on every ensure() call, so
    // per-entry re-reads would be repeated driver latency
    val baseDf = SparkSession.active.read.parquet(srcPath)
    val rel = baseDf
      .queryExecution.analyzed.collectFirst { case r: LogicalRelation => r }
      .getOrElse(throw new IllegalArgumentException(
        s"SummaryRewrite.register: $srcPath is not a file relation"))
    val key = rootKey(rel).getOrElse(throw new IllegalArgumentException(
      s"SummaryRewrite.register: $srcPath: unsupported relation type " +
        "for summary registration (expected a HadoopFsRelation)"))
    val baseCols = rel.output.map(_.name.toLowerCase).toSet
    val missingBase =
      (spec.keys ++ spec.minCols.keys ++ spec.maxCols.keys ++
        spec.sumCols.keys ++ spec.cntCols.keys)
        .filterNot(n => baseCols(n.toLowerCase))
    require(missingBase.isEmpty,
      s"SummaryRewrite.register($srcPath): column(s) " +
        s"${missingBase.mkString(", ")} not in the base schema " +
        s"[${rel.output.map(_.name).mkString(", ")}]")
    val summaryCols = spec.relation.output.map(_.name.toLowerCase).toSet
    val missingSummary =
      (spec.keys ++ Seq(spec.countCol) ++ spec.minCols.values ++
        spec.maxCols.values ++ spec.sumCols.values ++
        spec.cntCols.values ++ spec.sumExprs.values)
        .filterNot(n => summaryCols(n.toLowerCase))
    require(missingSummary.isEmpty,
      s"SummaryRewrite.register(${spec.summaryPath}): column(s) " +
        s"${missingSummary.mkString(", ")} not in the summary schema " +
        s"[${spec.relation.output.map(_.name).mkString(", ")}]")
    // the "double re-sums abort" contract is ENFORCED here, not just at
    // rewrite time: a double partial would pass the rewrite's
    // dataType-equality gate (Sum(double) == double) yet change fp
    // addition order; decimal re-sums widen precision and could never
    // rewrite anyway — both refused with the reason
    val integral = Set[org.apache.spark.sql.types.DataType](
      org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.IntegerType, LongType)
    spec.sumCols.keys.foreach { c =>
      val dt = rel.output.find(_.name.equalsIgnoreCase(c)).get.dataType
      require(integral(dt),
        s"SummaryRewrite.register($srcPath): sum partial for '$c' ($dt) — " +
          "only INTEGRAL sums re-aggregate exactly (double re-sums change " +
          "fp addition order, decimal re-sums widen precision)")
    }
    spec.keys.foreach { k =>
      val b = rel.output.find(_.name.equalsIgnoreCase(k)).get
      val s = spec.relation.output.find(_.name.equalsIgnoreCase(k)).get
      require(b.dataType == s.dataType,
        s"SummaryRewrite.register(${spec.summaryPath}): key '$k' is " +
          s"${s.dataType} in the summary but ${b.dataType} in the base")
    }
    // sum-expression partials: resolve + optimizer-normalize each SQL
    // text against the base NOW (fail fast on typos), store the
    // name-canonical tree for query-side compare
    val exprCanon: Seq[(Expression, String)] =
      spec.sumExprs.toSeq.map { case (sql, partial) =>
        val resolved = try {
          baseDf.selectExpr(s"($sql) AS __graft_mv_e")
            .queryExecution.optimizedPlan
            .collectFirst { case p: Project => p.projectList.head }
            .map { case a: Alias => a.child; case e => e }
            .getOrElse(throw new IllegalStateException("no Project"))
        } catch {
          case e: Exception => throw new IllegalArgumentException(
            s"SummaryRewrite.register($srcPath): sum expression '$sql' " +
              s"does not resolve against the base schema: ${e.getMessage}")
        }
        require(resolved.deterministic,
          s"SummaryRewrite.register($srcPath): sum expression '$sql' is " +
            "non-deterministic — its per-group partial is not a constant")
        require(integral(resolved.dataType),
          s"SummaryRewrite.register($srcPath): sum expression '$sql' is " +
            s"${resolved.dataType} — only INTEGRAL sums re-aggregate " +
            "exactly (double re-sums change fp addition order, decimal " +
            "re-sums widen precision)")
        (nameCanon(resolved), partial)
      }
    // replacement policy: a new spec evicts prior specs with the SAME
    // key set (case-insensitive) as well as the same summaryPath — the
    // content-tag fixtures mint a NEW summaryPath per corpus tag, and
    // keeping the stale same-keys spec first in candidate order would
    // keep serving outdated bytes. Different key sets (e.g. the
    // (priority, status) and custkey summaries) accumulate.
    specs.compute(key, (_, old) =>
      Option(old).getOrElse(Nil)
        .filterNot(r => r.spec.summaryPath == spec.summaryPath ||
          r.spec.keySetLc == spec.keySetLc ||
          // a changed base CONTENT TAG invalidates every summary of the
          // base, whatever its key set — otherwise a corpus rewrite
          // followed by re-registering only ONE fixture would leave the
          // other key sets' stale summaries serving old bytes
          (spec.baseTag.nonEmpty && r.spec.baseTag.nonEmpty &&
            r.spec.baseTag != spec.baseTag)) :+ Registered(spec, exprCanon))
  }

  /** Drop every registration (test isolation). */
  def clear(): Unit = specs.clear()

  /** Whether a spec equal to `spec` is registered — a content-tagged
    * fixture then skips [[register]], whose base and summary reads cost
    * a Spark job each.
    */
  private[graft] def holds(spec: SummarySpec): Boolean =
    specs.values.stream.anyMatch(_.exists(_.spec == spec))

  /** Drop the registrations whose summary lives at or under `root`: a
    * rebuild clears those bytes, and a registration left in place would
    * answer the rebuild's own aggregate from them.
    */
  private[graft] def dropUnder(root: String): Unit =
    specs.replaceAll((_, regs) => regs.filterNot { r =>
      r.spec.summaryPath == root || r.spec.summaryPath.startsWith(s"$root/")
    })

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (specs.isEmpty) return plan
    plan.transform {
      case agg: Aggregate =>
        rewriteExpand(agg).orElse(rewriteUnion(agg)).orElse(
          candidates(agg.child).view.flatMap { case (rel, filters, dim) =>
            // rootKey is None for non-file V1 relations (JDBC etc.) —
            // they can never be registered, so they never match (and must
            // not NPE the optimizer via a null map key)
            regsFor(rel).view
              .flatMap(reg => rewrite(agg, reg, rel, filters, dim))
          }.headOption).getOrElse(agg)
    }
  }

  /** A matched fact-join's dim side with its (possibly absent) join
    * condition; soundness of the condition is judged in [[rewrite]]
    * against the candidate spec's keys.
    */
  private case class DimJoin(dim: LogicalPlan, cond: Option[Expression])

  /** Join-tree recursion bound: star schemas rarely exceed a handful of
    * dims, and each level doubles the candidate count in the worst
    * (both-sides-strippable) case.
    */
  private val MaxJoinDepth = 8

  /** The relation under any interleaving of pure-attribute Projects
    * (column pruning) and Filters, the latter collected as conjuncts —
    * whether each conjunct is key-only is judged per candidate spec.
    */
  private def stripToRel(p: LogicalPlan): Option[(LogicalRelation, Seq[Expression])] =
    p match {
      case r: LogicalRelation => Some((r, Nil))
      case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        stripToRel(c)
      case Filter(cond, c) =>
        stripToRel(c).map { case (r, fs) =>
          (r, splitConjunctivePredicates(cond) ++ fs)
        }
      case _ => None
    }

  private def stripProjects(p: LogicalPlan): LogicalPlan = p match {
    case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      stripProjects(c)
    case other => other
  }

  /** Candidate (base relation, below-relation filters, join chain)
    * matches for an aggregate child. The fact may sit ARBITRARILY DEEP
    * in a left-deep (or right-deep) tree of inner joins — the TPC-H
    * Q5 family's fact ⋈ dim ⋈ dim ⋈ ... shape — because the pushdown
    * identity composes per join: as long as every condition touches the
    * fact only through summary keys (judged per candidate in
    * [[rewrite]]), grouped fact rows share one outcome through the
    * WHOLE chain. Each level offers both sides as the fact candidate —
    * registration decides which (if either) rewrites; the recursion is
    * depth-bounded. The dim chain is replayed innermost-first around
    * the summary at rebuild. Filters above an inner join need no case
    * of their own: this rule runs in the operator-optimization fixed
    * point, where PushDownPredicates has already pushed them below.
    */
  private def candidates(child: LogicalPlan, depth: Int = 0)
      : Seq[(LogicalRelation, Seq[Expression], List[DimJoin])] =
    stripToRel(child) match {
      case Some((rel, fs)) => Seq((rel, fs, Nil))
      case None if depth < MaxJoinDepth =>
        stripProjects(child) match {
          case Join(l, r, Inner, cond, _) =>
            candidates(l, depth + 1).map { case (rel, fs, joins) =>
              (rel, fs, joins :+ DimJoin(r, cond)) } ++
              candidates(r, depth + 1).map { case (rel, fs, joins) =>
                (rel, fs, joins :+ DimJoin(l, cond)) }
          case _ => Nil
        }
      case None => Nil
    }

  /** Remap a predicate that may touch the base: every base reference
    * must be a summary KEY (whose per-group value the summary stores
    * verbatim); dim references pass through unchanged. Nondeterminism
    * and subqueries abort — they are not once-per-group constants. ONE
    * definition shared by the flat/filter/join rewrite and the
    * grouping-sets rewrite, so the soundness guards cannot diverge.
    */
  private def remapKeyOnly(
      e: Expression, baseOut: AttributeSet, dimOut: AttributeSet,
      keySetLc: Set[String],
      summaryAttr: String => Option[Attribute]): Option[Expression] = {
    if (!e.deterministic) return None
    if (e.exists(_.isInstanceOf[PlanExpression[_]])) return None
    if (!e.references.subsetOf(baseOut ++ dimOut)) return None
    var ok = true
    val out = e.transform {
      case a: AttributeReference if baseOut.contains(a) =>
        if (keySetLc(a.name.toLowerCase))
          summaryAttr(a.name).getOrElse { ok = false; a }
        else { ok = false; a }
    }
    if (ok) Some(out) else None
  }

  /** Derive one aggregate function from the stored partials — shared by
    * the flat/filter/join rewrite and the grouping-sets (Expand)
    * rewrite. None = not derivable (the caller aborts to the base).
    */
  private def deriveAgg(
      fn: AggregateFunction, reg: Registered, baseOut: AttributeSet,
      summaryAttr: String => Option[Attribute]): Option[Expression] = {
    val spec = reg.spec
    def agged(f: AggregateFunction): Expression =
      AggregateExpression(f, Complete, isDistinct = false)
    fn match {
          case Count(Seq(Literal(v, _))) if v != null =>
            // count(*) == sum of stored counts; coalesce keeps count's
            // never-null contract (sum is nullable by type). The
            // v != null guard keeps count(NULL) ≡ 0 sound BY ITSELF,
            // not by NullPropagation's batch position. Count re-sums
            // pin LEGACY: Count itself never throws, and a count
            // overflow needs 2^63 rows — the re-sum must not inherit a
            // throwing mode Count never had.
            summaryAttr(spec.countCol).map(c =>
              Coalesce(Seq(agged(Sum(c, NumericEvalContext(EvalMode.LEGACY))), Literal(0L))))
          case Count(Seq(a: AttributeReference)) if baseOut.contains(a) =>
            // count(x) == sum of stored per-column non-null counts
            spec.cntLc.get(a.name.toLowerCase).flatMap(summaryAttr).map(c =>
              Coalesce(Seq(agged(Sum(c, NumericEvalContext(EvalMode.LEGACY))), Literal(0L))))
          case Min(a: AttributeReference) if baseOut.contains(a) =>
            spec.minLc.get(a.name.toLowerCase).flatMap(summaryAttr)
              .map(c => agged(Min(c)))
          case Max(a: AttributeReference) if baseOut.contains(a) =>
            spec.maxLc.get(a.name.toLowerCase).flatMap(summaryAttr)
              .map(c => agged(Max(c)))
          // eval mode BOUND, not wildcarded: a TRY-mode sum (try_sum)
          // yields NULL on overflow where LEGACY wraps and ANSI throws —
          // rewriting it to a non-TRY Sum over partials would silently
          // change overflow semantics (a value or an error where the
          // base yields NULL), breaking the never-wrong contract, so
          // TRY aborts to the base plan. LEGACY and ANSI derive, and
          // the query's OWN eval context is PROPAGATED into the
          // reconstructed partial re-sum: the re-sum is just a coarser
          // aggregation order of the same exact-long multiset (the same
          // latitude partial aggregation already has), and on overflow
          // it fails or wraps under the query's own mode rather than a
          // construction-time default.
          case s @ Sum(e, ctx @ NumericEvalContext(m, _))
              if m != EvalMode.TRY &&
                e.deterministic && e.references.nonEmpty &&
                e.references.subsetOf(baseOut) =>
            // sum of a plain base column (sumCols) or of a registered
            // EXPRESSION partial (sumExprs — the exact-cents idiom,
            // matched by name-canonical tree compare: both sides are
            // analyzer-resolved and optimizer-folded, so the trees are
            // directly comparable; non-key references are fine because
            // the expression aggregates per row). A bare column falls
            // THROUGH to the expression match when sumCols has no
            // entry. register() enforces integral partials; the
            // dataType gate here is defense in depth (exact only when
            // re-summing keeps the type).
            val byColumn = e match {
              case a: AttributeReference =>
                spec.sumLc.get(a.name.toLowerCase).flatMap(summaryAttr)
                  .map(c => agged(Sum(c, ctx)))
              case _ => None
            }
            def byExpr = {
              val canon = nameCanon(e)
              reg.exprCanon.collectFirst { case (ce, p) if ce == canon => p }
                .flatMap(summaryAttr)
                .map(c => agged(Sum(c, ctx)))
            }
            byColumn.orElse(byExpr).filter(_.dataType == s.dataType)
          case Average(a: AttributeReference, m) if m != EvalMode.TRY &&
              baseOut.contains(a) =>
            // avg(x) = integral-sum partial / non-null-count partial:
            // both sums re-aggregate exactly over longs, then ONE
            // correctly-rounded double division. All-null groups stay
            // NULL (the sum partial is NULL, and NULL/x is NULL);
            // Divide's non-ANSI zero guard can never fire with a
            // non-null numerator. Non-integral partials abort, and the
            // eval mode is bound (try_avg's overflow-to-NULL must not
            // become exact arithmetic — TRY aborts; LEGACY/ANSI derive
            // with the query's mode propagated into the partial
            // re-sums, so a beyond-2^63 re-sum fails loud under ANSI
            // instead of wrapping under a construction default).
            // DELIBERATE exactness divergence
            // from the unrewritten plan: Spark's native Average
            // accumulates the sum in DoubleType, so once a group's
            // running |sum| exceeds 2^53 the base plan's result carries
            // fp-order error while this derivation stays exact — the
            // rewrite is the MORE correct side of that ulp (see the
            // rule scaladoc; SummaryRewriteSpec pins equality below
            // 2^53, where both are exact).
            for {
              sp <- spec.sumLc.get(a.name.toLowerCase).flatMap(summaryAttr)
                if sp.dataType == LongType
              cp <- spec.cntLc.get(a.name.toLowerCase).flatMap(summaryAttr)
            } yield Divide(Cast(agged(Sum(sp, NumericEvalContext(m))), DoubleType),
              Cast(agged(Sum(cp, NumericEvalContext(m))), DoubleType))
          case _ => None
    }
  }

  /** The grouping-sets shape: `Aggregate(Expand([Project|Filter]* base))`
    * — ROLLUP / CUBE / GROUPING SETS. Expand's output positions classify
    * as STATIC (all-literal: spark_grouping_id), GROUPING (one base
    * attribute null-substituted per set — must be a summary KEY), or
    * PASSTHROUGH (the same base attribute in every set: the aggregate
    * inputs). The rewrite replays the IDENTICAL null/gid pattern over
    * the summary relation with passthrough positions replaced by the
    * summary's partial columns: the expansion then duplicates summary
    * groups exactly as it duplicated base rows (one copy per grouping
    * set, same null-keys and gid), so per-set re-aggregation of the
    * partials reproduces every derivable aggregate — the flat-shape
    * argument applied per set. Grouping/static output attributes keep
    * their exprIds, so the Aggregate above is reused untouched. At
    * 100 TB a ROLLUP dashboard re-expands |keys| summary rows instead
    * of the corpus, once per grouping set.
    */
  private def rewriteExpand(agg: Aggregate): Option[Aggregate] = {
    import org.apache.spark.sql.catalyst.plans.logical.Expand
    val (ex, rel, baseFilters) = agg.child match {
      case e: Expand => stripToRel(e.child) match {
        case Some((r, fs)) => (e, r, fs)
        case None => return None
      }
      case _ => return None
    }
    val regs = regsFor(rel)
    if (regs.isEmpty) return None
    val baseOut = rel.outputSet
    val nPos = ex.output.size
    if (ex.projections.isEmpty || ex.projections.exists(_.size != nPos))
      return None

    // classify every expand-output position from its per-set entries
    sealed trait Pos
    case object Static extends Pos
    case class GroupingPos(a: AttributeReference) extends Pos
    case class PassPos(a: AttributeReference) extends Pos
    val classified: Seq[Pos] = (0 until nPos).map { p =>
      val entries = ex.projections.map(_(p))
      val attrs = entries.collect { case a: AttributeReference => a }.distinct
      if (attrs.isEmpty && entries.forall(_.isInstanceOf[Literal])) Static
      else if (attrs.size == 1 && baseOut.contains(attrs.head) &&
          entries.forall {
            case a: AttributeReference => a == attrs.head
            case l: Literal => l.value == null // the null-substitution
            case _ => false
          }) {
        if (entries.forall(_ == attrs.head)) PassPos(attrs.head)
        else GroupingPos(attrs.head)
      } else return None // an expression entry — not the grouping-sets pattern
    }
    val keptIdx = classified.zipWithIndex.collect {
      case (Static, i) => i
      case (_: GroupingPos, i) => i
    }
    val preserved = AttributeSet(keptIdx.map(ex.output))
    // the Aggregate must consume ONLY preserved attrs outside its
    // aggregate functions (a grouping-sets query never groups on an
    // un-null-substituted passthrough — if it does, abort)
    if (!agg.groupingExpressions.forall(_.references.subsetOf(preserved)))
      return None

    def tryOne(reg: Registered): Option[Aggregate] = {
      val spec = reg.spec
      val groupingAttrs = classified.collect { case GroupingPos(a) => a }
      if (groupingAttrs.exists(a => !spec.keySetLc(a.name.toLowerCase)))
        return None
      val fresh = spec.relation match {
        case m: MultiInstanceRelation => m.newInstance().asInstanceOf[LogicalPlan]
        case p => p
      }
      val byName: Map[String, Attribute] =
        fresh.output.map(a => a.name.toLowerCase -> a).toMap
      def summaryAttr(name: String): Option[Attribute] =
        byName.get(name.toLowerCase)
      // below-Expand filters: key-only, deterministic, subquery-free
      val newFilters: Seq[Expression] = baseFilters.map { f =>
        remapKeyOnly(f, baseOut, AttributeSet.empty, spec.keySetLc,
          summaryAttr).getOrElse(return None)
      }
      val partials = fresh.output.filterNot(a => spec.keySetLc(a.name.toLowerCase))
      val newOutput: Seq[Attribute] = keptIdx.map(ex.output) ++ partials
      val newProjections: Seq[Seq[Expression]] = ex.projections.map { proj =>
        keptIdx.map { i =>
          classified(i) match {
            case GroupingPos(a) => proj(i) match {
              case l: Literal => l
              case _ => summaryAttr(a.name).getOrElse(return None)
            }
            case _ => proj(i) // Static: the gid literal for this set
          }
        } ++ partials
      }
      val newAggExprs: Seq[NamedExpression] = agg.aggregateExpressions.map {
        case a: Attribute if preserved.contains(a) => a
        // grouping_id() resolves to an alias of the preserved gid attr
        case al @ Alias(a: Attribute, _) if preserved.contains(a) => al
        case al @ Alias(AggregateExpression(fn, Complete, false, None, _), name) =>
          deriveAgg(fn, reg, baseOut, summaryAttr) match {
            case Some(e) if e.dataType == al.child.dataType =>
              Alias(e, name)(exprId = al.exprId)
            case _ => return None
          }
        case _ => return None
      }
      val filtered: LogicalPlan =
        if (newFilters.isEmpty) fresh
        else Filter(newFilters.reduce(And), fresh)
      Some(Aggregate(agg.groupingExpressions, newAggExprs,
        Expand(newProjections, newOutput, filtered)))
    }
    regs.view.flatMap(tryOne).headOption
  }

  /** Map the aggregate-expression list onto summary partials — ONE
    * definition shared by the flat/filter/join rewrite and the UNION ALL
    * rewrite, so the derivability guards cannot diverge. None = some
    * expression is not derivable (the caller aborts to the base plan).
    */
  private def mapAggList(
      agg: Aggregate, reg: Registered, baseOut: AttributeSet,
      groupBaseNames: Set[String], groupDimAttrs: AttributeSet,
      summaryAttr: String => Option[Attribute]): Option[Seq[NamedExpression]] = {
    val keySet = reg.spec.keySetLc
    Some(agg.aggregateExpressions.map {
      // grouping key passthrough: keep the ORIGINAL exprId so parent
      // plans' references stay valid (dim attrs already keep theirs)
      case a: AttributeReference
          if baseOut.contains(a) && groupBaseNames(a.name.toLowerCase) =>
        summaryAttr(a.name) match {
          case Some(sa) => Alias(sa, a.name)(exprId = a.exprId)
          case None => return None
        }
      case a: Attribute if groupDimAttrs.contains(a) => a
      // count(DISTINCT k1..kn) where every ki is a summary KEY: the
      // summary stores one row per distinct full-key tuple, so the
      // distinct ki-tuples per (coarser) group are exactly the distinct
      // ki-tuples among summary rows — re-counting DISTINCT over the
      // summary's key columns is exact. NULL semantics carry over
      // verbatim (count(DISTINCT) skips null tuples on both sides;
      // groupBy keeps a null-key summary row, which the re-count skips
      // just as the base count skipped null base rows). A non-key
      // argument aborts: the summary collapsed its distinct values.
      // (Under the UNION rewrite this case still holds: each branch's
      // summary stores one row per distinct key tuple IN THAT BRANCH,
      // and DISTINCT over the union collapses cross-branch repeats
      // exactly as it collapses them over the unioned base rows.)
      case al @ Alias(AggregateExpression(Count(children), Complete, true,
          None, _), name)
          if children.nonEmpty && children.forall {
            case a: AttributeReference =>
              baseOut.contains(a) && keySet(a.name.toLowerCase)
            case _ => false
          } =>
        val mapped = children.map { case a: AttributeReference =>
          summaryAttr(a.name).getOrElse(return None)
        }
        Alias(AggregateExpression(Count(mapped), Complete,
          isDistinct = true), name)(exprId = al.exprId)
      case al @ Alias(AggregateExpression(fn, Complete, false, None, _), name) =>
        deriveAgg(fn, reg, baseOut, summaryAttr) match {
          case Some(e) if e.dataType == al.child.dataType =>
            Alias(e, name)(exprId = al.exprId)
          case _ => return None
        }
      case _ => return None
    })
  }

  /** The UNION ALL fact shape: `Aggregate([Project]* Union(b1, b2, ...))`
    * where EVERY branch strips to a registered base (hot/cold splits,
    * month-partitioned fact families read as one logical table). Sound
    * by branch-local application of the flat-shape argument: the union's
    * rows are the disjoint concatenation of branch rows, every stored
    * partial is a per-(branch, group) exact partial of exactly those
    * rows, and re-aggregating the CONCATENATED summary rows merges the
    * per-branch partials the same way partial aggregation merges
    * per-partition partials — count(*) sums branch counts, sums sum,
    * min/max re-min/max, avg rides sum/count, count(DISTINCT keys)
    * collapses cross-branch repeats exactly as over the base rows.
    * PARTIAL coverage aborts (one unregistered branch = that branch's
    * rows have no partials to answer from — the whole aggregate runs
    * against the base union, never a half-rewrite). Branch specs must be
    * COMPATIBLE (same keys + same partial-column names): one derivation
    * then serves every branch, and the rewritten plan is
    * Aggregate(Union(σ(summary_1), ..., σ(summary_n))) — at 100 TB,
    * n keys-sized scans instead of n fact scans. Per-branch key-only
    * filters remap branch-locally (each branch keeps its own pushed
    * predicate).
    */
  private def rewriteUnion(agg: Aggregate): Option[Aggregate] = {
    import org.apache.spark.sql.catalyst.plans.logical.Union
    val un = stripProjects(agg.child) match {
      case u: Union if u.children.size >= 2 && !u.byName => u
      case _ => return None
    }
    val branches: Seq[(LogicalRelation, Seq[Expression])] =
      un.children.map(c => stripToRel(c).getOrElse(return None))
    // Union.output keeps the FIRST child's exprIds (nullability merged),
    // so the aggregate's references resolve against branch 0's relation
    val baseOut0 = branches.head._1.outputSet
    // exprsLc included (ADVICE r19): two branch specs mapping the same
    // partial column NAME to different expressions would otherwise pass
    // the positional projection and rewrite to silently wrong results
    def compat(a: SummarySpec, b: SummarySpec): Boolean =
      a.keySetLc == b.keySetLc &&
        a.countCol.toLowerCase == b.countCol.toLowerCase &&
        a.minLc == b.minLc && a.maxLc == b.maxLc &&
        a.sumLc == b.sumLc && a.cntLc == b.cntLc &&
        a.exprsLc == b.exprsLc
    def tryOne(reg0: Registered): Option[Aggregate] = {
      val spec0 = reg0.spec
      val regs: Seq[Registered] = branches.zipWithIndex.map {
        case ((rel, _), i) =>
          if (i == 0) reg0
          else regsFor(rel).find(r => compat(r.spec, spec0))
            .getOrElse(return None)
      }
      // one canonical column order for every branch projection, so the
      // union lines up positionally whatever each summary's physical
      // column order is
      val colNames: Seq[String] = spec0.relation.output.map(_.name)
      val branchPlans: Seq[Project] = branches.zip(regs).map {
        case ((rel, filters), reg) =>
          val fresh = reg.spec.relation match {
            case m: MultiInstanceRelation =>
              m.newInstance().asInstanceOf[LogicalPlan]
            case p => p
          }
          val byName: Map[String, Attribute] =
            fresh.output.map(a => a.name.toLowerCase -> a).toMap
          def sAttr(n: String): Option[Attribute] = byName.get(n.toLowerCase)
          val newFilters: Seq[Expression] = filters.map { f =>
            if (!f.references.subsetOf(rel.outputSet)) return None
            remapKeyOnly(f, rel.outputSet, AttributeSet.empty,
              reg.spec.keySetLc, sAttr).getOrElse(return None)
          }
          val filtered: LogicalPlan =
            if (newFilters.isEmpty) fresh
            else Filter(newFilters.reduce(And), fresh)
          Project(colNames.map(n => sAttr(n).getOrElse(return None)), filtered)
      }
      // positional type agreement keeps the constructed Union resolved
      val headTypes = branchPlans.head.projectList.map(_.dataType)
      if (branchPlans.exists(_.projectList.map(_.dataType) != headTypes))
        return None
      val newUnion = Union(branchPlans)
      val unionOut = newUnion.output
      def summaryAttrU(n: String): Option[Attribute] =
        unionOut.find(_.name.equalsIgnoreCase(n))
      val newGrouping: Seq[Expression] = agg.groupingExpressions.map {
        case a: AttributeReference
            if baseOut0.contains(a) && spec0.keySetLc(a.name.toLowerCase) =>
          summaryAttrU(a.name).getOrElse(return None)
        case _ => return None
      }
      val groupBaseNames = agg.groupingExpressions.collect {
        case a: AttributeReference if baseOut0.contains(a) =>
          a.name.toLowerCase
      }.toSet
      val newAggExprs = mapAggList(agg, reg0, baseOut0, groupBaseNames,
        AttributeSet.empty, summaryAttrU).getOrElse(return None)
      Some(Aggregate(newGrouping, newAggExprs, newUnion))
    }
    regsFor(branches.head._1).view.flatMap(tryOne).headOption
  }

  private def rewrite(
      agg: Aggregate, reg: Registered, rel: LogicalRelation,
      baseFilters: Seq[Expression], dimJoins: List[DimJoin]): Option[Aggregate] = {
    val spec = reg.spec
    val keySet = spec.keySetLc
    val baseOut = rel.outputSet
    val dimOut = dimJoins.map(_.dim.outputSet)
      .foldLeft(AttributeSet.empty)(_ ++ _)

    val fresh = spec.relation match {
      case m: MultiInstanceRelation => m.newInstance().asInstanceOf[LogicalPlan]
      case p => p
    }
    val byName: Map[String, Attribute] =
      fresh.output.map(a => a.name.toLowerCase -> a).toMap
    def summaryAttr(name: String): Option[Attribute] =
      byName.get(name.toLowerCase)

    def remap(e: Expression): Option[Expression] =
      remapKeyOnly(e, baseOut, dimOut, keySet, summaryAttr)

    val newFilters: Seq[Expression] = baseFilters.map { f =>
      if (!f.references.subsetOf(baseOut)) return None
      remap(f).getOrElse(return None)
    }
    // every condition along the chain must pass the fact-key-only remap
    // (dim-dim conjuncts like c_nationkey = n_nationkey remap to
    // themselves — no fact refs)
    val newJoinConds: List[Option[Expression]] = dimJoins.map(_.cond match {
      case Some(c) => Some(remap(c).getOrElse(return None))
      case None => None
    })

    val newGrouping: Seq[Expression] = agg.groupingExpressions.map {
      case a: AttributeReference if baseOut.contains(a) =>
        if (keySet(a.name.toLowerCase)) summaryAttr(a.name).getOrElse(return None)
        else return None
      case a: Attribute if dimOut.contains(a) => a
      case _ => return None
    }
    val groupBaseNames = agg.groupingExpressions.collect {
      case a: AttributeReference if baseOut.contains(a) => a.name.toLowerCase
    }.toSet
    val groupDimAttrs = AttributeSet(agg.groupingExpressions.collect {
      case a: Attribute if dimOut.contains(a) => a
    })

    val newAggExprs: Seq[NamedExpression] =
      mapAggList(agg, reg, baseOut, groupBaseNames, groupDimAttrs,
        summaryAttr).getOrElse(return None)
    val filtered: LogicalPlan =
      if (newFilters.isEmpty) fresh
      else Filter(newFilters.reduce(And), fresh)
    // replay the dim chain innermost-first around the summary — the
    // summary side is tiny by construction; AQE/stats broadcast it
    // without a hint
    val newChild: LogicalPlan =
      dimJoins.zip(newJoinConds).foldLeft(filtered) {
        case (acc, (DimJoin(dim, _), cond)) =>
          Join(acc, dim, Inner, cond, JoinHint.NONE)
      }
    Some(Aggregate(newGrouping, newAggExprs, newChild))
  }
}
