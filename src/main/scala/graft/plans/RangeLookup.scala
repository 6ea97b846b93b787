package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  And, Attribute, AttributeSet, BindReferences, Cast, Expression, JoinedRow,
  PredicateHelper, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{
  BinaryNode, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.DoubleType

/** RANGE-LOOKUP JOIN as a whole-operator Catalyst extension — the one
  * rung of the project's extension ladder (compose built-ins → custom
  * `Expression` → custom `LogicalPlan`+`SparkStrategy`+`SparkPlan` →
  * `mapPartitions`) that built-in operators genuinely cannot reach.
  *
  * The shape: enrich a fact table by mapping a numeric column into a
  * SMALL table of non-overlapping `[lo, hi)` intervals — price bands,
  * IP→geo ranges, calendar periods, SLA tiers. Spark has no interval
  * index: a `f.v >= r.lo AND f.v < r.hi` join has no equi-key, so the
  * planner's only options are BroadcastNestedLoopJoin (O(|facts|·m)
  * predicate evaluations) or a cartesian product. Both re-scan every
  * range row per fact row.
  *
  * [[RangeLookupJoinExec]] instead collects the (driver-validated,
  * small) range side once, sorts it by `lo`, broadcasts three flat
  * arrays, and binary-searches per fact row: O(|facts|·log m), one
  * pass, ZERO shuffle of the fact side — `outputPartitioning` is the
  * child's, so upstream bucketing/partitioning survives the join (a
  * broadcast hash join preserves partitioning the same way; BNLJ does
  * too but pays the O(m) scan per row).
  *
  * 100 TB posture: the fact side streams through map-side with no
  * exchange; the range side must fit on the driver (same contract as
  * any broadcast dimension — guarded by an explicit row-count check
  * rather than an OOM). Overlapping or degenerate intervals are
  * rejected at plan-execution time: with overlaps, "the" match is
  * ill-defined and a silent first-match would be layout-dependent.
  *
  * Semantics (documented contract, mirrored by the q154 oracle):
  * inner join; a fact row joins the unique range with lo <= v < hi;
  * facts with null or out-of-range values drop; null range bounds are
  * rejected.
  */
object RangeLookup {

  /** Hard cap on collected range rows — the "small side" contract. */
  val MaxRanges = 1 << 20

  /** Logical node: output is the concatenation of both sides, like a
    * join. Built already-resolved (attributes come from analyzed child
    * plans), so it passes analysis untouched and reaches the planner,
    * where [[RangeLookupStrategy]] claims it.
    */
  final case class RangeLookupJoin(
      left: LogicalPlan, right: LogicalPlan,
      value: Expression, lo: Expression, hi: Expression)
      extends BinaryNode {
    override def output: Seq[Attribute] = left.output ++ right.output
    override protected def withNewChildrenInternal(
        newLeft: LogicalPlan, newRight: LogicalPlan): RangeLookupJoin =
      copy(left = newLeft, right = newRight)
  }

  /** Planner rule: one logical node → one physical node; everything
    * else declined so the default strategies keep planning the rest
    * of the tree (children arrive via `planLater`).
    */
  object RangeLookupStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case RangeLookupJoin(l, r, v, lo, hi) =>
        RangeLookupJoinExec(planLater(l), planLater(r), v, lo, hi) :: Nil
      case _ => Nil
    }
  }

  /** Physical operator: broadcast sorted bounds + binary search. */
  final case class RangeLookupJoinExec(
      left: SparkPlan, right: SparkPlan,
      value: Expression, lo: Expression, hi: Expression)
      extends BinaryExecNode {

    override def output: Seq[Attribute] = left.output ++ right.output

    /** The fact side never moves — that's the operator's point. */
    override def outputPartitioning = left.outputPartitioning

    override protected def doExecute(): RDD[InternalRow] = {
      val rangeRows = right.executeCollect()
      require(rangeRows.length <= MaxRanges,
        s"range side has ${rangeRows.length} rows (cap $MaxRanges): " +
          "a range-lookup table must be broadcast-small; use a sort-" +
          "merge interval join for a large range side")
      val loB = BindReferences.bindReference(lo, right.output)
      val hiB = BindReferences.bindReference(hi, right.output)
      val entries = rangeRows.map { r =>
        val l = loB.eval(r); val h = hiB.eval(r)
        require(l != null && h != null,
          "range-lookup bounds must be non-null")
        (l.asInstanceOf[Double], h.asInstanceOf[Double], r.copy())
      }.sortBy(_._1)
      entries.indices.foreach { i =>
        val (l, h, _) = entries(i)
        require(l < h, s"degenerate interval [$l,$h)")
        if (i > 0) require(entries(i - 1)._2 <= l,
          s"overlapping intervals: [${entries(i - 1)._1}," +
            s"${entries(i - 1)._2}) and [$l,$h) — matches would be " +
            "ambiguous")
      }
      val los = entries.map(_._1)
      val his = entries.map(_._2)
      val rows = entries.map(_._3)
      val bc = sparkContext.broadcast((los, his, rows))
      val valueExpr = value
      val leftOutput = left.output
      val allOutput = output
      left.execute().mapPartitions({ iter =>
        val (blos, bhis, brows) = bc.value
        val vB = BindReferences.bindReference(valueExpr, leftOutput)
        val joined = new JoinedRow
        val proj = UnsafeProjection.create(allOutput, allOutput)
        iter.flatMap { lrow =>
          val v = vB.eval(lrow)
          if (v == null) Iterator.empty
          else {
            val d = v.asInstanceOf[Double]
            // rightmost interval with lo <= d
            var idx = java.util.Arrays.binarySearch(blos, d)
            if (idx < 0) idx = -idx - 2 // insertion point - 1
            else {
              // exact hit on a lo that repeats cannot occur (overlap
              // check rejects duplicate lo), so idx is the interval
            }
            if (idx >= 0 && d < bhis(idx))
              Iterator.single[InternalRow](proj(joined(lrow, brows(idx))))
            else Iterator.empty
          }
        }
      }, preservesPartitioning = true)
    }

    override protected def withNewChildrenInternal(
        newLeft: SparkPlan, newRight: SparkPlan): RangeLookupJoinExec =
      copy(left = newLeft, right = newRight)
  }

  /** Custom optimizer rule: Catalyst's own pushdown stops at unknown
    * plan nodes — without this rule, a `Filter` or `Project` above a
    * [[RangeLookupJoin]] stays above it, the fact-side parquet scan
    * reads every row and column, and the operator's zero-shuffle claim
    * is hollow at 100 TB. Two rewrites, both standard-shape:
    *
    *  - predicate pushdown: conjuncts referencing only fact-side
    *    columns move below the join (the lookup is 1-row → ≤1-row, so
    *    fact predicates commute with it);
    *  - column pruning: a Project above the join narrows both children
    *    to the columns it needs plus the join's own value/lo/hi
    *    columns.
    *
    * After the rewrite the Filter/Project sit directly on the scan
    * relations, where FileSourceStrategy turns them into
    * `PushedFilters` / a pruned `ReadSchema` during physical planning
    * (plan-asserted in RangeLookupSpec).
    */
  object RangeLookupOptimization extends Rule[LogicalPlan]
      with PredicateHelper {
    override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
      case f @ Filter(cond, j: RangeLookupJoin) =>
        val (leftOnly, rest) = splitConjunctivePredicates(cond)
          .partition(p => p.deterministic &&
            p.references.subsetOf(j.left.outputSet))
        if (leftOnly.isEmpty) f
        else {
          val pushed = j.copy(left = Filter(leftOnly.reduce(And), j.left))
          rest.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
        }
      case p @ Project(list, j: RangeLookupJoin) =>
        val needed = AttributeSet(list.flatMap(_.references)) ++
          j.value.references ++ j.lo.references ++ j.hi.references
        def prune(child: LogicalPlan): LogicalPlan = {
          val keep = child.output.filter(needed.contains)
          // only narrow (fixed-point safety: an equal-width Project
          // would re-match this case forever)
          if (keep.length < child.output.length) Project(keep, child)
          else child
        }
        val (l2, r2) = (prune(j.left), prune(j.right))
        if (l2.eq(j.left) && r2.eq(j.right)) p
        else p.copy(child = j.copy(left = l2, right = r2))
    }
  }

  /** Idempotent per-session registration via the public
    * `ExperimentalMethods` hook, called where a plan uses the node, so
    * it works in any session, including ones the engine did not build.
    * A planner strategy, unlike the native expressions (which bind to
    * Columns directly through `GraftSqlBridge.column`), has no way to
    * travel inside the plan: the session's planner must hold it.
    */
  def ensureStrategy(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraStrategies.contains(RangeLookupStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ RangeLookupStrategy
    if (!spark.experimental.extraOptimizations
          .contains(RangeLookupOptimization))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RangeLookupOptimization
  }

  /** Public API: join `facts` to a small `ranges` table of
    * non-overlapping `[loCol, hiCol)` intervals on `facts.valueCol`.
    * All three columns must be numeric (cast to double inside the
    * plan; output schema keeps the original types).
    */
  def rangeLookup(facts: DataFrame, ranges: DataFrame, valueCol: String,
                  loCol: String, hiCol: String): DataFrame = {
    val spark = facts.sparkSession
    ensureStrategy(spark)
    val lPlan = GraftSqlBridge.analyzed(facts)
    val rPlan = GraftSqlBridge.analyzed(ranges)
    def attr(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in ${p.output.map(_.name).mkString(",")}"))
    def asDouble(a: Attribute): Expression =
      if (a.dataType == DoubleType) a else Cast(a, DoubleType)
    GraftSqlBridge.ofRows(spark,
      RangeLookupJoin(lPlan, rPlan, asDouble(attr(lPlan, valueCol)),
        asDouble(attr(rPlan, loCol)), asDouble(attr(rPlan, hiCol))))
  }
}
