package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.functions._

import graft.functions.expressions.BoundedTopK

/** Per-group top-k without sorting the groups — the aggregation-based
  * alternative to the `row_number() OVER (PARTITION BY …) <= k` window.
  *
  * Why it matters at 100 TB: the window formulation shuffles EVERY row
  * to its group's partition and sorts whole groups just to discard all
  * but k rows. This operator keeps a bounded k-slot buffer per group
  * inside the native [[graft.functions.expressions.BoundedTopK]]
  * aggregate, so the map-side partial aggregation reduces each
  * partition to ≤ k rows per group BEFORE the shuffle — the exchange
  * carries O(groups × partitions × k) rows instead of the corpus, and
  * nothing is ever globally sorted. Same trick Spark itself applies to
  * global top-k (`TakeOrderedAndProject`), extended to the grouped
  * case it does not cover.
  *
  * The engine is a Catalyst `TypedImperativeAggregate` over primitive
  * arrays (id long / ord double / payload long), not a typed-Dataset
  * `Aggregator`: the udaf formulation this replaced deserialized every
  * input row into a Scala tuple through an `Encoder` and rebuilt the
  * buffer case class per insert — measured ~4 µs/row, 2.5 s of q382's
  * 3.8 s corpus pass at sf0.1 — where the native form evaluates the
  * three child expressions directly against the `InternalRow` and
  * branch-and-shifts into place.
  *
  * Ordering is (ord desc, id asc) — the id tie-break makes the
  * selection total and therefore deterministic across partitionings
  * and engines (a bare float ordering would select arbitrary rows
  * among ties).
  */
object TopK {

  private def bounded(id: Column, ord: Column, pay: Column, k: Int): Column =
    column(BoundedTopK(expression(id.cast("long")),
      expression(ord.cast("double")), expression(pay.cast("long")), k)
      .toAggregateExpression())

  /** [[topKPerGroup]] with a LONG payload column carried through:
    * `(<keyCol>, <idCol>, <ordCol>, <payCol>, rk [, extras…])`. Same
    * total order and null-exclusion contract; a null payload is
    * excluded too (it has no primitive slot) — TopKSpec documents the
    * resulting selection divergence from [[topKPerGroup]].
    *
    * `extraAggs`: additional ALIASED aggregate columns computed in the
    * SAME per-group aggregation (e.g. `count(lit(1)).as("n")`), their
    * value repeated on each of the group's ≤ k output rows. This is
    * how a sketch query carries exact per-group context (row counts,
    * weight totals) without a second corpus scan — one pass produces
    * the bounded sketch AND its full-data aggregates. They evaluate
    * over the null-FILTERED input (the aggregator's contract), so
    * callers whose extras must see dropped rows aggregate separately.
    */
  def topKPerGroupWithPayload(df: DataFrame, keyCol: String, idCol: String,
                              ordCol: String, payCol: String,
                              k: Int,
                              extraAggs: Seq[Column] = Nil): DataFrame = {
    val aggs = bounded(col(idCol), col(ordCol), col(payCol), k)
      .as("top") +: extraAggs
    val agged = df.filter(col(idCol).isNotNull && col(ordCol).isNotNull &&
        col(payCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(aggs.head, aggs.tail: _*)
    // the extras' output names come from the aggregated schema (the
    // columns after keyCol and the top-k buffer), so callers' aliases
    // flow through without touching expression internals
    val extraNames = agged.columns.drop(2).toSeq
    agged
      .select(col(keyCol) +: posexplode(arrays_zip(col("top.ids"),
          col("top.ords"), col("top.pays"))).as(Seq("i", "r")) +:
        extraNames.map(col): _*)
      .select(col(keyCol) +: col("r.ids").as(idCol) +:
        col("r.ords").as(ordCol) +: col("r.pays").as(payCol) +:
        (col("i") + 1).cast("int").as("rk") +: extraNames.map(col): _*)
  }

  /** Top `k` rows per group of `df`: `(<keyCol>, <idCol>, <ordCol>,
    * rk)` by (`ordCol` desc, `idCol` asc), rk = 1-based rank within
    * the group. `idCol`/`ordCol` must be castable to bigint/double
    * (the bounded buffer is primitive-typed on purpose — payload
    * columns re-attach with an id equi-join against the tiny result,
    * or ride along via [[topKPerGroupWithPayload]] when they fit a
    * LONG). Rows with a null id or ord are EXCLUDED up front: null
    * has no position in the (ord desc, id asc) total order, and
    * letting one reach the primitive-typed buffer would fail with an
    * opaque encoder NPE instead of defined semantics.
    */
  def topKPerGroup(df: DataFrame, keyCol: String, idCol: String,
                   ordCol: String, k: Int): DataFrame = {
    df.filter(col(idCol).isNotNull && col(ordCol).isNotNull)
      .groupBy(col(keyCol))
      // the id doubles as the (ignored) payload slot — one native
      // aggregate serves both entry points
      .agg(bounded(col(idCol), col(ordCol), col(idCol), k).as("top"))
      .select(col(keyCol),
        posexplode(arrays_zip(col("top.ids"), col("top.ords")))
          .as(Seq("i", "r")))
      .select(col(keyCol), col("r.ids").as(idCol), col("r.ords").as(ordCol),
        (col("i") + 1).cast("int").as("rk"))
  }
}
