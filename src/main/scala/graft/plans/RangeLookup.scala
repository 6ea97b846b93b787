package graft.plans

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.functions.{col, inline, struct, udf}
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** RANGE-LOOKUP JOIN: enrich a fact table by mapping a numeric column
  * into a SMALL table of non-overlapping `[lo, hi)` intervals — price
  * bands, IP→geo ranges, calendar periods, SLA tiers.
  *
  * Spark has no interval index: a `f.v >= r.lo AND f.v < r.hi` join
  * has no equi-key, so the planner's only options are
  * BroadcastNestedLoopJoin (O(|facts|·m) predicate evaluations) or a
  * cartesian product. This is instead the map-side lookup of a small
  * broadcast relation, built from public Column operations alone: the
  * range side is collected and validated once on the driver, sorted by
  * `lo`, broadcast as three flat arrays, and each fact row
  * binary-searches them inside one UDF — O(|facts|·log m), one pass,
  * ZERO shuffle of the fact side. The UDF returns the matching range
  * row as a 0-or-1-element array that `inline` expands (a miss emits
  * no row), so it runs once per fact row: a struct result with an
  * `isNotNull` filter would run twice, because Catalyst pushes the null
  * check below the projection that reads the struct. Catalyst's own
  * rules push fact-side predicates and column pruning through the
  * Generate down to the scan, and the fact side keeps its partitioning.
  *
  * 100 TB posture: the fact side streams through map-side; the range
  * side must fit on the driver (same contract as any broadcast
  * dimension) — at most [[MaxRanges]] + 1 rows are ever collected, so
  * an oversized range side fails on the row-count check rather than
  * with a driver OOM. Overlapping or degenerate intervals are rejected
  * when the lookup is built: with overlaps, "the" match is ill-defined
  * and a silent first-match would be layout-dependent.
  *
  * Semantics (documented contract, mirrored by the q154 oracle):
  * inner join; a fact row joins the unique range with lo <= v < hi;
  * facts with null, NaN or out-of-range values drop; null range bounds
  * are rejected. Output: every fact column, then every range column,
  * with their original names and types.
  */
object RangeLookup {

  /** Hard cap on collected range rows — the "small side" contract. */
  val MaxRanges = 1 << 20

  /** Join `facts` to a small `ranges` table of non-overlapping
    * `[loCol, hiCol)` intervals on `facts.valueCol`. All three columns
    * must be numeric (compared as doubles; the output keeps the
    * original types). The range side is collected and validated here,
    * at call time.
    */
  def rangeLookup(facts: DataFrame, ranges: DataFrame, valueCol: String,
                  loCol: String, hiCol: String): DataFrame = {
    def check(df: DataFrame, name: String): Unit =
      if (!df.columns.contains(name)) throw new IllegalArgumentException(
        s"column $name not in ${df.columns.mkString(",")}")
    check(facts, valueCol); check(ranges, loCol); check(ranges, hiCol)

    val collected = ranges
      .select(col(loCol).cast(DoubleType), col(hiCol).cast(DoubleType),
        struct(col("*")))
      .limit(MaxRanges + 1).collect()
    require(collected.length <= MaxRanges,
      s"range side has more than $MaxRanges rows (cap $MaxRanges): " +
        "a range-lookup table must be broadcast-small; use a sort-" +
        "merge interval join for a large range side")
    val entries = collected.map { r =>
      require(!r.isNullAt(0) && !r.isNullAt(1),
        "range-lookup bounds must be non-null")
      // + 0.0 folds -0.0 into 0.0: SQL compares them equal, the
      // binary search below would not
      (r.getDouble(0) + 0.0, r.getDouble(1), r.getStruct(2))
    }.sortBy(_._1)
    entries.indices.foreach { i =>
      val (l, h, _) = entries(i)
      require(l < h, s"degenerate interval [$l,$h)")
      if (i > 0) require(entries(i - 1)._2 <= l,
        s"overlapping intervals: [${entries(i - 1)._1}," +
          s"${entries(i - 1)._2}) and [$l,$h) — matches would be " +
          "ambiguous")
    }
    val bc = facts.sparkSession.sparkContext.broadcast(
      (entries.map(_._1), entries.map(_._2), entries.map(e => Seq(e._3))))

    val lookup = udf(new UDF1[java.lang.Double, Seq[Row]] {
      override def call(v: java.lang.Double): Seq[Row] =
        if (v == null) Nil
        else {
          val (los, his, rows) = bc.value
          val d = v.doubleValue + 0.0
          // rightmost interval with lo <= d (lo values are distinct:
          // the overlap check rejects a repeated lo)
          var i = java.util.Arrays.binarySearch(los, d)
          if (i < 0) i = -i - 2
          if (i >= 0 && d < his(i)) rows(i) else Nil
        }
    }, ArrayType(ranges.schema, containsNull = false))

    facts.select(col("*"), inline(lookup(facts(valueCol).cast(DoubleType))))
  }
}
