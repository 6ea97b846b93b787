package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.{Exec, Scope}

/** Exact order statistics at corpus scale by iterative range
  * narrowing — the classic MapReduce median algorithm, and the
  * third iterate-scan-reduce-update workload next to
  * [[IterativeTrainer]] and [[Logistic]]: a global sort of 100 TB to
  * read one rank is absurd, so each round instead histograms the
  * current candidate range into `bins` equal sub-ranges (ONE
  * aggregation whose shuffled state is `bins` longs), the driver
  * walks the tiny histogram to find the sub-range holding the target
  * rank, and the next round recurses into it. The candidate set
  * shrinks ~`bins`× per round; once it fits `cutoff`, one small
  * ordered-limit finishes exactly.
  *
  * The scan cost per round is a filtered pass over the cached value
  * projection (min/max pruning applies on disk formats); total rounds
  * ≤ log_bins(range/ulp) ≈ a handful in practice.
  */
object OrderStat {

  /** The exact k-th smallest (1-based) value of `valCol` (nulls
    * ignored). Duplicate-heavy inputs are handled: a range that
    * collapses to a single representable double IS the answer.
    */
  def kthSmallest(df: DataFrame, valCol: String, k: Long,
                  bins: Int = 64, cutoff: Long = 4096): Double = Exec.scope { sc =>
    val vals = project(sc, df, valCol)
    val n = vals.count()
    require(k >= 1 && k <= n, s"k=$k outside 1..$n")
    solve(vals, k, bins, cutoff)
  }

  /** Several exact order statistics over ONE cached value projection:
    * `(n, values)` where `values(i)` is the `ks(i)`-th smallest (the
    * per-k range narrowing re-scans the shared cache, never the
    * source). The multi-quantile entry point for queries that bin on
    * a boundary set — replaces a single-group exact `percentile`,
    * whose aggregation buffer holds the whole group's value multiset:
    * at corpus scale that buffer is an executor-killer, while each
    * narrowing round here shuffles `bins` longs no matter the data
    * size. `ks` entries are resolved AFTER `n` is known via
    * `k = max(1, ceil(q * n))` by [[quantileRanks]].
    */
  def kthSmallests(df: DataFrame, valCol: String,
                   ks: Long => Seq[Long], bins: Int = 64,
                   cutoff: Long = 4096): (Long, Seq[Double]) =
    multiQuantiles(df, Seq(valCol -> ks), bins, cutoff).head

  /** The batched form: every `(column, rank)` task advances in
    * LOCKSTEP — each narrowing round is ONE job in which every row
    * emits a `(task, bin)` tag per still-active task and the engine
    * counts the tiny `tasks × bins` group table, so total driver
    * round-trips are `~2 × rounds`, not `tasks × rounds`. (The per-k
    * sequential version cost a full job cascade per rank: nine decile
    * tasks ran ~45 small jobs, and job-launch overhead — not the scan
    * — dominated the wall clock. A `tasks × bins` wide conditional
    * aggregate is not the answer either: hundreds of buffer fields
    * fall off the whole-stage-codegen cliff.)
    *
    * Each spec is `(column, n => ranks)`; ranks resolve against the
    * column's own non-null count. Returns `(n, values)` per spec in
    * order. Range-membership is tracked as the CLOSED interval
    * `[lo, hi]`: a value equal to a bin's upper edge re-enters the
    * next round's range, which is harmless (it is ≥ every candidate
    * below the edge, and the remaining rank only counts from the
    * bottom) and keeps the membership predicate stateless.
    */
  def multiQuantiles(df: DataFrame, specs: Seq[(String, Long => Seq[Long])],
                     bins: Int = 32, cutoff: Long = 4096)
      : Seq[(Long, Seq[Double])] = Exec.scope { sc =>
    require(bins >= 2, "need at least two bins per round")
    val colsN = specs.map(_._1).distinct
    val vals = sc.cache(df
      .select(colsN.map(c => col(c).cast("double").as(c)): _*))
    val agg0 = colsN.flatMap(c => Seq(
      count(col(c)).as(s"n_$c"),
      min(col(c)).as(s"lo_$c"), max(col(c)).as(s"hi_$c")))
    val row0 = vals.agg(agg0.head, agg0.tail: _*).head()
    val ns = colsN.map(c => c -> row0.getAs[Long](s"n_$c")).toMap
    final class Task(val c: String, var kk: Long, var lo: Double,
                     var hi: Double, var cnt: Long, var done: Boolean,
                     var res: Double)
    val perSpec: Seq[(Long, Seq[Task])] = specs.map { case (c, ksf) =>
      val n = ns(c)
      val ks = ksf(n)
      require(n > 0, s"column $c has no non-null values")
      require(ks.forall(k => k >= 1 && k <= n),
        s"some rank for $c outside 1..$n: $ks")
      (n, ks.map(k => new Task(c, k, row0.getAs[Double](s"lo_$c"),
        row0.getAs[Double](s"hi_$c"), -1L, false, 0.0)))
    }
    val all = perSpec.flatMap(_._2)
    def member(t: Task) = col(t.c) >= t.lo && col(t.c) <= t.hi
    var guard = 0
    while (all.exists(!_.done) && guard < 128) {
      guard += 1
      for (t <- all if !t.done if t.lo >= t.hi) {
        t.res = t.lo; t.done = true
      }
      val active = all.filter(!_.done)
      // finishers: candidate set small enough (or range below double
      // resolution — at most ~bins representable values remain) to
      // walk per-value counts on the driver. ONE batched job: each
      // row emits its value tagged per matching finisher task,
      // grouped (task, value) — ≤ tasks × cutoff rows come back.
      val (fin, toHist) = active.partition(t =>
        (t.cnt >= 0 && t.cnt <= cutoff) || (t.hi - t.lo) / bins == 0.0)
      if (fin.nonEmpty) {
        val entries = fin.zipWithIndex.map { case (t, ti) =>
          when(member(t),
            struct(lit(ti).as("t"), col(t.c).as("v")))
        }
        val rows = vals.select(explode(array(entries: _*)).as("e"))
          .filter(col("e").isNotNull)
          .groupBy(col("e.t").as("t"), col("e.v").as("v"))
          .agg(count(lit(1)).as("cc"))
          .collect()
        val byTask = rows.groupBy(_.getInt(0))
        fin.zipWithIndex.foreach { case (t, ti) =>
          val vs = byTask(ti).map(r => (r.getDouble(1), r.getLong(2)))
            .sortBy(_._1)
          var rem = t.kk
          var i = 0
          while (i < vs.length && rem > vs(i)._2) {
            rem -= vs(i)._2; i += 1
          }
          t.res = vs(i)._1; t.done = true
        }
      }
      // histogram round: each row emits (task, bin) per active task,
      // grouped — tasks × bins tiny groups, one shuffle, no wide
      // aggregate (a tasks×bins conditional-sum aggregate has
      // hundreds of buffer fields and falls off the codegen cliff)
      if (toHist.nonEmpty) {
        val entries = toHist.zipWithIndex.map { case (t, ti) =>
          val w = (t.hi - t.lo) / bins
          val bi = least(greatest(
            floor((col(t.c) - lit(t.lo)) / lit(w)), lit(0.0)),
            lit((bins - 1).toDouble)).cast("int")
          when(member(t), struct(lit(ti).as("t"), bi.as("b")))
        }
        val h = vals.select(explode(array(entries: _*)).as("e"))
          .filter(col("e").isNotNull)
          .groupBy(col("e.t").as("t"), col("e.b").as("b"))
          .agg(count(lit(1)).as("cc"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
        toHist.zipWithIndex.foreach { case (t, ti) =>
          val w = (t.hi - t.lo) / bins
          def hb(i: Int) = h.getOrElse((ti, i), 0L)
          var cum = 0L
          var b = 0
          while (b < bins && cum + hb(b) < t.kk) { cum += hb(b); b += 1 }
          t.kk -= cum
          t.cnt = hb(b)
          val nlo = t.lo + b * w
          t.hi = if (b == bins - 1) t.hi
                 else math.min(t.hi, t.lo + (b + 1) * w)
          t.lo = nlo
        }
      }
    }
    require(all.forall(_.done), "order-statistic narrowing stalled")
    perSpec.map { case (n, ts) => (n, ts.map(_.res)) }
  }

  /** The shared rank convention for quantile boundaries: the q-th
    * quantile of n values is the `max(1, ceil(q*n))`-th smallest —
    * replayable in ANY engine as `row_number() ORDER BY v` at that
    * rank, with no interpolation arithmetic to align. */
  def quantileRanks(qs: Seq[Double])(n: Long): Seq[Long] =
    qs.map(q => math.max(1L, math.ceil(q * n).toLong))

  /** `(n, k, value)` for the lower median (`k = (n+1)/2`). */
  def lowerMedian(df: DataFrame, valCol: String, bins: Int = 64,
                  cutoff: Long = 4096): (Long, Long, Double) = Exec.scope { sc =>
    val vals = project(sc, df, valCol)
    val n = vals.count()
    require(n > 0, "empty input has no median")
    val k = (n + 1) / 2
    (n, k, solve(vals, k, bins, cutoff))
  }

  private def project(sc: Scope, df: DataFrame, valCol: String): DataFrame = {
    val x = col(valCol).cast("double")
    sc.cache(df.filter(x.isNotNull).select(x.as("v")))
  }

  private def solve(vals: DataFrame, k: Long, bins: Int,
                    cutoff: Long): Double = {
    require(bins >= 2, "need at least two bins per round")
    val r0 = vals.agg(min(col("v")).as("lo"), max(col("v")).as("hi")).head()
    var lo = r0.getDouble(0)
    var hi = r0.getDouble(1)
    var kk = k
    var cur = vals
    var cnt = -1L // unknown until the first histogram
    while ((cnt < 0 || cnt > cutoff) && lo < hi) {
      val width = (hi - lo) / bins
      // range below double resolution: at most ~bins representable
      // values remain — walk their exact counts
      if (width == 0.0) return walkDistinct(cur, kk)
      val bi: Column = least(greatest(
        floor((col("v") - lit(lo)) / lit(width)), lit(0.0)),
        lit((bins - 1).toDouble)).cast("int")
      val hist = cur.groupBy(bi.as("b")).agg(count(lit(1)).as("c"))
        .collect().map(row => row.getInt(0) -> row.getLong(1)).toMap
      var cum = 0L
      var b = 0
      while (b < bins && cum + hist.getOrElse(b, 0L) < kk) {
        cum += hist.getOrElse(b, 0L); b += 1
      }
      kk -= cum
      cnt = hist.getOrElse(b, 0L)
      cur = cur.filter(bi === b)
      val nlo = lo + b * width
      hi = if (b == bins - 1) hi else math.min(hi, lo + (b + 1) * width)
      lo = nlo
    }
    if (lo >= hi) lo
    else cur.orderBy(col("v")).limit(kk.toInt).agg(max(col("v")))
      .head().getDouble(0)
  }

  /** Exact k-th among a candidate set known to span at most a few
    * distinct doubles (a collapsed range): per-value counts, driver
    * walk. */
  private def walkDistinct(cur: DataFrame, kk: Long): Double = {
    val rows = cur.groupBy(col("v")).agg(count(lit(1)).as("c"))
      .orderBy(col("v")).collect()
    var rem = kk
    var i = 0
    while (i < rows.length && rem > rows(i).getLong(1)) {
      rem -= rows(i).getLong(1); i += 1
    }
    rows(i).getDouble(0)
  }
}
