package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Linear-regression model weights for `y = w1*x + w0`.
  *
  * Mirrors the reference's global weight pair
  * (`/root/reference/kernel.cu:133` — `w0_old`, `w1_old`).
  */
final case class Weights(w0: Double, w1: Double) {

  /** One exponential-moving-average step,
    * `w_old = alpha*w_old + (1-alpha)*w_new`
    * (`/root/reference/kernel.cu:214-215`, alpha at `kernel.cu:25`).
    */
  def ema(next: Weights, alpha: Double): Weights =
    Weights(alpha * w0 + (1 - alpha) * next.w0,
            alpha * w1 + (1 - alpha) * next.w1)

  /** L-infinity distance, used for the tol-based convergence check that
    * replaces the reference's interactive 1/0 prompt
    * (`/root/reference/kernel.cu:175-188`).
    */
  def dist(o: Weights): Double =
    math.max(math.abs(w0 - o.w0), math.abs(w1 - o.w1))
}

/** Sufficient statistics for univariate ordinary least squares:
  * `(n, Σx, Σy, Σx², Σxy)` — exactly the four running sums the reference
  * kernel accumulates per CUDA block (`/root/reference/kernel.cu:53-59`)
  * plus the explicit count that the reference instead derives by integer
  * division (`kernel.cu:46`, `kernel.cu:108` — which silently drops tail
  * rows; this engine counts, so no rows are lost).
  *
  * The struct is an associative+commutative monoid, which is what makes
  * the two-level (partition → global) combine of the reference — and
  * Spark's partial/final HashAggregate — exact.
  */
final case class OlsStats(n: Long, sx: Double, sy: Double,
                          sxx: Double, sxy: Double) {
  def add(x: Double, y: Double): OlsStats =
    OlsStats(n + 1, sx + x, sy + y, sxx + x * x, sxy + x * y)

  def merge(o: OlsStats): OlsStats =
    OlsStats(n + o.n, sx + o.sx, sy + o.sy, sxx + o.sxx, sxy + o.sxy)

  /** Closed-form OLS solve — the formulae at
    * `/root/reference/kernel.cu:62-63`:
    * {{{
    * w0 = (Σx²·Σy − Σx·Σxy) / (n·Σx² − (Σx)²)
    * w1 = (n·Σxy − Σx·Σy)   / (n·Σx² − (Σx)²)
    * }}}
    * Degenerate inputs (n == 0 or zero variance) yield NaN weights
    * rather than dividing by zero.
    */
  def solve: Weights = {
    val d = n.toDouble * sxx - sx * sx
    if (n == 0 || d == 0.0) Weights(Double.NaN, Double.NaN)
    else Weights((sxx * sy - sx * sxy) / d, (n.toDouble * sxy - sx * sy) / d)
  }
}

object OlsStats {
  val zero: OlsStats = OlsStats(0L, 0.0, 0.0, 0.0, 0.0)
}

/** Typed Spark aggregate computing closed-form univariate OLS over
  * `(x, y)` pairs. This is the engine's counterpart of the reference's
  * hard-coded CUDA aggregate `computeRegression`
  * (`/root/reference/kernel.cu:42-72`): `reduce` is the per-slice
  * accumulation loop (`kernel.cu:53-59`), `merge` is the cross-slice
  * combine (which the reference does by averaging solved weights instead
  * — see [[Ols.fitLinearMeta]] for that faithful variant), and `finish`
  * is the closed-form solve (`kernel.cu:62-63`).
  *
  * Usable typed (`ds.select(OlsAggregator.toColumn)`) or untyped via
  * `functions.udaf(OlsAggregator)` for grouped regression.
  */
object OlsAggregator extends Aggregator[(Double, Double), OlsStats, Weights] {
  override def zero: OlsStats = OlsStats.zero
  override def reduce(b: OlsStats, a: (Double, Double)): OlsStats =
    b.add(a._1, a._2)
  override def merge(b1: OlsStats, b2: OlsStats): OlsStats = b1.merge(b2)
  override def finish(b: OlsStats): Weights = b.solve
  override def bufferEncoder: Encoder[OlsStats] = Encoders.product[OlsStats]
  override def outputEncoder: Encoder[Weights] = Encoders.product[Weights]
}

/** The engine's regression surface. Two estimators (SURVEY.md §0.1):
  *
  *  - [[fitLinearExact]]: one global aggregation of sufficient
  *    statistics — the statistically correct OLS fit, partition-invariant.
  *  - [[fitLinearMeta]]: the reference's two-level "meta" estimator —
  *    average of per-block closed-form solutions, then average of
  *    per-partition averages (`/root/reference/kernel.cu:148-157` and
  *    `kernel.cu:165-174`). Partition layout is part of its semantics,
  *    so callers pass explicit partition/block counts.
  */
object Ols {

  /** Exact global OLS via a single distributed aggregation.
    *
    * Plan shape: scan → project(x, y) → partial HashAggregate (per
    * partition; the reference's "secondary" map+reduce,
    * `/root/reference/kernel.cu:42-72` + `148-157`) → shuffle exchange
    * (the reference's `MPI_Reduce`, `kernel.cu:165-166`) → final
    * HashAggregate → collect of ONE row. Only scalars ever reach the
    * driver, so this scales to arbitrarily many rows.
    */
  def fitLinearExact(df: DataFrame, xCol: String, yCol: String): Weights = {
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val r = df
      .select(x.as("x"), y.as("y"))
      // regr_* semantics: a pair is excluded when either side is null —
      // otherwise count() disagrees with the null-skipping sums and the
      // solve mixes inconsistent statistics
      .filter(col("x").isNotNull && col("y").isNotNull)
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
           sum(col("x") * col("x")).as("sxx"),
           sum(col("x") * col("y")).as("sxy"))
      .head()
    if (r.isNullAt(1)) Weights(Double.NaN, Double.NaN)
    else OlsStats(r.getLong(0), r.getDouble(1), r.getDouble(2),
                  r.getDouble(3), r.getDouble(4)).solve
  }

  /** Grouped closed-form RIDGE regression `y = w0 + w1·x` with the
    * slope L2-penalized (intercept unpenalized, the standard
    * convention): in centered form,
    * {{{
    * w1 = Σ(x−x̄)(y−ȳ) / (Σ(x−x̄)² + λ)
    * w0 = ȳ − w1·x̄
    * }}}
    * `λ = 0` reduces exactly to the reference's OLS solve
    * (`/root/reference/kernel.cu:62-63`) — ridge is the one-line
    * extension that keeps the fit defined on degenerate inputs a plain
    * OLS can't handle: a zero-variance group divides by `λ` instead of
    * by zero (w1 = 0, w0 = ȳ — the right answer for a constant x).
    *
    * Same execution shape as the exact fit: ONE aggregation of the
    * five sufficient statistics per group (map-side partials), then
    * scalar arithmetic — no second pass, no collect beyond the result.
    * Returns `(<groupCol>, n_rows, w0, w1)` with weights rounded to 6.
    */
  def fitRidgeGrouped(df: DataFrame, xCol: String, yCol: String,
                      groupCol: String, lambda: Double): DataFrame = {
    require(lambda >= 0.0, "lambda must be non-negative")
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val stats = df
      .select(col(groupCol), x.as("x"), y.as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_rows"), sum("x").as("sx"),
        sum("y").as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
    val n = col("n_rows").cast("double")
    val xm = col("sx") / n
    val ym = col("sy") / n
    val w1 = (col("sxy") - n * xm * ym) /
      ((col("sxx") - n * xm * xm) + lit(lambda))
    stats.select(col(groupCol), col("n_rows"),
      graft.functions.Rounding.roundTo(ym - w1 * xm, 6).as("w0"),
      graft.functions.Rounding.roundTo(w1, 6).as("w1"))
  }

  /** Two-feature RIDGE `y = w0 + w1·x1 + w2·x2` as a PURE PLAN; λ = 0
    * is the exact two-feature OLS — the natural multivariate extension
    * of the reference's closed-form kernel (its `kernel.cu:62-63` is
    * the 1-feature special case).
    * One distributed aggregation of the normal-equation sufficient
    * statistics `(n, Σx1, Σx2, Σx1², Σx2², Σx1x2, Σy, Σx1y, Σx2y)`,
    * with λ added to the two FEATURE diagonal cells (the intercept row
    * stays unpenalized; `sum + 0.0` changes no non-negative sum), then
    * Cramer's rule on the 3×3 system as scalar expressions over that
    * single row. Nothing is collected — the returned DataFrame has one
    * row, so callers can compose it (join, broadcast) without driver
    * round-trips; the same closed form mirrors verbatim in SQL for the
    * oracle gate. Degenerate systems yield NaN weights, not an error —
    * detected by a RELATIVE determinant test (|det| ≤ 1e-12·|n·r11·r22|):
    * an analytically collinear input accumulates to a tiny-but-nonzero
    * det, so an exact-zero test would pass floating-point noise off as
    * coefficients. Empty input also yields NaN. With λ > 0 the system
    * is strictly better conditioned: collinear features that make the
    * exact fit NaN out get a defined, shrunk-toward-zero solution — the
    * practical reason ridge exists.
    */
  def fitRidge2Plan(df: DataFrame, x1Col: String, x2Col: String,
                    yCol: String, lambda: Double): DataFrame = {
    require(lambda >= 0.0, "lambda must be non-negative")
    val x1 = col(x1Col).cast("double")
    val x2 = col(x2Col).cast("double")
    val y = col(yCol).cast("double")
    val sums = df
      .select(x1.as("x1"), x2.as("x2"), y.as("y"))
      .filter(col("x1").isNotNull && col("x2").isNotNull &&
        col("y").isNotNull)
      .agg(count(lit(1)).cast("double").as("n"),
           sum("x1").as("s1"), sum("x2").as("s2"),
           (sum(col("x1") * col("x1")) + lambda).as("r11"),
           (sum(col("x2") * col("x2")) + lambda).as("r22"),
           sum(col("x1") * col("x2")).as("s12"),
           sum("y").as("sy"),
           sum(col("x1") * col("y")).as("s1y"),
           sum(col("x2") * col("y")).as("s2y"))
    def det3(a: Column, b: Column, c: Column,
             d: Column, e: Column, f: Column,
             g: Column, h: Column, i: Column): Column =
      a * (e * i - f * h) - b * (d * i - f * g) + c * (d * h - e * g)
    sums.select(
      det3(col("n"), col("s1"), col("s2"),
           col("s1"), col("r11"), col("s12"),
           col("s2"), col("s12"), col("r22")).as("det"),
      det3(col("sy"), col("s1"), col("s2"),
           col("s1y"), col("r11"), col("s12"),
           col("s2y"), col("s12"), col("r22")).as("d0"),
      det3(col("n"), col("sy"), col("s2"),
           col("s1"), col("s1y"), col("s12"),
           col("s2"), col("s2y"), col("r22")).as("d1"),
      det3(col("n"), col("s1"), col("sy"),
           col("s1"), col("r11"), col("s1y"),
           col("s2"), col("s12"), col("s2y")).as("d2"),
      (col("n") * col("r11") * col("r22")).as("diag"))
    .withColumn("degenerate",
      col("det").isNull ||
        abs(col("det")) <= lit(1e-12) * abs(col("diag")))
    .select(
      when(col("degenerate"), Double.NaN)
        .otherwise(col("d0") / col("det")).as("w0"),
      when(col("degenerate"), Double.NaN)
        .otherwise(col("d1") / col("det")).as("w1"),
      when(col("degenerate"), Double.NaN)
        .otherwise(col("d2") / col("det")).as("w2"))
  }

  /** Faithful two-level "meta" estimator: equal-weight average of
    * per-block OLS solutions within a partition (the reference's CUDA
    * blocks, `/root/reference/kernel.cu:148-157`), then equal-weight
    * average across partitions (the reference's MPI processes,
    * `kernel.cu:165-174`).
    *
    * Deliberate deviations from the reference, per SURVEY.md §0.3:
    * rows beyond `n/blocks*blocks` are NOT dropped (remainder rows go to
    * the trailing block), and empty blocks/partitions are excluded from
    * the average instead of contributing garbage zeros.
    *
    * Partition layout is semantics-bearing for this estimator, so the
    * input is deterministically range-repartitioned by a caller-chosen
    * ordering column before slicing. Results are deterministic
    * run-to-run for a fixed plan; rows TIED on `orderCol` sort in
    * plan-dependent order, so full cross-version reproducibility
    * requires a unique ordering key — an inherent property of an
    * estimator whose value depends on row placement (SURVEY.md §0.5).
    */
  def fitLinearMeta(df: DataFrame, xCol: String, yCol: String,
                    numPartitions: Int, blocksPerPartition: Int,
                    orderCol: String): Weights = {
    val spark = df.sparkSession
    import spark.implicits._
    val pairs: Dataset[(Double, Double)] = df
      .repartitionByRange(numPartitions, col(orderCol))
      .sortWithinPartitions(orderCol) // blocks = contiguous key ranges,
      // matching the reference's by-index slicing (kernel.cu:46-50)
      .select(col(xCol).cast("double"), col(yCol).cast("double"))
      // regr_*-style null-pair exclusion, consistent with fitLinearExact
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .as[(Double, Double)]

    // Equal contiguous blocks need each partition's row count up
    // front; a pre-count job (cheap columnar count) keeps the second
    // pass a pure stream — no partition is ever materialized in memory,
    // unlike the reference which holds its whole slice on the device.
    val counts: Map[Int, Long] = pairs
      .groupBy(spark_partition_id().as("pid")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

    val perPartition: Dataset[Weights] = pairs.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val n = counts.getOrElse(pid, 0L)
      if (n == 0L) Iterator.empty
      else {
        val b = math.max(1, blocksPerPartition)
        val base = n / b
        // block of row i: i/base capped at b-1 — identical slicing to
        // (kernel.cu:46-50) with the remainder in the last block;
        // fewer rows than blocks → everything lands in the last block
        def blockOf(i: Long): Long =
          if (base == 0L) (b - 1).toLong else math.min(i / base, (b - 1).toLong)
        var blockIdx = blockOf(0L)
        var st = OlsStats.zero
        val solved = scala.collection.mutable.ArrayBuffer.empty[Weights]
        var i = 0L
        it.foreach { case (x, y) =>
          val blk = blockOf(i)
          if (blk != blockIdx) {
            solved += st.solve
            st = OlsStats.zero
            blockIdx = blk
          }
          st = st.add(x, y)
          i += 1
        }
        solved += st.solve
        val ws = solved.filterNot(w => w.w0.isNaN || w.w1.isNaN)
        if (ws.isEmpty) Iterator.empty
        else Iterator.single(Weights(
          ws.map(_.w0).sum / ws.length, ws.map(_.w1).sum / ws.length))
      }
    }

    val r = perPartition.toDF("w0", "w1")
      .agg(avg("w0").as("w0"), avg("w1").as("w1")).head()
    if (r.isNullAt(0)) Weights(Double.NaN, Double.NaN)
    else Weights(r.getDouble(0), r.getDouble(1))
  }

  /** Deterministic exact-quantile variant of [[fitLinearMeta]]: blocks
    * are `ntile(numPartitions·blocksPerPartition)` tiles of the total
    * order given by `orderCols` (which must be a UNIQUE key), block b
    * belongs to partition `(b−1) / blocksPerPartition`, and the
    * estimate is the same avg-of-avgs of per-block closed-form solves
    * (`/root/reference/kernel.cu:148-174`). Degenerate blocks
    * (zero x-variance → null regr_*) are excluded from the average,
    * matching [[fitLinearMeta]]'s NaN filter.
    *
    * Trade-off vs [[fitLinearMeta]]: that variant's physical layout
    * (`repartitionByRange` = sampled range bounds) streams at any
    * scale but its block boundaries are sampling-dependent; this one
    * is bit-for-bit reproducible across engines (the layout is pure
    * SQL — `ntile` over a total order — so DuckDB can oracle it), at
    * the price of a global-order window, the inherent cost of an
    * estimator whose VALUE depends on exact row placement. Use
    * [[fitLinearExact]] when the estimate, not the reference's
    * layout semantics, is the goal.
    */
  def fitLinearMetaTiled(df: DataFrame, xCol: String, yCol: String,
                         numPartitions: Int, blocksPerPartition: Int,
                         orderCols: Seq[String]): Weights = {
    val nb = numPartitions * blocksPerPartition
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(orderCols.map(col): _*)
    val base = df
      // regr_*-style null-pair exclusion BEFORE tiling, consistent
      // with fitLinearMeta's filter-then-partition order
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(xCol).cast("double").as("x"),
              col(yCol).cast("double").as("y"),
              ntile(nb).over(w).as("blk"))
    val perBlock = base.groupBy("blk")
      .agg(regr_intercept(col("y"), col("x")).as("w0"),
           regr_slope(col("y"), col("x")).as("w1"))
    val perPartition = perBlock
      .filter(col("w0").isNotNull && col("w1").isNotNull)
      .withColumn("pid", floor((col("blk") - 1) / blocksPerPartition))
      .groupBy("pid")
      .agg(avg("w0").as("w0"), avg("w1").as("w1"))
    val r = perPartition.agg(avg("w0").as("w0"), avg("w1").as("w1")).head()
    if (r.isNullAt(0)) Weights(Double.NaN, Double.NaN)
    else Weights(r.getDouble(0), r.getDouble(1))
  }
}

/** Result of an iterative fit: final weights, rounds consumed, whether
  * the tol-based convergence criterion fired (vs. running out of
  * batches/iterations).
  */
final case class FitResult(weights: Weights, iters: Int, converged: Boolean)

/** Driver-side iterative refinement over a stream of batches — the
  * Spark-native form of the reference's `do { … } while(1)` loop
  * (`/root/reference/kernel.cu:135-217`): each round re-estimates the
  * model on a fresh batch (`kernel.cu:190-195`) and folds the estimate
  * into persistent state with an EMA (`kernel.cu:214-215`).
  *
  * The reference's interactive convergence prompt
  * (`kernel.cu:175-188`) is replaced by `maxIters` + `tol`
  * (SURVEY.md §0.6). EMA state starts at (0, 0) exactly like the
  * reference (`kernel.cu:133`), and is folded once per round — the
  * reference's "one extra EMA at exit" is just the current round's fold
  * taken on the exit path, so one-fold-per-round reproduces it.
  */
object IterativeTrainer {

  def fit(batches: Iterator[DataFrame], xCol: String, yCol: String,
          alpha: Double = 0.2, maxIters: Int = Int.MaxValue,
          tol: Double = 0.0,
          fitOne: (DataFrame, String, String) => Weights =
            Ols.fitLinearExact): FitResult = {
    var w = Weights(0.0, 0.0)
    var iters = 0
    var converged = false
    while (batches.hasNext && iters < maxIters && !converged) {
      val estimate = fitOne(batches.next(), xCol, yCol)
      val next = w.ema(estimate, alpha)
      converged = tol > 0.0 && next.dist(w) < tol
      w = next
      iters += 1
    }
    FitResult(w, iters, converged)
  }
}
