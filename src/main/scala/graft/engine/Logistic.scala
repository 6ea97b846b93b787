package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Rounding
import graft.operators.Exec

/** Distributed binary logistic regression by full-batch gradient
  * descent — the classifier-training half of a curation pipeline
  * (quality/toxicity/language classifiers are trained exactly like
  * this before they gate a 100 TB corpus).
  *
  * Same iterative-MapReduce shape as the reference's training loop
  * (`/root/reference/kernel.cu:135-217`): each round is ONE distributed
  * aggregation producing the k+1 gradient components (a k+1-long row —
  * the only thing that ever reaches the driver), then a driver-side
  * weight update, then the next round re-scans the cached projection.
  * The input is cached once up front: at 100 TB the projected
  * feature matrix (k doubles + 1 label per row) is what iterates, never
  * the raw table.
  *
  * Determinism (the integer-exact-moment discipline of q139/q114):
  * each row's gradient contribution `(σ(w·x)−y)·x_j` is scaled by 2^24
  * and rounded to a LONG, so the distributed sum is integer-exact in
  * any partition order and a sequential oracle reproduces it
  * bit-for-bit. Weight updates divide the exact sum once (`lr` is a
  * power of two so the step is an exact exponent shift); `σ` is the
  * only transcendental and its ±1-ulp engine variance is 3 orders of
  * magnitude below the quantization grid.
  */
object Logistic {

  /** Scale for the gradient quantization: 2^24 (a float's mantissa
    * width — scaling by it is exact on float-valued features). */
  val Scale: Double = (1L << 24).toDouble

  /** `w(0)` is the intercept; `w(j+1)` multiplies `features(j)`.
    * Association is `((w0 + w1*x1) + w2*x2) + …` — an oracle must use
    * the same left-fold order so the double sums are bit-identical. */
  def margin(weights: Array[Double], features: Seq[Column]): Column =
    features.zipWithIndex.foldLeft(lit(weights(0)): Column) {
      case (acc, (x, j)) => acc + lit(weights(j + 1)) * x
    }

  /** Train `rounds` full-batch GD steps of binary logistic regression.
    *
    * @param df       input rows; only `features` and `labelCol` are read
    * @param features numeric feature columns (cast to double)
    * @param labelCol 0/1 label (cast to double)
    * @param lr       learning rate — MUST be a power of two so the
    *                 update step is exact (checked)
    * @return weights array of length `features.size + 1`, intercept
    *         first — all-zero when `rounds == 0`
    */
  def fitGd(df: DataFrame, features: Seq[String], labelCol: String,
            lr: Double = 0.5, rounds: Int = 3): Array[Double] = Exec.scope { sc =>
    require(features.nonEmpty, "at least one feature")
    require(lr > 0 && java.lang.Double.doubleToLongBits(lr).&((1L << 52) - 1) == 0,
      s"lr must be a power of two for an exact update step, got $lr")
    val k = features.size
    val xs = features.indices.map(j => col(s"__x$j"))
    val pts = sc.cache(df.select(
      features.zipWithIndex.map { case (f, j) =>
        col(f).cast("double").as(s"__x$j")
      } :+ col(labelCol).cast("double").as("__y"): _*))
    val n = pts.count()
    require(n > 0, "empty training input")
    val w = Array.fill(k + 1)(0.0)
    var r = 0
    while (r < rounds) {
      val p = lit(1.0) / (lit(1.0) + exp(-margin(w, xs)))
      val resid = p - col("__y")
      // Rounding.roundTo (half-away-from-zero on the binary double)
      // rather than functions.round (shortest-decimal HALF_UP) so a
      // DuckDB oracle's round() reproduces the quantization exactly.
      val gradCols = (resid * Scale) +: xs.map(x => resid * x * Scale)
      val sums = pts.agg(
        sum(Rounding.roundTo(gradCols.head, 0).cast("long")).as("g0"),
        gradCols.tail.zipWithIndex.map { case (g, j) =>
          sum(Rounding.roundTo(g, 0).cast("long")).as(s"g${j + 1}")
        }: _*).head()
      var j = 0
      while (j <= k) {
        w(j) = w(j) - lr * (sums.getLong(j).toDouble / (n.toDouble * Scale))
        j += 1
      }
      r += 1
    }
    w
  }
}
