package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Rounding.{roundTo => round}

/** Distributed linear algebra over embedding columns — the moment
  * computations under PCA/whitening/feature analysis, shaped for a
  * corpus that never fits anywhere: all O(corpus) work happens in ONE
  * aggregation pass with map-side combine, and only O(d²) state (the
  * moment matrix, d = embedding dim ≪ corpus) ever reaches the driver.
  * The eigensolve runs driver-side on that d×d matrix (q271's exact
  * integer power iteration) — the classic big-data PCA split: cluster
  * for moments, driver for the tiny dense solve.
  */
object Linalg {

  /** Upper-triangle population covariance of `vecCol` in one
    * distributed pass: each row fans out to its d(d+1)/2 products
    * inside the scan stage (generators, no shuffle), the hash
    * aggregation map-side-combines every partition down to d(d+1)/2
    * partial sums, and the only shuffled data is those partials.
    * Returns `(i, j, cov)` for 0 ≤ i ≤ j < d, cov quantized to 6
    * decimals (shared cross-engine kernel).
    */
  def covariance(df: DataFrame, vecCol: String): DataFrame = {
    val v = df.select(transform(col(vecCol), x => x.cast("double")).as("v"))
    val elems = v.select(col("v"), posexplode(col("v")).as(Seq("i", "xi")))
    val prods = elems
      .select(col("i"), col("xi"),
        posexplode(slice(col("v"), col("i") + 1, size(col("v")) - col("i")))
          .as(Seq("dj", "xj")))
      .groupBy(col("i"), (col("i") + col("dj")).cast("int").as("j"))
      .agg(sum(col("xi") * col("xj")).as("sp"), count(lit(1)).as("cnt"))
    val means = elems.groupBy("i").agg(avg("xi").as("m"))
    prods
      .join(means.select(col("i"), col("m").as("mi")), "i")
      .join(means.select(col("i").as("j"), col("m").as("mj")), "j")
      .select(col("i"), col("j"),
        round(col("sp") / col("cnt") - col("mi") * col("mj"), 6).as("cov"))
  }
}
