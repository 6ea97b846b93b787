package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Rounding.{roundTo => round}
import graft.functions.VectorFunctions.dot

/** Distributed linear algebra over embedding columns — the moment
  * computations under PCA/whitening/feature analysis, shaped for a
  * corpus that never fits anywhere: all O(corpus) work happens in ONE
  * aggregation pass with map-side combine, and only O(d²) state (the
  * moment matrix, d = embedding dim ≪ corpus) ever reaches the driver.
  * Eigensolving happens driver-side on that d×d matrix (power
  * iteration, pure Scala) — the classic big-data PCA split: cluster
  * for moments, driver for the tiny dense solve, broadcast literals
  * for the projection map.
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

  /** Driver-side dominant eigenpair of a dense symmetric matrix by
    * power iteration from the deterministic all-ones start (pure
    * Scala — the input is the d×d covariance, never corpus-sized).
    * Returns (eigenvalue via Rayleigh quotient, unit eigenvector with
    * a sign convention: first nonzero component positive). */
  def topEigen(m: Array[Array[Double]], iters: Int = 200): (Double, Array[Double]) = {
    val d = m.length
    require(m.forall(_.length == d), "matrix must be square")
    var v = Array.fill(d)(1.0 / math.sqrt(d))
    var i = 0
    while (i < iters) {
      val av = Array.tabulate(d)(r => {
        var acc = 0.0; var c = 0
        while (c < d) { acc += m(r)(c) * v(c); c += 1 }
        acc
      })
      val n = math.sqrt(av.map(x => x * x).sum)
      require(n > 0, "power iteration collapsed (zero matrix?)")
      v = av.map(_ / n)
      i += 1
    }
    val av = Array.tabulate(d)(r => (0 until d).map(c => m(r)(c) * v(c)).sum)
    val lambda = v.zip(av).map { case (a, b) => a * b }.sum
    val flip = v.find(math.abs(_) > 1e-12).exists(_ < 0)
    (lambda, if (flip) v.map(-_) else v)
  }

  /** Collect a [[covariance]] result into the dense symmetric d×d
    * driver matrix (O(d²) rows — the one sanctioned collect). */
  def collectCov(cov: DataFrame, d: Int): Array[Array[Double]] = {
    val m = Array.ofDim[Double](d, d)
    cov.collect().foreach { r =>
      val (i, j, c) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      m(i)(j) = c
      m(j)(i) = c
    }
    m
  }

  /** Project `vecCol` onto driver-computed basis vectors (broadcast as
    * literals into the plan — map-only, codegen'd native dots). */
  def project(df: DataFrame, vecCol: String,
              basis: Seq[Array[Double]]): DataFrame =
    basis.zipWithIndex.foldLeft(df) { case (acc, (b, k)) =>
      acc.withColumn(s"pc$k", dot(col(vecCol), typedLit(b.toSeq)))
    }
}
