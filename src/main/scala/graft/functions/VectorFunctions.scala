package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.functions._

import graft.functions.expressions.{DotProduct, QuantStats}

/** Column-level dense-vector primitives over `ArrayType(FloatType)`
  * embedding columns. Pure built-in lambda expressions (`zip_with`,
  * `aggregate`) — codegen-friendly, no UDFs, no ml.Vector conversions —
  * with exact DuckDB translations (`list_dot_product` over DOUBLE[])
  * for the oracle gate.
  */
object VectorFunctions {

  /** Dot product with elementwise promotion to double before the
    * sequential left-to-right sum (matches DuckDB's
    * `list_dot_product(a::DOUBLE[], b::DOUBLE[])` accumulation order).
    * Backed by the native codegen'd [[expressions.DotProduct]]
    * expression — the lambda formulation
    * (`aggregate(zip_with(...))`) is semantically identical but
    * interpreted, an order of magnitude slower on ANN hot paths.
    */
  def dot(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Symmetric int8 quantization statistics `struct(qscale, mse)` in
    * one codegen'd pass — backed by the native
    * [[expressions.QuantStats]]; see its Scaladoc for why the lambda
    * formulation is quadratic in the vector dimension.
    */
  def quantStats(a: Column): Column = column(QuantStats(expression(a)))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Deterministic sign-random-projection LSH bucket for a vector:
    * `planes` is a P×D matrix of ±1 hyperplane weights; the bucket id
    * packs the P projection signs into an int. Vectors in the same
    * bucket are ANN candidates. P controls the recall/cost trade-off;
    * at scale the bucket column becomes the shuffle/partition key, so
    * candidate generation is a co-partitioned equi-join instead of a
    * cross join.
    */
  def lshBucket(v: Column, planes: Seq[Seq[Double]]): Column = {
    planes.foldLeft(lit(0L)) { (acc, plane) =>
      val proj = dot(v, typedLit(plane))
      acc * 2 + when(proj > 0, 1L).otherwise(0L)
    }
  }

  /** Deterministic pseudo-random ±1 hyperplanes (fixed seed so buckets
    * are stable across runs and engines).
    */
  def randomPlanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)(if (rng.nextBoolean()) 1.0 else -1.0))
  }
}
