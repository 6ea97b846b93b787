package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one JVM-wide SparkSession across suites. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Build a frame with every `Scope.keep` left UNMATERIALIZED (the
    * `Exec.planOnlyHook` flag), so plan-assert tests can inspect the
    * operator's real execution plan instead of the LogicalRDD scan the
    * eager checkpoint leaves behind. Construction-only: evaluate the
    * returned frame freely afterwards. Mutates a JVM-global flag
    * around the shared session — safe only because suites run
    * sequentially (`Test / parallelExecution := false` in build.sbt). */
  def planOnly[T](body: => T): T = {
    graft.operators.Exec.planOnlyHook = true
    try body finally graft.operators.Exec.planOnlyHook = false
  }
}

object SparkSpec {
  lazy val session: SparkSession = Harness.session(4)
}
