package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression

/** The one compilation unit that lives inside Spark's package scope.
  *
  * Re-exports the few `private[sql]`/`private[spark]` entry points the
  * engine needs: the Column/Expression pair the native expressions
  * bind through, the checkpoint handles [[graft.operators.Scope]]
  * releases, and the listener-bus drain that job-counting tests read
  * their counts after. Everything downstream stays in the engine's own
  * namespace.
  */
object GraftSqlBridge {

  /** A Column over a Catalyst expression — how the native expressions
    * (`graft.functions.expressions`) reach the Column API. The node is
    * embedded in the plan as is, so it resolves in every session with
    * no per-session registration. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** The (unresolved) Catalyst expression behind a Column — the child
    * a native expression is built over. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The materialized RDDs inside a Dataset's plan — every
    * [[execution.LogicalRDD]] leaf, i.e. the storage behind
    * `localCheckpoint`. `Dataset.unpersist` does NOT release these:
    * it only routes through the CacheManager, while a checkpoint's
    * blocks are held by the RDD itself and are otherwise reclaimed
    * only when a driver GC lets the ContextCleaner reap the
    * unreachable RDD object. Deterministic release
    * ([[graft.operators.Scope]]) needs the RDD handles.
    */
  def checkpointRdds(df: Dataset[_]): Seq[org.apache.spark.rdd.RDD[_]] =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.logical.collect {
      case r: execution.LogicalRDD => r.rdd
    }

  /** The materialized RDD of a frame that IS a checkpoint handle —
    * i.e. its plan root is the LogicalRDD of a checkpointed RDD (what
    * an eager `localCheckpoint` returns), not a plan merely composed
    * over one, nor a `createDataFrame` over a lazy RDD. The
    * distinction matters for release: a composed plan's embedded
    * LogicalRDDs may belong to a caller's still-live input. */
  def rootCheckpointRdd(df: Dataset[_]): Option[org.apache.spark.rdd.RDD[_]] =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.logical match {
      case r: execution.LogicalRDD if r.rdd.isCheckpointed => Some(r.rdd)
      case _ => None
    }

  /** Block until every event posted so far has reached every
    * `SparkListener` (`SparkContext.listenerBus` is `private[spark]`):
    * a listener's job count is complete only after this. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
