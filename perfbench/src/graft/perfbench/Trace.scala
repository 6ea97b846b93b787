package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed region of the benchmark's own calls. Times are wall-clock
  * milliseconds (to line up with Spark's stage times) and monotonic
  * nanoseconds (for durations). */
final case class Span(id: Int, name: String, parent: Int, request: String,
                      startMs: Long, endMs: Long, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def fields: Map[String, Any] = Map("id" -> id, "name" -> name, "parent" -> parent,
    "request" -> request, "start_ms" -> startMs, "end_ms" -> endMs,
    "seconds" -> seconds)
}

/** In-memory span recorder for the single client thread. `request` is
  * the id every span (and, in a traced pass, every Spark event) is
  * attributed to. */
final class Spans {
  private val done = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  @volatile var request: String = "-"

  def apply[A](name: String)(body: => A): A = {
    val id = nextId
    nextId += 1
    val (parent, req) = (open.headOption.getOrElse(-1), request)
    open = id :: open
    val (ms, ns) = (System.currentTimeMillis(), System.nanoTime())
    try body
    finally {
      open = open.tail
      done += Span(id, name, parent, req, ms, System.currentTimeMillis(), ns,
        System.nanoTime())
    }
  }

  def all: Seq[Span] = done.toSeq
}

/** Listener-side records of one traced run, each tagged with the request
  * it belongs to. */
final case class JobRec(jobId: Int, timeMs: Long, request: String, streaming: Boolean)
final case class StageRec(request: String, submitMs: Long, completeMs: Long,
                          tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
                          spillBytes: Long, shuffleWriteBytes: Long,
                          shuffleReadBytes: Long, shuffleRecords: Long,
                          fetchWaitMs: Long, inputBytes: Long, inputRows: Long,
                          skew: Double)
final case class PlanRec(request: String, exchanges: Int, planningMs: Long,
                         storeReads: Int)
final case class BlockRec(request: String, rdd: Int, split: Int, bytes: Long)
final case class BatchRec(request: String, query: String, triggerMs: Long,
                          commitMs: Long, stateRows: Long, stateBytes: Long)

/** The traced run's observers: a SparkListener (jobs, stages, tasks,
  * block updates), a QueryExecutionListener (executed plans) and a
  * StreamingQueryListener (micro-batches). They are attached only for
  * traced passes. Micro-batch jobs carry the stream's own job
  * description, so they are attributed through the stream's query id,
  * recorded when the stream starts inside a request. */
final class Trace(spark: SparkSession, spans: Spans, kernelRdds: () => Set[Int])
    extends AdaptiveSparkPlanHelper {
  val jobs = ArrayBuffer.empty[JobRec]
  val stages = ArrayBuffer.empty[StageRec]
  val plans = ArrayBuffer.empty[PlanRec]
  val blocks = ArrayBuffer.empty[BlockRec]
  val batches = ArrayBuffer.empty[BatchRec]
  private val streamOwner = scala.collection.concurrent.TrieMap.empty[String, String]
  private val stageOwner = scala.collection.mutable.Map.empty[Int, String]
  private val taskMs = scala.collection.mutable.Map.empty[(Int, Int), ArrayBuffer[Long]]
  private var attached = false

  private def owner(props: java.util.Properties): (String, Boolean) = {
    def prop(k: String) = Option(props).flatMap(p => Option(p.getProperty(k)))
    prop("sql.streaming.queryId") match {
      case Some(q) => (streamOwner.getOrElse(q, spans.request), true)
      case None => (prop("spark.job.description").filter(_.startsWith(PerfBench.JobTag))
        .map(_.stripPrefix(PerfBench.JobTag)).getOrElse(spans.request), false)
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val (req, streaming) = owner(e.properties)
      jobs += JobRec(e.jobId, e.time, req, streaming)
      e.stageIds.foreach(stageOwner(_) = req)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) +=
        e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      val durs = taskMs.remove((i.stageId, i.attemptNumber())).map(_.sorted).getOrElse(ArrayBuffer.empty)
      val skew = if (durs.size < 2) 1.0
        else durs.last.toDouble / math.max(1L, durs(durs.size / 2))
      val (run, cpu, gc, spill, sw, sr, rec, fw, in, inRows) =
        if (m == null) (0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
        else (m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
          m.shuffleReadMetrics.fetchWaitTime, m.inputMetrics.bytesRead,
          m.inputMetrics.recordsRead)
      val submit = i.submissionTime.getOrElse(0L)
      stages += StageRec(stageOwner.getOrElse(i.stageId, spans.request), submit,
        i.completionTime.getOrElse(submit), i.numTasks, run, cpu, gc, spill, sw, sr,
        rec, fw, in, inRows, skew)
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Trace.this.synchronized {
      val b = e.blockUpdatedInfo
      b.blockId.asRDDId.filter(_ => b.storageLevel.isValid).foreach { id =>
        blocks += BlockRec(spans.request, id.rddId, id.splitIndex, b.memSize + b.diskSize)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val plan = qe.executedPlan
      val live = kernelRdds()
      val rec = PlanRec(spans.request,
        collectWithSubqueries(plan) { case x: ShuffleExchangeLike => x }.size,
        qe.tracker.phases.values.map(_.durationMs).sum,
        collectWithSubqueries(plan) { case s: RDDScanExec if live(s.rdd.id) => s }.size)
      Trace.this.synchronized { plans += rec }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      streamOwner(e.id.toString) = spans.request
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val rec = BatchRec(streamOwner.getOrElse(p.id.toString, spans.request), p.id.toString,
        ms("triggerExecution"), ms("walCommit") + ms("commitOffsets"),
        p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum)
      Trace.this.synchronized { batches += rec }
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = if (attached) PerfbenchBridge.drainListenerBus(spark.sparkContext)

  /** Snapshot of the records attributed to requests of one pass. */
  def ofPass(prefix: String): Trace.PassRecords = synchronized {
    def mine(r: String) = r.startsWith(prefix)
    Trace.PassRecords(jobs.filter(j => mine(j.request)).toSeq,
      stages.filter(s => mine(s.request)).toSeq, plans.filter(p => mine(p.request)).toSeq,
      blocks.filter(b => mine(b.request)).toSeq, batches.filter(b => mine(b.request)).toSeq,
      stages.toSeq)
  }
}

object Trace {
  final case class PassRecords(jobs: Seq[JobRec], stages: Seq[StageRec],
                               plans: Seq[PlanRec], blocks: Seq[BlockRec],
                               batches: Seq[BatchRec], allStages: Seq[StageRec])
}
