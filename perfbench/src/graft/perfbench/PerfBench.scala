package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.{Kernels, SparkEntry}
import graft.streaming.ChunkStore

/** The benchmark's JVM side: one closed-loop client thread driving one
  * workload through the engine's public entry points, in passes.
  *
  * It builds the session, runs its first job (set-up ends there), then
  * runs one cold pass plus `--passes` later passes of the workload,
  * writing every result to `<work>/out/pass<k>/<request>` and the raw
  * measurements to `--result`.
  * With `--trace 1` the cold pass and every even later pass run with
  * the listeners of [[Trace]] attached and the odd later passes without
  * them, so traced minus untraced pass time is the tracing overhead,
  * with the untraced passes on both sides of the JIT still warming up.
  * Run through `perfbench/run.py`, which builds this, grades the outputs
  * and prints the metrics.
  */
object PerfBench {
  val JobTag = "perfbench: "
  private val MB = 1024.0 * 1024.0

  final case class Opts(workload: String, seed: Long, passes: Int,
                        trace: Boolean, data: String, work: String, cpus: Int,
                        result: String)

  final case class Boundary(totalBytes: Long, kernelBytes: Long, leakedBytes: Long,
                            leakedRdds: Int)

  final case class Done(req: Request, id: String, latency: Double, probeBefore: Double,
                        probeAfter: Double, error: Option[String], kernelBefore: Long,
                        boundary: Boundary)

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(kv("workload"), kv("seed").toLong, kv("passes").toInt, kv("trace") == "1",
      kv("data"), kv("work"), kv("cpus").toInt, kv("result"))
  }

  def session(cpus: Int, work: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .getOrCreate()

  /** Fixed single-thread CPU work, timed before and after every request:
    * a stalled box shows up as slow probes around the request it hit. */
  @volatile private var probeSink = 0L
  def cpuProbe(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < (1 << 23)) {
      x = x * 6364136223846793005L + 1442695040888963407L
      i += 1
    }
    probeSink = x
    (System.nanoTime() - t0) / 1e9
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def pools(heap: Boolean) = ManagementFactory.getMemoryPoolMXBeans.asScala.filter { p =>
    if (heap) p.getType == java.lang.management.MemoryType.HEAP
    else p.getName.contains("CodeHeap") || p.getName.contains("Code Cache")
  }

  private implicit val formats: DefaultFormats.type = DefaultFormats
  private def json(v: AnyRef): String = Serialization.write(v)

  private def write(path: String, text: String): Unit = {
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    Files.write(Paths.get(path), text.getBytes(StandardCharsets.UTF_8))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spans = new Spans
    spans.request = "setup"
    val spark = spans("session.build")(session(o.cpus, o.work))
    spark.sparkContext.setLogLevel("WARN")
    spans("session.first_job")(spark.range(0, 1 << 16, 1, o.cpus).selectExpr("sum(id)").collect())
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    def spanS(n: String) = spans.all.find(_.name == n).map(_.seconds).getOrElse(0.0)
    val setup = Map("setup_s" -> setupS, "session.build_s" -> spanS("session.build"),
      "session.first_job_s" -> spanS("session.first_job"))
    println(f"[perfbench] setup_s=$setupS%.4f")
    try run(spark, o, spans, setup) finally spark.stop()
  }

  private def run(spark: SparkSession, o: Opts, spans: Spans, setup: Map[String, Double]): Unit = {
    val wl = Workloads.all.find(_.name == o.workload)
      .getOrElse(sys.error(s"unknown workload ${o.workload}"))
    val sc = spark.sparkContext
    val trace = if (o.trace) Some(new Trace(spark, spans, () => Kernels.liveRddIds)) else None
    (1 to 5).foreach(_ => cpuProbe())

    // Storage held at a request boundary, read before the drain; the
    // drain then frees what the request left persisted, except the
    // kernel stores (the one deliberate cross-request cache).
    def boundary(): Boundary = {
      val live = Kernels.liveRddIds
      val info = sc.getRDDStorageInfo
      def bytes(f: Int => Boolean) =
        info.filter(i => f(i.id)).map(i => i.memSize + i.diskSize).sum
      spark.catalog.clearCache()
      val leaked = sc.getPersistentRDDs.filter { case (id, _) => !live(id) }
      leaked.values.foreach(_.unpersist(blocking = true))
      Boundary(bytes(_ => true), bytes(live), bytes(id => !live(id)), leaked.size)
    }
    def kernelBytes(): Long = {
      val live = Kernels.liveRddIds
      sc.getRDDStorageInfo.filter(i => live(i.id)).map(i => i.memSize + i.diskSize).sum
    }

    val passes = (0 to o.passes).map { p =>
      val traced = trace.isDefined && p % 2 == 0
      trace.foreach(t => if (traced) t.attach() else t.detach())
      System.gc()
      pools(heap = true).foreach(_.resetPeakUsage())
      val (gc0, chunk0, kern0) = (gcSeconds(), ChunkStore.buildSec, Kernels.buildSec)
      spans.request = s"p$p/prepare"
      val prepT0 = System.nanoTime()
      spans("prepare")(wl.prepare(spark))
      val prepareS = (System.nanoTime() - prepT0) / 1e9
      trace.foreach(_.drain())
      spans.request = s"p$p"
      val done = spans(s"pass$p") {
        wl.order(o.seed, p).map { r =>
          val id = s"p$p/${r.name}"
          val before = cpuProbe()
          val kBefore = kernelBytes()
          spans.request = id
          sc.setJobDescription(JobTag + id)
          val env = Env(spark, o.data, s"${o.work}/out/pass$p/${r.name}", o.seed, spans)
          val t0 = System.nanoTime()
          val err = try { spans(r.name)(r.body(env)); None } catch {
            case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
          }
          val latency = (System.nanoTime() - t0) / 1e9
          sc.setJobDescription(null)
          trace.foreach(_.drain())
          val b = boundary()
          val after = cpuProbe()
          println(f"[perfbench] pass=$p%d request=${r.name}%s latency_s=$latency%.4f " +
            f"probe_before_s=$before%.4f probe_after_s=$after%.4f" +
            err.map(e => s" error=$e").getOrElse(""))
          Done(r, id, latency, before, after, err, kBefore, b)
        }
      }
      val passS = prepareS + done.map(_.latency).sum
      spans.request = "-"
      val heapPeak = pools(heap = true).map(_.getPeakUsage.getUsed).sum / MB
      val layers = trace.filter(_ => traced).map { t =>
        t.drain()
        Layers.ofPass(t.ofPass(s"p$p/"), done, spans.all, gcSeconds() - gc0, heapPeak,
          pools(heap = false).map(_.getUsage.getUsed).sum / MB,
          ChunkStore.buildSec - chunk0, Kernels.buildSec - kern0)
      }
      println(f"[perfbench] pass=$p%d pass_s=$passS%.4f traced=$traced")
      Map("pass" -> p, "traced" -> traced, "pass_s" -> passS, "prepare_s" -> prepareS,
        "storage_mb_peak" -> done.map(_.boundary.totalBytes).max / MB,
        "layers" -> layers.orNull,
        "requests" -> done.map { d =>
          Map("name" -> d.req.name, "kind" -> d.req.kind, "latency_s" -> d.latency,
            "probe_before_s" -> d.probeBefore, "probe_after_s" -> d.probeAfter,
            "error" -> d.error.orNull)
        })
    }
    trace.foreach(_.detach())

    val scanProbe = trace.map { _ =>
      spans.request = "probe"
      val times = (1 to 3).map { _ =>
        spans("tables.scan_probe") {
          val t0 = System.nanoTime()
          graft.Tables.lineitem(spark, o.data).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
      }.sorted
      times(1)
    }
    val oracles = wl.requests.filter(_.kind == "query").map(_.name)
      .flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    trace.foreach(_ => write(s"${o.work}/spans.jsonl", spans.all.map(s => json(s.fields)).mkString("", "\n", "\n")))
    write(o.result, json(Map("setup" -> setup, "workload" -> wl.name, "seed" -> o.seed,
      "passes" -> passes, "oracles" -> oracles, "scan_probe_s" -> scanProbe)))
  }
}
