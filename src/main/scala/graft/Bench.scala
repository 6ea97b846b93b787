package graft
import scala.util.control.NonFatal

import graft.Harness.esc
import graft.operators.Exec

/** Benchmark main: one JSON line with per-query seconds at
  * `SPARK_GRAFT_SF_DIR`.
  *
  * Honesty rules (the bench is the round-over-round signal, so it must
  * not flatter):
  *  - sink is a noop WRITE, never count() — Catalyst prunes computed
  *    projections under count(), so projection-only queries would
  *    "benchmark" a zero-column scan;
  *  - per query: one UNTIMED priming run (JIT, codegen compilation,
  *    parquet footer caches), then `SPARK_GRAFT_BENCH_RUNS` (default 3)
  *    timed runs, reporting the MEDIAN — single-run totals on a shared
  *    box vary ±50% with VM weather, medians reproduce within ~20%;
  *  - a query failure is RECORDED (per-query error message in the JSON,
  *    nonzero exit), never swallowed — a crashing query must not read
  *    as a fast success;
  *  - every run is one [[Exec.boundary]]: an RDD a run leaves persisted
  *    is named on stderr and counted in `leaked_rdds`, never freed
  *    quietly; `suppressed_errors` counts every [[Exec.suppressed]]
  *    cleanup error of the JVM.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = Harness.session(Harness.envCpus)
    Tables.requireAll(spark, sfDir)
    // Session-level warmup (shuffle machinery, codegen compiler) so the
    // first query's priming run isn't charged for JVM bring-up.
    def calibOnce(): Double = {
      // own job label (ADVICE r15): boundary calib probes used to run
      // under the enclosing query's "bench: <query>" description,
      // mislabeling the event log the labels exist to support
      val prev = spark.sparkContext.getLocalProperty("spark.job.description")
      spark.sparkContext.setJobDescription("bench: calib")
      try {
        val t0 = System.nanoTime()
        Tables.lineitem(spark, sfDir).groupBy("l_returnflag").count()
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } finally spark.sparkContext
        .setLocalProperty("spark.job.description", prev)
    }
    try calibOnce()
    catch { case NonFatal(e) => Exec.suppressed("Bench calib warm-up", e) }
    // Box-drift calibration (round 14, consumed since round 15): the
    // SAME fixed warm workload timed at sweep start and end. The in-run
    // spread canary catches within-run noise, but a shared box that
    // degrades ACROSS a 30-minute sweep (or between rounds) inflates
    // every min uniformly and is invisible to it — three identical r14
    // mirrors read 326/355/396 s across one afternoon with per-query
    // min ratios uniformly ~1.1-1.2x. The probe takes the MIN of 5
    // reps (after the warmup above): a single shot mixes box state
    // with its own scheduling noise, and the r14 single-shot fields
    // read end < start on every run because sweep-long JIT warmth
    // swamped the drift signal; the min-of-5 warm floor is the stable
    // epoch statistic.
    def calib(): Double =
      try Seq.fill(5)(calibOnce()).min
      catch { case NonFatal(e) => Exec.suppressed("Bench calib", e); -1.0 }
    val calibStart = calib()

    // Dev-loop filter: comma-separated name prefixes (e.g. "q127,q137")
    // to time a subset while iterating. Unset (the driver's mode) runs
    // everything.
    val filter = sys.env.get("SPARK_GRAFT_BENCH_FILTER")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    val selected = filter match {
      case Some(ps) => SparkEntry.queries.filter { case (n, _) =>
        ps.exists(n.startsWith) }
      case None => SparkEntry.queries
    }
    // JVM diagnostics (VERDICT r11 item 4): the four driver-box
    // blowups (q249 28×, q173/q164/q24) had regex/expression-heavy map
    // stages, untouched code, and appeared only in the full 351-query
    // single-JVM sweep — the JIT-code-cache-exhaustion signature. Track
    // per-query GC millis and end-of-run code-cache occupancy so a
    // recurrence names its mechanism from the artifact alone.
    import scala.jdk.CollectionConverters._
    def gcMillis(): Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    def codeCachePools(): Seq[(String, Long, Long)] =
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getName.contains("CodeHeap") ||
          p.getName.contains("Code Cache"))
        .map(p => (p.getName, p.getUsage.getUsed, p.getUsage.getMax)).toSeq
    val gcByQuery = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    // true median for even counts (upper-middle would give runs=2 a max)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }
    // the deliberate query-boundary System.gc() is accounted SEPARATELY:
    // since each run's boundary frees its own storage, most reclaimable
    // heap is deserialized checkpoint rows, which make the boundary full
    // GC itself cost ~0.3-0.7 s — folding that into the per-query figure
    // made every query read "GC-heavy" when the in-run (timed-region)
    // GC is what the diagnostic question is about
    var gcBoundaryMs = 0L
    // gated-boundary-GC state (see the gate below), and the RDDs runs
    // leaked (each named on stderr by its boundary)
    var (releasedSinceGc, queriesSinceGc, leakedRdds) = (0L, 0, 0)
    // per query: (median of runs, min of runs). The MIN is the
    // box-load canary (VERDICT r9): a loaded box inflates the median
    // while the min stays near the true warm cost, so median ≫ min in
    // the artifact itself flags a noise-contaminated round without
    // re-running anything.
    // sweep-relative start offset per query (file mirror only): a box
    // that stalls for a ~minute window inflates ALL runs of whichever
    // query it lands on — median ≈ min, so the spread canary stays
    // silent (r15: q211 read 19.5 s in one sweep, 3.3–4.3 s in every
    // reproduction). The offsets let a post-hoc read correlate an
    // outlier query with wall-clock, without re-running anything.
    val sweepT0 = System.nanoTime()
    val startOffsets = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    // calib timeline: the fixed probe re-timed at query boundaries
    // (outside all timed regions, ~+5 s per sweep) — every 25th query
    // on a full sweep, and proportionally denser on a FILTERED dev run
    // so calib_median is a real median there too (it previously
    // collapsed to calib_start below 25 queries, leaving dev-loop
    // drift unverifiable). Start offsets say WHEN a query ran; this
    // says how fast the box was AROUND then — together they pin a
    // mid-sweep stall from the artifact alone.
    val calibTimeline = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    val calibEvery = math.min(25, math.max(2, selected.size / 4))
    var sinceCalib = 0
    // Per-query-boundary box-speed probe (VERDICT r15 item 2): the r15
    // driver sweep carried ~43 s of box stall on two queries (q118
    // 23.5 s / q161 21.9 s vs 2-3 s everywhere else) that nothing in
    // the captured one-line JSON could adjudicate — the calib timeline
    // (every 25th query) is too sparse for a ~1-minute stall window.
    // This probe is a fixed single-thread CPU workload (~10-15 ms)
    // timed at EVERY query boundary (+~5 s per full sweep, outside all
    // timed regions): a box stall that inflates a query's runs also
    // inflates the probes around it, so stall_suspect (queries whose
    // surrounding probes BOTH exceed 3x the sweep's probe median) is
    // computable from the artifact alone. Single-thread CPU is the
    // right proxy on this box: the known stalls are noisy-neighbor CPU
    // contention (the driver's own 8-core rerun read 2.9 s / 1.0 s).
    @volatile var probeSink = 0L
    def cpuProbe(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9e3779b97f4a7c15L; var i = 0
      while (i < (1 << 24)) {
        x = x * 6364136223846793005L + 1442695040888963407L; i += 1
      }
      probeSink = x
      (System.nanoTime() - t0) / 1e9
    }
    (1 to 5).foreach(_ => cpuProbe()) // JIT warm-up, outside the sweep
    val boundaryProbes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val results: Seq[(String, Either[String, (Double, Double)])] =
      selected.toSeq.sortBy(_._1).map { case (name, fn) =>
        // guide §1.5: label jobs so UI/event-log reads map to queries
        // (thread-local property set, outside every timed region)
        spark.sparkContext.setJobDescription(s"bench: $name")
        startOffsets += name -> (System.nanoTime() - sweepT0) / 1e9
        boundaryProbes += cpuProbe()
        sinceCalib += 1
        if (sinceCalib >= calibEvery) {
          sinceCalib = 0
          val c = try calibOnce() catch { case NonFatal(e) =>
            Exec.suppressed("Bench boundary calib", e); -1.0 }
          calibTimeline += (((System.nanoTime() - sweepT0) / 1e9, c))
        }
        // every run (priming and timed) is one boundary, so run k never
        // pays run k-1's kept result; its released bytes feed the gated
        // boundary GC below. Query construction is timed too: eager
        // operators (dedup/ANN) do their work in fn itself.
        def one(): Double = {
          val run = Exec.boundary(spark, name) {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          }
          releasedSinceGc += run.releasedBytes
          leakedRdds += run.leaked.size
          run.seconds
        }
        val gcPre = gcMillis()
        // query-boundary driver GC, OUTSIDE every timed region: the
        // run boundaries free block-manager storage deterministically,
        // but driver-heap garbage (plan trees, codegen classes) still
        // only falls to GC; keeping it at the boundary means heavy
        // queries never pay predecessors' collection inside a timed
        // run. GATED (round 15): an unconditional per-query full GC
        // cost ~2 min of sweep wall clock while most boundaries had
        // nothing to reclaim — collect only when the runs since the
        // last boundary GC released real storage (the freed blocks are
        // now heap garbage), when the heap already looks crowded (a
        // cheap pre-GC overestimate — garbage counts as used — so it
        // errs toward collecting), or on an every-6th-query floor so
        // plan/codegen litter never accumulates unbounded. (First try
        // was 64 MiB / 0.7 / every-8th: q200 picked up 1.5 s of in-run
        // GC mid-sweep — these gates are the measured re-tighten.)
        queriesSinceGc += 1
        val rt = Runtime.getRuntime
        val usedFrac =
          (rt.totalMemory - rt.freeMemory).toDouble / rt.maxMemory
        if (releasedSinceGc > (32L << 20) || usedFrac > 0.6 ||
            queriesSinceGc >= 6) {
          System.gc()
          releasedSinceGc = 0L
          queriesSinceGc = 0
        }
        val gc0 = gcMillis() // in-run baseline: AFTER the boundary GC
        gcBoundaryMs += gc0 - gcPre
        val r = try {
          one() // priming run, untimed
          val times = Seq.fill(runs)(one())
          Right((median(times), times.min))
        } catch {
          // Throwable, not NonFatal: recorded in "errors" and the exit code
          case e: Throwable =>
            Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        }
        gcByQuery += name -> (gcMillis() - gc0)
        name -> r
      }
    boundaryProbes += cpuProbe() // "after" probe for the last query
    val calibEnd = calib()
    // Post-sweep JVM state: if any CodeHeap pool sits >90% of max, the
    // compiler likely disabled itself mid-sweep and tail-query timings
    // are interpreted-mode artifacts, not plan costs.
    val ccPools = codeCachePools()
    ccPools.foreach { case (n, used, max) =>
      val pct = if (max > 0) 100.0 * used / max else 0.0
      System.err.println(f"codecache: $n%s used=${used / 1048576}%d MiB" +
        f" max=${max / 1048576}%d MiB (${pct}%.1f%%)" +
        (if (pct > 90) "  <-- NEAR FULL: JIT may have disabled" else ""))
    }

    val ok = results.collect { case (k, Right((med, _))) => k -> med }
    val mins = results.collect { case (k, Right((_, mn))) => k -> mn }
    val errs = results.collect { case (k, Left(e)) => k -> e }
    // The harness captures only the TAIL of stdout (~2 kB): the JSON
    // line must fit there complete or it records parsed=null. Short
    // keys (qNN prefix) + 3-decimal seconds keep 70+ queries ~1 kB.
    def shortKey(k: String): String = k.takeWhile(_ != '_')
    // duplicate short keys would silently lose a timing in JSON parse
    val shorts = results.map(r => shortKey(r._1))
    require(shorts.distinct.length == shorts.length,
      s"bench short keys collide: ${shorts.diff(shorts.distinct).distinct.mkString(",")}")
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = ok.map { case (k, v) => s"\"${esc(shortKey(k))}\":${fmt(v)}" }
      .mkString("{", ",", "}")
    val es = errs.map { case (k, e) => s"\"${esc(shortKey(k))}\":\"${esc(e.take(80))}\"" }
      .mkString("{", ",", "}")
    val total = ok.map(_._2).sum
    val totalMin = mins.map(_._2).sum
    // Box-noise canary, machine-readable (VERDICT r13 item 2): a loaded
    // box inflates medians while per-run mins stay near the true warm
    // cost, so median-sum ≫ min-sum flags a contaminated round from the
    // artifact alone. 1.15 is the empirical bar: clean rounds measure
    // spread ≈ 1.05–1.10 on this box; the two known-noisy driver rounds
    // (r11, r13) read 1.18 and 1.20. A contaminated=true round must not
    // be graded as a regression against a clean one — compare mins, or
    // re-run.
    val spread = if (totalMin > 0) total / totalMin else 1.0
    val contaminated = spread > 1.15
    // Epoch normalization (round 15): the shared box's speed drifts
    // between rounds (identical-code r14 mirrors read 326/355/396 s
    // across one afternoon), so raw round-over-round totals compare
    // box epochs, not code. calib_drift = the MEDIAN of this run's
    // calib probes (the min-of-5 start probe + the every-25-queries
    // timeline probes) over the committed reference;
    // value_calib_normalized divides the totals by it, mapping this
    // run onto the reference epoch under the measured ~uniform
    // per-query drift. The median is the statistic because the box
    // degrades in WAVES: one r15 sweep read calib_start 0.718 while
    // its 15 mid-sweep probes read 0.22-0.47 (median 0.30) — a
    // start-only statistic graded a healthy sweep as 2.4x degraded.
    // calib_end stays excluded: it is structurally faster than every
    // mid-sweep probe (fully JIT/page-cache warm — measured 0.128 vs
    // a 0.224 timeline floor in the same run), a diagnostic only.
    // THE RULE: round-over-round deltas are graded on
    // value_calib_normalized, and are REFUSED OUTRIGHT (epochs
    // incomparable, re-run instead) when calib_drift leaves
    // [1/1.3, 1.3] — beyond that the uniform-drift assumption is
    // itself unverified. CalibRef provenance: the calib MEDIAN of the
    // r15 round-close baseline sweep (BENCH_LOCAL_r15.json,
    // 2026-08-16, local[32], sf0.1, healthy epoch) — the reference
    // must be a median-of-probes number like the statistic it divides
    // (a start-only probe runs ~10-15% less warm than the
    // timeline-dominated median and would bias every drift).
    val CalibRef = 0.263
    val calibSamples = (calibStart +: calibTimeline.map(_._2).toSeq).filter(_ > 0)
    val calibMedian = if (calibSamples.isEmpty) -1.0 else median(calibSamples)
    val calibDrift = if (calibMedian > 0) calibMedian / CalibRef else -1.0
    def norm(v: Double): Double = if (calibDrift > 0) v / calibDrift else v
    // stall_suspect (VERDICT r15 item 2): a query is flagged when the
    // boundary probes on BOTH sides of it ran >3x the sweep's probe
    // median — a transient box-stall window covering the query. Both
    // sides (min of before/after), so a spike that ended before the
    // query ran does not flag it; sustained whole-sweep slowness raises
    // the median itself and is calib_drift's job, not this field's.
    // Blind spot: the probes run only at query boundaries, so a stall
    // that starts and ends inside one long query touches neither probe
    // and is never flagged (a q56 run once read 17.2 s, 16x its clean
    // cost, with an empty list).
    val probeMedian = {
      val s = boundaryProbes.toSeq.sorted
      if (s.isEmpty) -1.0 else s(s.length / 2)
    }
    val stallSuspect =
      if (probeMedian <= 0) Seq.empty[String]
      else results.map(_._1).zipWithIndex.collect {
        case (n, i) if math.min(boundaryProbes(i),
          boundaryProbes(i + 1)) > 3 * probeMedian => n
      }
    val stallJson = stallSuspect
      .map(n => s"\"${esc(shortKey(n))}\"").mkString("[", ",", "]")
    val kernelsBuildSec = Kernels.buildSec
    val chunkBuildSec = graft.streaming.ChunkStore.buildSec
    // field order puts the headline LAST: the harness keeps only the
    // final ~2 kB of stdout, and at 230+ queries the line front (where
    // "value" used to sit) is what gets truncated — JSON field order is
    // semantically free, so the total/errors/runs now always survive
    // into the captured tail even when the full line no longer parses.
    // value_min = sum of per-query min-of-runs: value ≫ value_min means
    // the box was loaded during this bench (see per-query mins in the
    // file mirror). The same summary fields open the file mirror.
    val summary = s""""spread":${fmt(spread)},"contaminated":$contaminated,"calib_start_sec":${fmt(calibStart)},"calib_end_sec":${fmt(calibEnd)},"calib_median_sec":${fmt(calibMedian)},"calib_ref_sec":${fmt(CalibRef)},"calib_drift":${fmt(calibDrift)},"kernels_build_sec":${fmt(kernelsBuildSec)},"chunkstore_build_sec":${fmt(chunkBuildSec)},"probe_median_sec":${fmt(probeMedian)},"stall_suspect":$stallJson,"leaked_rdds":$leakedRdds,"suppressed_errors":${Exec.suppressedErrors},"value_min_calib_normalized":${fmt(norm(totalMin))},"value_calib_normalized":${fmt(norm(total))},"value_min":${fmt(totalMin)},"value":${fmt(total)}"""
    println(s"""{"metric":"total","queries":$qs,"errors":$es,"runs":$runs,"sf":"${esc(sfDir)}","unit":"sec",$summary}""")
    // The stdout tail keeps only ~2 kB — at 240+ queries most per-query
    // medians never reach the captured record. Mirror the FULL result
    // (long names, warm medians, errors) to a file so round-over-round
    // grading can diff every query without re-running the bench.
    // Committed at round close as BENCH_LOCAL_r{N}.json.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    if (outPath.nonEmpty) try {
      def obj(kvs: Seq[(String, String)]): String =
        kvs.map { case (k, v) => s"""  "${esc(k)}": $v""" }.mkString("{\n", ",\n", "\n}")
      def secs(kvs: Seq[(String, Double)]) = obj(kvs.map { case (k, v) => k -> fmt(v) })
      val jvm = {
        val pools = ccPools.map { case (n, used, max) =>
          s"""    "${esc(n)}": {"used_mb": ${used / 1048576}, "max_mb": ${max / 1048576}}"""
        }.mkString("{\n", ",\n", "\n  }")
        // only GC-heavy queries (>250 ms) — the diagnostic question is
        // "was a blowup GC/JIT, not plan", so quiet queries are noise
        val gc = gcByQuery.filter(_._2 > 250).sortBy(-_._2)
          .map { case (k, ms) => s"""    "${esc(k)}": $ms""" }
          .mkString("{\n", ",\n", "\n  }")
        s""""jvm": {"gc_total_ms": ${gcMillis()}, "gc_boundary_total_ms": $gcBoundaryMs, "codecache": $pools, "gc_ms_by_query_gt250": $gc}"""
      }
      val json =
        s"""{"metric":"total","unit":"sec","runs":$runs,"sf":"${esc(sfDir)}",$summary,
           |$jvm,
           |"queries":${secs(ok)},
           |"query_mins":${secs(mins)},
           |"query_start_offset_sec":${secs(startOffsets.toSeq)},
           |"calib_timeline":${calibTimeline
              .map { case (t, c) => s"[${fmt(t)},${fmt(c)}]" }
              .mkString("[", ",", "]")},
           |"boundary_probe_sec":${boundaryProbes
              .map(fmt).mkString("[", ",", "]")},
           |"errors":${obj(errs.map { case (k, e) => k -> s""""${esc(e)}"""" })}}""".stripMargin
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case NonFatal(e) => Exec.suppressed("Bench file mirror", e) }
    spark.stop()
    if (errs.nonEmpty) sys.exit(1)
  }
}
