package graft.perfbench

/** Per-layer metrics of one traced pass, from the listener records and
  * the benchmark's own spans. Names match `per_layer` in BENCHMARK.json. */
object Layers {
  private val MB = 1024.0 * 1024.0

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Milliseconds of [from, to] covered by at least one of `intervals`. */
  private def covered(from: Long, to: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var (total, end) = (0L, from)
    clipped.foreach { case (a, b) =>
      val start = math.max(a, end)
      if (b > start) { total += b - start; end = b }
    }
    total
  }

  def ofPass(r: Trace.PassRecords, done: Seq[PerfBench.Done], spans: Seq[Span],
             gcS: Double, heapMbPeak: Double, codeCacheMb: Double,
             chunkBuildS: Double, kernelsBuildS: Double): Map[String, Double] = {
    val ids = done.map(_.id).toSet
    val requestSpans = spans.filter(s => ids(s.request) && done.exists(_.req.name == s.name))
    val rounds = spans.filter(s => ids(s.request) && s.name == "engine.round")
    // bytes materialized per RDD block: the largest size any update reported
    def blockBytes(recs: Seq[BlockRec]) =
      recs.groupBy(b => (b.rdd, b.split)).values.map(_.map(_.bytes).max).sum
    val stores = done.filter(_.req.kind == "store")
    val storeHeld = stores.map(d => d.boundary.kernelBytes - d.kernelBefore).sum
    val storeCheckpointed = stores.map(d => blockBytes(r.blocks.filter(_.request == d.id))).sum
    val builds = graft.Kernels.liveRddIds.size
    val stageIntervals = r.allStages.map(s => (s.submitMs, s.completeMs))
    val lastBatch = r.batches.groupBy(_.query).values.map(_.last)
    val st = r.stages
    val perStore = Workloads.storeNames.map { n =>
      s"kernels.$n.build_s" -> stores.find(_.req.name == s"kernels.$n").map(_.latency).getOrElse(0.0)
    }
    Map(
      "tables.input_mb" -> st.map(_.inputBytes).sum / MB,
      "tables.input_rows" -> st.map(_.inputRows).sum.toDouble,
      "plans.exchanges" -> r.plans.map(_.exchanges).sum.toDouble,
      "plans.planning_s" -> r.plans.map(_.planningMs).sum / 1e3,
      "plans.shuffle_write_mb" -> st.map(_.shuffleWriteBytes).sum / MB,
      "plans.shuffle_read_mb" -> st.map(_.shuffleReadBytes).sum / MB,
      "plans.shuffle_records" -> st.map(_.shuffleRecords).sum.toDouble,
      "plans.fetch_wait_s" -> st.map(_.fetchWaitMs).sum / 1e3,
      "operators.tasks" -> st.map(_.tasks).sum.toDouble,
      "operators.task_run_s" -> st.map(_.runMs).sum / 1e3,
      "operators.task_cpu_s" -> st.map(_.cpuNs).sum / 1e9,
      "operators.task_gc_s" -> st.map(_.gcMs).sum / 1e3,
      "operators.spill_mb" -> st.map(_.spillBytes).sum / MB,
      "operators.skew" -> (1.0 +: st.filter(_.tasks >= 2).map(_.skew)).max,
      "kernels.build_s" -> kernelsBuildS,
      "kernels.builds" -> builds.toDouble,
      "kernels.reuse_ratio" ->
        (if (builds == 0) 0.0 else r.plans.filter(p => !p.request.contains("/kernels."))
          .map(_.storeReads).sum.toDouble / builds),
      "kernels.store_mb" -> (0L +: done.map(_.boundary.kernelBytes)).max / MB,
      "kernels.materialize_ratio" ->
        (if (storeCheckpointed == 0) 0.0 else storeHeld.toDouble / storeCheckpointed),
      "exec.leaked_mb" -> done.map(_.boundary.leakedBytes).sum / MB,
      "exec.leaked_rdds" -> done.map(_.boundary.leakedRdds).sum.toDouble,
      "exec.checkpoint_mb" -> blockBytes(r.blocks) / MB,
      "engine.rounds" -> rounds.size.toDouble,
      "engine.round_s" -> median(rounds.map(_.seconds)),
      "engine.jobs_per_round" -> (if (rounds.isEmpty) 0.0 else
        r.jobs.count(j => rounds.exists(s => j.timeMs >= s.startMs && j.timeMs <= s.endMs))
          .toDouble / rounds.size),
      "streaming.chunkstore_build_s" -> chunkBuildS,
      "streaming.batches" -> r.batches.size.toDouble,
      "streaming.batch_p50_s" -> median(r.batches.map(_.triggerMs / 1e3)),
      "streaming.commit_s" -> r.batches.map(_.commitMs).sum / 1e3,
      "streaming.state_rows" -> lastBatch.map(_.stateRows).sum.toDouble,
      "streaming.state_mb" -> lastBatch.map(_.stateBytes).sum / MB,
      "streaming.jobs" -> r.jobs.count(_.streaming).toDouble,
      "driver.jobs" -> r.jobs.size.toDouble,
      "driver.stages" -> st.size.toDouble,
      "driver.self_s" -> requestSpans.map { s =>
        (s.endMs - s.startMs - covered(s.startMs, s.endMs, stageIntervals)) / 1e3
      }.sum,
      "jvm.gc_s" -> gcS,
      "jvm.heap_mb_peak" -> heapMbPeak,
      "jvm.codecache_mb" -> codeCacheMb
    ) ++ perStore
  }
}
