package graft

/** Dev tool: print formatted physical plans for selected queries so
  * pushdown / broadcast / codegen can be eyeballed per round.
  * Usage: runMain graft.Explain [-materialize] [queryName ...]
  *
  * Runs in PLAN-ONLY mode by default (the same `Exec.planOnlyHook`
  * the plan-assert specs use): without it every `Scope.keep` result
  * eagerly checkpoints and the printed plan collapses to a single
  * `Scan ExistingRDD`, hiding the joins/aggregates/pushdowns the tool
  * exists to show. `-materialize` restores production materialization
  * (e.g. to see the checkpoint boundary itself).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val (flags, qargs) = args.partition(_.startsWith("-"))
    // fail fast on unknown flags (ADVICE r15): a typo like
    // '-materialize ' misspelled would otherwise silently keep
    // plan-only mode and print unmaterialized plans with no warning
    val unknown = flags.filterNot(_ == "-materialize")
    require(unknown.isEmpty,
      s"Explain: unknown flag(s) ${unknown.mkString(", ")} (only -materialize is recognized)")
    graft.operators.Exec.planOnlyHook = !flags.contains("-materialize")
    val spark = Harness.session(Harness.envCpus)
    val names = if (qargs.nonEmpty) qargs.toSeq
      else Seq("q01_pricing_summary", "q03_top_revenue_orders",
        "q05_star_join_revenue", "q06_forecast_revenue", "q28_asof_join")
    // sf0.001 keeps the dump fast; override when a plan shape is
    // size-estimate-dependent (e.g. broadcast-vs-shuffle thresholds only
    // visible at bench SF)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir)
        .explain("formatted")
    }
    spark.stop()
  }
}
