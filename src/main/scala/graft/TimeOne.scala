package graft

import graft.operators.Exec

/** Dev tool: time individual queries. Usage:
  * SPARK_GRAFT_SF_DIR=... runMain graft.TimeOne <name> [name ...]
  *
  * Every run starts from the same query-boundary drain Bench runs
  * between its timed runs, so interleaved ABAB numbers measure what
  * Bench measures.
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(Harness.envCpus)
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt
    args.foreach { name =>
      (1 to nRuns).foreach { run =>
        Exec.drain(spark)
        spark.sparkContext.setJobDescription(s"timeone: $name run$run")
        val t0 = System.nanoTime()
        // noop write evaluates every column; count() would let Catalyst
        // prune computed projections out of the measurement
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        println(f"TIMING $name run$run: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
