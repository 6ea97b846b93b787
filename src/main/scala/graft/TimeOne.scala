package graft

import graft.operators.Exec

/** Dev tool: time individual queries. Usage:
  * SPARK_GRAFT_SF_DIR=... runMain graft.TimeOne <name> [name ...]
  *
  * Every run is one [[graft.operators.Exec.boundary]] timed the way
  * Bench times its runs, so interleaved ABAB numbers measure what
  * Bench measures.
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(Harness.envCpus)
    Tables.requireAll(spark, sfDir)
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt
    args.foreach { name =>
      (1 to nRuns).foreach { run =>
        spark.sparkContext.setJobDescription(s"timeone: $name run$run")
        // noop write evaluates every column; count() would let Catalyst
        // prune computed projections out of the measurement
        val secs = Exec.boundary(spark, name) {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
        }.seconds
        println(f"TIMING $name run$run: $secs%.2f s")
      }
    }
    spark.stop()
  }
}
