package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.GraftSqlBridge

import graft.operators.Exec

/** The harness promises ([[Harness]], [[Exec.drain]], [[Verify.dump]])
  * and the single-path invariants behind them. */
class HarnessSpec extends SparkSpec {

  private def storedBytes(id: Int): Long = spark.sparkContext.getRDDStorageInfo
    .filter(_.id == id).map(i => i.memSize + i.diskSize).sum

  test("drain releases checkpointed scratch and keeps the Kernels memo readable") {
    Kernels.clear()
    try {
      val store = Kernels.cached(spark, "harness-spec")(_ => spark.range(0, 1000).toDF("id"))
      val storeRows = store.count()
      val scratch = spark.range(0, 5000).selectExpr("id", "id * 2 AS v")
        .localCheckpoint(true)
      val scratchId = GraftSqlBridge.rootCheckpointRdd(scratch).get.id
      val scratchBytes = storedBytes(scratchId)
      assert(scratchBytes > 0)

      val released = Exec.drain(spark)
      val persisted = spark.sparkContext.getPersistentRDDs.keySet
      assert(!persisted.contains(scratchId))
      assert(released >= scratchBytes)
      assert(Kernels.liveRddIds.nonEmpty && Kernels.liveRddIds.subsetOf(persisted))
      assert(store.count() === storeRows)
    } finally Kernels.clear()
  }

  test("Verify.dump: a throwing build leaves only _ERROR.txt, wiping an earlier result") {
    val out = Exec.scratchTempDir("harness-spec").toString
    try {
      Verify.dump(spark, "q_x", spark.range(3).toDF("id"), out)
      assert(new java.io.File(s"$out/q_x").list().exists(_.endsWith(".parquet")))

      Verify.dump(spark, "q_x", throw new IllegalStateException("boom"), out)
      assert(new java.io.File(s"$out/q_x").list().toSeq === Seq("_ERROR.txt"))
      assert(Files.readString(Paths.get(s"$out/q_x/_ERROR.txt")) ===
        "java.lang.IllegalStateException: boom\n")
    } finally Exec.deleteRecursively(out)
  }

  // Source scan, like the SURVEY coverage test in QueriesSmokeSpec: the
  // single session factory and the single drain stay single.
  test("one session builder, one drain, no swallowed Throwable in main") {
    def occurrences(root: String, needle: String): Map[String, Int] = {
      val re = java.util.regex.Pattern.quote(needle).r
      val walk = Files.walk(Paths.get(root))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).map { p =>
        p.toString -> re.findAllMatchIn(Files.readString(p)).size
      }.filter(_._2 > 0).toMap
      finally walk.close()
    }
    // split so this file does not count itself
    assert(occurrences("src", "SparkSession" + ".builder") ===
      Map("src/main/scala/graft/Harness.scala" -> 1))
    assert(occurrences("src/main", "getPersistentRDDs").keySet ===
      Set("src/main/scala/graft/operators/Exec.scala"))
    assert(occurrences("src/main", "case _: Throwable").isEmpty)
    // every materialization goes through Exec.scope's Scope
    val exec = Set("src/main/scala/graft/operators/Exec.scala")
    Seq("localCheckpoint(", ".persist(", ".unpersist(").foreach { call =>
      assert(occurrences("src/main", call).keySet === exec, call)
    }
    Seq("owned" + "(", "releaseScratch" + "Deep", "detachFrom" + "Scratch")
      .foreach(gone => assert(occurrences("src", gone).isEmpty, gone))
    assert(occurrences("src/main", "scratchTempDir(").keySet === exec ++ Set(
      "src/main/scala/graft/streaming/ChunkStore.scala",
      "src/main/scala/graft/streaming/ChunkReplay.scala"))
  }
}
