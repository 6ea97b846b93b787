package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}

import graft.operators.Exec

/** The harness promises ([[Harness]], [[Exec.boundary]], [[Verify.dump]],
  * [[Tables.requireAll]]) and the single-path invariants behind them. */
class HarnessSpec extends SparkSpec {

  private def storedBytes(id: Int): Long = spark.sparkContext.getRDDStorageInfo
    .filter(_.id == id).map(i => i.memSize + i.diskSize).sum

  test("drain releases checkpointed scratch and keeps the Kernels memo readable") {
    Kernels.clear()
    try {
      val store = Kernels.cached(spark, "harness-spec")(_ => spark.range(0, 1000).toDF("id"))
      val storeRows = store.count()
      var (keptId, keptBytes, keptRows) = (-1, 0L, 0L)
      val run = Exec.boundary(spark, "harness-spec") {
        val kept = Exec.scope(sc => sc.keep(spark.range(0, 5000).selectExpr("id", "id * 2 AS v")))
        keptId = GraftSqlBridge.rootCheckpointRdd(kept).get.id
        keptRows = kept.count() // the consumer: still readable inside the run
        GraftSqlBridge.drainListenerBus(spark.sparkContext)
        keptBytes = storedBytes(keptId)
      }
      assert(keptRows === 5000 && keptBytes > 0)
      val persisted = spark.sparkContext.getPersistentRDDs.keySet
      assert(!persisted.contains(keptId))
      assert(run.releasedBytes >= keptBytes)
      assert(run.leaked.isEmpty)
      assert(Kernels.liveRddIds.nonEmpty && Kernels.liveRddIds.subsetOf(persisted))
      assert(store.count() === storeRows)
    } finally Kernels.clear()
  }

  test("a raw localCheckpoint left by a run is reported as a leak, not freed") {
    var raw: DataFrame = null
    val run = Exec.boundary(spark, "harness-spec-leak") {
      raw = spark.range(0, 100).toDF("id").localCheckpoint(true)
    }
    try {
      val id = GraftSqlBridge.rootCheckpointRdd(raw).get.id
      assert(run.leaked.map(_.id) === Seq(id))
      assert(spark.sparkContext.getPersistentRDDs.contains(id))
    } finally Exec.releaseScratch(raw)
  }

  test("Tables.requireAll names every missing table once and passes a full dir") {
    val dir = Exec.scratchTempDir("harness-tables").toString
    try {
      Tables.all.foreach(t => Files.createDirectories(Paths.get(s"$dir/$t.parquet")))
      Tables.requireAll(spark, dir)
      Seq("orders", "events").foreach(t => Files.delete(Paths.get(s"$dir/$t.parquet")))
      val e = intercept[IllegalArgumentException](Tables.requireAll(spark, dir))
      assert(e.getMessage.endsWith(
        s"table dir $dir lacks $dir/orders.parquet, $dir/events.parquet"))
    } finally Exec.deleteRecursively(dir)
  }

  test("a suppressed error is counted") {
    val n = Exec.suppressedErrors
    Exec.suppressed("HarnessSpec", new RuntimeException("cleanup failed"))
    assert(Exec.suppressedErrors === n + 1)
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
  // single session factory and the single leak check stay single.
  test("one session builder, one leak check, no drain, no swallowed Throwable in main") {
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
    assert(occurrences("src/main", "getPersistentRDDs") ===
      Map("src/main/scala/graft/operators/Exec.scala" -> 1))
    assert(occurrences("src/main", "clearCache").isEmpty)
    assert(occurrences("src", "Exec" + ".drain").isEmpty)
    assert(occurrences("src/main", "case _: Throwable").isEmpty)
    // every materialization goes through Exec.scope's Scope
    val exec = Set("src/main/scala/graft/operators/Exec.scala")
    Seq("localCheckpoint(", ".persist(", ".unpersist(").foreach { call =>
      assert(occurrences("src/main", call).keySet === exec, call)
    }
    Seq("owned" + "(", "releaseScratch" + "Deep", "detachFrom" + "Scratch")
      .foreach(gone => assert(occurrences("src", gone).isEmpty, gone))
    assert(occurrences("src/main", "scratchTempDir(").keySet === exec ++ Set(
      "src/main/scala/graft/streaming/ChunkStore.scala"))
  }
}
