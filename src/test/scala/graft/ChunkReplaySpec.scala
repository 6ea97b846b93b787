package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.Exec
import graft.streaming.{ChunkReplay, ChunkStore, Staged}

/** [[ChunkReplay]]'s staging and run contracts on hand-sized frames. */
class ChunkReplaySpec extends SparkSpec {
  import spark.implicits._

  /** Stage `df` (chunk ids already assigned) into a scratch dir and
    * hand the staged files, in replay (file name) order, to `check`. */
  private def staged[T](df: DataFrame, sentinels: Seq[DataFrame])(
      check: (Staged, Seq[java.io.File]) => T): T = {
    val dir = Exec.scratchTempDir("chunk-replay-spec").toString
    try {
      val st = ChunkReplay.writeChunks(df, dir, sentinels)
      check(st, new java.io.File(dir).listFiles().toSeq.sortBy(_.getName))
    } finally Exec.deleteRecursively(dir)
  }

  private def ids(f: java.io.File): Set[Long] =
    spark.read.parquet(f.toString).select("id").as[Long].collect().toSet

  test("chunkId is floor division from the origin: a row before it lands in the floor chunk") {
    val got = Seq(89L, 95L, 100L, 109L, 110L, 125L).toDF("ts")
      .select(col("ts"), ChunkReplay.chunkId("ts", 10L, 100L).as("c"))
      .as[(Long, Long)].collect().toMap
    assert(got === Map(89L -> -2L, 95L -> -1L, 100L -> 0L, 109L -> 0L,
      110L -> 1L, 125L -> 2L))
    assert(ChunkReplay.spanWidth(100L, 125L, 2) === 13L)
    assert(ChunkReplay.spanWidth(7L, 7L, 3) === 1L)
  }

  test("writeChunks: one file per chunk in chunk order, sentinels last, mtimes strictly increasing") {
    val ev = Seq((1L, 95L, "a"), (2L, 101L, "b"), (3L, 118L, "a"), (4L, 131L, "b"))
      .toDF("id", "ts_us", "kind")
      .withColumn("chunk", ChunkReplay.chunkId("ts_us", 10L, 100L))
    val sentinel = Seq((-1L, 1000L, "s")).toDF("id", "ts_us", "kind")
    staged(ev, Seq(sentinel, sentinel)) { (st, files) =>
      assert(files.map(f => ids(f)) ===
        Seq(Set(1L), Set(2L), Set(3L), Set(4L), Set(-1L), Set(-1L)))
      val mtimes = files.map(_.lastModified)
      assert(mtimes.zip(mtimes.tail).forall { case (a, b) => a < b }, mtimes)
      // the staged schema drops `chunk` and makes every field nullable
      assert(st.schema === StructType(Seq(StructField("id", LongType),
        StructField("ts_us", LongType), StructField("kind", StringType))))
      assert(files.forall(f => !spark.read.parquet(f.toString).columns.contains("chunk")))
    }
  }

  test("writeChunks: a copy injected into chunk+1 lands in the next file") {
    val ev = Seq((1L, 0L), (2L, 5L), (3L, 12L), (4L, 25L)).toDF("id", "ts_us")
      .withColumn("chunk", ChunkReplay.chunkId("ts_us", 10L, 0L))
    val resent = ev.filter(col("id") === 2L).withColumn("chunk", col("chunk") + 1)
    staged(ev.unionByName(resent), Nil) { (_, files) =>
      assert(files.map(f => ids(f)) === Seq(Set(1L, 2L), Set(2L, 3L), Set(4L)))
    }
  }

  test("run replays every staged file and restores the session conf, also when the stream throws") {
    val (setKey, unsetKey) = ("spark.graft.test.chunkReplay.set", "spark.graft.test.chunkReplay.unset")
    val ev = Seq((1L, 0L), (2L, 15L), (3L, 27L)).toDF("id", "ts_us")
      .withColumn("chunk", ChunkReplay.chunkId("ts_us", 10L, 0L))
    spark.conf.set(setKey, "before")
    spark.conf.unset(unsetKey)
    try staged(ev, Nil) { (st, _) =>
      def replay(sink: (Dataset[Row], Long) => Unit): Unit = Exec.scope { sc =>
        ChunkReplay.run(ChunkReplay.stream(spark, st), "append",
          sc.tempDir("chunk-replay-ckpt"), setKey -> "during", unsetKey -> "during")(sink)
      }
      val seen = scala.collection.mutable.ArrayBuffer.empty[(Set[Long], Seq[String])]
      replay { (b, _) =>
        seen += ((b.select("id").as[Long].collect().toSet,
          Seq(setKey, unsetKey).map(k => spark.conf.get(k))))
      }
      assert(seen.map(_._1) === Seq(Set(1L), Set(2L), Set(3L)))
      assert(seen.forall(_._2 == Seq("during", "during")))
      assert(spark.conf.get(setKey) === "before")
      assert(spark.conf.getOption(unsetKey).isEmpty)

      intercept[Exception](replay((_, _) => throw new IllegalStateException("sink failed")))
      assert(spark.conf.get(setKey) === "before")
      assert(spark.conf.getOption(unsetKey).isEmpty)
    } finally spark.conf.unset(setKey)
  }

  test("ChunkStore.ensure: a build that throws leaves no directory and is not memoized") {
    val key = "chunk-replay-spec-throws"
    var built = Seq.empty[String]
    intercept[IllegalStateException](ChunkStore.ensure(spark, key) { dir =>
      built :+= dir
      Files.write(Paths.get(s"$dir/chunk_000.parquet"), Array[Byte](1))
      throw new IllegalStateException("build failed")
    })
    assert(built.size == 1 && !Files.exists(Paths.get(built.head)))
    // the next call builds again, into a fresh directory
    val st = ChunkStore.ensure(spark, key) { dir => built :+= dir; Staged(dir, StructType(Nil)) }
    try assert(built.size == 2 && st.dir == built(1) && Files.isDirectory(Paths.get(st.dir)))
    finally ChunkStore.clear()
  }

  test("Tables.eventsStream replays Tables.events in both table layouts") {
    val dir = Exec.scratchTempDir("events-stream").toString
    try {
      // ts as LONG nanoseconds: the TIMESTAMP(NANOS) column under nanosAsLong
      Seq((1L, 7L, "click", 1700000000123456789L), (2L, 8L, "purchase", 1700000100000000000L))
        .toDF("event_id", "user_id", "event_type", "ts")
        .coalesce(1).write.parquet(s"$dir/asDir/events.parquet")
      val part = new java.io.File(s"$dir/asDir/events.parquet").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.createDirectories(Paths.get(s"$dir/asFile"))
      Files.copy(part.toPath, Paths.get(s"$dir/asFile/events.parquet"))
      Seq("asDir", "asFile").foreach { layout =>
        val d = s"$dir/$layout"
        val streamed = Exec.scope { sc =>
          val out = sc.tempDir("events-stream-out")
          ChunkReplay.run(Tables.eventsStream(spark, d), "append",
            sc.tempDir("events-stream-ckpt")) {
            (b, _) => b.write.mode("append").parquet(out)
          }
          spark.read.parquet(out).collect().toSet
        }
        assert(streamed === Tables.events(spark, d).collect().toSet, layout)
      }
    } finally Exec.deleteRecursively(dir)
  }
}
