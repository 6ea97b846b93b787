package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** The one file-stream replay path (the q177 pattern that puts
  * streaming operators under the DuckDB gate): a batch frame is
  * re-written as time-ordered chunk files whose mtimes sequence the
  * `FileStreamSource` replay, so `maxFilesPerTrigger=1` turns each
  * chunk into its own micro-batch in chunk order (late data only
  * where a caller injects it, q259).
  *
  * Used by every replayed streaming row: q211 (stateful eviction),
  * q226 (dedup, injected duplicates), q231 (transformWithState), q259
  * (late-data audit, injected late copies), q267 (stream-static join),
  * q272 (outer stream-stream join) and q277 (checkpoint recovery)
  * stage and run through it; q177 and q204 stream the events table
  * itself ([[graft.Tables.eventsStream]]) and run through [[run]].
  */
object ChunkReplay {

  /** Shuffle/state width for a replay over `ingestDir`'s staged chunk
    * files: `max(minW, ceil(stagedBytes / 4 MiB))`, capped at 32. A
    * stateful micro-batch pays one state-store commit PER partition
    * PER batch, so tiny replays want the narrowest width that still
    * parallelizes — but a HARDCODED narrow width inverts at scale
    * (measured: q272's interval join at 2 partitions read sf0.1→sf1
    * ratio 4.96 — two threads grinding 400k-row batches — where the
    * same replay at a size-derived width parallelizes the join and
    * keeps the ratio near data growth). Staged bytes are a pure
    * file-stat read: no Spark job, deterministic per (corpus, chunk
    * params), and exactly the signal a production ingest would size
    * its state shuffle from. */
  def replayWidth(ingestDir: String, minW: Int): Int = {
    val bytes = Option(new java.io.File(ingestDir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    math.min(32, math.max(minW, ((bytes + (4L << 20) - 1) / (4L << 20)).toInt))
  }

  /** Width that splits the event span `[minTs, maxTs]` into exactly
    * `budget` chunks anchored at `minTs` — a fixed micro-batch count
    * at any scale factor. */
  def spanWidth(minTs: Long, maxTs: Long, budget: Int): Long =
    math.max((maxTs - minTs) / budget + 1L, 1L)

  /** Chunk id of the LONG event-time column `ts`: `floor((ts − origin)
    * / width)` in exact integer arithmetic, matching the oracles' `//`.
    * Spark's `div` truncates toward zero, so the remainder is taken
    * with `pmod` first (a row before the origin lands in chunk −1, not
    * 0); the FP form `(ts/width).cast("long")` also truncates and can
    * misassign a boundary row once the quotient rounds across an
    * integer. Origin 0 keeps ABSOLUTE buckets (q267's oracle replays
    * `ts_us // width` and grades the batch count); a fixed-budget
    * caller passes its min event time, because an unaligned origin
    * spreads the span over budget+1 buckets and the sliver chunk
    * costs a full micro-batch round (~0.9 s fixed) for a handful of
    * rows. */
  def chunkId(ts: String, width: Long, origin: Long): Column = {
    val off = s"($ts - ($origin))"
    expr(s"($off - pmod($off, $width)) div $width")
  }

  /** Write `df`, whose LONG `chunk` column the caller assigned
    * ([[chunkId]], plus any injected copies unioned in), as one
    * parquet file per chunk under `ingestDir`, mtimes strictly
    * increasing in chunk order; `sentinels` frames (the same columns
    * without `chunk`) follow as the LAST files — far-future rows that
    * drag the one-batch-lagging watermark past every real key so
    * stateful / outer-join results are fully emitted by end-of-stream.
    * Returns the staged replay, whose schema is `df`'s columns without
    * `chunk`, every field nullable (an analysis-time read, no Spark
    * job). */
  def writeChunks(df: DataFrame, ingestDir: String,
                  sentinels: Seq[DataFrame]): Staged = graft.operators.Exec.scope { sc =>
    val tmp = sc.tempDir("graft_chunk_split")
    // all rows of a chunk land in ONE task so partitionBy emits a
    // single part file per chunk directory
    df.repartition(col("chunk"))
      .write.partitionBy("chunk").parquet(s"$tmp/real")
    sentinels.zipWithIndex.foreach { case (sd, i) =>
      sd.coalesce(1).write.parquet(s"$tmp/sentinel_$i")
    }
    // listFiles() is null when the input frame was empty and
    // partitionBy wrote no chunk directories — replay zero real chunks
    val real = Option(new java.io.File(s"$tmp/real").listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("chunk="))
      .sortBy(f => f.getName.stripPrefix("chunk=").toLong)
      .map(_.toString)
    val ordered = real ++ sentinels.indices.map(i => s"$tmp/sentinel_$i")
    ordered.zipWithIndex.foreach { case (dir, k) =>
      val part = new java.io.File(dir).listFiles()
        .filter(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).head
      val dst = Paths.get(f"$ingestDir/chunk_$k%03d.parquet")
      Files.move(part.toPath, dst, StandardCopyOption.ATOMIC_MOVE)
      dst.toFile.setLastModified(1700000000000L + k * 10000L)
    }
    Staged(ingestDir, StructType(df.schema.filterNot(_.name == "chunk")
      .map(f => StructField(f.name, f.dataType))))
  }

  /** The file stream replaying `staged`: one chunk file per
    * micro-batch, in mtime order. */
  def stream(s: SparkSession, staged: Staged): DataFrame =
    s.readStream.schema(staged.schema)
      .option("maxFilesPerTrigger", 1).parquet(staged.dir)

  /** Run `stream` to completion into `sink`: set the call site's
    * session-conf `overrides` (read at query start — shuffle/state
    * width, trailing no-data batch, state-store provider), start the
    * query, `processAllAvailable`, `stop`; then, also when the stream
    * throws, restore every key to its previous value or unset a key
    * that had none, so the batch rollup after the stream runs at the
    * session's own settings. Overriding the SHARED session conf is
    * safe only under the serial Verify/Bench harness: concurrent
    * queries on one SparkSession would need a per-query `newSession()`
    * clone instead. */
  def run[T](stream: Dataset[T], outputMode: String, checkpointDir: String,
             overrides: (String, String)*)(sink: (Dataset[T], Long) => Unit): Unit = {
    val conf = stream.sparkSession.conf
    val prev = overrides.map { case (k, _) => k -> conf.getOption(k) }
    try {
      overrides.foreach { case (k, v) => conf.set(k, v) }
      val q = stream.writeStream.outputMode(outputMode)
        .option("checkpointLocation", checkpointDir)
        .foreachBatch(sink)
        .start()
      try q.processAllAvailable() finally q.stop()
    } finally prev.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
