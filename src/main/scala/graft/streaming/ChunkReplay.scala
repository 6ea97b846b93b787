package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared choreography for the file-stream replay harness (the q177
  * pattern that puts streaming operators under the DuckDB gate): a
  * batch frame is re-written as time-ordered chunk files whose mtimes
  * sequence the `FileStreamSource` replay, so `maxFilesPerTrigger=1`
  * turns each chunk into its own micro-batch in event-time order (no
  * late data by construction — late-data semantics get their own
  * injection, q259).
  *
  * Used by the streaming rows that need multi-batch behavior: q211
  * (stateful eviction, its own inline copy predates this helper), q267
  * (stream-static join), q272 (outer stream-stream join).
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

  /** Write `df` (which must carry a LONG event-time column `tsUsCol`)
    * into one parquet file per `chunkUs`-wide event-time chunk under
    * `ingestDir`, mtime-ordered; `sentinels` frames (same schema) are
    * appended as the LAST chunks — far-future rows that drag the
    * one-batch-lagging watermark past every real key so stateful /
    * outer-join results are fully emitted by end-of-stream.
    *
    * `originUs` anchors the bucketing: chunk id = (ts − origin) div
    * width. The default 0 keeps ABSOLUTE buckets (q267's oracle
    * replays `ts_us // width` and grades the batch count, so its
    * boundaries must stay engine-independent); a fixed-batch-BUDGET
    * caller (q272: width = span/budget + 1) passes its min event
    * time, because an unaligned origin otherwise spreads the span
    * over budget+1 absolute buckets and the extra sliver chunk costs
    * a full micro-batch round (~0.9 s fixed) for a handful of rows.
    * Returns the number of chunk files written. */
  def writeChunks(df: DataFrame, tsUsCol: String, chunkUs: Long,
                  ingestDir: String, sentinels: Seq[DataFrame] = Nil,
                  originUs: Long = 0L): Int = graft.operators.Exec.scope { sc =>
    val tmp = sc.tempDir("graft_chunk_split")
    // all rows of a chunk land in ONE task so partitionBy emits a
    // single part file per chunk directory. Chunk id is integer FLOOR
    // division (`div`), matching the oracles' exact `//`: the FP form
    // `(ts/chunkUs).cast("long")` truncates toward zero (wrong chunk
    // for negative event times) and can misassign a boundary row once
    // ts/chunkUs rounds across an integer in FP
    df.withColumn("chunk", expr(s"($tsUsCol - $originUs) div $chunkUs"))
      .repartition(col("chunk"))
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
    ordered.length
  }
}
