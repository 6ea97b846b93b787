package graft.streaming

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

import graft.operators.Exec

/** A staged replay: the chunk directory, the schema of its files and,
  * where a consumer derives a setting from it (q226's watermark delay),
  * the chunk width it was staged with (0 where none does). */
final case class Staged(dir: String, schema: StructType, width: Long = 0L)

/** Session-lifetime store of REPLAY CHUNK DIRECTORIES — the disk-file
  * counterpart of [[graft.Kernels]]: the time-ordered, mtime-sequenced
  * chunk files a streaming query replays are a pure function of
  * (input dir, chunk params, injected rows), yet every bench run of
  * every streaming query rebuilt them with a full events scan + a
  * chunk-partitioned write before the stream — the part being
  * measured — even started. The store builds a choreography's ingest
  * directory once per (application, key) and hands every later run
  * the same READ-ONLY directory; a fresh checkpoint per run makes the
  * FileStreamSource replay all files again in mtime order, so the
  * streaming operator's measured work is unchanged.
  *
  * Ownership: the store's directories must never be passed to a
  * query's own scratch cleanup (a scope's `tempDir`); [[clear]] (test
  * isolation / cold-cost harnesses) and a JVM shutdown hook delete
  * them. Queries that CONSUME their staged files per run (q277 moves
  * chunks into the ingest dir mid-stream) take a per-run [[linkInto]]
  * copy — hard links, so the per-run cost is metadata-only.
  */
object ChunkStore {
  private val memo =
    scala.collection.concurrent.TrieMap.empty[(String, Any), Staged]

  // Wall seconds spent STAGING chunk directories this JVM (VERDICT r15
  // item 3): staging runs once per (application, key) inside whichever
  // untimed priming run touches it first — amortization the bench
  // artifact must surface, not hide. Emitted as chunkstore_build_sec.
  private val buildNanos = new java.util.concurrent.atomic.AtomicLong(0L)
  def buildSec: Double = buildNanos.get / 1e9

  /** The staged replay for `key`, building it with `build` on first
    * use. `build` receives a fresh empty directory, must leave the
    * finished chunk files (with their replay mtimes) inside it and
    * returns the replay staged there ([[ChunkReplay.writeChunks]] does
    * both). A `build` that throws leaves no directory behind. */
  def ensure(s: SparkSession, key: Any)(build: String => Staged): Staged =
    memo.getOrElseUpdate((s.sparkContext.applicationId, key), {
      val t0 = System.nanoTime()
      val dir = Exec.scratchTempDir("graft_chunk_store").toString
      try build(dir)
      catch {
        case e: Throwable =>
          try Exec.deleteRecursively(dir)
          catch { case NonFatal(d) => e.addSuppressed(d) }
          throw e
      }
      finally buildNanos.addAndGet(System.nanoTime() - t0)
    })

  /** Hard-link every parquet chunk of `srcDir` into `dstDir`,
    * preserving the replay mtimes (a hard link shares the inode, so
    * the mtime IS the original's). For choreographies that consume
    * their staged files per run. */
  def linkInto(srcDir: String, dstDir: String): Unit =
    new java.io.File(srcDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .foreach { f =>
        Files.createLink(Paths.get(s"$dstDir/${f.getName}"), f.toPath)
      }

  /** Delete every stored directory (test isolation, cold-cost
    * rehearsals). */
  def clear(): Unit = {
    val dirs = memo.values.map(_.dir).toList
    memo.clear()
    dirs.foreach { d =>
      try Exec.deleteRecursively(d)
      catch { case NonFatal(e) => Exec.suppressed("ChunkStore.clear", e) }
    }
  }

  // best-effort disk hygiene on normal JVM exit; /tmp is the backstop
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    try clear()
    catch { case NonFatal(e) => Exec.suppressed("ChunkStore shutdown hook", e) }))
}
