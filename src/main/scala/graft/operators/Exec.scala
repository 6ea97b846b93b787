package graft.operators

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Shared execution-hygiene helpers for the operator layer.
  *
  * Two concerns every heavy operator here has:
  *
  *  1. ''Parallelism without gratuitous shuffles'': small parquet
  *     inputs arrive as a single partition (one core), but a corpus
  *     that is already partitioned at least as wide as the cluster must
  *     NOT be re-shuffled — at 100 TB an unconditional
  *     `repartition(...)` before every call is a full-corpus shuffle
  *     for nothing. [[widen]] only widens.
  *
  *  2. ''Deterministic cache lifecycle'': operators persist subplans
  *     their own plan references multiple times (self-joins,
  *     verification joins). Those handles must not outlive the call —
  *     a library caller cannot be asked to `spark.catalog.clearCache()`
  *     (which would also drop caches the CALLER owns). [[owned]]
  *     materializes the (small) final result as a self-contained eager
  *     checkpoint and releases every intermediate handle before
  *     returning, so the one surviving handle is the returned DataFrame
  *     itself — the caller's to free via [[Exec.releaseScratch]] (or to
  *     let the session drop).
  */
private[graft] object Exec {

  /** Widen-only repartition: spread a narrow input across the cluster
    * before an expensive projection, but never funnel an already-wide
    * input down. The explicit partition count is preserved by AQE.
    */
  def widen(df: DataFrame, key: String): DataFrame = {
    // register the native expressions on the session that will ANALYZE
    // this operator's plan — inside foreachBatch the micro-batch runs
    // on a CLONED session whose function registry was copied at stream
    // start, so registering on SparkSession.active (the Column API's
    // fallback) is not enough
    graft.functions.expressions.GraftFunctions
      .ensureRegistered(df.sparkSession)
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target, col(key))
    else df
  }

  /** Hash-pin a table to `key` with the session's FIXED shuffle
    * partition count before caching it for an iterative loop. The
    * explicit count is the point: without it AQE coalesces the build
    * exchange to whatever count the data suggested, the cached layout
    * then fails every later join's clustering requirement (which asks
    * for the full shuffle-partition count), and the "pinned" table
    * re-shuffles per round anyway.
    */
  def pin(df: DataFrame, key: String): DataFrame =
    df.repartition(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
      col(key))

  /** Root for EPHEMERAL scratch directories (stream checkpoints,
    * staged ingest chunks, per-run sinks) — everything created here is
    * deleted by its owner within the run (query scratch cleanup,
    * ChunkStore's shutdown hook). `$SPARK_GRAFT_SCRATCH_DIR` if set,
    * else `java.io.tmpdir`. The single root parameterizes the
    * deployment choice (fast local NVMe for stream state/scratch) in
    * ONE place, and keeps every choreography same-filesystem (the
    * hard-link replay copies in ChunkStore.linkInto require it).
    *
    * PINNED NEGATIVE RESULT (r16): pointing this at /dev/shm (tmpfs)
    * to absorb the per-micro-batch offset/commit/state fsyncs looked
    * like the §6 cut for the ~0.3 s/query streaming bring-up floor —
    * a same-epoch interleaved ABAB TimeOne over all 9 streaming
    * queries measured tmpfs consistently SLOWER on this box (family
    * min-sum 33.8 s vs 27.2 s on /tmp; q177 every tmpfs rep ≥ 4.56 s
    * vs every disk rep ≤ 3.71 s). The VM's disk-backed /tmp absorbs
    * small fsyncs in its write cache, while /dev/shm writes appear to
    * take a slower path under this sandbox. Default stays tmpdir;
    * re-test per deployment via the env var, not a code change. */
  lazy val scratchRoot: java.nio.file.Path = {
    val p = sys.env.get("SPARK_GRAFT_SCRATCH_DIR")
      .map(java.nio.file.Paths.get(_))
      .getOrElse(java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir")))
    java.nio.file.Files.createDirectories(p)
    p
  }

  /** [[java.nio.file.Files.createTempDirectory]] under [[scratchRoot]]
    * — the drop-in the ephemeral-scratch call sites use. */
  def scratchTempDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(scratchRoot, prefix)

  /** Recursively delete a directory tree (no-op if absent), closing
    * the walk stream deterministically — `Files.walk` without a
    * `close()` leaks a directory handle per call. */
  def deleteRecursively(path: String): Unit = {
    val dir = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(dir)) {
      val walk = java.nio.file.Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  /** Eagerly materialize a SMALL result (localCheckpoint truncates its
    * lineage so it no longer references any input file), then delete
    * the scratch directories it was computed from. For queries that
    * stage intermediate files/tables: without this the scratch outlives
    * the call — leaked per run, and colliding under concurrent
    * verifies when the path is fixed. */
  def detachFromScratch(result: DataFrame, scratchDirs: Seq[String]): DataFrame = {
    val out = result.localCheckpoint(true)
    scratchDirs.foreach { p =>
      try deleteRecursively(p)
      catch { case NonFatal(e) => suppressed("Exec.detachFromScratch", e) }
    }
    out
  }

  /** Materialization mechanism: eager `localCheckpoint`, NOT
    * persist+count. The result must be SELF-CONTAINED before the
    * intermediates are dropped, because in Spark 4.1
    * `Dataset.unpersist` on an upstream frame also drops DEPENDENT
    * CacheManager entries (measured: persist+count the result, then
    * unpersist an intermediate inside its plan → the result's own
    * cache entry vanishes and every later read re-executes the full
    * operator — the pre-round-14 `owned` paid exactly that silent 2×).
    * The checkpoint truncates lineage, so the returned frame
    * references nothing the cleanup below releases.
    *
    * Ownership: the returned frame's storage is checkpoint blocks,
    * which `Dataset.unpersist` does NOT free — callers release it
    * with [[releaseScratch]] (the harness mains also [[drain]]
    * leftover checkpoint RDDs at query boundaries).
    */
  /** TEST-ONLY escape hatch: while set, [[owned]] returns results
    * UNMATERIALIZED (nothing released), so plan-assert specs can
    * inspect an operator's real execution plan — the one the eager
    * checkpoint executes and then hides behind a LogicalRDD scan.
    * Deliberately a package-private var, NOT a system property: a
    * stray `-Dgraft.exec.planOnly` on a production launch would
    * silently stop materialization AND scratch release everywhere —
    * this way only in-repo code can reach it: test code
    * (SparkSpec.planOnly) and the graft.Explain dev tool, whose
    * default plan-only mode makes the same sequential, non-production
    * assumption. Mutation assumes SUITES RUN SEQUENTIALLY (the sbt forked-test
    * default, pinned by `Test / parallelExecution := false`); a
    * parallel runner would leak the flag into concurrent queries. */
  @volatile private[graft] var planOnlyHook: Boolean = false

  def owned(result: DataFrame, intermediates: Seq[DataFrame]): DataFrame =
    if (planOnlyHook) result
    else try result.localCheckpoint(true)
    finally intermediates.foreach { df =>
      // unpersist covers CacheManager-persisted intermediates; the
      // RDD-level release covers localCheckpoint'ed ones (whose blocks
      // unpersist never reaches)
      df.unpersist(blocking = false)
      releaseScratch(df)
    }

  /** Deterministically free the block-manager storage behind DEAD
    * `localCheckpoint`ed frames. `Dataset.unpersist` is a no-op for
    * these (it only calls CacheManager.uncacheQuery; checkpoint blocks
    * are held by the RDD inside the plan's LogicalRDD node), so without
    * this call dead generations of an iterative operator — or per-call
    * scratch of a repeated one — linger until an incidental driver GC
    * lets the ContextCleaner reap the unreachable RDD. In a long
    * single-JVM sweep (the 381-query bench) that backlog becomes
    * memory pressure LATER queries pay for; at scale it is the
    * difference between 2 live edge generations and roundsN+1.
    *
    * Only call on frames that are truly dead: a localCheckpointed RDD
    * cannot recompute (lineage truncated), so reading a released frame
    * fails with "checkpoint block not found" rather than recomputing.
    *
    * Releases ONLY frames that ARE checkpoint handles (plan root =
    * LogicalRDD, what `localCheckpoint` returns) — never LogicalRDDs
    * embedded deeper in a composed plan, because those may be a
    * CALLER's still-live input (measured: an operator whose persisted
    * intermediate was built over a caller-checkpointed corpus released
    * the caller's blocks and the caller's next join died with
    * "checkpoint block not found"). For a frame whose WHOLE plan is
    * known-dead scratch, use [[releaseScratchDeep]]. Frames that are
    * not checkpoint handles are skipped silently, so it is safe to
    * pass persisted intermediates through this from [[owned]].
    */
  def releaseScratch(frames: org.apache.spark.sql.Dataset[_]*): Unit = {
    val keep = graft.Kernels.liveRddIds
    frames.foreach { df =>
      try org.apache.spark.sql.GraftSqlBridge.rootCheckpointRdd(df)
        .foreach(r => if (!keep.contains(r.id)) {
          try r.unpersist(blocking = false)
          catch { case NonFatal(e) => suppressed("Exec.releaseScratch unpersist", e) }
        })
      catch { case NonFatal(e) => suppressed("Exec.releaseScratch plan", e) }
    }
  }

  /** [[releaseScratch]], but for EVERY LogicalRDD anywhere in the
    * frame's plan. Only for frames whose whole plan is known-dead
    * scratch the caller assembled itself (e.g. a detached result whose
    * routing checkpoint is now unreachable) — a composed plan over any
    * still-live checkpoint input must not go through here. The
    * [[graft.Kernels]] memo's RDDs are still skipped. */
  def releaseScratchDeep(frames: org.apache.spark.sql.Dataset[_]*): Unit = {
    val keep = graft.Kernels.liveRddIds
    frames.foreach { df =>
      try org.apache.spark.sql.GraftSqlBridge.checkpointRdds(df)
        .foreach(r => if (!keep.contains(r.id)) {
          try r.unpersist(blocking = false)
          catch { case NonFatal(e) => suppressed("Exec.releaseScratchDeep unpersist", e) }
        })
      catch { case NonFatal(e) => suppressed("Exec.releaseScratchDeep plan", e) }
    }
  }

  /** The query-boundary drain: drop every CacheManager entry and
    * unpersist every persisted RDD except the [[graft.Kernels]] memo's
    * (the one deliberate cross-query cache). The RDD pass is what frees
    * leftover `localCheckpoint` blocks, which `clearCache` never
    * reaches; left alone they wait for a driver GC and the
    * ContextCleaner, and later queries pay for the backlog. Returns the
    * block-manager bytes released, which are now driver-heap garbage.
    *
    * Only call when the previous query's result is fully consumed: a
    * result still backed by a checkpoint would fail with "checkpoint
    * block not found" when read after the drain. */
  def drain(spark: SparkSession): Long = {
    try spark.catalog.clearCache()
    catch { case NonFatal(e) => suppressed("Exec.drain clearCache", e) }
    val keep = graft.Kernels.liveRddIds
    val sc = spark.sparkContext
    val released = sc.getRDDStorageInfo
      .filter(i => !keep.contains(i.id)).map(i => i.memSize + i.diskSize).sum
    sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep.contains(id))
        try rdd.unpersist(blocking = false)
        catch { case NonFatal(e) => suppressed("Exec.drain unpersist", e) }
    }
    released
  }

  /** One stderr line for an error a best-effort cleanup step swallows,
    * naming the step, so a suppressed failure is never silent. */
  def suppressed(site: String, e: Throwable): Unit =
    System.err.println(s"[graft] suppressed in $site: $e")
}
