package graft.operators

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

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
  *  2. ''Deterministic lifetime'': every cache, checkpoint and
  *     scratch directory an operator or query creates belongs to one
  *     [[Exec.scope]] and is released when that scope exits — see
  *     [[Scope]]. A library caller is never asked to clear the
  *     session's cache (which would also drop caches the CALLER owns).
  *     A harness runs each query in one [[boundary]]: the query's kept
  *     result belongs to that run's scope, and what the run leaves
  *     persisted is reported as a leak, never freed behind its back.
  */
private[graft] object Exec {

  /** Widen-only repartition: spread a narrow input across the cluster
    * before an expensive projection, but never funnel an already-wide
    * input down. The explicit partition count is preserved by AQE. A
    * plan transform only: it changes no session state.
    */
  def widen(df: DataFrame, key: String): DataFrame = {
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

  /** Run `body` in a fresh [[Scope]]: everything the body caches,
    * checkpoints or stages through the scope is released when it
    * returns or throws. See [[Scope]] for the rules. */
  def scope[A](body: Scope => A): A = {
    val sc = new Scope(current.get)
    current.set(sc)
    val out = try body(sc) finally { current.set(sc.parent); sc.close() }
    sc.checkResult(out)
    out
  }

  // the innermost open scope of this thread: a nested scope's kept
  // result is handed to it
  private val current = new ThreadLocal[Scope]

  /** TEST-ONLY escape hatch: while set, [[Scope.keep]] returns results
    * UNMATERIALIZED and scopes release nothing, so plan-assert specs
    * can inspect an operator's real execution plan — the one the eager
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

  /** Free the block-manager storage behind a caller-owned checkpoint
    * handle held outside any [[Scope]] (tests, harnesses, the
    * [[graft.Kernels]] memo). `Dataset.unpersist` cannot do this: it
    * only reaches the CacheManager, while checkpoint blocks are held by
    * the RDD inside the plan's LogicalRDD root. Only frames that ARE
    * checkpoint handles are released — never LogicalRDDs deeper in a
    * composed plan, which may be someone else's live input — and the
    * memo's own RDDs are skipped. A released handle cannot be read
    * again ("checkpoint block not found"). */
  def releaseScratch(frames: Dataset[_]*): Unit = {
    val keep = graft.Kernels.liveRddIds
    frames.foreach { df =>
      try GraftSqlBridge.rootCheckpointRdd(df)
        .foreach(r => if (!keep.contains(r.id)) {
          try r.unpersist(blocking = false)
          catch { case NonFatal(e) => suppressed("Exec.releaseScratch unpersist", e) }
        })
      catch { case NonFatal(e) => suppressed("Exec.releaseScratch plan", e) }
    }
  }

  /** One [[boundary]]: the seconds `consume` took, the block-manager
    * bytes its scope released (now heap garbage) and the leaked RDDs. */
  final case class Run(seconds: Double, releasedBytes: Long, leaked: Seq[RDD[_]])

  /** The harness query boundary: `consume` builds one query and sinks
    * its result inside one [[scope]], which the query's own scopes nest
    * in — its kept result is freed after its consumer, by construction.
    * Then the leak check: an RDD persisted now, not before the run and
    * not in the [[graft.Kernels]] memo is a leak, named on stderr and
    * returned, never freed. A throwing `consume` propagates unchecked. */
  def boundary(spark: SparkSession, label: String)(consume: => Unit): Run = {
    val sc = spark.sparkContext
    def persisted = sc.getPersistentRDDs
    def stored = sc.getRDDStorageInfo.map(i => i.id -> (i.memSize + i.diskSize)).toMap
    val before = persisted.keySet
    var (secs, held) = (0.0, Map.empty[Int, Long])
    scope { _ =>
      val t0 = System.nanoTime()
      consume
      secs = (System.nanoTime() - t0) / 1e9
      held = stored
    }
    val after = persisted
    val memo = graft.Kernels.liveRddIds
    val leaked = after.collect { case (id, r) if !before(id) && !memo(id) => r }
      .toSeq.sortBy(_.id)
    leaked.foreach(r => System.err.println(s"[graft] $label leaked persisted RDD $r"))
    Run(secs, held.collect { case (id, b) if !after.contains(id) => b }.sum, leaked)
  }

  private val suppressedCount = new java.util.concurrent.atomic.AtomicLong(0L)

  /** How many errors [[suppressed]] has swallowed in this JVM. */
  def suppressedErrors: Long = suppressedCount.get

  /** One stderr line for an error a best-effort cleanup step swallows,
    * naming the step, so a suppressed failure is never silent. */
  def suppressed(site: String, e: Throwable): Unit = {
    suppressedCount.incrementAndGet()
    System.err.println(s"[graft] suppressed in $site: $e")
  }
}

/** The lifetime of materialized intermediates, owned by one
  * [[Exec.scope]] call:
  *
  *  - [[cache]] persists a frame (MEMORY_AND_DISK) the body reads more
  *    than once; [[checkpoint]] eagerly `localCheckpoint`s one, which
  *    truncates its lineage (iterative loops, plans that would
  *    otherwise grow per round).
  *  - [[keep]] is the result handed to the caller: an eager,
  *    self-contained checkpoint the scope does not release. In a
  *    nested scope the kept handle moves to the enclosing scope, which
  *    releases it on its own exit unless it keeps it in turn; outside
  *    any scope it is the caller's ([[Exec.releaseScratch]]); a harness
  *    run's [[Exec.boundary]] is such an enclosing scope.
  *  - [[release]] frees a dead generation before exit. It only frees
  *    what this scope owns, so passing a caller's input is a no-op.
  *    Releasing a cached frame also drops the cache entries of frames
  *    that depend on it (Spark's `Dataset.unpersist`), so release a
  *    cached frame only when no dependent cached frame is still in use.
  *  - [[tempDir]] is a directory under [[Exec.scratchRoot]].
  *
  * On exit, normal or thrown, caches are unpersisted, checkpoints are
  * released at RDD level (`Dataset.unpersist` never reaches checkpoint
  * blocks) and directories are deleted. A [[graft.Kernels]] memo RDD is
  * never released. Why checkpoint rather than persist+count for the
  * result: `Dataset.unpersist` on an intermediate also drops DEPENDENT
  * cache entries, so a persisted result would silently recompute once
  * its intermediates are gone; a checkpoint references none of them.
  * A returned `Dataset` whose plan still reads a checkpoint this scope
  * released fails at exit with `IllegalStateException` — a forgotten
  * [[keep]] surfaces here, not later as "checkpoint block not found".
  * Under [[Exec.planOnlyHook]] [[keep]] returns its input
  * unmaterialized and the scope releases nothing.
  */
final class Scope private[operators] (private[operators] val parent: Scope) {
  private val checkpoints = mutable.LinkedHashMap.empty[Int, RDD[_]]
  private val caches = mutable.ArrayBuffer.empty[Dataset[_]]
  private val dirs = mutable.ArrayBuffer.empty[String]
  private val released = mutable.Set.empty[Int]

  def cache[T](ds: Dataset[T]): Dataset[T] = {
    val c = ds.persist(StorageLevel.MEMORY_AND_DISK)
    caches += c
    c
  }

  /** Eager `localCheckpoint`; a frame that already is a checkpoint
    * handle is returned as it is, never checkpointed twice. */
  def checkpoint[T](ds: Dataset[T]): Dataset[T] =
    if (GraftSqlBridge.rootCheckpointRdd(ds).isDefined) ds
    else {
      val c = ds.localCheckpoint(true)
      GraftSqlBridge.rootCheckpointRdd(c).foreach(r => checkpoints(r.id) = r)
      c
    }

  def keep[T](ds: Dataset[T]): Dataset[T] =
    if (Exec.planOnlyHook) ds
    else {
      val c = checkpoint(ds)
      GraftSqlBridge.rootCheckpointRdd(c).flatMap(r => checkpoints.remove(r.id))
        .foreach(r => if (parent != null) parent.checkpoints(r.id) = r)
      c
    }

  def release(dss: Dataset[_]*): Unit = if (!Exec.planOnlyHook) {
    val memo = graft.Kernels.liveRddIds
    dss.foreach { ds =>
      GraftSqlBridge.rootCheckpointRdd(ds).flatMap(r => checkpoints.remove(r.id))
        .foreach(free(_, memo))
      val i = caches.indexWhere(_ eq ds)
      if (i >= 0) unpersist(caches.remove(i))
    }
  }

  def tempDir(prefix: String): String = {
    val d = Exec.scratchTempDir(prefix).toString
    dirs += d
    d
  }

  private def free(r: RDD[_], memo: Set[Int]): Unit = if (!memo.contains(r.id)) {
    released += r.id
    try r.unpersist(blocking = false)
    catch { case NonFatal(e) => Exec.suppressed("Scope checkpoint", e) }
  }

  private def unpersist(ds: Dataset[_]): Unit =
    try ds.unpersist(blocking = false)
    catch { case NonFatal(e) => Exec.suppressed("Scope cache", e) }

  private[operators] def close(): Unit = if (!Exec.planOnlyHook) {
    caches.foreach(unpersist)
    val memo = graft.Kernels.liveRddIds
    checkpoints.values.foreach(free(_, memo))
    dirs.foreach { d =>
      try Exec.deleteRecursively(d)
      catch { case NonFatal(e) => Exec.suppressed("Scope tempDir", e) }
    }
    caches.clear(); checkpoints.clear(); dirs.clear()
  }

  private[operators] def checkResult(out: Any): Unit = out match {
    case ds: Dataset[_] if released.nonEmpty =>
      val dead = GraftSqlBridge.checkpointRdds(ds).map(_.id).filter(released)
      if (dead.nonEmpty) throw new IllegalStateException(
        s"scope result reads checkpoint RDD ${dead.mkString(", ")} that the " +
          "scope released on exit: keep the result")
    case _ =>
  }
}
