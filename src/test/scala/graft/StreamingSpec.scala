package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.engine.{Ols, Weights}
import graft.streaming.{EventPipeline, SessionEvent, SessionTally}

/** Structured Streaming coverage (SURVEY.md §2.10): the same
  * transforms the batch surface uses, driven through a MemoryStream.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("windowedAgg runs identically as a streaming query with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "value")
    val agg = EventPipeline.windowedAgg(
      events.withWatermark("ts", "1 hour"), "6 hours")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("win_out").start()
    try {
      mem.addData(
        (ts("2024-01-01 01:00:00"), "click", 1.0),
        (ts("2024-01-01 02:00:00"), "click", 2.5),
        (ts("2024-01-01 07:00:00"), "view", 4.0))
      q.processAllAvailable()
      val out = spark.table("win_out")
        .orderBy("win_start", "event_type").collect()
      assert(out.length == 2)
      assert(out(0).getAs[Long]("n") == 2)
      assert(out(0).getAs[Double]("sum_value") == 3.5)
      assert(out(1).getAs[Long]("n") == 1)
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization carries state across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SessionEvent]
    val tallies = EventPipeline.sessionFinalTallies(
      mem.toDS(), gapUs = 30L * 60 * 1000000, watermarkDelay = "0 seconds")
    val q = tallies.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    try {
      val min = 60L * 1000000
      // every event stays strictly above the watermark of its batch
      val base = 1440 * min
      // batch 1: user 1 at t and t+10min (same session)
      mem.addData(SessionEvent(1L, base), SessionEvent(1L, base + 10 * min))
      q.processAllAvailable()
      assert(spark.table("sess_out").count() == 0)
      // batch 2: user 1 two hours later (new session), user 2 appears
      mem.addData(SessionEvent(1L, base + 120 * min),
        SessionEvent(2L, base + 60 * min))
      q.processAllAvailable()
      // sweep both users out: the watermark lags one batch
      mem.addData(SessionEvent(3L, base + 400 * min))
      q.processAllAvailable()
      mem.addData(SessionEvent(3L, base + 400 * min))
      q.processAllAvailable()
      // user 1's one finalized segment holds both batches' events
      val rows = spark.table("sess_out").as[SessionTally].collect().toSet
      assert(rows == Set(SessionTally(1L, 2L, 3L), SessionTally(2L, 1L, 1L)),
        rows.toString)
    } finally q.stop()
  }

  test("streaming dropDuplicates with watermark dedups across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val df = mem.toDF().toDF("ts", "id")
    val q = df.withWatermark("ts", "1 hour")
      .dropDuplicates("id")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      mem.addData((ts("2024-01-01 01:00:00"), 1L),
                  (ts("2024-01-01 01:05:00"), 2L),
                  (ts("2024-01-01 01:06:00"), 1L)) // in-batch dup
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 01:30:00"), 1L), // cross-batch dup
                  (ts("2024-01-01 01:31:00"), 3L))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("id")
        .collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("session_window streaming merges gap-bounded events into sessions") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val events = mem.toDF().toDF("ts", "user_id")
    val agg = EventPipeline.sessionWindows(
      events.withWatermark("ts", "1 hour"), "30 minutes")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("sw_out").start()
    try {
      mem.addData(
        (ts("2024-01-01 01:00:00"), 1L),
        (ts("2024-01-01 01:10:00"), 1L), // 10 min gap: same session
        (ts("2024-01-01 02:30:00"), 1L), // 80 min gap: new session
        (ts("2024-01-01 01:00:00"), 2L))
      q.processAllAvailable()
      val out = spark.table("sw_out")
        .orderBy("user_id", "sess_start").collect()
      assert(out.length == 3)
      assert(out(0).getAs[Long]("n_events") == 2)
      // session end = last event + gap
      assert(out(0).getAs[Timestamp]("sess_end") == ts("2024-01-01 01:40:00"))
      assert(out(1).getAs[Long]("n_events") == 1)
      assert(out(2).getAs[Long]("n_events") == 1)
    } finally q.stop()
  }

  test("session_window batch path agrees with the lag() sessionization (q23)") {
    val d = "/root/testdata/sf0.001"
    val perUser = EventPipeline.sessionWindows(Tables.events(spark, d),
        "30 minutes")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
    val q23 = SparkEntry.queries("q23_sessionization")(spark, d)
    val joined = perUser.as("a")
      .join(q23.as("b"), col("a.user_id") === col("b.user_id"))
    assert(joined.count() == q23.count())
    assert(joined.filter(col("a.n_sessions") =!= col("b.n_sessions") ||
      col("a.n_events") =!= col("b.n_events")).count() == 0)
  }

  test("sessionFinalTallies emits ONLY finalized segments; sums equal batch (q211 kernel)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SessionEvent]
    val tallies = EventPipeline.sessionFinalTallies(
      mem.toDS(), gapUs = 30L * 60 * 1000000, watermarkDelay = "0 seconds")
    val q = tallies.writeStream.outputMode("append")
      .format("memory").queryName("final_out").start()
    try {
      val min = 60L * 1000000
      val base = 1440 * min
      // user 1: two sessions' worth of events (65-min gap), one batch
      mem.addData(SessionEvent(1L, base), SessionEvent(1L, base + 10 * min),
        SessionEvent(1L, base + 75 * min))
      q.processAllAvailable()
      // append mode: NOTHING emitted until eviction
      assert(spark.table("final_out").count() == 0)
      // advance the watermark past user 1's horizon (lags one batch)
      mem.addData(SessionEvent(2L, base + 300 * min))
      q.processAllAvailable()
      mem.addData(SessionEvent(2L, base + 301 * min))
      q.processAllAvailable()
      val seg = spark.table("final_out").as[SessionTally].collect()
      // exactly ONE row: user 1's finalized segment (2 sessions, 3 events)
      assert(seg.toSeq == Seq(SessionTally(1L, 2L, 3L)), seg.toSeq.toString)
      // user 1 returns after eviction -> fresh state; sweep via user 2
      mem.addData(SessionEvent(1L, base + 600 * min))
      q.processAllAvailable()
      mem.addData(SessionEvent(2L, base + 900 * min))
      q.processAllAvailable()
      mem.addData(SessionEvent(2L, base + 901 * min))
      q.processAllAvailable()
      val rows = spark.table("final_out").as[SessionTally].collect()
        .filter(_.user_id == 1L).map(t => (t.n_sessions, t.n_events)).toSeq
      // two finalized segments; per-user SUM (3 sessions, 4 events)
      // equals the batch lag() sessionization of the same timeline
      assert(rows.sorted == Seq((1L, 1L), (2L, 3L)), rows.toString)
    } finally q.stop()
  }

  test("NARROW-chunk session replay (6-day, 5 real micro-batches) sums to batch sessionization") {
    // q211 benches with a 2-real-chunk budget (one real-real
    // boundary); this keeps the narrow configuration — more
    // eviction-boundary and state-carry events per run — exercised
    // against the same batch oracle, so the sweep-time trade can't
    // silently lose multi-boundary coverage.
    val d = "/root/testdata/sf0.001"
    val narrow = graft.queries.Lifecycle
      .sessionReplay(spark, d, 6L * 86400 * 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val gapUs = 30L * 60 * 1000000
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_us")
    val batch = Tables.events(spark, d)
      .select(col("user_id").cast("long").as("user_id"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("prev", lag("ts_us", 1).over(w))
      .withColumn("new_s", when(col("prev").isNull ||
        col("ts_us") - col("prev") > gapUs, 1L).otherwise(0L))
      .groupBy("user_id")
      .agg(sum("new_s").as("n_sessions"), count(lit(1)).as("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(narrow == batch && narrow.nonEmpty)
  }

  test("NARROW-chunk dedup replay (6 real micro-batches) equals the clean-table rollup") {
    // q226 benches with a 3-real-chunk budget; this drives the same
    // replay at twice the batch density — six cross-batch suppression
    // boundaries, six watermark advances (so state eviction AND
    // retention are both exercised repeatedly) — against the same
    // clean-table oracle, so the sweep-time trade can't silently lose
    // multi-boundary coverage.
    val d = "/root/testdata/sf0.001"
    val narrow = graft.queries.Lifecycle.dedupReplay(spark, d, 6)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    val batch = Tables.events(spark, d)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("event_id")).as("n_distinct"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(narrow == batch && narrow.nonEmpty)
  }

  test("NARROW-chunk outer-join replay (5 real micro-batches) equals the batch LEFT join") {
    // q272 benches with a 2-real-chunk budget (one real-real
    // boundary); this keeps a DENSER choreography — five real chunk
    // boundaries, so cross-batch matches and watermark-driven
    // null-row evictions fire across four mid-stream boundaries, not
    // one — graded against the same batch LEFT-join oracle, so the
    // sweep-time trade can't silently lose multi-boundary coverage.
    val d = "/root/testdata/sf0.001"
    val narrow = graft.queries.Signals.outerJoinReplay(spark, d, 5)
      .collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
      .toSet
    val ev = Tables.events(spark, d)
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("event_id").cast("long").as("event_id"),
        col("user_id").cast("long").as("user_id"),
        col("event_type"), col("ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    val batch = p.join(c,
        col("c_user") === col("p_user") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 DAY"),
        "leftOuter")
      .groupBy(to_date(col("p_ts")).as("day"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("c_id").isNotNull, 1L).otherwise(0L)).as("n_matched"),
        sum(when(col("c_id").isNull, 1L).otherwise(0L)).as("n_unmatched"),
        countDistinct(col("p_id")).as("n_purchases"))
      .collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
      .toSet
    assert(narrow == batch && narrow.nonEmpty)
  }

  test("EventTimeTimeout evicts session state once the watermark passes the gap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SessionEvent]
    val tallies = EventPipeline.sessionFinalTallies(
      mem.toDS(), gapUs = 30L * 60 * 1000000, watermarkDelay = "0 seconds")
    val q = tallies.writeStream.outputMode("append")
      .format("memory").queryName("evict_out").start()
    def user1 = spark.table("evict_out").as[SessionTally].collect()
      .filter(_.user_id == 1L).map(t => (t.n_sessions, t.n_events)).toSeq
    // one micro-batch per call; watermarks lag one batch, so a repeat
    // of the last event time runs a batch at the advanced watermark
    // without moving it
    def batch(events: SessionEvent*): Unit = {
      mem.addData(events: _*)
      q.processAllAvailable()
    }
    try {
      val min = 60L * 1000000
      // keep every event strictly above the INITIAL watermark (epoch 0,
      // delay 0s) or it is dropped as late before the stateful operator
      val base = 1440 * min
      // user 1: one session, last event at t+10min -> horizon t+40min
      batch(SessionEvent(1L, base), SessionEvent(1L, base + 10 * min))
      // watermark reaches the horizon exactly: state is kept
      batch(SessionEvent(2L, base + 40 * min))
      batch(SessionEvent(2L, base + 40 * min))
      assert(user1.isEmpty, s"evicted at the horizon: $user1")
      // watermark passes the horizon: state emitted once and REMOVED
      batch(SessionEvent(2L, base + 41 * min))
      batch(SessionEvent(2L, base + 41 * min))
      assert(user1 == Seq((1L, 2L)))
      // user 1 returns: a FRESH count, not (2 sessions, 3 events)
      batch(SessionEvent(1L, base + 200 * min))
      batch(SessionEvent(2L, base + 500 * min))
      batch(SessionEvent(2L, base + 500 * min))
      assert(user1.sorted == Seq((1L, 1L), (1L, 2L)), s"rows=$user1")
    } finally q.stop()
  }

  test("stream-stream interval join matches purchases to in-window clicks") {
    implicit val sqlCtx = spark.sqlContext
    val memClicks = MemoryStream[(Timestamp, Long, Long)]
    val memPurch = MemoryStream[(Timestamp, Long, Long)]
    val clicks = memClicks.toDF().toDF("c_ts", "c_user", "click_id")
      .withWatermark("c_ts", "2 hours")
    val purchases = memPurch.toDF().toDF("p_ts", "p_user", "purchase_id")
      .withWatermark("p_ts", "2 hours")
    // the streaming twin of the as-of/range join surface (q28/q29):
    // both sides watermarked, the time-interval condition bounds the
    // join state Spark must retain
    val joined = purchases.join(clicks,
      col("c_user") === col("p_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select("purchase_id", "click_id")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    try {
      memClicks.addData(
        (ts("2024-01-01 01:00:00"), 1L, 100L),
        (ts("2024-01-01 05:00:00"), 1L, 101L), // too old for the purchase
        (ts("2024-01-01 09:40:00"), 2L, 102L))
      memPurch.addData((ts("2024-01-01 01:30:00"), 1L, 900L))
      q.processAllAvailable()
      // cross-batch: a purchase arriving later still joins buffered clicks
      memPurch.addData((ts("2024-01-01 10:00:00"), 2L, 901L))
      q.processAllAvailable()
      val got = spark.table("ssj_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((900L, 100L), (901L, 102L)))
    } finally q.stop()
  }

  test("foreachBatch reproduces the reference's iterate+EMA loop on a stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Double, Double)]
    val data = mem.toDF().toDF("x", "y")
    // driver-held EMA state, exactly kernel.cu:214-215 (alpha = 0.2)
    var w = Weights(0.0, 0.0)
    val q = data.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) w = w.ema(Ols.fitLinearExact(batch, "x", "y"), 0.2)
      }.start()
    try {
      mem.addData((1.0, 1.0), (2.0, 2.0), (3.0, 3.0)) // y = x
      q.processAllAvailable()
      mem.addData((1.0, 2.0), (2.0, 4.0), (3.0, 6.0)) // y = 2x
      q.processAllAvailable()
      // matches IterativeTrainer: 0.2*(0.8*1) + 0.8*2 = 1.76
      assert(math.abs(w.w1 - 1.76) < 1e-9)
      assert(math.abs(w.w0) < 1e-9)
    } finally q.stop()
  }

  test("curation filters run unchanged on a stream (gopher + PII + mixing)") {
    // the curation surface is stateless per-row, so the SAME column
    // expressions the batch queries use apply to a readStream without
    // modification — quality gating / redaction / mixing run inline in
    // a streaming ingest with no state store at all
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String)]
    val docs = mem.toDF().toDF("doc_id", "text", "source")
    val curated = graft.operators.Sampling.mixSources(
        graft.operators.Quality.gopherFlags(docs, "doc_id", "text")
          .join(docs, "doc_id")
          .withColumn("red", graft.functions.TextFunctions.redactPii(col("text"))),
        "doc_id", "source", Map("srcA" -> 100), defaultPct = 0)
    val q = curated.writeStream.outputMode("append")
      .format("memory").queryName("curated_out").start()
    try {
      val good = ((1 to 50).map(i => s"word$i") ++
        Seq("the", "of", "and")).mkString(" ")
      mem.addData(
        (1L, good + " mail me at a.b@c.org", "srcA"),
        (2L, "too short", "srcA"),
        (3L, good, "srcB"))
      q.processAllAvailable()
      val out = spark.table("curated_out")
        .select("doc_id", "keep", "kept", "red").collect()
        .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2),
          r.getString(3)))).toMap
      assert(out(1L)._1 && out(1L)._2)            // keeps rules + mixture
      assert(out(1L)._3.endsWith("mail me at [EMAIL]"))
      assert(!out(2L)._1)                          // gopher reject
      assert(!out(3L)._2)                          // mixed out (srcB -> 0%)
    } finally q.stop()
  }

  test("streaming HLL registers equal the batch sketch (bounded state)") {
    // a live distinct-count monitor IS Sketch.hllRegisters run as a
    // streaming aggregation: groupBy(bucket).max is update-safe, and
    // the state store holds at most 2^p rows no matter how many
    // distinct keys stream past — the register table read at any point
    // equals the batch sketch over the rows so far
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val regs = graft.operators.Sketch.hllRegisters(
      mem.toDF().toDF("k"), "k", p = 8)
    val q = regs.writeStream.outputMode("complete")
      .format("memory").queryName("hll_regs").start()
    try {
      mem.addData((1 to 700).map(i => s"u$i"): _*)
      q.processAllAvailable()
      mem.addData((500 to 1200).map(i => s"u$i"): _*) // overlap re-keys
      q.processAllAvailable()
      val streamed = spark.table("hll_regs").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val batch = graft.operators.Sketch.hllRegisters(
          (1 to 1200).map(i => Tuple1(s"u$i")).toDF("k"), "k", p = 8)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(streamed == batch)
      assert(streamed.size <= 256)
    } finally q.stop()
  }

  test("foreachBatch incremental dedup routes a stream against a growing corpus") {
    // the PRODUCTION ingest loop: each micro-batch is screened against
    // the corpus-so-far (Dedup.incrementalNearDups with the structural
    // disjointness contract — stream ids are minted above the corpus id
    // space, so checkDisjoint=false skips the eager probe), clean docs
    // append, dups are routed away; a later batch must near-dup against
    // documents ADMITTED by an earlier batch, not just the seed corpus
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = (1 to 39).map(i => s"w$i").mkString(" ") + " CHANGED"
    val novel = (100 to 140).map(i => s"v$i").mkString(" ")
    val novelNear = (100 to 139).map(i => s"v$i").mkString(" ") + " ALTERED"
    val dir = java.nio.file.Files.createTempDirectory("graft_corpus").toString
    Seq((1L, base)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    var routed = Map.empty[Long, Boolean]
    val q = docs.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val corpus = spark.read.parquet(dir)
          val route = graft.operators.Dedup.incrementalNearDups(
              batch, corpus, "doc_id", "text", threshold = 0.5,
              checkDisjoint = false)
            .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
          routed ++= route
          val cleanIds = route.collect { case (id, false) => id }.toSeq
          batch.filter(col("doc_id").isInCollection(cleanIds))
            .write.mode("append").parquet(dir)
        }
      }.start()
    try {
      mem.addData((10L, near), (11L, novel))
      q.processAllAvailable()
      mem.addData((20L, novelNear)) // ≈ doc 11, admitted one batch ago
      q.processAllAvailable()
      assert(routed == Map(10L -> true, 11L -> false, 20L -> true))
      val ids = spark.read.parquet(dir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 11L))
    } finally q.stop()
  }

  test("transformWithState (Spark 4 arbitrary-state API) carries state across batches") {
    // the successor API to flatMapGroupsWithState: typed per-key state
    // handles (ValueState) managed by a StatefulProcessor, requiring
    // the RocksDB state store provider
    val conf = spark.conf
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = conf.getOption(key)
    try {
      conf.set(key, "org.apache.spark.sql.execution.streaming.state" +
        ".RocksDBStateStoreProvider")
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Long, Double)]
      val out = mem.toDS().groupByKey(_._1)
        .transformWithState(new RunningCountProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Update())
      val q = out.toDF("user", "n_events").writeStream
        .outputMode("update").format("memory").queryName("tws_out").start()
      try {
        mem.addData((1L, 1.0), (1L, 2.0), (2L, 1.0))
        q.processAllAvailable()
        mem.addData((1L, 3.0)) // batch 2: user 1 count continues at 3
        q.processAllAvailable()
        val last = spark.table("tws_out").collect()
          .map(r => r.getLong(0) -> r.getLong(1))
          .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).max }
        assert(last == Map(1L -> 3L, 2L -> 1L))
      } finally q.stop()
    } finally saved match {
      case Some(v) => conf.set(key, v)
      case None => conf.unset(key)
    }
  }
}

/** Running event count per key on typed [[ValueState]] — the
  * transformWithState counterpart of the flatMapGroupsWithState
  * tallies above.
  */
class RunningCountProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Double), (Long, Long)] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
  @transient private var count: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    count = getHandle.getValueState[Long]("cnt",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
      timerValues: TimerValues): Iterator[(Long, Long)] = {
    val c = (if (count.exists()) count.get() else 0L) + rows.size
    count.update(c)
    Iterator.single((key, c))
  }
}
