package graft

import java.sql.Timestamp

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}

/** Hand-computable fixtures for the round-8 lifecycle operators: each
  * test stages a tiny parquet table and runs the REAL registered query
  * against it, asserting exact values (the DuckDB gate covers the
  * corpus path; these pin the estimator semantics).
  */
class LifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def staged(name: String)(tables: (String, DataFrame)*): String = {
    val dir = java.nio.file.Files
      .createTempDirectory(s"graft_lifecycle_$name").toString
    tables.foreach { case (t, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  private def day(n: Int): Timestamp =
    Timestamp.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(n)
      .atStartOfDay())

  test("q205 Kaplan-Meier: risk sets and survival on a 4-user cohort") {
    // c1 dies at t=1, c2 dies at t=2, c3 censored at t=2 (last order
    // 50 days before corpus end < 90), c4 censored at t=500 (defines
    // the corpus end). KM: t=1 -> n=4,d=1,S=.75; t=2 -> n=3,d=1,S=.5
    val orders = Seq(
      (1L, day(0)), (1L, day(1)),
      (2L, day(0)), (2L, day(2)),
      (3L, day(448)), (3L, day(450)),
      (4L, day(0)), (4L, day(500))
    ).toDF("o_custkey", "o_orderdate")
    val dir = staged("km")("orders" -> orders)
    val rows = SparkEntry.queries("q205_kaplan_meier")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(rows.toSeq == Seq((1L, 4L, 1L, 0.75), (2L, 3L, 1L, 0.5)))
  }

  test("q205 Kaplan-Meier: a fully-churned risk set drives survival " +
      "to exactly 0, not NULL") {
    // At the last event time every at-risk customer churns: factor
    // = 1 - d/n = 0. Spark `log(0)` is NULL (DuckDB ln(0) = -inf),
    // so without the min(factor)=0 guard the survival column would
    // emit NULL and silently diverge from the oracle. Cohort: c4
    // (t=3, died) establishes an earlier factor row; c3 (t=5, last
    // order at corpus end -> censored) defines endday; c1, c2
    // (t=10, died) exhaust the final risk set together.
    // t=3: n_risk=4 (all lifetimes >= 3), d=1 -> S=0.75
    // t=10: n_risk=2 (c1, c2), d=2 -> factor 0 -> S = exactly 0.0
    val orders = Seq(
      (1L, day(0)), (1L, day(10)),
      (2L, day(0)), (2L, day(10)),
      (3L, day(195)), (3L, day(200)),
      (4L, day(0)), (4L, day(3))
    ).toDF("o_custkey", "o_orderdate")
    val dir = staged("km0")("orders" -> orders)
    val rows = SparkEntry.queries("q205_kaplan_meier")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))
    assert(rows.toSeq == Seq((3L, 4L, 1L, 0.75), (10L, 2L, 2L, 0.0)),
      rows.toSeq.toString)
  }

  test("q206 association rules: confidence and lift on a 4-basket set") {
    // {10,20} x3 plus {10} alone: s10=4, s20=3, N=4, pair support 3.
    // 10->20: conf 3/4, lift 3*4/(4*3)=1; 20->10: conf 1, lift 1.
    val li = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L),
      (3L, 10L), (3L, 20L), (4L, 10L))
      .toDF("l_orderkey", "l_partkey")
    val dir = staged("rules")("lineitem" -> li)
    val rows = SparkEntry.queries("q206_assoc_rules")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(rows.toSeq == Seq((10L, 20L, 3L, 0.75, 1.0),
      (20L, 10L, 3L, 1.0, 1.0)))
  }

  test("q207 k-core: K6,6 survives the peel, a pendant order does not") {
    // complete bipartite 6 orders x 6 parts (every degree exactly 6)
    // plus order 7 holding only part 1: order 7 peels in round 1 and
    // part 1's degree falls back to 6 - the 6-core is stable after.
    val k66 = for (o <- 1 to 6; p <- 1 to 6) yield (o.toLong, p.toLong)
    val li = (k66 :+ (7L, 1L)).toDF("l_orderkey", "l_partkey")
    val dir = staged("kcore")("lineitem" -> li)
    val rows = SparkEntry.queries("q207_kcore")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 6)
    assert(rows.head == ((1, 12L, 36L)))
    assert(rows.last == ((6, 12L, 36L)))
  }

  // A 6-core (K6,6 on orders 1-6 x parts 1-6) plus a peel that
  // cascades over rounds 1-4: order 10 (degree 1) peels in round 1,
  // which drops part 20 (orders 10, 12, 1-4) to 5; part 20 peels in
  // round 2, order 12 (parts 20, 22, 1-4) in round 3 and part 22
  // (orders 12, 1-5) in round 4. Order 13 and part 23 (degree 5 each)
  // are adjacent and peel together in round 1, as do order 11 and part
  // 21. Part 30 survives round 1 with degree 6, but all six of its
  // orders (31-36, degree 1) peel in that round, so it has no edge
  // left and leaves n_nodes. The core's degrees stay >= 6 throughout.
  private lazy val cascadeDir = {
    val core = for (o <- 1L to 6L; p <- 1L to 6L) yield (o, p)
    val cascade = Seq((10L, 20L), (11L, 21L), (12L, 20L), (12L, 22L), (13L, 23L)) ++
      (1L to 4L).flatMap(i => Seq((i, 20L), (12L, i), (13L, i), (i, 23L))) ++
      (1L to 5L).map(o => (o, 22L)) ++ (31L to 36L).map(o => (o, 30L))
    staged("kcore_cascade")("lineitem" -> (core ++ cascade).toDF("l_orderkey", "l_partkey"))
  }

  test("q207 k-core: a 4-round cascade, a same-round adjacent pair and an emptied survivor") {
    val rows = SparkEntry.queries("q207_kcore")(spark, cascadeDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    // round 1: 15 nodes (core + part 20, order 12, part 22), degrees
    // sum to 102; each later round peels one node with 5 live edges
    assert(rows.toSeq == Seq((1, 15L, 51L), (2, 14L, 46L), (3, 13L, 41L),
      (4, 12L, 36L), (5, 12L, 36L), (6, 12L, 36L)), rows.toSeq.toString)
  }

  /** Spark jobs started while `body` runs. */
  private def jobsStarted(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftSqlBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      body
      GraftSqlBridge.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  test("q207 k-core: one run starts at most 6 Spark jobs") {
    val dir = cascadeDir // staged (parquet-writing jobs) before counting
    val jobs = jobsStarted(SparkEntry.queries("q207_kcore")(spark, dir).collect())
    assert(jobs <= 6, s"q207 started $jobs jobs")
  }

  // the chunk width rides with the staged replay, so a warm run starts
  // no events min/max scan: only the stream's and the rollup's jobs
  test("q226 dedup replay: a warm run starts at most 11 Spark jobs") {
    val q226 = SparkEntry.queries("q226_streaming_dedup")
    val dir = "/root/testdata/sf0.001"
    val cold = q226(spark, dir).collect() // stages the chunk store
    val jobs = jobsStarted(assert(q226(spark, dir).collect() === cold))
    assert(jobs <= 11, s"warm q226 started $jobs jobs")
  }

  test("q207 k-core: a NULL key counts toward round 1's degree only, as in SQL") {
    // order 7 holds parts 1-5 of a K6,6 plus a line with a NULL part:
    // degree 6 in round 1 (the SQL degree count sees the NULL edge,
    // its joins then drop it), so it survives round 1 with 5 edges and
    // peels in round 2; a NULL order on part 1 changes nothing
    val k66 = for (o <- 1L to 6L; p <- 1L to 6L) yield (Option(o), Option(p))
    val extra = (1L to 5L).map(p => (Option(7L), Option(p))) ++
      Seq((Option(7L), None), (None, Option(1L)))
    val dir = staged("kcore_null")("lineitem" -> (k66 ++ extra).toDF("l_orderkey", "l_partkey"))
    val rows = SparkEntry.queries("q207_kcore")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == (1, 13L, 41L) +: (2 to 6).map(r => (r, 12L, 36L)), rows.toSeq.toString)
  }

  test("q208 DSIR weights: target-exclusive tokens score positive") {
    // ca: alpha 2, beta 2; ct: alpha 2; Ta=4, Tt=2, V=2.
    // lw(alpha)=ln(3/4)-ln(3/6)=ln 1.5; lw(beta)=ln(1/4)-ln(3/6)=ln .5
    val docs = Seq((1L, "alpha alpha", "en"), (2L, "beta beta", "zh"))
      .toDF("doc_id", "text", "lang")
    val dir = staged("dsir")("documents" -> docs)
    val rows = SparkEntry.queries("q208_dsir_weights")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.toSeq == Seq((1L, 2L, 0.4055), (2L, 2L, -0.6931)))
  }

  test("q209 diff-in-diff: hand 2x2 with known effect and SE") {
    // treat (even uid) pre 1.00/1.02 post 3.00/3.02; ctrl pre same,
    // post 2.00/2.02 -> did 100 cents; each cell var 2 cents^2,
    // se = sqrt(4 * 2/2) = 2, t = 50
    val ev = Seq(
      ("x", 2L, day(0), 1.00), ("x", 2L, day(1), 1.02),
      ("x", 2L, day(9), 3.00), ("x", 2L, day(10), 3.02),
      ("x", 3L, day(0), 1.00), ("x", 3L, day(1), 1.02),
      ("x", 3L, day(9), 2.00), ("x", 3L, day(10), 2.02)
    ).toDF("event_type", "user_id", "ts", "value")
    val dir = staged("did")("events" -> ev)
    val r = SparkEntry.queries("q209_diff_in_diff")(spark, dir)
      .collect().head
    assert(r.getAs[Double]("m_treat_pre") == 101.0)
    assert(r.getAs[Double]("m_treat_post") == 301.0)
    assert(r.getAs[Double]("m_ctrl_post") == 201.0)
    assert(r.getAs[Double]("did") == 100.0)
    assert(r.getAs[Double]("se") == 2.0)
    assert(r.getAs[Double]("t_stat") == 50.0)
  }

  test("q212 perplexity filter: smoothing, terciles, and bucket split") {
    // train slice = doc 0 ("a a a"): bc{a a:2}, pc{a:2}, V-1=1 prefix.
    // score: "a a" -> ln(3/4) -> h=0.2877 (docs 0,1); unseen "b b" ->
    // ln(1/2) -> h=0.6931 (doc 2). n=3: t1=t2=0.2877 -> docs 0,1 head,
    // doc 2 tail.
    val docs = Seq((0L, "a a a", "en"), (1L, "a a", "en"),
      (2L, "b b", "zh")).toDF("doc_id", "text", "lang")
    val dir = staged("ppl")("documents" -> docs)
    val rows = SparkEntry.queries("q212_perplexity_filter")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(rows.toSeq == Seq(
      ("1_head", "en", 2L, 3L, 5754L, 0.2877),
      ("3_tail", "zh", 1L, 1L, 6931L, 0.6931)), rows.toSeq.toString)
  }

  test("q213 split leakage: identical twins classified by hash split") {
    // two identical-twin pairs (jaccard 1.0); expected classes derived
    // from the SAME token60 split kernel the query uses, so the test
    // pins the classification/leak-count logic, not the hash values
    import org.apache.spark.sql.functions._
    val texts = Map(
      1L -> "alpha beta gamma delta", 2L -> "alpha beta gamma delta",
      3L -> "zeta eta theta iota", 4L -> "zeta eta theta iota")
    val docs = texts.toSeq.map { case (id, t) => (id, t, "en") }
      .toDF("doc_id", "text", "lang")
    val dir = staged("leak")("documents" -> docs)
    val split = spark.createDataset(texts.keys.toSeq).toDF("doc_id")
      .select(col("doc_id"), pmod(functions.TextFunctions.token60(
        concat(lit("split|"), col("doc_id").cast("string"))), lit(100L))
        .as("b"))
      .collect().map(r => r.getLong(0) ->
        (if (r.getLong(1) < 80) 0 else if (r.getLong(1) < 90) 1 else 2))
      .toMap
    val names = Map(0 -> "train", 1 -> "val", 2 -> "test")
    def cls(a: Long, b: Long): String = {
      val (ra, rb) = (split(a), split(b))
      names(math.min(ra, rb)) + "->" + names(math.max(ra, rb))
    }
    val expected = Seq(cls(1L, 2L), cls(3L, 4L))
      .groupBy(identity).map { case (k, v) =>
        val leaked = Seq((1L, 2L), (3L, 4L)).filter(p =>
          cls(p._1, p._2) == k && split(p._1) != split(p._2)).size
        (k, v.size.toLong, leaked.toLong, 1.0)
      }.toSeq.sortBy(_._1)
    val rows = SparkEntry.queries("q213_split_leakage")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(rows == expected, s"rows=$rows expected=$expected")
  }

  test("q210 l-diversity: uniform sensitive value flags the group") {
    // one segment where every balance lands in bracket 1 (div=1 < 3),
    // one segment spread over 3 brackets (div=3, not flagged)
    val cust = Seq(
      (1L, 1, 1100.0, "AAA"), (2L, 1, 1200.0, "AAA"), (3L, 1, 1300.0, "AAA"),
      (4L, 1, 1100.0, "BBB"), (5L, 1, 2200.0, "BBB"), (6L, 1, 3300.0, "BBB")
    ).toDF("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")
    val dir = staged("ldiv")("customer" -> cust)
    val rows = SparkEntry.queries("q210_l_diversity")(spark, dir)
      .collect()
    val r1 = rows.find(_.getString(0) == "1_segment").get
    assert(r1.getAs[Long]("n_groups") == 2L)
    assert(r1.getAs[Long]("n_low_div") == 1L)
    assert(r1.getAs[Long]("n_rows_exposed") == 3L)
    assert(r1.getAs[Long]("min_diversity") == 1L)
  }

  test("q265 t-closeness: skewed classes flag, global-matching class clears") {
    // brackets via floor(acctbal/1000). Global: b1=12, b2=4 (N=16, m=2,
    // cumQ = 12,16). Hand-computed scaled EMD (es = Σ|N·cumP − n_c·cumQ|):
    //   AAA 4×b1          -> cumP 4,4 -> es |64−48|+0 = 16 -> emd 0.25 viol
    //   BBB 2×b1,2×b2     -> cumP 2,4 -> es |32−48|+0 = 16 -> emd 0.25 viol
    //   CCC 6×b1,2×b2 (the 3:1 global ratio) -> cumP 6,8 -> es 0 -> clears
    val cust = (
      (1 to 4).map(i => (i.toLong, 1, 1100.0 + i, "AAA")) ++
      Seq((5L, 1, 1100.0, "BBB"), (6L, 1, 1200.0, "BBB"),
        (7L, 1, 2100.0, "BBB"), (8L, 1, 2200.0, "BBB")) ++
      (9 to 14).map(i => (i.toLong, 1, 1300.0, "CCC")) ++
      Seq((15L, 1, 2300.0, "CCC"), (16L, 1, 2400.0, "CCC"))
    ).toDF("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")
    val dir = staged("tclose")("customer" -> cust)
    val r1 = SparkEntry.queries("q265_t_closeness")(spark, dir)
      .collect().find(_.getString(0) == "1_segment").get
    assert(r1.getAs[Long]("n_classes") == 3L)
    assert(r1.getAs[Long]("n_violating") == 2L)
    assert(r1.getAs[Long]("n_rows_exposed") == 8L)
    assert(r1.getAs[Double]("max_emd") == 0.25)
  }

  test("q266 log-rank: hypergeometric O/E/V on a hand-built cohort") {
    // 8 customers, first order day 0, last order day t; endday = 200 so
    // t <= 110 churns (200 - t >= 90), t >= 120 is censored. Event days
    // 10 (d=2), 30, 50. Expected stats recomputed DIRECTLY (per-event
    // loop over the formula), independent of the engine's grid/windows.
    val ts = Seq(10L, 10L, 30L, 50L, 120L, 150L, 180L, 200L)
    val base = java.time.LocalDate.parse("1990-01-01")
    val orders = ts.zipWithIndex.flatMap { case (t, i) =>
      Seq(((i + 1).toLong, base.toString),
        ((i + 1).toLong, base.plusDays(t).toString))
    }.toDF("o_custkey", "o_orderdate")
    val dir = staged("logrank")("orders" -> orders)
    val arm = spark.range(1, 9).select(
      org.apache.spark.sql.functions.col("id"),
      graft.operators.Sampling.hashBucket(
        org.apache.spark.sql.functions.col("id"), "km", 2).as("a"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val life = (1 to 8).map(i => (i.toLong, ts(i - 1), ts(i - 1) <= 110L))
    var (o1, dTot, e1u, vu) = (0L, 0L, 0L, 0L)
    for (t <- life.filter(_._3).map(_._2).distinct.sorted) {
      val risk = life.filter(_._2 >= t)
      val (n, n1) = (risk.size.toLong,
        risk.count(x => arm(x._1) == 0L).toLong)
      val dying = life.filter(x => x._2 == t && x._3)
      val (dt, d1) = (dying.size.toLong,
        dying.count(x => arm(x._1) == 0L).toLong)
      o1 += d1; dTot += dt
      val r = n1.toDouble / n.toDouble
      e1u += math.floor(dt.toDouble * r * 1e9 + 0.5).toLong
      if (n > 1L)
        vu += math.floor(dt.toDouble * r * (1.0 - r) *
          (n - dt).toDouble / (n - 1L).toDouble * 1e9 + 0.5).toLong
    }
    def q6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val (e1, v) = (e1u.toDouble / 1e9, vu.toDouble / 1e9)
    val row = SparkEntry.queries("q266_logrank")(spark, dir).head()
    assert(row.getAs[Long]("n_times") == 3L)
    assert(row.getAs[Long]("o1") == o1)
    assert(row.getAs[Long]("o2") == dTot - o1)
    assert(row.getAs[Double]("e1") == q6(e1))
    assert(row.getAs[Double]("e2") == q6(dTot.toDouble - e1))
    val dev = o1.toDouble - e1
    assert(row.getAs[Double]("chi2") == q6(dev * dev / v))
    assert(row.getAs[Double]("z") == q6(dev / math.sqrt(v)))
  }

  test("q277 checkpoint recovery: totals span the query restart") {
    // user 7 has one event in the pre-stop half and one 30 days later
    // in the post-restart half: n_events = 2 requires the aggregation
    // state to survive the restart (a reset would leave max(struct)
    // at the larger of two partial counts, both 1)
    val ev = Seq(
      (1L, day(0), 7L, "purchase", 1.0, "{}"),
      (2L, day(30), 7L, "click", 2.5, "{}"),
      (3L, day(0), 8L, "purchase", 4.0, "{}")
    ).map { case (id, ts, u, t, v, p) =>
      (id, java.sql.Timestamp.from(ts.toInstant), u, t, v, p)
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = staged("rec")("events" -> ev)
    val rows = SparkEntry.queries("q277_checkpoint_recovery")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq((7L, 2L, 3500000L), (8L, 1L, 4000000L)),
      rows.toSeq.toString)
  }

  test("q226 streaming dedup: cross-batch duplicates are suppressed") {
    // two events 7 days apart -> two chunk files -> two micro-batches;
    // the injected re-send of event 3 (id % 3 == 0) lands in the LATER
    // batch, so suppression must come from cross-batch state
    val ev = Seq(
      (3L, day(0).toInstant.toEpochMilli, 1L, "view", 1.0, "{}"),
      (4L, day(7).toInstant.toEpochMilli, 1L, "click", 1.0, "{}")
    ).map { case (id, ms, u, t, v, p) =>
      (id, new java.sql.Timestamp(ms), u, t, v, p)
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = staged("sdd")("events" -> ev)
    val rows = SparkEntry.queries("q226_streaming_dedup")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    // event 3 was re-sent in chunk 1 alongside event 4; if state-based
    // suppression failed, 'view' would count 2
    assert(rows == Seq(("click", 1L, 1L), ("view", 1L, 1L)))
  }

  test("q231 transformWithState: running totals accumulate across " +
      "micro-batches") {
    // one user active in two 7-day-separated chunks: the final tally
    // (2 events, 3.5 spend-units total) only exists if ValueState
    // survived the batch boundary
    val ev = Seq(
      (1L, day(0), 7L, "view", 1.25, "{}"),
      (2L, day(7), 7L, "click", 2.25, "{}"),
      (3L, day(0), 8L, "view", 4.0, "{}")
    ).map { case (id, ts, u, t, v, p) =>
      (id, java.sql.Timestamp.from(ts.toInstant), u, t, v, p)
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = staged("tws")("events" -> ev)
    val rows = SparkEntry.queries("q231_streaming_tws")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(rows == Seq((7L, 2L, 3500000L), (8L, 1L, 4000000L)))
  }
}
