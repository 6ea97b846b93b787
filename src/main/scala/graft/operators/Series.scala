package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series regularization — turning an irregular event stream into
  * the dense, gap-filled grid every downstream window/forecast/feature
  * job assumes: one row per (entity, day) across the observed span,
  * zero-filled counts, and the last active day carried forward.
  */
object Series {

  /** Dense daily activity grid per entity: `(<keyCol>, day, n_events,
    * last_active, days_since)` for EVERY day in the observed global
    * span — missing days appear with `n_events = 0`, `last_active` is
    * the most recent day with activity at or before `day` (null until
    * the entity's first event), and `days_since = day − last_active`.
    *
    * Scale posture: the grid is |entities| × |span days| — the
    * operator's contract, not an accident (the dense form is the point;
    * span is bounded by the data's own time range). The daily counts
    * are one hash aggregation of the events; the grid build is a
    * cross join of the entity list against one exploded date array (a
    * span-sized literal produced from a one-row aggregate); the
    * forward fill is a running `max` window per entity — `max` over a
    * monotone date column equals last-non-null carry-forward, without
    * leaning on cross-engine IGNORE NULLS frames.
    */
  /** First-order Markov transition statistics over per-entity ordered
    * event streams — the "what happens after X" table behind
    * next-event prediction features and behavioral anomaly scores:
    * `(<typeCol>, next_type, n, prob)` where `prob` is the MLE
    * conditional `P(next | current)` (4 decimals, shared rounding
    * kernel). Transitions cross only consecutive events of the SAME
    * entity; each entity's last event emits none.
    *
    * Scale posture: one shuffle+sort on the entity key (the per-entity
    * order is the semantics), a codegen'd `lead` window, then a
    * transition-type aggregation whose cardinality is |types|² — the
    * corpus collapses map-side.
    */
  def transitionMatrix(events: DataFrame, keyCol: String, tsCol: String,
                       typeCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol)
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    val pairs = events
      .withColumn("next_type", lead(col(typeCol), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col(typeCol), col("next_type"))
      .agg(count(lit(1)).as("n"))
    val w2 = Window.partitionBy(typeCol)
    pairs.withColumn("prob",
      graft.functions.Rounding.roundTo(
        col("n").cast("double") / sum(col("n")).over(w2).cast("double"), 4))
  }

  /** Weekly retention cohorts: `(cohort_week, week_offset, n_users,
    * retention)` — users grouped by the week of their first event,
    * tracked by how many return in each subsequent week. Weeks are
    * integer indices from a fixed epoch (`floor(days/7)`) rather than
    * engine `date_trunc('week', …)` so week boundaries can never
    * diverge across engines. `retention` is the 4-decimal share of the
    * cohort active at that offset (offset 0 is 1.0 by construction).
    *
    * Scale posture: the event stream collapses immediately to DISTINCT
    * (user, week) — one aggregation — then everything downstream is
    * user- or cohort-cardinality: a per-user min, a user-keyed join,
    * and a (cohort, offset) aggregation of at most |users| × |span
    * weeks| rows. No window over the corpus, no sort.
    */
  def retentionCohorts(events: DataFrame, userCol: String, tsCol: String,
                       epoch: String = "1990-01-01"): DataFrame = Exec.scope { sc =>
    val week = floor(datediff(to_date(col(tsCol)),
      lit(epoch).cast("date")) / 7).cast("long")
    // referenced by the cohort min AND the final join — without a
    // persist Spark re-executes the corpus scan + distinct shuffle per
    // reference (3 corpus scans at 100 TB instead of 1)
    val userWeeks = sc.cache(events
      .select(col(userCol).as("u"), week.as("week")).distinct())
    val cohorts = userWeeks.groupBy("u")
      .agg(min(col("week")).as("cohort_week"))
    val sizes = cohorts.groupBy("cohort_week")
      .agg(count(lit(1)).as("cohort_size"))
    val result = userWeeks.join(cohorts, "u")
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .join(broadcast(sizes), "cohort_week")
      .select(col("cohort_week"), col("week_offset"), col("n_users"),
        graft.functions.Rounding.roundTo(
          col("n_users").cast("double") / col("cohort_size").cast("double"),
          4).as("retention"))
    sc.keep(result)
  }

  /** Rolling z-score anomaly flags over per-type daily volumes:
    * `(<typeCol>, day, cnt, n_base, base_mean, base_sd, z, is_anomaly)`
    * where the baseline is the trailing `lookback` CALENDAR days
    * EXCLUDING the current day (an anomaly must not suppress itself),
    * `z` is defined once the baseline has ≥ `minBase` days and positive
    * spread, and `is_anomaly = |z| ≥ zThresh`. Days with zero events
    * inside the corpus span are gap-filled to `cnt = 0` and scored like
    * any other day — a type going silent is exactly the anomaly a
    * volume monitor must flag, and the dense grid keeps the ROWS window
    * from reaching across gaps.
    *
    * Cross-engine determinism: the baseline moments come from window
    * sums of integer counts (`Σx`, `Σx²` are exact in double for any
    * summation order), variance is the explicit
    * `n/(n−1)·(E[x²]−E[x]²)` — never a streaming `stddev` whose
    * update order could differ between engines.
    *
    * Scale posture: one hash aggregation corpus → (type, day), then
    * windows run over |types| × |span days| rows only.
    */
  def rollingAnomalies(events: DataFrame, typeCol: String, tsCol: String,
                       lookback: Int = 7, zThresh: Double = 3.0,
                       minBase: Int = 3): DataFrame = {
    require(lookback >= 2 && minBase >= 2,
      "baseline needs at least two days for a sample variance")
    import graft.functions.Rounding.{roundTo => round}
    val observed = events
      .select(col(typeCol).as("t"), to_date(col(tsCol)).as("day"))
      .groupBy("t", "day").agg(count(lit(1)).as("cnt"))
    // dense per-type day grid over the corpus span: a silent day is a
    // DATA POINT (cnt = 0, possibly the anomaly — a type's volume
    // collapsing to zero must be flaggable), and without it the
    // trailing ROWS window would reach arbitrarily far back across
    // gaps, making the "trailing lookback days" baseline a lie. The
    // grid is |types| × span-days rows — tiny next to the corpus scan.
    val span = observed.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val days = span.select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val daily = observed.select(col("t")).distinct()
      .crossJoin(broadcast(days))
      .join(observed, Seq("t", "day"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
    val w = Window.partitionBy("t").orderBy("day")
      .rowsBetween(-lookback, -1)
    val x = col("cnt").cast("double")
    val withMoments = daily
      .withColumn("n_base", count(col("cnt")).over(w))
      .withColumn("sx", sum(x).over(w))
      .withColumn("sxx", sum(x * x).over(w))
    val n = col("n_base").cast("double")
    val mean = col("sx") / n
    val variance = (col("sxx") / n - mean * mean) * n / (n - 1.0)
    val sd = sqrt(greatest(variance, lit(0.0)))
    val z = when(col("n_base") >= minBase && sd > 0.0,
      round((x - mean) / sd, 4))
    withMoments
      .withColumn("base_mean", when(col("n_base") >= 1, round(mean, 4)))
      .withColumn("base_sd",
        when(col("n_base") >= 2, round(sd, 4)))
      .withColumn("z", z)
      .withColumn("is_anomaly",
        coalesce(abs(z) >= zThresh, lit(false)))
      .select(col("t").as(typeCol), col("day"), col("cnt"), col("n_base"),
        col("base_mean"), col("base_sd"), col("z"), col("is_anomaly"))
  }

  /** Day-of-week seasonality profile per event type: `(<typeCol>, dow,
    * n, share, season_idx)` where `dow` is 0=Monday..6 computed as
    * integer days from a fixed Monday epoch mod 7 — NEVER an engine
    * `dayofweek()` (Spark numbers Sunday=1, DuckDB Sunday=0; the
    * epoch-mod form cannot diverge), `share` is the type's within-type
    * day share, and `season_idx = share·7` (1.0 = flat; the read-off
    * for "is Tuesday special"). One hash aggregation over the corpus,
    * then |types|·7 rows.
    */
  def weekdayProfile(events: DataFrame, typeCol: String, tsCol: String,
                     epoch: String = "1990-01-01"): DataFrame = {
    import graft.functions.Rounding.{roundTo => round}
    val dow = pmod(datediff(to_date(col(tsCol)),
      lit(epoch).cast("date")), lit(7))
    val daily = events
      .select(col(typeCol).as("t"), dow.cast("int").as("dow"))
      .groupBy("t", "dow").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("t")
    daily
      .withColumn("share",
        round(col("n").cast("double") / sum(col("n")).over(w), 6))
      .withColumn("season_idx",
        round(col("n").cast("double") * 7.0 / sum(col("n")).over(w), 4))
      .select(col("t").as(typeCol), col("dow"), col("n"), col("share"),
        col("season_idx"))
  }

  /** Top event paths: the `topN` most frequent length-`len` sequences
    * of consecutive event types within an entity's ordered stream —
    * the "what journeys actually happen" mining step one order up from
    * [[transitionMatrix]]'s single-step conditionals. Returns
    * `(path, n)` with `path` as `a>b>c`. Windows at the end of an
    * entity's stream (fewer than `len` events left) emit nothing.
    *
    * One shuffle+sort on the entity key, `len−1` codegen'd `lead`s
    * over the SAME window sort (one pass), then a path-cardinality
    * aggregation that collapses map-side; the top-N plans as
    * TakeOrderedAndProject.
    */
  def topPaths(events: DataFrame, keyCol: String, tsCol: String,
               typeCol: String, tieCol: String, len: Int = 3,
               topN: Int = 20): DataFrame = {
    require(len >= 2, "a path needs at least 2 steps")
    require(topN >= 1, "topN must be >= 1")
    val w = Window.partitionBy(keyCol)
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    val steps = (0 until len).map(i =>
      if (i == 0) col(typeCol) else lead(col(typeCol), i).over(w))
    val withSteps = events.select(
      steps.zipWithIndex.map { case (c, i) => c.as(s"_s$i") }: _*)
    withSteps
      .filter((0 until len).map(i => col(s"_s$i").isNotNull)
        .reduce(_ && _))
      .select(concat_ws(">", (0 until len).map(i => col(s"_s$i")): _*)
        .as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(topN)
  }

  /** CUSUM changepoint detection per series: the day where the
    * cumulative deviation from a constant rate peaks — `argmax_t
    * |n·S_t − t·S_n|` over the gap-filled daily counts (S = prefix
    * sum, n = days). The normalized statistic `D/(n·S_n)` is the
    * classic "did the level shift, and when" readout; silent days
    * count as zero (a traffic cliff IS the changepoint).
    *
    * Scale shape: one corpus aggregation to daily counts, then all
    * windows run over the (series × days) table — state is bounded by
    * the calendar, not the corpus, so per-series partitions are tiny
    * by construction (no two-level prefix needed, unlike value-indexed
    * [[graft.operators.Quality.ksDrift]]).
    *
    * Exactness: counts/prefixes/deviations are pure longs
    * (`n·S_t ≤ days·rows` — overflow above ~9e18 day-rows, far past
    * any real corpus), the argmax ties to the earliest day, and the
    * one double division happens after the argmax.
    *
    * Returns per series: `(event_type, n_days, total, cp_day, cusum)`.
    */
  def cusumChangepoint(events: DataFrame, typeCol: String,
                       tsCol: String): DataFrame = {
    val obs = events
      .select(col(typeCol).as("k"), to_date(col(tsCol)).as("day"))
      .groupBy("k", "day").agg(count(lit(1)).as("cnt"))
    val span = obs.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val days = span.select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val daily = obs.select("k").distinct().crossJoin(broadcast(days))
      .join(obs, Seq("k", "day"), "left")
      .select(col("k"), col("day"), coalesce(col("cnt"), lit(0L)).as("cnt"))
    val ord = Window.partitionBy("k").orderBy("day")
    val cum = daily
      .withColumn("t", row_number().over(ord).cast("long"))
      .withColumn("s", sum("cnt").over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = daily.groupBy("k")
      .agg(count(lit(1)).as("n_days"), sum("cnt").as("total"))
    cum.join(broadcast(tot), "k")
      .withColumn("dev",
        abs(col("n_days") * col("s") - col("t") * col("total")))
      .withColumn("negd",
        -datediff(col("day"), lit("1990-01-01").cast("date")))
      .groupBy(col("k").as("event_type"))
      .agg(max(col("n_days")).as("n_days"), max(col("total")).as("total"),
        max(struct(col("dev"), col("negd"), col("day"))).as("p"))
      .select(col("event_type"), col("n_days"), col("total"),
        col("p.day").as("cp_day"),
        graft.functions.Rounding.roundTo(
          col("p.dev").cast("double") /
            (col("n_days").cast("double") * col("total").cast("double")), 6)
          .as("cusum"))
  }

  /** Rolling Pearson correlation between two series' daily volumes —
    * "do clicks still predict purchases this week": trailing
    * `window`-day moments over the gap-filled aligned day grid, with
    * the correlation emitted only once a full window exists.
    * Zero-variance windows yield NULL (no spurious ±1 from flat
    * series).
    *
    * Scale shape: one corpus aggregation to (day, type) counts; the
    * grid/pivot/window all run on calendar-bounded tables (same
    * argument as [[cusumChangepoint]]). Moments are window sums of
    * exact daily counts in frame order — both engines accumulate the
    * same values in the same order, and the correlation is
    * fixed-shape IEEE arithmetic on them, so 4-decimal rounding is
    * cross-engine-stable (the q114 discipline).
    *
    * Returns `(day, cnt_a, cnt_b, corr)` for full-window days.
    */
  def rollingCorrelation(events: DataFrame, typeCol: String, tsCol: String,
                         typeA: String, typeB: String,
                         window: Int = 7): DataFrame = {
    require(window >= 2, "correlation needs at least a 2-day window")
    val obs = events
      .filter(col(typeCol).isin(typeA, typeB))
      .select(col(typeCol).as("k"), to_date(col(tsCol)).as("day"))
      .groupBy("k", "day").agg(count(lit(1)).as("cnt"))
    val span = obs.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val days = span.select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val grid = days
      .join(obs.filter(col("k") === typeA)
        .select(col("day"), col("cnt").as("ca")), Seq("day"), "left")
      .join(obs.filter(col("k") === typeB)
        .select(col("day"), col("cnt").as("cb")), Seq("day"), "left")
      .select(col("day"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val ord = Window.orderBy("day")
    val w = ord.rowsBetween(-(window - 1), Window.currentRow)
    val (x, y) = (col("ca").cast("double"), col("cb").cast("double"))
    val n = lit(window.toDouble)
    val m = grid
      .withColumn("rn", row_number().over(ord))
      .withColumn("sx", sum(x).over(w)).withColumn("sy", sum(y).over(w))
      .withColumn("sxy", sum(x * y).over(w))
      .withColumn("sxx", sum(x * x).over(w))
      .withColumn("syy", sum(y * y).over(w))
    val da = n * col("sxx") - col("sx") * col("sx")
    val db = n * col("syy") - col("sy") * col("sy")
    m.filter(col("rn") >= window)
      .select(col("day"), col("ca").as("cnt_a"), col("cb").as("cnt_b"),
        when(da > 0.0 && db > 0.0,
          graft.functions.Rounding.roundTo(
            (n * col("sxy") - col("sx") * col("sy")) / sqrt(da * db), 4))
          .as("corr"))
  }

  /** Holt linear-trend forecast per series — [[graft.engine.IterativeTrainer]]'s
    * smoothing idea applied to weekly volumes, with a TREND term so a
    * steadily growing series forecasts growth instead of lagging:
    * `l_t = α·x_t + (1−α)(l_{t−1}+b_{t−1})`,
    * `b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}`, init `l₁ = x₁,
    * b₁ = x₂ − x₁`, forecast `l_n + b_n`.
    *
    * Execution: weekly totals on the gap-filled epoch-week grid (one
    * corpus aggregation), then the recurrence folds INSIDE Catalyst —
    * `aggregate()` over each series' sorted week array (arrays are
    * calendar-bounded) — no driver loop, every series in parallel.
    *
    * Determinism: α and β must be powers of two (exact halving) and
    * the fold shape is fixed IEEE arithmetic on integer-valued counts,
    * so a recursive-CTE oracle replays it bit-for-bit.
    *
    * Returns `(event_type, n_weeks, level, trend, forecast)` (4 dp).
    */
  def holtForecast(events: DataFrame, typeCol: String, tsCol: String,
                   alpha: Double = 0.5, beta: Double = 0.5): DataFrame = {
    def pow2(v: Double) = v > 0 && v <= 1 &&
      (java.lang.Double.doubleToLongBits(v) & ((1L << 52) - 1)) == 0
    require(pow2(alpha) && pow2(beta),
      "alpha/beta must be powers of two for exact cross-engine folds")
    val week = floor(datediff(to_date(col(tsCol)),
      lit("1990-01-01").cast("date")) / 7).cast("long")
    val obs = events.select(col(typeCol).as("k"), week.as("w"))
      .groupBy("k", "w").agg(count(lit(1)).as("cnt"))
    val span = obs.agg(min(col("w")).as("w0"), max(col("w")).as("w1"))
    val grid = obs.select("k").distinct()
      .crossJoin(broadcast(span.select(
        explode(sequence(col("w0"), col("w1"))).as("w"))))
      .join(obs, Seq("k", "w"), "left")
      .select(col("k"), col("w"),
        coalesce(col("cnt"), lit(0L)).cast("double").as("x"))
    val series = grid.groupBy("k")
      .agg(transform(array_sort(collect_list(struct(col("w"), col("x")))),
        s => s.getField("x")).as("xs"))
      .filter(size(col("xs")) >= 2)
    val (a, b) = (lit(alpha), lit(beta))
    val folded = series.select(col("k").as("event_type"),
      size(col("xs")).cast("long").as("n_weeks"),
      aggregate(
        slice(col("xs"), lit(2), greatest(size(col("xs")) - 1, lit(0))),
        struct(element_at(col("xs"), 1).as("l"),
          (element_at(col("xs"), 2) - element_at(col("xs"), 1)).as("b")),
        (acc, x) => {
          val l2 = a * x + (lit(1.0) - a) * (acc.getField("l") + acc.getField("b"))
          struct(l2.as("l"),
            (b * (l2 - acc.getField("l")) +
              (lit(1.0) - b) * acc.getField("b")).as("b"))
        }).as("st"))
    folded.select(col("event_type"), col("n_weeks"),
      graft.functions.Rounding.roundTo(col("st.l"), 4).as("level"),
      graft.functions.Rounding.roundTo(col("st.b"), 4).as("trend"),
      graft.functions.Rounding.roundTo(col("st.l") + col("st.b"), 4)
        .as("forecast"))
  }

  /** Holt-Winters by DECOMPOSITION: additive day-of-week seasonality
    * handled as a closed-form pre-pass (per-dow mean minus overall
    * mean, 6-dp quantized), then [[holtForecast]]'s level+trend fold
    * over the DESEASONALIZED daily series, and the next day's forecast
    * re-seasonalized with its dow index. Decompose-then-forecast
    * avoids carrying a 7-slot seasonal vector through the recurrence —
    * the seasonal fit is one aggregation, the recurrence stays the
    * proven 2-state fold, and a recursive-CTE oracle replays the whole
    * pipeline bit-for-bit (seasonal indices are ratios of exact
    * integer sums quantized identically in both engines; the fold is
    * exact-halving IEEE on identical inputs).
    *
    * Returns `(event_type, n_days, level, trend, s_next, forecast)`
    * with forecast = level + trend + s_next (4 dp).
    */
  def holtWintersDaily(events: DataFrame, typeCol: String, tsCol: String,
                       alpha: Double = 0.5,
                       beta: Double = 0.5): DataFrame = Exec.scope { sc =>
    def pow2(v: Double) = v > 0 && v <= 1 &&
      (java.lang.Double.doubleToLongBits(v) & ((1L << 52) - 1)) == 0
    require(pow2(alpha) && pow2(beta),
      "alpha/beta must be powers of two for exact cross-engine folds")
    val epochDay = datediff(to_date(col(tsCol)),
      lit("1990-01-01").cast("date")).cast("long")
    val obs = events.select(col(typeCol).as("k"), epochDay.as("t"))
      .groupBy("k", "t").agg(count(lit(1)).as("cnt"))
    val span = sc.cache(obs.agg(min(col("t")).as("t0"), max(col("t")).as("t1")))
    val grid = sc.cache(obs.select("k").distinct()
      .crossJoin(broadcast(span.select(
        explode(sequence(col("t0"), col("t1"))).as("t"))))
      .join(obs, Seq("k", "t"), "left")
      .select(col("k"), col("t"), pmod(col("t"), lit(7L)).as("dow"),
        coalesce(col("cnt"), lit(0L)).cast("double").as("x")))
    // additive seasonal index per (series, dow): integer-exact sums,
    // one quantized division — identical doubles in any engine
    val seas = sc.cache(grid.groupBy("k", "dow")
      .agg(sum("x").as("sx"), count(lit(1)).as("nx"))
      .join(grid.groupBy("k").agg(sum("x").as("so"),
        count(lit(1)).as("no")), "k")
      .select(col("k"), col("dow"),
        graft.functions.Rounding.roundTo(
          col("sx") / col("nx") - col("so") / col("no"), 6).as("s")))
    val series = grid.join(seas, Seq("k", "dow"))
      .select(col("k"), col("t"), (col("x") - col("s")).as("x"))
      .groupBy("k")
      .agg(transform(array_sort(collect_list(struct(col("t"), col("x")))),
        s => s.getField("x")).as("xs"))
      .filter(size(col("xs")) >= 2)
    val (a, b) = (lit(alpha), lit(beta))
    val folded = series.select(col("k"),
      size(col("xs")).cast("long").as("n_days"),
      aggregate(
        slice(col("xs"), lit(2), greatest(size(col("xs")) - 1, lit(0))),
        struct(element_at(col("xs"), 1).as("l"),
          (element_at(col("xs"), 2) - element_at(col("xs"), 1)).as("b")),
        (acc, x) => {
          val l2 = a * x +
            (lit(1.0) - a) * (acc.getField("l") + acc.getField("b"))
          struct(l2.as("l"),
            (b * (l2 - acc.getField("l")) +
              (lit(1.0) - b) * acc.getField("b")).as("b"))
        }).as("st"))
    val out = folded
      .crossJoin(broadcast(span.select(
        pmod(col("t1") + 1, lit(7L)).as("dow"))))
      .join(seas.withColumnRenamed("s", "s_next"), Seq("k", "dow"))
      .select(col("k").as("event_type"), col("n_days"),
        graft.functions.Rounding.roundTo(col("st.l"), 4).as("level"),
        graft.functions.Rounding.roundTo(col("st.b"), 4).as("trend"),
        col("s_next"),
        graft.functions.Rounding.roundTo(
          col("st.l") + col("st.b") + col("s_next"), 4).as("forecast"))
    sc.keep(out)
  }

  def dailyGapFill(events: DataFrame, keyCol: String,
                   tsCol: String): DataFrame = {
    val daily = events
      .select(col(keyCol).as("k"), to_date(col(tsCol)).as("day"))
      .groupBy("k", "day").agg(count(lit(1)).as("cnt"))
    val span = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val days = span.select(
      explode(sequence(col("d0"), col("d1"))).as("day"))
    val grid = daily.select(col("k")).distinct().crossJoin(days)
    val w = Window.partitionBy("k").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("k", "day"), "left")
      .withColumn("n_events", coalesce(col("cnt"), lit(0L)))
      .withColumn("last_active",
        max(when(col("cnt").isNotNull, col("day"))).over(w))
      .select(col("k").as(keyCol), col("day"), col("n_events"),
        col("last_active"),
        datediff(col("day"), col("last_active")).as("days_since"))
  }
}
