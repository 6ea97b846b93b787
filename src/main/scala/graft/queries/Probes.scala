package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Exec
// cross-engine deterministic rounding shadows functions.round
import graft.functions.Rounding.{roundTo => round}

import graft.Tables

/** Round-12 probe surface: the distribution-shape and regime-change
  * questions the existing location tests (q120/q247/q316) don't ask —
  * scale shift (Mood), whole-distribution divergence (Cramér–von
  * Mises), change-point location (Pettitt), partial autocorrelation
  * (Durbin–Levinson), predictive causality (Granger), structural
  * break (Chow) — plus the reliability coefficients (Cronbach's α,
  * ICC(1), Cochran's Q, Kendall's W) and two pipeline closers
  * (pigeonhole-banded fuzzy decontamination, canonical-representative
  * dedup).
  *
  * Oracle discipline matches [[Studies]]: exact integer sufficient
  * statistics (micro-unit value quantization, cent-unit money, 2×
  * rank grids so average ranks stay integral; wide products in
  * DECIMAL(38,0) intermediates — never in output schemas, the
  * round-11 q303/q341 driver-hash lesson), FP only in fixed-shape
  * closers mirrored expression-for-expression (left-associative, the
  * q326 contract), divisors floored INSIDE the division (ANSI + CSE
  * hazard), every oracle aggregate CAST, and every rounded output
  * normalized `+ 0.0` on both sides (signed-zero flake class).
  * Scale posture: each operator collapses the corpus in one scan to a
  * bounded frame — distinct quantized values per group, the calendar
  * day grid, (lang × source) cells — before any window runs; windows
  * are either PARTITIONed by group or run on calendar-bounded tables.
  */
object Probes {
  /** Floor a divisor away from zero INSIDE the division; mirrored as
    * `greatest(x, 1e-12)` on the oracle side. */
  private def safe(c: Column): Column = greatest(c, lit(1e-12))

  private val dec = "decimal(38,0)"

  /** events.value on the signed 1e-6-unit LONG grid (the q247
    * quantization) with the SAME hash-arm assignment as q120/q247, so
    * the scale/shape readouts here are about the identical experiment.
    */
  private def armedUnits(s: SparkSession, d: String): DataFrame = {
    val x = col("value").cast("double")
    val units = (floor(abs(x) * lit(1e6) + lit(0.5))).cast("long") *
      when(x < 0, -1L).otherwise(1L)
    val arm = graft.operators.Sampling.hashBucket(col("user_id"), "ab", 2)
    Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(col("event_type").as("g"), units.as("u"), (arm === 0).as("y"))
  }

  private val armedUnitsSql =
    """SELECT event_type AS g,
         CAST(floor(abs(value::DOUBLE) * 1e6 + 0.5) AS BIGINT)
           * (CASE WHEN value::DOUBLE < 0 THEN -1 ELSE 1 END) AS u,
         (('0x' || substr(md5('ab' || user_id::VARCHAR), 1, 15))::BIGINT
           % 2 = 0) AS y
       FROM events WHERE value IS NOT NULL"""

  /** Zero-filled calendar day grid over orders: per-day exact
    * cent-unit revenue (per-ORDER quantization before the sum, so the
    * total is reduction-order independent) and order count. Bounded by
    * the calendar (~2.4k rows at every SF) — the q337 shape. */
  private def dayGrid(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .select(to_date(col("o_orderdate")).as("dt"),
        (floor(col("o_totalprice").cast("double") * lit(100.0) + lit(0.5)))
          .cast("long").as("cents"))
      .groupBy("dt")
      .agg(sum("cents").as("rev"), count(lit(1)).as("cnt"))
    val span = daily.agg(min("dt").as("d0"), max("dt").as("d1"))
    span.select(col("d0"),
        explode(sequence(col("d0"), col("d1"))).as("dt"))
      .join(daily, Seq("dt"), "left")
      .select(col("dt"),
        datediff(col("dt"), col("d0")).cast("long").as("t"),
        coalesce(col("rev"), lit(0L)).as("rev"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
  }

  private val dayGridSql =
    """WITH pday AS (SELECT o_orderdate::DATE AS dt,
           CAST(floor(o_totalprice::DOUBLE * 100.0 + 0.5) AS BIGINT)
             AS cents
         FROM orders),
       daily AS (SELECT dt, CAST(sum(cents) AS BIGINT) AS rev,
           CAST(count(*) AS BIGINT) AS cnt
         FROM pday GROUP BY dt),
       span AS (SELECT min(dt) AS d0, max(dt) AS d1 FROM daily),
       grid AS (SELECT CAST(unnest(generate_series(d0, d1,
                  INTERVAL 1 DAY)) AS DATE) AS dt, d0 FROM span),
       days AS (SELECT g.dt,
           CAST(datediff('day', g.d0, g.dt) AS BIGINT) AS t,
           coalesce(daily.rev, 0) AS rev, coalesce(daily.cnt, 0) AS cnt
         FROM grid g LEFT JOIN daily ON g.dt = daily.dt)"""

  // --------------------------------------------------------------- q352
  /** Mood's squared-rank scale test per event type — did the treatment
    * change the SPREAD of the value distribution, invisible to q247's
    * location-only Mann–Whitney on the same hash arms? Midrank scores
    * stay exact on the 2× integer grid: dev2 = 2·below + t + 1 − (N+1)
    * is the integer 2×(avg rank − (N+1)/2), so 4·score = dev2². The
    * linear-rank-statistic moments (E = n_a·S̄, Var = n_a·n_b/(N(N−1))
    * ·Σ(s−s̄)²) form from exact DECIMAL sums of dev2²/dev2⁴ over the
    * per-group distinct-value table (windows PARTITIONed by group).
    * dev2⁴ bounds the intermediate grid: (2N)⁴·N ≤ 10³⁸ holds through
    * N ≈ 3·10⁷ rows per event type (~30× the sf100 group size);
    * beyond that the test should run on a deterministic hash-sample.
    */
  private def q352(s: SparkSession, d: String): DataFrame = {
    val c = armedUnits(s, d).groupBy("g", "u")
      .agg(sum(when(col("y"), 1L).otherwise(0L)).as("a"),
        sum(when(col("y"), 0L).otherwise(1L)).as("b"))
      .withColumn("t", col("a") + col("b"))
    val wB = Window.partitionBy("g").orderBy("u")
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = c.groupBy("g").agg(sum("a").as("na"), sum("b").as("nb"),
      sum("t").as("nn"))
    val scored = c
      .withColumn("below", coalesce(sum("t").over(wB), lit(0L)))
      .join(broadcast(tot), Seq("g"))
      .withColumn("dev2",
        lit(2L) * col("below") + col("t") + lit(1L) - (col("nn") + lit(1L)))
    val agg = scored.groupBy("g", "na", "nb", "nn").agg(
      sum(col("a").cast(dec) * col("dev2").cast(dec) * col("dev2").cast(dec))
        .as("t4"),
      sum(col("t").cast(dec) * col("dev2").cast(dec) * col("dev2").cast(dec))
        .as("s4"),
      sum(col("t").cast(dec) * col("dev2").cast(dec) * col("dev2").cast(dec) *
        col("dev2").cast(dec) * col("dev2").cast(dec)).as("ss16"))
    val nD = col("nn").cast("double")
    val mean = col("na").cast("double") * col("s4").cast("double") / safe(nD)
    val vr = col("na").cast("double") * col("nb").cast("double") *
      (nD * col("ss16").cast("double") -
        col("s4").cast("double") * col("s4").cast("double")) /
      safe(nD * nD * (nD - lit(1.0)))
    agg.select(col("g").as("event_type"),
        col("na").as("n_a"), col("nb").as("n_b"),
        when(col("na") > 0 && col("nb") > 0 && col("nn") > 1,
          round((col("t4").cast("double") - mean) /
            sqrt(safe(vr)), 4)).as("z"))
      .orderBy("event_type")
  }

  private val q352Sql =
    s"""WITH b AS ($armedUnitsSql),
       c AS (SELECT g, u,
               CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS a,
               CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS bb
             FROM b GROUP BY g, u),
       w AS (SELECT g, u, a, bb, a + bb AS t,
               coalesce(sum(a + bb) OVER (PARTITION BY g ORDER BY u
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS below
             FROM c),
       tot AS (SELECT g, CAST(sum(a) AS BIGINT) AS na,
               CAST(sum(bb) AS BIGINT) AS nb,
               CAST(sum(t) AS BIGINT) AS nn
             FROM w GROUP BY g),
       sc AS (SELECT w.g, a, t,
               2 * below + t + 1 - (nn + 1) AS dev2, na, nb, nn
             FROM w JOIN tot ON tot.g = w.g),
       agg AS (SELECT g, na, nb, nn,
               sum(a::HUGEINT * dev2::HUGEINT * dev2::HUGEINT) AS t4,
               sum(t::HUGEINT * dev2::HUGEINT * dev2::HUGEINT) AS s4,
               sum(t::HUGEINT * dev2::HUGEINT * dev2::HUGEINT
                 * dev2::HUGEINT * dev2::HUGEINT) AS ss16
             FROM sc GROUP BY g, na, nb, nn)
       SELECT g AS event_type, na AS n_a, nb AS n_b,
         CASE WHEN na > 0 AND nb > 0 AND nn > 1 THEN
           round((t4::DOUBLE - na::DOUBLE * s4::DOUBLE
               / greatest(nn::DOUBLE, 1e-12)) /
             sqrt(greatest(na::DOUBLE * nb::DOUBLE
               * (nn::DOUBLE * ss16::DOUBLE - s4::DOUBLE * s4::DOUBLE)
               / greatest(nn::DOUBLE * nn::DOUBLE * (nn::DOUBLE - 1.0),
                 1e-12), 1e-12)), 4) + 0.0
         END AS z
       FROM agg ORDER BY event_type"""

  // --------------------------------------------------------------- q353
  /** Two-sample Cramér–von Mises per event type — the WHOLE-CDF
    * divergence the single-point KS readout (q158) and the location/
    * scale pair (q247/q352) each miss. On the grouped distinct-value
    * table the tie-aware statistic is T = Σ_k t_k·d_k² / (n·m·N²)
    * with d_k = m·cumA_k − n·cumB_k — an exact integer per distinct
    * value (inclusive cumulatives from PARTITIONed windows), squared
    * in DECIMAL, one FP division at the close. E[T] = (N+1)/(6N)
    * alongside, so the readout is directly interpretable as observed
    * vs null-expected.
    */
  private def q353(s: SparkSession, d: String): DataFrame = {
    val c = armedUnits(s, d).groupBy("g", "u")
      .agg(sum(when(col("y"), 1L).otherwise(0L)).as("a"),
        sum(when(col("y"), 0L).otherwise(1L)).as("b"))
      .withColumn("t", col("a") + col("b"))
    val wC = Window.partitionBy("g").orderBy("u")
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = c.groupBy("g").agg(sum("a").as("na"), sum("b").as("nb"),
      sum("t").as("nn"))
    val scored = c
      .withColumn("cuma", sum("a").over(wC))
      .withColumn("cumb", sum("b").over(wC))
      .join(broadcast(tot), Seq("g"))
      .withColumn("dk",
        col("nb") * col("cuma") - col("na") * col("cumb"))
    val agg = scored.groupBy("g", "na", "nb", "nn")
      .agg(sum(col("t").cast(dec) * col("dk").cast(dec) *
        col("dk").cast(dec)).as("sd2"))
    val nD = col("nn").cast("double")
    agg.select(col("g").as("event_type"),
        col("na").as("n_a"), col("nb").as("n_b"),
        when(col("na") > 0 && col("nb") > 0,
          round(col("sd2").cast("double") /
            safe(col("na").cast("double") * col("nb").cast("double") *
              nD * nD), 6)).as("t_stat"),
        round((nD + lit(1.0)) / safe(lit(6.0) * nD), 6).as("t_null"))
      .orderBy("event_type")
  }

  private val q353Sql =
    s"""WITH b AS ($armedUnitsSql),
       c AS (SELECT g, u,
               CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS a,
               CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS bb
             FROM b GROUP BY g, u),
       w AS (SELECT g, u, a, bb, a + bb AS t,
               sum(a) OVER (PARTITION BY g ORDER BY u
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cuma,
               sum(bb) OVER (PARTITION BY g ORDER BY u
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cumb
             FROM c),
       tot AS (SELECT g, CAST(sum(a) AS BIGINT) AS na,
               CAST(sum(bb) AS BIGINT) AS nb,
               CAST(sum(t) AS BIGINT) AS nn
             FROM w GROUP BY g),
       sc AS (SELECT w.g, t, nb * cuma - na * cumb AS dk, na, nb, nn
             FROM w JOIN tot ON tot.g = w.g),
       agg AS (SELECT g, na, nb, nn,
               sum(t::HUGEINT * dk::HUGEINT * dk::HUGEINT) AS sd2
             FROM sc GROUP BY g, na, nb, nn)
       SELECT g AS event_type, na AS n_a, nb AS n_b,
         CASE WHEN na > 0 AND nb > 0 THEN
           round(sd2::DOUBLE / greatest(na::DOUBLE * nb::DOUBLE
             * nn::DOUBLE * nn::DOUBLE, 1e-12), 6) + 0.0
         END AS t_stat,
         round((nn::DOUBLE + 1.0)
           / greatest(6.0 * nn::DOUBLE, 1e-12), 6) + 0.0 AS t_null
       FROM agg ORDER BY event_type"""

  // --------------------------------------------------------------- q354
  /** Pettitt change-point test on daily revenue — WHEN did the level
    * shift, not just whether a trend exists (q297's Mann–Kendall)?
    * The O(D²) sign-pair definition collapses to one pass:
    * U_t − U_{t−1} = Σ_j sgn(x_t − x_j) = below_t − above_t over ALL
    * days (antisymmetry), so U_t is a running sum of the per-day
    * global rank deviation 2·below + t_v − D — exact integers from
    * one window over the distinct-value table plus one over the
    * calendar-ordered day table (both calendar-bounded, ~2.4k rows at
    * every SF). K = max |U_t| over t < D, the break day is the
    * earliest argmax, and the tail bound 2·exp(−6K²/(D³+D²)) closes
    * in FP.
    */
  private def q354(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val days = sc.checkpoint(dayGrid(s, d))
    val vals = days.groupBy("rev").agg(count(lit(1)).as("tv"))
    val wV = Window.orderBy("rev")
      .rowsBetween(Window.unboundedPreceding, -1)
    val below = vals.withColumn("belowv",
      coalesce(sum("tv").over(wV), lit(0L)))
    val dTot = days.agg(count(lit(1)).as("dd"))
    val wT = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, 0)
    val u = days.join(below, Seq("rev")).crossJoin(broadcast(dTot))
      .withColumn("delta",
        lit(2L) * col("belowv") + col("tv") - col("dd"))
      .withColumn("ut", sum("delta").over(wT))
      .filter(col("t") < col("dd") - 1)
    val k = u.agg(max(abs(col("ut"))).as("k_stat"))
    sc.keep(u.crossJoin(broadcast(k))
      .filter(abs(col("ut")) === col("k_stat"))
      .orderBy("t").limit(1)
      .select(col("k_stat"), col("dt").as("break_date"),
        col("ut").as("u_at_break"), col("dd").as("n_days"),
        round(lit(2.0) * exp(lit(-6.0) * col("k_stat").cast("double") *
          col("k_stat").cast("double") /
          safe(col("dd").cast("double") * col("dd").cast("double") *
            col("dd").cast("double") +
            col("dd").cast("double") * col("dd").cast("double"))), 6)
          .as("p_value")))
  }

  private val q354Sql =
    s"""$dayGridSql,
       vals AS (SELECT rev, CAST(count(*) AS BIGINT) AS tv
             FROM days GROUP BY rev),
       bel AS (SELECT rev, tv,
               coalesce(sum(tv) OVER (ORDER BY rev
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS belowv
             FROM vals),
       dtot AS (SELECT CAST(count(*) AS BIGINT) AS dd FROM days),
       u AS (SELECT days.dt, days.t, dd,
               sum(2 * belowv + tv - dd) OVER (ORDER BY days.t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS ut
             FROM days JOIN bel ON bel.rev = days.rev CROSS JOIN dtot),
       uf AS (SELECT * FROM u WHERE t < dd - 1),
       k AS (SELECT max(abs(ut)) AS k_stat FROM uf)
       SELECT CAST(k.k_stat AS BIGINT) AS k_stat, uf.dt AS break_date,
         CAST(uf.ut AS BIGINT) AS u_at_break, uf.dd AS n_days,
         round(2.0 * exp(-6.0 * k.k_stat::DOUBLE * k.k_stat::DOUBLE
           / greatest(uf.dd::DOUBLE * uf.dd::DOUBLE * uf.dd::DOUBLE
             + uf.dd::DOUBLE * uf.dd::DOUBLE, 1e-12)), 6) + 0.0
           AS p_value
       FROM uf CROSS JOIN k
       WHERE abs(uf.ut) = k.k_stat
       ORDER BY uf.t LIMIT 1"""

  // --------------------------------------------------------------- q355
  /** Partial autocorrelation of daily revenue at lags 1–3 via
    * Durbin–Levinson — does yesterday's revenue predict today BEYOND
    * what the day before already explains (the readout the raw ACF in
    * q172/q237 conflates)? The lag-k autocovariance ratios are formed
    * from EXACT integer sufficient statistics — multiplying the
    * centered form through by D² gives N_k = D²·Σx_tx_{t+k} −
    * D·S·(A_k+B_k) + (D−k)·S², all DECIMAL-exact cent-unit sums (A/B
    * are the leading/trailing partial sums the lag truncation leaves
    * out) — then r_k = N_k/N_0 is quantized to the 1e-9 grid and the
    * three-level recursion closes in fixed-shape FP mirrored term for
    * term.
    */
  private def q355(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val days = sc.checkpoint(dayGrid(s, d).select(col("t"), col("rev")))
    def lagStats(k: Int): DataFrame = {
      val lead = days.select(col("t"), col("rev").as("x0"))
      val lag = days.select((col("t") - lit(k.toLong)).as("t"),
        col("rev").as("xk"))
      lead.join(lag, Seq("t"))
        .agg(sum(col("x0").cast(dec) * col("xk").cast(dec)).as(s"s$k"),
          sum(col("x0").cast(dec)).as(s"a$k"),
          sum(col("xk").cast(dec)).as(s"b$k"))
    }
    val base = days.agg(count(lit(1)).as("dd"),
      sum(col("rev").cast(dec)).as("ss"))
    val row = base.crossJoin(broadcast(lagStats(0)))
      .crossJoin(broadcast(lagStats(1)))
      .crossJoin(broadcast(lagStats(2)))
      .crossJoin(broadcast(lagStats(3)))
    def nk(k: Int): Column =
      col("dd").cast(dec) * col("dd").cast(dec) * col(s"s$k") -
        col("dd").cast(dec) * col("ss") * (col(s"a$k") + col(s"b$k")) +
        (col("dd") - lit(k.toLong)).cast(dec) * col("ss") * col("ss")
    // r_k on the 1e-9 grid; then the Durbin–Levinson ladder in FP,
    // every intermediate re-quantized (the q337 state-grid contract)
    def q9(c: Column): Column = floor(c * lit(1e9) + lit(0.5)) / lit(1e9)
    val withR = row
      .withColumn("n0", nk(0).cast("double"))
      .withColumn("r1", q9(nk(1).cast("double") / safe(col("n0"))))
      .withColumn("r2", q9(nk(2).cast("double") / safe(col("n0"))))
      .withColumn("r3", q9(nk(3).cast("double") / safe(col("n0"))))
      .withColumn("v1", q9(lit(1.0) - col("r1") * col("r1")))
      .withColumn("p22",
        q9((col("r2") - col("r1") * col("r1")) / safe(col("v1"))))
      .withColumn("p21", q9(col("r1") - col("p22") * col("r1")))
      .withColumn("v2", q9(col("v1") * (lit(1.0) - col("p22") * col("p22"))))
      .withColumn("p33",
        q9((col("r3") - col("p21") * col("r2") - col("p22") * col("r1")) /
          safe(col("v2"))))
    sc.keep(withR.select(col("dd").as("n_days"),
      round(col("r1"), 6).as("acf1"),
      round(col("r2"), 6).as("acf2"),
      round(col("r3"), 6).as("acf3"),
      round(col("r1"), 6).as("pacf1"),
      round(col("p22"), 6).as("pacf2"),
      round(col("p33"), 6).as("pacf3")))
  }

  private val q355Sql = {
    def lagCte(k: Int) =
      s"""l$k AS (SELECT sum(d1.rev::HUGEINT * d2.rev::HUGEINT) AS s$k,
             CAST(sum(d1.rev) AS HUGEINT) AS a$k,
             CAST(sum(d2.rev) AS HUGEINT) AS b$k
           FROM days d1 JOIN days d2 ON d2.t = d1.t + $k)"""
    def nk(k: Int) =
      s"""(dd::HUGEINT * dd::HUGEINT * s$k
         - dd::HUGEINT * ss * (a$k + b$k)
         + (dd - $k)::HUGEINT * ss * ss)"""
    s"""$dayGridSql,
       base AS (SELECT CAST(count(*) AS BIGINT) AS dd,
             CAST(sum(rev) AS HUGEINT) AS ss FROM days),
       ${lagCte(0)}, ${lagCte(1)}, ${lagCte(2)}, ${lagCte(3)},
       raw AS (SELECT dd, ${nk(0)}::DOUBLE AS n0,
             ${nk(1)}::DOUBLE AS n1d, ${nk(2)}::DOUBLE AS n2d,
             ${nk(3)}::DOUBLE AS n3d
           FROM base, l0, l1, l2, l3),
       r AS (SELECT dd,
             floor(n1d / greatest(n0, 1e-12) * 1e9 + 0.5) / 1e9 AS r1,
             floor(n2d / greatest(n0, 1e-12) * 1e9 + 0.5) / 1e9 AS r2,
             floor(n3d / greatest(n0, 1e-12) * 1e9 + 0.5) / 1e9 AS r3
           FROM raw),
       dl1 AS (SELECT *,
             floor((1.0 - r1 * r1) * 1e9 + 0.5) / 1e9 AS v1 FROM r),
       dl2 AS (SELECT *,
             floor((r2 - r1 * r1) / greatest(v1, 1e-12) * 1e9 + 0.5)
               / 1e9 AS p22 FROM dl1),
       dl3 AS (SELECT *,
             floor((r1 - p22 * r1) * 1e9 + 0.5) / 1e9 AS p21,
             floor(v1 * (1.0 - p22 * p22) * 1e9 + 0.5) / 1e9 AS v2
           FROM dl2),
       dl4 AS (SELECT *,
             floor((r3 - p21 * r2 - p22 * r1) / greatest(v2, 1e-12)
               * 1e9 + 0.5) / 1e9 AS p33 FROM dl3)
       SELECT dd AS n_days,
         round(r1, 6) + 0.0 AS acf1, round(r2, 6) + 0.0 AS acf2,
         round(r3, 6) + 0.0 AS acf3, round(r1, 6) + 0.0 AS pacf1,
         round(p22, 6) + 0.0 AS pacf2, round(p33, 6) + 0.0 AS pacf3
       FROM dl4"""
  }

  // --------------------------------------------------------------- q356
  /** Granger causality, order count → revenue at lag 1: does
    * yesterday's order VOLUME predict today's revenue beyond what
    * yesterday's revenue already does? F-test of the restricted
    * (y ~ 1 + y₋₁) vs unrestricted (y ~ 1 + y₋₁ + z₋₁) OLS on the day
    * grid — the reference's own closed-form normal-equation solve
    * (kernel.cu:62-63) lifted to two regressors. All centered moments
    * are n-scaled integers (C_xy = n·Σxy − Σx·Σy, DECIMAL-exact in
    * cent/count units); the 2×2 inverse, both RSS values, and F close
    * in fixed-shape FP. The n-scaling cancels in F.
    */
  private def q356(s: SparkSession, d: String): DataFrame = {
    val days = dayGrid(s, d).select(col("t"), col("rev"), col("cnt"))
    val lead = days.select(col("t"), col("rev").as("yv"))
    val lag = days.select((col("t") + lit(1L)).as("t"),
      col("rev").as("xl"), col("cnt").as("zl"))
    val m = lead.join(lag, Seq("t"))
    val agg = m.agg(count(lit(1)).as("n"),
      sum(col("yv").cast(dec)).as("sy"),
      sum(col("xl").cast(dec)).as("sx"),
      sum(col("zl").cast(dec)).as("sz"),
      sum(col("yv").cast(dec) * col("yv").cast(dec)).as("syy"),
      sum(col("xl").cast(dec) * col("xl").cast(dec)).as("sxx"),
      sum(col("zl").cast(dec) * col("zl").cast(dec)).as("szz"),
      sum(col("xl").cast(dec) * col("yv").cast(dec)).as("sxy"),
      sum(col("zl").cast(dec) * col("yv").cast(dec)).as("szy"),
      sum(col("xl").cast(dec) * col("zl").cast(dec)).as("sxz"))
    val nI = col("n").cast(dec)
    val c = agg
      .withColumn("cyy", (nI * col("syy") - col("sy") * col("sy"))
        .cast("double"))
      .withColumn("cxx", (nI * col("sxx") - col("sx") * col("sx"))
        .cast("double"))
      .withColumn("czz", (nI * col("szz") - col("sz") * col("sz"))
        .cast("double"))
      .withColumn("cxy", (nI * col("sxy") - col("sx") * col("sy"))
        .cast("double"))
      .withColumn("czy", (nI * col("szy") - col("sz") * col("sy"))
        .cast("double"))
      .withColumn("cxz", (nI * col("sxz") - col("sx") * col("sz"))
        .cast("double"))
      .withColumn("rssr",
        col("cyy") - col("cxy") * col("cxy") / safe(col("cxx")))
      .withColumn("det",
        col("cxx") * col("czz") - col("cxz") * col("cxz"))
      .withColumn("bx",
        (col("cxy") * col("czz") - col("czy") * col("cxz")) /
          safe(col("det")))
      .withColumn("bz",
        (col("czy") * col("cxx") - col("cxy") * col("cxz")) /
          safe(col("det")))
      .withColumn("rssu",
        col("cyy") - (col("bx") * col("cxy") + col("bz") * col("czy")))
    c.select(col("n").as("n_days"),
      round((col("rssr") - col("rssu")) /
        safe(col("rssu") / safe(col("n").cast("double") - lit(3.0))), 4)
        .as("f_stat"),
      round(col("bx"), 6).as("beta_own_lag"),
      round(col("bz") * lit(100.0), 6).as("beta_cross_lag"),
      round(lit(1.0) - col("rssu") / safe(col("cyy")), 6).as("r2_full"))
  }

  private val q356Sql =
    s"""$dayGridSql,
       m AS (SELECT d1.rev AS yv, d2.rev AS xl, d2.cnt AS zl
           FROM days d1 JOIN days d2 ON d1.t = d2.t + 1),
       agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(yv) AS HUGEINT) AS sy,
             CAST(sum(xl) AS HUGEINT) AS sx,
             CAST(sum(zl) AS HUGEINT) AS sz,
             sum(yv::HUGEINT * yv::HUGEINT) AS syy,
             sum(xl::HUGEINT * xl::HUGEINT) AS sxx,
             sum(zl::HUGEINT * zl::HUGEINT) AS szz,
             sum(xl::HUGEINT * yv::HUGEINT) AS sxy,
             sum(zl::HUGEINT * yv::HUGEINT) AS szy,
             sum(xl::HUGEINT * zl::HUGEINT) AS sxz
           FROM m),
       c AS (SELECT n,
             (n::HUGEINT * syy - sy * sy)::DOUBLE AS cyy,
             (n::HUGEINT * sxx - sx * sx)::DOUBLE AS cxx,
             (n::HUGEINT * szz - sz * sz)::DOUBLE AS czz,
             (n::HUGEINT * sxy - sx * sy)::DOUBLE AS cxy,
             (n::HUGEINT * szy - sz * sy)::DOUBLE AS czy,
             (n::HUGEINT * sxz - sx * sz)::DOUBLE AS cxz
           FROM agg),
       f1 AS (SELECT *,
             cyy - cxy * cxy / greatest(cxx, 1e-12) AS rssr,
             cxx * czz - cxz * cxz AS det
           FROM c),
       f2 AS (SELECT *,
             (cxy * czz - czy * cxz) / greatest(det, 1e-12) AS bx,
             (czy * cxx - cxy * cxz) / greatest(det, 1e-12) AS bz
           FROM f1),
       f3 AS (SELECT *, cyy - (bx * cxy + bz * czy) AS rssu FROM f2)
       SELECT n AS n_days,
         round((rssr - rssu) / greatest(rssu
           / greatest(n::DOUBLE - 3.0, 1e-12), 1e-12), 4) + 0.0
           AS f_stat,
         round(bx, 6) + 0.0 AS beta_own_lag,
         round(bz * 100.0, 6) + 0.0 AS beta_cross_lag,
         round(1.0 - rssu / greatest(cyy, 1e-12), 6) + 0.0 AS r2_full
       FROM f3"""

  // --------------------------------------------------------------- q357
  /** Chow structural-break F-test on the daily revenue trend — is the
    * pre/post-midpoint pair of lines a significantly better fit than
    * one pooled line (the formal verdict behind q283's segmented-trend
    * descriptive)? Per-segment and pooled RSS come from the same
    * n-scaled integer moments as q356 (x = day index, y = cent
    * revenue); F = ((RSS_p − RSS₁ − RSS₂)/2) / ((RSS₁+RSS₂)/(n−4))
    * closes in FP. One scan, three 1-row aggregates.
    */
  private def q357(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val days = sc.checkpoint(dayGrid(s, d).select(col("t"), col("rev")))
    val dTot = days.agg(count(lit(1)).as("dd"))
    // integer midpoint: Spark Column `/` is FP division (the q250
    // pitfall) — floor to mirror DuckDB's `//`
    val seg = days.crossJoin(broadcast(dTot))
      .withColumn("sg",
        when(col("t") < floor(col("dd") / lit(2.0)).cast("long"), 0L)
          .otherwise(1L))
    def rssOf(df: DataFrame, keys: Seq[String]): DataFrame = {
      val base = if (keys.isEmpty) df.agg(count(lit(1)).as("n"),
        sum(col("t").cast(dec)).as("sx"),
        sum(col("rev").cast(dec)).as("sy"),
        sum(col("t").cast(dec) * col("t").cast(dec)).as("sxx"),
        sum(col("t").cast(dec) * col("rev").cast(dec)).as("sxy"),
        sum(col("rev").cast(dec) * col("rev").cast(dec)).as("syy"))
      else df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"),
        sum(col("t").cast(dec)).as("sx"),
        sum(col("rev").cast(dec)).as("sy"),
        sum(col("t").cast(dec) * col("t").cast(dec)).as("sxx"),
        sum(col("t").cast(dec) * col("rev").cast(dec)).as("sxy"),
        sum(col("rev").cast(dec) * col("rev").cast(dec)).as("syy"))
      val nI = col("n").cast(dec)
      base.withColumn("rss",
        ((nI * col("syy") - col("sy") * col("sy")).cast("double") -
          (nI * col("sxy") - col("sx") * col("sy")).cast("double") *
          (nI * col("sxy") - col("sx") * col("sy")).cast("double") /
          safe((nI * col("sxx") - col("sx") * col("sx")).cast("double"))) /
          safe(col("n").cast("double")))
    }
    val pooled = rssOf(seg, Nil).select(col("n").as("nn"),
      col("rss").as("rssp"))
    val parts = rssOf(seg, Seq("sg"))
      .agg(sum("rss").as("rss12"), count(lit(1)).as("nseg"))
    // raw RSS is in cents² (~1e16 at sf0.1, 1e22 at sf100) — rounding
    // it would overflow roundTo's BIGINT floor; report the scale-free
    // split/pooled ratio instead (1 − ratio = variance explained by
    // allowing the break)
    sc.keep(pooled.crossJoin(broadcast(parts))
      .select(col("nn").as("n_days"),
        round((col("rssp") - col("rss12")) / lit(2.0) /
          safe(col("rss12") / safe(col("nn").cast("double") - lit(4.0))), 4)
          .as("f_stat"),
        round(col("rss12") / safe(col("rssp")), 6).as("rss_ratio")))
  }

  private val q357Sql = {
    def mom(src: String, grp: String) =
      s"""SELECT $grp CAST(count(*) AS BIGINT) AS n,
           CAST(sum(t) AS HUGEINT) AS sx,
           CAST(sum(rev) AS HUGEINT) AS sy,
           sum(t::HUGEINT * t::HUGEINT) AS sxx,
           sum(t::HUGEINT * rev::HUGEINT) AS sxy,
           sum(rev::HUGEINT * rev::HUGEINT) AS syy
         FROM $src"""
    val rss =
      """((n::HUGEINT * syy - sy * sy)::DOUBLE
         - (n::HUGEINT * sxy - sx * sy)::DOUBLE
           * (n::HUGEINT * sxy - sx * sy)::DOUBLE
           / greatest((n::HUGEINT * sxx - sx * sx)::DOUBLE, 1e-12))
         / greatest(n::DOUBLE, 1e-12)"""
    s"""$dayGridSql,
       dtot AS (SELECT CAST(count(*) AS BIGINT) AS dd FROM days),
       seg AS (SELECT days.t, days.rev,
             CASE WHEN days.t < dd // 2 THEN 0 ELSE 1 END AS sg
           FROM days CROSS JOIN dtot),
       pm AS (${mom("seg", "")}),
       sm AS (${mom("seg", "sg,")} GROUP BY sg),
       pr AS (SELECT n AS nn, $rss AS rssp FROM pm),
       sr AS (SELECT CAST(sum($rss) AS DOUBLE) AS rss12 FROM sm)
       SELECT nn AS n_days,
         round((rssp - rss12) / 2.0 / greatest(rss12
           / greatest(nn::DOUBLE - 4.0, 1e-12), 1e-12), 4) + 0.0
           AS f_stat,
         round(rss12 / greatest(rssp, 1e-12), 6) + 0.0 AS rss_ratio
       FROM pr CROSS JOIN sr"""
  }

  /** Per-document integer "size construct" items shared by the
    * reliability coefficients (q358/q359/q360): whitespace tokens,
    * distinct tokens, n_chars÷10, long-word (>5 chars) count — all
    * exact integers both engine- and oracle-side. */
  private def docItems(s: SparkSession, d: String): DataFrame = {
    val w = graft.functions.TextFunctions.words(col("text"))
    Tables.documents(s, d).select(
      col("doc_id"), col("source"),
      size(w).cast("long").as("i1"),
      size(array_distinct(w)).cast("long").as("i2"),
      (col("n_chars").cast("long") / lit(10L)).cast("long").as("i3"),
      size(filter(w, x => length(x) > 5)).cast("long").as("i4"))
  }

  private val docItemsSql =
    """SELECT doc_id, source,
         CAST(len(arr) AS BIGINT) AS i1,
         CAST(len(list_distinct(arr)) AS BIGINT) AS i2,
         CAST(n_chars // 10 AS BIGINT) AS i3,
         CAST(len(list_filter(arr, x -> len(x) > 5)) AS BIGINT) AS i4
       FROM (SELECT doc_id, source, n_chars,
               regexp_split_to_array(trim(text), '\s+') AS arr
             FROM documents)"""

  // --------------------------------------------------------------- q358
  /** Cronbach's alpha over the four document size items — do the
    * pipeline's length-ish signals (tokens, distinct tokens, chars,
    * long words) measure ONE construct, i.e. is a composite "size
    * score" internally consistent enough to threshold on? The n-scaled
    * population variances (n·ΣX² − S², exact DECIMAL integers) make
    * the n² factors cancel, so α = k/(k−1)·(1 − Σnum_i/num_tot) closes
    * in a single FP ratio of exact integers. One corpus scan.
    */
  private def q358(s: SparkSession, d: String): DataFrame = {
    val items = docItems(s, d)
      .withColumn("tt", col("i1") + col("i2") + col("i3") + col("i4"))
    def nvar(c: String) =
      (count(lit(1)).cast(dec) *
        sum(col(c).cast(dec) * col(c).cast(dec)) -
        sum(col(c).cast(dec)) * sum(col(c).cast(dec)))
    val agg = items.agg(count(lit(1)).as("n"),
      nvar("i1").as("v1"), nvar("i2").as("v2"),
      nvar("i3").as("v3"), nvar("i4").as("v4"),
      (count(lit(1)).cast(dec) *
        sum(col("tt").cast(dec) * col("tt").cast(dec)) -
        sum(col("tt").cast(dec)) * sum(col("tt").cast(dec))).as("vt"))
    agg.select(col("n").as("n_docs"), lit(4L).as("k_items"),
      round(lit(4.0) / lit(3.0) *
        (lit(1.0) - (col("v1").cast("double") + col("v2").cast("double") +
          col("v3").cast("double") + col("v4").cast("double")) /
          safe(col("vt").cast("double"))), 6).as("alpha"))
  }

  private val q358Sql =
    s"""WITH it AS ($docItemsSql),
       t AS (SELECT i1, i2, i3, i4, i1 + i2 + i3 + i4 AS tt FROM it),
       agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
             count(*)::HUGEINT * sum(i1::HUGEINT * i1::HUGEINT)
               - CAST(sum(i1) AS HUGEINT) * CAST(sum(i1) AS HUGEINT)
               AS v1,
             count(*)::HUGEINT * sum(i2::HUGEINT * i2::HUGEINT)
               - CAST(sum(i2) AS HUGEINT) * CAST(sum(i2) AS HUGEINT)
               AS v2,
             count(*)::HUGEINT * sum(i3::HUGEINT * i3::HUGEINT)
               - CAST(sum(i3) AS HUGEINT) * CAST(sum(i3) AS HUGEINT)
               AS v3,
             count(*)::HUGEINT * sum(i4::HUGEINT * i4::HUGEINT)
               - CAST(sum(i4) AS HUGEINT) * CAST(sum(i4) AS HUGEINT)
               AS v4,
             count(*)::HUGEINT * sum(tt::HUGEINT * tt::HUGEINT)
               - CAST(sum(tt) AS HUGEINT) * CAST(sum(tt) AS HUGEINT)
               AS vt
           FROM t)
       SELECT n AS n_docs, CAST(4 AS BIGINT) AS k_items,
         round(4.0 / 3.0 * (1.0 - (v1::DOUBLE + v2::DOUBLE + v3::DOUBLE
           + v4::DOUBLE) / greatest(vt::DOUBLE, 1e-12)), 6) + 0.0
           AS alpha
       FROM agg"""

  // --------------------------------------------------------------- q359
  /** ICC(1,1) of document token counts by source — how much of token-
    * length variance is BETWEEN sources (a high ICC means per-source
    * length normalization is mandatory before mixing; q349 measures
    * share concentration, this measures a metric's source clustering).
    * One-way ANOVA sums: per-source SSW/SSB terms close in FP from
    * exact integer moments, are 1e-6-quantized to LONGs before the
    * cross-source sum (order independence over the |sources|-row
    * table), and the unequal-size correction n₀ uses exact Σn_g².
    */
  private def q359(s: SparkSession, d: String): DataFrame = {
    val x = docItems(s, d).select(col("source"), col("i1").as("x"))
    val grp = x.groupBy("source").agg(count(lit(1)).as("ng"),
      sum(col("x").cast(dec)).as("sg"),
      sum(col("x").cast(dec) * col("x").cast(dec)).as("qg"))
    val tot = grp.agg(sum("ng").as("n"),
      sum(col("sg")).as("st"), count(lit(1)).as("g"),
      sum(col("ng").cast(dec) * col("ng").cast(dec)).as("n2"))
    val terms = grp.crossJoin(broadcast(tot))
      .select(col("n"), col("g"), col("n2"),
        floor((col("qg").cast("double") -
          col("sg").cast("double") * col("sg").cast("double") /
            safe(col("ng").cast("double"))) * lit(1e6) + lit(0.5))
          .cast("long").as("ssw_u"),
        floor(col("ng").cast("double") *
          (col("sg").cast("double") / safe(col("ng").cast("double")) -
            col("st").cast("double") / safe(col("n").cast("double"))) *
          (col("sg").cast("double") / safe(col("ng").cast("double")) -
            col("st").cast("double") / safe(col("n").cast("double"))) *
          lit(1e6) + lit(0.5)).cast("long").as("ssb_u"))
    val fin = terms.groupBy("n", "g", "n2")
      .agg(sum("ssw_u").as("ssw"), sum("ssb_u").as("ssb"))
    val nD = col("n").cast("double")
    val gD = col("g").cast("double")
    val msb = col("ssb").cast("double") / lit(1e6) / safe(gD - lit(1.0))
    val msw = col("ssw").cast("double") / lit(1e6) /
      safe(nD - gD)
    val n0 = (nD - col("n2").cast("double") / safe(nD)) /
      safe(gD - lit(1.0))
    fin.select(col("n").as("n_docs"), col("g").as("n_sources"),
      round(msb, 4).as("ms_between"),
      round(msw, 4).as("ms_within"),
      round((msb - msw) / safe(msb + (n0 - lit(1.0)) * msw), 6)
        .as("icc"))
  }

  private val q359Sql =
    s"""WITH it AS ($docItemsSql),
       grp AS (SELECT source, CAST(count(*) AS BIGINT) AS ng,
             CAST(sum(i1) AS HUGEINT) AS sg,
             sum(i1::HUGEINT * i1::HUGEINT) AS qg
           FROM it GROUP BY source),
       tot AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
             CAST(sum(sg) AS HUGEINT) AS st,
             CAST(count(*) AS BIGINT) AS g,
             sum(ng::HUGEINT * ng::HUGEINT) AS n2
           FROM grp),
       terms AS (SELECT n, g, n2,
             CAST(floor((qg::DOUBLE - sg::DOUBLE * sg::DOUBLE
               / greatest(ng::DOUBLE, 1e-12)) * 1e6 + 0.5) AS BIGINT)
               AS ssw_u,
             CAST(floor(ng::DOUBLE
               * (sg::DOUBLE / greatest(ng::DOUBLE, 1e-12)
                 - st::DOUBLE / greatest(n::DOUBLE, 1e-12))
               * (sg::DOUBLE / greatest(ng::DOUBLE, 1e-12)
                 - st::DOUBLE / greatest(n::DOUBLE, 1e-12))
               * 1e6 + 0.5) AS BIGINT) AS ssb_u
           FROM grp CROSS JOIN tot),
       fin AS (SELECT n, g, n2, CAST(sum(ssw_u) AS BIGINT) AS ssw,
             CAST(sum(ssb_u) AS BIGINT) AS ssb
           FROM terms GROUP BY n, g, n2)
       SELECT n AS n_docs, g AS n_sources,
         round(ssb::DOUBLE / 1e6 / greatest(g::DOUBLE - 1.0, 1e-12), 4)
           + 0.0 AS ms_between,
         round(ssw::DOUBLE / 1e6 / greatest(n::DOUBLE - g::DOUBLE,
           1e-12), 4) + 0.0 AS ms_within,
         round((ssb::DOUBLE / 1e6 / greatest(g::DOUBLE - 1.0, 1e-12)
             - ssw::DOUBLE / 1e6 / greatest(n::DOUBLE - g::DOUBLE,
               1e-12))
           / greatest(ssb::DOUBLE / 1e6 / greatest(g::DOUBLE - 1.0,
               1e-12)
             + ((n::DOUBLE - n2::DOUBLE / greatest(n::DOUBLE, 1e-12))
                 / greatest(g::DOUBLE - 1.0, 1e-12) - 1.0)
               * (ssw::DOUBLE / 1e6 / greatest(n::DOUBLE - g::DOUBLE,
                 1e-12)), 1e-12), 6) + 0.0 AS icc
       FROM fin"""

  // --------------------------------------------------------------- q360
  /** Cochran's Q across three binary quality rules — do the length
    * rule (n_chars>300), volume rule (>60 tokens) and diversity rule
    * (TTR>½, integer cross-multiplied) flag the SAME documents, or is
    * one rule systematically stricter (q318's Fleiss asks this of
    * raters; this asks it of filter rules)? Q = (k−1)(kΣC² − T²)
    * /(kT − ΣR²) — every term an exact integer from one scan.
    */
  private def q360(s: SparkSession, d: String): DataFrame = {
    val it = docItems(s, d)
      .join(Tables.documents(s, d).select("doc_id", "n_chars"), "doc_id")
      .select(
        when(col("n_chars") > 300, 1L).otherwise(0L).as("r1"),
        when(col("i1") > 60, 1L).otherwise(0L).as("r2"),
        when(col("i2") * lit(2L) > col("i1"), 1L).otherwise(0L).as("r3"))
      .withColumn("ri", col("r1") + col("r2") + col("r3"))
    val agg = it.agg(count(lit(1)).as("n"),
      sum("r1").as("c1"), sum("r2").as("c2"), sum("r3").as("c3"),
      sum(col("ri") * col("ri")).as("r2s"), sum("ri").as("t"))
    val k = lit(3.0)
    val num = k * (col("c1").cast("double") * col("c1").cast("double") +
      col("c2").cast("double") * col("c2").cast("double") +
      col("c3").cast("double") * col("c3").cast("double")) -
      col("t").cast("double") * col("t").cast("double")
    val den = k * col("t").cast("double") - col("r2s").cast("double")
    agg.select(col("n").as("n_docs"),
      col("c1").as("pass_len"), col("c2").as("pass_vol"),
      col("c3").as("pass_ttr"),
      round((k - lit(1.0)) * num / safe(den), 4).as("q_stat"),
      lit(2L).as("dof"))
  }

  private val q360Sql =
    s"""WITH it AS ($docItemsSql),
       dc AS (SELECT it.doc_id, it.i1, it.i2, d.n_chars
             FROM it JOIN documents d ON d.doc_id = it.doc_id),
       r AS (SELECT
             CASE WHEN n_chars > 300 THEN 1 ELSE 0 END AS r1,
             CASE WHEN i1 > 60 THEN 1 ELSE 0 END AS r2,
             CASE WHEN i2 * 2 > i1 THEN 1 ELSE 0 END AS r3
           FROM dc),
       t AS (SELECT r1, r2, r3, r1 + r2 + r3 AS ri FROM r),
       agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(r1) AS BIGINT) AS c1,
             CAST(sum(r2) AS BIGINT) AS c2,
             CAST(sum(r3) AS BIGINT) AS c3,
             CAST(sum(ri * ri) AS BIGINT) AS r2s,
             CAST(sum(ri) AS BIGINT) AS t
           FROM t)
       SELECT n AS n_docs, c1 AS pass_len, c2 AS pass_vol,
         c3 AS pass_ttr,
         round((3.0 - 1.0) * (3.0 * (c1::DOUBLE * c1::DOUBLE
             + c2::DOUBLE * c2::DOUBLE + c3::DOUBLE * c3::DOUBLE)
           - t::DOUBLE * t::DOUBLE)
           / greatest(3.0 * t::DOUBLE - r2s::DOUBLE, 1e-12), 4) + 0.0
           AS q_stat,
         CAST(2 AS BIGINT) AS dof
       FROM agg"""

  // --------------------------------------------------------------- q361
  /** Kendall's W — do the five languages AGREE on which sources are
    * big (q317's Friedman flavor, but across the corpus's lang×source
    * grid with the coefficient itself as the readout)? Sources present
    * in every language are ranked within each language by total chars
    * (row_number on the outcome-total key value desc, source — no
    * cross-engine rank ties possible), rank sums form exact integers,
    * and W = 3·Σ(2R_j − m(n+1))² / (m²(n³−n)) closes in one division.
    * The grid is |langs|×|sources| — bounded at any SF.
    */
  private def q361(s: SparkSession, d: String): DataFrame = {
    val cell = Tables.documents(s, d)
      .groupBy("lang", "source")
      .agg(sum(col("n_chars").cast("long")).as("v"))
    val nl = cell.select("lang").distinct().count()
    val full = cell.groupBy("source")
      .agg(count(lit(1)).as("nlang"))
      .filter(col("nlang") === lit(nl))
      .select("source")
    val wR = Window.partitionBy("lang")
      .orderBy(col("v").desc, col("source"))
    val ranked = cell.join(broadcast(full), Seq("source"))
      .withColumn("rnk", row_number().over(wR).cast("long"))
    val rs = ranked.groupBy("source").agg(sum("rnk").as("rj"),
      count(lit(1)).as("mg"))
    val tot = rs.agg(count(lit(1)).as("n"), max("mg").as("m"))
    val s4 = rs.crossJoin(broadcast(tot))
      .select(col("n"), col("m"),
        (lit(2L) * col("rj") - col("mg") * (col("n") + lit(1L))).as("d2"))
      .groupBy("n", "m")
      .agg(sum(col("d2").cast(dec) * col("d2").cast(dec)).as("s4"))
    val nD = col("n").cast("double")
    val mD = col("m").cast("double")
    val w = lit(3.0) * col("s4").cast("double") /
      safe(mD * mD * (nD * nD * nD - nD))
    s4.select(col("n").as("n_sources"), col("m").as("n_langs"),
      round(w, 6).as("kendall_w"),
      round(mD * (nD - lit(1.0)) * w, 4).as("chi2"))
  }

  private val q361Sql =
    """WITH cell AS (SELECT lang, source,
           CAST(sum(n_chars) AS BIGINT) AS v
         FROM documents GROUP BY lang, source),
       nl AS (SELECT CAST(count(DISTINCT lang) AS BIGINT) AS c
             FROM cell),
       full_src AS (SELECT source FROM cell, nl
             GROUP BY source, nl.c HAVING count(*) = nl.c),
       ranked AS (SELECT cell.lang, cell.source,
             CAST(row_number() OVER (PARTITION BY cell.lang
               ORDER BY v DESC, cell.source) AS BIGINT) AS rnk
           FROM cell JOIN full_src ON full_src.source = cell.source),
       rs AS (SELECT source, CAST(sum(rnk) AS BIGINT) AS rj,
             CAST(count(*) AS BIGINT) AS m
           FROM ranked GROUP BY source),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(max(m) AS BIGINT) AS m FROM rs),
       s4 AS (SELECT n, tot.m,
             sum((2 * rj - rs.m * (n + 1))::HUGEINT
               * (2 * rj - rs.m * (n + 1))::HUGEINT) AS s4
           FROM rs CROSS JOIN tot GROUP BY n, tot.m)
       SELECT n AS n_sources, m AS n_langs,
         round(3.0 * s4::DOUBLE / greatest(m::DOUBLE * m::DOUBLE
           * (n::DOUBLE * n::DOUBLE * n::DOUBLE - n::DOUBLE), 1e-12),
           6) + 0.0 AS kendall_w,
         round(m::DOUBLE * (n::DOUBLE - 1.0)
           * (3.0 * s4::DOUBLE / greatest(m::DOUBLE * m::DOUBLE
             * (n::DOUBLE * n::DOUBLE * n::DOUBLE - n::DOUBLE),
             1e-12)), 4) + 0.0 AS chi2
       FROM s4"""

  // --------------------------------------------------------------- q362
  /** Fuzzy decontamination — documents whose normalized 48-char prefix
    * is within edit distance 2 of a benchmark prefix (q73/q91 catch
    * exact n-gram hits; paraphrased-with-typos contamination slips
    * both). Pigeonhole banding: a string pair at Hamming ≤ 2 must
    * agree on at least one of three aligned 16-char chunks, so
    * candidates are an equi-join on (chunk index, chunk text) —
    * recall-complete for substitutions, heuristic for indels — with a
    * deterministic df-cap (corpus chunks repeated >1000× are dropped,
    * mirrored in the oracle) so a boilerplate prefix cannot quadratic
    * the candidate set at scale. Survivors pay one levenshtein ≤ 2
    * verification (identical DP semantics in Spark and DuckDB). The
    * benchmark side (doc_id % 101 < 2 — a stand-in for a fixed
    * external eval set) stays broadcastable.
    */
  private def q362(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select(col("doc_id"), col("source"),
      substring(regexp_replace(lower(trim(col("text"))), "\\s+", " "),
        1, 48).as("pfx"))
    val bench = base.filter(pmod(col("doc_id"), lit(101L)) < 2)
      .select(col("doc_id").as("b_id"), col("pfx").as("b_pfx"))
    val corpus = base.filter(pmod(col("doc_id"), lit(101L)) >= 2)
    def chunks(pfx: Column, id: Column, tag: String): DataFrame => DataFrame =
      df => df.select(id.as(s"${tag}_id"), pfx.as(s"${tag}_pfx"),
        posexplode(array(substring(pfx, 1, 16), substring(pfx, 17, 16),
          substring(pfx, 33, 16))))
        .filter(length(col("col")) > 0)
        .select(col(s"${tag}_id"), col(s"${tag}_pfx"),
          col("pos").as("ck_i"), col("col").as("ck"))
    val bCk = chunks(col("b_pfx"), col("b_id"), "b")(bench)
    val cCkRaw = chunks(col("pfx"), col("doc_id"), "c")(corpus)
    // df-cap: chunk keys that explode on the corpus side are dropped
    // deterministically on BOTH sides of the band join
    val hot = cCkRaw.groupBy("ck_i", "ck").agg(count(lit(1)).as("df"))
      .filter(col("df") > 1000).select("ck_i", "ck")
    val cCk = cCkRaw.join(broadcast(hot), Seq("ck_i", "ck"), "left_anti")
    val cand = cCk.join(broadcast(bCk.join(broadcast(hot),
        Seq("ck_i", "ck"), "left_anti")), Seq("ck_i", "ck"))
      .select("c_id", "c_pfx", "b_id", "b_pfx").distinct()
    val hits = cand
      .filter(levenshtein(col("c_pfx"), col("b_pfx")) <= 2)
      .select("c_id").distinct()
    corpus.join(hits, corpus("doc_id") === hits("c_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("c_id").isNotNull, 1L).otherwise(0L))
          .as("n_contaminated"))
      .orderBy("source")
  }

  private val q362Sql =
    """WITH base AS (SELECT doc_id, source,
           substr(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
             1, 48) AS pfx
         FROM documents),
       bench AS (SELECT doc_id AS b_id, pfx AS b_pfx FROM base
             WHERE doc_id % 101 < 2),
       corpus AS (SELECT * FROM base WHERE doc_id % 101 >= 2),
       cck0 AS (SELECT doc_id AS c_id, pfx AS c_pfx, i AS ck_i,
             substr(pfx, 1 + i * 16, 16) AS ck
           FROM corpus, range(0, 3) t(i)
           WHERE len(substr(pfx, 1 + i * 16, 16)) > 0),
       hot AS (SELECT ck_i, ck FROM cck0 GROUP BY ck_i, ck
             HAVING count(*) > 1000),
       cck AS (SELECT * FROM cck0 ANTI JOIN hot USING (ck_i, ck)),
       bck AS (SELECT b_id, b_pfx, i AS ck_i,
             substr(b_pfx, 1 + i * 16, 16) AS ck
           FROM bench, range(0, 3) t(i)
           WHERE len(substr(b_pfx, 1 + i * 16, 16)) > 0),
       bck2 AS (SELECT * FROM bck ANTI JOIN hot USING (ck_i, ck)),
       cand AS (SELECT DISTINCT c_id, c_pfx, b_id, b_pfx
           FROM cck JOIN bck2 USING (ck_i, ck)),
       hits AS (SELECT DISTINCT c_id FROM cand
             WHERE levenshtein(c_pfx, b_pfx) <= 2)
       SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN hits.c_id IS NOT NULL THEN 1 ELSE 0 END)
           AS BIGINT) AS n_contaminated
       FROM corpus LEFT JOIN hits ON hits.c_id = corpus.doc_id
       GROUP BY source ORDER BY source"""

  // --------------------------------------------------------------- q363
  /** Canonical-representative dedup — q35 counts exact duplicates;
    * shipping a training set additionally needs to decide WHICH copy
    * survives. Clusters are md5 fingerprints of the
    * whitespace-normalized text; the representative is the
    * highest-quality member (distinct-token count, doc_id ascending as
    * the total tie-break) via a fingerprint-PARTITIONed row_number —
    * no global sort, cluster-local work only. Per source: documents,
    * dropped non-representatives, and the chars those drops free.
    */
  private def q363(s: SparkSession, d: String): DataFrame = {
    val w = graft.functions.TextFunctions.words(col("text"))
    val base = Tables.documents(s, d).select(col("doc_id"), col("source"),
      col("n_chars").cast("long").as("nc"),
      md5(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
        .as("fp"),
      size(array_distinct(w)).cast("long").as("q"))
    val wF = Window.partitionBy("fp")
      .orderBy(col("q").desc, col("doc_id"))
    val marked = base.withColumn("rep", row_number().over(wF) === 1)
    marked.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(!col("rep"), 1L).otherwise(0L)).as("n_dropped"),
        sum(when(!col("rep"), col("nc")).otherwise(0L))
          .as("chars_dropped"))
      .orderBy("source")
  }

  private val q363Sql =
    """WITH base AS (SELECT doc_id, source,
           CAST(n_chars AS BIGINT) AS nc,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
             AS fp,
           CAST(len(list_distinct(regexp_split_to_array(trim(text),
             '\s+'))) AS BIGINT) AS q
         FROM documents),
       marked AS (SELECT source, nc,
             (row_number() OVER (PARTITION BY fp
               ORDER BY q DESC, doc_id) = 1) AS rep
           FROM base)
       SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN NOT rep THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dropped,
         CAST(sum(CASE WHEN NOT rep THEN nc ELSE 0 END) AS BIGINT)
           AS chars_dropped
       FROM marked GROUP BY source ORDER BY source"""

  // --------------------------------------------------------------- q364
  /** Theil's U for the weekly-seasonal forecaster — is lag-7 (the
    * seasonality q130/q290 detect) actually a better daily-revenue
    * predictor than the lag-1 random walk? U < 1 says the weekly
    * structure carries real signal; U ≥ 1 says naive persistence wins
    * and the seasonal story is decorative. Exact integer cent errors,
    * squared in DECIMAL, one sqrt ratio at the close over days ≥ 7.
    */
  private def q364(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val days = sc.checkpoint(dayGrid(s, d).select(col("t"), col("rev")))
    def lagged(k: Int, nm: String): DataFrame =
      days.select((col("t") + lit(k.toLong)).as("t"), col("rev").as(nm))
    val m = days.join(lagged(7, "l7"), Seq("t"))
      .join(lagged(1, "l1"), Seq("t"))
    val agg = m.agg(count(lit(1)).as("n"),
      sum((col("rev") - col("l7")).cast(dec) *
        (col("rev") - col("l7")).cast(dec)).as("e7"),
      sum((col("rev") - col("l1")).cast(dec) *
        (col("rev") - col("l1")).cast(dec)).as("e1"))
    sc.keep(agg.select(col("n").as("n_days"),
      round(sqrt(col("e7").cast("double") / safe(col("n").cast("double"))) /
        safe(sqrt(col("e1").cast("double") /
          safe(col("n").cast("double")))), 6).as("theils_u"),
      round(sqrt(col("e7").cast("double") / safe(col("n").cast("double"))) /
        lit(100.0), 2).as("rmse_seasonal_usd"),
      round(sqrt(col("e1").cast("double") / safe(col("n").cast("double"))) /
        lit(100.0), 2).as("rmse_naive_usd")))
  }

  private val q364Sql =
    s"""$dayGridSql,
       m AS (SELECT d0.rev, d7.rev AS l7, d1.rev AS l1
           FROM days d0
           JOIN days d7 ON d0.t = d7.t + 7
           JOIN days d1 ON d0.t = d1.t + 1),
       agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
             sum((rev - l7)::HUGEINT * (rev - l7)::HUGEINT) AS e7,
             sum((rev - l1)::HUGEINT * (rev - l1)::HUGEINT) AS e1
           FROM m)
       SELECT n AS n_days,
         round(sqrt(e7::DOUBLE / greatest(n::DOUBLE, 1e-12))
           / greatest(sqrt(e1::DOUBLE / greatest(n::DOUBLE, 1e-12)),
             1e-12), 6) + 0.0 AS theils_u,
         round(sqrt(e7::DOUBLE / greatest(n::DOUBLE, 1e-12)) / 100.0,
           2) + 0.0 AS rmse_seasonal_usd,
         round(sqrt(e1::DOUBLE / greatest(n::DOUBLE, 1e-12)) / 100.0,
           2) + 0.0 AS rmse_naive_usd
       FROM agg"""

  // --------------------------------------------------------------- q365
  /** Stuart–Maxwell marginal homogeneity — did the DISTRIBUTION of
    * order priorities shift between each customer's first and last
    * order (q281's McNemar answers this for 2 categories; priorities
    * need 3: urgent/medium/low)? First/last picked on the total
    * (date, orderkey) key, the 3×3 transition table collapses to nine
    * integer cells, and χ² = (d₁²S₂₂ − 2d₁d₂S₁₂ + d₂²S₁₁)/(S₁₁S₂₂ −
    * S₁₂²) closes from the 2×2 covariance inverse in FP.
    */
  private def q365(s: SparkSession, d: String): DataFrame = {
    val cls = when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
      .when(col("o_orderpriority") === "3-MEDIUM", 1L).otherwise(2L)
    val o = Tables.orders(s, d).select(col("o_custkey"),
      col("o_orderdate"), col("o_orderkey"), cls.as("c"))
    val wA = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val wD = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    val fl = o
      .withColumn("ra", row_number().over(wA))
      .withColumn("rd", row_number().over(wD))
      .filter(col("ra") === 1 || col("rd") === 1)
      .groupBy("o_custkey")
      .agg(max(when(col("ra") === 1, col("c"))).as("first_c"),
        max(when(col("rd") === 1, col("c"))).as("last_c"),
        count(lit(1)).as("k"))
      .filter(col("k") === 2) // customers with ≥2 orders
    val cells = fl.groupBy("first_c", "last_c")
      .agg(count(lit(1)).as("nij"))
    def cell(i: Int, j: Int): Column =
      sum(when(col("first_c") === i && col("last_c") === j,
        col("nij")).otherwise(0L))
    val agg = cells.agg(sum("nij").as("n"),
      cell(0, 0).as("n00"), cell(0, 1).as("n01"), cell(0, 2).as("n02"),
      cell(1, 0).as("n10"), cell(1, 1).as("n11"), cell(1, 2).as("n12"),
      cell(2, 0).as("n20"), cell(2, 1).as("n21"), cell(2, 2).as("n22"))
    val m = agg
      .withColumn("d1", (col("n00") + col("n01") + col("n02")) -
        (col("n00") + col("n10") + col("n20")))
      .withColumn("d2", (col("n10") + col("n11") + col("n12")) -
        (col("n01") + col("n11") + col("n21")))
      .withColumn("s11",
        (col("n00") + col("n01") + col("n02")) +
          (col("n00") + col("n10") + col("n20")) - lit(2L) * col("n00"))
      .withColumn("s22",
        (col("n10") + col("n11") + col("n12")) +
          (col("n01") + col("n11") + col("n21")) - lit(2L) * col("n11"))
      .withColumn("s12", lit(0L) - (col("n01") + col("n10")))
    m.select(col("n").as("n_pairs"),
      col("d1").as("d_urgent"), col("d2").as("d_medium"),
      round((col("d1").cast("double") * col("d1").cast("double") *
        col("s22").cast("double") -
        lit(2.0) * col("d1").cast("double") * col("d2").cast("double") *
          col("s12").cast("double") +
        col("d2").cast("double") * col("d2").cast("double") *
          col("s11").cast("double")) /
        safe(col("s11").cast("double") * col("s22").cast("double") -
          col("s12").cast("double") * col("s12").cast("double")), 4)
        .as("chi2"),
      lit(2L).as("dof"))
  }

  private val q365Sql =
    """WITH o AS (SELECT o_custkey, o_orderdate, o_orderkey,
           CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0
                WHEN o_orderpriority = '3-MEDIUM' THEN 1
                ELSE 2 END AS c
         FROM orders),
       r AS (SELECT o_custkey, c,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS ra,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC) AS rd
           FROM o),
       fl AS (SELECT o_custkey,
             max(CASE WHEN ra = 1 THEN c END) AS first_c,
             max(CASE WHEN rd = 1 THEN c END) AS last_c,
             count(*) AS k
           FROM r WHERE ra = 1 OR rd = 1
           GROUP BY o_custkey HAVING count(*) = 2),
       cells AS (SELECT first_c, last_c,
             CAST(count(*) AS BIGINT) AS nij
           FROM fl GROUP BY first_c, last_c),
       agg AS (SELECT CAST(sum(nij) AS BIGINT) AS n,
             CAST(sum(CASE WHEN first_c = 0 AND last_c = 0 THEN nij
               ELSE 0 END) AS BIGINT) AS n00,
             CAST(sum(CASE WHEN first_c = 0 AND last_c = 1 THEN nij
               ELSE 0 END) AS BIGINT) AS n01,
             CAST(sum(CASE WHEN first_c = 0 AND last_c = 2 THEN nij
               ELSE 0 END) AS BIGINT) AS n02,
             CAST(sum(CASE WHEN first_c = 1 AND last_c = 0 THEN nij
               ELSE 0 END) AS BIGINT) AS n10,
             CAST(sum(CASE WHEN first_c = 1 AND last_c = 1 THEN nij
               ELSE 0 END) AS BIGINT) AS n11,
             CAST(sum(CASE WHEN first_c = 1 AND last_c = 2 THEN nij
               ELSE 0 END) AS BIGINT) AS n12,
             CAST(sum(CASE WHEN first_c = 2 AND last_c = 0 THEN nij
               ELSE 0 END) AS BIGINT) AS n20,
             CAST(sum(CASE WHEN first_c = 2 AND last_c = 1 THEN nij
               ELSE 0 END) AS BIGINT) AS n21,
             CAST(sum(CASE WHEN first_c = 2 AND last_c = 2 THEN nij
               ELSE 0 END) AS BIGINT) AS n22
           FROM cells),
       m AS (SELECT n,
             (n00 + n01 + n02) - (n00 + n10 + n20) AS d1,
             (n10 + n11 + n12) - (n01 + n11 + n21) AS d2,
             (n00 + n01 + n02) + (n00 + n10 + n20) - 2 * n00 AS s11,
             (n10 + n11 + n12) + (n01 + n11 + n21) - 2 * n11 AS s22,
             0 - (n01 + n10) AS s12
           FROM agg)
       SELECT n AS n_pairs, CAST(d1 AS BIGINT) AS d_urgent,
         CAST(d2 AS BIGINT) AS d_medium,
         round((d1::DOUBLE * d1::DOUBLE * s22::DOUBLE
           - 2.0 * d1::DOUBLE * d2::DOUBLE * s12::DOUBLE
           + d2::DOUBLE * d2::DOUBLE * s11::DOUBLE)
           / greatest(s11::DOUBLE * s22::DOUBLE
             - s12::DOUBLE * s12::DOUBLE, 1e-12), 4) + 0.0 AS chi2,
         CAST(2 AS BIGINT) AS dof
       FROM m"""

  // --------------------------------------------------------------- q366
  /** Yuen's 20%-trimmed-mean two-arm test — the robust location
    * readout when q120's Welch is dragged by the heavy tail and
    * q247's Mann–Whitney answers only "dominates", not "by how much".
    * Everything derives from the per-arm (value, count) table:
    * trimmed/winsorized sums via exact clamped-overlap integers
    * (contrib = (min(cum, n−g) − max(cum−c, g))⁺), the g-th order
    * statistics via conditional MINs over the cumulative counts, and
    * Yuen's t from winsorized variances in one FP closer. No sort of
    * the raw corpus — only arm-partitioned windows over distinct
    * micro-unit values.
    */
  private def q366(s: SparkSession, d: String): DataFrame = {
    val c = armedUnits(s, d).groupBy("y", "u")
      .agg(count(lit(1)).as("c"))
    val wC = Window.partitionBy("y").orderBy("u")
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = c.groupBy("y").agg(sum("c").as("n"))
    val cum = c.withColumn("cum", sum("c").over(wC))
      .join(broadcast(tot), Seq("y"))
      .withColumn("g", floor(col("n").cast("double") * lit(0.2))
        .cast("long"))
    val arm = cum.groupBy("y", "n", "g").agg(
      // wide-intermediate convention: the contrib*u product sums in
      // DECIMAL(38,0) like tsq (a LONG sum overflows silently where
      // the HUGEINT oracle keeps exact — the engines must agree, not
      // diverge, past 63 bits)
      sum(greatest(least(col("cum"), col("n") - col("g")) -
        greatest(col("cum") - col("c"), col("g")), lit(0L)).cast(dec) *
        col("u").cast(dec)).as("tsum"),
      sum(greatest(least(col("cum"), col("n") - col("g")) -
        greatest(col("cum") - col("c"), col("g")), lit(0L)).cast(dec) *
        col("u").cast(dec) * col("u").cast(dec)).as("tsq"),
      min(when(col("cum") >= col("g") + 1, col("u"))).as("lo"),
      min(when(col("cum") >= col("n") - col("g"), col("u"))).as("hi"))
    val st = arm.select(col("y"), col("n"), col("g"),
      (col("n") - lit(2L) * col("g")).as("h"),
      col("tsum"),
      (col("tsum").cast(dec) + col("g").cast(dec) * col("lo").cast(dec) +
        col("g").cast(dec) * col("hi").cast(dec)).as("wsum"),
      (col("tsq") + col("g").cast(dec) * col("lo").cast(dec) *
        col("lo").cast(dec) + col("g").cast(dec) * col("hi").cast(dec) *
        col("hi").cast(dec)).as("wsq"))
    // collapse the 2 arm rows into one readout row
    def pick(cnd: Column, c0: Column) = max(when(cnd, c0))
    val one = st.agg(
      pick(col("y"), col("n")).as("n_a"),
      pick(!col("y"), col("n")).as("n_b"),
      pick(col("y"), col("h")).as("h_a"),
      pick(!col("y"), col("h")).as("h_b"),
      pick(col("y"), col("tsum")).as("ts_a"),
      pick(!col("y"), col("tsum")).as("ts_b"),
      pick(col("y"), col("wsum").cast("double")).as("ws_a"),
      pick(!col("y"), col("wsum").cast("double")).as("ws_b"),
      pick(col("y"), col("wsq").cast("double")).as("wq_a"),
      pick(!col("y"), col("wsq").cast("double")).as("wq_b"))
    // winsorized variance: (Σw² − (Σw)²/n) / (n−1); means back in
    // original units (1e-6 of the micro grid)
    def tmean(ts: Column, h: Column) =
      ts.cast("double") / safe(h.cast("double")) / lit(1e6)
    def wvar(wq: Column, ws: Column, n: Column) =
      (wq - ws * ws / safe(n.cast("double"))) /
        safe(n.cast("double") - lit(1.0))
    val va = wvar(col("wq_a"), col("ws_a"), col("n_a"))
    val vb = wvar(col("wq_b"), col("ws_b"), col("n_b"))
    val se = sqrt(safe(
      va / safe(col("h_a").cast("double") *
        (col("h_a").cast("double") - lit(1.0))) +
      vb / safe(col("h_b").cast("double") *
        (col("h_b").cast("double") - lit(1.0))))) / lit(1e6)
    one.select(col("n_a"), col("n_b"),
      round(tmean(col("ts_a"), col("h_a")), 6).as("trimmed_mean_a"),
      round(tmean(col("ts_b"), col("h_b")), 6).as("trimmed_mean_b"),
      round((tmean(col("ts_a"), col("h_a")) -
        tmean(col("ts_b"), col("h_b"))) / safe(se), 4).as("t_yuen"))
  }

  private val q366Sql =
    s"""WITH b AS ($armedUnitsSql),
       c AS (SELECT y, u, CAST(count(*) AS BIGINT) AS c
             FROM b GROUP BY y, u),
       tot AS (SELECT y, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY y),
       cum AS (SELECT c.y, u, c.c,
               CAST(sum(c.c) OVER (PARTITION BY c.y ORDER BY u
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum,
               n, CAST(floor(n::DOUBLE * 0.2) AS BIGINT) AS g
             FROM c JOIN tot ON tot.y = c.y),
       arm AS (SELECT y, n, g,
               sum(greatest(least(cum, n - g)
                 - greatest(cum - c, g), 0)::HUGEINT * u::HUGEINT)
                 AS tsum,
               sum(greatest(least(cum, n - g)
                 - greatest(cum - c, g), 0)::HUGEINT
                 * u::HUGEINT * u::HUGEINT) AS tsq,
               min(CASE WHEN cum >= g + 1 THEN u END) AS lo,
               min(CASE WHEN cum >= n - g THEN u END) AS hi
             FROM cum GROUP BY y, n, g),
       st AS (SELECT y, n, g, n - 2 * g AS h, tsum,
               tsum::HUGEINT + g::HUGEINT * lo::HUGEINT
                 + g::HUGEINT * hi::HUGEINT AS wsum,
               tsq + g::HUGEINT * lo::HUGEINT * lo::HUGEINT
                 + g::HUGEINT * hi::HUGEINT * hi::HUGEINT AS wsq
             FROM arm),
       one AS (SELECT
               max(CASE WHEN y THEN n END) AS n_a,
               max(CASE WHEN NOT y THEN n END) AS n_b,
               max(CASE WHEN y THEN h END) AS h_a,
               max(CASE WHEN NOT y THEN h END) AS h_b,
               max(CASE WHEN y THEN tsum END) AS ts_a,
               max(CASE WHEN NOT y THEN tsum END) AS ts_b,
               max(CASE WHEN y THEN wsum::DOUBLE END) AS ws_a,
               max(CASE WHEN NOT y THEN wsum::DOUBLE END) AS ws_b,
               max(CASE WHEN y THEN wsq::DOUBLE END) AS wq_a,
               max(CASE WHEN NOT y THEN wsq::DOUBLE END) AS wq_b
             FROM st)
       SELECT n_a, n_b,
         round(ts_a::DOUBLE / greatest(h_a::DOUBLE, 1e-12) / 1e6, 6)
           + 0.0 AS trimmed_mean_a,
         round(ts_b::DOUBLE / greatest(h_b::DOUBLE, 1e-12) / 1e6, 6)
           + 0.0 AS trimmed_mean_b,
         round((ts_a::DOUBLE / greatest(h_a::DOUBLE, 1e-12) / 1e6
             - ts_b::DOUBLE / greatest(h_b::DOUBLE, 1e-12) / 1e6)
           / greatest(sqrt(greatest(
               (wq_a - ws_a * ws_a / greatest(n_a::DOUBLE, 1e-12))
                 / greatest(n_a::DOUBLE - 1.0, 1e-12)
                 / greatest(h_a::DOUBLE * (h_a::DOUBLE - 1.0), 1e-12)
               + (wq_b - ws_b * ws_b / greatest(n_b::DOUBLE, 1e-12))
                 / greatest(n_b::DOUBLE - 1.0, 1e-12)
                 / greatest(h_b::DOUBLE * (h_b::DOUBLE - 1.0), 1e-12),
               1e-12)) / 1e6, 1e-12), 4) + 0.0 AS t_yuen
       FROM one"""

  // --------------------------------------------------------------- q367
  /** Grubbs' max-studentized-deviation test on daily revenue — WHICH
    * single day is the strongest outlier and how many sigmas is it
    * (q101's MAD rule flags many; this names the extreme one with a
    * test statistic). The argmax is exact-integer: |D·x − S| over the
    * day grid (no FP mean in the comparison), earliest day breaks
    * ties; G closes in FP from exact n-scaled moments.
    */
  private def q367(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val days = sc.checkpoint(dayGrid(s, d).select(col("dt"), col("t"), col("rev")))
    val m = days.agg(count(lit(1)).as("dd"),
      sum(col("rev").cast(dec)).as("ss"),
      sum(col("rev").cast(dec) * col("rev").cast(dec)).as("sq"))
    val dev = days.crossJoin(broadcast(m))
      .withColumn("adev",
        abs(col("dd").cast(dec) * col("rev").cast(dec) - col("ss")))
    val mx = dev.agg(max("adev").as("madev"))
    val ddD = col("dd").cast("double")
    sc.keep(dev.crossJoin(broadcast(mx))
      .filter(col("adev") === col("madev"))
      .orderBy("t").limit(1)
      .select(col("dd").as("n_days"), col("dt").as("outlier_date"),
        round(col("rev").cast("double") / lit(100.0), 2)
          .as("revenue_usd"),
        round((col("adev").cast("double") / ddD) /
          safe(sqrt(safe((ddD * col("sq").cast("double") -
            col("ss").cast("double") * col("ss").cast("double")) /
            safe(ddD * (ddD - lit(1.0)))))), 4).as("g_stat")))
  }

  private val q367Sql =
    s"""$dayGridSql,
       m AS (SELECT CAST(count(*) AS BIGINT) AS dd,
             CAST(sum(rev) AS HUGEINT) AS ss,
             sum(rev::HUGEINT * rev::HUGEINT) AS sq
           FROM days),
       dev AS (SELECT days.dt, days.t, days.rev, dd, ss, sq,
             abs(dd::HUGEINT * rev::HUGEINT - ss) AS adev
           FROM days CROSS JOIN m),
       mx AS (SELECT max(adev) AS madev FROM dev)
       SELECT dd AS n_days, dt AS outlier_date,
         round(rev::DOUBLE / 100.0, 2) + 0.0 AS revenue_usd,
         round((adev::DOUBLE / dd::DOUBLE)
           / greatest(sqrt(greatest((dd::DOUBLE * sq::DOUBLE
               - ss::DOUBLE * ss::DOUBLE)
             / greatest(dd::DOUBLE * (dd::DOUBLE - 1.0), 1e-12),
             1e-12)), 1e-12), 4) + 0.0 AS g_stat
       FROM dev CROSS JOIN mx
       WHERE adev = madev ORDER BY t LIMIT 1"""

  /** Shared exact-duplicate fingerprint: md5 of the whitespace-
    * normalized lowercased text (the q363 clustering key). */
  private def dupFp: Column =
    md5(regexp_replace(lower(trim(col("text"))), "\\s+", " "))

  // --------------------------------------------------------------- q368
  /** Duplication profile — the cluster-SIZE histogram behind q35's
    * single dup-rate number: how much of the corpus sits in pairs vs
    * heavy 6+ clusters decides whether near-dup spend is worth it
    * (heavy exact clusters mean cheap hash dedup already wins). One
    * scan → fingerprint sizes → four fixed buckets.
    */
  private def q368(s: SparkSession, d: String): DataFrame = {
    val sizes = Tables.documents(s, d)
      .select(dupFp.as("fp"))
      .groupBy("fp").agg(count(lit(1)).as("sz"))
    val bucket = when(col("sz") === 1, "1_unique")
      .when(col("sz") === 2, "2_pair")
      .when(col("sz") <= 5, "3_small_3_5")
      .otherwise("4_heavy_6_plus")
    sizes.groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n_clusters"), sum("sz").as("n_docs"))
      .orderBy("bucket")
  }

  private val q368Sql =
    """WITH sizes AS (SELECT
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
           CAST(count(*) AS BIGINT) AS sz
         FROM documents GROUP BY 1)
       SELECT CASE WHEN sz = 1 THEN '1_unique'
                WHEN sz = 2 THEN '2_pair'
                WHEN sz <= 5 THEN '3_small_3_5'
                ELSE '4_heavy_6_plus' END AS bucket,
         CAST(count(*) AS BIGINT) AS n_clusters,
         CAST(sum(sz) AS BIGINT) AS n_docs
       FROM sizes GROUP BY 1 ORDER BY bucket"""

  // --------------------------------------------------------------- q369
  /** Term burstiness (Gries' deviation of proportions) for the 200
    * most frequent terms — a term with high DP lives in FEW sources
    * (topical/boilerplate), low DP spreads like a function word; the
    * mixing-weight queries (q76/q291) assume low-DP vocabulary
    * overlap, and this measures where that breaks. Top-200 selection
    * is a deterministic TakeOrdered on (freq desc, term); per-source
    * shares quantize to the 1e-9 grid before the |v−s| sum over the
    * bounded term×source grid.
    */
  private def q369(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val toks = Tables.documents(s, d).select(col("source"),
      explode(graft.functions.TextFunctions.words(lower(col("text"))))
        .as("w"))
    // persist, NOT localCheckpoint: the (term, source) table is
    // vocabulary-sized (the q173 boundary — eager checkpoints only for
    // genuinely small frames), and it feeds three consumers
    val perSrc = sc.cache(toks.groupBy("w", "source").agg(count(lit(1)).as("c")))
    val srcTot = perSrc.groupBy("source").agg(sum("c").as("sc"))
    val allTot = srcTot.agg(sum("sc").as("n"))
    val top = perSrc.groupBy("w").agg(sum("c").as("tf"))
      .orderBy(col("tf").desc, col("w")).limit(200)
    // zero-fill the term×source grid: a term ABSENT from a source
    // still contributes |0 − s_i|
    val grid = top.crossJoin(broadcast(srcTot.crossJoin(broadcast(allTot))))
      .join(perSrc, Seq("w", "source"), "left")
      .select(col("w"), col("tf"),
        floor((abs(coalesce(col("c"), lit(0L)).cast("double") /
          safe(col("tf").cast("double")) -
          col("sc").cast("double") / safe(col("n").cast("double")))) *
          lit(1e9) + lit(0.5)).cast("long").as("du"))
    val result = grid.groupBy("w", "tf").agg(sum("du").as("dsum"))
      .select(col("w").as("term"), col("tf").as("total_freq"),
        round(col("dsum").cast("double") / lit(2e9), 6).as("dp"))
      .orderBy(col("dp").desc, col("term")).limit(10)
    sc.keep(result)
  }

  private val q369Sql =
    """WITH toks AS (SELECT source, unnest(
           regexp_split_to_array(trim(lower(text)), '\s+')) AS w
         FROM documents),
       per_src AS (SELECT w, source, CAST(count(*) AS BIGINT) AS c
             FROM toks GROUP BY w, source),
       src_tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS sc
             FROM per_src GROUP BY source),
       all_tot AS (SELECT CAST(sum(sc) AS BIGINT) AS n FROM src_tot),
       top AS (SELECT w, CAST(sum(c) AS BIGINT) AS tf
             FROM per_src GROUP BY w
             ORDER BY tf DESC, w LIMIT 200),
       grid AS (SELECT top.w, top.tf,
             CAST(floor(abs(coalesce(per_src.c, 0)::DOUBLE
               / greatest(top.tf::DOUBLE, 1e-12)
               - src_tot.sc::DOUBLE / greatest(all_tot.n::DOUBLE,
                 1e-12)) * 1e9 + 0.5) AS BIGINT) AS du
           FROM top CROSS JOIN src_tot CROSS JOIN all_tot
           LEFT JOIN per_src ON per_src.w = top.w
             AND per_src.source = src_tot.source)
       SELECT w AS term, tf AS total_freq,
         round(CAST(sum(du) AS BIGINT)::DOUBLE / 2e9, 6) + 0.0 AS dp
       FROM grid GROUP BY w, tf
       ORDER BY dp DESC, term LIMIT 10"""

  // --------------------------------------------------------------- q370
  /** Prefix-sharing profile — what fraction of documents share their
    * first 8 tokens with another document (the KV-cache / prefix-tree
    * question for serving and the packing question for training:
    * shared prefixes compress). One scan to the 8-token prefix key,
    * one group-size pass; hit-rate = 1 − distinct/total over docs
    * with a full-length prefix.
    */
  private def q370(s: SparkSession, d: String): DataFrame = {
    val w = graft.functions.TextFunctions.words(lower(col("text")))
    val pfx = Tables.documents(s, d)
      .select(array_join(slice(w, 1, 8), " ").as("pfx"),
        size(w).as("nw"))
      .filter(col("nw") >= 8)
    val grp = pfx.groupBy("pfx").agg(count(lit(1)).as("c"))
    grp.agg(sum("c").as("n_docs"),
        count(lit(1)).as("n_prefixes"),
        sum(when(col("c") > 1, col("c")).otherwise(0L))
          .as("docs_sharing"),
        max("c").as("max_group"))
      .select(col("n_docs"), col("n_prefixes"), col("docs_sharing"),
        col("max_group"),
        round(lit(1.0) - col("n_prefixes").cast("double") /
          safe(col("n_docs").cast("double")), 6).as("share_rate"))
  }

  private val q370Sql =
    """WITH arr AS (SELECT
           regexp_split_to_array(trim(lower(text)), '\s+') AS a
         FROM documents),
       pfx AS (SELECT array_to_string(a[1:8], ' ') AS pfx
             FROM arr WHERE len(a) >= 8),
       grp AS (SELECT pfx, CAST(count(*) AS BIGINT) AS c
             FROM pfx GROUP BY pfx)
       SELECT CAST(sum(c) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_prefixes,
         CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
           AS docs_sharing,
         CAST(max(c) AS BIGINT) AS max_group,
         round(1.0 - count(*)::DOUBLE
           / greatest(sum(c)::DOUBLE, 1e-12), 6) + 0.0 AS share_rate
       FROM grp"""

  // --------------------------------------------------------------- q371
  /** Bowker's symmetry test on the q365 first→last priority grid —
    * the stronger null (every i→j flow equals its reverse), χ² =
    * Σ_{i<j}(n_ij−n_ji)²/(n_ij+n_ji), df 3. Shares q365's exact
    * first/last kernel so the two readouts grade the same table.
    */
  private def q371(s: SparkSession, d: String): DataFrame = {
    val cls = when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
      .when(col("o_orderpriority") === "3-MEDIUM", 1L).otherwise(2L)
    val o = Tables.orders(s, d).select(col("o_custkey"),
      col("o_orderdate"), col("o_orderkey"), cls.as("c"))
    val wA = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val wD = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    val fl = o
      .withColumn("ra", row_number().over(wA))
      .withColumn("rd", row_number().over(wD))
      .filter(col("ra") === 1 || col("rd") === 1)
      .groupBy("o_custkey")
      .agg(max(when(col("ra") === 1, col("c"))).as("first_c"),
        max(when(col("rd") === 1, col("c"))).as("last_c"),
        count(lit(1)).as("k"))
      .filter(col("k") === 2)
    val cells = fl.groupBy("first_c", "last_c")
      .agg(count(lit(1)).as("nij"))
    def cell(i: Int, j: Int): Column =
      sum(when(col("first_c") === i && col("last_c") === j,
        col("nij")).otherwise(0L))
    val agg = cells.agg(sum("nij").as("n"),
      cell(0, 1).as("n01"), cell(1, 0).as("n10"),
      cell(0, 2).as("n02"), cell(2, 0).as("n20"),
      cell(1, 2).as("n12"), cell(2, 1).as("n21"))
    def term(a: String, b: String): Column =
      (col(a) - col(b)).cast("double") * (col(a) - col(b)).cast("double") /
        safe((col(a) + col(b)).cast("double"))
    agg.select(col("n").as("n_pairs"),
      round(term("n01", "n10") + term("n02", "n20") +
        term("n12", "n21"), 4).as("chi2"),
      lit(3L).as("dof"))
  }

  private val q371Sql =
    """WITH o AS (SELECT o_custkey, o_orderdate, o_orderkey,
           CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0
                WHEN o_orderpriority = '3-MEDIUM' THEN 1
                ELSE 2 END AS c
         FROM orders),
       r AS (SELECT o_custkey, c,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS ra,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC) AS rd
           FROM o),
       fl AS (SELECT o_custkey,
             max(CASE WHEN ra = 1 THEN c END) AS first_c,
             max(CASE WHEN rd = 1 THEN c END) AS last_c,
             count(*) AS k
           FROM r WHERE ra = 1 OR rd = 1
           GROUP BY o_custkey HAVING count(*) = 2),
       cells AS (SELECT first_c, last_c,
             CAST(count(*) AS BIGINT) AS nij
           FROM fl GROUP BY first_c, last_c),
       agg AS (SELECT CAST(sum(nij) AS BIGINT) AS n,
             CAST(sum(CASE WHEN first_c = 0 AND last_c = 1 THEN nij
               ELSE 0 END) AS BIGINT) AS n01,
             CAST(sum(CASE WHEN first_c = 1 AND last_c = 0 THEN nij
               ELSE 0 END) AS BIGINT) AS n10,
             CAST(sum(CASE WHEN first_c = 0 AND last_c = 2 THEN nij
               ELSE 0 END) AS BIGINT) AS n02,
             CAST(sum(CASE WHEN first_c = 2 AND last_c = 0 THEN nij
               ELSE 0 END) AS BIGINT) AS n20,
             CAST(sum(CASE WHEN first_c = 1 AND last_c = 2 THEN nij
               ELSE 0 END) AS BIGINT) AS n12,
             CAST(sum(CASE WHEN first_c = 2 AND last_c = 1 THEN nij
               ELSE 0 END) AS BIGINT) AS n21
           FROM cells)
       SELECT n AS n_pairs,
         round((n01 - n10)::DOUBLE * (n01 - n10)::DOUBLE
             / greatest((n01 + n10)::DOUBLE, 1e-12)
           + (n02 - n20)::DOUBLE * (n02 - n20)::DOUBLE
             / greatest((n02 + n20)::DOUBLE, 1e-12)
           + (n12 - n21)::DOUBLE * (n12 - n21)::DOUBLE
             / greatest((n12 + n21)::DOUBLE, 1e-12), 4) + 0.0 AS chi2,
         CAST(3 AS BIGINT) AS dof
       FROM agg"""

  // --------------------------------------------------------------- q372
  /** Jonckheere–Terpstra ordered k-group trend — does the value
    * distribution shift MONOTONICALLY across event types in
    * alphabetical order (the ordered alternative q316's Kruskal–Wallis
    * throws away; q347's Page test asks this of BLOCKED ranks, JT of
    * independent groups)? JT = Σ_{i<j} U_ij collapses to one pass over
    * the zero-filled value×group grid: 2·JT = Σ c_g(v)·(2·L + C) with
    * L/C the cross-group prefix sums of below-counts/tie-counts at v —
    * both from PARTITIONed windows (by group over values, by value
    * over groups). The tie-corrected variance closes from exact
    * integer Σn(n−1)(2n+5)-style sums (the q284 tie machinery).
    */
  private def q372(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val x = col("value").cast("double")
    val units = (floor(abs(x) * lit(1e6) + lit(0.5))).cast("long") *
      when(x < 0, -1L).otherwise(1L)
    val b = Tables.events(s, d).filter(col("value").isNotNull)
      .select(col("event_type").as("g"), units.as("u"))
    // cg grows with distinct value cardinality (micro-unit values are
    // near-unique) — persist, never eager-checkpoint, a frame that is
    // not provably small (the q369/q378 measured lesson); the final
    // one-row readout is kept, and the scope releases this handle
    val cg = sc.cache(b.groupBy("g", "u").agg(count(lit(1)).as("c")))
    val grid = cg.select("u").distinct()
      .crossJoin(broadcast(cg.select("g").distinct()))
      .join(cg, Seq("g", "u"), "left")
      .select(col("g"), col("u"), coalesce(col("c"), lit(0L)).as("c"))
    val wV = Window.partitionBy("g").orderBy("u")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wG = Window.partitionBy("u").orderBy("g")
      .rowsBetween(Window.unboundedPreceding, -1)
    val terms = grid
      .withColumn("cumlt", coalesce(sum("c").over(wV), lit(0L)))
      .withColumn("lc", coalesce(sum("cumlt").over(wG), lit(0L)))
      .withColumn("cc", coalesce(sum("c").over(wG), lit(0L)))
    val jt = terms.agg(
      sum(col("c").cast(dec) *
        (lit(2L) * col("lc") + col("cc")).cast(dec)).as("jt2"))
    val sizes = cg.groupBy("g").agg(sum("c").as("ng"))
      .agg(sum("ng").as("n"), count(lit(1)).as("k"),
        sum(col("ng").cast(dec) * col("ng").cast(dec)).as("n2"),
        sum(col("ng").cast(dec) * (col("ng") - lit(1L)).cast(dec) *
          (lit(2L) * col("ng") + lit(5L)).cast(dec)).as("g25"),
        sum(col("ng").cast(dec) * (col("ng") - lit(1L)).cast(dec) *
          (col("ng") - lit(2L)).cast(dec)).as("g12"),
        sum(col("ng").cast(dec) * (col("ng") - lit(1L)).cast(dec))
          .as("g1"))
    val ties = cg.groupBy("u").agg(sum("c").as("t"))
      .agg(
        sum(col("t").cast(dec) * (col("t") - lit(1L)).cast(dec) *
          (lit(2L) * col("t") + lit(5L)).cast(dec)).as("t25"),
        sum(col("t").cast(dec) * (col("t") - lit(1L)).cast(dec) *
          (col("t") - lit(2L)).cast(dec)).as("t12"),
        sum(col("t").cast(dec) * (col("t") - lit(1L)).cast(dec))
          .as("t1"))
    val one = jt.crossJoin(broadcast(sizes)).crossJoin(broadcast(ties))
    val nD = col("n").cast("double")
    val e = (nD * nD - col("n2").cast("double")) / lit(4.0)
    val vr = (nD * (nD - lit(1.0)) * (lit(2.0) * nD + lit(5.0)) -
        col("g25").cast("double") - col("t25").cast("double")) /
        lit(72.0) +
      col("g12").cast("double") * col("t12").cast("double") /
        safe(lit(36.0) * nD * (nD - lit(1.0)) * (nD - lit(2.0))) +
      col("g1").cast("double") * col("t1").cast("double") /
        safe(lit(8.0) * nD * (nD - lit(1.0)))
    val result = one.select(col("n").as("n_obs"), col("k").as("k_groups"),
      round(col("jt2").cast("double") / lit(2.0) / safe(e), 6)
        .as("jt_over_null"),
      round((col("jt2").cast("double") / lit(2.0) - e) /
        safe(sqrt(safe(vr))), 4).as("z"))
    sc.keep(result)
  }

  private val q372Sql =
    """WITH b AS (SELECT event_type AS g,
           CAST(floor(abs(value::DOUBLE) * 1e6 + 0.5) AS BIGINT)
             * (CASE WHEN value::DOUBLE < 0 THEN -1 ELSE 1 END) AS u
         FROM events WHERE value IS NOT NULL),
       cg AS (SELECT g, u, CAST(count(*) AS BIGINT) AS c
             FROM b GROUP BY g, u),
       grid AS (SELECT gs.g, us.u, coalesce(cg.c, 0) AS c
             FROM (SELECT DISTINCT u FROM cg) us
             CROSS JOIN (SELECT DISTINCT g FROM cg) gs
             LEFT JOIN cg ON cg.g = gs.g AND cg.u = us.u),
       terms AS (SELECT g, u, c,
             coalesce(sum(c) OVER (PARTITION BY g ORDER BY u
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cumlt
           FROM grid),
       t2 AS (SELECT g, u, c,
             coalesce(sum(cumlt) OVER (PARTITION BY u ORDER BY g
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS lc,
             coalesce(sum(c) OVER (PARTITION BY u ORDER BY g
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cc
           FROM terms),
       jt AS (SELECT sum(c::HUGEINT * (2 * lc + cc)::HUGEINT) AS jt2
             FROM t2),
       gsz AS (SELECT g, CAST(sum(c) AS BIGINT) AS ng
             FROM cg GROUP BY g),
       sizes AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS k,
             sum(ng::HUGEINT * ng::HUGEINT) AS n2,
             sum(ng::HUGEINT * (ng - 1)::HUGEINT
               * (2 * ng + 5)::HUGEINT) AS g25,
             sum(ng::HUGEINT * (ng - 1)::HUGEINT * (ng - 2)::HUGEINT)
               AS g12,
             sum(ng::HUGEINT * (ng - 1)::HUGEINT) AS g1
           FROM gsz),
       tsz AS (SELECT u, CAST(sum(c) AS BIGINT) AS t
             FROM cg GROUP BY u),
       ties AS (SELECT
             sum(t::HUGEINT * (t - 1)::HUGEINT * (2 * t + 5)::HUGEINT)
               AS t25,
             sum(t::HUGEINT * (t - 1)::HUGEINT * (t - 2)::HUGEINT)
               AS t12,
             sum(t::HUGEINT * (t - 1)::HUGEINT) AS t1
           FROM tsz)
       SELECT n AS n_obs, k AS k_groups,
         round(jt2::DOUBLE / 2.0 / greatest((n::DOUBLE * n::DOUBLE
           - n2::DOUBLE) / 4.0, 1e-12), 6) + 0.0 AS jt_over_null,
         round((jt2::DOUBLE / 2.0 - (n::DOUBLE * n::DOUBLE
             - n2::DOUBLE) / 4.0)
           / greatest(sqrt(greatest(
               (n::DOUBLE * (n::DOUBLE - 1.0) * (2.0 * n::DOUBLE + 5.0)
                 - g25::DOUBLE - t25::DOUBLE) / 72.0
               + g12::DOUBLE * t12::DOUBLE
                 / greatest(36.0 * n::DOUBLE * (n::DOUBLE - 1.0)
                   * (n::DOUBLE - 2.0), 1e-12)
               + g1::DOUBLE * t1::DOUBLE
                 / greatest(8.0 * n::DOUBLE * (n::DOUBLE - 1.0),
                   1e-12), 1e-12)), 1e-12), 4) + 0.0 AS z
       FROM jt CROSS JOIN sizes CROSS JOIN ties"""

  // --------------------------------------------------------------- q373
  /** Cliff's delta per event type — the EFFECT SIZE q247's z cannot
    * give (a huge corpus makes any shift "significant"; δ = 2U/(nm)−1
    * says how big it is on [−1,1]). Shares
    * [[graft.operators.MlEval.mannWhitney]] verbatim, so the U this
    * grades is bit-identical to the one q247 tests.
    */
  private def q373(s: SparkSession, d: String): DataFrame = {
    val x = col("value").cast("double")
    val units = (floor(abs(x) * lit(1e6) + lit(0.5))).cast("long") *
      when(x < 0, -1L).otherwise(1L)
    val arm = graft.operators.Sampling.hashBucket(col("user_id"), "ab", 2)
    val scored = Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(col("event_type"), units.as("u"), (arm === 0).as("y"))
    graft.operators.MlEval
      .mannWhitney(scored, "event_type", "u", "y")
      .select(col("event_type"), col("n_a"), col("n_b"),
        when(col("n_a") > 0 && col("n_b") > 0,
          round(lit(2.0) * col("u_a") /
            safe(col("n_a").cast("double") * col("n_b").cast("double")) -
            lit(1.0), 6)).as("cliffs_delta"))
      .orderBy("event_type")
  }

  private val q373Sql =
    """WITH b AS (SELECT event_type,
           CAST(floor(abs(value::DOUBLE) * 1e6 + 0.5) AS BIGINT)
             * (CASE WHEN value::DOUBLE < 0 THEN -1 ELSE 1 END) AS u,
           (('0x' || substr(md5('ab' || user_id::VARCHAR), 1, 15))::BIGINT
             % 2 = 0) AS y
         FROM events WHERE value IS NOT NULL),
       c AS (SELECT event_type, u,
               CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS a,
               CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS bb
             FROM b GROUP BY event_type, u),
       w AS (SELECT event_type, a, bb,
               coalesce(sum(bb) OVER (PARTITION BY event_type ORDER BY u
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS bbelow
             FROM c),
       agg AS (SELECT event_type,
               CAST(sum(a) AS BIGINT) AS n_a,
               CAST(sum(bb) AS BIGINT) AS n_b,
               sum(a::HUGEINT * (2 * bbelow + bb)) AS u2
             FROM w GROUP BY event_type)
       SELECT event_type, n_a, n_b,
         CASE WHEN n_a > 0 AND n_b > 0 THEN
           round(2.0 * (u2::DOUBLE / 2.0)
             / greatest(n_a::DOUBLE * n_b::DOUBLE, 1e-12) - 1.0, 6)
             + 0.0
         END AS cliffs_delta
       FROM agg ORDER BY event_type"""

  // --------------------------------------------------------------- q374
  /** Paired sign test on week-over-week revenue — the
    * assumption-free companion to q339's Wilcoxon (which still needs
    * symmetric differences): just "did revenue go UP more weeks than
    * down", zero-diff weeks dropped, binomial normal z. Weeks are
    * t÷7 blocks of the zero-filled day grid; all counts exact.
    */
  private def q374(s: SparkSession, d: String): DataFrame = {
    val days = dayGrid(s, d).select(col("t"), col("rev"))
    val weeks = days
      .withColumn("w", floor(col("t").cast("double") / lit(7.0))
        .cast("long"))
      .groupBy("w").agg(sum("rev").as("wrev"), count(lit(1)).as("nd"))
      .filter(col("nd") === 7) // complete weeks only
    val lag = weeks.select((col("w") + lit(1L)).as("w"),
      col("wrev").as("prev"))
    val diffs = weeks.join(lag, Seq("w"))
      .select((col("wrev") - col("prev")).as("dr"))
      .filter(col("dr") =!= 0L)
    val agg = diffs.agg(count(lit(1)).as("n"),
      sum(when(col("dr") > 0, 1L).otherwise(0L)).as("n_pos"))
    agg.select(col("n").as("n_weeks"), col("n_pos"),
      (col("n") - col("n_pos")).as("n_neg"),
      round((col("n_pos").cast("double") -
        (col("n") - col("n_pos")).cast("double")) /
        safe(sqrt(safe(col("n").cast("double")))), 4).as("z"))
  }

  private val q374Sql =
    s"""$dayGridSql,
       weeks AS (SELECT CAST(floor(t::DOUBLE / 7.0) AS BIGINT) AS w,
             CAST(sum(rev) AS BIGINT) AS wrev,
             CAST(count(*) AS BIGINT) AS nd
           FROM days GROUP BY 1 HAVING count(*) = 7),
       diffs AS (SELECT w1.wrev - w0.wrev AS dr
           FROM weeks w1 JOIN weeks w0 ON w1.w = w0.w + 1
           WHERE w1.wrev - w0.wrev <> 0),
       agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN dr > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pos
           FROM diffs)
       SELECT n AS n_weeks, n_pos, n - n_pos AS n_neg,
         round((n_pos::DOUBLE - (n - n_pos)::DOUBLE)
           / greatest(sqrt(greatest(n::DOUBLE, 1e-12)), 1e-12), 4)
           + 0.0 AS z
       FROM agg"""

  // --------------------------------------------------------------- q375
  /** Mood's median test — do the event types differ in the COARSEST
    * location sense (each group's share above the one GLOBAL median),
    * the robust sanity row next to q316's rank-powered H? The global
    * median is an exact order statistic from a two-level bucketed
    * prefix (approx-percentile buckets → in-bucket window + broadcast
    * offsets — no single-partition sort over the distinct-value
    * table); the k×2 χ² closes from per-group 1e-6-quantized terms.
    */
  private def q375(s: SparkSession, d: String): DataFrame = {
    val x = col("value").cast("double")
    val units = (floor(abs(x) * lit(1e6) + lit(0.5))).cast("long") *
      when(x < 0, -1L).otherwise(1L)
    val b = Tables.events(s, d).filter(col("value").isNotNull)
      .select(col("event_type").as("g"), units.as("u"))
    val cu = b.groupBy("u").agg(count(lit(1)).as("t"))
    // two-level global prefix over distinct values (bounded buckets)
    val boundsDf = cu.agg(expr(
      "cast(approx_percentile(u, array(" +
        (1 until 32).map(_ / 32.0).mkString(",") +
        "), 1000) as array<double>)").as("bounds"))
    val bucketed = cu.crossJoin(broadcast(boundsDf))
      .withColumn("bk", aggregate(col("bounds"), lit(0),
        (acc, bo) => acc + when(col("u").cast("double") > bo, 1)
          .otherwise(0)))
      .drop("bounds")
    val offW = Window.orderBy("bk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy("bk").agg(sum("t").as("tn"))
      .withColumn("ob", coalesce(sum("tn").over(offW), lit(0L)))
      .select("bk", "ob")
    val inB = Window.partitionBy("bk").orderBy("u")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = bucketed.join(broadcast(offsets), Seq("bk"))
      .withColumn("cum", sum("t").over(inB) + col("ob"))
    val nTot = cu.agg(sum("t").as("n"))
    // integer rank target: Spark `/` is FP division (the q250 pitfall)
    // — floor to mirror DuckDB's `(n+1)//2`
    val med = cum.crossJoin(broadcast(nTot))
      .filter(col("cum") >=
        floor((col("n") + lit(1L)).cast("double") / lit(2.0)).cast("long"))
      .agg(min("u").as("med"))
    val grp = b.crossJoin(broadcast(med))
      .groupBy("g")
      .agg(count(lit(1)).as("ng"),
        sum(when(col("u") > col("med"), 1L).otherwise(0L)).as("ag"))
    val tot = grp.agg(sum("ng").as("n"), sum("ag").as("a"),
      count(lit(1)).as("k"))
    // per-group chi2 terms quantized before the k-row sum
    val terms = grp.crossJoin(broadcast(tot))
      .withColumn("ea", col("ng").cast("double") *
        col("a").cast("double") / safe(col("n").cast("double")))
      .withColumn("eb", col("ng").cast("double") *
        (col("n") - col("a")).cast("double") /
        safe(col("n").cast("double")))
      .withColumn("tu", floor(
        ((col("ag").cast("double") - col("ea")) *
          (col("ag").cast("double") - col("ea")) / safe(col("ea")) +
          ((col("ng") - col("ag")).cast("double") - col("eb")) *
          ((col("ng") - col("ag")).cast("double") - col("eb")) /
          safe(col("eb"))) * lit(1e6) + lit(0.5)).cast("long"))
    terms.groupBy("n", "k").agg(sum("tu").as("chi2u"))
      .crossJoin(broadcast(med))
      .select(col("n").as("n_obs"), col("k").as("k_groups"),
        round(col("med").cast("double") / lit(1e6), 6)
          .as("global_median"),
        round(col("chi2u").cast("double") / lit(1e6), 4).as("chi2"),
        (col("k") - lit(1L)).as("dof"))
  }

  private val q375Sql =
    """WITH b AS (SELECT event_type AS g,
           CAST(floor(abs(value::DOUBLE) * 1e6 + 0.5) AS BIGINT)
             * (CASE WHEN value::DOUBLE < 0 THEN -1 ELSE 1 END) AS u
         FROM events WHERE value IS NOT NULL),
       cu AS (SELECT u, CAST(count(*) AS BIGINT) AS t
             FROM b GROUP BY u),
       cum AS (SELECT u,
               CAST(sum(t) OVER (ORDER BY u
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum
             FROM cu),
       ntot AS (SELECT CAST(sum(t) AS BIGINT) AS n FROM cu),
       med AS (SELECT min(u) AS med FROM cum, ntot
             WHERE cum >= (n + 1) // 2),
       grp AS (SELECT g, CAST(count(*) AS BIGINT) AS ng,
               CAST(sum(CASE WHEN u > med THEN 1 ELSE 0 END) AS BIGINT)
                 AS ag
             FROM b, med GROUP BY g),
       tot AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
               CAST(sum(ag) AS BIGINT) AS a,
               CAST(count(*) AS BIGINT) AS k
             FROM grp),
       terms AS (SELECT ng, ag, n, k,
               CAST(floor(((ag::DOUBLE - ng::DOUBLE * a::DOUBLE
                   / greatest(n::DOUBLE, 1e-12))
                 * (ag::DOUBLE - ng::DOUBLE * a::DOUBLE
                   / greatest(n::DOUBLE, 1e-12))
                 / greatest(ng::DOUBLE * a::DOUBLE
                   / greatest(n::DOUBLE, 1e-12), 1e-12)
                 + ((ng - ag)::DOUBLE - ng::DOUBLE * (n - a)::DOUBLE
                   / greatest(n::DOUBLE, 1e-12))
                 * ((ng - ag)::DOUBLE - ng::DOUBLE * (n - a)::DOUBLE
                   / greatest(n::DOUBLE, 1e-12))
                 / greatest(ng::DOUBLE * (n - a)::DOUBLE
                   / greatest(n::DOUBLE, 1e-12), 1e-12)) * 1e6 + 0.5)
                 AS BIGINT) AS tu
             FROM grp CROSS JOIN tot),
       fin AS (SELECT n, k, CAST(sum(tu) AS BIGINT) AS chi2u,
               max(med.med) AS med
             FROM terms, med GROUP BY n, k)
       SELECT n AS n_obs, k AS k_groups,
         round(med::DOUBLE / 1e6, 6) + 0.0 AS global_median,
         round(chi2u::DOUBLE / 1e6, 4) + 0.0 AS chi2,
         k - 1 AS dof
       FROM fin"""

  // --------------------------------------------------------------- q376
  /** Cross-lingual near-duplicate matrix — how many of q36's banded
    * MinHash pairs CROSS a language boundary (machine-translated or
    * language-mislabeled twins; same-language pairs are ordinary dups,
    * cross-language ones poison per-language mixing budgets and
    * leak eval translations). Reuses the q36 kernel verbatim; the
    * lang lookup joins by id; the pair's language key is
    * order-normalized (least/greatest).
    */
  private def q376(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val pairs = graft.Kernels.minhashPairs(s, d, threshold = 0.8)
      .select("doc_a", "doc_b")
    val langs = docs.select(col("doc_id"), col("lang"))
    pairs
      .join(langs.select(col("doc_id").as("doc_a"),
        col("lang").as("la")), "doc_a")
      .join(langs.select(col("doc_id").as("doc_b"),
        col("lang").as("lb")), "doc_b")
      .groupBy(least(col("la"), col("lb")).as("lang_a"),
        greatest(col("la"), col("lb")).as("lang_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("cross_lingual", col("lang_a") =!= col("lang_b"))
      .orderBy("lang_a", "lang_b")
  }

  private val q376Sql =
    s"""WITH RECURSIVE p AS (${Pipeline.q36Core}),
       l AS (SELECT doc_id, lang FROM documents)
       SELECT least(a.lang, b.lang) AS lang_a,
         greatest(a.lang, b.lang) AS lang_b,
         CAST(count(*) AS BIGINT) AS n_pairs,
         least(a.lang, b.lang) <> greatest(a.lang, b.lang)
           AS cross_lingual
       FROM p JOIN l a ON a.doc_id = p.doc_a
       JOIN l b ON b.doc_id = p.doc_b
       GROUP BY 1, 2 ORDER BY lang_a, lang_b"""

  // --------------------------------------------------------------- q377
  /** Duplicate selection bias — are exact duplicates systematically
    * SHORTER than unique documents (they usually are: templates,
    * boilerplate, empty shells), quantified as the point-biserial
    * correlation between dup membership and token count? Dedup then
    * changes the length distribution, which shifts packing (q75) and
    * token budgets (q292) — this measures that shift before you pay
    * it. Fingerprint sizes from the q363 key; exact integer moments;
    * r_pb = (m₁−m₀)·√(n₁n₀)/ (s·n) in one FP closer.
    */
  private def q377(s: SparkSession, d: String): DataFrame = {
    val w = graft.functions.TextFunctions.words(col("text"))
    val base = Tables.documents(s, d).select(col("doc_id"),
      dupFp.as("fp"), size(w).cast("long").as("toks"))
    val sized = base.join(
      base.groupBy("fp").agg(count(lit(1)).as("sz")), "fp")
      .select(col("toks"), (col("sz") > 1).as("dup"))
    val agg = sized.agg(count(lit(1)).as("n"),
      sum(when(col("dup"), 1L).otherwise(0L)).as("n1"),
      sum(when(col("dup"), col("toks")).otherwise(0L)).as("s1"),
      sum(col("toks")).as("st"),
      sum(col("toks").cast(dec) * col("toks").cast(dec)).as("sq"))
    val nD = col("n").cast("double")
    val n1D = col("n1").cast("double")
    val n0D = (col("n") - col("n1")).cast("double")
    val m1 = col("s1").cast("double") / safe(n1D)
    val m0 = (col("st") - col("s1")).cast("double") / safe(n0D)
    val sd = sqrt(safe((nD * col("sq").cast("double") -
      col("st").cast("double") * col("st").cast("double")) /
      safe(nD * nD)))
    agg.select(col("n").as("n_docs"), col("n1").as("n_dup"),
      round(m1, 4).as("mean_tokens_dup"),
      round(m0, 4).as("mean_tokens_unique"),
      when(col("n1") > 0 && col("n") > col("n1"),
        round((m1 - m0) / safe(sd) * sqrt(safe(n1D * n0D)) / safe(nD), 6))
        .as("r_pb"))
  }

  private val q377Sql =
    """WITH base AS (SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
           CAST(len(regexp_split_to_array(trim(text), '\s+'))
             AS BIGINT) AS toks
         FROM documents),
       szs AS (SELECT fp, CAST(count(*) AS BIGINT) AS sz
             FROM base GROUP BY fp),
       sized AS (SELECT toks, sz > 1 AS dup
             FROM base JOIN szs ON szs.fp = base.fp),
       agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT)
               AS n1,
             CAST(sum(CASE WHEN dup THEN toks ELSE 0 END) AS BIGINT)
               AS s1,
             CAST(sum(toks) AS BIGINT) AS st,
             sum(toks::HUGEINT * toks::HUGEINT) AS sq
           FROM sized)
       SELECT n AS n_docs, n1 AS n_dup,
         round(s1::DOUBLE / greatest(n1::DOUBLE, 1e-12), 4) + 0.0
           AS mean_tokens_dup,
         round((st - s1)::DOUBLE / greatest((n - n1)::DOUBLE, 1e-12),
           4) + 0.0 AS mean_tokens_unique,
         CASE WHEN n1 > 0 AND n > n1 THEN
           round((s1::DOUBLE / greatest(n1::DOUBLE, 1e-12)
               - (st - s1)::DOUBLE / greatest((n - n1)::DOUBLE, 1e-12))
             / greatest(sqrt(greatest((n::DOUBLE * sq::DOUBLE
                 - st::DOUBLE * st::DOUBLE)
               / greatest(n::DOUBLE * n::DOUBLE, 1e-12), 1e-12)),
               1e-12)
             * sqrt(greatest(n1::DOUBLE * (n - n1)::DOUBLE, 1e-12))
             / greatest(n::DOUBLE, 1e-12), 6) + 0.0
         END AS r_pb
       FROM agg"""

  // --------------------------------------------------------------- q378
  /** Token n-gram entropy ladder — H(unigram), H(next|1-gram),
    * H(next|2-gram): how predictable is the corpus at increasing
    * context (q98 measures characters per doc; q327 event streams;
    * this is the corpus-level token ladder that perplexity filters
    * (q212) and n-gram LMs (q138/q306) implicitly assume). Each level
    * is one n-gram count table; plug-in entropy terms quantize to the
    * 1e-9 grid before summation; conditional entropies close by
    * subtraction of exact grid sums.
    */
  private def q378(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    // persist, NOT localCheckpoint: the tokenized corpus is
    // corpus-sized (the q173 boundary), read once per n-gram level
    val w = graft.functions.TextFunctions.words(lower(col("text")))
    val docsW = sc.cache(Tables.documents(s, d).select(w.as("w")))
    def grams(n: Int): DataFrame =
      if (n == 1) docsW.select(explode(col("w")).as("g"))
      else docsW
        .select(explode(expr(
          s"transform(slice(w, 1, greatest(size(w) - ${n - 1}, 0)), " +
            s"(x, i) -> concat_ws(' ', slice(w, i + 1, $n)))")).as("g"))
    def hUnits(df: DataFrame): DataFrame = {
      val cnt = df.groupBy("g").agg(count(lit(1)).as("c"))
      val tot = cnt.agg(sum("c").as("nt"))
      cnt.crossJoin(broadcast(tot))
        .select(floor(col("c").cast("double") /
          col("nt").cast("double") *
          (log(2.0, col("nt").cast("double")) -
            log(2.0, col("c").cast("double"))) * lit(1e9) +
          lit(0.5)).cast("long").as("tu"))
        .agg(sum("tu").as("hu"))
    }
    val one = hUnits(grams(1)).select(col("hu").as("h1u"))
      .crossJoin(broadcast(hUnits(grams(2)).select(col("hu").as("h2u"))))
      .crossJoin(broadcast(hUnits(grams(3)).select(col("hu").as("h3u"))))
    val result = one.select(
      round(col("h1u").cast("double") / lit(1e9), 6).as("h_unigram"),
      round((col("h2u") - col("h1u")).cast("double") / lit(1e9), 6)
        .as("h_cond_1"),
      round((col("h3u") - col("h2u")).cast("double") / lit(1e9), 6)
        .as("h_cond_2"))
    sc.keep(result)
  }

  private val q378Sql = {
    def gram(n: Int, name: String) =
      if (n == 1)
        s"""$name AS (SELECT unnest(arr) AS g FROM arr_t)"""
      else
        s"""$name AS (SELECT array_to_string(arr[i + 1:i + $n], ' ')
               AS g
             FROM (SELECT arr,
                     unnest(range(0, greatest(len(arr) - ${n - 1}, 0)))
                       AS i
                   FROM arr_t))"""
    def h(src: String, name: String) =
      s"""$name AS (SELECT CAST(sum(CAST(floor(c::DOUBLE / nt::DOUBLE
             * (log2(nt::DOUBLE) - log2(c::DOUBLE)) * 1e9 + 0.5)
             AS BIGINT)) AS BIGINT) AS hu
           FROM (SELECT g, CAST(count(*) AS BIGINT) AS c
                 FROM $src GROUP BY g) cnt,
                (SELECT CAST(count(*) AS BIGINT) AS nt FROM $src) tot)"""
    s"""WITH arr_t AS (SELECT
           regexp_split_to_array(trim(lower(text)), '\\s+') AS arr
         FROM documents),
       ${gram(1, "g1")}, ${gram(2, "g2")}, ${gram(3, "g3")},
       ${h("g1", "h1")}, ${h("g2", "h2")}, ${h("g3", "h3")}
       SELECT round(h1.hu::DOUBLE / 1e9, 6) + 0.0 AS h_unigram,
         round((h2.hu - h1.hu)::DOUBLE / 1e9, 6) + 0.0 AS h_cond_1,
         round((h3.hu - h2.hu)::DOUBLE / 1e9, 6) + 0.0 AS h_cond_2
       FROM h1, h2, h3"""
  }

  // --------------------------------------------------------------- q379
  /** Pipeline-order bias: dedup→sample vs sample→dedup. The two
    * orders differ exactly when a duplicate cluster straddles the
    * 10% hash-sample boundary — dedup-first keeps only clusters whose
    * REPRESENTATIVE samples in; sample-first re-deduplicates inside
    * the sample and keeps one member of every straddling cluster.
    * The delta is the doc count a pipeline silently gains or loses by
    * reordering two "commuting" stages. Shares the q363 fingerprint
    * and representative rule.
    */
  private def q379(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val w = graft.functions.TextFunctions.words(col("text"))
    // one row per document — corpus-proportional, so persist (lazy,
    // spillable) rather than eager-checkpoint (the q369/q378 measured
    // lesson: eager materialization of non-small frames ran 4× slower)
    val base = sc.cache(Tables.documents(s, d).select(col("doc_id"),
      dupFp.as("fp"), size(array_distinct(w)).cast("long").as("q")))
    val wF = Window.partitionBy("fp")
      .orderBy(col("q").desc, col("doc_id"))
    val inSample = graft.operators.Sampling
      .hashBucket(col("doc_id"), "s10", 10) === 0
    val marked = base
      .withColumn("rep", row_number().over(wF) === 1)
      .withColumn("samp", inSample)
    val dedupFirst = marked.filter(col("rep") && col("samp"))
      .agg(count(lit(1)).as("kept_dedup_then_sample"))
    val sampleFirst = marked.filter(col("samp"))
      .groupBy("fp").agg(count(lit(1)).as("k"))
      .agg(count(lit(1)).as("kept_sample_then_dedup"))
    val tot = marked.agg(count(lit(1)).as("n_docs"),
      sum(when(col("samp"), 1L).otherwise(0L)).as("n_sampled"))
    val result = tot.crossJoin(broadcast(dedupFirst))
      .crossJoin(broadcast(sampleFirst))
      .select(col("n_docs"), col("n_sampled"),
        col("kept_dedup_then_sample"), col("kept_sample_then_dedup"),
        (col("kept_sample_then_dedup") - col("kept_dedup_then_sample"))
          .as("order_bias"))
    sc.keep(result)
  }

  private val q379Sql =
    """WITH base AS (SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
           CAST(len(list_distinct(regexp_split_to_array(trim(text),
             '\s+'))) AS BIGINT) AS q
         FROM documents),
       marked AS (SELECT doc_id, fp,
             (row_number() OVER (PARTITION BY fp
               ORDER BY q DESC, doc_id) = 1) AS rep,
             (('0x' || substr(md5('s10' || doc_id::VARCHAR), 1, 15))
               ::BIGINT % 10 = 0) AS samp
           FROM base),
       df AS (SELECT CAST(count(*) AS BIGINT) AS kept_dedup_then_sample
             FROM marked WHERE rep AND samp),
       sf AS (SELECT CAST(count(*) AS BIGINT) AS kept_sample_then_dedup
             FROM (SELECT fp FROM marked WHERE samp GROUP BY fp) t),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN samp THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sampled
           FROM marked)
       SELECT n_docs, n_sampled, kept_dedup_then_sample,
         kept_sample_then_dedup,
         kept_sample_then_dedup - kept_dedup_then_sample AS order_bias
       FROM tot CROSS JOIN df CROSS JOIN sf"""

  // --------------------------------------------------------------- q380
  /** ANN index build + query ROUND-TRIP through the lake layout
    * (VERDICT r12 item 6: q185 × q52): the IVF index is PERSISTED —
    * embeddings written `partitionBy(cell)` with the centroid table
    * stored alongside as index metadata — and a 20-query batch runs
    * against the READ-BACK index, routing on the stored centroids and
    * scanning only the probed partitions (static partition pruning on
    * the collected probe-cell set; ProbesPlanSpec pins
    * `PartitionFilters` on the cells scan). The graded value is the
    * full top-5 neighbor list per query, so layout round-trip (vector
    * bit-exactness through the partitioned write), metadata round-trip
    * (centroids), routing, pruning, and in-cell ranking all sit inside
    * the driver's hash check — an index that rots on disk cannot stay
    * green. SimilaritySpec additionally asserts the round-trip equals
    * the in-memory [[graft.operators.Similarity.knnIvf]] verbatim.
    */
  private def q380(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    // per-run unique index dir (the q186 convention): the small result
    // is kept eagerly, then the scope deletes the scratch
    val dir = sc.tempDir("graft_q380_ivf")
    val emb = Tables.embeddings(s, d)
    graft.operators.Similarity
      .ivfIndexBuild(emb, "vec_id", "embedding", "label", dir)
    val res = graft.operators.Similarity
      .ivfIndexQuery(emb.filter(col("vec_id") < 20), "vec_id", "embedding",
        dir, k = 5, nprobe = 2)
      .withColumn("rank", col("rank").cast("int"))
      .orderBy("query_id", "rank")
    sc.keep(res)
  }

  private val q380Sql =
    """WITH cent AS (
         SELECT cell, list(c ORDER BY i) AS cvec FROM (
           SELECT cell, i, avg(CAST(v AS DOUBLE)) AS c
           FROM (SELECT label AS cell, unnest(embedding) AS v,
                   generate_subscripts(embedding, 1) AS i
                 FROM embeddings) u
           GROUP BY cell, i) a
         GROUP BY cell),
       q AS (SELECT vec_id AS query_id, embedding AS qv,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS qn
             FROM embeddings WHERE vec_id < 20),
       probes AS (
         SELECT query_id, qv, qn, cell FROM (
           SELECT q.query_id, q.qv, q.qn, cent.cell,
             row_number() OVER (PARTITION BY q.query_id ORDER BY
               round(list_dot_product(CAST(q.qv AS DOUBLE[]), cvec)
                 / (q.qn * sqrt(list_dot_product(cvec, cvec))), 4) DESC,
               cent.cell ASC) AS crank
           FROM q, cent) p
         WHERE crank <= 2)
       SELECT query_id, neighbor_id, cosine, CAST(rn AS INT) AS rank
       FROM (
         SELECT p.query_id, e.vec_id AS neighbor_id,
           round(list_dot_product(CAST(p.qv AS DOUBLE[]),
                                  CAST(e.embedding AS DOUBLE[]))
             / (p.qn * sqrt(list_dot_product(
                 CAST(e.embedding AS DOUBLE[]),
                 CAST(e.embedding AS DOUBLE[])))), 4) AS cosine,
           row_number() OVER (PARTITION BY p.query_id ORDER BY
             round(list_dot_product(CAST(p.qv AS DOUBLE[]),
                                    CAST(e.embedding AS DOUBLE[]))
               / (p.qn * sqrt(list_dot_product(
                   CAST(e.embedding AS DOUBLE[]),
                   CAST(e.embedding AS DOUBLE[])))), 4) DESC,
             e.vec_id ASC) AS rn
         FROM probes p JOIN embeddings e
           ON e.label = p.cell AND e.vec_id != p.query_id) r
       WHERE rn <= 5
       ORDER BY query_id, rank"""

  // --------------------------------------------------------------- q381
  /** LSH ANN recall harness: the multi-probe sign-LSH index (q41's
    * kernel, 50 queries) graded per query against the exact
    * brute-force top-5 — recall@5 as a driver-graded query, closing
    * the same "the index can't silently rot" discipline q218 applies
    * to the IVF path. Both sides are one broadcast of the query batch
    * against a single corpus scan (candidates from the bucket
    * equi-join on the LSH side), so the harness itself carries the
    * sampled-eval 100 TB shape. The oracle is GENERATED with the
    * plane-matrix literals (the q41/q53 convention), so bucket bits,
    * hamming-1 probes, ranking AND the recall arithmetic are all
    * value-checked end to end.
    */
  private def q381(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val qs = emb.filter(col("vec_id") < 50)
    val exact = graft.operators.Similarity
      .knnBruteForce(emb, qs, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id")
    val approx = graft.operators.Similarity
      .knnLsh(emb, qs, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id")
    val hits = approx.join(exact, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("h"))
    qs.select(col("vec_id").as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("h"), lit(0L)).cast("int").as("n_hits"),
        round(coalesce(col("h"), lit(0L)).cast("double") / lit(5.0), 4)
          .as("recall"))
      .orderBy("query_id")
  }

  private val q381Sql: String = {
    val (bucketExpr, probeList) = Pipeline.lshBucketSql(6, 64)
    s"""WITH c AS (SELECT vec_id, embedding, $bucketExpr AS bucket,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
         FROM embeddings),
       q AS (SELECT vec_id, embedding, bucket, nrm FROM c WHERE vec_id < 50),
       probes AS (SELECT vec_id, embedding, nrm,
                    unnest($probeList) AS pb FROM q),
       acand AS (SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
                  round(list_dot_product(CAST(p.embedding AS DOUBLE[]),
                                         CAST(c.embedding AS DOUBLE[]))
                        / (p.nrm * c.nrm), 4) AS cosine
                FROM probes p JOIN c
                  ON c.bucket = p.pb AND c.vec_id != p.vec_id),
       approx AS (SELECT query_id, neighbor_id FROM (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id ASC) AS rn
           FROM acand) t
         WHERE rn <= 5),
       exact AS (SELECT query_id, neighbor_id FROM (
           SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               round(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[]))
                 / (q.nrm * sqrt(list_dot_product(
                     CAST(e.embedding AS DOUBLE[]),
                     CAST(e.embedding AS DOUBLE[])))), 4) DESC,
               e.vec_id ASC) AS rn
           FROM q JOIN embeddings e ON e.vec_id != q.vec_id) t
         WHERE rn <= 5),
       hits AS (SELECT a.query_id, CAST(count(*) AS BIGINT) AS h
                FROM approx a JOIN exact e
                  ON a.query_id = e.query_id
                 AND a.neighbor_id = e.neighbor_id
                GROUP BY a.query_id)
       SELECT qq.vec_id AS query_id,
         CAST(coalesce(h, 0) AS INT) AS n_hits,
         round(coalesce(h, 0)::DOUBLE / 5.0, 4) AS recall
       FROM (SELECT vec_id FROM embeddings WHERE vec_id < 50) qq
       LEFT JOIN hits ON hits.query_id = qq.vec_id
       ORDER BY query_id"""
  }

  // --------------------------------------------------------------- q382
  /** Mergeable quantile-sketch ROLLUP (VERDICT r13 item 6: the approx
    * companion to q165's HLL register rollup — q66/q170 cover only the
    * exact regime). The sketch is a deterministic bottom-k-by-hash
    * sample (k = 64): a group's sketch is the k rows with the smallest
    * 48-bit salted md5 of the row id, and quantile estimates are exact
    * order statistics OF THE SKETCH. Bottom-k-by-hash is the
    * order-independent mergeable design — KLL/t-digest compaction is
    * arrival-order-dependent, which no cross-engine value oracle can
    * replay — and it obeys the exact MERGE LAW `sketch(A ∪ B) =
    * bottomK(sketch(A) ∪ sketch(B))`, since each of the parent's k
    * smallest hashes is among its own child's k smallest.
    *
    * The engine computes the hierarchy the mergeable way: leaf
    * (flag × status) sketches from ONE corpus pass through the q94
    * map-side bounded top-k Aggregator (the exchange carries ≤
    * groups·partitions·k rows, never the corpus), then flag-level and
    * global sketches by MERGING the leaf sketch rows (≤ 384 of them)
    * — the corpus is not rescanned above the leaves, exactly how a
    * 100 TB "quantiles by any period" rollup must work. The ORACLE
    * computes every level's sketch directly from the full table, so
    * the driver's hash gate grades the merge law itself, not a replay
    * of the engine's steps. The 60-bit row hash (token60 of the
    * unique key quad) rides the Aggregator's double ord slot with the
    * exact long as tie-break — double rounding is monotone, so the
    * combined order IS exact-h order; rank cuts are integer forms
    * ((n+1) DIV 2, (9n+9) DIV 10) so no FP ceil can straddle engines.
    * Exact counts ride along per level for context (and pin that the
    * leaf pass saw every row).
    */
  private def q382(s: SparkSession, d: String): DataFrame = {
    val k = 64
    // row key: the synthetic lineitem carries duplicate (orderkey,
    // linenumber) pairs (measured: up to 6 copies, different prices),
    // so the hash keys the full unique quad. The ONE 60-bit hash is
    // sample order, tie-break AND re-attach join key: ordering by
    // (double(h) desc-negated, h asc) in the bounded aggregate equals
    // exact-h order (double rounding is monotone; double-ties resolve
    // on the exact long), so the engine-side cut is the oracle's
    // ORDER BY h bit-for-bit.
    //
    // The leaf sketch is the PERSISTED SKETCH TABLE
    // ([[graft.Kernels.lineitemLeafSketch]], shared with q383's
    // weighted estimator — selection is hash-only, so one stored
    // sample serves both): sketch rows AND the exact per-group row
    // counts come out of ONE corpus pass through the bounded map-side
    // top-k aggregate, and every rollup level below merges those ≤
    // groups·k rows — the corpus is never rescanned above the leaves.
    val leaf0 = graft.Kernels.lineitemLeafSketch(s, d, k)
    val leaf = leaf0.select(col("flag"), col("status"), col("vc"),
      col("h"))
    // parent sketches by MERGE: windows over ≤ groups·k sketch rows
    val wFlag = Window.partitionBy("flag").orderBy(col("h"))
    val flagSk = leaf.withColumn("rn", row_number().over(wFlag))
      .filter(col("rn") <= k).drop("rn")
      .withColumn("status", lit("ALL"))
    val wAll = Window.partitionBy(lit(1)).orderBy(col("h"))
    val allSk = flagSk.withColumn("rn", row_number().over(wAll))
      .filter(col("rn") <= k).drop("rn")
      .withColumn("flag", lit("ALL"))
    // exact order statistics of each sketch (integer rank cuts)
    def ests(sk: DataFrame, level: String): DataFrame = {
      val part = Window.partitionBy("flag", "status")
      val wv = part.orderBy(col("vc").asc, col("h").asc)
      sk.withColumn("ns", count(lit(1)).over(part))
        .withColumn("vr", row_number().over(wv))
        .groupBy("flag", "status")
        .agg(max(col("ns")).as("n_sample"),
          min(when(col("vr") === expr("(ns + 1) div 2"), col("vc")))
            .as("p50_cents"),
          min(when(col("vr") === expr("(9 * ns + 9) div 10"), col("vc")))
            .as("p90_cents"))
        .withColumn("level", lit(level))
    }
    // exact per-leaf counts recovered from the sketch rows (the value
    // is constant within a group, so distinct gives one row per leaf)
    val leafN = leaf0.select(col("flag"), col("status"),
      col("n_exact_g").as("n_exact")).distinct()
    val counts = leafN.withColumn("level", lit("1_leaf"))
      .unionByName(leafN.groupBy("flag")
        .agg(sum(col("n_exact")).as("n_exact"))
        .withColumn("status", lit("ALL"))
        .withColumn("level", lit("2_flag")))
      .unionByName(leafN.agg(sum(col("n_exact")).as("n_exact"))
        .withColumn("flag", lit("ALL"))
        .withColumn("status", lit("ALL"))
        .withColumn("level", lit("3_all")))
    ests(leaf, "1_leaf")
      .unionByName(ests(flagSk, "2_flag"))
      .unionByName(ests(allSk, "3_all"))
      .join(counts, Seq("level", "flag", "status"))
      .select(col("level"), col("flag"), col("status"), col("n_exact"),
        col("n_sample"), col("p50_cents"), col("p90_cents"))
      .orderBy("level", "flag", "status")
    // no keep: the result reads the Kernels memo's leaf checkpoint
  }

  private val q382Sql =
    """WITH h AS (
         SELECT l_returnflag AS flag, l_linestatus AS status,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS vc,
           ('0x' || substr(md5('qsk' ||
             l_orderkey::VARCHAR || '_' || l_linenumber::VARCHAR || '_' ||
             l_partkey::VARCHAR || '_' || l_suppkey::VARCHAR),
             1, 15))::BIGINT AS h
         FROM lineitem),
       leaf AS (SELECT flag, status, h, vc FROM (
           SELECT flag, status, h, vc,
             row_number() OVER (PARTITION BY flag, status
               ORDER BY h) AS rn FROM h) t
         WHERE rn <= 64),
       fsk AS (SELECT flag, 'ALL' AS status, h, vc FROM (
           SELECT flag, h, vc,
             row_number() OVER (PARTITION BY flag ORDER BY h) AS rn
           FROM h) t
         WHERE rn <= 64),
       ask AS (SELECT 'ALL' AS flag, 'ALL' AS status, h, vc FROM (
           SELECT h, vc, row_number() OVER (ORDER BY h) AS rn
           FROM h) t
         WHERE rn <= 64),
       sk AS (SELECT '1_leaf' AS level, * FROM leaf
              UNION ALL SELECT '2_flag', * FROM fsk
              UNION ALL SELECT '3_all', * FROM ask),
       est AS (SELECT level, flag, status,
           CAST(count(*) AS BIGINT) AS n_sample,
           CAST(min(CASE WHEN vr = (ns + 1) // 2 THEN vc END)
             AS BIGINT) AS p50_cents,
           CAST(min(CASE WHEN vr = (9 * ns + 9) // 10 THEN vc END)
             AS BIGINT) AS p90_cents
         FROM (SELECT level, flag, status, vc,
                 count(*) OVER (PARTITION BY level, flag, status) AS ns,
                 row_number() OVER (PARTITION BY level, flag, status
                   ORDER BY vc, h) AS vr
               FROM sk) x
         GROUP BY level, flag, status),
       cnt AS (SELECT '1_leaf' AS level, flag, status,
             CAST(count(*) AS BIGINT) AS n_exact
           FROM h GROUP BY flag, status
         UNION ALL SELECT '2_flag', flag, 'ALL',
             CAST(count(*) AS BIGINT) FROM h GROUP BY flag
         UNION ALL SELECT '3_all', 'ALL', 'ALL',
             CAST(count(*) AS BIGINT) FROM h)
       SELECT est.level, est.flag, est.status, cnt.n_exact,
         est.n_sample, est.p50_cents, est.p90_cents
       FROM est JOIN cnt ON est.level = cnt.level
         AND est.flag = cnt.flag AND est.status = cnt.status
       ORDER BY est.level, est.flag, est.status"""

  // --------------------------------------------------------------- q383
  /** WEIGHTED mergeable quantile-sketch rollup — q382's bottom-k-by-
    * hash design carrying a per-row WEIGHT (quantity), the approx
    * companion to q254's exact weighted quantiles: "the typical price
    * a sold UNIT carries, estimable per group and mergeable to any
    * rollup level without rescanning the corpus". The sketch is the
    * same k = 64 smallest-salted-hash rows per group (selection is by
    * hash only, so the exact MERGE LAW `sketch(A ∪ B) =
    * bottomK(sketch(A) ∪ sketch(B))` is untouched by weighting);
    * estimates are exact WEIGHTED order statistics of the sketch —
    * cumulative weight over (value, hash) order, p-cut at the q254
    * rational-rank rule `cw ≥ ceil(p·W/q)` in its integer form
    * `q·cw ≥ p·W` (no FP ceil can straddle engines).
    *
    * Execution is one SHARED corpus pass: the leaf sketch comes from
    * the persisted sketch table ([[graft.Kernels.lineitemLeafSketch]],
    * the same stored sample q382's unweighted estimator reads —
    * hash-only selection makes the artifact estimator-agnostic, the
    * 100 TB point of the design). Inside the kernel, (value cents,
    * weight) ride the bounded top-k aggregate's payload slot PACKED
    * into one long (`vc·2²⁰ + wq` — cents < 2²⁴ and quantity < 2²⁰ on
    * any TPC-H-shaped input, far under the 2⁶³ line), so there is no
    * re-attach join and no second scan; parents merge ≤ 384 leaf
    * sketch rows. The ORACLE computes every level's weighted sketch
    * directly from the full table — the hash gate grades the weighted
    * merge law itself. Exact per-level weight totals ride along for
    * context.
    */
  private def q383(s: SparkSession, d: String): DataFrame = {
    val k = 64
    // ONE corpus pass, shared: the leaf sketch (with the exact
    // per-group weight totals riding each of the ≤ k rows) comes from
    // the same persisted sketch table as q382's unweighted estimator
    // ([[graft.Kernels.lineitemLeafSketch]]) — selection is by the
    // salted hash only, so the stored sample is estimator-agnostic
    // and the weighted rollup merges it without touching the corpus.
    val leaf0 = graft.Kernels.lineitemLeafSketch(s, d, k)
    val leaf = leaf0.select(col("flag"), col("status"), col("vc"),
      col("wq"), col("h"))
    val wFlag = Window.partitionBy("flag").orderBy(col("h"))
    val flagSk = leaf.withColumn("rn", row_number().over(wFlag))
      .filter(col("rn") <= k).drop("rn")
      .withColumn("status", lit("ALL"))
    val wAll = Window.partitionBy(lit(1)).orderBy(col("h"))
    val allSk = flagSk.withColumn("rn", row_number().over(wAll))
      .filter(col("rn") <= k).drop("rn")
      .withColumn("flag", lit("ALL"))
    // exact weighted order statistics of each sketch: cw over
    // (vc, h) order; cut rule q·cw ≥ p·W — integer throughout
    def ests(sk: DataFrame, level: String): DataFrame = {
      val part = Window.partitionBy("flag", "status")
      val wv = part.orderBy(col("vc").asc, col("h").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      sk.withColumn("sw", sum(col("wq")).over(part))
        .withColumn("cw", sum(col("wq")).over(wv))
        .withColumn("ns", count(lit(1)).over(part))
        .groupBy("flag", "status")
        .agg(max(col("ns")).as("n_sample"),
          max(col("sw")).as("w_sample"),
          min(when(col("cw") * 2 >= col("sw"), col("vc")))
            .as("p50_cents"),
          min(when(col("cw") * 10 >= col("sw") * 9, col("vc")))
            .as("p90_cents"))
        .withColumn("level", lit(level))
    }
    // exact per-leaf weight totals recovered from the sketch rows
    // (constant within a group → distinct = one row per leaf)
    val leafW = leaf0.select(col("flag"), col("status"),
      col("w_exact_g").as("w_exact")).distinct()
    val weights = leafW.withColumn("level", lit("1_leaf"))
      .unionByName(leafW.groupBy("flag")
        .agg(sum(col("w_exact")).as("w_exact"))
        .withColumn("status", lit("ALL"))
        .withColumn("level", lit("2_flag")))
      .unionByName(leafW.agg(sum(col("w_exact")).as("w_exact"))
        .withColumn("flag", lit("ALL"))
        .withColumn("status", lit("ALL"))
        .withColumn("level", lit("3_all")))
    ests(leaf, "1_leaf")
      .unionByName(ests(flagSk, "2_flag"))
      .unionByName(ests(allSk, "3_all"))
      .join(weights, Seq("level", "flag", "status"))
      .select(col("level"), col("flag"), col("status"), col("w_exact"),
        col("n_sample"), col("w_sample"), col("p50_cents"),
        col("p90_cents"))
      .orderBy("level", "flag", "status")
    // no keep: the result reads the Kernels memo's leaf checkpoint
  }

  private val q383Sql =
    """WITH h AS (
         SELECT l_returnflag AS flag, l_linestatus AS status,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS vc,
           CAST(l_quantity AS BIGINT) AS wq,
           ('0x' || substr(md5('qsk' ||
             l_orderkey::VARCHAR || '_' || l_linenumber::VARCHAR || '_' ||
             l_partkey::VARCHAR || '_' || l_suppkey::VARCHAR),
             1, 15))::BIGINT AS h
         FROM lineitem),
       leaf AS (SELECT flag, status, h, vc, wq FROM (
           SELECT flag, status, h, vc, wq,
             row_number() OVER (PARTITION BY flag, status
               ORDER BY h) AS rn FROM h) t
         WHERE rn <= 64),
       fsk AS (SELECT flag, 'ALL' AS status, h, vc, wq FROM (
           SELECT flag, h, vc, wq,
             row_number() OVER (PARTITION BY flag ORDER BY h) AS rn
           FROM h) t
         WHERE rn <= 64),
       ask AS (SELECT 'ALL' AS flag, 'ALL' AS status, h, vc, wq FROM (
           SELECT h, vc, wq, row_number() OVER (ORDER BY h) AS rn
           FROM h) t
         WHERE rn <= 64),
       sk AS (SELECT '1_leaf' AS level, * FROM leaf
              UNION ALL SELECT '2_flag', * FROM fsk
              UNION ALL SELECT '3_all', * FROM ask),
       est AS (SELECT level, flag, status,
           CAST(count(*) AS BIGINT) AS n_sample,
           CAST(max(sw) AS BIGINT) AS w_sample,
           CAST(min(CASE WHEN 2 * cw >= sw THEN vc END)
             AS BIGINT) AS p50_cents,
           CAST(min(CASE WHEN 10 * cw >= 9 * sw THEN vc END)
             AS BIGINT) AS p90_cents
         FROM (SELECT level, flag, status, vc,
                 sum(wq) OVER (PARTITION BY level, flag, status) AS sw,
                 sum(wq) OVER (PARTITION BY level, flag, status
                   ORDER BY vc, h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cw
               FROM sk) x
         GROUP BY level, flag, status),
       wt AS (SELECT '1_leaf' AS level, flag, status,
             CAST(sum(wq) AS BIGINT) AS w_exact
           FROM h GROUP BY flag, status
         UNION ALL SELECT '2_flag', flag, 'ALL',
             CAST(sum(wq) AS BIGINT) FROM h GROUP BY flag
         UNION ALL SELECT '3_all', 'ALL', 'ALL',
             CAST(sum(wq) AS BIGINT) FROM h)
       SELECT est.level, est.flag, est.status, wt.w_exact,
         est.n_sample, est.w_sample, est.p50_cents, est.p90_cents
       FROM est JOIN wt ON est.level = wt.level
         AND est.flag = wt.flag AND est.status = wt.status
       ORDER BY est.level, est.flag, est.status"""

  val entries: Seq[Query] = Seq(
    Query("q383_weighted_sketch_rollup", q383, q383Sql),
    Query("q352_mood_scale", q352, q352Sql),
    Query("q353_cvm_two_sample", q353, q353Sql),
    Query("q354_pettitt_changepoint", q354, q354Sql),
    Query("q355_pacf", q355, q355Sql),
    Query("q356_granger", q356, q356Sql),
    Query("q357_chow_break", q357, q357Sql),
    Query("q358_cronbach_alpha", q358, q358Sql),
    Query("q359_icc", q359, q359Sql),
    Query("q360_cochran_q", q360, q360Sql),
    Query("q361_kendalls_w", q361, q361Sql),
    Query("q362_fuzzy_decontam", q362, q362Sql),
    Query("q363_canonical_dedup", q363, q363Sql),
    Query("q364_theils_u", q364, q364Sql),
    Query("q365_stuart_maxwell", q365, q365Sql),
    Query("q366_yuen_trimmed", q366, q366Sql),
    Query("q367_grubbs_outlier", q367, q367Sql),
    Query("q368_duplication_profile", q368, q368Sql),
    Query("q369_term_dispersion", q369, q369Sql),
    Query("q370_prefix_sharing", q370, q370Sql),
    Query("q371_bowker_symmetry", q371, q371Sql),
    Query("q372_jonckheere", q372, q372Sql),
    Query("q373_cliffs_delta", q373, q373Sql),
    Query("q374_sign_test", q374, q374Sql),
    Query("q375_median_test", q375, q375Sql),
    Query("q376_cross_lingual_dup", q376, q376Sql),
    Query("q377_dup_selection_bias", q377, q377Sql),
    Query("q378_ngram_entropy", q378, q378Sql),
    Query("q379_pipeline_order_bias", q379, q379Sql),
    Query("q380_ann_lake_roundtrip", q380, q380Sql),
    Query("q381_lsh_recall", q381, q381Sql),
    Query("q382_quantile_sketch_rollup", q382, q382Sql))
}
