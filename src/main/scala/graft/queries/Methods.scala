package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Exec
// cross-engine deterministic rounding shadows functions.round
import graft.functions.Rounding.{roundTo => round}

import graft.Tables
import graft.operators.{Quality, Rank, Sampling}

/** Round-10 measurement-method surface: paired-classifier comparison
  * (McNemar), whiteness / autocorrelation diagnostics (Ljung-Box),
  * structural-break regression (segmented trend), rank association
  * (Kendall tau-b), categorical effect sizes (Cramér's V), always-valid
  * sequential testing (mSPRT), clustering quality (centroid
  * silhouette), variance homogeneity (Brown-Forsythe), partial
  * correlation, and classical seasonal decomposition.
  *
  * Oracle discipline matches [[Lifecycle]]/[[Evals]]: shared rounding
  * kernel, exact LONG/cents integer cores with FP only in fixed-shape
  * closing expressions, `CAST(... AS BIGINT)` on every oracle
  * aggregate, ANSI-safe divisions (divisor floored INSIDE the
  * division — Spark 4 CSE hoists divisions out of `when` guards), and
  * total-order ranks on every selection. Scale posture: every operator
  * collapses the corpus to a bounded table (days, groups, clusters,
  * label×dim) in ONE scan before any window/self-join runs.
  */
object Methods {
  /** Floor a divisor away from zero INSIDE the division (ANSI + CSE
    * hazard — see the object Scaladoc); mirrored as
    * `greatest(x, 1e-12)` on the oracle side. */
  private def safe(c: Column): Column = greatest(c, lit(1e-12))

  // ------------------------------------------------------------ shared
  /** Dense daily revenue series over the orders span: one corpus
    * aggregation to (day, cents LONG), then a `sequence()` grid join —
    * the q103 gap-fill shape. Revenue is scaled to $10k units
    * (cents/1e6) so downstream squared sums stay well inside double
    * precision at any SF. Columns: `t` (0-based day index, LONG),
    * `dt` DATE, `r` DOUBLE. */
  private def dailyRevenue(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .select(to_date(col("o_orderdate")).as("dt"),
        round(col("o_totalprice") * 100, 0).cast("long").as("c"))
      .groupBy("dt").agg(sum("c").as("cents"))
    val span = daily.agg(min("dt").as("d0"), max("dt").as("d1"))
    val grid = span.select(col("d0"),
      explode(sequence(col("d0"), col("d1"))).as("dt"))
    grid.join(daily, Seq("dt"), "left")
      .select(datediff(col("dt"), col("d0")).cast("long").as("t"),
        col("dt"),
        (coalesce(col("cents"), lit(0L)).cast("double") / 1e6).as("r"))
  }

  /** Oracle twin of [[dailyRevenue]] — CTEs `daily`, `span`, `grid`,
    * `series(t, dt, r)`. */
  private val dailyRevenueSql =
    """daily AS (SELECT o_orderdate::DATE AS dt,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
         FROM orders GROUP BY 1),
       span AS (SELECT min(dt) AS d0, max(dt) AS d1 FROM daily),
       grid AS (SELECT CAST(unnest(generate_series(d0, d1,
                  INTERVAL 1 DAY)) AS DATE) AS dt, d0 FROM span),
       series AS (SELECT CAST(datediff('day', g.d0, g.dt) AS BIGINT)
                    AS t, g.dt,
                  coalesce(daily.cents, 0)::DOUBLE / 1e6 AS r
                FROM grid g LEFT JOIN daily ON g.dt = daily.dt)"""

  // --------------------------------------------------------------- q281
  /** McNemar paired-classifier test — the eval-harness readout model
    * comparisons actually need: two detectors scored on the SAME
    * examples, so the information is in the DISAGREEMENT cells (b =
    * only A correct, c = only B correct), not the marginal accuracies
    * (a shared hard subset inflates both equally). Detectors: A =
    * sign of the first embedding component, B = sign of the full
    * component sum (left-fold in DOUBLE — mirrored as a
    * `list_sum(list_transform(..))` sequential sum); truth = even
    * label. Continuity-corrected chi² `(max(|b−c|−1,0))²/(b+c)` on
    * exact LONG counts. One map-side-combinable aggregation; no
    * shuffle beyond the single-row agg.
    */
  private def q281(s: SparkSession, d: String): DataFrame = {
    val sumB = aggregate(col("embedding"), lit(0.0),
      (acc, x) => acc + x)
    val b = Tables.embeddings(s, d).select(
      (pmod(col("label"), lit(2)) === 0).as("y"),
      (col("embedding").getItem(0).cast("double") > 0.0).as("pa"),
      (sumB > 0.0).as("pb"))
    val cells = b.select(
        (col("pa") === col("y")).as("ca"),
        (col("pb") === col("y")).as("cb"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("ca"), 1L).otherwise(0L)).as("na"),
        sum(when(col("cb"), 1L).otherwise(0L)).as("nb"),
        sum(when(col("ca") && !col("cb"), 1L).otherwise(0L)).as("b_only"),
        sum(when(!col("ca") && col("cb"), 1L).otherwise(0L)).as("c_only"))
    val bc = (col("b_only") + col("c_only")).cast("double")
    val diff = greatest(abs(col("b_only") - col("c_only"))
      .cast("double") - 1.0, lit(0.0))
    cells.select(col("n"),
      round(col("na").cast("double") / col("n").cast("double"), 6)
        .as("acc_a"),
      round(col("nb").cast("double") / col("n").cast("double"), 6)
        .as("acc_b"),
      col("b_only"), col("c_only"),
      when(bc > 0.0, round(diff * diff / bc, 4)).as("mcnemar_chi2"))
  }

  private val q281Sql =
    """WITH b AS (SELECT (label % 2 = 0) AS y,
           (embedding[1]::DOUBLE > 0.0) AS pa,
           (list_sum(list_transform(embedding, z -> z::DOUBLE)) > 0.0)
             AS pb
         FROM embeddings),
       cells AS (SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN pa = y THEN 1 ELSE 0 END) AS BIGINT) AS na,
           CAST(sum(CASE WHEN pb = y THEN 1 ELSE 0 END) AS BIGINT) AS nb,
           CAST(sum(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END)
             AS BIGINT) AS b_only,
           CAST(sum(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END)
             AS BIGINT) AS c_only
         FROM b)
       SELECT n,
         round(na::DOUBLE / n::DOUBLE, 6) AS acc_a,
         round(nb::DOUBLE / n::DOUBLE, 6) AS acc_b,
         b_only, c_only,
         CASE WHEN (b_only + c_only) > 0 THEN
           round(greatest(abs(b_only - c_only)::DOUBLE - 1.0, 0.0)
               * greatest(abs(b_only - c_only)::DOUBLE - 1.0, 0.0)
               / (b_only + c_only)::DOUBLE, 4)
         END AS mcnemar_chi2
       FROM cells"""

  // --------------------------------------------------------------- q282
  /** Ljung-Box whiteness test on the daily-revenue series — the
    * diagnostic that decides whether i.i.d.-based monitors (q114
    * z-scores, q251 bootstrap CIs) are even applicable to the metric
    * stream: sample autocorrelations ρ₁..ρ₇ from ONE pass over the
    * dense day grid (7 `lag` windows on the bounded series), and the
    * cumulative Q(k) = n(n+2)·Σ_{j≤k} ρⱼ²/(n−j). The corpus collapses
    * to the day table before any window runs; the 7-row output is a
    * window cumsum over an exploded lag array.
    */
  private def q282(s: SparkSession, d: String): DataFrame = {
    val series = dailyRevenue(s, d)
    val stats = series.agg(count(lit(1)).as("n"), avg("r").as("m"))
    val wOrd = Window.orderBy("t")
    val lagCols = (1 to 7).map(k => lag(col("r"), k).over(wOrd).as(s"l$k"))
    val lagged = series.crossJoin(broadcast(stats))
      .select(Seq(col("n"), col("m"), col("r")) ++ lagCols: _*)
    val dev = col("r") - col("m")
    val sums = lagged.agg(
      first("n").as("n"),
      sum(dev * dev).as("c0") +:
        (1 to 7).map(k =>
          sum(dev * (col(s"l$k") - col("m"))).as(s"c$k")): _*)
    val rows = sums.select(col("n"), col("c0"),
        explode(array((1 to 7).map(k =>
          struct(lit(k.toLong).as("k"), col(s"c$k").as("ck"))): _*))
          .as("e"))
      .select(col("n"), col("c0"), col("e.k").as("k"),
        col("e.ck").as("ck"))
    val rho = col("ck") / safe(col("c0"))
    val nD = col("n").cast("double")
    val wK = Window.orderBy("k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rows
      .withColumn("term", (rho * rho) / (nD - col("k").cast("double")))
      .select(col("k"), round(rho, 6).as("rho"),
        round(nD * (nD + 2.0) * sum(col("term")).over(wK), 4)
          .as("lb_q"))
      .orderBy("k")
  }

  private val q282Sql =
    s"""WITH $dailyRevenueSql,
       st AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(r) AS m
              FROM series),
       c0t AS (SELECT sum((r - m) * (r - m)) AS c0 FROM series, st),
       ck AS (SELECT kk.k AS k,
               sum((a.r - st.m) * (b.r - st.m)) AS ck
             FROM series a CROSS JOIN st
               CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS k)
                 kk
               JOIN series b ON b.t = a.t - kk.k
             GROUP BY kk.k)
       SELECT CAST(ck.k AS BIGINT) AS k,
         round(ck.ck / greatest(c0t.c0, 1e-12), 6) AS rho,
         round(st.n::DOUBLE * (st.n::DOUBLE + 2.0) * sum(
             (ck.ck / greatest(c0t.c0, 1e-12))
               * (ck.ck / greatest(c0t.c0, 1e-12))
               / (st.n::DOUBLE - ck.k::DOUBLE))
           OVER (ORDER BY ck.k
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
           AS lb_q
       FROM ck, c0t, st ORDER BY k"""

  // --------------------------------------------------------------- q283
  /** Segmented-trend fit (single structural break) — the trend
    * companion to q168's CUSUM mean-shift detector: every interior day
    * is a candidate breakpoint, and both sides' OLS fits come from ONE
    * ordered prefix-sum pass (left sums = the running window, right
    * sums = grand totals minus the prefix — no per-candidate re-scan,
    * the same trick as q205's descending risk sets). The winner is the
    * 1e-6-quantized-SSE argmin with an earliest-day tie-break, so the
    * selection is a total order immune to cross-engine FP dust. SSEs
    * are `greatest(0, ·)`-clamped on both engines. Corpus work: one
    * aggregation to the day table.
    */
  private def q283(s: SparkSession, d: String): DataFrame = {
    val series = dailyRevenue(s, d)
    val base = series.select(col("t"), col("dt"),
      col("t").cast("double").as("x"), col("r").as("y"))
    val w = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = base.select(col("t"), col("dt"),
      (col("t") + 1L).as("nl"),
      sum("x").over(w).as("sx"), sum("y").over(w).as("sy"),
      sum(col("x") * col("x")).over(w).as("sxx"),
      sum(col("x") * col("y")).over(w).as("sxy"),
      sum(col("y") * col("y")).over(w).as("syy"))
    val tot = base.agg(count(lit(1)).as("n"),
      sum("x").as("tx"), sum("y").as("ty"),
      sum(col("x") * col("x")).as("txx"),
      sum(col("x") * col("y")).as("txy"),
      sum(col("y") * col("y")).as("tyy"))
    def fit(n: Column, sx: Column, sy: Column, sxx: Column,
            sxy: Column, syy: Column): (Column, Column) = {
      val vx = sxx - sx * sx / n
      val cxy = sxy - sx * sy / n
      val slope = cxy / safe(vx)
      val sse = greatest(syy - sy * sy / n - cxy * cxy / safe(vx),
        lit(0.0))
      (slope, sse)
    }
    val cand = pre.crossJoin(broadcast(tot))
      .filter(col("nl") >= 3 && col("n") - col("nl") >= 3)
    val nlD = col("nl").cast("double")
    val nrD = (col("n") - col("nl")).cast("double")
    val (slL, sseL) = fit(nlD, col("sx"), col("sy"), col("sxx"),
      col("sxy"), col("syy"))
    val (slR, sseR) = fit(nrD, col("tx") - col("sx"),
      col("ty") - col("sy"), col("txx") - col("sxx"),
      col("txy") - col("sxy"), col("tyy") - col("syy"))
    val (_, sse1) = fit(col("n").cast("double"), col("tx"), col("ty"),
      col("txx"), col("txy"), col("tyy"))
    val scored = cand.select(col("dt"), col("t"), col("n"), col("nl"),
      slL.as("slope_left"), slR.as("slope_right"),
      (sseL + sseR).as("sse_two"), sse1.as("sse_one"),
      floor((sseL + sseR) * 1e6 + 0.5).cast("long").as("sseq"))
    val byQ = Window.orderBy(col("sseq").asc, col("t").asc)
    scored.withColumn("rk", row_number().over(byQ))
      .filter(col("rk") === 1)
      .select(col("dt").as("break_dt"), col("n").as("n_days"),
        col("nl").as("n_left"),
        round(col("slope_left"), 6).as("slope_left"),
        round(col("slope_right"), 6).as("slope_right"),
        round(col("sse_one"), 4).as("sse_one"),
        round(col("sse_two"), 4).as("sse_two"),
        round((col("sse_one") - col("sse_two")) / safe(col("sse_one")),
          6).as("improvement"))
  }

  private val q283Sql =
    s"""WITH $dailyRevenueSql,
       base AS (SELECT t, dt, t::DOUBLE AS x, r AS y FROM series),
       pre AS (SELECT t, dt, t + 1 AS nl,
           sum(x) OVER w AS sx, sum(y) OVER w AS sy,
           sum(x * x) OVER w AS sxx, sum(x * y) OVER w AS sxy,
           sum(y * y) OVER w AS syy
         FROM base
         WINDOW w AS (ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
           sum(x) AS tx, sum(y) AS ty, sum(x * x) AS txx,
           sum(x * y) AS txy, sum(y * y) AS tyy
         FROM base),
       cand AS (SELECT dt, t, n, nl,
           (sxy - sx * sy / nl::DOUBLE)
             / greatest(sxx - sx * sx / nl::DOUBLE, 1e-12)
             AS slope_left,
           ((txy - sxy) - (tx - sx) * (ty - sy) / (n - nl)::DOUBLE)
             / greatest((txx - sxx) - (tx - sx) * (tx - sx)
                 / (n - nl)::DOUBLE, 1e-12) AS slope_right,
           greatest(syy - sy * sy / nl::DOUBLE
               - (sxy - sx * sy / nl::DOUBLE)
                 * (sxy - sx * sy / nl::DOUBLE)
                 / greatest(sxx - sx * sx / nl::DOUBLE, 1e-12), 0.0)
             + greatest((tyy - syy) - (ty - sy) * (ty - sy)
                 / (n - nl)::DOUBLE
               - ((txy - sxy) - (tx - sx) * (ty - sy) / (n - nl)::DOUBLE)
                 * ((txy - sxy) - (tx - sx) * (ty - sy)
                     / (n - nl)::DOUBLE)
                 / greatest((txx - sxx) - (tx - sx) * (tx - sx)
                     / (n - nl)::DOUBLE, 1e-12), 0.0) AS sse_two,
           greatest(tyy - ty * ty / n::DOUBLE
               - (txy - tx * ty / n::DOUBLE)
                 * (txy - tx * ty / n::DOUBLE)
                 / greatest(txx - tx * tx / n::DOUBLE, 1e-12), 0.0)
             AS sse_one
         FROM pre CROSS JOIN tot
         WHERE nl >= 3 AND n - nl >= 3),
       scored AS (SELECT *,
           CAST(floor(sse_two * 1e6 + 0.5) AS BIGINT) AS sseq,
           row_number() OVER (ORDER BY
             CAST(floor(sse_two * 1e6 + 0.5) AS BIGINT) ASC, t ASC)
             AS rk
         FROM cand)
       SELECT dt AS break_dt, n AS n_days, CAST(nl AS BIGINT) AS n_left,
         round(slope_left, 6) AS slope_left,
         round(slope_right, 6) AS slope_right,
         round(sse_one, 4) AS sse_one, round(sse_two, 4) AS sse_two,
         round((sse_one - sse_two) / greatest(sse_one, 1e-12), 6)
           AS improvement
       FROM scored WHERE rk = 1"""

  // --------------------------------------------------------------- q284
  /** Kendall tau-b between daily order volume and daily revenue — the
    * rank-association companion to q225's Spearman: concordant /
    * discordant / tied pair counts as exact LONG integers from the
    * day-level self-join (the corpus collapses to the bounded day
    * table FIRST — the pair square is days², never orders²), tau-b's
    * tie correction from the pure pair-count form
    * (C−D)/√((C+D+Tx)(C+D+Ty)) with each factor cast to double BEFORE
    * multiplying (the q244 overflow lesson).
    */
  private def q284(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .select(to_date(col("o_orderdate")).as("dt"),
        round(col("o_totalprice") * 100, 0).cast("long").as("c"))
      .groupBy("dt")
      .agg(count(lit(1)).as("xn"), sum("c").as("yc"))
    val a = daily.select(col("dt").as("da"), col("xn").as("xa"),
      col("yc").as("ya"))
    val b = daily.select(col("dt").as("db"), col("xn").as("xb"),
      col("yc").as("yb"))
    val pairs = a.join(b, col("da") < col("db"))
    val agg = pairs.agg(
      sum(when((col("xa") < col("xb") && col("ya") < col("yb")) ||
               (col("xa") > col("xb") && col("ya") > col("yb")), 1L)
        .otherwise(0L)).as("concordant"),
      sum(when((col("xa") < col("xb") && col("ya") > col("yb")) ||
               (col("xa") > col("xb") && col("ya") < col("yb")), 1L)
        .otherwise(0L)).as("discordant"),
      sum(when(col("xa") === col("xb") && col("ya") =!= col("yb"), 1L)
        .otherwise(0L)).as("ties_x"),
      sum(when(col("ya") === col("yb") && col("xa") =!= col("xb"), 1L)
        .otherwise(0L)).as("ties_y"),
      sum(when(col("xa") === col("xb") && col("ya") === col("yb"), 1L)
        .otherwise(0L)).as("ties_both"))
    val nd = daily.agg(count(lit(1)).as("n_days"))
    val cd = (col("concordant") - col("discordant")).cast("double")
    val fx = (col("concordant") + col("discordant") + col("ties_x"))
      .cast("double")
    val fy = (col("concordant") + col("discordant") + col("ties_y"))
      .cast("double")
    agg.crossJoin(broadcast(nd)).select(col("n_days"),
      col("concordant"), col("discordant"), col("ties_x"),
      col("ties_y"), col("ties_both"),
      round(cd / safe(sqrt(fx * fy)), 6).as("tau_b"))
  }

  private val q284Sql =
    """WITH daily AS (SELECT o_orderdate::DATE AS dt,
           CAST(count(*) AS BIGINT) AS xn,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS yc
         FROM orders GROUP BY 1),
       pairs AS (SELECT a.xn AS xa, a.yc AS ya, b.xn AS xb, b.yc AS yb
         FROM daily a JOIN daily b ON a.dt < b.dt),
       agg AS (SELECT
           CAST(sum(CASE WHEN (xa < xb AND ya < yb)
             OR (xa > xb AND ya > yb) THEN 1 ELSE 0 END) AS BIGINT)
             AS concordant,
           CAST(sum(CASE WHEN (xa < xb AND ya > yb)
             OR (xa > xb AND ya < yb) THEN 1 ELSE 0 END) AS BIGINT)
             AS discordant,
           CAST(sum(CASE WHEN xa = xb AND ya <> yb THEN 1 ELSE 0 END)
             AS BIGINT) AS ties_x,
           CAST(sum(CASE WHEN ya = yb AND xa <> xb THEN 1 ELSE 0 END)
             AS BIGINT) AS ties_y,
           CAST(sum(CASE WHEN xa = xb AND ya = yb THEN 1 ELSE 0 END)
             AS BIGINT) AS ties_both
         FROM pairs),
       nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily)
       SELECT n_days, concordant, discordant, ties_x, ties_y, ties_both,
         round((concordant - discordant)::DOUBLE
           / greatest(sqrt(
               (concordant + discordant + ties_x)::DOUBLE
             * (concordant + discordant + ties_y)::DOUBLE), 1e-12), 6)
           AS tau_b
       FROM agg, nd"""

  // --------------------------------------------------------------- q285
  /** Cramér's V effect sizes — the MAGNITUDE readout q246's χ²
    * independence test doesn't give (χ² grows with n, so at corpus
    * scale everything is "significant"; V = √(χ²/(n·(min(r,c)−1))) is
    * scale-free): status×priority and priority×order-year contingency
    * audits, each collapsing the corpus to its cell table in one
    * aggregation, margins re-attached by group-join (cells ≪ corpus).
    */
  private def q285(s: SparkSession, d: String): DataFrame = {
    def pairV(name: String, df: DataFrame): DataFrame = {
      val cells = df.groupBy("a", "b").agg(count(lit(1)).as("nn"))
      val ra = cells.groupBy("a").agg(sum("nn").as("ra"))
      val cb = cells.groupBy("b").agg(sum("nn").as("cb"))
      val tot = cells.agg(sum("nn").as("nt"),
        countDistinct("a").as("nr"), countDistinct("b").as("nc"))
      val e = col("ra").cast("double") * col("cb").cast("double") /
        col("nt").cast("double")
      val term = (col("nn").cast("double") - e) *
        (col("nn").cast("double") - e) / safe(e)
      cells.join(ra, "a").join(cb, "b").crossJoin(broadcast(tot))
        .agg(first("nt").as("n"), first("nr").as("nr"),
          first("nc").as("nc"), sum(term).as("chi2"))
        .select(lit(name).as("pair"), col("n"),
          ((col("nr") - 1) * (col("nc") - 1)).as("df"),
          round(col("chi2"), 4).as("chi2"),
          round(sqrt(col("chi2") / safe(col("n").cast("double") *
            (least(col("nr"), col("nc")) - 1).cast("double"))), 6)
            .as("cramers_v"))
    }
    val o = Tables.orders(s, d)
    val p1 = pairV("status_x_priority",
      o.select(col("o_orderstatus").as("a"),
        col("o_orderpriority").as("b")))
    val p2 = pairV("priority_x_year",
      o.select(col("o_orderpriority").as("a"),
        year(col("o_orderdate")).cast("string").as("b")))
    p1.unionByName(p2).orderBy("pair")
  }

  private val q285Sql = {
    // one shared body per pair; `sel` is the "<a-expr> AS a, <b-expr>
    // AS b" projection
    def block(name: String, sel: String): String =
      s"""SELECT '$name' AS pair, t.n, (t.nr - 1) * (t.nc - 1) AS df,
             round(t.chi2, 4) AS chi2,
             round(sqrt(t.chi2 / greatest(t.n::DOUBLE
               * (least(t.nr, t.nc) - 1)::DOUBLE, 1e-12)), 6)
               AS cramers_v
           FROM (
             WITH cells AS (SELECT $sel, count(*) AS nn
                 FROM orders GROUP BY 1, 2),
               ra AS (SELECT a, CAST(sum(nn) AS BIGINT) AS ra
                      FROM cells GROUP BY a),
               cb AS (SELECT b, CAST(sum(nn) AS BIGINT) AS cb
                      FROM cells GROUP BY b),
               tot AS (SELECT CAST(sum(nn) AS BIGINT) AS nt,
                   CAST(count(DISTINCT a) AS BIGINT) AS nr,
                   CAST(count(DISTINCT b) AS BIGINT) AS nc
                 FROM cells)
             SELECT sum((nn::DOUBLE - ra::DOUBLE * cb::DOUBLE
                   / nt::DOUBLE)
                 * (nn::DOUBLE - ra::DOUBLE * cb::DOUBLE / nt::DOUBLE)
                 / greatest(ra::DOUBLE * cb::DOUBLE / nt::DOUBLE,
                     1e-12)) AS chi2,
               any_value(nt) AS n, any_value(nr) AS nr,
               any_value(nc) AS nc
             FROM cells JOIN ra USING (a) JOIN cb USING (b)
               CROSS JOIN tot) t"""
    block("status_x_priority",
      "o_orderstatus AS a, o_orderpriority AS b") +
      "\n       UNION ALL\n       " +
      block("priority_x_year",
        "o_orderpriority AS a, CAST(year(o_orderdate) AS VARCHAR) AS b") +
      "\n       ORDER BY pair"
  }

  // --------------------------------------------------------------- q286
  /** mSPRT always-valid p-value sequence (mixture sequential
    * probability ratio test) — the sequential-monitoring readout that
    * makes q120/q261's fixed-horizon tests safe to peek at daily: per
    * day, cumulative per-arm means feed the normal-mixture likelihood
    * ratio Λₜ (τ² pinned at σ̂²/10, σ̂² pooled once over the corpus),
    * and the always-valid p is the running min of 1/Λ clamped at 1 —
    * monotone by construction, valid at EVERY stopping time. The
    * corpus collapses to the day×arm table in one aggregation;
    * cumulatives are windows on the bounded day table.
    */
  private def q286(s: SparkSession, d: String): DataFrame = {
    val arm = Sampling.hashBucket(col("user_id"), "ab", 2)
    val base = Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(to_date(col("ts")).as("dt"), (arm === 0).as("t"),
        col("value").as("v"))
    val pooled = base.agg(count(lit(1)).as("n"), sum("v").as("sv"),
      sum(col("v") * col("v")).as("svv"))
    val nD = col("n").cast("double")
    val s2c = (col("svv") - col("sv") * col("sv") / nD) / (nD - 1.0)
    val daily = base.groupBy("dt").agg(
      sum(when(col("t"), 1L).otherwise(0L)).as("na_d"),
      sum(when(col("t"), col("v")).otherwise(0.0)).as("sa_d"),
      sum(when(!col("t"), 1L).otherwise(0L)).as("nb_d"),
      sum(when(!col("t"), col("v")).otherwise(0.0)).as("sb_d"))
    val w = Window.orderBy("dt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = daily.select(col("dt"),
        sum("na_d").over(w).as("na"), sum("sa_d").over(w).as("sa"),
        sum("nb_d").over(w).as("nb"), sum("sb_d").over(w).as("sb"))
      .filter(col("na") > 0 && col("nb") > 0)
      .crossJoin(broadcast(pooled.select(s2c.as("s2"))))
    val naD = col("na").cast("double")
    val nbD = col("nb").cast("double")
    val delta = col("sa") / naD - col("sb") / nbD
    val vt = col("s2") * (lit(1.0) / naD + lit(1.0) / nbD)
    val tau2 = col("s2") / 10.0
    val ll = lit(0.5) * log(vt / safe(vt + tau2)) +
      delta * delta * tau2 / safe(lit(2.0) * vt * (vt + tau2))
    val pCand = least(lit(1.0), exp(-ll))
    cum.select(col("dt"), col("na").as("n_a"), col("nb").as("n_b"),
        round(delta, 6).as("delta"),
        round(ll, 4).as("log_lambda"),
        pCand.as("pc"))
      .withColumn("p_always_valid", round(min("pc").over(w), 6))
      .select(col("dt"), col("n_a"), col("n_b"), col("delta"),
        col("log_lambda"), col("p_always_valid"),
        (col("p_always_valid") <= 0.05).as("reject"))
      .orderBy("dt")
  }

  private val q286Sql =
    """WITH b AS (SELECT CAST(ts AS DATE) AS dt,
           (('0x' || substr(md5('ab' || user_id::VARCHAR), 1, 15))::BIGINT
             % 2 = 0) AS t,
           value AS v
         FROM events WHERE value IS NOT NULL),
       pooled AS (SELECT
           (sum(v * v) - sum(v) * sum(v) / count(*)::DOUBLE)
             / (count(*)::DOUBLE - 1.0) AS s2
         FROM b),
       daily AS (SELECT dt,
           CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS na_d,
           sum(CASE WHEN t THEN v ELSE 0.0 END) AS sa_d,
           CAST(sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT)
             AS nb_d,
           sum(CASE WHEN NOT t THEN v ELSE 0.0 END) AS sb_d
         FROM b GROUP BY dt),
       cum AS (SELECT dt,
           CAST(sum(na_d) OVER w AS BIGINT) AS na,
           sum(sa_d) OVER w AS sa,
           CAST(sum(nb_d) OVER w AS BIGINT) AS nb,
           sum(sb_d) OVER w AS sb
         FROM daily
         WINDOW w AS (ORDER BY dt
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       terms AS (SELECT dt, na, nb,
           sa / na::DOUBLE - sb / nb::DOUBLE AS delta,
           s2 * (1.0 / na::DOUBLE + 1.0 / nb::DOUBLE) AS vt,
           s2 / 10.0 AS tau2
         FROM cum, pooled WHERE na > 0 AND nb > 0),
       lam AS (SELECT dt, na, nb, delta,
           0.5 * ln(vt / greatest(vt + tau2, 1e-12))
             + delta * delta * tau2
               / greatest(2.0 * vt * (vt + tau2), 1e-12) AS ll
         FROM terms)
       SELECT dt, na AS n_a, nb AS n_b,
         round(delta, 6) AS delta,
         round(ll, 4) AS log_lambda,
         round(min(least(1.0, exp(-ll))) OVER (ORDER BY dt
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
           AS p_always_valid,
         (round(min(least(1.0, exp(-ll))) OVER (ORDER BY dt
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
           <= 0.05) AS reject
       FROM lam ORDER BY dt"""

  // --------------------------------------------------------------- q287
  /** Centroid silhouette per label cluster — the clustering-quality
    * readout for the embedding space (companion to q90's k-means and
    * q167's SemDeDup cells): a(i) = distance to own centroid, b(i) =
    * distance to the nearest OTHER centroid, s = (b−a)/max(a,b).
    * Everything runs in long format — posexplode to (label, dim, x),
    * centroids as one grouped mean, distances as ONE broadcast join
    * on dim + grouped sum — so the work is points×k, never points²,
    * and a singleton cluster degrades to s = 1, not a crash.
    */
  private def q287(s: SparkSession, d: String): DataFrame = {
    val pts = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")))
      .select(col("vec_id"), col("label"), col("pos").as("dim"),
        col("col").cast("double").as("x"))
    val cents = pts.groupBy(col("label").as("cl"), col("dim"))
      .agg(avg("x").as("c"))
    val dists = pts.join(broadcast(cents), Seq("dim"))
      .groupBy("vec_id", "label", "cl")
      .agg(sum((col("x") - col("c")) * (col("x") - col("c"))).as("d2"))
    val ab = dists.groupBy("vec_id", "label")
      .agg(min(when(col("cl") === col("label"), col("d2"))).as("a2"),
        min(when(col("cl") =!= col("label"), col("d2"))).as("b2"))
    val sil = ab.select(col("label"),
      sqrt(col("a2")).as("da"), sqrt(col("b2")).as("db"))
      .select(col("label"), col("da"), col("db"),
        ((col("db") - col("da")) / safe(greatest(col("da"), col("db"))))
          .as("sil"))
    sil.groupBy("label")
      .agg(count(lit(1)).as("n"),
        round(avg("sil"), 4).as("mean_silhouette"),
        round(avg("da"), 4).as("mean_intra"),
        round(avg("db"), 4).as("mean_inter"))
      .orderBy("label")
  }

  private val q287Sql =
    """WITH dims AS (SELECT unnest(generate_series(0,
           (SELECT max(len(embedding)) FROM embeddings) - 1)) AS i),
       pts AS (SELECT vec_id, label, dims.i AS dim,
           embedding[CAST(dims.i AS INTEGER) + 1]::DOUBLE AS x
         FROM embeddings CROSS JOIN dims
         WHERE dims.i < len(embedding)),
       cents AS (SELECT label AS cl, dim, avg(x) AS c
                 FROM pts GROUP BY 1, 2),
       dists AS (SELECT p.vec_id, p.label, c.cl,
           sum((p.x - c.c) * (p.x - c.c)) AS d2
         FROM pts p JOIN cents c ON p.dim = c.dim
         GROUP BY 1, 2, 3),
       ab AS (SELECT vec_id, label,
           min(CASE WHEN cl = label THEN d2 END) AS a2,
           min(CASE WHEN cl <> label THEN d2 END) AS b2
         FROM dists GROUP BY 1, 2),
       sil AS (SELECT label, sqrt(a2) AS da, sqrt(b2) AS db,
           (sqrt(b2) - sqrt(a2))
             / greatest(greatest(sqrt(a2), sqrt(b2)), 1e-12) AS sil
         FROM ab)
       SELECT label, CAST(count(*) AS BIGINT) AS n,
         round(avg(sil), 4) AS mean_silhouette,
         round(avg(da), 4) AS mean_intra,
         round(avg(db), 4) AS mean_inter
       FROM sil GROUP BY label ORDER BY label"""

  // --------------------------------------------------------------- q288
  /** Brown-Forsythe variance-homogeneity test — the precondition audit
    * for every pooled-variance readout in the testing family (q120
    * Welch sidesteps it; q244/q261 pool): per event type, absolute
    * deviations from the GROUP MEDIAN (the robust Brown-Forsythe
    * variant of Levene's test), medians solved exactly through the
    * [[Quality.groupedRankQuantilesFromCounts]] prefix-sum kernel
    * (rank (n+1) DIV 2 — the house lower-median convention), then a
    * one-way ANOVA F on the deviations from exact group sums. Corpus
    * work: the (g,v) count aggregation + one deviation pass.
    */
  private def q288(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(col("event_type").as("g"),
        col("value").cast("double").as("v"))
    val counts = ev.groupBy("g", "v").agg(count(lit(1)).as("nv"))
    val med = Quality.groupedRankQuantilesFromCounts(counts, Seq((1, 2)))
      .select(col("g"), col("value").as("med"))
    val z = ev.join(broadcast(med), Seq("g"))
      .select(col("g"), col("med"), abs(col("v") - col("med")).as("z"))
    val gstats = z.groupBy("g")
      .agg(count(lit(1)).as("n"), first("med").as("med"),
        sum("z").as("sz"), sum(col("z") * col("z")).as("szz"))
    val sg2n = col("sz") * col("sz") / col("n").cast("double")
    val glob = gstats
      .select(col("n"), col("sz"), col("szz"), sg2n.as("sg2n"))
      .agg(sum("n").as("nt"), count(lit(1)).as("k"),
        sum("sz").as("szt"), sum("szz").as("szzt"),
        sum("sg2n").as("sg2nt"))
    val ntD = col("nt").cast("double")
    val kD = col("k").cast("double")
    val between = col("sg2nt") - col("szt") * col("szt") / ntD
    val within = col("szzt") - col("sg2nt")
    val f = ((ntD - kD) / safe(kD - 1.0)) * between / safe(within)
    val gRow = glob.select(col("nt"), col("k"), f.as("f_stat"))
    gstats.crossJoin(broadcast(gRow))
      .select(col("g").as("event_type"), col("n"),
        round(col("med"), 6).as("median"),
        round(col("sz") / col("n").cast("double"), 6).as("mean_absdev"),
        round(col("f_stat"), 4).as("f_stat"),
        (col("k") - 1).as("df1"), (col("nt") - col("k")).as("df2"))
      .orderBy("event_type")
  }

  private val q288Sql =
    """WITH counts AS (SELECT event_type AS g, value AS v,
           CAST(count(*) AS BIGINT) AS nv
         FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
       tot AS (SELECT g, CAST(sum(nv) AS BIGINT) AS n FROM counts
               GROUP BY g),
       cum AS (SELECT g, v, sum(nv) OVER (PARTITION BY g ORDER BY v)
                 AS cw FROM counts),
       med AS (SELECT c.g, min(c.v) AS med
         FROM cum c JOIN tot ON c.g = tot.g
         WHERE c.cw >= (tot.n + 1) // 2 GROUP BY c.g),
       z AS (SELECT e.event_type AS g, m.med,
           abs(e.value - m.med) AS z
         FROM events e JOIN med m ON e.event_type = m.g
         WHERE e.value IS NOT NULL),
       gstats AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
           any_value(med) AS med, sum(z) AS sz, sum(z * z) AS szz
         FROM z GROUP BY g),
       gtot AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
           CAST(count(*) AS BIGINT) AS k,
           sum(sz) AS szt, sum(szz) AS szzt,
           sum(sz * sz / n::DOUBLE) AS sg2nt
         FROM gstats)
       SELECT g AS event_type, n, round(med, 6) AS median,
         round(sz / n::DOUBLE, 6) AS mean_absdev,
         round(((nt::DOUBLE - k::DOUBLE)
             / greatest(k::DOUBLE - 1.0, 1e-12))
           * (sg2nt - szt * szt / nt::DOUBLE)
           / greatest(szzt - sg2nt, 1e-12), 4) AS f_stat,
         k - 1 AS df1, nt - k AS df2
       FROM gstats, gtot ORDER BY event_type"""

  // --------------------------------------------------------------- q289
  /** Partial correlation (3-variable closed form) — the confound
    * control q194's raw correlation matrix can't express: daily order
    * volume vs daily revenue with daily shipped quantity partialled
    * out, r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)). All
    * three Pearson r's come from exact per-day sums (counts and cents
    * as LONGs, quantity integral-exact in double); the corpus
    * collapses to two day tables joined once.
    */
  private def q289(s: SparkSession, d: String): DataFrame = {
    val od = Tables.orders(s, d)
      .select(to_date(col("o_orderdate")).as("dt"),
        round(col("o_totalprice") * 100, 0).cast("long").as("c"))
      .groupBy("dt").agg(count(lit(1)).as("xn"), sum("c").as("yc"))
    val ld = Tables.lineitem(s, d)
      .select(to_date(col("l_shipdate")).as("dt"), col("l_quantity"))
      .groupBy("dt").agg(sum("l_quantity").as("zq"))
    val j = od.join(ld, Seq("dt"))
      .select(col("xn").cast("double").as("x"),
        (col("yc").cast("double") / 1e6).as("y"), col("zq").as("z"))
    val m = j.agg(count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"), sum("z").as("sz"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("z") * col("z")).as("szz"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("z")).as("sxz"),
      sum(col("y") * col("z")).as("syz"))
    val nD = col("n").cast("double")
    def r(sab: Column, sa: Column, sb: Column, saa: Column,
          sbb: Column): Column =
      (nD * sab - sa * sb) /
        safe(sqrt((nD * saa - sa * sa) * (nD * sbb - sb * sb)))
    val rxy = r(col("sxy"), col("sx"), col("sy"), col("sxx"), col("syy"))
    val rxz = r(col("sxz"), col("sx"), col("sz"), col("sxx"), col("szz"))
    val ryz = r(col("syz"), col("sy"), col("sz"), col("syy"), col("szz"))
    m.select(col("n").as("n_days"),
      round(rxy, 6).as("r_xy"), round(rxz, 6).as("r_xz"),
      round(ryz, 6).as("r_yz"),
      round((rxy - rxz * ryz) /
        safe(sqrt((lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz))), 6)
        .as("partial_r_xy_z"))
  }

  private val q289Sql =
    """WITH od AS (SELECT o_orderdate::DATE AS dt,
           CAST(count(*) AS BIGINT) AS xn,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS yc
         FROM orders GROUP BY 1),
       ld AS (SELECT l_shipdate::DATE AS dt, sum(l_quantity) AS zq
         FROM lineitem GROUP BY 1),
       j AS (SELECT xn::DOUBLE AS x, yc::DOUBLE / 1e6 AS y, zq AS z
         FROM od JOIN ld USING (dt)),
       m AS (SELECT CAST(count(*) AS BIGINT) AS n,
           sum(x) AS sx, sum(y) AS sy, sum(z) AS sz,
           sum(x * x) AS sxx, sum(y * y) AS syy, sum(z * z) AS szz,
           sum(x * y) AS sxy, sum(x * z) AS sxz, sum(y * z) AS syz
         FROM j),
       rr AS (SELECT n,
           (n::DOUBLE * sxy - sx * sy) / greatest(sqrt(
             (n::DOUBLE * sxx - sx * sx) * (n::DOUBLE * syy - sy * sy)),
             1e-12) AS rxy,
           (n::DOUBLE * sxz - sx * sz) / greatest(sqrt(
             (n::DOUBLE * sxx - sx * sx) * (n::DOUBLE * szz - sz * sz)),
             1e-12) AS rxz,
           (n::DOUBLE * syz - sy * sz) / greatest(sqrt(
             (n::DOUBLE * syy - sy * sy) * (n::DOUBLE * szz - sz * sz)),
             1e-12) AS ryz
         FROM m)
       SELECT n AS n_days, round(rxy, 6) AS r_xy,
         round(rxz, 6) AS r_xz, round(ryz, 6) AS r_yz,
         round((rxy - rxz * ryz) / greatest(sqrt(
           (1.0 - rxz * rxz) * (1.0 - ryz * ryz)), 1e-12), 6)
           AS partial_r_xy_z
       FROM rr"""

  // --------------------------------------------------------------- q290
  /** Classical seasonal decomposition (trend + day-of-week seasonal +
    * residual) with a top-10 residual-anomaly readout — the
    * model-free companion to q181's Holt-Winters (which FITS a
    * recursive model; this one just subtracts structure): trend =
    * centered 7-day moving average (full windows only), seasonal =
    * per-weekday mean of the detrended series re-centered to sum
    * zero, residual = what neither explains. Ranked by |residual|
    * with a date tie-break (total order). Corpus work: one
    * aggregation to the dense day grid; every window runs on it.
    */
  /** Shared decomposition kernel for q290/q351: the dense-day series
    * with centered-7 trend, zero-sum day-of-week seasonal, residual.
    * Columns: t, dt, r, trend, detr, seasonal, resid. */
  private def seasonalDec(s: SparkSession, d: String): DataFrame = {
    val series = dailyRevenue(s, d)
    val w7 = Window.orderBy("t").rowsBetween(-3, 3)
    val tr = series
      .withColumn("win_n", count(lit(1)).over(w7))
      .withColumn("trend", avg("r").over(w7))
      .filter(col("win_n") === 7)
      .withColumn("detr", col("r") - col("trend"))
      .withColumn("dow", pmod(col("t"), lit(7L)))
    val sdow = tr.groupBy("dow").agg(avg("detr").as("sraw"))
    val sc = sdow.crossJoin(broadcast(
        sdow.agg(avg("sraw").as("smean"))))
      .select(col("dow"), (col("sraw") - col("smean")).as("seasonal"))
    tr.join(broadcast(sc), Seq("dow"))
      .withColumn("resid", col("detr") - col("seasonal"))
  }

  private def q290(s: SparkSession, d: String): DataFrame = {
    val dec = seasonalDec(s, d)
    val byAbs = Window.orderBy(
      floor(abs(col("resid")) * 1e6 + 0.5).cast("long").desc,
      col("dt").asc)
    dec.withColumn("rk", row_number().over(byAbs))
      .filter(col("rk") <= 10)
      .select(col("rk").cast("long").as("rk"), col("dt"),
        round(col("r"), 4).as("revenue"),
        round(col("trend"), 4).as("trend"),
        round(col("seasonal"), 4).as("seasonal"),
        round(col("resid"), 4).as("residual"))
      .orderBy("rk")
  }

  /** Oracle twin of [[seasonalDec]] — CTE chain ending in
    * `dec(t, dt, r, trend, detr, seasonal, resid)`, shared by
    * q290/q351 so the two readouts cannot drift. */
  private val seasonalDecCte =
    s"""$dailyRevenueSql,
       tr AS (SELECT t, dt, r,
           count(*) OVER w7 AS win_n, avg(r) OVER w7 AS trend
         FROM series
         WINDOW w7 AS (ORDER BY t
           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
       full7 AS (SELECT t, dt, r, trend, r - trend AS detr, t % 7 AS dow
         FROM tr WHERE win_n = 7),
       sdow AS (SELECT dow, avg(detr) AS sraw FROM full7 GROUP BY dow),
       sc AS (SELECT dow, sraw - (SELECT avg(sraw) FROM sdow)
                AS seasonal FROM sdow),
       dec AS (SELECT f.t, f.dt, f.r, f.trend, f.detr, sc.seasonal,
           f.detr - sc.seasonal AS resid
         FROM full7 f JOIN sc ON f.dow = sc.dow)"""

  private val q290Sql =
    s"""WITH $seasonalDecCte,
       ranked AS (SELECT *,
           row_number() OVER (ORDER BY
             CAST(floor(abs(resid) * 1e6 + 0.5) AS BIGINT) DESC,
             dt ASC) AS rk
         FROM dec)
       SELECT CAST(rk AS BIGINT) AS rk, dt,
         round(r, 4) AS revenue, round(trend, 4) AS trend,
         round(seasonal, 4) AS seasonal, round(resid, 4) AS residual
       FROM ranked WHERE rk <= 10 ORDER BY rk"""

  // --------------------------------------------------------------- q351
  /** Trend / seasonality STRENGTH (Wang–Hyndman) — the one-row answer
    * to "is this series trend-dominated, weekly-dominated, or noise?"
    * that q290's component table makes the reader compute by eye:
    * F_T = max(0, 1 − Var(R)/Var(deseasonalized)) and F_S = max(0,
    * 1 − Var(R)/Var(detrended)), both in [0,1]. Shares [[seasonalDec]]
    * verbatim with q290 (the decomposition cannot drift from its
    * summary); variances close as avg(x²) − avg(x)² fixed-shape
    * expressions over the calendar-bounded day table (6-dp rounding
    * absorbs sum-order ulps — the q290 regime; Spark/DuckDB var_pop
    * builtins use DIFFERENT algorithms and are avoided).
    */
  private def q351(s: SparkSession, d: String): DataFrame = {
    val dec = seasonalDec(s, d)
      .withColumn("deseas", col("r") - col("seasonal"))
    val st = dec.agg(count(lit(1)).as("n"),
      avg("resid").as("mr"), avg(col("resid") * col("resid")).as("mrr"),
      avg("detr").as("md"), avg(col("detr") * col("detr")).as("mdd"),
      avg("deseas").as("ms"),
      avg(col("deseas") * col("deseas")).as("mss"))
    val vr = col("mrr") - col("mr") * col("mr")
    val vd = col("mdd") - col("md") * col("md")
    val vs = col("mss") - col("ms") * col("ms")
    st.select(col("n").as("n_days"),
      round(vr, 6).as("var_resid"),
      round(vd, 6).as("var_detrended"),
      round(vs, 6).as("var_deseasonalized"),
      round(greatest(lit(0.0), lit(1.0) - vr / safe(vs)), 4)
        .as("trend_strength"),
      round(greatest(lit(0.0), lit(1.0) - vr / safe(vd)), 4)
        .as("seasonal_strength"))
  }

  private val q351Sql =
    s"""WITH $seasonalDecCte,
       st AS (SELECT CAST(count(*) AS BIGINT) AS n,
           avg(resid) AS mr, avg(resid * resid) AS mrr,
           avg(detr) AS md, avg(detr * detr) AS mdd,
           avg(r - seasonal) AS ms,
           avg((r - seasonal) * (r - seasonal)) AS mss
         FROM dec)
       SELECT n AS n_days,
         round(mrr - mr * mr, 6) AS var_resid,
         round(mdd - md * md, 6) AS var_detrended,
         round(mss - ms * ms, 6) AS var_deseasonalized,
         round(greatest(0.0, 1.0 - (mrr - mr * mr)
           / greatest(mss - ms * ms, 1e-12)), 4) AS trend_strength,
         round(greatest(0.0, 1.0 - (mrr - mr * mr)
           / greatest(mdd - md * md, 1e-12)), 4) AS seasonal_strength
       FROM st"""

  // --------------------------------------------------------------- q292
  /** Token-budget fill — the curation primitive that turns a quality
    * ordering into a dataset: keep the best-scoring documents (score =
    * distinct-token ratio in exact 1e-6-unit LONGs) until a token
    * budget (half the corpus) is spent, greedy-prefix semantics. The
    * scale design is the point: NO global sort — the corpus collapses
    * to the bounded per-score-class table, the class prefix sums
    * resolve "tokens strictly above my class" there, and the only
    * per-document window is PARTITIONED by score class (doc_id order
    * within the boundary class only). Equivalent to the global
    * (score desc, doc_id asc) running-sum cutoff, exactly.
    */
  private def q292(s: SparkSession, d: String): DataFrame = {
    val arr = graft.functions.TextFunctions.words(col("text"))
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(arr).cast("long").as("tok"),
        floor(size(array_distinct(arr)).cast("double") * 1e6 /
          size(arr).cast("double")).cast("long").as("su"))
    val perScore = docs.groupBy("su").agg(sum("tok").as("stok"))
    val wDesc = Window.orderBy(col("su").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val above = perScore
      .withColumn("cum", sum("stok").over(wDesc))
      .select(col("su"), (col("cum") - col("stok")).as("before"))
    val bud = docs.agg(sum("tok").as("tt"))
      .select(expr("tt div 2").as("budget"))
    val wIn = Window.partitionBy("su").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val marked = docs.join(broadcast(above), Seq("su"))
      .withColumn("cumin", sum("tok").over(wIn))
      .crossJoin(broadcast(bud))
      .withColumn("keep", col("before") + col("cumin") <= col("budget"))
    marked.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("tok")).otherwise(0L))
          .as("tokens_kept"),
        first("budget").as("budget"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        col("tokens_kept"),
        round(col("tokens_kept").cast("double") /
          safe(col("budget").cast("double")), 6).as("budget_share"))
      .orderBy("source")
  }

  private val q292Sql =
    """WITH b AS (SELECT doc_id, source,
           CAST(len(arr) AS BIGINT) AS tok,
           CAST(floor(len(list_distinct(arr))::DOUBLE * 1e6
             / len(arr)::DOUBLE) AS BIGINT) AS su
         FROM (SELECT doc_id, source,
                 regexp_split_to_array(trim(text), '\s+') AS arr
               FROM documents)),
       bud AS (SELECT CAST(sum(tok) // 2 AS BIGINT) AS budget FROM b),
       cum AS (SELECT doc_id, source, tok, su,
           sum(tok) OVER (ORDER BY su DESC, doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
         FROM b)
       SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN cw <= budget THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept,
         CAST(sum(CASE WHEN cw <= budget THEN tok ELSE 0 END) AS BIGINT)
           AS tokens_kept,
         round(sum(CASE WHEN cw <= budget THEN tok ELSE 0 END)::DOUBLE
           / greatest(any_value(budget)::DOUBLE, 1e-12), 6)
           AS budget_share
       FROM cum, bud GROUP BY source ORDER BY source"""

  // --------------------------------------------------------------- q293
  /** Largest-remainder (Hamilton) quota allocation — the exact
    * apportionment step sampling plans need after q221's Neyman math:
    * 1000 sample slots across (lang, source) strata proportional to
    * token mass, base = ⌊N·w/W⌋ with the leftover slots going to the
    * largest integer remainders (N·w mod W — PURE LONG arithmetic, no
    * FP fractions), ties broken lexicographically. Σalloc = N by
    * construction. Corpus work: one token aggregation to the strata
    * grid; the ranking window runs on the bounded grid.
    */
  private def q293(s: SparkSession, d: String): DataFrame = {
    val slots = 1000L
    val arr = graft.functions.TextFunctions.words(col("text"))
    val strata = Tables.documents(s, d)
      .select(col("lang"), col("source"), size(arr).cast("long").as("tok"))
      .groupBy("lang", "source").agg(sum("tok").as("w"))
    val tot = strata.agg(sum("w").as("bigw"))
    // exact LONG floor division + modulus (Spark's Column `/` is
    // ALWAYS FP division — the q250 pitfall)
    val based = strata.crossJoin(broadcast(tot))
      .select(col("lang"), col("source"), col("w"),
        expr(s"(w * $slots) div bigw").as("base"),
        pmod(col("w") * slots, col("bigw")).as("rem"))
    val leftover = based.agg((lit(slots) - sum("base")).as("leftover"))
    val byRem = Window.orderBy(col("rem").desc, col("lang").asc,
      col("source").asc)
    based.crossJoin(broadcast(leftover))
      .withColumn("rk", row_number().over(byRem))
      .select(col("lang"), col("source"), col("w").as("tokens"),
        col("base"),
        when(col("rk") <= col("leftover"), 1L).otherwise(0L).as("extra"))
      .withColumn("alloc", col("base") + col("extra"))
      .orderBy("lang", "source")
  }

  private val q293Sql =
    """WITH strata AS (SELECT lang, source,
           CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
             AS BIGINT) AS w
         FROM documents GROUP BY 1, 2),
       tot AS (SELECT CAST(sum(w) AS BIGINT) AS bigw FROM strata),
       based AS (SELECT lang, source, w,
           CAST((w * 1000) // bigw AS BIGINT) AS base,
           CAST((w * 1000) % bigw AS BIGINT) AS rem
         FROM strata, tot),
       lo AS (SELECT CAST(1000 - sum(base) AS BIGINT) AS leftover
              FROM based)
       SELECT lang, source, w AS tokens, base,
         CASE WHEN row_number() OVER (ORDER BY rem DESC, lang ASC,
             source ASC) <= leftover THEN 1 ELSE 0 END::BIGINT AS extra,
         base + CASE WHEN row_number() OVER (ORDER BY rem DESC,
             lang ASC, source ASC) <= leftover THEN 1 ELSE 0 END
           AS alloc
       FROM based, lo ORDER BY lang, source"""

  // --------------------------------------------------------------- q294
  /** Maximum drawdown of the daily-revenue series — the
    * peak-to-trough stress readout next to q168's mean-shift and
    * q283's trend break: running peak over OBSERVED days (a zero-fill
    * grid would fabricate 100% drawdowns on gap days), drawdown
    * quantized to 1e-6-unit LONGs for a total-order argmax (earliest
    * trough on ties), then the peak day (earliest day attaining the
    * peak) and recovery day (earliest later day at or above the peak,
    * NULL if never) re-derived by exact integer-cent comparisons.
    */
  private def q294(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .select(to_date(col("o_orderdate")).as("dt"),
        round(col("o_totalprice") * 100, 0).cast("long").as("c"))
      .groupBy("dt").agg(sum("c").as("c"))
    val wUp = Window.orderBy("dt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withPeak = daily.withColumn("peak", max("c").over(wUp))
    val ddu = floor((col("peak") - col("c")).cast("double") /
      col("peak").cast("double") * 1e6 + 0.5).cast("long")
    val byDd = Window.orderBy(col("ddu").desc, col("dt").asc)
    val trough = withPeak.withColumn("ddu", ddu)
      .withColumn("rk", row_number().over(byDd))
      .filter(col("rk") === 1)
      .select(col("dt").as("trough_dt"), col("c").as("trough_cents"),
        col("peak").as("peak_cents"), col("ddu"))
    // fresh aliases for the re-joins: trough derives from daily, so
    // joining the ORIGINAL daily back would hit ambiguous-attribute
    // resolution
    val d2 = daily.select(col("dt").as("d_dt"), col("c").as("d_c"))
    val peakDay = trough.join(d2,
        col("d_c") === col("peak_cents") &&
          col("d_dt") <= col("trough_dt"))
      .groupBy("trough_dt", "trough_cents", "peak_cents", "ddu")
      .agg(min(col("d_dt")).as("peak_dt"))
    val d3 = daily.select(col("dt").as("r_dt"), col("c").as("r_c"))
    val recovery = peakDay.join(d3,
        col("r_c") >= col("peak_cents") &&
          col("r_dt") > col("trough_dt"), "left")
      .groupBy("trough_dt", "trough_cents", "peak_cents", "ddu",
        "peak_dt")
      .agg(min(col("r_dt")).as("recovery_dt"))
    recovery.select(col("peak_dt"), col("trough_dt"), col("recovery_dt"),
      col("peak_cents"), col("trough_cents"),
      (col("ddu").cast("double") / 1e6).as("max_drawdown"),
      datediff(col("recovery_dt"), col("peak_dt")).cast("long")
        .as("days_underwater"))
  }

  private val q294Sql =
    """WITH daily AS (SELECT o_orderdate::DATE AS dt,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS c
         FROM orders GROUP BY 1),
       wp AS (SELECT dt, c,
           CAST(max(c) OVER (ORDER BY dt
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS peak
         FROM daily),
       dd AS (SELECT dt, c, peak,
           CAST(floor((peak - c)::DOUBLE / peak::DOUBLE * 1e6 + 0.5)
             AS BIGINT) AS ddu
         FROM wp),
       trough AS (SELECT dt AS trough_dt, c AS trough_cents,
           peak AS peak_cents, ddu
         FROM dd QUALIFY row_number() OVER (ORDER BY ddu DESC, dt ASC)
           = 1),
       pk AS (SELECT t.trough_dt, t.trough_cents, t.peak_cents, t.ddu,
           min(d.dt) AS peak_dt
         FROM trough t JOIN daily d
           ON d.c = t.peak_cents AND d.dt <= t.trough_dt
         GROUP BY 1, 2, 3, 4),
       rec AS (SELECT p.*, min(d.dt) AS recovery_dt
         FROM pk p LEFT JOIN daily d
           ON d.c >= p.peak_cents AND d.dt > p.trough_dt
         GROUP BY 1, 2, 3, 4, 5)
       SELECT peak_dt, trough_dt, recovery_dt, peak_cents, trough_cents,
         ddu::DOUBLE / 1e6 AS max_drawdown,
         CAST(datediff('day', peak_dt, recovery_dt) AS BIGINT)
           AS days_underwater
       FROM rec"""

  // --------------------------------------------------------------- q295
  /** Cohen's d / Hedges' g effect sizes — the MAGNITUDE companion to
    * q120's Welch significance (at corpus n everything is
    * "significant"; d says whether it matters): per event type, the
    * hash-arm mean difference over the pooled standard deviation,
    * with Hedges' small-sample correction g = d·(1 − 3/(4n−9)). Same
    * hash assignment as the q120/q247/q261 testing family; exact
    * count/sum/sumsq sufficient statistics in ONE aggregation.
    */
  private def q295(s: SparkSession, d: String): DataFrame = {
    val arm = Sampling.hashBucket(col("user_id"), "ab", 2)
    val cells = Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(col("event_type"), (arm === 0).as("t"),
        col("value").as("v"))
      .groupBy("event_type")
      .agg(sum(when(col("t"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("t"), col("v")).otherwise(0.0)).as("sa"),
        sum(when(col("t"), col("v") * col("v")).otherwise(0.0))
          .as("saa"),
        sum(when(!col("t"), 1L).otherwise(0L)).as("n_b"),
        sum(when(!col("t"), col("v")).otherwise(0.0)).as("sb"),
        sum(when(!col("t"), col("v") * col("v")).otherwise(0.0))
          .as("sbb"))
      .filter(col("n_a") >= 2 && col("n_b") >= 2)
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val va = (col("saa") - col("sa") * col("sa") / na) / (na - 1.0)
    val vb = (col("sbb") - col("sb") * col("sb") / nb) / (nb - 1.0)
    val sp = sqrt(((na - 1.0) * va + (nb - 1.0) * vb) /
      safe(na + nb - 2.0))
    val dEff = (col("sa") / na - col("sb") / nb) / safe(sp)
    val g = dEff * (lit(1.0) - lit(3.0) /
      safe(lit(4.0) * (na + nb) - 9.0))
    cells.select(col("event_type"), col("n_a"), col("n_b"),
        round(col("sa") / na - col("sb") / nb, 6).as("mean_diff"),
        round(sp, 6).as("pooled_sd"),
        round(dEff, 4).as("cohens_d"),
        round(g, 4).as("hedges_g"))
      .orderBy("event_type")
  }

  private val q295Sql =
    """WITH b AS (SELECT event_type,
           (('0x' || substr(md5('ab' || user_id::VARCHAR), 1, 15))::BIGINT
             % 2 = 0) AS t,
           value AS v
         FROM events WHERE value IS NOT NULL),
       c AS (SELECT event_type,
           CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           sum(CASE WHEN t THEN v ELSE 0.0 END) AS sa,
           sum(CASE WHEN t THEN v * v ELSE 0.0 END) AS saa,
           CAST(sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT)
             AS n_b,
           sum(CASE WHEN NOT t THEN v ELSE 0.0 END) AS sb,
           sum(CASE WHEN NOT t THEN v * v ELSE 0.0 END) AS sbb
         FROM b GROUP BY event_type
         HAVING n_a >= 2 AND n_b >= 2),
       t2 AS (SELECT event_type, n_a, n_b,
           sa / n_a::DOUBLE - sb / n_b::DOUBLE AS md,
           sqrt(((n_a::DOUBLE - 1.0)
               * ((saa - sa * sa / n_a::DOUBLE) / (n_a::DOUBLE - 1.0))
             + (n_b::DOUBLE - 1.0)
               * ((sbb - sb * sb / n_b::DOUBLE) / (n_b::DOUBLE - 1.0)))
             / greatest(n_a::DOUBLE + n_b::DOUBLE - 2.0, 1e-12)) AS sp,
           n_a::DOUBLE + n_b::DOUBLE AS nt
         FROM c)
       SELECT event_type, n_a, n_b,
         round(md, 6) AS mean_diff,
         round(sp, 6) AS pooled_sd,
         round(md / greatest(sp, 1e-12), 4) AS cohens_d,
         round((md / greatest(sp, 1e-12))
           * (1.0 - 3.0 / greatest(4.0 * nt - 9.0, 1e-12)), 4)
           AS hedges_g
       FROM t2 ORDER BY event_type"""

  // --------------------------------------------------------------- q296
  /** Cochran–Armitage trend test — is there a MONOTONE trend in a
    * binary rate across ORDERED groups? (The χ² independence test
    * q246 ignores the ordering and wastes power on it.) Groups are
    * the five order priorities with their numeric prefix as the dose
    * score t∈{1..5}; outcome = order finished (`o_orderstatus='F'`).
    * The statistic reduces to a FIXED-SHAPE expression of five exact
    * LONG sufficient statistics (N, R=Σr, A=Σt·r, B=Σt·n, C=Σt²·n):
    * T = A − (R/N)·B, Var = (R/N)(1−R/N)(C − B²/N) — so no per-group
    * FP accumulates and no quantization is needed. B² forms in DOUBLE
    * (the q244 overflow lesson: B ≤ 5N overflows LONG when squared at
    * corpus scale). One corpus aggregation to 5 groups; everything
    * after runs on one row.
    */
  private def q296(s: SparkSession, d: String): DataFrame = {
    val g = Tables.orders(s, d)
      .select(substring(col("o_orderpriority"), 1, 1).cast("long").as("t"),
        when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y"))
      .groupBy("t")
      .agg(count(lit(1)).as("n"), sum("y").as("r"))
    val suff = g.agg(
      sum("n").as("n_total"), sum("r").as("r_total"),
      sum(col("t") * col("r")).as("a"),
      sum(col("t") * col("n")).as("b"),
      sum(col("t") * col("t") * col("n")).as("c"))
    val nD = col("n_total").cast("double")
    val p = col("r_total").cast("double") / nD
    val tstat = col("a").cast("double") - p * col("b").cast("double")
    val varT = p * (lit(1.0) - p) *
      (col("c").cast("double") -
        col("b").cast("double") * col("b").cast("double") / nD)
    val z = tstat / sqrt(safe(varT))
    import graft.functions.Rounding.floorRound
    suff.select(col("n_total"), col("r_total"),
      round(p, 6).as("pbar"),
      floorRound(tstat, 4).as("t_stat"),
      floorRound(z, 6).as("z"),
      round(z * z, 6).as("chi2"))
  }

  private val q296Sql =
    """WITH g AS (SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT)
             AS t,
           CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
         FROM orders),
       s AS (SELECT CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(y) AS BIGINT) AS r_total,
           CAST(sum(t * y) AS BIGINT) AS a,
           CAST(sum(t) AS BIGINT) AS b,
           CAST(sum(t * t) AS BIGINT) AS c
         FROM g),
       f AS (SELECT n_total, r_total,
           r_total::DOUBLE / n_total::DOUBLE AS p,
           a::DOUBLE - (r_total::DOUBLE / n_total::DOUBLE) * b::DOUBLE
             AS tstat,
           (r_total::DOUBLE / n_total::DOUBLE)
             * (1.0 - r_total::DOUBLE / n_total::DOUBLE)
             * (c::DOUBLE - b::DOUBLE * b::DOUBLE / n_total::DOUBLE)
             AS v
         FROM s)
       SELECT n_total, r_total, round(p, 6) AS pbar,
         floor(tstat * 1e4 + 0.5) / 1e4 AS t_stat,
         floor(tstat / sqrt(greatest(v, 1e-12)) * 1e6 + 0.5) / 1e6 AS z,
         round((tstat / sqrt(greatest(v, 1e-12)))
           * (tstat / sqrt(greatest(v, 1e-12))), 6) AS chi2
       FROM f"""

  // --------------------------------------------------------------- q297
  /** Mann–Kendall trend test — the NONPARAMETRIC significance
    * companion to q250's Theil–Sen slope (which gives magnitude, not
    * evidence): S = Σ_{i<j} sign(c_j − c_i) over the observed daily
    * revenue series in EXACT integer cents (sign of a LONG
    * difference — no FP enters until the closing z), tie-corrected
    * variance Var(S) = [n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5)]/18
    * from the cents-value tie groups, continuity-corrected z.
    * Scale: the corpus collapses to observed days (calendar-bounded
    * at ANY SF — zero-fill would fabricate ties), the pair table is
    * days² of a broadcast-sized frame, and the n³-ish variance terms
    * form in DOUBLE (n³ overflows nothing at days-cardinality but the
    * discipline is free).
    */
  private def q297(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .select(to_date(col("o_orderdate")).as("dt"),
        round(col("o_totalprice") * 100, 0).cast("long").as("c"))
      .groupBy("dt").agg(sum("c").as("c"))
    val a = daily.select(col("dt").as("dt1"), col("c").as("c1"))
    val b = daily.select(col("dt").as("dt2"), col("c").as("c2"))
    val pairs = a.join(broadcast(b), col("dt1") < col("dt2"))
      .agg(sum(signum(col("c2") - col("c1")).cast("long")).as("s_stat"))
    val nDf = daily.agg(count(lit(1)).as("n"))
    val ties = daily.groupBy("c").agg(count(lit(1)).as("tg"))
      .filter(col("tg") > 1)
      .agg(coalesce(sum(col("tg").cast("double") *
          (col("tg") - 1L).cast("double") *
          (lit(2.0) * col("tg").cast("double") + lit(5.0))), lit(0.0))
        .as("tie_term"))
    val nD = col("n").cast("double")
    val varS = (nD * (nD - 1.0) * (lit(2.0) * nD + 5.0) -
      col("tie_term")) / lit(18.0)
    val sD = col("s_stat").cast("double")
    val z = when(col("s_stat") > 0, (sD - 1.0) / sqrt(safe(varS)))
      .when(col("s_stat") < 0, (sD + 1.0) / sqrt(safe(varS)))
      .otherwise(lit(0.0))
    import graft.functions.Rounding.floorRound
    pairs.crossJoin(nDf).crossJoin(ties)
      .select(col("n"), col("s_stat"),
        round(varS, 4).as("var_s"),
        floorRound(z, 6).as("z"),
        floorRound(sD / (nD * (nD - 1.0) / 2.0), 6).as("kendall_tau"))
  }

  private val q297Sql =
    """WITH daily AS (SELECT o_orderdate::DATE AS dt,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS c
         FROM orders GROUP BY 1),
       p AS (SELECT CAST(sum(CASE WHEN b.c > a.c THEN 1
                        WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT)
               AS s_stat
             FROM daily a JOIN daily b ON a.dt < b.dt),
       nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
       tt AS (SELECT coalesce(sum(tg::DOUBLE * (tg - 1)::DOUBLE
                * (2.0 * tg::DOUBLE + 5.0)), 0.0) AS tie_term
              FROM (SELECT c, count(*) AS tg FROM daily
                    GROUP BY c HAVING count(*) > 1)),
       f AS (SELECT n, s_stat, tie_term,
           (n::DOUBLE * (n::DOUBLE - 1.0) * (2.0 * n::DOUBLE + 5.0)
             - tie_term) / 18.0 AS var_s
         FROM p, nn, tt)
       SELECT n, s_stat, round(var_s, 4) AS var_s,
         floor((CASE WHEN s_stat > 0
                  THEN (s_stat::DOUBLE - 1.0)
                    / sqrt(greatest(var_s, 1e-12))
                WHEN s_stat < 0
                  THEN (s_stat::DOUBLE + 1.0)
                    / sqrt(greatest(var_s, 1e-12))
                ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS z,
         floor(s_stat::DOUBLE / (n::DOUBLE * (n::DOUBLE - 1.0) / 2.0)
           * 1e6 + 0.5) / 1e6 AS kendall_tau
       FROM f"""

  // --------------------------------------------------------------- q298
  /** Unseen-mass estimators — how much vocabulary has a source NOT
    * shown yet? The question every data-acquisition decision hides:
    * per source, Chao1 richness V + F1(F1−1)/(2(F2+1)) (bias-corrected
    * form — defined even when no word occurs exactly twice) estimates
    * the TOTAL vocabulary including unseen words, and the Good–Turing
    * mass F1/N estimates the probability the NEXT token is novel.
    * Everything derives from the (source, word) count table in exact
    * LONGs: V, N, F1 = #singletons, F2 = #doubletons — one token
    * aggregation, one source rollup, no vocab×source grid.
    */
  private def q298(s: SparkSession, d: String): DataFrame = {
    val cs = Tables.documents(s, d)
      .select(col("source"),
        explode(graft.functions.TextFunctions.words(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
    val per = cs.groupBy("source").agg(
      count(lit(1)).as("vocab"),
      sum("c").as("n_tokens"),
      sum(when(col("c") === 1L, 1L).otherwise(0L)).as("f1"),
      sum(when(col("c") === 2L, 1L).otherwise(0L)).as("f2"))
    per.select(col("source"), col("vocab"), col("n_tokens"),
        col("f1"), col("f2"),
        round(col("vocab").cast("double") +
          col("f1").cast("double") * (col("f1") - 1L).cast("double") /
            (lit(2.0) * (col("f2") + 1L).cast("double")), 4)
          .as("chao1"),
        round(col("f1").cast("double") /
          safe(col("n_tokens").cast("double")), 6).as("gt_unseen"))
      .orderBy("source")
  }

  private val q298Sql =
    """WITH cs AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
         FROM (SELECT source,
                 unnest(regexp_split_to_array(trim(text), '\s+')) AS w
               FROM documents)
         GROUP BY source, w),
       per AS (SELECT source,
           CAST(count(*) AS BIGINT) AS vocab,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
           CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
         FROM cs GROUP BY source)
       SELECT source, vocab, n_tokens, f1, f2,
         round(vocab::DOUBLE + f1::DOUBLE * (f1 - 1)::DOUBLE
           / (2.0 * (f2 + 1)::DOUBLE), 4) AS chao1,
         round(f1::DOUBLE / greatest(n_tokens::DOUBLE, 1e-12), 6)
           AS gt_unseen
       FROM per ORDER BY source"""

  // --------------------------------------------------------------- q299
  /** Heaps'-law vocabulary-growth fit — V(N) ≈ K·N^β: how fast does
    * new vocabulary arrive as the corpus grows? (The planning curve
    * behind q298's point estimates: β near 1 means vocab still
    * exploding, β near 0 means saturation.) Checkpoints are ten
    * VALUE-RANGE doc_id thresholds t_k = min + (max−min)·k div 10 —
    * pure LONG arithmetic, no global sort or row_number, identical at
    * any scale. Each word's FIRST appearance is one min-aggregation;
    * V_k / N_k come from a 10-row broadcast fan-out of the bounded
    * per-word / per-doc tables (map-side, constant factor 10). The
    * log-log OLS closes over ten points driver-free.
    */
  private def q299(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.words(col("text"))).as("w"))
    val perDoc = toks.groupBy("doc_id").agg(count(lit(1)).as("tok"))
    val firstW = toks.groupBy("w").agg(min("doc_id").as("fid"))
    val bounds = perDoc.agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
    val ks = bounds.select(explode(sequence(lit(1L), lit(10L))).as("k"),
        col("lo"), col("hi"))
      .select(col("k"),
        expr("lo + ((hi - lo) * k) div 10").as("t_k"))
    val nK = perDoc.crossJoin(broadcast(ks))
      .filter(col("doc_id") <= col("t_k"))
      .groupBy("k").agg(sum("tok").as("n_tokens"))
    val vK = firstW.crossJoin(broadcast(ks))
      .filter(col("fid") <= col("t_k"))
      .groupBy("k").agg(count(lit(1)).as("vocab"))
    val pts = nK.join(vK, Seq("k"))
      .select(col("k"), col("n_tokens"), col("vocab"),
        log(col("n_tokens").cast("double")).as("x"),
        log(col("vocab").cast("double")).as("y"))
    val fit = pts.agg(count(lit(1)).cast("double").as("m"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .select(
        ((col("sxy") - col("sx") * col("sy") / col("m")) /
          safe(col("sxx") - col("sx") * col("sx") / col("m")))
          .as("beta_raw"),
        col("sx"), col("sy"), col("m"))
      .select(col("beta_raw"),
        exp(col("sy") / col("m") -
          col("beta_raw") * col("sx") / col("m")).as("k_raw"))
    pts.crossJoin(broadcast(fit))
      .select(col("k"), col("n_tokens"), col("vocab"),
        // + 0.0 collapses the SIGNED zero a saturated-vocabulary slope
        // rounds to: the residual ±ε's sign depends on the engine's
        // parallel partial-sum order (DuckDB default-threads flipped
        // it run-to-run), and repr(-0.0) hash-mismatches repr(0.0)
        (round(col("beta_raw"), 6) + lit(0.0)).as("beta"),
        round(col("k_raw"), 4).as("k_coef"))
      .orderBy("k")
  }

  private val q299Sql =
    """WITH toks AS (SELECT doc_id,
           unnest(regexp_split_to_array(trim(text), '\s+')) AS w
         FROM documents),
       perdoc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS tok
                  FROM toks GROUP BY doc_id),
       firstw AS (SELECT w, min(doc_id) AS fid FROM toks GROUP BY w),
       b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM perdoc),
       ks AS (SELECT k, lo + ((hi - lo) * k) // 10 AS t_k
              FROM b, (SELECT unnest(generate_series(1, 10))::BIGINT
                         AS k)),
       nk AS (SELECT k, CAST(sum(tok) AS BIGINT) AS n_tokens
              FROM perdoc, ks WHERE doc_id <= t_k GROUP BY k),
       vk AS (SELECT k, CAST(count(*) AS BIGINT) AS vocab
              FROM firstw, ks WHERE fid <= t_k GROUP BY k),
       pts AS (SELECT nk.k, n_tokens, vocab,
                 ln(n_tokens::DOUBLE) AS x, ln(vocab::DOUBLE) AS y
               FROM nk JOIN vk ON nk.k = vk.k),
       fit AS (SELECT count(*)::DOUBLE AS m, sum(x) AS sx, sum(y) AS sy,
                 sum(x * x) AS sxx, sum(x * y) AS sxy
               FROM pts),
       co AS (SELECT (sxy - sx * sy / m)
                  / greatest(sxx - sx * sx / m, 1e-12) AS beta_raw,
                 sx, sy, m FROM fit)
       SELECT k, n_tokens, vocab,
         round(beta_raw, 6) + 0.0 AS beta,
         round(exp(sy / m - beta_raw * sx / m), 4) AS k_coef
       FROM pts, co ORDER BY k"""

  // --------------------------------------------------------------- q300
  /** Isotonic calibration (pool-adjacent-violators) — the monotone
    * companion to q190's binned reliability: fit the best
    * NON-DECREASING return rate as a function of discount level,
    * via the minimax closed form iso(i) = max_{a≤i} min_{b≥a}
    * mean(y[a..b]) — an exact, loop-free PAV. All pooling means are
    * fixed-shape divisions of exact LONG prefix sums; the a≤b pair
    * grid and both window passes run on the BOUNDED discount-level
    * table (11 rows — the corpus collapses in one aggregation), so
    * the construction is scale-free. Spec asserts the output is
    * monotone and matches a hand-pooled fixture.
    */
  private def q300(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(round(col("l_discount") * 100, 0).cast("long").as("x"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
      .groupBy("x").agg(count(lit(1)).as("n"), sum("y").as("sy"))
    val wAsc = Window.orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = li
      .withColumn("cn", sum("n").over(wAsc))
      .withColumn("cs", sum("sy").over(wAsc))
    val a = pre.select(col("x").as("xa"),
      (col("cn") - col("n")).as("na0"), (col("cs") - col("sy")).as("sa0"))
    val b = pre.select(col("x").as("xb"), col("cn").as("nb"),
      col("cs").as("sb"))
    val minOverB = a.join(b, col("xa") <= col("xb"))
      .select(col("xa"),
        ((col("sb") - col("sa0")).cast("double") /
          (col("nb") - col("na0")).cast("double")).as("mab"))
      .groupBy("xa").agg(min("mab").as("ma"))
    val wRun = Window.orderBy("xa")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val iso = minOverB.withColumn("iso_raw", max("ma").over(wRun))
    li.join(iso.select(col("xa").as("x"), col("iso_raw")), Seq("x"))
      .select(col("x").as("discount_pct"), col("n"),
        round(col("sy").cast("double") / col("n").cast("double"), 6)
          .as("emp_rate"),
        round(col("iso_raw"), 6).as("iso_rate"))
      .orderBy("discount_pct")
  }

  private val q300Sql =
    """WITH li AS (SELECT CAST(round(l_discount * 100) AS BIGINT) AS x,
           CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
         FROM lineitem),
       g AS (SELECT x, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS sy
             FROM li GROUP BY x),
       pre AS (SELECT x, n, sy,
           sum(n) OVER w AS cn, sum(sy) OVER w AS cs
         FROM g
         WINDOW w AS (ORDER BY x
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       pair AS (SELECT a.x AS xa,
                  (b.cs - (a.cs - a.sy))::DOUBLE
                    / (b.cn - (a.cn - a.n))::DOUBLE AS mab
                FROM pre a JOIN pre b ON a.x <= b.x),
       ma AS (SELECT xa, min(mab) AS ma FROM pair GROUP BY xa),
       iso AS (SELECT xa, max(ma) OVER (ORDER BY xa
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS iso_raw
               FROM ma)
       SELECT g.x AS discount_pct, g.n,
         round(g.sy::DOUBLE / g.n::DOUBLE, 6) AS emp_rate,
         round(iso.iso_raw, 6) AS iso_rate
       FROM g JOIN iso ON g.x = iso.xa
       ORDER BY discount_pct"""

  // --------------------------------------------------------------- q301
  /** Pareto-frontier curation (2-D skyline) — the documents no other
    * document dominates on (distinct-token ratio, length): the
    * multi-criteria "keep set" single-score ranking like q292 can't
    * express (a long slightly-repetitive doc and a short pristine one
    * are INCOMPARABLE). A doc survives iff its length is the max of
    * its exact ratio class AND strictly exceeds every higher class's
    * max — so dominance resolves on the BOUNDED (ratio-class → max
    * length) table (≤1e6 rows by construction of the 1e-6 ratio grid,
    * corpus-independent), never doc×doc; the corpus is touched by one
    * aggregation and one semi-join-shaped re-attach.
    */
  private def q301(s: SparkSession, d: String): DataFrame = {
    val arr = graft.functions.TextFunctions.words(col("text"))
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(arr).cast("long").as("tok"),
        floor(size(array_distinct(arr)).cast("double") * 1e6 /
          size(arr).cast("double")).cast("long").as("su"))
    val classes = docs.groupBy("su").agg(max("tok").as("mx"))
    val cls = classes
      .withColumn("hmx", max("mx").over(
        Window.orderBy(col("su").desc)
          .rowsBetween(Window.unboundedPreceding, -1)))
    docs.join(broadcast(cls), Seq("su"))
      .filter(col("tok") === col("mx") &&
        (col("hmx").isNull || col("tok") > col("hmx")))
      .select(col("doc_id"), col("source"),
        col("su").as("ratio_units"), col("tok").as("n_tokens"))
      .orderBy(col("ratio_units").desc, col("doc_id"))
  }

  private val q301Sql =
    """WITH docs AS (SELECT doc_id, source,
           CAST(len(arr) AS BIGINT) AS tok,
           CAST(floor(len(list_distinct(arr))::DOUBLE * 1e6
             / len(arr)::DOUBLE) AS BIGINT) AS su
         FROM (SELECT doc_id, source,
                 regexp_split_to_array(trim(text), '\s+') AS arr
               FROM documents)),
       classes AS (SELECT su, max(tok) AS mx FROM docs GROUP BY su),
       cls AS (SELECT su, mx,
           max(mx) OVER (ORDER BY su DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hmx
         FROM classes)
       SELECT d.doc_id, d.source, d.su AS ratio_units,
         d.tok AS n_tokens
       FROM docs d JOIN cls ON d.su = cls.su
       WHERE d.tok = cls.mx AND (cls.hmx IS NULL OR d.tok > cls.hmx)
       ORDER BY ratio_units DESC, doc_id"""

  // --------------------------------------------------------------- q303
  /** Bradley–Terry pairwise ratings — the arena-style readout for
    * comparing content SOURCES from pairwise outcomes (the model
    * behind every LLM leaderboard): within each language, every doc
    * pair from two different sources is a "match" won by the higher
    * distinct-token ratio. Exact win counts come WITHOUT a doc×doc
    * join: per-(lang, ratio-class, source) counts × the dense grid's
    * strictly-below cumulative counts — candidate volume is the
    * bounded class grid (≤1e6 ratio classes × sources), never corpus².
    * Products/sums form in DECIMAL (pair counts overflow LONG at
    * corpus scale); the 4 MM iterations r←W/Σn/(r_i+r_j) run on the
    * sources² matrix ENTIRELY on the integer grid (the q271 power-
    * iteration discipline): win fractions nf/wf are quantized ONCE to
    * 1e-12-unit LONGs by exact integer division, ratings are carried
    * as 1e-9-unit LONGs, and every round is integer joins + one
    * truncating integer division — so the DuckDB oracle replay is
    * arithmetic-identical on any build (no raw-double trajectory).
    * The final rating is a 6-dp integer-grid value divided by 1e6.
    */
  private def q303(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val arr = graft.functions.TextFunctions.words(col("text"))
    val docs = Tables.documents(s, d)
      .select(col("lang"), col("source"),
        floor(size(array_distinct(arr)).cast("double") * 1e6 /
          size(arr).cast("double")).cast("long").as("su"))
    val cnt = docs.groupBy("lang", "su", "source")
      .agg(count(lit(1)).as("c"))
    val classes = cnt.select("lang", "su").distinct()
    val srcs = cnt.select("lang", "source").distinct()
    val g = classes.join(srcs, Seq("lang"))
      .join(cnt, Seq("lang", "su", "source"), "left")
      .na.fill(0L, Seq("c"))
    val wBelow = Window.partitionBy("lang", "source").orderBy("su")
      .rowsBetween(Window.unboundedPreceding, -1)
    val below = g.withColumn("below",
      coalesce(sum("c").over(wBelow), lit(0L)))
    val dec = "decimal(18,0)"
    val wins = sc.checkpoint(cnt.as("a")
      .join(below.as("b"),
        col("a.lang") === col("b.lang") && col("a.su") === col("b.su") &&
          col("a.source") =!= col("b.source"))
      .groupBy(col("a.source").as("i"), col("b.source").as("j"))
      .agg(sum(col("a.c").cast(dec) * col("b.below").cast(dec)).as("w")))
    val m = wins
      .join(wins.select(col("i").as("j"), col("j").as("i"),
        col("w").as("wt")), Seq("i", "j"), "full_outer")
      .select(col("i"), col("j"),
        coalesce(col("w"), lit(0).cast(dec)).as("w"),
        (coalesce(col("w"), lit(0).cast(dec)) +
          coalesce(col("wt"), lit(0).cast(dec))).as("n"))
    val tot = m.agg(sum("w").as("wtot"))
    val base = sc.checkpoint(m.crossJoin(broadcast(tot))
      .select(col("i"), col("j"),
        expr("(CAST(n AS DECIMAL(38,0)) * 1000000000000) div " +
          "greatest(CAST(wtot AS DECIMAL(38,0)), 1)").as("nfu")))
    val wi = sc.checkpoint(m.groupBy("i").agg(sum("w").as("wins"))
      .crossJoin(broadcast(tot))
      .select(col("i"), col("wins"),
        expr("(CAST(wins AS DECIMAL(38,0)) * 1000000000000) div " +
          "greatest(CAST(wtot AS DECIMAL(38,0)), 1)").as("wfu")))
    // 4 MM iterations on the tiny sources² matrix — all-integer:
    // ratings in 1e-9 units, terms tu = nfu·1e9 div (riu+rju)
    var r = sc.checkpoint(wi.select(col("i").as("source"),
        lit(1000000000L).as("ru")))
    for (_ <- 1 to 4) {
      val terms = base
        .join(r.select(col("source").as("i"), col("ru").as("riu")), "i")
        .join(r.select(col("source").as("j"), col("ru").as("rju")), "j")
        .select(col("i"),
          expr("(CAST(nfu AS DECIMAL(38,0)) * 1000000000) div " +
            "greatest(riu + rju, 1)").as("tu"))
      r = sc.checkpoint(terms.groupBy("i").agg(sum("tu").as("du"))
        .join(wi.select("i", "wfu"), "i")
        .select(col("i").as("source"),
          expr("(CAST(wfu AS DECIMAL(38,0)) * 1000000000) div " +
            "greatest(du, 1)").as("ru")))
    }
    val losses = m.groupBy("j").agg(sum("w").as("losses"))
    val norm = r.agg(sum("ru").as("rtot"), count(lit(1)).as("ns"))
    sc.keep(r.crossJoin(broadcast(norm))
      .join(wi.select(col("i").as("source"), col("wins")), "source")
      .join(losses.select(col("j").as("source"), col("losses")), "source")
      .select(col("source"),
        col("wins").cast("long").as("wins"),
        col("losses").cast("long").as("losses"),
        (expr("(CAST(ru AS DECIMAL(38,0)) * ns * 1000000) div " +
          "greatest(rtot, 1)").cast("double") / lit(1e6)).as("rating"))
      .orderBy(col("rating").desc, col("source")))
  }

  // every CTE MATERIALIZED: the iteration chain references each rI
  // twice (ri/rj), and DuckDB re-evaluates plain CTEs per reference —
  // the whole upstream re-derived ~2^4 times (measured 16 s at
  // sf0.01; 0.08 s materialized, identical rows — the q207 lesson).
  private val q303Sql =
    """WITH docs AS MATERIALIZED (SELECT lang, source,
           CAST(floor(len(list_distinct(arr))::DOUBLE * 1e6
             / len(arr)::DOUBLE) AS BIGINT) AS su
         FROM (SELECT lang, source,
                 regexp_split_to_array(trim(text), '\s+') AS arr
               FROM documents)),
       cnt AS MATERIALIZED (SELECT lang, su, source, CAST(count(*) AS BIGINT) AS c
               FROM docs GROUP BY lang, su, source),
       g AS MATERIALIZED (SELECT cl.lang, cl.su, sr.source,
               coalesce(cnt.c, 0) AS c
             FROM (SELECT DISTINCT lang, su FROM cnt) cl
             JOIN (SELECT DISTINCT lang, source FROM cnt) sr
               ON cl.lang = sr.lang
             LEFT JOIN cnt ON cnt.lang = cl.lang AND cnt.su = cl.su
               AND cnt.source = sr.source),
       bel AS MATERIALIZED (SELECT lang, su, source,
               coalesce(sum(c) OVER (PARTITION BY lang, source
                 ORDER BY su
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS below
             FROM g),
       wins AS MATERIALIZED (SELECT a.source AS i, b.source AS j,
               sum(a.c::HUGEINT * b.below::HUGEINT) AS w
             FROM cnt a JOIN bel b
               ON a.lang = b.lang AND a.su = b.su
               AND a.source <> b.source
             GROUP BY a.source, b.source),
       m AS MATERIALIZED (SELECT coalesce(a.i, b.j2) AS i, coalesce(a.j, b.i2) AS j,
               coalesce(a.w, 0::HUGEINT) AS w,
               coalesce(a.w, 0::HUGEINT) + coalesce(b.w2, 0::HUGEINT)
                 AS n
             FROM wins a
             FULL OUTER JOIN (SELECT i AS i2, j AS j2, w AS w2
                              FROM wins) b
               ON a.i = b.j2 AND a.j = b.i2),
       tot AS MATERIALIZED (SELECT sum(w) AS wtot FROM m),
       base AS MATERIALIZED (SELECT i, j, CAST((n::HUGEINT * 1000000000000)
                  // greatest(wtot::HUGEINT, 1) AS BIGINT) AS nfu
                FROM m, tot),
       wi AS MATERIALIZED (SELECT i, sum(w) AS wins,
                CAST((sum(w)::HUGEINT * 1000000000000)
                  // greatest(any_value(wtot)::HUGEINT, 1) AS BIGINT)
                  AS wfu
              FROM m, tot GROUP BY i, wtot),
       r0 AS MATERIALIZED (SELECT i AS source, 1000000000::BIGINT AS ru FROM wi),
       t1 AS MATERIALIZED (SELECT base.i, CAST((nfu::HUGEINT * 1000000000)
                  // greatest(ri.ru + rj.ru, 1)::HUGEINT AS BIGINT)
                  AS tu
              FROM base
              JOIN r0 ri ON ri.source = base.i
              JOIN r0 rj ON rj.source = base.j),
       r1 AS MATERIALIZED (SELECT t1.i AS source, CAST((wfu::HUGEINT * 1000000000)
                // greatest(sum(tu), 1)::HUGEINT AS BIGINT) AS ru
              FROM t1 JOIN wi ON wi.i = t1.i GROUP BY t1.i, wfu),
       t2 AS MATERIALIZED (SELECT base.i, CAST((nfu::HUGEINT * 1000000000)
                  // greatest(ri.ru + rj.ru, 1)::HUGEINT AS BIGINT)
                  AS tu
              FROM base
              JOIN r1 ri ON ri.source = base.i
              JOIN r1 rj ON rj.source = base.j),
       r2 AS MATERIALIZED (SELECT t2.i AS source, CAST((wfu::HUGEINT * 1000000000)
                // greatest(sum(tu), 1)::HUGEINT AS BIGINT) AS ru
              FROM t2 JOIN wi ON wi.i = t2.i GROUP BY t2.i, wfu),
       t3 AS MATERIALIZED (SELECT base.i, CAST((nfu::HUGEINT * 1000000000)
                  // greatest(ri.ru + rj.ru, 1)::HUGEINT AS BIGINT)
                  AS tu
              FROM base
              JOIN r2 ri ON ri.source = base.i
              JOIN r2 rj ON rj.source = base.j),
       r3 AS MATERIALIZED (SELECT t3.i AS source, CAST((wfu::HUGEINT * 1000000000)
                // greatest(sum(tu), 1)::HUGEINT AS BIGINT) AS ru
              FROM t3 JOIN wi ON wi.i = t3.i GROUP BY t3.i, wfu),
       t4 AS MATERIALIZED (SELECT base.i, CAST((nfu::HUGEINT * 1000000000)
                  // greatest(ri.ru + rj.ru, 1)::HUGEINT AS BIGINT)
                  AS tu
              FROM base
              JOIN r3 ri ON ri.source = base.i
              JOIN r3 rj ON rj.source = base.j),
       r4 AS MATERIALIZED (SELECT t4.i AS source, CAST((wfu::HUGEINT * 1000000000)
                // greatest(sum(tu), 1)::HUGEINT AS BIGINT) AS ru
              FROM t4 JOIN wi ON wi.i = t4.i GROUP BY t4.i, wfu),
       lo AS MATERIALIZED (SELECT j, sum(w) AS losses FROM m GROUP BY j),
       nm AS MATERIALIZED (SELECT sum(ru)::HUGEINT AS rtot,
                CAST(count(*) AS BIGINT) AS ns FROM r4)
       SELECT r4.source,
         CAST(wi.wins AS BIGINT) AS wins,
         CAST(lo.losses AS BIGINT) AS losses,
         CAST((r4.ru::HUGEINT * nm.ns * 1000000)
           // greatest(nm.rtot, 1) AS DOUBLE) / 1e6 AS rating
       FROM r4 CROSS JOIN nm
       JOIN wi ON wi.i = r4.source
       JOIN lo ON lo.j = r4.source
       ORDER BY rating DESC, source"""

  // --------------------------------------------------------------- q304
  /** Rank-biased overlap (truncated, p=0.9, k=20) between the BM25
    * and TF-IDF top-20 rankings for the shared q97 query terms — the
    * retrieval-agreement readout that says whether swapping scorers
    * would change what users SEE (top-weighted, unlike q225's
    * Spearman over the whole list): RBO@k = (1−p)·Σ_d p^(d−1)·|A_d ∩
    * B_d|/d. Both rankings quantize scores to 4 dp BEFORE ranking
    * with doc_id tie-break (the q97 total-order contract), take
    * top-20 via TakeOrdered (no global window over candidates), and
    * the per-depth overlaps come from the 20×20 rank pair join ×
    * 20-depth grid — all bounded; per-depth terms quantize to
    * 1e-12-unit LONGs before summing.
    */
  private def q304(s: SparkSession, d: String): DataFrame = {
    val k = 20
    val p = 0.9
    val docs = Tables.documents(s, d)
    val bmTop = Rank.bm25(docs, "doc_id", "text", Analytics.bmTerms)
      .orderBy(col("score").desc, col("doc_id")).limit(k)
    val toks = docs.select(col("doc_id"),
      explode(graft.functions.TextFunctions.words(col("text"))).as("tok"))
      .filter(col("tok").isin(Analytics.bmTerms: _*))
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val tf = toks.groupBy("doc_id", "tok")
      .agg(count(lit(1)).cast("double").as("tf"))
    val idf = tf.groupBy("tok").agg(count(lit(1)).cast("double").as("df"))
      .crossJoin(broadcast(nDocs))
      .select(col("tok"), log(col("n_docs") / col("df")).as("idf"))
    val tfTop = tf.join(broadcast(idf), "tok")
      .groupBy("doc_id")
      .agg(round(sum(col("tf") * col("idf")), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(k)
    val wA = Window.orderBy(col("score").desc, col("doc_id"))
    val a = bmTop.select(col("doc_id"),
      row_number().over(wA).as("ra"))
    val b = tfTop.select(col("doc_id"),
      row_number().over(wA).as("rb"))
    val both = a.join(b, "doc_id")
    val depths = s.range(1, k + 1).select(col("id").as("dep"))
    val ov = broadcast(depths).join(both,
        col("ra") <= col("dep") && col("rb") <= col("dep"), "left")
      .groupBy("dep")
      .agg(sum(when(col("doc_id").isNotNull, 1L).otherwise(0L))
        .as("ov"))
    val term = pow(lit(p), col("dep").cast("double") - 1.0) *
      col("ov").cast("double") / col("dep").cast("double")
    val agg = ov.agg(
      sum(floor(term * lit(1e12) + lit(0.5)).cast("long")).as("tu"),
      max(when(col("dep") === k, col("ov"))).as("ov_k"))
    agg.select(lit(k).cast("long").as("k"), col("ov_k").as("overlap_k"),
      round(col("ov_k").cast("double") /
        (lit(2.0 * k) - col("ov_k").cast("double")), 6).as("jaccard_k"),
      // 0.1 as a literal, not 1.0−p: the FP value of (1.0 − 0.9)
      // differs from the oracle's spelled-out 0.1 by one ulp
      round(lit(0.1) * col("tu").cast("double") / lit(1e12), 6)
        .as("rbo"))
  }

  private val q304Sql = {
    val terms = Analytics.bmTerms.map(t => s"'$t'").mkString(",")
    s"""WITH toksw AS (SELECT doc_id,
           regexp_split_to_array(trim(text), '\\s+') AS w
         FROM documents),
       dl AS (SELECT doc_id, len(w)::DOUBLE AS dl FROM toksw),
       st AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl
              FROM dl),
       tf AS (SELECT doc_id, t AS tok, count(*)::DOUBLE AS tf
              FROM (SELECT doc_id, unnest(w) AS t FROM toksw) u
              WHERE t IN ($terms)
              GROUP BY doc_id, t),
       idf AS (SELECT tok,
                 ln(1 + (st.n_docs - count(*)::DOUBLE + 0.5)
                      / (count(*)::DOUBLE + 0.5)) AS idf
               FROM tf, st GROUP BY tok, st.n_docs),
       bm AS (SELECT tf.doc_id,
                round(sum(idf.idf * (tf.tf * 2.2)
                  / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 4)
                  AS score
              FROM tf JOIN idf USING (tok) JOIN dl USING (doc_id), st
              GROUP BY tf.doc_id),
       atop AS (SELECT doc_id, row_number() OVER
                  (ORDER BY score DESC, doc_id) AS ra
                FROM bm QUALIFY ra <= 20),
       idf2 AS (SELECT tok, ln(st.n_docs / count(*)::DOUBLE) AS idf
                FROM tf, st GROUP BY tok, st.n_docs),
       ti AS (SELECT tf.doc_id, round(sum(tf.tf * idf2.idf), 4) AS score
              FROM tf JOIN idf2 USING (tok) GROUP BY tf.doc_id),
       btop AS (SELECT doc_id, row_number() OVER
                  (ORDER BY score DESC, doc_id) AS rb
                FROM ti QUALIFY rb <= 20),
       ab AS (SELECT atop.doc_id, ra, rb
                FROM atop JOIN btop USING (doc_id)),
       dep AS (SELECT unnest(generate_series(1, 20))::BIGINT AS dep),
       ov AS (SELECT dep.dep,
                CAST(sum(CASE WHEN ab.doc_id IS NOT NULL
                  THEN 1 ELSE 0 END) AS BIGINT) AS ov
              FROM dep LEFT JOIN ab
                ON ab.ra <= dep.dep AND ab.rb <= dep.dep
              GROUP BY dep.dep),
       agg AS (SELECT CAST(sum(CAST(floor(pow(0.9, dep::DOUBLE - 1.0)
                  * ov::DOUBLE / dep::DOUBLE * 1e12 + 0.5) AS BIGINT))
                  AS BIGINT) AS tu,
                 max(CASE WHEN dep = 20 THEN ov END) AS ov_k
               FROM ov)
       SELECT 20::BIGINT AS k, ov_k AS overlap_k,
         round(ov_k::DOUBLE / (40.0 - ov_k::DOUBLE), 6) AS jaccard_k,
         round(0.1 * tu::DOUBLE / 1e12, 6) AS rbo
       FROM agg"""
  }

  // --------------------------------------------------------------- q306
  /** Kneser–Ney bigram perplexity on a held-out split — the smoothing
    * q138's interpolated trigram can't do: absolute discounting plus
    * a CONTINUATION unigram (how many contexts a word completes, not
    * how often it occurs — the fix for "Francisco" scoring high after
    * anything). Fixed D = 0.75; docs hash-split 80/20 (salt "kn");
    * P(w|v) = max(c(vw)−D,0)/c(v·) + λ(v)·P_cont(w) with λ(v) =
    * D·N1+(v·)/c(v·), unseen contexts backing off to P_cont alone,
    * and a 1e-10 floor for unseen continuations. All model tables
    * are bigram-TYPE-bounded (vocab², never corpus); test log-probs
    * quantize to 1e-9-unit LONGs before the one exact sum perplexity
    * closes over.
    */
  private def q306(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val dD = 0.75
    val docs = Tables.documents(s, d)
      .filter(size(graft.functions.TextFunctions.words(col("text"))) >= 2)
      .withColumn("bkt", Sampling.hashBucket(col("doc_id"), "kn", 5))
    val bt = graft.operators.Dedup.shingleRowsRaw(
      docs.filter(col("bkt") < 4), "doc_id", "text", 2)
    val bq = graft.operators.Dedup.shingleRowsRaw(
      docs.filter(col("bkt") === 4), "doc_id", "text", 2)
    val bc = sc.checkpoint(bt.groupBy("s").agg(count(lit(1)).as("cb"))
      .withColumn("v", substring_index(col("s"), " ", 1))
      .withColumn("w", substring_index(col("s"), " ", -1)))
    val vm = bc.groupBy("v")
      .agg(sum("cb").as("cv"), count(lit(1)).as("n1v"))
    val wm = bc.groupBy("w").agg(count(lit(1)).as("n1w"))
    val btot = bc.agg(count(lit(1)).as("btypes"))
    val te = bq
      .withColumn("v", substring_index(col("s"), " ", 1))
      .withColumn("w", substring_index(col("s"), " ", -1))
      .join(bc.select("s", "cb"), Seq("s"), "left")
      .join(vm, Seq("v"), "left")
      .join(wm, Seq("w"), "left")
      .crossJoin(broadcast(btot))
    val pcw = coalesce(col("n1w").cast("double") /
      col("btypes").cast("double"), lit(0.0))
    val lam = when(col("cv").isNotNull,
      lit(dD) * col("n1v").cast("double") / col("cv").cast("double"))
      .otherwise(lit(1.0))
    val pmax = coalesce(
      greatest(col("cb").cast("double") - lit(dD), lit(0.0)) /
        col("cv").cast("double"), lit(0.0))
    val p = greatest(pmax + lam * pcw, lit(1e-10))
    val agg = te.agg(
      count(lit(1)).as("n_test"),
      sum(when(col("cv").isNull, 1L).otherwise(0L)).as("oov_contexts"),
      sum(when(col("cb").isNull, 1L).otherwise(0L)).as("unseen_bigrams"),
      // DECIMAL sum: a log-prob term reaches −23e9 units (the 1e-10
      // floor), so a corpus-scale LONG unit sum wraps past ~4e8 test
      // bigrams — the q244 overflow class
      sum(floor(log(p) * lit(1e9) + lit(0.5)).cast("decimal(38,0)"))
        .as("lu"))
      .crossJoin(broadcast(btot))
    import graft.functions.Rounding.floorRound
    val avgLp = (col("lu").cast("double") / lit(1e9)) /
      safe(col("n_test").cast("double"))
    sc.keep(agg.select(col("btypes"), col("n_test"), col("oov_contexts"),
      col("unseen_bigrams"),
      floorRound(avgLp, 6).as("avg_logprob"),
      round(exp(-avgLp), 4).as("perplexity")))
  }

  private val q306Sql =
    """WITH wa AS (SELECT doc_id,
           regexp_split_to_array(trim(text), '\s+') AS w,
           ('0x' || substr(md5('kn' || doc_id::VARCHAR), 1, 15))
             ::BIGINT % 5 AS bkt
         FROM documents),
       bt AS (SELECT unnest(list_transform(range(1, len(w)),
                i -> w[i] || ' ' || w[i + 1])) AS s
              FROM wa WHERE len(w) >= 2 AND bkt < 4),
       bq AS (SELECT unnest(list_transform(range(1, len(w)),
                i -> w[i] || ' ' || w[i + 1])) AS s
              FROM wa WHERE len(w) >= 2 AND bkt = 4),
       bc AS (SELECT s, CAST(count(*) AS BIGINT) AS cb,
                split_part(s, ' ', 1) AS v, split_part(s, ' ', 2) AS w
              FROM bt GROUP BY s),
       vm AS (SELECT v, CAST(sum(cb) AS BIGINT) AS cv,
                CAST(count(*) AS BIGINT) AS n1v
              FROM bc GROUP BY v),
       wm AS (SELECT w, CAST(count(*) AS BIGINT) AS n1w
              FROM bc GROUP BY w),
       btot AS (SELECT CAST(count(*) AS BIGINT) AS btypes FROM bc),
       te AS (SELECT q.s, split_part(q.s, ' ', 1) AS v,
                split_part(q.s, ' ', 2) AS w,
                bc.cb, vm.cv, vm.n1v, wm.n1w, btot.btypes
              FROM bq q
              LEFT JOIN bc ON bc.s = q.s
              LEFT JOIN vm ON vm.v = split_part(q.s, ' ', 1)
              LEFT JOIN wm ON wm.w = split_part(q.s, ' ', 2)
              CROSS JOIN btot),
       pr AS (SELECT *,
                greatest(
                  coalesce(greatest(cb::DOUBLE - 0.75, 0.0)
                    / cv::DOUBLE, 0.0)
                  + (CASE WHEN cv IS NOT NULL
                       THEN 0.75 * n1v::DOUBLE / cv::DOUBLE
                       ELSE 1.0 END)
                    * coalesce(n1w::DOUBLE / btypes::DOUBLE, 0.0),
                  1e-10) AS p
              FROM te),
       agg AS (SELECT CAST(count(*) AS BIGINT) AS n_test,
                 CAST(sum(CASE WHEN cv IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS oov_contexts,
                 CAST(sum(CASE WHEN cb IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS unseen_bigrams,
                 sum(CAST(floor(ln(p) * 1e9 + 0.5) AS HUGEINT))
                   AS lu,
                 any_value(btypes) AS btypes
               FROM pr)
       SELECT btypes, n_test, oov_contexts, unseen_bigrams,
         floor(((lu::DOUBLE / 1e9)
           / greatest(n_test::DOUBLE, 1e-12)) * 1e6 + 0.5) / 1e6
           AS avg_logprob,
         round(exp(-((lu::DOUBLE / 1e9)
           / greatest(n_test::DOUBLE, 1e-12))), 4) AS perplexity
       FROM agg"""

  // --------------------------------------------------------------- q307
  /** Leave-one-source-out influence — which source MOVES the corpus
    * quality metric? For each source: the corpus mean distinct-token
    * ratio with that source removed, computed from the grand totals
    * minus the source totals (N−1 "jackknife over sources" — no
    * N-fold recompute, ONE corpus aggregation). Influence = overall −
    * without, in 1e-6 ratio units: positive means the source props
    * the metric UP. The per-source table is sources-bounded; every
    * division is fixed-shape over exact LONG sums.
    */
  private def q307(s: SparkSession, d: String): DataFrame = {
    val arr = graft.functions.TextFunctions.words(col("text"))
    val per = Tables.documents(s, d)
      .select(col("source"),
        floor(size(array_distinct(arr)).cast("double") * 1e6 /
          size(arr).cast("double")).cast("long").as("su"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("su").as("tsu"))
    val tot = per.agg(sum("n_docs").as("n"), sum("tsu").as("t"))
    import graft.functions.Rounding.floorRound
    val overall = col("t").cast("double") / col("n").cast("double")
    val loso = (col("t") - col("tsu")).cast("double") /
      safe((col("n") - col("n_docs")).cast("double"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        round(col("tsu").cast("double") /
          col("n_docs").cast("double") / lit(1e6), 6).as("src_mean"),
        round(overall / lit(1e6), 6).as("overall_mean"),
        round(loso / lit(1e6), 6).as("loso_mean"),
        floorRound((overall - loso) / lit(1e6), 6).as("influence"))
      .orderBy(col("influence").desc, col("source"))
  }

  private val q307Sql =
    """WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CAST(floor(len(list_distinct(arr))::DOUBLE * 1e6
             / len(arr)::DOUBLE) AS BIGINT)) AS BIGINT) AS tsu
         FROM (SELECT source,
                 regexp_split_to_array(trim(text), '\s+') AS arr
               FROM documents)
         GROUP BY source),
       tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n,
                 CAST(sum(tsu) AS BIGINT) AS t FROM per)
       SELECT source, n_docs,
         round(tsu::DOUBLE / n_docs::DOUBLE / 1e6, 6) AS src_mean,
         round(t::DOUBLE / n::DOUBLE / 1e6, 6) AS overall_mean,
         round((t - tsu)::DOUBLE
           / greatest((n - n_docs)::DOUBLE, 1e-12) / 1e6, 6)
           AS loso_mean,
         floor((t::DOUBLE / n::DOUBLE
             - (t - tsu)::DOUBLE
               / greatest((n - n_docs)::DOUBLE, 1e-12)) / 1e6
           * 1e6 + 0.5) / 1e6 AS influence
       FROM per, tot
       ORDER BY influence DESC, source"""

  // --------------------------------------------------------------- q308
  /** Linear CKA between the embedding space and its 1-bit sign
    * quantization — the representation-similarity readout that says
    * how much geometry binarization keeps (q79 measures storage,
    * q218 measures retrieval recall; CKA measures the SPACE):
    * CKA = ‖C_xy‖²_F / (‖C_xx‖_F·‖C_yy‖_F) over the d×d cross-
    * covariance matrices. The feature-space form needs only d² moment
    * sums — ONE corpus pass with a d² per-row fan-out (two chained
    * posexplodes over the zipped arrays, no self-join, no n×n Gram
    * matrix ever materializes), so the cost is rows·d², linear in the
    * corpus. Per-row product terms quantize to 1e-6-unit LONGs and
    * the per-cell squared deviations to 1e-12 — all sums exact and
    * order-independent.
    */
  private def q308(s: SparkSession, d: String): DataFrame = {
    val base = Tables.embeddings(s, d).select(
      arrays_zip(
        col("embedding").cast("array<double>").as("x"),
        transform(col("embedding"),
          v => signum(v.cast("double"))).as("y")).as("xy"))
    val f = base.select(col("xy"), posexplode(col("xy")))
      .select(col("xy"), col("pos").as("i"),
        col("col.x").as("xi"), col("col.y").as("yi"))
    val pr = f.select(col("i"), col("xi"), col("yi"),
        posexplode(col("xy")))
      .select(col("i"), col("xi"), col("yi"), col("pos").as("j"),
        col("col.x").as("xj"), col("col.y").as("yj"))
    // LONG unit sums on the d^2 hot path: DECIMAL aggregation leaves
    // whole-stage codegen (measured 9x slower); per-term units are
    // bounded by |x|^2*1e6, so LONG holds ~1e12 rows of |x|<=3
    // embeddings - beyond that, drop the term scale to 1e4
    def q6(c: Column) = floor(c * lit(1e6) + lit(0.5)).cast("long")
    val pm = pr.groupBy("i", "j").agg(
      sum(q6(col("xi") * col("xj"))).as("sxxu"),
      sum(q6(col("xi") * col("yj"))).as("sxyu"),
      sum(q6(col("yi") * col("yj"))).as("syyu"))
    val marg = f.groupBy("i").agg(
      sum(q6(col("xi"))).as("sxu"), sum(q6(col("yi"))).as("syu"))
    val nn = base.agg(count(lit(1)).as("n"),
      max(size(col("xy"))).as("dim"))
    val nD = col("n").cast("double")
    def u(c: Column) = c.cast("double") / lit(1e6)
    val joined = pm
      .join(broadcast(marg.select(col("i"), col("sxu").as("sxi"),
        col("syu").as("syi"))), Seq("i"))
      .join(broadcast(marg.select(col("i").as("j"),
        col("sxu").as("sxj"), col("syu").as("syj"))), Seq("j"))
      .crossJoin(broadcast(nn))
    val cxx = u(col("sxxu")) / nD -
      (u(col("sxi")) / nD) * (u(col("sxj")) / nD)
    val cxy = u(col("sxyu")) / nD -
      (u(col("sxi")) / nD) * (u(col("syj")) / nD)
    val cyy = u(col("syyu")) / nD -
      (u(col("syi")) / nD) * (u(col("syj")) / nD)
    def q12(c: Column) = floor(c * lit(1e12) + lit(0.5)).cast("long")
    val norms = joined.agg(
      first(col("n")).as("n"), first(col("dim")).as("dim"),
      sum(q12(cxx * cxx)).as("nxx"),
      sum(q12(cxy * cxy)).as("nxy"),
      sum(q12(cyy * cyy)).as("nyy"))
    def root(c: Column) = sqrt(c.cast("double") / lit(1e12))
    norms.select(col("n"), col("dim").cast("long").as("dim"),
      round(root(col("nxx")), 6).as("fro_xx"),
      round(root(col("nyy")), 6).as("fro_yy"),
      round(root(col("nxy")), 6).as("fro_xy"),
      round((col("nxy").cast("double") / lit(1e12)) /
        safe(root(col("nxx")) * root(col("nyy"))), 6).as("cka_linear"))
  }

  private val q308Sql =
    """WITH e AS (SELECT vec_id, embedding AS x FROM embeddings),
       f0 AS (SELECT vec_id, unnest(range(0, len(x))) AS i, x FROM e),
       f AS (SELECT vec_id, i, x[i + 1]::DOUBLE AS xi,
               sign(x[i + 1]::DOUBLE) AS yi, x
             FROM f0),
       p0 AS (SELECT i, xi, yi, unnest(range(0, len(x))) AS j, x
              FROM f),
       pr AS (SELECT i, j, xi, yi, x[j + 1]::DOUBLE AS xj,
                sign(x[j + 1]::DOUBLE) AS yj
              FROM p0),
       pm AS (SELECT i, j,
           CAST(sum(CAST(floor(xi * xj * 1e6 + 0.5) AS BIGINT))
             AS BIGINT) AS sxxu,
           CAST(sum(CAST(floor(xi * yj * 1e6 + 0.5) AS BIGINT))
             AS BIGINT) AS sxyu,
           CAST(sum(CAST(floor(yi * yj * 1e6 + 0.5) AS BIGINT))
             AS BIGINT) AS syyu
         FROM pr GROUP BY i, j),
       marg AS (SELECT i,
           CAST(sum(CAST(floor(xi * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
             AS sxu,
           CAST(sum(CAST(floor(yi * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
             AS syu
         FROM f GROUP BY i),
       nn AS (SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(max(len(x)) AS BIGINT) AS dim FROM e),
       c AS (SELECT
           (pm.sxxu::DOUBLE / 1e6) / n::DOUBLE
             - ((mi.sxu::DOUBLE / 1e6) / n::DOUBLE)
               * ((mj.sxu::DOUBLE / 1e6) / n::DOUBLE) AS cxx,
           (pm.sxyu::DOUBLE / 1e6) / n::DOUBLE
             - ((mi.sxu::DOUBLE / 1e6) / n::DOUBLE)
               * ((mj.syu::DOUBLE / 1e6) / n::DOUBLE) AS cxy,
           (pm.syyu::DOUBLE / 1e6) / n::DOUBLE
             - ((mi.syu::DOUBLE / 1e6) / n::DOUBLE)
               * ((mj.syu::DOUBLE / 1e6) / n::DOUBLE) AS cyy,
           n, dim
         FROM pm
         JOIN marg mi ON mi.i = pm.i
         JOIN marg mj ON mj.i = pm.j
         CROSS JOIN nn),
       nrm AS (SELECT any_value(n) AS n, any_value(dim) AS dim,
           CAST(sum(CAST(floor(cxx * cxx * 1e12 + 0.5) AS BIGINT))
             AS BIGINT) AS nxx,
           CAST(sum(CAST(floor(cxy * cxy * 1e12 + 0.5) AS BIGINT))
             AS BIGINT) AS nxy,
           CAST(sum(CAST(floor(cyy * cyy * 1e12 + 0.5) AS BIGINT))
             AS BIGINT) AS nyy
         FROM c)
       SELECT n, dim,
         round(sqrt(nxx::DOUBLE / 1e12), 6) AS fro_xx,
         round(sqrt(nyy::DOUBLE / 1e12), 6) AS fro_yy,
         round(sqrt(nxy::DOUBLE / 1e12), 6) AS fro_xy,
         round((nxy::DOUBLE / 1e12)
           / greatest(sqrt(nxx::DOUBLE / 1e12)
               * sqrt(nyy::DOUBLE / 1e12), 1e-12), 6) AS cka_linear
       FROM nrm"""

  // --------------------------------------------------------------- q309
  /** Greedy coverage selection (facility-location-lite) — the
    * submodular data-selection step behind "pick the K docs that
    * teach the most": each round takes the document covering the most
    * NOT-YET-COVERED vocabulary (count desc, doc_id asc ties), the
    * classic 1−1/e-approximate maximizer. Per round: one anti-join
    * against the covered set + one argmax (a 1-row collect — the
    * reference's own loop shape); the (doc, word) pair table persists
    * across rounds and the covered set localCheckpoints so plan depth
    * stays constant. Rounds stop early once coverage is total — the
    * oracle's empty-pick CTEs agree.
    */
  private def q309(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val spark = s
    import spark.implicits._
    val dw = sc.cache(Tables.documents(s, d)
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.words(col("text")))
          .as("w"))
      .distinct())
    val vtot = dw.select("w").distinct().count()
    var covered = sc.checkpoint(dw.select("w").filter(lit(false)))
    val picks = scala.collection.mutable.ListBuffer
      .empty[(Long, Long, Long, Long)]
    var k = 1
    var done = false
    while (k <= 10 && !done) {
      val top = dw.join(covered, Seq("w"), "left_anti")
        .groupBy("doc_id").agg(count(lit(1)).as("g"))
        .orderBy(col("g").desc, col("doc_id")).limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val doc = top(0).getLong(0)
        val g = top(0).getLong(1)
        covered = sc.checkpoint(covered
          .unionByName(dw.filter(col("doc_id") === doc).select("w"))
          .distinct())
        picks += ((k.toLong, doc, g, covered.count()))
        k += 1
      }
    }
    picks.toSeq.toDF("round", "doc_id", "gain", "covered_words")
      .withColumn("coverage",
        round(col("covered_words").cast("double") /
          lit(vtot.toDouble), 6))
      .orderBy("round")
  }

  private val q309Sql = {
    // one greedy round: pick the max-marginal-gain doc given the
    // covered-words CTE, then extend coverage INCREMENTALLY. Every
    // CTE is MATERIALIZED — the c_k chain is referenced twice per
    // round, so an inlining planner would expand it 2^k times (and
    // run out of parquet file handles re-scanning dw)
    def pick(k: Int) = {
      val uncovered =
        if (k == 1) ""
        else s" WHERE w NOT IN (SELECT w FROM c${k - 1})"
      val newWords =
        s"""SELECT DISTINCT w FROM dw
            WHERE doc_id IN (SELECT doc_id FROM p$k)"""
      val cover =
        if (k == 1) newWords
        else s"SELECT w FROM c${k - 1} UNION $newWords"
      s"""p$k AS MATERIALIZED (
             SELECT doc_id, CAST(count(*) AS BIGINT) AS g
             FROM dw$uncovered
             GROUP BY doc_id ORDER BY g DESC, doc_id LIMIT 1),
         c$k AS MATERIALIZED ($cover)"""
    }
    val rounds = (1 to 10).map(pick).mkString(",\n       ")
    val sel = (1 to 10).map { k =>
      s"""SELECT $k::BIGINT AS round, doc_id, g AS gain,
           (SELECT CAST(count(*) AS BIGINT) FROM c$k) AS covered_words,
           round((SELECT count(*) FROM c$k)::DOUBLE
             / (SELECT v FROM vt)::DOUBLE, 6) AS coverage
         FROM p$k"""
    }.mkString(" UNION ALL ")
    s"""WITH dw AS MATERIALIZED (SELECT DISTINCT doc_id,
           unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
         FROM documents),
       vt AS MATERIALIZED (SELECT count(DISTINCT w)::DOUBLE AS v
         FROM dw),
       $rounds
       SELECT * FROM ($sel) ORDER BY round"""
  }

  // --------------------------------------------------------------- q310
  /** Self-normalized inverse-propensity off-policy evaluation (SNIPS)
    * — "what WOULD the reward have been under a different policy",
    * answered from logged data alone (the question behind every
    * recommender/agent change that can't A/B): per user segment
    * (user_id mod 4), the target policy plays the action with the
    * highest TRAIN total reward; test events are importance-weighted
    * by K·1{action = π(s)} under the uniform-logging assumption
    * (documented synthetic propensity — the data has no logged one).
    * Rewards are exact value-cents LONGs; IPS/SNIPS close over exact
    * matched sums in fixed shape. Events hash-split 80/20 (salt
    * "ips"); the policy table is segments×actions-bounded.
    */
  private def q310(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(pmod(col("user_id"), lit(4L)).as("seg"),
        col("event_type").as("a"),
        round(coalesce(col("value"), lit(0.0)) * 100, 0).cast("long")
          .as("rc"),
        (Sampling.hashBucket(col("event_id"), "ips", 5) < 4)
          .as("is_train"))
    val pol = ev.filter(col("is_train"))
      .groupBy("seg", "a").agg(sum("rc").as("tr"))
    val wPick = Window.partitionBy("seg")
      .orderBy(col("tr").desc, col("a").asc)
    val pi = pol.withColumn("rk", row_number().over(wPick))
      .filter(col("rk") === 1)
      .select(col("seg"), col("a").as("pi_a"))
    val kDf = ev.filter(col("is_train")).agg(
      countDistinct(col("a")).as("k"))
    val test = ev.filter(!col("is_train"))
      .join(broadcast(pi), Seq("seg"))
      .crossJoin(broadcast(kDf))
    val agg = test.groupBy("seg")
      .agg(count(lit(1)).as("n_test"),
        sum("rc").as("r_all"),
        sum(when(col("a") === col("pi_a"), 1L).otherwise(0L))
          .as("n_matched"),
        sum(when(col("a") === col("pi_a"), col("rc")).otherwise(0L))
          .as("r_matched"),
        first(col("k")).as("k"),
        first(col("pi_a")).as("pi_a"))
    val nD = col("n_test").cast("double")
    val kD = col("k").cast("double")
    agg.select(col("seg"), col("pi_a"), col("n_test"),
        col("n_matched"),
        round(col("r_all").cast("double") / lit(100.0) / nD, 6)
          .as("behavior_value"),
        round(col("r_matched").cast("double") / lit(100.0) * kD / nD, 6)
          .as("ips_value"),
        round(col("r_matched").cast("double") / lit(100.0) /
          safe(col("n_matched").cast("double")), 6).as("snips_value"))
      .orderBy("seg")
  }

  private val q310Sql =
    """WITH ev AS (SELECT user_id % 4 AS seg, event_type AS a,
           CAST(round(coalesce(value, 0.0) * 100) AS BIGINT) AS rc,
           (('0x' || substr(md5('ips' || event_id::VARCHAR), 1, 15))
             ::BIGINT % 5 < 4) AS is_train
         FROM events),
       pol AS (SELECT seg, a, CAST(sum(rc) AS BIGINT) AS tr
               FROM ev WHERE is_train GROUP BY seg, a),
       pi AS (SELECT seg, a AS pi_a FROM (
                SELECT seg, a, row_number() OVER (PARTITION BY seg
                  ORDER BY tr DESC, a ASC) AS rk
                FROM pol) WHERE rk = 1),
       kk AS (SELECT CAST(count(DISTINCT a) AS BIGINT) AS k
              FROM ev WHERE is_train),
       agg AS (SELECT seg, any_value(pi_a) AS pi_a,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(rc) AS BIGINT) AS r_all,
           CAST(sum(CASE WHEN a = pi_a THEN 1 ELSE 0 END) AS BIGINT)
             AS n_matched,
           CAST(sum(CASE WHEN a = pi_a THEN rc ELSE 0 END) AS BIGINT)
             AS r_matched,
           any_value(k) AS k
         FROM ev JOIN pi USING (seg) CROSS JOIN kk
         WHERE NOT is_train GROUP BY seg)
       SELECT seg, pi_a, n_test, n_matched,
         round(r_all::DOUBLE / 100.0 / n_test::DOUBLE, 6)
           AS behavior_value,
         round(r_matched::DOUBLE / 100.0 * k::DOUBLE / n_test::DOUBLE,
           6) AS ips_value,
         round(r_matched::DOUBLE / 100.0
           / greatest(n_matched::DOUBLE, 1e-12), 6) AS snips_value
       FROM agg ORDER BY seg"""

  // --------------------------------------------------------------- q311
  /** Covariate-matched treatment effect (1-NN caliper matching) — the
    * causal estimate q120's raw arm difference can't give when arms
    * differ on a confounder: each treated customer matches its
    * nearest control by account balance within a ±$100 caliper
    * (with replacement), ATT = mean matched outcome gap. The match is
    * a BUCKETED candidate join, not a sort or an all-pairs: controls
    * replicate to their caliper-width bucket ±1 (3× the control rows,
    * fixed), so every in-caliper candidate co-locates with its
    * treated bucket and the argmin runs per treated key — total order
    * (|Δbal|, control bal, control key). Worst case is a covariate
    * concentrated in one caliper width (degenerates toward n² like
    * any range join — the q50 caveat); outcomes are exact revenue
    * cents. The naive unmatched difference is reported next to the
    * ATT — the gap IS the confounding.
    */
  private def q311(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val cal = 10000L // caliper in balance cents
    val cust = Tables.customer(s, d)
      .select(col("c_custkey").as("key"),
        round(col("c_acctbal") * 100, 0).cast("long").as("bal"),
        (Sampling.hashBucket(col("c_custkey"), "att", 2) === 0)
          .as("treated"))
    val rev = Tables.orders(s, d)
      .select(col("o_custkey").as("key"),
        round(col("o_totalprice") * 100, 0).cast("long").as("rc"))
      .groupBy("key").agg(sum("rc").as("yc"))
    val base = sc.checkpoint(cust.join(rev, Seq("key"), "left")
      .na.fill(0L, Seq("yc"))
      .withColumn("b", floor(col("bal").cast("double") /
        lit(cal.toDouble)).cast("long")))
    val treatedDf = base.filter(col("treated"))
      .select(col("key").as("tk"), col("bal").as("tb"),
        col("yc").as("ty"), col("b"))
    val ctl = base.filter(!col("treated"))
      .select(col("key").as("ck"), col("bal").as("cb"),
        col("yc").as("cy"), col("b"))
    val ctlRep = ctl.select(col("ck"), col("cb"), col("cy"),
        explode(array(col("b") - 1L, col("b"), col("b") + 1L)).as("b"))
    val cand = treatedDf.join(ctlRep, Seq("b"))
      .withColumn("dist", abs(col("cb") - col("tb")))
      .filter(col("dist") <= cal)
    val wBest = Window.partitionBy("tk")
      .orderBy(col("dist").asc, col("cb").asc, col("ck").asc)
    val matched = cand.withColumn("rk", row_number().over(wBest))
      .filter(col("rk") === 1)
    // DECIMAL sums: corpus-scale cent totals brush the LONG range at
    // extreme row counts (the q244 overflow class)
    val dec38 = "decimal(38,0)"
    val naive = base.agg(
      sum(when(col("treated"), col("yc")).otherwise(0L).cast(dec38))
        .as("syt"),
      sum(when(col("treated"), 1L).otherwise(0L)).as("nt"),
      sum(when(!col("treated"), col("yc")).otherwise(0L).cast(dec38))
        .as("syc"),
      sum(when(!col("treated"), 1L).otherwise(0L)).as("nc"))
    val att = matched.agg(count(lit(1)).as("n_matched"),
      sum((col("ty") - col("cy")).cast(dec38)).as("gap"))
    import graft.functions.Rounding.floorRound
    sc.keep(att.crossJoin(broadcast(naive))
      .select(col("nt").as("n_treated"), col("nc").as("n_control"),
        col("n_matched"),
        floorRound(col("syt").cast("double") /
            safe(col("nt").cast("double")) / lit(100.0) -
          col("syc").cast("double") /
            safe(col("nc").cast("double")) / lit(100.0), 6)
          .as("naive_diff"),
        floorRound(col("gap").cast("double") /
          safe(col("n_matched").cast("double")) / lit(100.0), 6)
          .as("att")))
  }

  private val q311Sql =
    """WITH cust AS (SELECT c_custkey AS key,
           CAST(round(c_acctbal * 100) AS BIGINT) AS bal,
           (('0x' || substr(md5('att' || c_custkey::VARCHAR), 1, 15))
             ::BIGINT % 2 = 0) AS treated
         FROM customer),
       rev AS (SELECT o_custkey AS key,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
             AS BIGINT) AS yc
         FROM orders GROUP BY o_custkey),
       base AS (SELECT cust.key, bal, treated, coalesce(rev.yc, 0)
                  AS yc
                FROM cust LEFT JOIN rev ON cust.key = rev.key),
       t AS (SELECT key AS tk, bal AS tb, yc AS ty FROM base
             WHERE treated),
       c AS (SELECT key AS ck, bal AS cb, yc AS cy FROM base
             WHERE NOT treated),
       cand AS (SELECT tk, ty, ck, cb, cy, abs(cb - tb) AS dist
                FROM t JOIN c ON abs(c.cb - t.tb) <= 10000),
       best AS (SELECT * FROM (
                  SELECT tk, ty, cy, row_number() OVER (
                    PARTITION BY tk
                    ORDER BY dist ASC, cb ASC, ck ASC) AS rk
                  FROM cand) WHERE rk = 1),
       naive AS (SELECT
           sum(CAST(CASE WHEN treated THEN yc ELSE 0 END AS HUGEINT))
             AS syt,
           CAST(sum(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT)
             AS nt,
           sum(CAST(CASE WHEN NOT treated THEN yc ELSE 0 END
             AS HUGEINT)) AS syc,
           CAST(sum(CASE WHEN NOT treated THEN 1 ELSE 0 END)
             AS BIGINT) AS nc
         FROM base),
       att AS (SELECT CAST(count(*) AS BIGINT) AS n_matched,
                 sum(CAST(ty - cy AS HUGEINT)) AS gap
               FROM best)
       SELECT nt AS n_treated, nc AS n_control, n_matched,
         floor((syt::DOUBLE / greatest(nt::DOUBLE, 1e-12) / 100.0
             - syc::DOUBLE / greatest(nc::DOUBLE, 1e-12) / 100.0)
           * 1e6 + 0.5) / 1e6 AS naive_diff,
         floor((gap::DOUBLE / greatest(n_matched::DOUBLE, 1e-12)
             / 100.0) * 1e6 + 0.5) / 1e6 AS att
       FROM att, naive"""

  // --------------------------------------------------------------- q312
  /** Doubly-robust off-policy estimate — the OPE standard that fixes
    * BOTH of q310's failure modes at once: the direct-method model
    * q̂(s, a) (train mean reward per segment×action — bounded table)
    * is wrong when the model is biased, plain IPS is noisy when
    * matches are rare; DR = q̂(s, π(s)) + K·1{a=π(s)}·(r − q̂(s, a))
    * is unbiased if EITHER is right. Same policy/split/propensity
    * construction as q310 (salt "ips", uniform-logging K); model
    * means are fixed-shape divisions of exact cent LONGs; per-event
    * DR terms quantize to 1e-6-unit LONGs before the one exact sum.
    */
  private def q312(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val ev = Tables.events(s, d)
      .select(pmod(col("user_id"), lit(4L)).as("seg"),
        col("event_type").as("a"),
        round(coalesce(col("value"), lit(0.0)) * 100, 0).cast("long")
          .as("rc"),
        (Sampling.hashBucket(col("event_id"), "ips", 5) < 4)
          .as("is_train"))
    val model = sc.checkpoint(ev.filter(col("is_train"))
      .groupBy("seg", "a")
      .agg(sum("rc").as("tr"), count(lit(1)).as("n"))
      .withColumn("qhat",
        col("tr").cast("double") / col("n").cast("double") / 100.0))
    val wPick = Window.partitionBy("seg")
      .orderBy(col("tr").desc, col("a").asc)
    val pi = model.withColumn("rk", row_number().over(wPick))
      .filter(col("rk") === 1)
      .select(col("seg"), col("a").as("pi_a"),
        col("qhat").as("q_pi"))
    val kDf = ev.filter(col("is_train"))
      .agg(countDistinct(col("a")).as("k"))
    val test = ev.filter(!col("is_train"))
      .join(broadcast(pi), Seq("seg"))
      .join(broadcast(model.select(col("seg"), col("a"),
        col("qhat"))), Seq("seg", "a"), "left")
      .crossJoin(broadcast(kDf))
    val kD = col("k").cast("double")
    val corr = when(col("a") === col("pi_a"),
      kD * (col("rc").cast("double") / 100.0 -
        coalesce(col("qhat"), lit(0.0)))).otherwise(lit(0.0))
    val dr = col("q_pi") + corr
    val agg = test.groupBy("seg")
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("a") === col("pi_a"), 1L).otherwise(0L))
          .as("n_matched"),
        first(col("pi_a")).as("pi_a"),
        first(round(col("q_pi"), 6)).as("dm_value"),
        // DECIMAL sum: a DR term reaches ~K·max(r)·1e6 units, so the
        // corpus-scale unit sum overflows LONG (the q244 class)
        sum(floor(dr * lit(1e6) + lit(0.5)).cast("decimal(38,0)"))
          .as("du"))
    import graft.functions.Rounding.floorRound
    sc.keep(agg.select(col("seg"), col("pi_a"), col("n_test"),
        col("n_matched"), col("dm_value"),
        floorRound((col("du").cast("double") / lit(1e6)) /
          safe(col("n_test").cast("double")), 6).as("dr_value"))
      .orderBy("seg"))
  }

  private val q312Sql =
    """WITH ev AS (SELECT user_id % 4 AS seg, event_type AS a,
           CAST(round(coalesce(value, 0.0) * 100) AS BIGINT) AS rc,
           (('0x' || substr(md5('ips' || event_id::VARCHAR), 1, 15))
             ::BIGINT % 5 < 4) AS is_train
         FROM events),
       model AS (SELECT seg, a, CAST(sum(rc) AS BIGINT) AS tr,
                   CAST(count(*) AS BIGINT) AS n,
                   sum(rc)::DOUBLE / count(*)::DOUBLE / 100.0 AS qhat
                 FROM ev WHERE is_train GROUP BY seg, a),
       pi AS (SELECT seg, a AS pi_a, qhat AS q_pi FROM (
                SELECT seg, a, qhat, row_number() OVER (
                  PARTITION BY seg ORDER BY tr DESC, a ASC) AS rk
                FROM model) WHERE rk = 1),
       kk AS (SELECT CAST(count(DISTINCT a) AS BIGINT) AS k
              FROM ev WHERE is_train),
       te AS (SELECT ev.seg, ev.a, ev.rc, pi.pi_a, pi.q_pi,
                model.qhat, kk.k
              FROM ev
              JOIN pi USING (seg)
              LEFT JOIN model ON model.seg = ev.seg AND model.a = ev.a
              CROSS JOIN kk
              WHERE NOT is_train),
       dr AS (SELECT seg, pi_a, q_pi,
                q_pi + (CASE WHEN a = pi_a
                  THEN k::DOUBLE * (rc::DOUBLE / 100.0
                    - coalesce(qhat, 0.0))
                  ELSE 0.0 END) AS v,
                a
              FROM te),
       agg AS (SELECT seg, any_value(pi_a) AS pi_a,
                 CAST(count(*) AS BIGINT) AS n_test,
                 CAST(sum(CASE WHEN a = pi_a THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_matched,
                 round(any_value(q_pi), 6) AS dm_value,
                 sum(CAST(floor(v * 1e6 + 0.5) AS HUGEINT)) AS du
               FROM dr GROUP BY seg)
       SELECT seg, pi_a, n_test, n_matched, dm_value,
         floor(((du::DOUBLE / 1e6)
           / greatest(n_test::DOUBLE, 1e-12)) * 1e6 + 0.5) / 1e6
           AS dr_value
       FROM agg ORDER BY seg"""

  // --------------------------------------------------------------- q313
  /** Nelson–Aalen cumulative hazard — the estimator reported when
    * q205's Kaplan-Meier product is unstable at small risk sets:
    * Ĥ(t) = Σ_{t'≤t} d/n_risk, with the Breslow survival exp(−Ĥ) next
    * to KM for comparison. Same lifetimes/censoring as q205; hazard
    * increments are fixed-shape divisions of exact LONG margins
    * quantized to 1e-9-unit LONGs, so the running sum is exact and
    * order-independent; all windows run on the bounded day table.
    */
  private def q313(s: SparkSession, d: String): DataFrame = {
    val day = datediff(to_date(col("o_orderdate")),
      lit("1990-01-01").cast("date")).cast("long")
    val users = Tables.orders(s, d)
      .select(col("o_custkey"), day.as("day"))
      .groupBy("o_custkey")
      .agg(min("day").as("d0"), max("day").as("d1"))
    val end = users.agg(max("d1").as("endday"))
    val lifetimes = users.crossJoin(broadcast(end))
      .select((col("d1") - col("d0")).as("t"),
        (col("endday") - col("d1") >= 90).as("died"))
      .groupBy("t")
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("died"), 1L).otherwise(0L)).as("d"))
    val byTDesc = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byTAsc = Window.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inc = floor(col("d").cast("double") /
      col("n_risk").cast("double") * lit(1e9) + lit(0.5)).cast("long")
    lifetimes
      .withColumn("n_risk", sum(col("n_users")).over(byTDesc))
      .filter(col("d") > 0)
      .withColumn("hu", inc)
      .withColumn("cum", sum(col("hu")).over(byTAsc))
      .select(col("t").as("t_days"), col("n_risk"),
        col("d").as("n_events"),
        round(col("cum").cast("double") / lit(1e9), 6)
          .as("cum_hazard"),
        round(exp(-(col("cum").cast("double") / lit(1e9))), 6)
          .as("breslow_survival"))
      .orderBy("t_days")
  }

  private val q313Sql =
    """WITH u AS (SELECT o_custkey,
           min(datediff('day', DATE '1990-01-01', o_orderdate::DATE))
             AS d0,
           max(datediff('day', DATE '1990-01-01', o_orderdate::DATE))
             AS d1
         FROM orders GROUP BY o_custkey),
       e AS (SELECT max(d1) AS endday FROM u),
       lt AS (SELECT CAST(u.d1 - u.d0 AS BIGINT) AS t,
                CAST(count(*) AS BIGINT) AS n_users,
                CAST(sum(CASE WHEN e.endday - u.d1 >= 90
                  THEN 1 ELSE 0 END) AS BIGINT) AS d
              FROM u, e GROUP BY 1),
       r AS (SELECT t, n_users, d,
               CAST(sum(n_users) OVER (ORDER BY t DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS n_risk
             FROM lt),
       h AS (SELECT t, n_risk, d,
               CAST(floor(d::DOUBLE / n_risk::DOUBLE * 1e9 + 0.5)
                 AS BIGINT) AS hu
             FROM r WHERE d > 0),
       c AS (SELECT t, n_risk, d,
               CAST(sum(hu) OVER (ORDER BY t ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum
             FROM h)
       SELECT t AS t_days, n_risk, d AS n_events,
         round(cum::DOUBLE / 1e9, 6) AS cum_hazard,
         round(exp(-(cum::DOUBLE / 1e9)), 6) AS breslow_survival
       FROM c ORDER BY t_days"""

  // --------------------------------------------------------------- q314
  /** Embedding effective rank (participation ratio) — how many
    * dimensions does the space REALLY use? PR = tr(C)²/‖C‖²_F =
    * (Σλ)²/Σλ² of the covariance spectrum, computed WITHOUT an
    * eigensolve: tr(C) needs only the d diagonal moments, ‖C‖²_F the
    * d² matrix — both from the q308 one-pass moment kernel (chained
    * posexplodes, 1e-6-quantized terms). An isotropic space scores d;
    * a collapsed one scores ≈1 — the q271 PCA eigensolve gives the
    * top direction, this gives the whole spectrum's shape in closed
    * form.
    */
  private def q314(s: SparkSession, d: String): DataFrame = {
    val base = Tables.embeddings(s, d)
      .select(col("embedding").cast("array<double>").as("x"))
    val f = base.select(col("x"), posexplode(col("x")))
      .select(col("x"), col("pos").as("i"), col("col").as("xi"))
    val pr = f.select(col("i"), col("xi"), posexplode(col("x")))
      .select(col("i"), col("xi"), col("pos").as("j"),
        col("col").as("xj"))
    // LONG unit sums on the d^2 hot path - the q308 codegen rationale
    def q6(c: Column) = floor(c * lit(1e6) + lit(0.5)).cast("long")
    val pm = pr.groupBy("i", "j")
      .agg(sum(q6(col("xi") * col("xj"))).as("sxxu"))
    val marg = f.groupBy("i").agg(sum(q6(col("xi"))).as("sxu"))
    val nn = base.agg(count(lit(1)).as("n"),
      max(size(col("x"))).as("dim"))
    val nD = col("n").cast("double")
    val cxx = (col("sxxu").cast("double") / lit(1e6)) / nD -
      ((col("sxi").cast("double") / lit(1e6)) / nD) *
        ((col("sxj").cast("double") / lit(1e6)) / nD)
    def q12(c: Column) = floor(c * lit(1e12) + lit(0.5)).cast("long")
    val cells = pm
      .join(broadcast(marg.select(col("i"), col("sxu").as("sxi"))),
        Seq("i"))
      .join(broadcast(marg.select(col("i").as("j"),
        col("sxu").as("sxj"))), Seq("j"))
      .crossJoin(broadcast(nn))
    val norms = cells.agg(
      first(col("n")).as("n"), first(col("dim")).as("dim"),
      sum(q12(cxx * cxx)).as("fro2"),
      sum(when(col("i") === col("j"), q12(cxx)).otherwise(0L))
        .as("tru"))
    val tr = col("tru").cast("double") / lit(1e12)
    val fro2 = col("fro2").cast("double") / lit(1e12)
    norms.select(col("n"), col("dim").cast("long").as("dim"),
      round(tr, 6).as("trace"),
      round(sqrt(fro2), 6).as("fro_norm"),
      round(tr * tr / safe(fro2), 4).as("effective_rank"))
  }

  private val q314Sql =
    """WITH e AS (SELECT embedding AS x FROM embeddings),
       f0 AS (SELECT unnest(range(0, len(x))) AS i, x FROM e),
       f AS (SELECT i, x[i + 1]::DOUBLE AS xi, x FROM f0),
       p0 AS (SELECT i, xi, unnest(range(0, len(x))) AS j, x FROM f),
       pr AS (SELECT i, j, xi, x[j + 1]::DOUBLE AS xj FROM p0),
       pm AS (SELECT i, j,
           CAST(sum(CAST(floor(xi * xj * 1e6 + 0.5) AS BIGINT))
             AS BIGINT) AS sxxu
         FROM pr GROUP BY i, j),
       marg AS (SELECT i,
           CAST(sum(CAST(floor(xi * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
             AS sxu
         FROM f GROUP BY i),
       nn AS (SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(max(len(x)) AS BIGINT) AS dim FROM e),
       cells AS (SELECT pm.i, pm.j,
           (pm.sxxu::DOUBLE / 1e6) / n::DOUBLE
             - ((mi.sxu::DOUBLE / 1e6) / n::DOUBLE)
               * ((mj.sxu::DOUBLE / 1e6) / n::DOUBLE) AS cxx,
           n, dim
         FROM pm
         JOIN marg mi ON mi.i = pm.i
         JOIN marg mj ON mj.i = pm.j
         CROSS JOIN nn),
       nrm AS (SELECT any_value(n) AS n, any_value(dim) AS dim,
           CAST(sum(CAST(floor(cxx * cxx * 1e12 + 0.5) AS BIGINT))
             AS BIGINT) AS fro2,
           CAST(sum(CASE WHEN i = j
             THEN CAST(floor(cxx * 1e12 + 0.5) AS BIGINT)
             ELSE 0 END) AS BIGINT) AS tru
         FROM cells)
       SELECT n, dim,
         round(tru::DOUBLE / 1e12, 6) AS trace,
         round(sqrt(fro2::DOUBLE / 1e12), 6) AS fro_norm,
         round((tru::DOUBLE / 1e12) * (tru::DOUBLE / 1e12)
           / greatest(fro2::DOUBLE / 1e12, 1e-12), 4)
           AS effective_rank
       FROM nrm"""

  // ------------------------------------------------------------ registry
  val entries: Seq[Query] = Seq(
    Query("q281_mcnemar", q281, q281Sql),
    Query("q282_ljung_box", q282, q282Sql),
    Query("q283_segmented_trend", q283, q283Sql),
    Query("q284_kendall_tau", q284, q284Sql),
    Query("q285_cramers_v", q285, q285Sql),
    Query("q286_msprt", q286, q286Sql),
    Query("q287_silhouette", q287, q287Sql),
    Query("q288_brown_forsythe", q288, q288Sql),
    Query("q289_partial_corr", q289, q289Sql),
    Query("q290_seasonal_decompose", q290, q290Sql),
    Query("q292_token_budget_fill", q292, q292Sql),
    Query("q293_largest_remainder", q293, q293Sql),
    Query("q294_drawdown", q294, q294Sql),
    Query("q295_cohens_d", q295, q295Sql),
    Query("q296_cochran_armitage", q296, q296Sql),
    Query("q297_mann_kendall", q297, q297Sql),
    Query("q298_unseen_mass", q298, q298Sql),
    Query("q299_heaps_law", q299, q299Sql),
    Query("q300_isotonic_calibration", q300, q300Sql),
    Query("q301_pareto_frontier", q301, q301Sql),
    Query("q303_bradley_terry", q303, q303Sql),
    Query("q304_rbo_overlap", q304, q304Sql),
    Query("q306_kneser_ney", q306, q306Sql),
    Query("q307_loso_influence", q307, q307Sql),
    Query("q308_cka_quantization", q308, q308Sql),
    Query("q309_greedy_coverage", q309, q309Sql),
    Query("q310_snips_offpolicy", q310, q310Sql),
    Query("q311_caliper_matching", q311, q311Sql),
    Query("q312_doubly_robust", q312, q312Sql),
    Query("q313_nelson_aalen", q313, q313Sql),
    Query("q314_effective_rank", q314, q314Sql),
    Query("q351_seasonal_strength", q351, q351Sql))
}
