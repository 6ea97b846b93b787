package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Exec
// cross-engine deterministic rounding shadows functions.round
import graft.functions.Rounding.{roundTo => round}

import graft.Tables

/** Round-11 measurement-method surface: k-group nonparametrics
  * (Kruskal–Wallis, Friedman), multi-rater agreement (Fleiss' kappa),
  * competing-risks survival (Aalen–Johansen cumulative incidence),
  * study pooling (DerSimonian–Laird random-effects meta-analysis),
  * a multinomial Naive-Bayes language classifier, distance
  * correlation, jackknife ratio-metric inference, UMass topic
  * coherence, and Dirichlet-smoothed query-likelihood retrieval.
  *
  * Oracle discipline matches [[Methods]]: every iterative or
  * accumulated quantity lives on an integer grid (2× rank units so
  * average ranks stay integral; 1e-9-unit LONG log terms; exact
  * LONG/DECIMAL sufficient statistics), FP appears only in fixed-shape
  * closing expressions, divisors are floored INSIDE the division
  * (ANSI + CSE hazard), and every oracle aggregate is CAST. Scale
  * posture: each operator collapses the corpus to a bounded table
  * (distinct quantized values, days, groups, items, top-k word sets)
  * in one scan before any window or self-join runs.
  */
object Studies {
  /** Floor a divisor away from zero INSIDE the division; mirrored as
    * `greatest(x, 1e-12)` on the oracle side. */
  private def safe(c: Column): Column = greatest(c, lit(1e-12))

  /** Two-level GLOBAL strictly-below prefix sums over a distinct-key
    * table (approx-percentile buckets → within-bucket window +
    * broadcast bucket offsets, the [[graft.operators.Quality]] shape):
    * adds `below_<m>` for each LONG measure column — exact integers,
    * so the oracle may use a plain window and still hash-match. No
    * corpus-sized single-partition sort exists at any SF. Shared by
    * q316/q328/q335. */
  private def bucketedBelow(df: DataFrame, u: String,
                            ms: Seq[String]): DataFrame = {
    val boundsDf = df.agg(expr(
      s"cast(approx_percentile($u, array(" +
        (1 until 32).map(_ / 32.0).mkString(",") +
        "), 1000) as array<double>)").as("bounds"))
    val bucketed = df.crossJoin(broadcast(boundsDf))
      .withColumn("bk", aggregate(col("bounds"), lit(0),
        (acc, bo) => acc + when(col(u).cast("double") > bo, 1)
          .otherwise(0)))
      .drop("bounds")
    val aggs = ms.map(m => sum(m).as(s"tn_$m"))
    var offsets = bucketed.groupBy("bk").agg(aggs.head, aggs.tail: _*)
    val offW = Window.orderBy("bk")
      .rowsBetween(Window.unboundedPreceding, -1)
    ms.foreach { m =>
      offsets = offsets.withColumn(s"ob_$m",
        coalesce(sum(s"tn_$m").over(offW), lit(0L)))
    }
    val inB = Window.partitionBy("bk").orderBy(u)
      .rowsBetween(Window.unboundedPreceding, -1)
    var out = bucketed.join(broadcast(offsets.select(
      col("bk") +: ms.map(m => col(s"ob_$m")): _*)), Seq("bk"))
    ms.foreach { m =>
      out = out.withColumn(s"below_$m",
        coalesce(sum(m).over(inB), lit(0L)) + col(s"ob_$m"))
    }
    out.drop("bk" +: ms.map(m => s"ob_$m"): _*)
  }

  // --------------------------------------------------------------- q316
  /** Kruskal–Wallis H — "does ANY event type's value distribution
    * differ?", the k-group extension of q247's two-arm Mann–Whitney on
    * the same micro-unit value quantization. Global average ranks stay
    * EXACT on the 2× integer grid (ar2 = 2·below + t + 1); per-group
    * rank sums form in DECIMAL; the prefix over distinct values runs
    * two-level (approx-percentile buckets → within-bucket window +
    * bucket-offset window, the [[graft.operators.Quality]] shape) so
    * no corpus-sized single-partition sort exists at any SF. H and the
    * tie correction close in fixed-shape FP from exact integers, with
    * each group's R²/n term quantized to 1e-6-unit LONGs before the
    * k-row sum (order-independence, the q246 contract).
    */
  private def q316(s: SparkSession, d: String): DataFrame = {
    val x = col("value").cast("double")
    val units = (floor(abs(x) * lit(1e6) + lit(0.5))).cast("long") *
      when(x < 0, -1L).otherwise(1L)
    val b = Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(col("event_type").as("g"), units.as("u"))
    val cg = b.groupBy("u", "g").agg(count(lit(1)).as("nv"))
    val cu = cg.groupBy("u").agg(sum("nv").as("t"))
    // two-level global prefix: strictly-below count per distinct value
    val below = bucketedBelow(cu, "u", Seq("t"))
      .select(col("u"), col("t"), col("below_t").as("below"))
    val dec = "decimal(38,0)"
    val grp = cg.join(below, Seq("u"))
      .groupBy("g")
      .agg(sum("nv").as("n_g"),
        sum(col("nv").cast(dec) *
          (lit(2L) * col("below") + col("t") + lit(1L)).cast(dec))
          .as("r2"))
    val ties = below.agg(
      sum(col("t").cast(dec) * col("t").cast(dec) * col("t").cast(dec) -
        col("t").cast(dec)).as("tie3"),
      sum("t").as("n"))
    val nD = col("n").cast("double")
    // s_g = (R2/2)² / (n_g · N · (N+1)): ≤ n_g, so the 1e-6 grid holds
    val sg = (col("r2").cast("double") / 2.0) *
      (col("r2").cast("double") / 2.0) /
      safe(col("n_g").cast("double") * nD * (nD + 1.0))
    val terms = grp.crossJoin(broadcast(ties))
      .select(col("g"), col("n_g"), col("n"), col("tie3"),
        floor(sg * lit(1e6) + lit(0.5)).cast("long").as("su"))
    val agg = terms.groupBy("n", "tie3")
      .agg(count(lit(1)).as("k"), sum("su").as("sus"))
    val h = lit(12.0) * (col("sus").cast("double") / 1e6) -
      lit(3.0) * (nD + 1.0)
    val corr = lit(1.0) - col("tie3").cast("double") /
      safe(nD * nD * nD - nD)
    agg.select(col("n"), col("k"), (col("k") - 1L).as("dof"),
      round(h, 6).as("h"),
      round(h / safe(corr), 6).as("h_tie_corrected"),
      round((h / safe(corr) - col("k").cast("double") + 1.0) /
        safe(nD - col("k").cast("double")), 6).as("epsilon_sq"))
  }

  private val q316Sql =
    """WITH b AS (SELECT event_type AS g,
           CAST(floor(abs(value::DOUBLE) * 1e6 + 0.5) AS BIGINT)
             * (CASE WHEN value::DOUBLE < 0 THEN -1 ELSE 1 END) AS u
         FROM events WHERE value IS NOT NULL),
       cg AS (SELECT u, g, CAST(count(*) AS BIGINT) AS nv
              FROM b GROUP BY u, g),
       cu AS (SELECT u, CAST(sum(nv) AS BIGINT) AS t
              FROM cg GROUP BY u),
       bel AS (SELECT u, t,
               coalesce(sum(t) OVER (ORDER BY u
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS below
             FROM cu),
       grp AS (SELECT g, CAST(sum(nv) AS BIGINT) AS n_g,
               sum(nv::HUGEINT * (2 * below + t + 1)::HUGEINT) AS r2
             FROM cg JOIN bel USING (u) GROUP BY g),
       ties AS (SELECT sum(t::HUGEINT * t * t - t) AS tie3,
                CAST(sum(t) AS BIGINT) AS n FROM bel),
       terms AS (SELECT g, n_g, n, tie3,
           CAST(floor((r2::DOUBLE / 2.0) * (r2::DOUBLE / 2.0)
               / greatest(n_g::DOUBLE * n::DOUBLE * (n::DOUBLE + 1.0),
                 1e-12) * 1e6 + 0.5) AS BIGINT) AS su
         FROM grp, ties),
       agg AS (SELECT n, tie3, CAST(count(*) AS BIGINT) AS k,
               CAST(sum(su) AS BIGINT) AS sus
             FROM terms GROUP BY n, tie3),
       f AS (SELECT n, k, k - 1 AS dof,
           12.0 * (sus::DOUBLE / 1e6) - 3.0 * (n::DOUBLE + 1.0) AS h,
           1.0 - tie3::DOUBLE
             / greatest(n::DOUBLE * n::DOUBLE * n::DOUBLE - n::DOUBLE,
               1e-12) AS corr
         FROM agg)
       SELECT n, k, dof, round(h, 6) AS h,
         round(h / greatest(corr, 1e-12), 6) AS h_tie_corrected,
         round((h / greatest(corr, 1e-12) - k::DOUBLE + 1.0)
           / greatest(n::DOUBLE - k::DOUBLE, 1e-12), 6) AS epsilon_sq
       FROM f"""

  // --------------------------------------------------------------- q317
  /** Friedman test — "do event types keep the same activity ORDER
    * across days?", the repeated-measures companion to q316 (which
    * pools all observations; this one blocks by day so day-level
    * volume shifts cancel). Blocks = days, treatments = event types,
    * response = the zero-filled daily count grid; within-day average
    * ranks live on the 2× integer grid, so the tie-corrected statistic
    * is an EXACT integer ratio — (k−1)·Σ(R2_j − n(k+1))² over
    * Σr2² − nk(k+1)² — closed with ONE FP division (no quantization
    * anywhere). Day-partitioned windows over a days×k grid; the corpus
    * collapses in one aggregation.
    */
  private def q317(s: SparkSession, d: String): DataFrame = {
    val obs = Tables.events(s, d)
      .select(to_date(col("ts")).as("dt"), col("event_type").as("g"))
      .groupBy("dt", "g").agg(count(lit(1)).as("c"))
    val days = obs.select("dt").distinct()
    val types = obs.select("g").distinct()
    val grid = days.crossJoin(broadcast(types))
      .join(obs, Seq("dt", "g"), "left")
      .na.fill(0L, Seq("c"))
    val tiesInDay = grid.groupBy("dt", "c").agg(count(lit(1)).as("m"))
    val wDay = Window.partitionBy("dt").orderBy("c")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ar = tiesInDay
      .withColumn("bl", coalesce(sum("m").over(wDay), lit(0L)))
      .select(col("dt"), col("c"),
        (lit(2L) * col("bl") + col("m") + lit(1L)).as("r2"))
    val ranked = grid.join(ar, Seq("dt", "c"))
    val perType = ranked.groupBy("g").agg(sum("r2").as("r2j"))
    val tot = ranked.agg(sum(col("r2") * col("r2")).as("s2"),
      countDistinct(col("dt")).as("n"))
    val kDf = perType.agg(count(lit(1)).as("k"))
    val num = perType.crossJoin(broadcast(tot)).crossJoin(broadcast(kDf))
      .select(col("n"), col("k"), col("s2"),
        (col("r2j") - col("n") * (col("k") + 1L)).as("a"))
      .groupBy("n", "k", "s2")
      .agg(sum(col("a") * col("a")).as("ssq"))
    val den = col("s2") - col("n") * col("k") *
      (col("k") + 1L) * (col("k") + 1L)
    val chi2 = (col("k") - 1L).cast("double") *
      col("ssq").cast("double") / safe(den.cast("double"))
    num.select(col("n").as("n_days"), col("k"), (col("k") - 1L).as("dof"),
      round(chi2, 6).as("chi2"),
      round(chi2 / safe(col("n").cast("double") *
        (col("k") - 1L).cast("double")), 6).as("kendall_w"))
  }

  private val q317Sql =
    """WITH obs AS (SELECT ts::DATE AS dt, event_type AS g,
           CAST(count(*) AS BIGINT) AS c
         FROM events GROUP BY 1, 2),
       grid AS (SELECT dd.dt, tt.g, coalesce(obs.c, 0) AS c
             FROM (SELECT DISTINCT dt FROM obs) dd
             CROSS JOIN (SELECT DISTINCT g FROM obs) tt
             LEFT JOIN obs ON obs.dt = dd.dt AND obs.g = tt.g),
       tid AS (SELECT dt, c, CAST(count(*) AS BIGINT) AS m
               FROM grid GROUP BY dt, c),
       ar AS (SELECT dt, c,
               2 * coalesce(sum(m) OVER (PARTITION BY dt ORDER BY c
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 + m + 1 AS r2
             FROM tid),
       ranked AS (SELECT g.g, g.dt, ar.r2
                  FROM grid g JOIN ar ON ar.dt = g.dt AND ar.c = g.c),
       pt AS (SELECT g, CAST(sum(r2) AS BIGINT) AS r2j
              FROM ranked GROUP BY g),
       tot AS (SELECT CAST(sum(r2 * r2) AS BIGINT) AS s2,
               CAST(count(DISTINCT dt) AS BIGINT) AS n FROM ranked),
       kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM pt),
       num AS (SELECT n, k, s2,
               CAST(sum((r2j - n * (k + 1)) * (r2j - n * (k + 1)))
                 AS BIGINT) AS ssq
             FROM pt, tot, kk GROUP BY n, k, s2),
       f AS (SELECT n, k, s2, ssq,
           (k - 1)::DOUBLE * ssq::DOUBLE
             / greatest((s2 - n * k * (k + 1) * (k + 1))::DOUBLE,
               1e-12) AS chi2
         FROM num)
       SELECT n AS n_days, k, k - 1 AS dof,
         round(chi2, 6) AS chi2,
         round(chi2 / greatest(n::DOUBLE * (k - 1)::DOUBLE, 1e-12), 6)
           AS kendall_w
       FROM f"""

  // --------------------------------------------------------------- q318
  /** Fleiss' kappa — chance-corrected agreement for MANY raters
    * (q215's Cohen kappa handles exactly two, q276's Krippendorff
    * weights by distance): items = orders with ≥2 lineitems, raters =
    * the first two lines by linenumber, categories = return flags.
    * With n=2 ratings per item the whole statistic is an exact
    * integer ratio of DECIMAL sufficient statistics — S2 = ΣΣn_ij²
    * and the category totals' square sum E2 — closing as
    * κ = (2N(S2−2N) − E2)/(4N² − E2) in ONE FP division. One
    * order-partitioned top-2 window + two bounded aggregations.
    */
  private def q318(s: SparkSession, d: String): DataFrame = {
    // (linenumber, partkey) is NOT unique in the corpus — the rating
    // category joins the sort so the top-2 pick is outcome-total
    // (rows still tied agree on cat, so the choice cannot matter)
    val w = Window.partitionBy("l_orderkey")
      .orderBy(col("l_linenumber"), col("l_partkey"), col("cat"))
    val first2 = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_returnflag").as("cat"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
    val withBoth = first2.groupBy("l_orderkey")
      .agg(count(lit(1)).as("nr"))
      .filter(col("nr") === 2)
      .select("l_orderkey")
    val cells = first2.join(withBoth, Seq("l_orderkey"))
      .groupBy("l_orderkey", "cat").agg(count(lit(1)).as("nij"))
    val dec = "decimal(38,0)"
    val s2n = cells.agg(
      sum(col("nij").cast(dec) * col("nij").cast(dec)).as("s2"),
      (sum("nij") / 2L).cast("long").as("n_items"))
    val e2 = cells.groupBy("cat").agg(sum("nij").as("cj"))
      .agg(sum(col("cj").cast(dec) * col("cj").cast(dec)).as("e2"))
    val nD = col("n_items").cast("double")
    val s2D = col("s2").cast("double")
    val e2D = col("e2").cast("double")
    s2n.crossJoin(broadcast(e2))
      .select(col("n_items"),
        round((s2D - lit(2.0) * nD) / safe(lit(2.0) * nD), 6).as("p_bar"),
        round(e2D / safe(lit(4.0) * nD * nD), 6).as("p_e"),
        round((lit(2.0) * nD * (s2D - lit(2.0) * nD) - e2D) /
          safe(lit(4.0) * nD * nD - e2D), 6).as("kappa"))
  }

  private val q318Sql =
    """WITH f2 AS (SELECT l_orderkey, l_returnflag AS cat,
           row_number() OVER (PARTITION BY l_orderkey
             ORDER BY l_linenumber, l_partkey, l_returnflag) AS rn
         FROM lineitem),
       keep AS (SELECT l_orderkey FROM f2 WHERE rn <= 2
                GROUP BY l_orderkey HAVING count(*) = 2),
       cells AS (SELECT f2.l_orderkey, cat,
               CAST(count(*) AS BIGINT) AS nij
             FROM f2 JOIN keep USING (l_orderkey)
             WHERE rn <= 2 GROUP BY f2.l_orderkey, cat),
       s2n AS (SELECT sum(nij::HUGEINT * nij::HUGEINT) AS s2,
               CAST(sum(nij) // 2 AS BIGINT) AS n_items FROM cells),
       e2t AS (SELECT sum(cj::HUGEINT * cj::HUGEINT) AS e2
             FROM (SELECT cat, CAST(sum(nij) AS BIGINT) AS cj
                   FROM cells GROUP BY cat))
       SELECT n_items,
         round((s2::DOUBLE - 2.0 * n_items::DOUBLE)
           / greatest(2.0 * n_items::DOUBLE, 1e-12), 6) AS p_bar,
         round(e2::DOUBLE
           / greatest(4.0 * n_items::DOUBLE * n_items::DOUBLE, 1e-12), 6)
           AS p_e,
         round((2.0 * n_items::DOUBLE * (s2::DOUBLE
             - 2.0 * n_items::DOUBLE) - e2::DOUBLE)
           / greatest(4.0 * n_items::DOUBLE * n_items::DOUBLE
             - e2::DOUBLE, 1e-12), 6) AS kappa
       FROM s2n, e2t"""

  // --------------------------------------------------------------- q319
  /** Aalen–Johansen cumulative incidence — competing-risks survival,
    * the readout q205's Kaplan–Meier CANNOT give when subjects exit
    * for different reasons (1−KM per cause overstates every cause):
    * customers "die" by churn (90-day inactivity before the corpus
    * end, the q205/q302 scaffold), competing causes = ever-urgent
    * customers (cause 1) vs never-urgent (cause 2). CIF_k(t) =
    * Σ_{s≤t} S(s−)·d_k(s)/n(s) with the ALL-cause KM S on the 9-dp
    * grid (the q305 discipline) and each increment quantized to
    * 1e-9-unit LONGs, so the horizon sums are order-independent
    * integer folds. Corpus collapses to per-customer rows, then to
    * event days; both causes close in one aggregation.
    */
  private def q319(s: SparkSession, d: String): DataFrame = {
    val day = datediff(to_date(col("o_orderdate")),
      lit("1990-01-01").cast("date"))
    val u = Tables.orders(s, d)
      .select(col("o_custkey"), day.as("dd"),
        when(substring(col("o_orderpriority"), 1, 1).cast("int") <= 2,
          1L).otherwise(0L).as("urg"))
      .groupBy("o_custkey")
      .agg(min("dd").as("d0"), max("dd").as("d1"),
        max("urg").as("ever_urgent"))
    val fin = u.agg(max("d1").as("endday"))
    val pa = u.crossJoin(broadcast(fin))
      .select((col("d1") - col("d0")).as("t"),
        when(col("endday") - col("d1") >= 90, 1L).otherwise(0L)
          .as("died"),
        when(col("ever_urgent") === 1L, 1L).otherwise(2L).as("cause"))
    val ga = pa.groupBy("t")
      .agg(count(lit(1)).as("n_at"),
        sum(when(col("died") === 1L && col("cause") === 1L, 1L)
          .otherwise(0L)).as("d1c"),
        sum(when(col("died") === 1L && col("cause") === 2L, 1L)
          .otherwise(0L)).as("d2c"))
    val wDesc = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val risk = ga.withColumn("n_risk", sum("n_at").over(wDesc))
      .withColumn("dt", col("d1c") + col("d2c"))
      .filter(col("dt") > 0)
    val wAsc = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val surv = risk.withColumn("f",
        lit(1.0) - col("dt").cast("double") /
          greatest(col("n_risk"), lit(1L)).cast("double"))
      .withColumn("s_after",
        when(min(col("f")).over(wAsc) === 0.0, lit(0.0))
          .otherwise(round(exp(sum(log(col("f"))).over(wAsc)), 9)))
    val wLag = Window.orderBy("t")
    val inc = surv
      .withColumn("s_prev",
        coalesce(lag(col("s_after"), 1).over(wLag), lit(1.0)))
      .select(col("t"), col("d1c"), col("d2c"),
        floor(col("s_prev") * col("d1c").cast("double") /
          greatest(col("n_risk"), lit(1L)).cast("double") * lit(1e9) +
          lit(0.5)).cast("long").as("i1u"),
        floor(col("s_prev") * col("d2c").cast("double") /
          greatest(col("n_risk"), lit(1L)).cast("double") * lit(1e9) +
          lit(0.5)).cast("long").as("i2u"))
    val agg = inc.agg(
      sum("d1c").as("ev1"), sum("d2c").as("ev2"),
      sum(when(col("t") <= 365L, col("i1u")).otherwise(0L)).as("c1_365"),
      sum(when(col("t") <= 365L, col("i2u")).otherwise(0L)).as("c2_365"),
      sum("i1u").as("c1f"), sum("i2u").as("c2f"))
    agg.select(lit(1L).as("cause"), col("ev1").as("events"),
        round(col("c1_365").cast("double") / 1e9, 6).as("cif_365"),
        round(col("c1f").cast("double") / 1e9, 6).as("cif_final"))
      .unionByName(agg.select(lit(2L).as("cause"),
        col("ev2").as("events"),
        round(col("c2_365").cast("double") / 1e9, 6).as("cif_365"),
        round(col("c2f").cast("double") / 1e9, 6).as("cif_final")))
      .orderBy("cause")
  }

  private val q319Sql =
    """WITH u AS (SELECT o_custkey,
           min(datediff('day', DATE '1990-01-01', o_orderdate::DATE))
             AS d0,
           max(datediff('day', DATE '1990-01-01', o_orderdate::DATE))
             AS d1,
           max(CASE WHEN CAST(substr(o_orderpriority, 1, 1) AS INTEGER)
             <= 2 THEN 1 ELSE 0 END) AS ever_urgent
         FROM orders GROUP BY o_custkey),
       fin AS (SELECT max(d1) AS endday FROM u),
       pa AS (SELECT d1 - d0 AS t,
                CASE WHEN endday - d1 >= 90 THEN 1 ELSE 0 END AS died,
                CASE WHEN ever_urgent = 1 THEN 1 ELSE 2 END AS cause
              FROM u, fin),
       ga AS (SELECT t, CAST(count(*) AS BIGINT) AS n_at,
                CAST(sum(CASE WHEN died = 1 AND cause = 1 THEN 1
                  ELSE 0 END) AS BIGINT) AS d1c,
                CAST(sum(CASE WHEN died = 1 AND cause = 2 THEN 1
                  ELSE 0 END) AS BIGINT) AS d2c
              FROM pa GROUP BY t),
       risk AS (SELECT *, CAST(sum(n_at) OVER (ORDER BY t DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS n_risk,
                d1c + d2c AS dt
              FROM ga),
       dd AS (SELECT * FROM risk WHERE dt > 0),
       surv AS (SELECT *,
           1.0 - dt::DOUBLE / greatest(n_risk, 1)::DOUBLE AS f
         FROM dd),
       sv AS (SELECT *,
           CASE WHEN min(f) OVER (ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  = 0.0 THEN 0.0
                ELSE round(exp(sum(ln(f)) OVER (ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 9)
           END AS s_after
         FROM surv),
       inc AS (SELECT t, d1c, d2c,
           CAST(floor(coalesce(lag(s_after) OVER (ORDER BY t), 1.0)
               * d1c::DOUBLE / greatest(n_risk, 1)::DOUBLE * 1e9 + 0.5)
             AS BIGINT) AS i1u,
           CAST(floor(coalesce(lag(s_after) OVER (ORDER BY t), 1.0)
               * d2c::DOUBLE / greatest(n_risk, 1)::DOUBLE * 1e9 + 0.5)
             AS BIGINT) AS i2u
         FROM sv),
       agg AS (SELECT CAST(sum(d1c) AS BIGINT) AS ev1,
               CAST(sum(d2c) AS BIGINT) AS ev2,
               CAST(sum(CASE WHEN t <= 365 THEN i1u ELSE 0 END)
                 AS BIGINT) AS c1_365,
               CAST(sum(CASE WHEN t <= 365 THEN i2u ELSE 0 END)
                 AS BIGINT) AS c2_365,
               CAST(sum(i1u) AS BIGINT) AS c1f,
               CAST(sum(i2u) AS BIGINT) AS c2f
             FROM inc)
       SELECT 1::BIGINT AS cause, ev1 AS events,
         round(c1_365::DOUBLE / 1e9, 6) AS cif_365,
         round(c1f::DOUBLE / 1e9, 6) AS cif_final FROM agg
       UNION ALL
       SELECT 2::BIGINT AS cause, ev2 AS events,
         round(c2_365::DOUBLE / 1e9, 6) AS cif_365,
         round(c2f::DOUBLE / 1e9, 6) AS cif_final FROM agg
       ORDER BY cause"""

  // --------------------------------------------------------------- q320
  /** DerSimonian–Laird random-effects meta-analysis — pooling the
    * per-event-type hash-arm effects (the q295 scaffold) into ONE
    * estimate with between-study heterogeneity: fixed-effect
    * inverse-variance pooling, Cochran's Q, the DL moment estimate
    * τ² = max(0, (Q−(k−1))/c), and the re-weighted random-effects
    * mean. Per-study d_i/v_i are fixed-shape FP from exact
    * sufficient statistics; every k-row sum (Σw, Σwd, Σw², Q terms,
    * Σw*, Σw*d) quantizes its addends to 1e-6-unit LONGs first
    * (order-independence) — two bounded passes over a k-row table
    * with broadcast stage scalars, no corpus re-scan.
    */
  private def q320(s: SparkSession, d: String): DataFrame = {
    val arm = graft.operators.Sampling.hashBucket(col("user_id"), "ab", 2)
    val cells = Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(col("event_type"), (arm === 0).as("t"),
        col("value").as("v"))
      .groupBy("event_type")
      .agg(sum(when(col("t"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("t"), col("v")).otherwise(0.0)).as("sa"),
        sum(when(col("t"), col("v") * col("v")).otherwise(0.0)).as("saa"),
        sum(when(!col("t"), 1L).otherwise(0L)).as("n_b"),
        sum(when(!col("t"), col("v")).otherwise(0.0)).as("sb"),
        sum(when(!col("t"), col("v") * col("v")).otherwise(0.0)).as("sbb"))
      .filter(col("n_a") >= 2 && col("n_b") >= 2)
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val dEff = col("sa") / na - col("sb") / nb
    val vEff = ((col("saa") - col("sa") * col("sa") / na) / (na - 1.0)) /
      na + ((col("sbb") - col("sb") * col("sb") / nb) / (nb - 1.0)) / nb
    val studies = cells.select(col("event_type"), dEff.as("di"),
      vEff.as("vi"))
    // stage 1: fixed-effect sums on the 1e-6 grid
    val st1 = studies.select(
        floor(lit(1.0) / safe(col("vi")) * lit(1e6) + lit(0.5))
          .cast("long").as("wu"),
        floor(col("di") / safe(col("vi")) * lit(1e6) + lit(0.5))
          .cast("long").as("wdu"),
        floor(lit(1.0) / safe(col("vi")) / safe(col("vi")) * lit(1e6) +
          lit(0.5)).cast("long").as("w2u"))
      .agg(count(lit(1)).as("k"), sum("wu").as("sw"),
        sum("wdu").as("swd"), sum("w2u").as("sw2"))
    val muF = col("swd").cast("double") / safe(col("sw").cast("double"))
    // stage 2: Q against the broadcast fixed-effect mean
    val st2 = studies.crossJoin(broadcast(st1))
      .select(col("k"), col("sw"), col("swd"), col("sw2"),
        floor((col("di") - muF) * (col("di") - muF) / safe(col("vi")) *
          lit(1e6) + lit(0.5)).cast("long").as("qu"))
      .groupBy("k", "sw", "swd", "sw2")
      .agg(sum("qu").as("squ"))
    val q = col("squ").cast("double") / 1e6
    val c = col("sw").cast("double") / 1e6 -
      (col("sw2").cast("double") / 1e6) /
        safe(col("sw").cast("double") / 1e6)
    val tau2 = greatest(
      (q - (col("k") - 1L).cast("double")) / safe(c), lit(0.0))
    val head = st2.select(col("k"), col("sw"), col("swd"), col("squ"),
      tau2.as("tau2"))
    // stage 3: random-effects re-weighting with the broadcast tau²
    val st3 = studies.crossJoin(broadcast(head))
      .select(col("k"), col("sw"), col("swd"), col("squ"), col("tau2"),
        floor(lit(1.0) / safe(col("vi") + col("tau2")) * lit(1e6) +
          lit(0.5)).cast("long").as("wsu"),
        floor(col("di") / safe(col("vi") + col("tau2")) * lit(1e6) +
          lit(0.5)).cast("long").as("wsdu"))
      .groupBy("k", "sw", "swd", "squ", "tau2")
      .agg(sum("wsu").as("sws"), sum("wsdu").as("swsd"))
    val qD = col("squ").cast("double") / 1e6
    st3.select(col("k"),
      round(col("swd").cast("double") / safe(col("sw").cast("double")),
        6).as("mu_fixed"),
      round(lit(1.0) / sqrt(safe(col("sw").cast("double") / 1e6)), 6)
        .as("se_fixed"),
      round(qD, 6).as("q_stat"),
      round(col("tau2"), 6).as("tau2"),
      round(greatest((qD - (col("k") - 1L).cast("double")) / safe(qD),
        lit(0.0)), 6).as("i2"),
      round(col("swsd").cast("double") / safe(col("sws").cast("double")),
        6).as("mu_random"),
      round(lit(1.0) / sqrt(safe(col("sws").cast("double") / 1e6)), 6)
        .as("se_random"))
  }

  private val q320Sql =
    """WITH b AS (SELECT event_type,
           (('0x' || substr(md5('ab' || user_id::VARCHAR), 1, 15))::BIGINT
             % 2 = 0) AS t,
           value AS v
         FROM events WHERE value IS NOT NULL),
       c AS (SELECT event_type,
           CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           sum(CASE WHEN t THEN v ELSE 0.0 END) AS sa,
           sum(CASE WHEN t THEN v * v ELSE 0.0 END) AS saa,
           CAST(sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
           sum(CASE WHEN NOT t THEN v ELSE 0.0 END) AS sb,
           sum(CASE WHEN NOT t THEN v * v ELSE 0.0 END) AS sbb
         FROM b GROUP BY event_type
         HAVING n_a >= 2 AND n_b >= 2),
       st AS (SELECT event_type,
           sa / n_a::DOUBLE - sb / n_b::DOUBLE AS di,
           ((saa - sa * sa / n_a::DOUBLE) / (n_a::DOUBLE - 1.0))
             / n_a::DOUBLE
           + ((sbb - sb * sb / n_b::DOUBLE) / (n_b::DOUBLE - 1.0))
             / n_b::DOUBLE AS vi
         FROM c),
       s1 AS (SELECT CAST(count(*) AS BIGINT) AS k,
           CAST(sum(CAST(floor(1.0 / greatest(vi, 1e-12) * 1e6 + 0.5)
             AS BIGINT)) AS BIGINT) AS sw,
           CAST(sum(CAST(floor(di / greatest(vi, 1e-12) * 1e6 + 0.5)
             AS BIGINT)) AS BIGINT) AS swd,
           CAST(sum(CAST(floor(1.0 / greatest(vi, 1e-12)
               / greatest(vi, 1e-12) * 1e6 + 0.5)
             AS BIGINT)) AS BIGINT) AS sw2
         FROM st),
       s2 AS (SELECT k, sw, swd, sw2,
           CAST(sum(CAST(floor((di - swd::DOUBLE
                 / greatest(sw::DOUBLE, 1e-12))
               * (di - swd::DOUBLE / greatest(sw::DOUBLE, 1e-12))
               / greatest(vi, 1e-12) * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
             AS squ
         FROM st, s1 GROUP BY k, sw, swd, sw2),
       h AS (SELECT k, sw, swd, squ,
           greatest((squ::DOUBLE / 1e6 - (k - 1)::DOUBLE)
             / greatest(sw::DOUBLE / 1e6
               - (sw2::DOUBLE / 1e6) / greatest(sw::DOUBLE / 1e6, 1e-12),
               1e-12), 0.0) AS tau2
         FROM s2),
       s3 AS (SELECT k, sw, swd, squ, tau2,
           CAST(sum(CAST(floor(1.0 / greatest(vi + tau2, 1e-12) * 1e6
             + 0.5) AS BIGINT)) AS BIGINT) AS sws,
           CAST(sum(CAST(floor(di / greatest(vi + tau2, 1e-12) * 1e6
             + 0.5) AS BIGINT)) AS BIGINT) AS swsd
         FROM st, h GROUP BY k, sw, swd, squ, tau2)
       SELECT k,
         round(swd::DOUBLE / greatest(sw::DOUBLE, 1e-12), 6) AS mu_fixed,
         round(1.0 / sqrt(greatest(sw::DOUBLE / 1e6, 1e-12)), 6)
           AS se_fixed,
         round(squ::DOUBLE / 1e6, 6) AS q_stat,
         round(tau2, 6) AS tau2,
         round(greatest((squ::DOUBLE / 1e6 - (k - 1)::DOUBLE)
           / greatest(squ::DOUBLE / 1e6, 1e-12), 0.0), 6) AS i2,
         round(swsd::DOUBLE / greatest(sws::DOUBLE, 1e-12), 6)
           AS mu_random,
         round(1.0 / sqrt(greatest(sws::DOUBLE / 1e6, 1e-12)), 6)
           AS se_random
       FROM s3"""

  // --------------------------------------------------------------- q321
  /** Multinomial Naive Bayes language classifier — train/eval as ONE
    * query, the baseline every lang-id pipeline (q33's n-gram
    * heuristic) should beat before shipping: an 80/20 doc-id hash
    * split, add-1-smoothed per-language word likelihoods from the
    * train side, argmax posterior on the test side, per-language
    * accuracy readout. Per-(doc, lang, word) log terms quantize to
    * 1e-9-unit LONGs (floor form — libm ln of exact integer ratios,
    * the q248 caveat regime) so document scores are integer sums and
    * the argmax is a total order (score desc, lang asc). Work is
    * test-tokens × k languages — the lang table broadcasts; no
    * corpus² anywhere.
    */
  private def q321(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        explode(graft.functions.TextFunctions.words(col("text")))
          .as("w"),
        (graft.operators.Sampling.hashBucket(col("doc_id"), "nb", 5)
          === 0).as("is_test"))
    val train = docs.filter(!col("is_test"))
    val test = docs.filter(col("is_test"))
    val cw = train.groupBy("lang", "w").agg(count(lit(1)).as("c"))
    val tl = cw.groupBy("lang").agg(sum("c").as("tl"))
    val vocab = cw.select("w").distinct().agg(count(lit(1)).as("v"))
    val priors = Tables.documents(s, d)
      .filter(graft.operators.Sampling.hashBucket(col("doc_id"), "nb", 5)
        =!= 0)
      .groupBy("lang").agg(count(lit(1)).as("nl"))
    val nt = priors.agg(sum("nl").as("nt"))
    val langs = tl.join(priors, Seq("lang"))
      .crossJoin(broadcast(vocab)).crossJoin(broadcast(nt))
      .select(col("lang").as("l"), col("tl"), col("v"),
        floor(log(col("nl").cast("double") / col("nt").cast("double")) *
          lit(1e9) + lit(0.5)).cast("long").as("prior_u"))
    val tt = test.groupBy("doc_id", "lang", "w")
      .agg(count(lit(1)).as("n_dw"))
    val terms = tt.join(broadcast(langs))
      .join(cw.select(col("lang").as("l"), col("w"), col("c")),
        Seq("l", "w"), "left")
      .select(col("doc_id"), col("lang"), col("l"), col("prior_u"),
        (col("n_dw").cast("double") *
          log((coalesce(col("c"), lit(0L)) + lit(1L)).cast("double") /
            (col("tl") + col("v")).cast("double"))).as("t"))
      .select(col("doc_id"), col("lang"), col("l"), col("prior_u"),
        floor(col("t") * lit(1e9) + lit(0.5)).cast("long").as("tu"))
    val scored = terms.groupBy("doc_id", "lang", "l", "prior_u")
      .agg(sum("tu").as("su"))
      .select(col("doc_id"), col("lang"), col("l"),
        (col("prior_u") + col("su")).as("score_u"))
    val wPick = Window.partitionBy("doc_id")
      .orderBy(col("score_u").desc, col("l"))
    val pred = scored.withColumn("rn", row_number().over(wPick))
      .filter(col("rn") === 1)
    pred.groupBy("lang")
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("l") === col("lang"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("lang"), col("n_test"), col("n_correct"),
        round(col("n_correct").cast("double") /
          safe(col("n_test").cast("double")), 6).as("accuracy"))
      .orderBy("lang")
  }

  private val q321Sql =
    """WITH dt AS (SELECT doc_id, lang, unnest(
           regexp_split_to_array(trim(text), '\s+')) AS w,
           (('0x' || substr(md5('nb' || doc_id::VARCHAR), 1, 15))::BIGINT
             % 5 = 0) AS is_test
         FROM documents),
       cw AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS c
              FROM dt WHERE NOT is_test GROUP BY lang, w),
       tl AS (SELECT lang, CAST(sum(c) AS BIGINT) AS tl
              FROM cw GROUP BY lang),
       vc AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
              FROM cw),
       pr AS (SELECT lang, CAST(count(*) AS BIGINT) AS nl
              FROM documents
              WHERE ('0x' || substr(md5('nb' || doc_id::VARCHAR), 1, 15))
                ::BIGINT % 5 <> 0
              GROUP BY lang),
       nt AS (SELECT CAST(sum(nl) AS BIGINT) AS nt FROM pr),
       langs AS (SELECT tl.lang AS l, tl.tl, vc.v,
           CAST(floor(ln(nl::DOUBLE / nt::DOUBLE) * 1e9 + 0.5)
             AS BIGINT) AS prior_u
         FROM tl JOIN pr ON pr.lang = tl.lang, vc, nt),
       tt AS (SELECT doc_id, lang, w, CAST(count(*) AS BIGINT) AS n_dw
              FROM dt WHERE is_test GROUP BY doc_id, lang, w),
       terms AS (SELECT tt.doc_id, tt.lang, langs.l, langs.prior_u,
           CAST(floor(n_dw::DOUBLE
               * ln((coalesce(cw.c, 0) + 1)::DOUBLE
                 / (langs.tl + langs.v)::DOUBLE) * 1e9 + 0.5)
             AS BIGINT) AS tu
         FROM tt CROSS JOIN langs
         LEFT JOIN cw ON cw.lang = langs.l AND cw.w = tt.w),
       sc AS (SELECT doc_id, lang, l,
               prior_u + CAST(sum(tu) AS BIGINT) AS score_u
             FROM terms GROUP BY doc_id, lang, l, prior_u),
       pick AS (SELECT doc_id, lang, l,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY score_u DESC, l) AS rn
             FROM sc)
       SELECT lang, CAST(count(*) AS BIGINT) AS n_test,
         CAST(sum(CASE WHEN l = lang THEN 1 ELSE 0 END) AS BIGINT)
           AS n_correct,
         round(sum(CASE WHEN l = lang THEN 1 ELSE 0 END)::DOUBLE
           / greatest(count(*)::DOUBLE, 1e-12), 6) AS accuracy
       FROM pick WHERE rn = 1
       GROUP BY lang ORDER BY lang"""

  // --------------------------------------------------------------- q322
  /** Distance correlation — the dependence detector q194's Pearson
    * matrix cannot be: dCor = 0 iff the variables are INDEPENDENT
    * (Pearson 0 only rules out linearity), here between daily order
    * volume and daily revenue. The double-centered distance-matrix
    * moments reduce to the closed form dCov² = Σab/n² − 2Σ(a_j·b_j)/n³
    * + (Σa)(Σb)/n⁴ over EXACT integer distances (counts, cents), so
    * every sum is an order-independent DECIMAL fold and FP appears
    * once per closing moment. The pair table is calendar-bounded
    * (days², never corpus²) — the q250/q284 posture.
    */
  private def q322(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .select(to_date(col("o_orderdate")).as("dt"),
        round(col("o_totalprice") * 100, 0).cast("long").as("c"))
      .groupBy("dt")
      .agg(count(lit(1)).as("xn"), sum("c").as("yc"))
    val dec = "decimal(38,0)"
    val pairs = daily.select(col("dt").as("dt1"), col("xn").as("xa"),
        col("yc").as("ya"))
      .join(broadcast(daily.select(col("dt").as("dt2"),
        col("xn").as("xb"), col("yc").as("yb"))))
      .select(col("dt1"), abs(col("xa") - col("xb")).as("a"),
        abs(col("ya") - col("yb")).as("b"))
    val rows = pairs.groupBy("dt1")
      .agg(sum(col("a").cast(dec) * col("b").cast(dec)).as("sab"),
        sum(col("a").cast(dec) * col("a").cast(dec)).as("saa"),
        sum(col("b").cast(dec) * col("b").cast(dec)).as("sbb"),
        sum(col("a").cast(dec)).as("ar"),
        sum(col("b").cast(dec)).as("br"))
    val m = rows.agg(count(lit(1)).as("n"),
      sum("sab").as("sab"), sum("saa").as("saa"), sum("sbb").as("sbb"),
      sum(col("ar") * col("br")).as("sarbr"),
      sum(col("ar") * col("ar")).as("sar2"),
      sum(col("br") * col("br")).as("sbr2"),
      sum("ar").as("sa"), sum("br").as("sb"))
    val nD = col("n").cast("double")
    def mom(s2: Column, srow: Column, stot: Column): Column =
      s2.cast("double") / (nD * nD) -
        lit(2.0) * srow.cast("double") / (nD * nD * nD) +
        stot.cast("double") * stot.cast("double") / (nD * nD * nD * nD)
    val dcov2 = col("sab").cast("double") / (nD * nD) -
      lit(2.0) * col("sarbr").cast("double") / (nD * nD * nD) +
      col("sa").cast("double") * col("sb").cast("double") /
        (nD * nD * nD * nD)
    val dvx = mom(col("saa"), col("sar2"), col("sa"))
    val dvy = mom(col("sbb"), col("sbr2"), col("sb"))
    m.select(col("n").as("n_days"),
      round(sqrt(greatest(dcov2, lit(0.0))), 6).as("dcov"),
      round(sqrt(greatest(dvx, lit(0.0))), 6).as("dvar_x"),
      round(sqrt(greatest(dvy, lit(0.0))), 6).as("dvar_y"),
      round(sqrt(greatest(dcov2, lit(0.0)) / safe(sqrt(dvx * dvy))), 6)
        .as("dcor"))
  }

  private val q322Sql =
    """WITH daily AS (SELECT o_orderdate::DATE AS dt,
           CAST(count(*) AS BIGINT) AS xn,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS yc
         FROM orders GROUP BY 1),
       pairs AS (SELECT a.dt AS dt1, abs(a.xn - b.xn) AS da,
               abs(a.yc - b.yc) AS db
             FROM daily a CROSS JOIN daily b),
       rows_ AS (SELECT dt1,
               sum(da::HUGEINT * db::HUGEINT) AS sab,
               sum(da::HUGEINT * da::HUGEINT) AS saa,
               sum(db::HUGEINT * db::HUGEINT) AS sbb,
               sum(da::HUGEINT) AS ar, sum(db::HUGEINT) AS br
             FROM pairs GROUP BY dt1),
       m AS (SELECT CAST(count(*) AS BIGINT) AS n,
               sum(sab) AS sab, sum(saa) AS saa, sum(sbb) AS sbb,
               sum(ar * br) AS sarbr,
               sum(ar * ar) AS sar2, sum(br * br) AS sbr2,
               sum(ar) AS sa, sum(br) AS sb
             FROM rows_),
       f AS (SELECT n,
           sab::DOUBLE / (n::DOUBLE * n::DOUBLE)
             - 2.0 * sarbr::DOUBLE
               / (n::DOUBLE * n::DOUBLE * n::DOUBLE)
             + sa::DOUBLE * sb::DOUBLE
               / (n::DOUBLE * n::DOUBLE * n::DOUBLE * n::DOUBLE)
             AS dcov2,
           saa::DOUBLE / (n::DOUBLE * n::DOUBLE)
             - 2.0 * sar2::DOUBLE
               / (n::DOUBLE * n::DOUBLE * n::DOUBLE)
             + sa::DOUBLE * sa::DOUBLE
               / (n::DOUBLE * n::DOUBLE * n::DOUBLE * n::DOUBLE)
             AS dvx,
           sbb::DOUBLE / (n::DOUBLE * n::DOUBLE)
             - 2.0 * sbr2::DOUBLE
               / (n::DOUBLE * n::DOUBLE * n::DOUBLE)
             + sb::DOUBLE * sb::DOUBLE
               / (n::DOUBLE * n::DOUBLE * n::DOUBLE * n::DOUBLE)
             AS dvy
         FROM m)
       SELECT n AS n_days,
         round(sqrt(greatest(dcov2, 0.0)), 6) AS dcov,
         round(sqrt(greatest(dvx, 0.0)), 6) AS dvar_x,
         round(sqrt(greatest(dvy, 0.0)), 6) AS dvar_y,
         round(sqrt(greatest(dcov2, 0.0)
           / greatest(sqrt(dvx * dvy), 1e-12)), 6) AS dcor
       FROM f"""

  // --------------------------------------------------------------- q323
  /** Jackknife ratio-metric inference — the deterministic companion to
    * q251's bootstrap (which resamples) and q252's delta method (which
    * linearizes): leave-one-DAY-out pseudo-ratios of revenue per order
    * give an exact closed-form SE and a bias-corrected estimate with
    * NO resampling randomness. Totals-minus-day pseudo-values are
    * fixed-shape FP over exact cents/counts, quantized to 1e-6-unit
    * LONGs before both folds (Σp and Σ(p−p̄)² — the second pass reads
    * the broadcast mean); the corpus collapses to days once.
    */
  private def q323(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .select(to_date(col("o_orderdate")).as("dt"),
        round(col("o_totalprice") * 100, 0).cast("long").as("c"))
      .groupBy("dt")
      .agg(count(lit(1)).as("xn"), sum("c").as("yc"))
    val tot = daily.agg(count(lit(1)).as("n"), sum("xn").as("sx"),
      sum("yc").as("sy"))
    // pseudo-values in DOLLARS (cents would push the squared
    // deviations past the LONG grid): p ~ avg order value, dev² fits
    // the 1e-6 grid at any SF because it is an average, not a total
    val pseudo = daily.crossJoin(broadcast(tot))
      .select(col("n"), col("sx"), col("sy"),
        floor((col("sy") - col("yc")).cast("double") / lit(100.0) /
          greatest(col("sx") - col("xn"), lit(1L)).cast("double") *
          lit(1e6) + lit(0.5)).cast("long").as("pu"))
    val st1 = pseudo.groupBy("n", "sx", "sy").agg(sum("pu").as("spu"))
    val st2 = pseudo.crossJoin(broadcast(st1.select(
        col("n").as("n2"), col("spu"))))
      .select(col("n"), col("sx"), col("sy"), col("spu"),
        floor((col("pu").cast("double") / 1e6 -
          col("spu").cast("double") / 1e6 /
            safe(col("n2").cast("double"))) *
          (col("pu").cast("double") / 1e6 -
            col("spu").cast("double") / 1e6 /
              safe(col("n2").cast("double"))) * lit(1e6) + lit(0.5))
          .cast("long").as("du"))
      .groupBy("n", "sx", "sy", "spu").agg(sum("du").as("sdu"))
    val nD = col("n").cast("double")
    val r = col("sy").cast("double") / 100.0 /
      safe(col("sx").cast("double"))
    st2.select(col("n").as("n_days"),
      round(r, 6).as("ratio"),
      round(sqrt((nD - 1.0) / safe(nD) *
        (col("sdu").cast("double") / 1e6)), 6).as("jack_se"),
      round(nD * r - (nD - 1.0) *
        (col("spu").cast("double") / 1e6 / safe(nD)), 6)
        .as("bias_corrected"))
  }

  private val q323Sql =
    """WITH daily AS (SELECT o_orderdate::DATE AS dt,
           CAST(count(*) AS BIGINT) AS xn,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS yc
         FROM orders GROUP BY 1),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(xn) AS BIGINT) AS sx,
               CAST(sum(yc) AS BIGINT) AS sy FROM daily),
       ps AS (SELECT n, sx, sy,
           CAST(floor((sy - yc)::DOUBLE / 100.0
               / greatest(sx - xn, 1)::DOUBLE * 1e6 + 0.5) AS BIGINT)
             AS pu
         FROM daily, tot),
       s1 AS (SELECT n, sx, sy, CAST(sum(pu) AS BIGINT) AS spu
              FROM ps GROUP BY n, sx, sy),
       s2 AS (SELECT ps.n, ps.sx, ps.sy, s1.spu,
           CAST(sum(CAST(floor((pu::DOUBLE / 1e6 - s1.spu::DOUBLE / 1e6
                 / greatest(ps.n::DOUBLE, 1e-12))
               * (pu::DOUBLE / 1e6 - s1.spu::DOUBLE / 1e6
                 / greatest(ps.n::DOUBLE, 1e-12)) * 1e6 + 0.5)
             AS BIGINT)) AS BIGINT) AS sdu
         FROM ps, s1 GROUP BY ps.n, ps.sx, ps.sy, s1.spu)
       SELECT n AS n_days,
         round(sy::DOUBLE / 100.0 / greatest(sx::DOUBLE, 1e-12), 6)
           AS ratio,
         round(sqrt((n::DOUBLE - 1.0) / greatest(n::DOUBLE, 1e-12)
           * (sdu::DOUBLE / 1e6)), 6) AS jack_se,
         round(n::DOUBLE * (sy::DOUBLE / 100.0
             / greatest(sx::DOUBLE, 1e-12))
           - (n::DOUBLE - 1.0) * (spu::DOUBLE / 1e6
             / greatest(n::DOUBLE, 1e-12)), 6)
           AS bias_corrected
       FROM s2"""

  // --------------------------------------------------------------- q324
  /** UMass topic coherence — does a source's top vocabulary CO-OCCUR,
    * or is it a bag of unrelated frequent words? (The readout topic
    * models are graded by, here applied to each source's top-10
    * non-stopword document-frequency words.) C = Σ_{i>j}
    * ln((D(wi,wj)+1)/D(wj)) over CORPUS-wide document frequencies on
    * the rank order; terms quantize to 1e-9-unit LONGs so the ≤45-term
    * sums are integer folds. Candidate volume is bounded by the top
    * word set (≤10·|sources|): postings are semi-joined to it before
    * the per-document pair expansion — never a vocabulary self-join.
    */
  private def q324(s: SparkSession, d: String): DataFrame = {
    val stop = graft.functions.TextFunctions.stopwords
    val dw = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        explode(graft.functions.TextFunctions.words(col("text")))
          .as("w"))
      .filter(length(col("w")) > 0 && !col("w").isInCollection(stop))
      .select("doc_id", "source", "w").distinct()
    val wRank = Window.partitionBy("source")
      .orderBy(col("dfs").desc, col("w"))
    val top = dw.groupBy("source", "w")
      .agg(count(lit(1)).as("dfs"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= 10)
    val topset = top.select("w").distinct()
    val posts = dw.join(broadcast(topset), Seq("w"))
      .select("doc_id", "w").distinct()
    val dfc = posts.groupBy("w").agg(count(lit(1)).as("dfc"))
    val co = posts.as("p1")
      .join(posts.as("p2"), col("p1.doc_id") === col("p2.doc_id") &&
        col("p1.w") < col("p2.w"))
      .groupBy(col("p1.w").as("wa"), col("p2.w").as("wb"))
      .agg(count(lit(1)).as("co"))
    val sp = top.select(col("source"), col("w").as("wi"),
        col("rank").as("ri"))
      .join(top.select(col("source"), col("w").as("wj"),
        col("rank").as("rj")), Seq("source"))
      .filter(col("ri") > col("rj"))
    val terms = sp
      .join(broadcast(co),
        least(col("wi"), col("wj")) === col("wa") &&
          greatest(col("wi"), col("wj")) === col("wb"), "left")
      .join(broadcast(dfc.select(col("w").as("wj"), col("dfc"))),
        Seq("wj"))
      .select(col("source"),
        floor(log((coalesce(col("co"), lit(0L)) + lit(1L))
            .cast("double") / col("dfc").cast("double")) * lit(1e9) +
          lit(0.5)).cast("long").as("tu"))
    terms.groupBy("source")
      .agg(count(lit(1)).as("n_pairs"),
        round(sum("tu").cast("double") / 1e9, 6).as("coherence"))
      .orderBy("source")
  }

  private val q324Sql =
    """WITH dw AS (SELECT DISTINCT doc_id, source, w
         FROM (SELECT doc_id, source, unnest(
                 regexp_split_to_array(trim(text), '\s+')) AS w
               FROM documents)
         WHERE length(w) > 0
           AND w NOT IN ('the', 'a', 'of', 'and', 'to', 'in')),
       top AS (SELECT source, w, rank FROM (
           SELECT source, w, count(*) AS dfs,
             row_number() OVER (PARTITION BY source
               ORDER BY count(*) DESC, w) AS rank
           FROM dw GROUP BY source, w)
         WHERE rank <= 10),
       ts AS (SELECT DISTINCT w FROM top),
       posts AS (SELECT DISTINCT doc_id, dw.w
                 FROM dw JOIN ts ON ts.w = dw.w),
       dfc AS (SELECT w, CAST(count(*) AS BIGINT) AS dfc
               FROM posts GROUP BY w),
       co AS (SELECT p1.w AS wa, p2.w AS wb,
               CAST(count(*) AS BIGINT) AS co
             FROM posts p1 JOIN posts p2
               ON p1.doc_id = p2.doc_id AND p1.w < p2.w
             GROUP BY p1.w, p2.w),
       sp AS (SELECT a.source, a.w AS wi, b.w AS wj
              FROM top a JOIN top b ON a.source = b.source
                AND a.rank > b.rank),
       terms AS (SELECT sp.source,
           CAST(floor(ln((coalesce(co.co, 0) + 1)::DOUBLE
               / dfc.dfc::DOUBLE) * 1e9 + 0.5) AS BIGINT) AS tu
         FROM sp
         LEFT JOIN co ON co.wa = least(sp.wi, sp.wj)
           AND co.wb = greatest(sp.wi, sp.wj)
         JOIN dfc ON dfc.w = sp.wj)
       SELECT source, CAST(count(*) AS BIGINT) AS n_pairs,
         round(CAST(sum(tu) AS DOUBLE) / 1e9, 6) AS coherence
       FROM terms GROUP BY source ORDER BY source"""

  // --------------------------------------------------------------- q325
  /** Dirichlet-smoothed query-likelihood retrieval (μ = 2000) — the
    * probabilistic ranking family next to q97's BM25 (and the second
    * scorer q304's RBO can arbitrate): score(q,d) = Σ_t ln((tf_dt +
    * μ·cf_t/|C|)/(len_d + μ)) over the SAME five query terms, zero-tf
    * smoothing terms included for candidates. Per-(doc, term) log
    * terms quantize to 1e-9-unit LONGs so document scores are integer
    * sums and top-20 is a total order (score desc, doc_id) planning as
    * TakeOrdered. Candidates = docs matching ≥1 term; the 5-term grid
    * is candidates×5; corpus stats are one token aggregation.
    */
  private def q325(s: SparkSession, d: String): DataFrame = {
    val mu = 2000.0
    val termsSeq = Analytics.bmTerms
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.TextFunctions.words(col("text")).as("ws"))
    val dl = toks.select(col("doc_id"), size(col("ws")).as("dl"))
    val ctot = dl.agg(sum(col("dl").cast("long")).as("ctot"))
    val tok = toks.select(col("doc_id"), explode(col("ws")).as("t"))
      .filter(col("t").isInCollection(termsSeq))
    val cf = tok.groupBy("t").agg(count(lit(1)).as("cf"))
    val tf = tok.groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    val cands = tf.select("doc_id").distinct()
    val nMatched = tf.groupBy("doc_id")
      .agg(count(lit(1)).as("n_matched"))
    val grid = cands
      .crossJoin(broadcast(cf.crossJoin(broadcast(ctot))))
      .join(tf, Seq("doc_id", "t"), "left")
      .join(dl, Seq("doc_id"))
    val termU = floor(log(
        (coalesce(col("tf"), lit(0L)).cast("double") +
          lit(mu) * col("cf").cast("double") /
            col("ctot").cast("double")) /
          (col("dl").cast("double") + lit(mu))) * lit(1e9) + lit(0.5))
      .cast("long")
    grid.select(col("doc_id"), termU.as("tu"))
      .groupBy("doc_id").agg(sum("tu").as("su"))
      .join(nMatched, Seq("doc_id"))
      .select(col("doc_id"), col("n_matched"),
        round(col("su").cast("double") / 1e9, 6).as("score"))
      .orderBy(col("su").desc, col("doc_id"))
      .limit(20)
  }

  private val q325Sql = {
    val terms = Analytics.bmTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH toks AS (SELECT doc_id,
           regexp_split_to_array(trim(text), '\\s+') AS ws
         FROM documents),
       dl AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl FROM toks),
       ct AS (SELECT CAST(sum(dl) AS BIGINT) AS ctot FROM dl),
       tok AS (SELECT doc_id, t
               FROM (SELECT doc_id, unnest(ws) AS t FROM toks)
               WHERE t IN ($terms)),
       cf AS (SELECT t, CAST(count(*) AS BIGINT) AS cf
              FROM tok GROUP BY t),
       tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
              FROM tok GROUP BY doc_id, t),
       cands AS (SELECT DISTINCT doc_id FROM tf),
       nm AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matched
              FROM tf GROUP BY doc_id),
       grid AS (SELECT c.doc_id, cf.t, cf.cf, ct.ctot, dl.dl,
               coalesce(tf.tf, 0) AS tf
             FROM cands c CROSS JOIN cf CROSS JOIN ct
             LEFT JOIN tf ON tf.doc_id = c.doc_id AND tf.t = cf.t
             JOIN dl ON dl.doc_id = c.doc_id),
       sc AS (SELECT doc_id,
               CAST(sum(CAST(floor(ln((tf::DOUBLE
                   + 2000.0 * cf::DOUBLE / ctot::DOUBLE)
                   / (dl::DOUBLE + 2000.0)) * 1e9 + 0.5) AS BIGINT))
                 AS BIGINT) AS su
             FROM grid GROUP BY doc_id)
       SELECT sc.doc_id, nm.n_matched,
         round(su::DOUBLE / 1e9, 6) AS score
       FROM sc JOIN nm ON nm.doc_id = sc.doc_id
       ORDER BY su DESC, sc.doc_id LIMIT 20"""
  }

  // --------------------------------------------------------------- q326
  /** Platt-style logistic calibration — the PARAMETRIC companion to
    * q300's isotonic fit (which is free-form monotone; this one is the
    * two-parameter sigmoid a production scorer actually ships):
    * P(return | discount) = σ(a·x + b) by three Newton steps on the
    * bounded (discount-class, n, positives) grid. The corpus collapses
    * to ≤101 rows in ONE aggregation; the Newton loop runs on that
    * collected grid driver-side (bounded state — the reference's own
    * loop shape, the q302 precedent) with every per-class
    * gradient/Hessian term quantized to 1e-9-unit LONGs and parameters
    * carried on the 1e-9 grid, so the unrolled oracle CTE chain replays
    * the identical arithmetic.
    */
  private def q326(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val grid = sc.checkpoint(Tables.lineitem(s, d)
      .select(round(col("l_discount") * 100, 0).cast("long").as("x"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
      .groupBy("x").agg(count(lit(1)).as("m"), sum("y").as("sy")))
    val rows = grid.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2)))
    def fl(v: Double, p: Double): Double =
      math.floor(v * p + 0.5) / p
    def g(x: Double): Double = math.max(x, 1e-12)
    def newton(a0: Double, b0: Double): (Double, Double) = {
      var ga, gb, haa, hab, hbb = 0L
      // every term spells the ORACLE's left-associative product order
      // (FP multiplication is not associative; a regrouping can flip
      // a floor at the 1e-9 boundary)
      rows.foreach { case (x, m, sy) =>
        val xd = x.toDouble / 10.0
        val p = 1.0 / (1.0 + math.exp(-(a0 * xd + b0)))
        val md = m.toDouble
        ga += math.floor(xd * (sy.toDouble - md * p) * 1e9 + 0.5).toLong
        gb += math.floor((sy.toDouble - md * p) * 1e9 + 0.5).toLong
        haa += math.floor(
          xd * xd * md * p * (1.0 - p) * 1e9 + 0.5).toLong
        hab += math.floor(xd * md * p * (1.0 - p) * 1e9 + 0.5).toLong
        hbb += math.floor(md * p * (1.0 - p) * 1e9 + 0.5).toLong
      }
      val (gaD, gbD) = (ga / 1e9, gb / 1e9)
      val (haaD, habD, hbbD) = (haa / 1e9, hab / 1e9, hbb / 1e9)
      val det = haaD * hbbD - habD * habD
      val da = (gaD * hbbD - gbD * habD) / g(det)
      val db = (gbD * haaD - gaD * habD) / g(det)
      (fl(a0 + da, 1e9), fl(b0 + db, 1e9))
    }
    val (a1, b1) = newton(0.0, 0.0)
    val (a2, b2) = newton(a1, b1)
    val (a3, b3) = newton(a2, b2)
    def sig(z: Double): Double = 1.0 / (1.0 + math.exp(-z))
    sc.keep(grid.agg(sum("m").as("n"), sum("sy").as("positives"),
        sum(when(col("x") === 0L, col("sy")).otherwise(0L)).as("s0"),
        sum(when(col("x") === 0L, col("m")).otherwise(0L)).as("m0"),
        sum(when(col("x") === 10L, col("sy")).otherwise(0L)).as("s10"),
        sum(when(col("x") === 10L, col("m")).otherwise(0L)).as("m10"))
      .select(col("n"), col("positives"),
        lit(fl(a3, 1e6)).as("a"), lit(fl(b3, 1e6)).as("b"),
        lit(fl(sig(b3), 1e6)).as("pred_rate_low"),
        lit(fl(sig(a3 + b3), 1e6)).as("pred_rate_high"),
        round(col("s0").cast("double") /
          safe(col("m0").cast("double")), 6).as("emp_rate_low"),
        round(col("s10").cast("double") /
          safe(col("m10").cast("double")), 6).as("emp_rate_high")))
  }

  private val q326Sql = {
    // one Newton evaluation from stage CTE `$st(a, b)` over the grid
    def it(st: String) =
      s"""(SELECT
           CAST(sum(CAST(floor((x::DOUBLE / 10.0) * (sy::DOUBLE
               - m::DOUBLE * (1.0 / (1.0 + exp(-($st.a * (x::DOUBLE
                 / 10.0) + $st.b))))) * 1e9 + 0.5) AS BIGINT))
             AS BIGINT) AS ga,
           CAST(sum(CAST(floor((sy::DOUBLE
               - m::DOUBLE * (1.0 / (1.0 + exp(-($st.a * (x::DOUBLE
                 / 10.0) + $st.b))))) * 1e9 + 0.5) AS BIGINT))
             AS BIGINT) AS gb,
           CAST(sum(CAST(floor((x::DOUBLE / 10.0) * (x::DOUBLE / 10.0)
               * m::DOUBLE * (1.0 / (1.0 + exp(-($st.a * (x::DOUBLE
                 / 10.0) + $st.b))))
               * (1.0 - (1.0 / (1.0 + exp(-($st.a * (x::DOUBLE / 10.0)
                 + $st.b))))) * 1e9 + 0.5) AS BIGINT)) AS BIGINT)
             AS haa,
           CAST(sum(CAST(floor((x::DOUBLE / 10.0)
               * m::DOUBLE * (1.0 / (1.0 + exp(-($st.a * (x::DOUBLE
                 / 10.0) + $st.b))))
               * (1.0 - (1.0 / (1.0 + exp(-($st.a * (x::DOUBLE / 10.0)
                 + $st.b))))) * 1e9 + 0.5) AS BIGINT)) AS BIGINT)
             AS hab,
           CAST(sum(CAST(floor(
               m::DOUBLE * (1.0 / (1.0 + exp(-($st.a * (x::DOUBLE
                 / 10.0) + $st.b))))
               * (1.0 - (1.0 / (1.0 + exp(-($st.a * (x::DOUBLE / 10.0)
                 + $st.b))))) * 1e9 + 0.5) AS BIGINT)) AS BIGINT)
             AS hbb
         FROM grid, $st)"""
    def upd(st: String, itn: String) =
      s"""(SELECT
           floor(($st.a + ((ga::DOUBLE / 1e9) * (hbb::DOUBLE / 1e9)
               - (gb::DOUBLE / 1e9) * (hab::DOUBLE / 1e9))
             / greatest((haa::DOUBLE / 1e9) * (hbb::DOUBLE / 1e9)
               - (hab::DOUBLE / 1e9) * (hab::DOUBLE / 1e9), 1e-12))
             * 1e9 + 0.5) / 1e9 AS a,
           floor(($st.b + ((gb::DOUBLE / 1e9) * (haa::DOUBLE / 1e9)
               - (ga::DOUBLE / 1e9) * (hab::DOUBLE / 1e9))
             / greatest((haa::DOUBLE / 1e9) * (hbb::DOUBLE / 1e9)
               - (hab::DOUBLE / 1e9) * (hab::DOUBLE / 1e9), 1e-12))
             * 1e9 + 0.5) / 1e9 AS b
         FROM $itn, $st)"""
    s"""WITH grid AS MATERIALIZED (SELECT
           CAST(round(l_discount * 100) AS BIGINT) AS x,
           CAST(count(*) AS BIGINT) AS m,
           CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
             AS BIGINT) AS sy
         FROM lineitem GROUP BY 1),
       s0 AS (SELECT 0.0 AS a, 0.0 AS b),
       it1 AS MATERIALIZED ${it("s0")},
       s1 AS MATERIALIZED ${upd("s0", "it1")},
       it2 AS MATERIALIZED ${it("s1")},
       s2 AS MATERIALIZED ${upd("s1", "it2")},
       it3 AS MATERIALIZED ${it("s2")},
       s3 AS MATERIALIZED ${upd("s2", "it3")},
       tot AS (SELECT CAST(sum(m) AS BIGINT) AS n,
               CAST(sum(sy) AS BIGINT) AS positives,
               CAST(sum(CASE WHEN x = 0 THEN sy ELSE 0 END) AS BIGINT)
                 AS sl,
               CAST(sum(CASE WHEN x = 0 THEN m ELSE 0 END) AS BIGINT)
                 AS ml,
               CAST(sum(CASE WHEN x = 10 THEN sy ELSE 0 END) AS BIGINT)
                 AS sh,
               CAST(sum(CASE WHEN x = 10 THEN m ELSE 0 END) AS BIGINT)
                 AS mh
             FROM grid)
       SELECT n, positives,
         floor(s3.a * 1e6 + 0.5) / 1e6 AS a,
         floor(s3.b * 1e6 + 0.5) / 1e6 AS b,
         floor((1.0 / (1.0 + exp(-s3.b))) * 1e6 + 0.5) / 1e6
           AS pred_rate_low,
         floor((1.0 / (1.0 + exp(-(s3.a + s3.b)))) * 1e6 + 0.5) / 1e6
           AS pred_rate_high,
         round(sl::DOUBLE / greatest(ml::DOUBLE, 1e-12), 6)
           AS emp_rate_low,
         round(sh::DOUBLE / greatest(mh::DOUBLE, 1e-12), 6)
           AS emp_rate_high
       FROM tot, s3"""
  }

  // --------------------------------------------------------------- q327
  /** Markov entropy rate — how PREDICTABLE is the event stream?
    * (q107 gives the transition matrix, q280 its accuracy as a
    * predictor; this is the information-theoretic ceiling for ANY
    * predictor.) H_rate = −Σ_ab (n_ab/N)·ln(n_ab/n_a) from exact
    * transition counts, next to the marginal entropy H1 = −Σ π ln π,
    * the ln(k) ceiling, and predictability 1 − H_rate/H1. Per-cell log
    * terms quantize to 1e-9-unit LONGs (the ≤k² cell table is the only
    * post-collapse state); one sessionized lead pass over the corpus.
    */
  private def q327(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val pairs = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("a"))
      .withColumn("b", lead(col("a"), 1).over(w))
      .filter(col("b").isNotNull)
      .groupBy("a", "b").agg(count(lit(1)).as("nab"))
    val rowS = pairs.groupBy("a").agg(sum("nab").as("na"))
    val tot = rowS.agg(sum("na").as("nn"), count(lit(1)).as("k"))
    val cells = pairs.join(rowS, Seq("a")).crossJoin(broadcast(tot))
      .select(floor(col("nab").cast("double") /
          col("nn").cast("double") *
          log(col("nab").cast("double") / col("na").cast("double")) *
          lit(1e9) + lit(0.5)).cast("long").as("tu"))
      .agg(sum("tu").as("su"))
    val marg = rowS.crossJoin(broadcast(tot))
      .select(floor(col("na").cast("double") / col("nn").cast("double") *
          log(col("na").cast("double") / col("nn").cast("double")) *
          lit(1e9) + lit(0.5)).cast("long").as("mu"))
      .agg(sum("mu").as("smu"))
    val hRate = -col("su").cast("double") / 1e9
    val h1 = -col("smu").cast("double") / 1e9
    tot.crossJoin(broadcast(cells)).crossJoin(broadcast(marg))
      .select(col("nn").as("n_transitions"), col("k"),
        round(hRate, 6).as("entropy_rate"),
        round(h1, 6).as("marginal_entropy"),
        round(log(col("k").cast("double")), 6).as("max_entropy"),
        round(lit(1.0) - hRate / safe(h1), 6).as("predictability"))
  }

  private val q327Sql =
    """WITH seq AS (SELECT event_type AS a,
           lead(event_type, 1) OVER (PARTITION BY user_id
             ORDER BY ts, event_id) AS b
         FROM events),
       pairs AS (SELECT a, b, CAST(count(*) AS BIGINT) AS nab
                 FROM seq WHERE b IS NOT NULL GROUP BY a, b),
       rs AS (SELECT a, CAST(sum(nab) AS BIGINT) AS na
              FROM pairs GROUP BY a),
       tot AS (SELECT CAST(sum(na) AS BIGINT) AS nn,
               CAST(count(*) AS BIGINT) AS k FROM rs),
       cells AS (SELECT CAST(sum(CAST(floor(nab::DOUBLE / nn::DOUBLE
               * ln(nab::DOUBLE / na::DOUBLE) * 1e9 + 0.5) AS BIGINT))
             AS BIGINT) AS su
         FROM pairs JOIN rs USING (a), tot),
       marg AS (SELECT CAST(sum(CAST(floor(na::DOUBLE / nn::DOUBLE
               * ln(na::DOUBLE / nn::DOUBLE) * 1e9 + 0.5) AS BIGINT))
             AS BIGINT) AS smu
         FROM rs, tot)
       SELECT nn AS n_transitions, k,
         round(-su::DOUBLE / 1e9, 6) AS entropy_rate,
         round(-smu::DOUBLE / 1e9, 6) AS marginal_entropy,
         round(ln(k::DOUBLE), 6) AS max_entropy,
         round(1.0 - (-su::DOUBLE / 1e9)
           / greatest(-smu::DOUBLE / 1e9, 1e-12), 6) AS predictability
       FROM tot, cells, marg"""

  // --------------------------------------------------------------- q328
  /** Dunn post-hoc pairwise tests — WHICH event types differ, the
    * follow-up q316's omnibus H cannot answer: z_ij = (R̄_i − R̄_j) /
    * √(σ²(1/n_i + 1/n_j)) with σ² = [N(N+1) − Σ(t³−t)/(N−1)]/12 on
    * the SAME 2×-grid global ranks (shared construction, so the two
    * queries cannot drift). Rank sums and tie terms are exact
    * integers; each pairwise z closes in fixed-shape FP on the k²
    * pair table. Readout ordered (type_a, type_b).
    */
  private def q328(s: SparkSession, d: String): DataFrame = {
    val x = col("value").cast("double")
    val units = (floor(abs(x) * lit(1e6) + lit(0.5))).cast("long") *
      when(x < 0, -1L).otherwise(1L)
    val b = Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(col("event_type").as("g"), units.as("u"))
    val cg = b.groupBy("u", "g").agg(count(lit(1)).as("nv"))
    val cu = cg.groupBy("u").agg(sum("nv").as("t"))
    val below = bucketedBelow(cu, "u", Seq("t"))
      .select(col("u"), col("t"), col("below_t").as("below"))
    val dec = "decimal(38,0)"
    val grp = cg.join(below, Seq("u"))
      .groupBy("g")
      .agg(sum("nv").as("n_g"),
        sum(col("nv").cast(dec) *
          (lit(2L) * col("below") + col("t") + lit(1L)).cast(dec))
          .as("r2"))
    val ties = below.agg(
      sum(col("t").cast(dec) * col("t").cast(dec) * col("t").cast(dec) -
        col("t").cast(dec)).as("tie3"),
      sum("t").as("n"))
    val withTies = grp.crossJoin(broadcast(ties))
    val a2 = withTies.select(col("g").as("ga"), col("n_g").as("na"),
      col("r2").as("r2a"), col("tie3"), col("n"))
    val b2 = withTies.select(col("g").as("gb"), col("n_g").as("nb"),
      col("r2").as("r2b"))
    val nD = col("n").cast("double")
    val sig2 = (nD * (nD + 1.0) -
      col("tie3").cast("double") / safe(nD - 1.0)) / 12.0
    val ra = col("r2a").cast("double") / 2.0 /
      safe(col("na").cast("double"))
    val rb = col("r2b").cast("double") / 2.0 /
      safe(col("nb").cast("double"))
    import graft.functions.Rounding.floorRound
    a2.join(b2, col("ga") < col("gb"))
      .select(col("ga").as("type_a"), col("gb").as("type_b"),
        col("na").as("n_a"), col("nb").as("n_b"),
        round(ra, 6).as("mean_rank_a"),
        round(rb, 6).as("mean_rank_b"),
        floorRound((ra - rb) / safe(sqrt(sig2 *
          (lit(1.0) / col("na").cast("double") +
            lit(1.0) / col("nb").cast("double")))), 6).as("z"))
      .orderBy("type_a", "type_b")
  }

  private val q328Sql =
    """WITH b AS (SELECT event_type AS g,
           CAST(floor(abs(value::DOUBLE) * 1e6 + 0.5) AS BIGINT)
             * (CASE WHEN value::DOUBLE < 0 THEN -1 ELSE 1 END) AS u
         FROM events WHERE value IS NOT NULL),
       cg AS (SELECT u, g, CAST(count(*) AS BIGINT) AS nv
              FROM b GROUP BY u, g),
       cu AS (SELECT u, CAST(sum(nv) AS BIGINT) AS t
              FROM cg GROUP BY u),
       bel AS (SELECT u, t,
               coalesce(sum(t) OVER (ORDER BY u
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS below
             FROM cu),
       grp AS (SELECT g, CAST(sum(nv) AS BIGINT) AS n_g,
               sum(nv::HUGEINT * (2 * below + t + 1)::HUGEINT) AS r2
             FROM cg JOIN bel USING (u) GROUP BY g),
       ties AS (SELECT sum(t::HUGEINT * t * t - t) AS tie3,
                CAST(sum(t) AS BIGINT) AS n FROM bel),
       f AS (SELECT a.g AS type_a, bb.g AS type_b,
           a.n_g AS n_a, bb.n_g AS n_b,
           a.r2::DOUBLE / 2.0 / greatest(a.n_g::DOUBLE, 1e-12) AS ra,
           bb.r2::DOUBLE / 2.0 / greatest(bb.n_g::DOUBLE, 1e-12) AS rb,
           (n::DOUBLE * (n::DOUBLE + 1.0) - tie3::DOUBLE
             / greatest(n::DOUBLE - 1.0, 1e-12)) / 12.0 AS sig2
         FROM grp a JOIN grp bb ON a.g < bb.g, ties)
       SELECT type_a, type_b, n_a, n_b,
         round(ra, 6) AS mean_rank_a,
         round(rb, 6) AS mean_rank_b,
         floor((ra - rb) / greatest(sqrt(sig2
           * (1.0 / n_a::DOUBLE + 1.0 / n_b::DOUBLE)), 1e-12)
           * 1e6 + 0.5) / 1e6 AS z
       FROM f ORDER BY type_a, type_b"""

  // --------------------------------------------------------------- q329
  /** Capture–recapture corpus-size estimate (Chapman) — "how many
    * distinct documents exist in the wild, given what two sources
    * independently captured?": the two largest sources are the two
    * "capture occasions" over normalized content hashes (the q35
    * kernel), N̂ = (n1+1)(n2+1)/(m+1) − 1 with its closed-form SE.
    * The acquisition-planning readout dedup counts alone can't give —
    * it extrapolates to documents NEITHER source has. Distinct-hash
    * sets are per-source aggregations; the overlap is one equi-join
    * on hash; everything closes from four exact LONGs.
    */
  private def q329(s: SparkSession, d: String): DataFrame = {
    val hashed = Tables.documents(s, d)
      .select(col("source"),
        graft.operators.Dedup.contentHash(col("text")).as("h"))
      .distinct()
    val wTop = Window.orderBy(col("n_docs").desc, col("source"))
    val top2 = Tables.documents(s, d)
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= 2)
    val sa = hashed.join(broadcast(top2.filter(col("rk") === 1)
      .select("source")), Seq("source")).select(col("h"))
    val sb = hashed.join(broadcast(top2.filter(col("rk") === 2)
      .select("source")), Seq("source")).select(col("h").as("h2"))
    val n1 = sa.agg(count(lit(1)).as("n1"))
    val n2 = sb.agg(count(lit(1)).as("n2"))
    val m = sa.join(sb, col("h") === col("h2"))
      .agg(count(lit(1)).as("m"))
    val names = top2.groupBy()
      .agg(min(when(col("rk") === 1, col("source"))).as("source_a"),
        min(when(col("rk") === 2, col("source"))).as("source_b"))
    val n1d = (col("n1") + 1L).cast("double")
    val n2d = (col("n2") + 1L).cast("double")
    val md = (col("m") + 1L).cast("double")
    names.crossJoin(broadcast(n1))
      .crossJoin(broadcast(n2)).crossJoin(broadcast(m))
      .select(col("source_a"), col("source_b"),
        col("n1").as("n1_distinct"), col("n2").as("n2_distinct"),
        col("m").as("overlap"),
        round(n1d * n2d / md - 1.0, 4).as("chapman_total"),
        round(sqrt(n1d * n2d *
          (col("n1") - col("m")).cast("double") *
          (col("n2") - col("m")).cast("double") /
          (md * md * (md + 1.0))), 4).as("se"))
  }

  private val q329Sql =
    """WITH hashed AS (SELECT DISTINCT source,
           md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS h
         FROM documents),
       top2 AS (SELECT source, rk FROM (
           SELECT source, count(*) AS n_docs,
             row_number() OVER (ORDER BY count(*) DESC, source) AS rk
           FROM documents GROUP BY source)
         WHERE rk <= 2),
       sa AS (SELECT h FROM hashed
              JOIN top2 ON top2.source = hashed.source AND rk = 1),
       sb AS (SELECT h FROM hashed
              JOIN top2 ON top2.source = hashed.source AND rk = 2),
       c1 AS (SELECT CAST(count(*) AS BIGINT) AS n1 FROM sa),
       c2 AS (SELECT CAST(count(*) AS BIGINT) AS n2 FROM sb),
       cm AS (SELECT CAST(count(*) AS BIGINT) AS m
              FROM sa JOIN sb ON sa.h = sb.h),
       nm AS (SELECT min(CASE WHEN rk = 1 THEN source END) AS source_a,
               min(CASE WHEN rk = 2 THEN source END) AS source_b
             FROM top2)
       SELECT source_a, source_b, n1 AS n1_distinct, n2 AS n2_distinct,
         m AS overlap,
         round((n1 + 1)::DOUBLE * (n2 + 1)::DOUBLE / (m + 1)::DOUBLE
           - 1.0, 4) AS chapman_total,
         round(sqrt((n1 + 1)::DOUBLE * (n2 + 1)::DOUBLE
           * (n1 - m)::DOUBLE * (n2 - m)::DOUBLE
           / ((m + 1)::DOUBLE * (m + 1)::DOUBLE * (m + 2)::DOUBLE)), 4)
           AS se
       FROM nm, c1, c2, cm"""

  // --------------------------------------------------------------- q330
  /** Confusion-matrix effect sizes (precision/recall/F1/MCC) for the
    * q281 embedding-sign classifier — the THRESHOLDED readout next to
    * q214's threshold-free AUC: Matthews correlation
    * (tp·tn − fp·fn)/√((tp+fp)(tp+fn)(tn+fp)(tn+fn)) is the one
    * single-number summary that survives class imbalance. Four exact
    * LONG cells from ONE map-side-combinable aggregation; every
    * readout is fixed-shape FP of those integers.
    */
  private def q330(s: SparkSession, d: String): DataFrame = {
    val b = Tables.embeddings(s, d).select(
      (pmod(col("label"), lit(2)) === 0).as("y"),
      (col("embedding").getItem(0).cast("double") > 0.0).as("p"))
    val cells = b.agg(
      sum(when(col("p") && col("y"), 1L).otherwise(0L)).as("tp"),
      sum(when(col("p") && !col("y"), 1L).otherwise(0L)).as("fp"),
      sum(when(!col("p") && col("y"), 1L).otherwise(0L)).as("fn"),
      sum(when(!col("p") && !col("y"), 1L).otherwise(0L)).as("tn"))
    val (tp, fp, fn, tn) = (col("tp").cast("double"),
      col("fp").cast("double"), col("fn").cast("double"),
      col("tn").cast("double"))
    val prec = tp / safe(tp + fp)
    val rec = tp / safe(tp + fn)
    cells.select(
      (col("tp") + col("fp") + col("fn") + col("tn")).as("n"),
      col("tp"), col("fp"), col("fn"), col("tn"),
      round(prec, 6).as("precision"),
      round(rec, 6).as("recall"),
      round(lit(2.0) * prec * rec / safe(prec + rec), 6).as("f1"),
      round((tp * tn - fp * fn) /
        safe(sqrt((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn))), 6)
        .as("mcc"))
  }

  private val q330Sql =
    """WITH b AS (SELECT (label % 2 = 0) AS y,
           (embedding[1]::DOUBLE > 0.0) AS p
         FROM embeddings),
       c AS (SELECT
           CAST(sum(CASE WHEN p AND y THEN 1 ELSE 0 END) AS BIGINT)
             AS tp,
           CAST(sum(CASE WHEN p AND NOT y THEN 1 ELSE 0 END) AS BIGINT)
             AS fp,
           CAST(sum(CASE WHEN NOT p AND y THEN 1 ELSE 0 END) AS BIGINT)
             AS fn,
           CAST(sum(CASE WHEN NOT p AND NOT y THEN 1 ELSE 0 END)
             AS BIGINT) AS tn
         FROM b),
       f AS (SELECT *,
           tp::DOUBLE / greatest(tp::DOUBLE + fp::DOUBLE, 1e-12)
             AS prec,
           tp::DOUBLE / greatest(tp::DOUBLE + fn::DOUBLE, 1e-12)
             AS rec
         FROM c)
       SELECT tp + fp + fn + tn AS n, tp, fp, fn, tn,
         round(prec, 6) AS precision,
         round(rec, 6) AS recall,
         round(2.0 * prec * rec / greatest(prec + rec, 1e-12), 6) AS f1,
         round((tp::DOUBLE * tn::DOUBLE - fp::DOUBLE * fn::DOUBLE)
           / greatest(sqrt((tp::DOUBLE + fp::DOUBLE)
             * (tp::DOUBLE + fn::DOUBLE) * (tn::DOUBLE + fp::DOUBLE)
             * (tn::DOUBLE + fn::DOUBLE)), 1e-12), 6) AS mcc
       FROM f"""

  // --------------------------------------------------------------- q331
  /** Hill tail-index estimator — HOW heavy is the document-length
    * tail? (q78's Zipf fit grades the vocabulary; this grades the
    * documents themselves — α < 2 means infinite variance, and every
    * packing/budget heuristic that assumes a mean + a few σ breaks.)
    * α̂ = k / Σ_{i≤k} ln(x_(i)/x_(k+1)) over the k = 100 largest token
    * counts: a TakeOrdered top-101 (total order: length desc, doc_id
    * asc), per-term logs on the 1e-9 grid, one 101-row window. The
    * corpus contributes one projection-only scan.
    */
  private def q331(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val k = 100
    val top = Tables.documents(s, d)
      .select(col("doc_id"),
        size(graft.functions.TextFunctions.words(col("text")))
          .cast("long").as("x"))
      .orderBy(col("x").desc, col("doc_id"))
      .limit(k + 1)
    val w = Window.orderBy(col("x").desc, col("doc_id"))
    // 101 rows, read by km/xk/terms
    val rn = sc.checkpoint(top.withColumn("rn", row_number().over(w)))
    val km = rn.agg(max("rn").as("kmax"))
    val kmax = rn.crossJoin(broadcast(km))
      .filter(col("rn") === col("kmax"))
      .select(col("kmax"), col("x").as("xk"))
    val terms = rn.crossJoin(broadcast(kmax))
      .filter(col("rn") < col("kmax"))
      .select(col("kmax"), col("xk"),
        floor(log(col("x").cast("double") / col("xk").cast("double")) *
          lit(1e9) + lit(0.5)).cast("long").as("tu"))
    sc.keep(terms.groupBy("kmax", "xk")
      .agg(count(lit(1)).as("k_used"), sum("tu").as("su"))
      .select(col("k_used"), col("xk").as("x_kplus1"),
        round(col("k_used").cast("double") /
          safe(col("su").cast("double") / 1e9), 6).as("alpha"),
        (round(col("k_used").cast("double") /
          safe(col("su").cast("double") / 1e9), 6) < 2.0)
          .as("infinite_variance")))
  }

  private val q331Sql =
    """WITH lens AS (SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
             AS x
         FROM documents),
       top AS (SELECT doc_id, x,
               row_number() OVER (ORDER BY x DESC, doc_id) AS rn
             FROM lens ORDER BY x DESC, doc_id LIMIT 101),
       km AS (SELECT max(rn) AS kmax FROM top),
       xk AS (SELECT x AS xk FROM top, km WHERE rn = kmax),
       terms AS (SELECT CAST(floor(ln(top.x::DOUBLE / xk::DOUBLE) * 1e9
                 + 0.5) AS BIGINT) AS tu
             FROM top, km, xk WHERE rn < kmax),
       agg AS (SELECT CAST(count(*) AS BIGINT) AS k_used,
               CAST(sum(tu) AS BIGINT) AS su FROM terms)
       SELECT k_used, xk AS x_kplus1,
         round(k_used::DOUBLE / greatest(su::DOUBLE / 1e9, 1e-12), 6)
           AS alpha,
         (round(k_used::DOUBLE / greatest(su::DOUBLE / 1e9, 1e-12), 6)
           < 2.0) AS infinite_variance
       FROM agg, xk"""

  // --------------------------------------------------------------- q332
  /** Propensity common-support audit — the POSITIVITY check every
    * causal readout in the family (q311 matching, q312 DR, q209 DiD)
    * silently assumes: across $300-wide order-value strata, do both
    * hash arms actually appear? Reports per-stratum arm counts, the
    * treated share, and the support flag; plus the off-support row
    * count a matching estimator would drop. One corpus aggregation to
    * ≤20 strata.
    */
  private def q332(s: SparkSession, d: String): DataFrame = {
    val arm = graft.operators.Sampling
      .hashBucket(col("o_custkey"), "att", 2)
    val b = Tables.orders(s, d)
      .select(least(lit(19L), floor(col("o_totalprice") / 30000.0)
        .cast("long")).as("stratum"), (arm === 0).as("t"))
    val cells = b.groupBy("stratum")
      .agg(sum(when(col("t"), 1L).otherwise(0L)).as("n_treated"),
        sum(when(!col("t"), 1L).otherwise(0L)).as("n_control"))
    cells.select(col("stratum"), col("n_treated"), col("n_control"),
        round(col("n_treated").cast("double") /
          safe((col("n_treated") + col("n_control")).cast("double")), 6)
          .as("treated_share"),
        (col("n_treated") > 0L && col("n_control") > 0L)
          .as("in_support"))
      .orderBy("stratum")
  }

  private val q332Sql =
    """WITH b AS (SELECT least(19, CAST(floor(o_totalprice / 30000.0)
             AS BIGINT)) AS stratum,
           (('0x' || substr(md5('att' || o_custkey::VARCHAR), 1, 15))
             ::BIGINT % 2 = 0) AS t
         FROM orders),
       cells AS (SELECT stratum,
           CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT)
             AS n_treated,
           CAST(sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT)
             AS n_control
         FROM b GROUP BY stratum)
       SELECT stratum, n_treated, n_control,
         round(n_treated::DOUBLE
           / greatest((n_treated + n_control)::DOUBLE, 1e-12), 6)
           AS treated_share,
         (n_treated > 0 AND n_control > 0) AS in_support
       FROM cells ORDER BY stratum"""

  // --------------------------------------------------------------- q333
  /** N-gram novelty (memorization audit) — how much of a held-out
    * document is VERBATIM in the training split? The readout behind
    * every "did the model memorize its eval set" question (q73/q91
    * decontaminate against an EXTERNAL benchmark; this measures
    * internal train→test leakage). 80/20 doc-id hash split; per
    * language: distinct test trigrams, the share NOT present in the
    * train trigram set (one semi-join against the train side — never
    * a trigram self-join), and the doc-weighted mean novelty. Trigram
    * tables come from the native shingle expression.
    */
  private def q333(s: SparkSession, d: String): DataFrame = {
    val words = graft.functions.TextFunctions.words(col("text"))
    val tri = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        explode(graft.functions.TextFunctions.wordShingles(words, 3))
          .as("g"),
        (graft.operators.Sampling.hashBucket(col("doc_id"), "nv", 5)
          === 0).as("is_test"))
    val train = tri.filter(!col("is_test")).select("g").distinct()
    val test = tri.filter(col("is_test"))
      .select("doc_id", "lang", "g").distinct()
    val marked = test.join(train.withColumn("seen", lit(1L)),
        Seq("g"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("seen"), lit(0L)).as("seen"))
    val perDoc = marked.groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_tri"),
        sum(lit(1L) - col("seen")).as("n_novel"))
    perDoc.groupBy("lang")
      .agg(count(lit(1)).as("n_test_docs"),
        sum("n_tri").as("test_trigrams"),
        sum("n_novel").as("novel_trigrams"),
        round(avg(col("n_novel").cast("double") /
          greatest(col("n_tri"), lit(1L)).cast("double")), 6)
          .as("mean_doc_novelty"))
      .select(col("lang"), col("n_test_docs"), col("test_trigrams"),
        col("novel_trigrams"),
        round(col("novel_trigrams").cast("double") /
          safe(col("test_trigrams").cast("double")), 6)
          .as("novelty_rate"),
        col("mean_doc_novelty"))
      .orderBy("lang")
  }

  private val q333Sql =
    """WITH wa AS (SELECT doc_id, lang,
           regexp_split_to_array(trim(text), '\s+') AS w,
           (('0x' || substr(md5('nv' || doc_id::VARCHAR), 1, 15))::BIGINT
             % 5 = 0) AS is_test
         FROM documents),
       tri AS (SELECT doc_id, lang, is_test,
               w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3] AS g
             FROM (SELECT doc_id, lang, is_test, w,
                     unnest(range(0, greatest(len(w) - 2, 0))) AS i
                   FROM wa)),
       train AS (SELECT DISTINCT g FROM tri WHERE NOT is_test),
       test AS (SELECT DISTINCT doc_id, lang, g FROM tri
                WHERE is_test),
       marked AS (SELECT test.doc_id, test.lang,
               CASE WHEN train.g IS NULL THEN 0 ELSE 1 END AS seen
             FROM test LEFT JOIN train ON train.g = test.g),
       pd AS (SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_tri,
               CAST(sum(1 - seen) AS BIGINT) AS n_novel
             FROM marked GROUP BY doc_id, lang)
       SELECT lang, CAST(count(*) AS BIGINT) AS n_test_docs,
         CAST(sum(n_tri) AS BIGINT) AS test_trigrams,
         CAST(sum(n_novel) AS BIGINT) AS novel_trigrams,
         round(CAST(sum(n_novel) AS DOUBLE)
           / greatest(CAST(sum(n_tri) AS DOUBLE), 1e-12), 6)
           AS novelty_rate,
         round(avg(n_novel::DOUBLE / greatest(n_tri, 1)::DOUBLE), 6)
           AS mean_doc_novelty
       FROM pd GROUP BY lang ORDER BY lang"""

  // --------------------------------------------------------------- q334
  /** Embedding-space Jensen–Shannon divergence between label parities
    * — DISTRIBUTION drift in the representation space, where q216's
    * token KL sees only vocabulary: both groups histogram over the
    * SAME deterministic 64-cell sign-LSH grid (the q41/q53 plane
    * kernel, seed-stable across engines), then JS = ½KL(P‖M) +
    * ½KL(Q‖M) over cells. Per-cell terms quantize to 1e-9-unit LONGs;
    * the corpus collapses to ≤64 cells in ONE aggregation, zero-count
    * sides contribute their defined 0 limit.
    */
  private def q334(s: SparkSession, d: String): DataFrame = {
    val planes = graft.functions.VectorFunctions.randomPlanes(6, 64)
    val cells = Tables.embeddings(s, d)
      .select(graft.functions.VectorFunctions
          .lshBucket(col("embedding"), planes).as("cell"),
        (pmod(col("label"), lit(2)) === 0).as("pa"))
      .groupBy("cell")
      .agg(sum(when(col("pa"), 1L).otherwise(0L)).as("na"),
        sum(when(!col("pa"), 1L).otherwise(0L)).as("nb"))
    val tot = cells.agg(sum("na").as("ta"), sum("nb").as("tb"))
    val t = cells.crossJoin(broadcast(tot))
    val pa = col("na").cast("double") / safe(col("ta").cast("double"))
    val pb = col("nb").cast("double") / safe(col("tb").cast("double"))
    val terms = t.select(
      when(col("na") > 0L,
        floor(pa * log(lit(2.0) * pa / (pa + pb)) * lit(1e9) +
          lit(0.5)).cast("long")).otherwise(0L).as("tpa"),
      when(col("nb") > 0L,
        floor(pb * log(lit(2.0) * pb / (pa + pb)) * lit(1e9) +
          lit(0.5)).cast("long")).otherwise(0L).as("tpb"))
    val agg = terms.agg(sum("tpa").as("sa"), sum("tpb").as("sb"))
    val used = cells.filter(col("na") + col("nb") > 0L)
      .agg(count(lit(1)).as("n_cells"))
    val js = (col("sa") + col("sb")).cast("double") / 1e9 / 2.0
    used.crossJoin(broadcast(tot)).crossJoin(broadcast(agg))
      .select(col("n_cells"), col("ta").as("n_even"),
        col("tb").as("n_odd"),
        round(js, 6).as("js_nats"),
        round(js / math.log(2.0), 6).as("js_bits"))
  }

  private val q334Sql = {
    val (bucketExpr, _) = Pipeline.lshBucketSql(6, 64)
    s"""WITH cells AS (SELECT $bucketExpr AS cell,
           CAST(sum(CASE WHEN label % 2 = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS na,
           CAST(sum(CASE WHEN label % 2 <> 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS nb
         FROM embeddings GROUP BY 1),
       tot AS (SELECT CAST(sum(na) AS BIGINT) AS ta,
               CAST(sum(nb) AS BIGINT) AS tb FROM cells),
       terms AS (SELECT
           CASE WHEN na > 0 THEN CAST(floor(
               (na::DOUBLE / greatest(ta::DOUBLE, 1e-12))
               * ln(2.0 * (na::DOUBLE / greatest(ta::DOUBLE, 1e-12))
                 / ((na::DOUBLE / greatest(ta::DOUBLE, 1e-12))
                   + (nb::DOUBLE / greatest(tb::DOUBLE, 1e-12))))
               * 1e9 + 0.5) AS BIGINT) ELSE 0 END AS tpa,
           CASE WHEN nb > 0 THEN CAST(floor(
               (nb::DOUBLE / greatest(tb::DOUBLE, 1e-12))
               * ln(2.0 * (nb::DOUBLE / greatest(tb::DOUBLE, 1e-12))
                 / ((na::DOUBLE / greatest(ta::DOUBLE, 1e-12))
                   + (nb::DOUBLE / greatest(tb::DOUBLE, 1e-12))))
               * 1e9 + 0.5) AS BIGINT) ELSE 0 END AS tpb
         FROM cells, tot),
       agg AS (SELECT CAST(sum(tpa) AS BIGINT) AS sa,
               CAST(sum(tpb) AS BIGINT) AS sb FROM terms),
       used AS (SELECT CAST(count(*) AS BIGINT) AS n_cells
                FROM cells WHERE na + nb > 0)
       SELECT n_cells, ta AS n_even, tb AS n_odd,
         round((sa + sb)::DOUBLE / 1e9 / 2.0, 6) AS js_nats,
         round((sa + sb)::DOUBLE / 1e9 / 2.0 / ln(2.0), 6) AS js_bits
       FROM used, tot, agg"""
  }

  // --------------------------------------------------------------- q335
  /** Optimal decision threshold — WHERE to cut the q281/q330 score:
    * sweep every distinct micro-quantized score as a "predict positive
    * if score ≥ t" threshold via the shared [[bucketedBelow]] prefix
    * kernel (tp/fp at every cut from two suffix sums — one pass, no
    * per-threshold rescan), then pick the Youden-J argmax and the
    * F1 argmax on a total order (criterion desc, threshold asc).
    * Criteria quantize to 1e-9-unit LONGs so both argmaxes are integer
    * comparisons.
    */
  private def q335(s: SparkSession, d: String): DataFrame = {
    val sc = col("embedding").getItem(0).cast("double")
    val units = (floor(abs(sc) * lit(1e6) + lit(0.5))).cast("long") *
      when(sc < 0, -1L).otherwise(1L)
    val b = Tables.embeddings(s, d)
      .select(units.as("u"),
        when(pmod(col("label"), lit(2)) === 0, 1L).otherwise(0L)
          .as("y"))
    val cu = b.groupBy("u")
      .agg(sum("y").as("pos"), sum(lit(1L) - col("y")).as("neg"))
    val tot = cu.agg(sum("pos").as("tp_all"), sum("neg").as("tn_all"))
    val roc = bucketedBelow(cu, "u", Seq("pos", "neg"))
      .crossJoin(broadcast(tot))
      .select(col("u"),
        (col("tp_all") - col("below_pos")).as("tp"),
        (col("tn_all") - col("below_neg")).as("fp"),
        col("below_pos").as("fn"), col("tp_all"), col("tn_all"))
    val tpr = col("tp").cast("double") /
      safe(col("tp_all").cast("double"))
    val fpr = col("fp").cast("double") /
      safe(col("tn_all").cast("double"))
    val ju = floor((tpr - fpr) * lit(1e9) + lit(0.5)).cast("long")
    val f1u = floor(lit(2.0) * col("tp").cast("double") /
      safe((lit(2L) * col("tp") + col("fp") + col("fn"))
        .cast("double")) * lit(1e9) + lit(0.5)).cast("long")
    val scoredRoc = roc.select(col("u"), col("tp"), col("fp"),
      col("tp_all"), col("tn_all"), ju.as("ju"), f1u.as("f1u"))
    val bestJ = scoredRoc.agg(max(struct(col("ju"), (-col("u")).as("nu"),
      col("u"), col("tp"), col("fp"))).as("s")).select(col("s.*"))
    val bestF = scoredRoc.agg(max(struct(col("f1u"),
      (-col("u")).as("nu"), col("u").as("uf"))).as("s"))
      .select(col("s.*"))
    bestJ.crossJoin(broadcast(bestF)).crossJoin(broadcast(tot))
      .select(col("tp_all").as("n_pos"), col("tn_all").as("n_neg"),
        round(col("u").cast("double") / 1e6, 6).as("youden_threshold"),
        round(col("ju").cast("double") / 1e9, 6).as("youden_j"),
        round(col("tp").cast("double") /
          safe(col("tp_all").cast("double")), 6).as("tpr_at_j"),
        round(col("fp").cast("double") /
          safe(col("tn_all").cast("double")), 6).as("fpr_at_j"),
        round(col("uf").cast("double") / 1e6, 6).as("f1_threshold"),
        round(col("f1u").cast("double") / 1e9, 6).as("f1_best"))
  }

  private val q335Sql =
    """WITH b AS (SELECT
           CAST(floor(abs(embedding[1]::DOUBLE) * 1e6 + 0.5) AS BIGINT)
             * (CASE WHEN embedding[1]::DOUBLE < 0 THEN -1 ELSE 1 END)
             AS u,
           CASE WHEN label % 2 = 0 THEN 1 ELSE 0 END AS y
         FROM embeddings),
       cu AS (SELECT u, CAST(sum(y) AS BIGINT) AS pos,
               CAST(sum(1 - y) AS BIGINT) AS neg
             FROM b GROUP BY u),
       tot AS (SELECT CAST(sum(pos) AS BIGINT) AS tp_all,
               CAST(sum(neg) AS BIGINT) AS tn_all FROM cu),
       roc AS (SELECT u,
           tp_all - coalesce(CAST(sum(pos) OVER (ORDER BY u
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS BIGINT), 0) AS tp,
           tn_all - coalesce(CAST(sum(neg) OVER (ORDER BY u
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS BIGINT), 0) AS fp,
           coalesce(CAST(sum(pos) OVER (ORDER BY u
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS BIGINT), 0) AS fn,
           tp_all, tn_all
         FROM cu, tot),
       sc AS (SELECT *,
           CAST(floor((tp::DOUBLE / greatest(tp_all::DOUBLE, 1e-12)
               - fp::DOUBLE / greatest(tn_all::DOUBLE, 1e-12)) * 1e9
               + 0.5) AS BIGINT) AS ju,
           CAST(floor(2.0 * tp::DOUBLE
               / greatest((2 * tp + fp + fn)::DOUBLE, 1e-12) * 1e9
               + 0.5) AS BIGINT) AS f1u
         FROM roc),
       bj AS (SELECT u, tp, fp, ju, tp_all, tn_all FROM sc
              ORDER BY ju DESC, u ASC LIMIT 1),
       bf AS (SELECT u AS uf, f1u FROM sc
              ORDER BY f1u DESC, u ASC LIMIT 1)
       SELECT bj.tp_all AS n_pos, bj.tn_all AS n_neg,
         round(bj.u::DOUBLE / 1e6, 6) AS youden_threshold,
         round(bj.ju::DOUBLE / 1e9, 6) AS youden_j,
         round(bj.tp::DOUBLE / greatest(bj.tp_all::DOUBLE, 1e-12), 6)
           AS tpr_at_j,
         round(bj.fp::DOUBLE / greatest(bj.tn_all::DOUBLE, 1e-12), 6)
           AS fpr_at_j,
         round(bf.uf::DOUBLE / 1e6, 6) AS f1_threshold,
         round(bf.f1u::DOUBLE / 1e9, 6) AS f1_best
       FROM bj, bf"""

  // --------------------------------------------------------------- q336
  /** Sequential pattern support (GSP depth 2) — which event FOLLOWS
    * which, graded by USER support: q107's transition matrix counts
    * every adjacent occurrence (a chatty user dominates), q206's
    * association rules ignore order; here a pattern a→b counts each
    * user once, with lift against independent containment. One lead
    * pass, one (user, a, b) distinct collapse; the pattern table is
    * ≤k² rows with broadcast marginals. Top 15 by (support desc,
    * pair) — a total order.
    */
  private def q336(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val seq0 = sc.checkpoint(Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("a"))
      .withColumn("b", lead(col("a"), 1).over(w))
      .filter(col("b").isNotNull)
      .select("user_id", "a", "b").distinct()) // support + both marginals
    val sup = seq0.groupBy("a", "b").agg(count(lit(1)).as("support"))
    val ua = seq0.select("user_id", "a").distinct()
      .groupBy("a").agg(count(lit(1)).as("ua"))
    val ub = seq0.select("user_id", "b").distinct()
      .groupBy("b").agg(count(lit(1)).as("ub"))
    val users = Tables.events(s, d).agg(
      countDistinct(col("user_id")).as("u"))
    sc.keep(sup.join(broadcast(ua), Seq("a")).join(broadcast(ub), Seq("b"))
      .crossJoin(broadcast(users))
      .select(col("a").as("first_type"), col("b").as("next_type"),
        col("support"),
        round(col("support").cast("double") /
          safe(col("u").cast("double")), 6).as("user_share"),
        round((col("support").cast("double") * col("u").cast("double"))
          / safe(col("ua").cast("double") * col("ub").cast("double")),
          4).as("lift"))
      .orderBy(col("support").desc, col("first_type"), col("next_type"))
      .limit(15))
  }

  private val q336Sql =
    """WITH seq AS (SELECT DISTINCT user_id, a, b FROM (
           SELECT user_id, event_type AS a,
             lead(event_type, 1) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS b
           FROM events) WHERE b IS NOT NULL),
       sup AS (SELECT a, b, CAST(count(*) AS BIGINT) AS support
               FROM seq GROUP BY a, b),
       ua AS (SELECT a, CAST(count(*) AS BIGINT) AS ua
              FROM (SELECT DISTINCT user_id, a FROM seq) GROUP BY a),
       ub AS (SELECT b, CAST(count(*) AS BIGINT) AS ub
              FROM (SELECT DISTINCT user_id, b FROM seq) GROUP BY b),
       uu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS u
              FROM events)
       SELECT a AS first_type, b AS next_type, support,
         round(support::DOUBLE / greatest(u::DOUBLE, 1e-12), 6)
           AS user_share,
         round((support::DOUBLE * u::DOUBLE)
           / greatest(ua::DOUBLE * ub::DOUBLE, 1e-12), 4) AS lift
       FROM sup JOIN ua USING (a) JOIN ub USING (b), uu
       ORDER BY support DESC, first_type, next_type LIMIT 15"""

  // --------------------------------------------------------------- q337
  /** Poisson log-linear trend — is daily order volume GROWING, on the
    * right likelihood? (q06's least squares assumes Gaussian noise;
    * counts are Poisson, and at low volume the difference is the
    * verdict.) log μ_t = a + b·(t/T) fit by three Newton steps: the
    * corpus collapses to the zero-filled day grid ONCE, each step is
    * one aggregation of 1e-6-quantized gradient/Hessian terms over
    * that checkpointed frame with (a, b) carried on the 1e-9 grid
    * driver-side (the q302/q326 bounded-loop shape), so the unrolled
    * oracle CTE chain replays identical arithmetic.
    */
  private def q337(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val daily = Tables.orders(s, d)
      .select(to_date(col("o_orderdate")).as("dt"))
      .groupBy("dt").agg(count(lit(1)).as("y"))
    val span = daily.agg(min("dt").as("d0"), max("dt").as("d1"))
    val grid = span.select(col("d0"),
        explode(sequence(col("d0"), col("d1"))).as("dt"))
      .join(daily, Seq("dt"), "left")
      .select(datediff(col("dt"), col("d0")).cast("long").as("t"),
        coalesce(col("y"), lit(0L)).as("y"))
    val tm = grid.agg(max("t").as("tmax"))
    val days = sc.checkpoint(grid.crossJoin(broadcast(tm))
      .select(col("t"), col("y"),
        (col("t").cast("double") /
          greatest(col("tmax"), lit(1L)).cast("double")).as("x")))
    def fl(v: Double, p: Double): Double = math.floor(v * p + 0.5) / p
    def g(x: Double): Double = math.max(x, 1e-12)
    val head = days.agg(count(lit(1)).as("n"), sum("y").as("sy")).head()
    val (nDays, sy) = (head.getLong(0), head.getLong(1))
    val a0 = fl(math.log(sy.toDouble / g(nDays.toDouble)), 1e9)
    def newton(a: Double, b: Double): (Double, Double) = {
      val mu = exp(lit(a) + lit(b) * col("x"))
      val row = days.agg(
        sum(floor((col("y").cast("double") - mu) * lit(1e6) + lit(0.5))
          .cast("long")).as("ga"),
        sum(floor(col("x") * (col("y").cast("double") - mu) * lit(1e6) +
          lit(0.5)).cast("long")).as("gb"),
        sum(floor(mu * lit(1e6) + lit(0.5)).cast("long")).as("haa"),
        sum(floor(col("x") * mu * lit(1e6) + lit(0.5)).cast("long"))
          .as("hab"),
        sum(floor(col("x") * col("x") * mu * lit(1e6) + lit(0.5))
          .cast("long")).as("hbb")).head()
      val (gaD, gbD) = (row.getLong(0) / 1e6, row.getLong(1) / 1e6)
      val (haaD, habD, hbbD) =
        (row.getLong(2) / 1e6, row.getLong(3) / 1e6, row.getLong(4) / 1e6)
      val det = haaD * hbbD - habD * habD
      (fl(a + (gaD * hbbD - gbD * habD) / g(det), 1e9),
        fl(b + (gbD * haaD - gaD * habD) / g(det), 1e9))
    }
    val (a1, b1) = newton(a0, 0.0)
    val (a2, b2) = newton(a1, b1)
    val (a3, b3) = newton(a2, b2)
    sc.keep(days.agg(count(lit(1)).as("n_days"), sum("y").as("n_orders"))
      .select(col("n_days"), col("n_orders"),
        lit(fl(a3, 1e6)).as("a"), lit(fl(b3, 1e6)).as("b"),
        lit(fl(math.exp(b3), 1e6)).as("rate_ratio"),
        round(col("n_orders").cast("double") /
          safe(col("n_days").cast("double")), 6).as("mean_daily")))
  }

  private val q337Sql = {
    def it(st: String) =
      s"""(SELECT
           CAST(sum(CAST(floor((y::DOUBLE - exp($st.a + $st.b * x))
             * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS ga,
           CAST(sum(CAST(floor(x * (y::DOUBLE - exp($st.a + $st.b * x))
             * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS gb,
           CAST(sum(CAST(floor(exp($st.a + $st.b * x) * 1e6 + 0.5)
             AS BIGINT)) AS BIGINT) AS haa,
           CAST(sum(CAST(floor(x * exp($st.a + $st.b * x) * 1e6 + 0.5)
             AS BIGINT)) AS BIGINT) AS hab,
           CAST(sum(CAST(floor(x * x * exp($st.a + $st.b * x) * 1e6
             + 0.5) AS BIGINT)) AS BIGINT) AS hbb
         FROM days, $st)"""
    def upd(st: String, itn: String) =
      s"""(SELECT
           floor(($st.a + ((ga::DOUBLE / 1e6) * (hbb::DOUBLE / 1e6)
               - (gb::DOUBLE / 1e6) * (hab::DOUBLE / 1e6))
             / greatest((haa::DOUBLE / 1e6) * (hbb::DOUBLE / 1e6)
               - (hab::DOUBLE / 1e6) * (hab::DOUBLE / 1e6), 1e-12))
             * 1e9 + 0.5) / 1e9 AS a,
           floor(($st.b + ((gb::DOUBLE / 1e6) * (haa::DOUBLE / 1e6)
               - (ga::DOUBLE / 1e6) * (hab::DOUBLE / 1e6))
             / greatest((haa::DOUBLE / 1e6) * (hbb::DOUBLE / 1e6)
               - (hab::DOUBLE / 1e6) * (hab::DOUBLE / 1e6), 1e-12))
             * 1e9 + 0.5) / 1e9 AS b
         FROM $itn, $st)"""
    s"""WITH daily AS (SELECT o_orderdate::DATE AS dt,
           CAST(count(*) AS BIGINT) AS y
         FROM orders GROUP BY 1),
       span AS (SELECT min(dt) AS d0, max(dt) AS d1 FROM daily),
       grid AS (SELECT CAST(unnest(generate_series(d0, d1,
                  INTERVAL 1 DAY)) AS DATE) AS dt, d0 FROM span),
       g2 AS (SELECT CAST(datediff('day', g.d0, g.dt) AS BIGINT) AS t,
                coalesce(daily.y, 0) AS y
              FROM grid g LEFT JOIN daily ON g.dt = daily.dt),
       tm AS (SELECT max(t) AS tmax FROM g2),
       days AS MATERIALIZED (SELECT t, y,
               t::DOUBLE / greatest(tmax, 1)::DOUBLE AS x
             FROM g2, tm),
       hd AS (SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS sy FROM days),
       s0 AS (SELECT floor(ln(sy::DOUBLE
                / greatest(n::DOUBLE, 1e-12)) * 1e9 + 0.5) / 1e9 AS a,
               0.0 AS b FROM hd),
       it1 AS MATERIALIZED ${it("s0")},
       s1 AS MATERIALIZED ${upd("s0", "it1")},
       it2 AS MATERIALIZED ${it("s1")},
       s2 AS MATERIALIZED ${upd("s1", "it2")},
       it3 AS MATERIALIZED ${it("s2")},
       s3 AS MATERIALIZED ${upd("s2", "it3")}
       SELECT hd.n AS n_days, hd.sy AS n_orders,
         floor(s3.a * 1e6 + 0.5) / 1e6 AS a,
         floor(s3.b * 1e6 + 0.5) / 1e6 AS b,
         floor(exp(s3.b) * 1e6 + 0.5) / 1e6 AS rate_ratio,
         round(hd.sy::DOUBLE / greatest(hd.n::DOUBLE, 1e-12), 6)
           AS mean_daily
       FROM hd, s3"""
  }

  // --------------------------------------------------------------- q339
  /** Wilcoxon signed-rank — the PAIRED nonparametric test the family
    * lacks (q247 compares independent arms; revenue seven days apart
    * is anything but independent): week-over-week daily revenue
    * differences in exact cents, zero differences dropped (the
    * standard convention), |d| ranked on the shared 2× integer grid
    * via [[bucketedBelow]], W⁺ and the tie-corrected normal z. One
    * corpus collapse to the day grid; everything after is
    * days-bounded.
    */
  private def q339(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .select(to_date(col("o_orderdate")).as("dt"),
        round(col("o_totalprice") * 100, 0).cast("long").as("c"))
      .groupBy("dt").agg(sum("c").as("c"))
    val span = daily.agg(min("dt").as("d0"), max("dt").as("d1"))
    val grid = span.select(col("d0"),
        explode(sequence(col("d0"), col("d1"))).as("dt"))
      .join(daily, Seq("dt"), "left")
      .select(datediff(col("dt"), col("d0")).cast("long").as("t"),
        coalesce(col("c"), lit(0L)).as("c"))
    val wLag = Window.orderBy("t")
    val diffs = grid
      .withColumn("prev", lag(col("c"), 7).over(wLag))
      .filter(col("prev").isNotNull)
      .select((col("c") - col("prev")).as("dd"))
      .filter(col("dd") =!= 0L)
    val cu = diffs.select(abs(col("dd")).as("u"),
        when(col("dd") > 0L, 1L).otherwise(0L).as("pos"))
      .groupBy("u")
      .agg(count(lit(1)).as("t"), sum("pos").as("np"))
    val ranked = bucketedBelow(cu, "u", Seq("t"))
      .select(col("u"), col("t"), col("np"),
        (lit(2L) * col("below_t") + col("t") + lit(1L)).as("ar2"))
    val dec = "decimal(38,0)"
    val agg = ranked.agg(sum("t").as("n"),
      sum(col("np").cast(dec) * col("ar2").cast(dec)).as("w2"),
      sum(col("t").cast(dec) * col("t").cast(dec) * col("t").cast(dec) -
        col("t").cast(dec)).as("tie3"))
    val nD = col("n").cast("double")
    val varW = nD * (nD + 1.0) * (lit(2.0) * nD + 1.0) / 24.0 -
      col("tie3").cast("double") / 48.0
    import graft.functions.Rounding.floorRound
    agg.select(col("n").as("n_pairs"),
      round(col("w2").cast("double") / 2.0, 1).as("w_plus"),
      floorRound((col("w2").cast("double") / 2.0 -
        nD * (nD + 1.0) / 4.0) / safe(sqrt(varW)), 6).as("z"))
  }

  private val q339Sql =
    """WITH daily AS (SELECT o_orderdate::DATE AS dt,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS c
         FROM orders GROUP BY 1),
       span AS (SELECT min(dt) AS d0, max(dt) AS d1 FROM daily),
       grid AS (SELECT CAST(unnest(generate_series(d0, d1,
                  INTERVAL 1 DAY)) AS DATE) AS dt, d0 FROM span),
       g2 AS (SELECT CAST(datediff('day', g.d0, g.dt) AS BIGINT) AS t,
                coalesce(daily.c, 0) AS c
              FROM grid g LEFT JOIN daily ON g.dt = daily.dt),
       dif AS (SELECT c - lag(c, 7) OVER (ORDER BY t) AS dd FROM g2),
       dnz AS (SELECT dd FROM dif WHERE dd IS NOT NULL AND dd <> 0),
       cu AS (SELECT abs(dd) AS u, CAST(count(*) AS BIGINT) AS t,
               CAST(sum(CASE WHEN dd > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS np
             FROM dnz GROUP BY abs(dd)),
       bel AS (SELECT u, t, np,
               2 * coalesce(sum(t) OVER (ORDER BY u
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 + t + 1 AS ar2
             FROM cu),
       agg AS (SELECT CAST(sum(t) AS BIGINT) AS n,
               sum(np::HUGEINT * ar2::HUGEINT) AS w2,
               sum(t::HUGEINT * t * t - t) AS tie3
             FROM bel)
       SELECT n AS n_pairs,
         round(w2::DOUBLE / 2.0, 1) AS w_plus,
         floor((w2::DOUBLE / 2.0 - n::DOUBLE * (n::DOUBLE + 1.0) / 4.0)
           / greatest(sqrt(n::DOUBLE * (n::DOUBLE + 1.0)
               * (2.0 * n::DOUBLE + 1.0) / 24.0
             - tie3::DOUBLE / 48.0), 1e-12) * 1e6 + 0.5) / 1e6 AS z
       FROM agg"""

  // --------------------------------------------------------------- q340
  /** DeLong test for correlated AUCs — "is classifier A's AUC really
    * higher than B's, on the SAME examples?" (q214 grades one AUC;
    * comparing two on shared data needs the covariance a naive z
    * ignores.) Per-sample structural components V10/V01 come from the
    * shared [[bucketedBelow]] placement kernel on the 2× tie grid —
    * EXACT integers per sample — so both AUCs are exact rationals;
    * the component covariances quantize per-sample products to
    * 1e-9-unit LONGs around broadcast exact means. Work: two
    * distinct-value placements + two keyed sample joins; no pair
    * enumeration anywhere.
    */
  private def q340(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val sumB = aggregate(col("embedding"), lit(0.0), (acc, x) => acc + x)
    val sa = col("embedding").getItem(0).cast("double")
    def units(c: Column): Column =
      (floor(abs(c) * lit(1e6) + lit(0.5))).cast("long") *
        when(c < 0, -1L).otherwise(1L)
    val base = sc.checkpoint(Tables.embeddings(s, d)
      .select(col("vec_id"),
        (pmod(col("label"), lit(2)) === 0).as("y"),
        units(sa).as("ua"), units(sumB).as("ub")))
    val tot = base.agg(
      sum(when(col("y"), 1L).otherwise(0L)).as("p"),
      sum(when(!col("y"), 1L).otherwise(0L)).as("q"))
    // per-sample placement on the 2x tie grid for one score column
    def placed(u: String, pre: String): DataFrame = {
      val cu = base.groupBy(u)
        .agg(sum(when(col("y"), 1L).otherwise(0L)).as("pp"),
          sum(when(!col("y"), 1L).otherwise(0L)).as("qq"))
      val bel = bucketedBelow(cu, u, Seq("pp", "qq"))
      base.select(col("vec_id"), col(u))
        .join(bel, Seq(u)).crossJoin(broadcast(tot))
        .select(col("vec_id"),
          (lit(2L) * col("below_qq") + col("qq")).as(s"${pre}10"),
          (lit(2L) * (col("p") - col("below_pp") - col("pp")) +
            col("pp")).as(s"${pre}01"))
    }
    val samples = sc.checkpoint(base.select(col("vec_id"), col("y"))
      .join(placed("ua", "a"), Seq("vec_id"))
      .join(placed("ub", "b"), Seq("vec_id")))
    val dec = "decimal(38,0)"
    val st1 = samples.crossJoin(broadcast(tot)).groupBy("p", "q")
      .agg(sum(when(col("y"), col("a10").cast(dec))
          .otherwise(lit(0).cast(dec))).as("sa10"),
        sum(when(col("y"), col("b10").cast(dec))
          .otherwise(lit(0).cast(dec))).as("sb10"))
    val thetaA = col("sa10").cast("double") /
      (lit(2.0) * col("p").cast("double") * col("q").cast("double"))
    val thetaB = col("sb10").cast("double") /
      (lit(2.0) * col("p").cast("double") * col("q").cast("double"))
    val head = st1.select(col("p"), col("q"),
      thetaA.as("ta"), thetaB.as("tb"))
    val st2in = samples.crossJoin(broadcast(head))
    val devA10 = col("a10").cast("double") /
      (lit(2.0) * col("q").cast("double")) - col("ta")
    val devB10 = col("b10").cast("double") /
      (lit(2.0) * col("q").cast("double")) - col("tb")
    val devA01 = col("a01").cast("double") /
      (lit(2.0) * col("p").cast("double")) - col("ta")
    val devB01 = col("b01").cast("double") /
      (lit(2.0) * col("p").cast("double")) - col("tb")
    def qz(c: Column): Column =
      floor(c * lit(1e9) + lit(0.5)).cast("long")
    val st2 = st2in.groupBy("p", "q", "ta", "tb")
      .agg(sum(when(col("y"), qz(devA10 * devA10)).otherwise(0L))
          .as("saa10"),
        sum(when(col("y"), qz(devB10 * devB10)).otherwise(0L))
          .as("sbb10"),
        sum(when(col("y"), qz(devA10 * devB10)).otherwise(0L))
          .as("sab10"),
        sum(when(!col("y"), qz(devA01 * devA01)).otherwise(0L))
          .as("saa01"),
        sum(when(!col("y"), qz(devB01 * devB01)).otherwise(0L))
          .as("sbb01"),
        sum(when(!col("y"), qz(devA01 * devB01)).otherwise(0L))
          .as("sab01"))
    val pD = col("p").cast("double")
    val qD = col("q").cast("double")
    def cmp(c: Column, n: Column): Column =
      c.cast("double") / 1e9 / safe(n - 1.0)
    val varD =
      (cmp(col("saa10"), pD) + cmp(col("sbb10"), pD) -
        lit(2.0) * cmp(col("sab10"), pD)) / safe(pD) +
      (cmp(col("saa01"), qD) + cmp(col("sbb01"), qD) -
        lit(2.0) * cmp(col("sab01"), qD)) / safe(qD)
    import graft.functions.Rounding.floorRound
    sc.keep(st2.select(col("p").as("n_pos"), col("q").as("n_neg"),
      round(col("ta"), 6).as("auc_a"),
      round(col("tb"), 6).as("auc_b"),
      floorRound(col("ta") - col("tb"), 6).as("auc_diff"),
      floorRound((col("ta") - col("tb")) / safe(sqrt(varD)), 6).as("z")))
  }

  private val q340Sql =
    """WITH base AS (SELECT vec_id, (label % 2 = 0) AS y,
           CAST(floor(abs(embedding[1]::DOUBLE) * 1e6 + 0.5) AS BIGINT)
             * (CASE WHEN embedding[1]::DOUBLE < 0 THEN -1 ELSE 1 END)
             AS ua,
           CAST(floor(abs(list_sum(list_transform(embedding,
               x -> x::DOUBLE))) * 1e6 + 0.5) AS BIGINT)
             * (CASE WHEN list_sum(list_transform(embedding,
               x -> x::DOUBLE)) < 0 THEN -1 ELSE 1 END) AS ub
         FROM embeddings),
       tot AS (SELECT
           CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p,
           CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS q
         FROM base),
       cua AS (SELECT ua AS u,
           CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pp,
           CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS qq
         FROM base GROUP BY ua),
       bela AS (SELECT u, pp, qq,
           coalesce(sum(pp) OVER (ORDER BY u
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS below_pp,
           coalesce(sum(qq) OVER (ORDER BY u
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS below_qq
         FROM cua),
       pla AS (SELECT vec_id, 2 * below_qq + qq AS a10,
               2 * (p - below_pp - pp) + pp AS a01
             FROM base JOIN bela ON bela.u = base.ua, tot),
       cub AS (SELECT ub AS u,
           CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pp,
           CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS qq
         FROM base GROUP BY ub),
       belb AS (SELECT u, pp, qq,
           coalesce(sum(pp) OVER (ORDER BY u
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS below_pp,
           coalesce(sum(qq) OVER (ORDER BY u
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS below_qq
         FROM cub),
       plb AS (SELECT vec_id, 2 * below_qq + qq AS b10,
               2 * (p - below_pp - pp) + pp AS b01
             FROM base JOIN belb ON belb.u = base.ub, tot),
       samples AS MATERIALIZED (SELECT base.vec_id, y, a10, a01,
               b10, b01
             FROM base JOIN pla ON pla.vec_id = base.vec_id
             JOIN plb ON plb.vec_id = base.vec_id),
       s1 AS (SELECT p, q,
           sum(CASE WHEN y THEN a10::HUGEINT ELSE 0::HUGEINT END)
             AS sa10,
           sum(CASE WHEN y THEN b10::HUGEINT ELSE 0::HUGEINT END)
             AS sb10
         FROM samples, tot GROUP BY p, q),
       hd AS (SELECT p, q,
           sa10::DOUBLE / (2.0 * p::DOUBLE * q::DOUBLE) AS ta,
           sb10::DOUBLE / (2.0 * p::DOUBLE * q::DOUBLE) AS tb
         FROM s1),
       s2 AS (SELECT p, q, ta, tb,
           CAST(sum(CASE WHEN y THEN CAST(floor(
               (a10::DOUBLE / (2.0 * q::DOUBLE) - ta)
               * (a10::DOUBLE / (2.0 * q::DOUBLE) - ta) * 1e9 + 0.5)
             AS BIGINT) ELSE 0 END) AS BIGINT) AS saa10,
           CAST(sum(CASE WHEN y THEN CAST(floor(
               (b10::DOUBLE / (2.0 * q::DOUBLE) - tb)
               * (b10::DOUBLE / (2.0 * q::DOUBLE) - tb) * 1e9 + 0.5)
             AS BIGINT) ELSE 0 END) AS BIGINT) AS sbb10,
           CAST(sum(CASE WHEN y THEN CAST(floor(
               (a10::DOUBLE / (2.0 * q::DOUBLE) - ta)
               * (b10::DOUBLE / (2.0 * q::DOUBLE) - tb) * 1e9 + 0.5)
             AS BIGINT) ELSE 0 END) AS BIGINT) AS sab10,
           CAST(sum(CASE WHEN NOT y THEN CAST(floor(
               (a01::DOUBLE / (2.0 * p::DOUBLE) - ta)
               * (a01::DOUBLE / (2.0 * p::DOUBLE) - ta) * 1e9 + 0.5)
             AS BIGINT) ELSE 0 END) AS BIGINT) AS saa01,
           CAST(sum(CASE WHEN NOT y THEN CAST(floor(
               (b01::DOUBLE / (2.0 * p::DOUBLE) - tb)
               * (b01::DOUBLE / (2.0 * p::DOUBLE) - tb) * 1e9 + 0.5)
             AS BIGINT) ELSE 0 END) AS BIGINT) AS sbb01,
           CAST(sum(CASE WHEN NOT y THEN CAST(floor(
               (a01::DOUBLE / (2.0 * p::DOUBLE) - ta)
               * (b01::DOUBLE / (2.0 * p::DOUBLE) - tb) * 1e9 + 0.5)
             AS BIGINT) ELSE 0 END) AS BIGINT) AS sab01
         FROM samples, hd GROUP BY p, q, ta, tb),
       f AS (SELECT p, q, ta, tb,
           ((saa10::DOUBLE / 1e9 / greatest(p::DOUBLE - 1.0, 1e-12)
             + sbb10::DOUBLE / 1e9 / greatest(p::DOUBLE - 1.0, 1e-12)
             - 2.0 * sab10::DOUBLE / 1e9
               / greatest(p::DOUBLE - 1.0, 1e-12))
             / greatest(p::DOUBLE, 1e-12))
           + ((saa01::DOUBLE / 1e9 / greatest(q::DOUBLE - 1.0, 1e-12)
             + sbb01::DOUBLE / 1e9 / greatest(q::DOUBLE - 1.0, 1e-12)
             - 2.0 * sab01::DOUBLE / 1e9
               / greatest(q::DOUBLE - 1.0, 1e-12))
             / greatest(q::DOUBLE, 1e-12)) AS vd
         FROM s2)
       SELECT p AS n_pos, q AS n_neg,
         round(ta, 6) AS auc_a, round(tb, 6) AS auc_b,
         floor((ta - tb) * 1e6 + 0.5) / 1e6 AS auc_diff,
         floor((ta - tb) / greatest(sqrt(vd), 1e-12) * 1e6 + 0.5) / 1e6
           AS z
       FROM f"""

  // --------------------------------------------------------------- q341
  /** Harrell's concordance index — does the q302 hazard model actually
    * ORDER the churn times? (The Cox β says direction and size; the
    * C-index says ranking skill — the metric survival models are
    * leaderboarded on.) Risk = the q302 hash arm; comparable pairs =
    * (death at t) × (still at risk AFTER t), counted per event day
    * from margins that include same-day censor exits — so concordant /
    * discordant / risk-tied pair totals are EXACT DECIMAL products of
    * day-level integers (never a subject×subject join). C closes in
    * one FP division; Somers' D = 2C − 1.
    */
  private def q341(s: SparkSession, d: String): DataFrame = {
    val day = datediff(to_date(col("o_orderdate")),
      lit("1990-01-01").cast("date"))
    val u = Tables.orders(s, d)
      .select(col("o_custkey"), day.as("dd"))
      .groupBy("o_custkey")
      .agg(min("dd").as("d0"), max("dd").as("d1"))
      .select(col("o_custkey"), (col("d1") - col("d0")).as("t"),
        col("d1"),
        graft.operators.Sampling.hashBucket(col("o_custkey"), "km", 2)
          .as("arm"))
    val fin = u.agg(max("d1").as("endday"))
    val pa = u.crossJoin(broadcast(fin))
      .select(col("t"), col("arm"),
        when(col("endday") - col("d1") >= 90, 1L).otherwise(0L)
          .as("died"))
    val ga = pa.groupBy("t").agg(
      sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("e1"),
      sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("e0"),
      sum(when(col("arm") === 1L && col("died") === 1L, 1L)
        .otherwise(0L)).as("d1c"),
      sum(when(col("arm") === 0L && col("died") === 1L, 1L)
        .otherwise(0L)).as("d0c"))
    val wDesc = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val m = ga
      .withColumn("r1", sum("e1").over(wDesc))
      .withColumn("r0", sum("e0").over(wDesc))
      .select(col("t"), col("d1c"), col("d0c"),
        (col("r1") - col("e1")).as("a1"), // arm-1 at risk AFTER t
        (col("r0") - col("e0")).as("a0"))
    val dec = "decimal(38,0)"
    val agg = m.agg(
      sum(col("d1c").cast(dec) * col("a0").cast(dec)).as("conc"),
      sum(col("d0c").cast(dec) * col("a1").cast(dec)).as("disc"),
      sum(col("d1c").cast(dec) * col("a1").cast(dec) +
        col("d0c").cast(dec) * col("a0").cast(dec)).as("tied"))
    val tot = (col("conc") + col("disc") + col("tied")).cast("double")
    agg.select(col("conc").cast("long").as("concordant"),
      col("disc").cast("long").as("discordant"),
      col("tied").cast("long").as("risk_tied"),
      round((col("conc").cast("double") +
        lit(0.5) * col("tied").cast("double")) / safe(tot), 6)
        .as("c_index"),
      round((lit(2.0) * (col("conc").cast("double") +
        lit(0.5) * col("tied").cast("double")) / safe(tot)) - 1.0, 6)
        .as("somers_d"))
  }

  private val q341Sql =
    """WITH u AS (SELECT o_custkey,
           max(datediff('day', DATE '1990-01-01', o_orderdate::DATE))
             - min(datediff('day', DATE '1990-01-01',
               o_orderdate::DATE)) AS t,
           max(datediff('day', DATE '1990-01-01', o_orderdate::DATE))
             AS d1,
           ('0x' || substr(md5('km' || o_custkey::VARCHAR), 1, 15))
             ::BIGINT % 2 AS arm
         FROM orders GROUP BY o_custkey),
       fin AS (SELECT max(d1) AS endday FROM u),
       pa AS (SELECT t, arm,
                CASE WHEN endday - d1 >= 90 THEN 1 ELSE 0 END AS died
              FROM u, fin),
       ga AS (SELECT t,
           CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS e1,
           CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS e0,
           CAST(sum(CASE WHEN arm = 1 AND died = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS d1c,
           CAST(sum(CASE WHEN arm = 0 AND died = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS d0c
         FROM pa GROUP BY t),
       m AS (SELECT t, d1c, d0c,
           CAST(sum(e1) OVER (ORDER BY t DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) - e1 AS a1,
           CAST(sum(e0) OVER (ORDER BY t DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) - e0 AS a0
         FROM ga),
       agg AS (SELECT
           sum(d1c::HUGEINT * a0::HUGEINT) AS conc,
           sum(d0c::HUGEINT * a1::HUGEINT) AS disc,
           sum(d1c::HUGEINT * a1::HUGEINT
             + d0c::HUGEINT * a0::HUGEINT) AS tied
         FROM m)
       SELECT CAST(conc AS BIGINT) AS concordant,
         CAST(disc AS BIGINT) AS discordant,
         CAST(tied AS BIGINT) AS risk_tied,
         round((conc::DOUBLE + 0.5 * tied::DOUBLE)
           / greatest((conc + disc + tied)::DOUBLE, 1e-12), 6)
           AS c_index,
         round((2.0 * (conc::DOUBLE + 0.5 * tied::DOUBLE)
           / greatest((conc + disc + tied)::DOUBLE, 1e-12)) - 1.0, 6)
           AS somers_d
       FROM agg"""

  // --------------------------------------------------------------- q342
  /** Storey q-values — the FDR readout per hypothesis that q219's BH
    * step-up can't give (BH answers "which ranks clear α"; the
    * q-value is each test's OWN minimal FDR, and Storey's π̂0 =
    * #{p>λ}/((1−λ)m) recovers the power BH forfeits by assuming every
    * null is true). Shares q219's exact family construction verbatim
    * (same segments, same hash arms, same logistic-tail p-values), so
    * the two multiplicity readouts cannot drift. q_i = min_{j≥i}
    * π̂0·m·p_(j)/j via a reverse running min over the m-row family
    * table — every windowed value 9-dp-rounded first so the min
    * compares identical grids.
    */
  private def q342(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).withColumn("segment",
      concat(col("event_type"), lit("_d"),
        pmod(datediff(to_date(col("ts")), lit("2024-01-01").cast("date")),
          lit(7))))
    val fam = graft.operators.Experiment
      .welchAb(ev, "user_id", "value", "segment", salt = "ab")
      .filter(col("z").isNotNull)
      .withColumn("p_value",
        round(lit(2.0) / (lit(1.0) + exp(lit(1.702) * abs(col("z")))), 9))
    val whole = Window.partitionBy()
    val byP = Window.orderBy(col("p_value"), col("segment"))
    val ranked = fam
      .withColumn("m", count(lit(1)).over(whole))
      .withColumn("gt",
        sum(when(col("p_value") > 0.5, 1L).otherwise(0L)).over(whole))
      .withColumn("rank", row_number().over(byP))
    val pi0 = least(lit(1.0), greatest(
      col("gt").cast("double") / (lit(0.5) * col("m").cast("double")),
      lit(1.0) / col("m").cast("double")))
    val raw = ranked.withColumn("pi0", round(pi0, 6))
      .withColumn("q_raw", round(col("pi0") * col("m").cast("double") *
        col("p_value") / col("rank").cast("double"), 9))
    val revMin = Window.orderBy(col("rank").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    raw.withColumn("q_value", min(col("q_raw")).over(revMin))
      .select(col("segment"), col("z"), col("p_value"),
        col("rank").cast("int").as("rank"), col("pi0"),
        col("q_value"), (col("q_value") <= 0.1).as("significant"))
      .orderBy("rank")
  }

  private val q342Sql =
    """WITH b AS (SELECT
           event_type || '_d' ||
             (datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7)
               ::VARCHAR AS segment,
           value::DOUBLE AS x,
           ('0x' || substr(md5('ab' || user_id::VARCHAR), 1, 15))::BIGINT
             % 2 AS arm
         FROM events WHERE value IS NOT NULL),
       mo AS (SELECT segment,
               CAST(count(*) FILTER (arm = 0) AS BIGINT) AS n_a,
               CAST(count(*) FILTER (arm = 1) AS BIGINT) AS n_b,
               sum(x) FILTER (arm = 0) AS sa,
               sum(x) FILTER (arm = 1) AS sb,
               sum(x * x) FILTER (arm = 0) AS saa,
               sum(x * x) FILTER (arm = 1) AS sbb
             FROM b GROUP BY segment
             HAVING n_a >= 2 AND n_b >= 2),
       t AS (SELECT segment, n_a, n_b,
               sa / n_a AS ma, sb / n_b AS mb,
               greatest((saa / n_a - (sa / n_a) * (sa / n_a))
                 * n_a / (n_a - 1.0), 0.0) AS va,
               greatest((sbb / n_b - (sb / n_b) * (sb / n_b))
                 * n_b / (n_b - 1.0), 0.0) AS vb
             FROM mo),
       fam AS (SELECT segment,
               round((ma - mb) / sqrt(va / n_a + vb / n_b), 4) AS z
             FROM t WHERE va / n_a + vb / n_b > 0),
       pv AS (SELECT segment, z,
               round(2.0 / (1.0 + exp(1.702 * abs(z))), 9) AS p_value
             FROM fam),
       rk AS (SELECT *, count(*) OVER () AS m,
               CAST(sum(CASE WHEN p_value > 0.5 THEN 1 ELSE 0 END)
                 OVER () AS BIGINT) AS gt,
               row_number() OVER (ORDER BY p_value, segment) AS rank
             FROM pv),
       qr AS (SELECT *,
               round(least(1.0, greatest(gt::DOUBLE / (0.5 * m::DOUBLE),
                 1.0 / m::DOUBLE)), 6) AS pi0
             FROM rk),
       q2 AS (SELECT *,
               round(pi0 * m::DOUBLE * p_value / rank::DOUBLE, 9)
                 AS q_raw
             FROM qr),
       qv AS (SELECT *,
               min(q_raw) OVER (ORDER BY rank DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS q_value
             FROM q2)
       SELECT segment, z, p_value, CAST(rank AS INT) AS rank, pi0,
         q_value, (q_value <= 0.1) AS significant
       FROM qv ORDER BY rank"""

  // --------------------------------------------------------------- q343
  /** Linear-time MMD two-sample test (RBF kernel) — do the two label
    * parities come from the SAME embedding distribution, sensitive to
    * shape differences q334's 64-cell histogram smooths away? Gretton's
    * linear estimator: deterministic vec-id-ordered pairs inside each
    * parity (indices from the shared [[bucketedBelow]] placement — no
    * global sort), quadruples joined on pair index, h = k(x,x′) +
    * k(y,y′) − k(x,y′) − k(x′,y) at fixed σ² = 32 (d/2). Work is
    * LINEAR in samples (never the corpus² Gram matrix); per-quadruple
    * h quantizes to 1e-9-unit LONGs for the mean and (around the
    * broadcast exact mean) the variance, closing in a one-sample z.
    */
  private def q343(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val base = sc.checkpoint(Tables.embeddings(s, d)
      .select(col("vec_id"),
        (pmod(col("label"), lit(2)) === 0).as("pa"), col("embedding")))
    def pairsOf(pa: Boolean, v0: String, v1: String): DataFrame = {
      val g = base.filter(col("pa") === lit(pa))
        .select(col("vec_id").as("u"), col("embedding"))
      val idx = bucketedBelow(g.select(col("u"))
          .withColumn("one", lit(1L)), "u", Seq("one"))
        .select(col("u"), col("below_one").as("idx"))
      g.join(idx, Seq("u"))
        .select(expr("idx div 2").as("i"), pmod(col("idx"), lit(2L))
          .as("side"), col("embedding"))
        .groupBy("i")
        .agg(min_by(col("embedding"), col("side")).as(v0),
          max_by(col("embedding"), col("side")).as(v1),
          count(lit(1)).as("np"))
        .filter(col("np") === 2L)
        .select("i", v0, v1)
    }
    val quads = pairsOf(pa = true, "a0", "a1")
      .join(pairsOf(pa = false, "b0", "b1"), Seq("i"))
    import graft.functions.VectorFunctions.dot
    def k(x: Column, y: Column): Column =
      exp(-(dot(x, x) - lit(2.0) * dot(x, y) + dot(y, y)) / lit(64.0))
    val h = k(col("a0"), col("a1")) + k(col("b0"), col("b1")) -
      k(col("a0"), col("b1")) - k(col("a1"), col("b0"))
    val hq = sc.checkpoint(quads.select(col("i"), h.as("h")))
    val st1 = hq.agg(count(lit(1)).as("n"),
      sum(floor(col("h") * lit(1e9) + lit(0.5)).cast("long")).as("shu"))
    val st2 = hq.crossJoin(broadcast(st1))
      .select(col("n"), col("shu"),
        floor((col("h") - col("shu").cast("double") / 1e9 /
            greatest(col("n"), lit(1L)).cast("double")) *
          (col("h") - col("shu").cast("double") / 1e9 /
            greatest(col("n"), lit(1L)).cast("double")) * lit(1e9) +
          lit(0.5)).cast("long").as("du"))
      .groupBy("n", "shu").agg(sum("du").as("sdu"))
    val nD = col("n").cast("double")
    val mmd = col("shu").cast("double") / 1e9 / safe(nD)
    val se = sqrt(col("sdu").cast("double") / 1e9 /
      safe(nD - 1.0) / safe(nD))
    import graft.functions.Rounding.floorRound
    sc.keep(st2.select(col("n").as("n_quads"),
      floorRound(mmd, 6).as("mmd_linear"),
      round(se, 6).as("se"),
      floorRound(mmd / safe(se), 6).as("z")))
  }

  private val q343Sql =
    """WITH base AS (SELECT vec_id, (label % 2 = 0) AS pa,
           CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings),
       ia AS (SELECT vec_id, v,
               row_number() OVER (ORDER BY vec_id) - 1 AS idx
             FROM base WHERE pa),
       pa2 AS (SELECT idx // 2 AS i,
               arg_min(v, idx % 2) AS a0, arg_max(v, idx % 2) AS a1,
               count(*) AS np
             FROM ia GROUP BY idx // 2 HAVING count(*) = 2),
       ib AS (SELECT vec_id, v,
               row_number() OVER (ORDER BY vec_id) - 1 AS idx
             FROM base WHERE NOT pa),
       pb2 AS (SELECT idx // 2 AS i,
               arg_min(v, idx % 2) AS b0, arg_max(v, idx % 2) AS b1,
               count(*) AS np
             FROM ib GROUP BY idx // 2 HAVING count(*) = 2),
       quads AS (SELECT pa2.i, a0, a1, b0, b1
                 FROM pa2 JOIN pb2 ON pa2.i = pb2.i),
       hs AS (SELECT i,
           exp(-(list_dot_product(a0, a0)
               - 2.0 * list_dot_product(a0, a1)
               + list_dot_product(a1, a1)) / 64.0)
           + exp(-(list_dot_product(b0, b0)
               - 2.0 * list_dot_product(b0, b1)
               + list_dot_product(b1, b1)) / 64.0)
           - exp(-(list_dot_product(a0, a0)
               - 2.0 * list_dot_product(a0, b1)
               + list_dot_product(b1, b1)) / 64.0)
           - exp(-(list_dot_product(a1, a1)
               - 2.0 * list_dot_product(a1, b0)
               + list_dot_product(b0, b0)) / 64.0) AS h
         FROM quads),
       s1 AS (SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(h * 1e9 + 0.5) AS BIGINT))
                 AS BIGINT) AS shu
             FROM hs),
       s2 AS (SELECT n, shu,
           CAST(sum(CAST(floor((h - shu::DOUBLE / 1e9
                 / greatest(n, 1)::DOUBLE)
               * (h - shu::DOUBLE / 1e9 / greatest(n, 1)::DOUBLE)
               * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS sdu
         FROM hs, s1 GROUP BY n, shu)
       SELECT n AS n_quads,
         floor(shu::DOUBLE / 1e9 / greatest(n::DOUBLE, 1e-12) * 1e6
           + 0.5) / 1e6 AS mmd_linear,
         round(sqrt(sdu::DOUBLE / 1e9
           / greatest(n::DOUBLE - 1.0, 1e-12)
           / greatest(n::DOUBLE, 1e-12)), 6) AS se,
         floor((shu::DOUBLE / 1e9 / greatest(n::DOUBLE, 1e-12))
           / greatest(sqrt(sdu::DOUBLE / 1e9
             / greatest(n::DOUBLE - 1.0, 1e-12)
             / greatest(n::DOUBLE, 1e-12)), 1e-12) * 1e6 + 0.5) / 1e6
           AS z
       FROM s2"""

  // --------------------------------------------------------------- q344
  /** Two-component Gaussian-mixture EM on log document length — is
    * the corpus ONE population or a blend (e.g. snippets + articles)?
    * The unsupervised companion to q331's tail index: a bimodal
    * length mix breaks every single-threshold length filter. The
    * corpus collapses ONCE to the (length-value, count) table; four
    * EM rounds run as one aggregation each of 1e-6-quantized
    * responsibility-weighted sums over that checkpointed frame, with
    * the five mixture scalars carried on the 1e-9 grid driver-side
    * (the q302/q326/q337 bounded-loop shape) — the unrolled oracle
    * CTE chain replays identical arithmetic. Deterministic moment
    * init (m ± sd); separation closes as a Cohen-d-style readout.
    */
  private def q344(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val vc = sc.checkpoint(Tables.documents(s, d)
      .select(size(graft.functions.TextFunctions.words(col("text")))
        .cast("long").as("v"))
      .groupBy("v").agg(count(lit(1)).as("c"))
      .select(col("v"), col("c"),
        log(greatest(col("v"), lit(1L)).cast("double")).as("x")))
    def fl(v: Double, p: Double): Double = math.floor(v * p + 0.5) / p
    def g(x: Double): Double = math.max(x, 1e-12)
    // moment init from exact quantized sums
    val h = vc.agg(sum("c").as("n"),
      sum(floor(col("c").cast("double") * col("x") * lit(1e6) +
        lit(0.5)).cast("long")).as("su"),
      sum(floor(col("c").cast("double") * col("x") * col("x") *
        lit(1e6) + lit(0.5)).cast("long")).as("qu")).head()
    val (n, su, qu) = (h.getLong(0), h.getLong(1), h.getLong(2))
    val m0 = fl(su / 1e6 / g(n.toDouble), 1e9)
    val v0 = fl(math.max(qu / 1e6 / g(n.toDouble) - m0 * m0, 1e-6), 1e9)
    val sd0 = fl(math.sqrt(v0), 1e9)
    var (w, mu1, mu2, va1, va2) =
      (0.5, fl(m0 - sd0, 1e9), fl(m0 + sd0, 1e9), v0, v0)
    for (_ <- 1 to 4) {
      val p1 = exp(-(col("x") - lit(mu1)) * (col("x") - lit(mu1)) /
        (lit(2.0) * lit(va1))) / lit(math.sqrt(va1))
      val p2 = exp(-(col("x") - lit(mu2)) * (col("x") - lit(mu2)) /
        (lit(2.0) * lit(va2))) / lit(math.sqrt(va2))
      val r = lit(w) * p1 /
        greatest(lit(w) * p1 + (lit(1.0) - lit(w)) * p2, lit(1e-300))
      def qs(e: Column): Column =
        sum(floor(e * lit(1e6) + lit(0.5)).cast("long"))
      val cD = col("c").cast("double")
      val row = vc.agg(
        qs(cD * r).as("n1"), qs(cD * r * col("x")).as("s1"),
        qs(cD * r * col("x") * col("x")).as("q1"),
        qs(cD * (lit(1.0) - r)).as("n2"),
        qs(cD * (lit(1.0) - r) * col("x")).as("s2"),
        qs(cD * (lit(1.0) - r) * col("x") * col("x")).as("q2")).head()
      val (n1, s1, q1) = (row.getLong(0) / 1e6, row.getLong(1) / 1e6,
        row.getLong(2) / 1e6)
      val (n2, s2, q2) = (row.getLong(3) / 1e6, row.getLong(4) / 1e6,
        row.getLong(5) / 1e6)
      w = fl(n1 / g(n1 + n2), 1e9)
      mu1 = fl(s1 / g(n1), 1e9)
      va1 = fl(math.max(q1 / g(n1) - (s1 / g(n1)) * (s1 / g(n1)),
        1e-6), 1e9)
      mu2 = fl(s2 / g(n2), 1e9)
      va2 = fl(math.max(q2 / g(n2) - (s2 / g(n2)) * (s2 / g(n2)),
        1e-6), 1e9)
    }
    val sep = (mu2 - mu1) / math.sqrt((va1 + va2) / 2.0)
    sc.keep(vc.agg(sum("c").as("n_docs"))
      .select(col("n_docs"),
        lit(fl(w, 1e6)).as("weight_low"),
        lit(fl(mu1, 1e6)).as("mu_log_low"),
        lit(fl(mu2, 1e6)).as("mu_log_high"),
        lit(fl(math.sqrt(va1), 1e6)).as("sigma_low"),
        lit(fl(math.sqrt(va2), 1e6)).as("sigma_high"),
        lit(fl(sep, 1e4)).as("separation")))
  }

  private val q344Sql = {
    // one EM round from stage CTE `$st(w, mu1, mu2, va1, va2)`
    def r(st: String) =
      s"""($st.w * (exp(-(x - $st.mu1) * (x - $st.mu1)
           / (2.0 * $st.va1)) / sqrt($st.va1))
         / greatest($st.w * (exp(-(x - $st.mu1) * (x - $st.mu1)
             / (2.0 * $st.va1)) / sqrt($st.va1))
           + (1.0 - $st.w) * (exp(-(x - $st.mu2) * (x - $st.mu2)
             / (2.0 * $st.va2)) / sqrt($st.va2)), 1e-300))"""
    def it(st: String) =
      s"""(SELECT
           CAST(sum(CAST(floor(c::DOUBLE * ${r(st)} * 1e6 + 0.5)
             AS BIGINT)) AS BIGINT) AS n1,
           CAST(sum(CAST(floor(c::DOUBLE * ${r(st)} * x * 1e6 + 0.5)
             AS BIGINT)) AS BIGINT) AS s1,
           CAST(sum(CAST(floor(c::DOUBLE * ${r(st)} * x * x * 1e6
             + 0.5) AS BIGINT)) AS BIGINT) AS q1,
           CAST(sum(CAST(floor(c::DOUBLE * (1.0 - ${r(st)}) * 1e6
             + 0.5) AS BIGINT)) AS BIGINT) AS n2,
           CAST(sum(CAST(floor(c::DOUBLE * (1.0 - ${r(st)}) * x * 1e6
             + 0.5) AS BIGINT)) AS BIGINT) AS s2,
           CAST(sum(CAST(floor(c::DOUBLE * (1.0 - ${r(st)}) * x * x
             * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS q2
         FROM vc, $st)"""
    def upd(itn: String) =
      s"""(SELECT
           floor((n1::DOUBLE / 1e6) / greatest(n1::DOUBLE / 1e6
             + n2::DOUBLE / 1e6, 1e-12) * 1e9 + 0.5) / 1e9 AS w,
           floor((s1::DOUBLE / 1e6) / greatest(n1::DOUBLE / 1e6, 1e-12)
             * 1e9 + 0.5) / 1e9 AS mu1,
           floor((s2::DOUBLE / 1e6) / greatest(n2::DOUBLE / 1e6, 1e-12)
             * 1e9 + 0.5) / 1e9 AS mu2,
           floor(greatest(q1::DOUBLE / 1e6
               / greatest(n1::DOUBLE / 1e6, 1e-12)
             - ((s1::DOUBLE / 1e6) / greatest(n1::DOUBLE / 1e6, 1e-12))
               * ((s1::DOUBLE / 1e6)
                 / greatest(n1::DOUBLE / 1e6, 1e-12)), 1e-6)
             * 1e9 + 0.5) / 1e9 AS va1,
           floor(greatest(q2::DOUBLE / 1e6
               / greatest(n2::DOUBLE / 1e6, 1e-12)
             - ((s2::DOUBLE / 1e6) / greatest(n2::DOUBLE / 1e6, 1e-12))
               * ((s2::DOUBLE / 1e6)
                 / greatest(n2::DOUBLE / 1e6, 1e-12)), 1e-6)
             * 1e9 + 0.5) / 1e9 AS va2
         FROM $itn)"""
    s"""WITH vc AS MATERIALIZED (SELECT v, c,
           ln(greatest(v, 1)::DOUBLE) AS x
         FROM (SELECT CAST(len(regexp_split_to_array(trim(text),
                 '\\s+')) AS BIGINT) AS v,
               CAST(count(*) AS BIGINT) AS c
             FROM documents GROUP BY 1)),
       hd AS (SELECT CAST(sum(c) AS BIGINT) AS n,
           CAST(sum(CAST(floor(c::DOUBLE * x * 1e6 + 0.5) AS BIGINT))
             AS BIGINT) AS su,
           CAST(sum(CAST(floor(c::DOUBLE * x * x * 1e6 + 0.5)
             AS BIGINT)) AS BIGINT) AS qu
         FROM vc),
       ini AS (SELECT
           floor(su::DOUBLE / 1e6 / greatest(n::DOUBLE, 1e-12) * 1e9
             + 0.5) / 1e9 AS m0,
           floor(greatest(qu::DOUBLE / 1e6 / greatest(n::DOUBLE, 1e-12)
             - (floor(su::DOUBLE / 1e6 / greatest(n::DOUBLE, 1e-12)
                 * 1e9 + 0.5) / 1e9)
               * (floor(su::DOUBLE / 1e6 / greatest(n::DOUBLE, 1e-12)
                 * 1e9 + 0.5) / 1e9), 1e-6) * 1e9 + 0.5) / 1e9 AS v0
         FROM hd),
       s0 AS (SELECT 0.5 AS w,
           floor((m0 - floor(sqrt(v0) * 1e9 + 0.5) / 1e9) * 1e9 + 0.5)
             / 1e9 AS mu1,
           floor((m0 + floor(sqrt(v0) * 1e9 + 0.5) / 1e9) * 1e9 + 0.5)
             / 1e9 AS mu2,
           v0 AS va1, v0 AS va2
         FROM ini),
       it1 AS MATERIALIZED ${it("s0")},
       s1 AS MATERIALIZED ${upd("it1")},
       it2 AS MATERIALIZED ${it("s1")},
       s2 AS MATERIALIZED ${upd("it2")},
       it3 AS MATERIALIZED ${it("s2")},
       s3 AS MATERIALIZED ${upd("it3")},
       it4 AS MATERIALIZED ${it("s3")},
       s4 AS MATERIALIZED ${upd("it4")}
       SELECT hd.n AS n_docs,
         floor(s4.w * 1e6 + 0.5) / 1e6 AS weight_low,
         floor(s4.mu1 * 1e6 + 0.5) / 1e6 AS mu_log_low,
         floor(s4.mu2 * 1e6 + 0.5) / 1e6 AS mu_log_high,
         floor(sqrt(s4.va1) * 1e6 + 0.5) / 1e6 AS sigma_low,
         floor(sqrt(s4.va2) * 1e6 + 0.5) / 1e6 AS sigma_high,
         floor((s4.mu2 - s4.mu1) / sqrt((s4.va1 + s4.va2) / 2.0) * 1e4
           + 0.5) / 1e4 AS separation
       FROM hd, s4"""
  }

  // --------------------------------------------------------------- q345
  /** Wald–Wolfowitz runs test — is the daily revenue direction
    * RANDOM, or does it streak/alternate? (q255's Durbin–Watson sees
    * linear autocorrelation; runs sees any directional persistence.)
    * Up/down signs from exact cent differences (ties dropped, the
    * standard convention), the run count from one lag pass over the
    * calendar-bounded sign series, closed-form normal z from exact
    * LONG counts. One corpus collapse to the day grid.
    */
  private def q345(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .select(to_date(col("o_orderdate")).as("dt"),
        round(col("o_totalprice") * 100, 0).cast("long").as("c"))
      .groupBy("dt").agg(sum("c").as("c"))
    val span = daily.agg(min("dt").as("d0"), max("dt").as("d1"))
    val grid = span.select(col("d0"),
        explode(sequence(col("d0"), col("d1"))).as("dt"))
      .join(daily, Seq("dt"), "left")
      .select(datediff(col("dt"), col("d0")).cast("long").as("t"),
        coalesce(col("c"), lit(0L)).as("c"))
    val wLag = Window.orderBy("t")
    val signs = grid
      .withColumn("dd", col("c") - lag(col("c"), 1).over(wLag))
      .filter(col("dd").isNotNull && col("dd") =!= 0L)
      .select(col("t"), when(col("dd") > 0L, 1L).otherwise(0L).as("s"))
    val runs = signs
      .withColumn("prev", lag(col("s"), 1).over(wLag))
      .select(col("s"),
        when(col("prev").isNull || col("prev") =!= col("s"), 1L)
          .otherwise(0L).as("newrun"))
      .agg(count(lit(1)).as("n"),
        sum("s").as("n_up"), sum("newrun").as("r"))
    val n1 = col("n_up").cast("double")
    val n2 = (col("n") - col("n_up")).cast("double")
    val nD = col("n").cast("double")
    val eR = lit(1.0) + lit(2.0) * n1 * n2 / safe(nD)
    val vR = lit(2.0) * n1 * n2 * (lit(2.0) * n1 * n2 - nD) /
      safe(nD * nD * (nD - 1.0))
    import graft.functions.Rounding.floorRound
    runs.select(col("n").as("n_moves"), col("n_up"),
      (col("n") - col("n_up")).as("n_down"), col("r").as("n_runs"),
      round(eR, 6).as("expected_runs"),
      floorRound((col("r").cast("double") - eR) /
        safe(sqrt(greatest(vR, lit(0.0)))), 6).as("z"))
  }

  private val q345Sql =
    """WITH daily AS (SELECT o_orderdate::DATE AS dt,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS c
         FROM orders GROUP BY 1),
       span AS (SELECT min(dt) AS d0, max(dt) AS d1 FROM daily),
       grid AS (SELECT CAST(unnest(generate_series(d0, d1,
                  INTERVAL 1 DAY)) AS DATE) AS dt, d0 FROM span),
       g2 AS (SELECT CAST(datediff('day', g.d0, g.dt) AS BIGINT) AS t,
                coalesce(daily.c, 0) AS c
              FROM grid g LEFT JOIN daily ON g.dt = daily.dt),
       dif AS (SELECT t, c - lag(c, 1) OVER (ORDER BY t) AS dd FROM g2),
       sg AS (SELECT t, CASE WHEN dd > 0 THEN 1 ELSE 0 END AS s
              FROM dif WHERE dd IS NOT NULL AND dd <> 0),
       rr AS (SELECT s, CASE WHEN lag(s, 1) OVER (ORDER BY t) IS NULL
                OR lag(s, 1) OVER (ORDER BY t) <> s THEN 1 ELSE 0 END
                AS newrun
             FROM sg),
       agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(s) AS BIGINT) AS n_up,
               CAST(sum(newrun) AS BIGINT) AS r FROM rr),
       f AS (SELECT n, n_up, n - n_up AS n_down, r,
           1.0 + 2.0 * n_up::DOUBLE * (n - n_up)::DOUBLE
             / greatest(n::DOUBLE, 1e-12) AS er,
           2.0 * n_up::DOUBLE * (n - n_up)::DOUBLE
             * (2.0 * n_up::DOUBLE * (n - n_up)::DOUBLE - n::DOUBLE)
             / greatest(n::DOUBLE * n::DOUBLE * (n::DOUBLE - 1.0),
               1e-12) AS vr
         FROM agg)
       SELECT n AS n_moves, n_up, n_down, r AS n_runs,
         round(er, 6) AS expected_runs,
         floor((r::DOUBLE - er)
           / greatest(sqrt(greatest(vr, 0.0)), 1e-12) * 1e6 + 0.5)
           / 1e6 AS z
       FROM f"""

  // --------------------------------------------------------------- q346
  /** Jarque–Bera normality test on daily log-scale revenue — the
    * assumption check every z/t readout in the family leans on:
    * skewness and excess kurtosis from central moments around the
    * EXACT integer-cent mean, each per-day deviation power quantized
    * to 1e-6-unit LONGs ($10k units keep fourth powers inside
    * double precision at any SF), JB = n/6·(S² + (K−3)²/4). Two
    * bounded passes over the day table with the broadcast exact mean.
    */
  private def q346(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .select(to_date(col("o_orderdate")).as("dt"),
        round(col("o_totalprice") * 100, 0).cast("long").as("c"))
      .groupBy("dt").agg(sum("c").as("c"))
    val dec = "decimal(38,0)"
    // exact integer-cent first/second moments -> sd WITHOUT any
    // quantized pass, so the second pass standardizes: z powers are
    // O(10) at ANY SF (raw $-unit fourth powers overflowed the LONG
    // grid at sf0.1 already)
    val tot = daily.agg(count(lit(1)).as("n"), sum("c").as("sy"),
      sum(col("c").cast(dec) * col("c").cast(dec)).as("syy"))
    val nD = col("n").cast("double")
    val mean = col("sy").cast("double") / safe(nD)
    val sd = sqrt(greatest(col("syy").cast("double") / safe(nD) -
      mean * mean, lit(1e-12)))
    val z = (col("c").cast("double") - mean) / sd
    def qz(c: Column): Column =
      floor(c * lit(1e6) + lit(0.5)).cast("long")
    val st = daily.crossJoin(broadcast(tot))
      .select(col("n"), qz(z * z * z).as("z3"),
        qz(z * z * z * z).as("z4"))
      .groupBy("n")
      .agg(sum("z3").as("m3u"), sum("z4").as("m4u"))
    val skew = col("m3u").cast("double") / 1e6 / safe(nD)
    val kurt = col("m4u").cast("double") / 1e6 / safe(nD)
    import graft.functions.Rounding.floorRound
    st.select(col("n").as("n_days"),
      floorRound(skew, 6).as("skewness"),
      floorRound(kurt, 6).as("kurtosis"),
      round(nD / 6.0 * (skew * skew +
        (kurt - 3.0) * (kurt - 3.0) / 4.0), 4).as("jb_stat"))
  }

  private val q346Sql =
    """WITH daily AS (SELECT o_orderdate::DATE AS dt,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS c
         FROM orders GROUP BY 1),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(c) AS BIGINT) AS sy,
               sum(c::HUGEINT * c::HUGEINT) AS syy FROM daily),
       st AS (SELECT n,
           CAST(sum(CAST(floor(
               ((c::DOUBLE - sy::DOUBLE / greatest(n::DOUBLE, 1e-12))
                 / sqrt(greatest(syy::DOUBLE
                     / greatest(n::DOUBLE, 1e-12)
                   - (sy::DOUBLE / greatest(n::DOUBLE, 1e-12))
                     * (sy::DOUBLE / greatest(n::DOUBLE, 1e-12)),
                   1e-12)))
             * ((c::DOUBLE - sy::DOUBLE / greatest(n::DOUBLE, 1e-12))
                 / sqrt(greatest(syy::DOUBLE
                     / greatest(n::DOUBLE, 1e-12)
                   - (sy::DOUBLE / greatest(n::DOUBLE, 1e-12))
                     * (sy::DOUBLE / greatest(n::DOUBLE, 1e-12)),
                   1e-12)))
             * ((c::DOUBLE - sy::DOUBLE / greatest(n::DOUBLE, 1e-12))
                 / sqrt(greatest(syy::DOUBLE
                     / greatest(n::DOUBLE, 1e-12)
                   - (sy::DOUBLE / greatest(n::DOUBLE, 1e-12))
                     * (sy::DOUBLE / greatest(n::DOUBLE, 1e-12)),
                   1e-12)))
             * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS m3u,
           CAST(sum(CAST(floor(
               ((c::DOUBLE - sy::DOUBLE / greatest(n::DOUBLE, 1e-12))
                 / sqrt(greatest(syy::DOUBLE
                     / greatest(n::DOUBLE, 1e-12)
                   - (sy::DOUBLE / greatest(n::DOUBLE, 1e-12))
                     * (sy::DOUBLE / greatest(n::DOUBLE, 1e-12)),
                   1e-12)))
             * ((c::DOUBLE - sy::DOUBLE / greatest(n::DOUBLE, 1e-12))
                 / sqrt(greatest(syy::DOUBLE
                     / greatest(n::DOUBLE, 1e-12)
                   - (sy::DOUBLE / greatest(n::DOUBLE, 1e-12))
                     * (sy::DOUBLE / greatest(n::DOUBLE, 1e-12)),
                   1e-12)))
             * ((c::DOUBLE - sy::DOUBLE / greatest(n::DOUBLE, 1e-12))
                 / sqrt(greatest(syy::DOUBLE
                     / greatest(n::DOUBLE, 1e-12)
                   - (sy::DOUBLE / greatest(n::DOUBLE, 1e-12))
                     * (sy::DOUBLE / greatest(n::DOUBLE, 1e-12)),
                   1e-12)))
             * ((c::DOUBLE - sy::DOUBLE / greatest(n::DOUBLE, 1e-12))
                 / sqrt(greatest(syy::DOUBLE
                     / greatest(n::DOUBLE, 1e-12)
                   - (sy::DOUBLE / greatest(n::DOUBLE, 1e-12))
                     * (sy::DOUBLE / greatest(n::DOUBLE, 1e-12)),
                   1e-12)))
             * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS m4u
         FROM daily, tot GROUP BY n)
       SELECT n AS n_days,
         floor(m3u::DOUBLE / 1e6 / greatest(n::DOUBLE, 1e-12) * 1e6
           + 0.5) / 1e6 AS skewness,
         floor(m4u::DOUBLE / 1e6 / greatest(n::DOUBLE, 1e-12) * 1e6
           + 0.5) / 1e6 AS kurtosis,
         round(n::DOUBLE / 6.0
           * ((m3u::DOUBLE / 1e6 / greatest(n::DOUBLE, 1e-12))
               * (m3u::DOUBLE / 1e6 / greatest(n::DOUBLE, 1e-12))
             + (m4u::DOUBLE / 1e6 / greatest(n::DOUBLE, 1e-12) - 3.0)
               * (m4u::DOUBLE / 1e6 / greatest(n::DOUBLE, 1e-12) - 3.0)
               / 4.0), 4) AS jb_stat
       FROM st"""

  // --------------------------------------------------------------- q347
  /** Page's trend test — the ORDERED alternative q317's Friedman
    * omnibus throws away: if event types are hypothesized to rank in
    * a FIXED order (here: alphabetical, the documented convention),
    * L = Σ j·R_j concentrates power on that monotone ordering. Shares
    * q317's exact 2×-grid within-day ranks verbatim; L, E[L] and
    * Var[L] all close from integers (ties left uncorrected — the
    * classical statistic), one FP division for z.
    */
  private def q347(s: SparkSession, d: String): DataFrame = {
    val obs = Tables.events(s, d)
      .select(to_date(col("ts")).as("dt"), col("event_type").as("g"))
      .groupBy("dt", "g").agg(count(lit(1)).as("c"))
    val days = obs.select("dt").distinct()
    val wOrd = Window.orderBy("g")
    val types = obs.select("g").distinct()
      .withColumn("j", row_number().over(wOrd).cast("long"))
    val grid = days.crossJoin(broadcast(types))
      .join(obs, Seq("dt", "g"), "left")
      .na.fill(0L, Seq("c"))
    val tiesInDay = grid.groupBy("dt", "c").agg(count(lit(1)).as("m"))
    val wDay = Window.partitionBy("dt").orderBy("c")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ar = tiesInDay
      .withColumn("bl", coalesce(sum("m").over(wDay), lit(0L)))
      .select(col("dt"), col("c"),
        (lit(2L) * col("bl") + col("m") + lit(1L)).as("r2"))
    val perType = grid.join(ar, Seq("dt", "c"))
      .groupBy("g", "j").agg(sum("r2").as("r2j"))
    val tot = perType.agg(sum(col("j") * col("r2j")).as("l2"),
      count(lit(1)).as("k"))
    val nDf = days.agg(count(lit(1)).as("n"))
    val f = tot.crossJoin(broadcast(nDf))
    val nD = col("n").cast("double")
    val kD = col("k").cast("double")
    // L = L2/2; E[L] = n·k(k+1)²/4; Var[L] = n·k²(k+1)(k²−1)/144
    val lD = col("l2").cast("double") / 2.0
    val eL = nD * kD * (kD + 1.0) * (kD + 1.0) / 4.0
    val vL = nD * kD * kD * (kD + 1.0) * (kD * kD - 1.0) / 144.0
    import graft.functions.Rounding.floorRound
    f.select(col("n").as("n_days"), col("k"),
      lD.cast("long").as("l_stat"),
      round(eL, 2).as("expected_l"),
      floorRound((lD - eL) / safe(sqrt(vL)), 6).as("z"))
  }

  private val q347Sql =
    """WITH obs AS (SELECT ts::DATE AS dt, event_type AS g,
           CAST(count(*) AS BIGINT) AS c
         FROM events GROUP BY 1, 2),
       types AS (SELECT g, CAST(row_number() OVER (ORDER BY g)
                 AS BIGINT) AS j
               FROM (SELECT DISTINCT g FROM obs)),
       grid AS (SELECT dd.dt, tt.g, tt.j, coalesce(obs.c, 0) AS c
             FROM (SELECT DISTINCT dt FROM obs) dd
             CROSS JOIN types tt
             LEFT JOIN obs ON obs.dt = dd.dt AND obs.g = tt.g),
       tid AS (SELECT dt, c, CAST(count(*) AS BIGINT) AS m
               FROM grid GROUP BY dt, c),
       ar AS (SELECT dt, c,
               2 * coalesce(sum(m) OVER (PARTITION BY dt ORDER BY c
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 + m + 1 AS r2
             FROM tid),
       pt AS (SELECT g.j, CAST(sum(ar.r2) AS BIGINT) AS r2j
              FROM grid g JOIN ar ON ar.dt = g.dt AND ar.c = g.c
              GROUP BY g.j),
       tot AS (SELECT CAST(sum(j * r2j) AS BIGINT) AS l2,
               CAST(count(*) AS BIGINT) AS k FROM pt),
       nn AS (SELECT CAST(count(DISTINCT dt) AS BIGINT) AS n FROM obs),
       f AS (SELECT n, k, l2,
           l2::DOUBLE / 2.0 AS ld,
           n::DOUBLE * k::DOUBLE * (k::DOUBLE + 1.0)
             * (k::DOUBLE + 1.0) / 4.0 AS el,
           n::DOUBLE * k::DOUBLE * k::DOUBLE * (k::DOUBLE + 1.0)
             * (k::DOUBLE * k::DOUBLE - 1.0) / 144.0 AS vl
         FROM tot, nn)
       SELECT n AS n_days, k, CAST(ld AS BIGINT) AS l_stat,
         round(el, 2) AS expected_l,
         floor((ld - el) / greatest(sqrt(vl), 1e-12) * 1e6 + 0.5) / 1e6
           AS z
       FROM f"""

  // --------------------------------------------------------------- q348
  /** Breusch–Pagan heteroscedasticity test — does the daily-revenue
    * trend's ERROR VARIANCE drift with time? (q255's Durbin–Watson
    * checks error correlation; every OLS interval in the family
    * assumes homoscedasticity.) Closed-form OLS on exact day sums,
    * residual squares quantized to 1e-6-unit LONGs ($10k units), then
    * BP = n·R² of e² on t from exact integer second-pass sums — two
    * bounded passes over the calendar-bounded day table with the
    * broadcast fitted line.
    */
  private def q348(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val daily = Tables.orders(s, d)
      .select(to_date(col("o_orderdate")).as("dt"),
        round(col("o_totalprice") * 100, 0).cast("long").as("c"))
      .groupBy("dt").agg(sum("c").as("c"))
    val span = daily.agg(min("dt").as("d0"), max("dt").as("d1"))
    val grid = sc.checkpoint(span.select(col("d0"),
        explode(sequence(col("d0"), col("d1"))).as("dt"))
      .join(daily, Seq("dt"), "left")
      .select(datediff(col("dt"), col("d0")).cast("long").as("t"),
        (coalesce(col("c"), lit(0L)).cast("double") / 1e6).as("r")))
    val dec = "decimal(38,0)"
    val s1 = grid.agg(count(lit(1)).as("n"), sum("t").as("st"),
      sum(col("t").cast(dec) * col("t").cast(dec)).as("stt"),
      sum(floor(col("r") * lit(1e6) + lit(0.5)).cast("long")).as("sru"),
      sum(floor(col("t").cast("double") * col("r") * lit(1e6) +
        lit(0.5)).cast("long")).as("srtu"))
    val nD = col("n").cast("double")
    val beta = (nD * (col("srtu").cast("double") / 1e6) -
      col("st").cast("double") * (col("sru").cast("double") / 1e6)) /
      safe(nD * col("stt").cast("double") -
        col("st").cast("double") * col("st").cast("double"))
    val alpha = (col("sru").cast("double") / 1e6) / safe(nD) -
      beta * col("st").cast("double") / safe(nD)
    val head = s1.select(col("n"), col("st"), col("stt"),
      beta.as("beta"), alpha.as("alpha"))
    val e = col("r") - (col("alpha") + col("beta") *
      col("t").cast("double"))
    val gu = floor(e * e * lit(1e6) + lit(0.5)).cast("long")
    val s2 = grid.crossJoin(broadcast(head))
      .select(col("n"), col("st"), col("stt"), col("beta"),
        col("t"), gu.as("gu"))
      .groupBy("n", "st", "stt", "beta")
      .agg(sum("gu").as("sg"),
        sum(col("gu").cast(dec) * col("t").cast(dec)).as("sgt"),
        sum(col("gu").cast(dec) * col("gu").cast(dec)).as("sgg"))
    val num = nD * col("sgt").cast("double") -
      col("st").cast("double") * col("sg").cast("double")
    val denx = nD * col("stt").cast("double") -
      col("st").cast("double") * col("st").cast("double")
    val deng = nD * col("sgg").cast("double") -
      col("sg").cast("double") * col("sg").cast("double")
    val r2 = num * num / safe(denx * deng)
    import graft.functions.Rounding.floorRound
    sc.keep(s2.select(col("n").as("n_days"),
      floorRound(col("beta"), 6).as("beta"),
      round(r2, 6).as("r2_aux"),
      round(nD * r2, 4).as("bp_stat"), lit(1L).as("dof")))
  }

  private val q348Sql =
    """WITH daily AS (SELECT o_orderdate::DATE AS dt,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS c
         FROM orders GROUP BY 1),
       span AS (SELECT min(dt) AS d0, max(dt) AS d1 FROM daily),
       grid0 AS (SELECT CAST(unnest(generate_series(d0, d1,
                  INTERVAL 1 DAY)) AS DATE) AS dt, d0 FROM span),
       grid AS MATERIALIZED (SELECT
               CAST(datediff('day', g.d0, g.dt) AS BIGINT) AS t,
               coalesce(daily.c, 0)::DOUBLE / 1e6 AS r
             FROM grid0 g LEFT JOIN daily ON g.dt = daily.dt),
       s1 AS (SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(t) AS BIGINT) AS st,
               sum(t::HUGEINT * t::HUGEINT) AS stt,
               CAST(sum(CAST(floor(r * 1e6 + 0.5) AS BIGINT))
                 AS BIGINT) AS sru,
               CAST(sum(CAST(floor(t::DOUBLE * r * 1e6 + 0.5)
                 AS BIGINT)) AS BIGINT) AS srtu
             FROM grid),
       hd AS (SELECT n, st, stt,
           (n::DOUBLE * (srtu::DOUBLE / 1e6)
             - st::DOUBLE * (sru::DOUBLE / 1e6))
           / greatest(n::DOUBLE * stt::DOUBLE
             - st::DOUBLE * st::DOUBLE, 1e-12) AS beta,
           (sru::DOUBLE / 1e6) / greatest(n::DOUBLE, 1e-12)
             - ((n::DOUBLE * (srtu::DOUBLE / 1e6)
                 - st::DOUBLE * (sru::DOUBLE / 1e6))
               / greatest(n::DOUBLE * stt::DOUBLE
                 - st::DOUBLE * st::DOUBLE, 1e-12))
               * st::DOUBLE / greatest(n::DOUBLE, 1e-12) AS alpha
         FROM s1),
       s2 AS (SELECT n, st, stt, beta,
           CAST(sum(CAST(floor((r - (alpha + beta * t::DOUBLE))
               * (r - (alpha + beta * t::DOUBLE)) * 1e6 + 0.5)
             AS BIGINT)) AS BIGINT) AS sg,
           sum(CAST(floor((r - (alpha + beta * t::DOUBLE))
               * (r - (alpha + beta * t::DOUBLE)) * 1e6 + 0.5)
             AS BIGINT)::HUGEINT * t::HUGEINT) AS sgt,
           sum(CAST(floor((r - (alpha + beta * t::DOUBLE))
               * (r - (alpha + beta * t::DOUBLE)) * 1e6 + 0.5)
             AS BIGINT)::HUGEINT
             * CAST(floor((r - (alpha + beta * t::DOUBLE))
               * (r - (alpha + beta * t::DOUBLE)) * 1e6 + 0.5)
             AS BIGINT)::HUGEINT) AS sgg
         FROM grid, hd GROUP BY n, st, stt, beta),
       f AS (SELECT n, beta,
           (n::DOUBLE * sgt::DOUBLE - st::DOUBLE * sg::DOUBLE)
             * (n::DOUBLE * sgt::DOUBLE - st::DOUBLE * sg::DOUBLE)
           / greatest((n::DOUBLE * stt::DOUBLE
               - st::DOUBLE * st::DOUBLE)
             * (n::DOUBLE * sgg::DOUBLE - sg::DOUBLE * sg::DOUBLE),
             1e-12) AS r2
         FROM s2)
       SELECT n AS n_days,
         floor(beta * 1e6 + 0.5) / 1e6 AS beta,
         round(r2, 6) AS r2_aux,
         round(n::DOUBLE * r2, 4) AS bp_stat,
         1::BIGINT AS dof
       FROM f"""

  // --------------------------------------------------------------- q349
  /** Source diversity — how CONCENTRATED is the corpus, in the units
    * mixing decisions are made in? Shannon entropy of the source
    * distribution by DOCS and by TOKENS, each with its "effective
    * number of sources" exp(H) (the q217 Gini says inequality; exp H
    * says how many equal sources the mix behaves like — the number a
    * data-mixing budget actually divides by). Per-source log terms
    * quantize to 1e-9-unit LONGs over the |sources|-row table; one
    * corpus aggregation.
    */
  private def q349(s: SparkSession, d: String): DataFrame = {
    val per = Tables.documents(s, d)
      .select(col("source"),
        size(graft.functions.TextFunctions.words(col("text")))
          .cast("long").as("tk"))
      .groupBy("source")
      .agg(count(lit(1)).as("nd"), sum("tk").as("nt"))
    val tot = per.agg(sum("nd").as("td"), sum("nt").as("tt"),
      count(lit(1)).as("k"))
    val t = per.crossJoin(broadcast(tot))
    val pd = col("nd").cast("double") / safe(col("td").cast("double"))
    val pt = col("nt").cast("double") / safe(col("tt").cast("double"))
    val terms = t.select(col("k"), col("td"), col("tt"),
      floor(pd * log(pd) * lit(1e9) + lit(0.5)).cast("long").as("hd"),
      floor(pt * log(pt) * lit(1e9) + lit(0.5)).cast("long").as("ht"))
    val agg = terms.groupBy("k", "td", "tt")
      .agg(sum("hd").as("shd"), sum("ht").as("sht"))
    val hDocs = -col("shd").cast("double") / 1e9
    val hToks = -col("sht").cast("double") / 1e9
    agg.select(col("k").as("n_sources"), col("td").as("n_docs"),
      col("tt").as("n_tokens"),
      round(hDocs, 6).as("h_docs"),
      round(exp(hDocs), 4).as("effective_sources_docs"),
      round(hToks, 6).as("h_tokens"),
      round(exp(hToks), 4).as("effective_sources_tokens"))
  }

  private val q349Sql =
    """WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS nd,
           CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
             AS BIGINT) AS nt
         FROM documents GROUP BY source),
       tot AS (SELECT CAST(sum(nd) AS BIGINT) AS td,
               CAST(sum(nt) AS BIGINT) AS tt,
               CAST(count(*) AS BIGINT) AS k FROM per),
       terms AS (SELECT k, td, tt,
           CAST(floor((nd::DOUBLE / greatest(td::DOUBLE, 1e-12))
               * ln(nd::DOUBLE / greatest(td::DOUBLE, 1e-12)) * 1e9
               + 0.5) AS BIGINT) AS hd,
           CAST(floor((nt::DOUBLE / greatest(tt::DOUBLE, 1e-12))
               * ln(nt::DOUBLE / greatest(tt::DOUBLE, 1e-12)) * 1e9
               + 0.5) AS BIGINT) AS ht
         FROM per, tot),
       agg AS (SELECT k, td, tt, CAST(sum(hd) AS BIGINT) AS shd,
               CAST(sum(ht) AS BIGINT) AS sht
             FROM terms GROUP BY k, td, tt)
       SELECT k AS n_sources, td AS n_docs, tt AS n_tokens,
         round(-shd::DOUBLE / 1e9, 6) AS h_docs,
         round(exp(-shd::DOUBLE / 1e9), 4) AS effective_sources_docs,
         round(-sht::DOUBLE / 1e9, 6) AS h_tokens,
         round(exp(-sht::DOUBLE / 1e9), 4) AS effective_sources_tokens
       FROM agg"""

  // --------------------------------------------------------------- q350
  /** Standardized type–token ratio (STTR-25) — lexical diversity per
    * source that raw TTR can't give (TTR falls mechanically with
    * length, so long-document sources always look "poor"): tokens
    * chunk into fixed 25-token blocks per document (the corpus's docs
    * run 10–99 tokens, so 100-token blocks would be vacuous), TTR per
    * COMPLETE block, doc-position-deterministic; per-block ratios are exact
    * int/int doubles quantized to 1e-6-unit LONGs before the source
    * mean. One posexplode pass; block table ≈ corpus/100 rows.
    */
  private def q350(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        posexplode(graft.functions.TextFunctions.words(col("text"))))
      .select(col("doc_id"), col("source"),
        expr("pos div 25").as("blk"), col("pos"), col("col").as("w"))
    val blocks = toks.groupBy("doc_id", "source", "blk")
      .agg(count(lit(1)).as("n_tok"), countDistinct(col("w")).as("n_typ"))
      .filter(col("n_tok") === 25L)
    val per = blocks
      .select(col("source"),
        floor(col("n_typ").cast("double") /
          col("n_tok").cast("double") * lit(1e6) + lit(0.5))
          .cast("long").as("tu"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_blocks"), sum("tu").as("stu"))
    per.select(col("source"), col("n_blocks"),
        round(col("stu").cast("double") / 1e6 /
          safe(col("n_blocks").cast("double")), 6).as("sttr_25"))
      .orderBy("source")
  }

  private val q350Sql =
    """WITH toks AS (SELECT doc_id, source,
           (i - 1) // 25 AS blk, w[CAST(i AS INTEGER)] AS t
         FROM (SELECT doc_id, source,
                 regexp_split_to_array(trim(text), '\s+') AS w,
                 unnest(range(1, len(regexp_split_to_array(trim(text),
                   '\s+')) + 1)) AS i
               FROM documents)),
       blocks AS (SELECT doc_id, source, blk,
               CAST(count(*) AS BIGINT) AS n_tok,
               CAST(count(DISTINCT t) AS BIGINT) AS n_typ
             FROM toks GROUP BY doc_id, source, blk
             HAVING count(*) = 25),
       per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_blocks,
               CAST(sum(CAST(floor(n_typ::DOUBLE / n_tok::DOUBLE * 1e6
                 + 0.5) AS BIGINT)) AS BIGINT) AS stu
             FROM blocks GROUP BY source)
       SELECT source, n_blocks,
         round(stu::DOUBLE / 1e6 / greatest(n_blocks::DOUBLE, 1e-12), 6)
           AS sttr_25
       FROM per ORDER BY source"""

  val entries: Seq[Query] = Seq(
    Query("q316_kruskal_wallis", q316, q316Sql),
    Query("q317_friedman", q317, q317Sql),
    Query("q318_fleiss_kappa", q318, q318Sql),
    Query("q319_competing_risks", q319, q319Sql),
    Query("q320_meta_analysis", q320, q320Sql),
    Query("q321_naive_bayes", q321, q321Sql),
    Query("q322_distance_corr", q322, q322Sql),
    Query("q323_jackknife_ratio", q323, q323Sql),
    Query("q324_topic_coherence", q324, q324Sql),
    Query("q325_dirichlet_lm", q325, q325Sql),
    Query("q326_platt_scaling", q326, q326Sql),
    Query("q327_entropy_rate", q327, q327Sql),
    Query("q328_dunn_posthoc", q328, q328Sql),
    Query("q329_capture_recapture", q329, q329Sql),
    Query("q330_mcc_f1", q330, q330Sql),
    Query("q331_hill_tail", q331, q331Sql),
    Query("q332_propensity_overlap", q332, q332Sql),
    Query("q333_ngram_novelty", q333, q333Sql),
    Query("q334_embedding_js", q334, q334Sql),
    Query("q335_optimal_threshold", q335, q335Sql),
    Query("q336_sequential_patterns", q336, q336Sql),
    Query("q337_poisson_trend", q337, q337Sql),
    Query("q339_wilcoxon_signed_rank", q339, q339Sql),
    Query("q340_delong_auc", q340, q340Sql),
    Query("q341_c_index", q341, q341Sql),
    Query("q342_storey_qvalues", q342, q342Sql),
    Query("q343_mmd_linear", q343, q343Sql),
    Query("q344_gmm_em", q344, q344Sql),
    Query("q345_runs_test", q345, q345Sql),
    Query("q346_jarque_bera", q346, q346Sql),
    Query("q347_page_trend", q347, q347Sql),
    Query("q348_breusch_pagan", q348, q348Sql),
    Query("q349_source_diversity", q349, q349Sql),
    Query("q350_sttr", q350, q350Sql))
}
