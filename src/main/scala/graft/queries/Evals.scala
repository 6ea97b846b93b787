package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Exec
// cross-engine deterministic rounding shadows functions.round
import graft.functions.Rounding.{roundTo => round}

import graft.Tables
import graft.functions.TextFunctions.words

/** Round-8 evaluation & corpus-statistics operators: exact ROC AUC,
  * inter-rater agreement (Cohen's kappa), per-source distribution
  * divergence (Jensen-Shannon vs the pooled corpus), token-mass
  * concentration (Gini), and a graded ANN recall harness.
  *
  * These are the grading counterparts to the engine's trainers and
  * index builders: before a quality classifier's scores gate a 100 TB
  * corpus (q162), AUC says whether the scores rank at all; before
  * heuristic labels join the curation funnel, kappa says whether two
  * cheap raters even agree; before IVF answers production queries
  * (q52), recall@k against the exact ranking bounds what it misses.
  *
  * Oracle discipline matches [[Signals]]/[[Lifecycle]]: every rank
  * statistic is an exact integer, FP appears only behind a micro-unit
  * quantization or as the single final division, and every ordering
  * is a total order both engines agree on.
  */
object Evals {
  private val dec = "decimal(38,0)"

  // --------------------------------------------------------------- q214
  /** Exact ROC AUC of a detector score over the embedding corpus:
    * score = first embedding component (micro-unit quantized — the
    * exactness contract of [[graft.operators.MlEval.aucExact]]),
    * positive class = label 0 (a one-vs-rest detector with realistic
    * ~10% prevalence). Mann-Whitney with the standard tie correction;
    * no pair enumeration and no global sort — per-score counts feed
    * the q158 two-level bucketed prefix sum, so the widest shuffle is
    * the distinct-score table.
    */
  private def q214(s: SparkSession, d: String): DataFrame = {
    val x = element_at(col("embedding"), 1).cast("double")
    val scored = Tables.embeddings(s, d).select(
      (floor(abs(x) * lit(1e6) + lit(0.5))).cast("long") *
        when(x < 0, -1L).otherwise(1L) as "u",
      (col("label") === 0).as("y"))
    graft.operators.MlEval.aucExact(scored, "u", "y")
  }

  private val q214Sql =
    """WITH s AS (SELECT
           CAST(floor(abs(x) * 1e6 + 0.5) AS BIGINT)
             * (CASE WHEN x < 0 THEN -1 ELSE 1 END) AS u,
           (label = 0) AS y
         FROM (SELECT CAST(embedding[1] AS DOUBLE) AS x, label
               FROM embeddings)),
       c AS (SELECT u,
               CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p,
               CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n
             FROM s GROUP BY u),
       w AS (SELECT p, n,
               coalesce(sum(n) OVER (ORDER BY u
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS nb
             FROM c)
       SELECT CAST(sum(p) AS BIGINT) AS n_pos,
         CAST(sum(n) AS BIGINT) AS n_neg,
         round(CAST(sum(p::HUGEINT * (2 * nb + n)) AS DOUBLE)
           / (2.0 * CAST(sum(p) AS DOUBLE) * CAST(sum(n) AS DOUBLE)),
           9) AS auc
       FROM w"""

  // --------------------------------------------------------------- q215
  /** Cohen's kappa between two cheap document raters — the
    * inter-annotator-agreement gate before heuristic labels are
    * trusted as training signal. Rater A buckets by character count,
    * rater B by token count (correlated but not identical, so kappa
    * lands strictly between chance and 1). Exact-integer algebra:
    * kappa = (d·n − Σ row·col) / (n² − Σ row·col) over the k²-row
    * confusion table — ONE corpus aggregation, then k-row frames;
    * the only FP op is the final division.
    */
  private def q215(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val nt = size(words(col("text")))
    val conf = sc.cache(Tables.documents(s, d)
      .select(
        when(col("n_chars") < 150, "short")
          .when(col("n_chars") < 300, "medium").otherwise("long").as("ra"),
        when(nt < 27, "short")
          .when(nt < 50, "medium").otherwise("long").as("rb"))
      .groupBy("ra", "rb").agg(count(lit(1)).as("c")))
    val tot = conf.agg(sum(col("c")).as("n"),
      sum(when(col("ra") === col("rb"), col("c")).otherwise(0L)).as("dg"))
    val rows = conf.groupBy("ra").agg(sum(col("c")).as("rc"))
    val cols = conf.groupBy("rb").agg(sum(col("c")).as("cc"))
    val pe = rows.join(cols, col("ra") === col("rb"))
      .agg(coalesce(sum(col("rc").cast(dec) * col("cc").cast(dec)),
        lit(0).cast(dec)).as("sp"))
    val result = tot.crossJoin(broadcast(pe)).select(
      col("n").as("n_docs"),
      round(col("dg").cast("double") / col("n").cast("double"), 9)
        .as("po"),
      round(col("sp").cast("double") /
        (col("n").cast("double") * col("n").cast("double")), 9).as("pe"),
      round((col("dg").cast(dec) * col("n").cast(dec) - col("sp"))
          .cast("double") /
        (col("n").cast(dec) * col("n").cast(dec) - col("sp"))
          .cast("double"), 9).as("kappa"))
    sc.keep(result)
  }

  private val q215Sql =
    """WITH rated AS (SELECT
           CASE WHEN n_chars < 150 THEN 'short'
                WHEN n_chars < 300 THEN 'medium' ELSE 'long' END AS ra,
           CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) < 27
                  THEN 'short'
                WHEN len(regexp_split_to_array(trim(text), '\s+')) < 50
                  THEN 'medium' ELSE 'long' END AS rb
         FROM documents),
       conf AS (SELECT ra, rb, count(*)::BIGINT AS c
                FROM rated GROUP BY ra, rb),
       tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN ra = rb THEN c ELSE 0 END) AS BIGINT)
                   AS dg
               FROM conf),
       rws AS (SELECT ra, sum(c)::BIGINT AS rc FROM conf GROUP BY ra),
       cls AS (SELECT rb, sum(c)::BIGINT AS cc FROM conf GROUP BY rb),
       pe AS (SELECT coalesce(sum(rc::HUGEINT * cc::HUGEINT),
                0::HUGEINT) AS sp
              FROM rws JOIN cls ON rws.ra = cls.rb)
       SELECT n AS n_docs,
         round(dg::DOUBLE / n::DOUBLE, 9) AS po,
         round(CAST(sp AS DOUBLE) / (n::DOUBLE * n::DOUBLE), 9) AS pe,
         round(CAST(dg::HUGEINT * n::HUGEINT - sp AS DOUBLE) /
               CAST(n::HUGEINT * n::HUGEINT - sp AS DOUBLE), 9) AS kappa
       FROM tot, pe"""

  // --------------------------------------------------------------- q216
  /** Per-source Jensen-Shannon divergence against the pooled corpus
    * word distribution — the data-mixing diagnostic next to q208's
    * DSIR weights: a source whose JSD spikes is distributionally
    * unlike the corpus it feeds. Computed WITHOUT the vocab×sources
    * grid: words absent from a source contribute a closed-form tail
    * `½·ln2·(1 − coverage)` (their p-term is 0 and m = q/2), so only
    * the present (source, word) rows — the token aggregate itself —
    * carry ln terms. Those terms are micro-unit (1e-12) LONG sums:
    * order-independent by construction, with libm ulp noise far below
    * the grid (the q212 contract).
    */
  private def q216(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val cs = sc.cache(Tables.documents(s, d)
      .select(col("source"), explode(words(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("cs")))
    val ts = cs.groupBy("source").agg(sum(col("cs")).as("ts"))
    val cg = cs.groupBy("w").agg(sum(col("cs")).as("cg"))
    val tg = cs.agg(sum(col("cs")).as("tg"))
    val p = col("cs").cast("double") / col("ts").cast("double")
    val q = col("cg").cast("double") / col("tg").cast("double")
    val m = (p + q) / lit(2.0)
    val t = lit(0.5) * (p * log(p / m) + q * log(q / m))
    val units = floor(abs(t) * lit(1e12) + lit(0.5)).cast("long") *
      when(t < 0, -1L).otherwise(1L)
    val per = cs.join(cg, "w").join(broadcast(ts), "source")
      .crossJoin(broadcast(tg))
      .groupBy("source")
      .agg(first(col("ts")).as("n_tokens"), count(lit(1)).as("vocab"),
        sum(col("cg")).as("covnum"), sum(units).as("tunits"),
        first(col("tg")).as("tg"))
    val cov = col("covnum").cast("double") / col("tg").cast("double")
    val tailUnits = floor(
      lit(0.5) * log(lit(2.0)) * (lit(1.0) - cov) * lit(1e12) + lit(0.5))
      .cast("long")
    val result = per.select(col("source"), col("n_tokens"), col("vocab"),
        round(cov, 6).as("coverage"),
        round((col("tunits") + tailUnits).cast("double") / lit(1e12), 6)
          .as("jsd"))
      .orderBy("source")
    sc.keep(result)
  }

  private val q216Sql =
    """WITH toks AS (SELECT source,
           unnest(regexp_split_to_array(trim(text), '\s+')) AS w
         FROM documents),
       cs AS (SELECT source, w, count(*)::BIGINT AS cs
              FROM toks GROUP BY source, w),
       ts AS (SELECT source, sum(cs)::BIGINT AS ts FROM cs GROUP BY source),
       cg AS (SELECT w, sum(cs)::BIGINT AS cg FROM cs GROUP BY w),
       tg AS (SELECT sum(cs)::BIGINT AS tg FROM cs),
       terms AS (SELECT cs.source, cs.cs, cg.cg, ts.ts, tg.tg,
           0.5 * ((cs.cs::DOUBLE / ts.ts::DOUBLE)
                    * ln((cs.cs::DOUBLE / ts.ts::DOUBLE)
                      / (((cs.cs::DOUBLE / ts.ts::DOUBLE)
                          + (cg.cg::DOUBLE / tg.tg::DOUBLE)) / 2.0))
                  + (cg.cg::DOUBLE / tg.tg::DOUBLE)
                    * ln((cg.cg::DOUBLE / tg.tg::DOUBLE)
                      / (((cs.cs::DOUBLE / ts.ts::DOUBLE)
                          + (cg.cg::DOUBLE / tg.tg::DOUBLE)) / 2.0)))
             AS t
         FROM cs JOIN cg USING (w) JOIN ts USING (source), tg),
       per AS (SELECT source, first(ts) AS n_tokens,
                 count(*)::BIGINT AS vocab, sum(cg)::BIGINT AS covnum,
                 first(tg) AS tg,
                 CAST(sum(CAST(floor(abs(t) * 1e12 + 0.5) AS BIGINT)
                   * (CASE WHEN t < 0 THEN -1 ELSE 1 END)) AS BIGINT)
                   AS tunits
               FROM terms GROUP BY source)
       SELECT source, n_tokens, vocab,
         round(covnum::DOUBLE / tg::DOUBLE, 6) AS coverage,
         round((tunits + CAST(floor(0.5 * ln(2.0)
             * (1.0 - covnum::DOUBLE / tg::DOUBLE) * 1e12 + 0.5)
             AS BIGINT))::DOUBLE / 1e12, 6) AS jsd
       FROM per ORDER BY source"""

  // --------------------------------------------------------------- q217
  /** Per-source Gini coefficient of token mass across documents — the
    * concentration audit: a source whose token mass sits in a few
    * giant documents (G → 1) skews packing (q75) and per-doc quality
    * gates. Grouped-data identity on the (source, token-count) value
    * table: with `a_v` = docs strictly below value v,
    * `2·Σ i·x_i = Σ_v v·(2·n_v·a_v + n_v·(n_v+1))` exactly, so
    * G = Σ/(N·S) − (N+1)/N needs no per-document rank — windows run
    * over the bounded per-source distinct-value table only, and all
    * rank algebra is HUGEINT/DECIMAL-exact.
    */
  private def q217(s: SparkSession, d: String): DataFrame = {
    val vals = Tables.documents(s, d)
      .select(col("source"), size(words(col("text"))).cast("long").as("v"))
      .groupBy("source", "v").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("source").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val a = sum(col("n")).over(w) - col("n")
    val contr2 = col("v").cast(dec) *
      (lit(2L).cast(dec) * col("n").cast(dec) * a.cast(dec) +
       col("n").cast(dec) * (col("n") + lit(1L)).cast(dec))
    val per = vals.withColumn("c2", contr2)
      .groupBy("source")
      .agg(sum(col("n")).as("n_docs"),
        sum(col("n").cast(dec) * col("v").cast(dec)).as("s"),
        sum(col("c2")).as("c2"))
    per.select(col("source"), col("n_docs"),
        col("s").cast("long").as("total_tokens"),
        round(col("c2").cast("double") /
            (col("n_docs").cast("double") * col("s").cast("double")) -
          (col("n_docs") + lit(1L)).cast("double") /
            col("n_docs").cast("double"), 9).as("gini"))
      .orderBy("source")
  }

  private val q217Sql =
    """WITH vals AS (SELECT source,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
             AS v
         FROM documents),
       cnt AS (SELECT source, v, count(*)::BIGINT AS n
               FROM vals GROUP BY source, v),
       cum AS (SELECT source, v, n,
                 sum(n) OVER (PARTITION BY source ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n AS a
               FROM cnt),
       per AS (SELECT source,
                 CAST(sum(n) AS BIGINT) AS n_docs,
                 sum(n::HUGEINT * v::HUGEINT) AS s,
                 sum(v::HUGEINT * (2 * n::HUGEINT * a::HUGEINT
                   + n::HUGEINT * (n + 1)::HUGEINT)) AS c2
               FROM cum GROUP BY source)
       SELECT source, n_docs, CAST(s AS BIGINT) AS total_tokens,
         round(CAST(c2 AS DOUBLE)
             / (n_docs::DOUBLE * CAST(s AS DOUBLE))
           - (n_docs + 1)::DOUBLE / n_docs::DOUBLE, 9) AS gini
       FROM per ORDER BY source"""

  // --------------------------------------------------------------- q218
  /** ANN recall harness: IVF (q52's index, nprobe=2) graded per query
    * against the exact brute-force top-5 — recall@5 as a driver-graded
    * query, so index quality can never degrade silently (the q137
    * pattern, applied to the similarity-search family). The
    * ground-truth side is a 50-query batch broadcast against one
    * corpus scan — the standard sampled-eval shape at any corpus
    * size; the IVF side touches only probed cells. Set intersection
    * by (query, neighbor) equi-join on the two k-row-per-query
    * frames.
    */
  private def q218(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val qs = emb.filter(col("vec_id") < 50)
    val exact = graft.operators.Similarity
      .knnBruteForce(emb, qs, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id")
    val approx = graft.operators.Similarity
      .knnIvf(emb, qs, "vec_id", "embedding", "label", k = 5, nprobe = 2)
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

  private val q218Sql =
    """WITH exact AS (
         SELECT query_id, neighbor_id FROM (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               round(list_dot_product(q.embedding::DOUBLE[],
                                      c.embedding::DOUBLE[])
                 / (sqrt(list_dot_product(q.embedding::DOUBLE[],
                                          q.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(c.embedding::DOUBLE[],
                                            c.embedding::DOUBLE[]))),
                 4) DESC, c.vec_id ASC) AS rn
           FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
           WHERE q.vec_id < 50) t
         WHERE rn <= 5),
       cent AS (
         SELECT cell, list(c ORDER BY i) AS cvec FROM (
           SELECT label AS cell, i, avg(CAST(embedding[i] AS DOUBLE)) AS c
           FROM embeddings, range(1, 65) t(i)
           GROUP BY label, i) a
         GROUP BY cell),
       q AS (SELECT vec_id AS query_id, embedding AS qv,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS qn
             FROM embeddings WHERE vec_id < 50),
       probes AS (
         SELECT query_id, qv, qn, cell FROM (
           SELECT q.query_id, q.qv, q.qn, cent.cell,
             row_number() OVER (PARTITION BY q.query_id ORDER BY
               round(list_dot_product(CAST(q.qv AS DOUBLE[]), cvec)
                 / (q.qn * sqrt(list_dot_product(cvec, cvec))), 4) DESC,
               cent.cell ASC) AS crank
           FROM q, cent) p
         WHERE crank <= 2),
       approx AS (
         SELECT query_id, neighbor_id FROM (
           SELECT p.query_id, e.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY p.query_id ORDER BY
               round(list_dot_product(CAST(p.qv AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[]))
                 / (p.qn * sqrt(list_dot_product(
                     CAST(e.embedding AS DOUBLE[]),
                     CAST(e.embedding AS DOUBLE[])))), 4) DESC,
               e.vec_id ASC) AS rn
           FROM probes p JOIN embeddings e
             ON e.label = p.cell AND e.vec_id != p.query_id) r
         WHERE rn <= 5),
       hits AS (SELECT a.query_id, count(*)::BIGINT AS h
                FROM approx a JOIN exact x
                  ON a.query_id = x.query_id
                 AND a.neighbor_id = x.neighbor_id
                GROUP BY a.query_id)
       SELECT q.query_id, CAST(coalesce(h.h, 0) AS INT) AS n_hits,
         round(coalesce(h.h, 0)::DOUBLE / 5.0, 4) AS recall
       FROM q LEFT JOIN hits h ON q.query_id = h.query_id
       ORDER BY q.query_id"""

  // --------------------------------------------------------------- q219
  /** Benjamini-Hochberg FDR control over a FAMILY of A/B readouts —
    * the multiple-testing discipline q120's single Welch readout needs
    * once the same experiment is read out per (event_type, weekday):
    * ~35 simultaneous hypotheses at α=0.1 would expect ~3.5 false
    * rejections under naive per-test thresholds. p-values use the
    * logistic approximation of the normal CDF
    * (Φ(x) ≈ 1/(1+e^(−1.702x)), max abs error < 0.01 — documented
    * approximation; the BH step-up itself is exact given them):
    * p = 2/(1+exp(1.702·|z|)) is monotone in |z|, an explicit closed
    * form both engines evaluate identically on the 4-dp-rounded z.
    * Consequence of the approximation: rank ORDER matches exact-Φ BH
    * (monotonicity), but a p-value within ~0.01 of its α·i/m boundary
    * can flip reject/accept relative to exact-normal BH — the "FDR
    * control" label is exact for THESE p-values, approximate for
    * true normal tails.
    * The step-up (rank by (p, segment), reject rank ≤ max{i : p_i ≤
    * α·i/m}) runs on the m-row family table — corpus work is the ONE
    * conditional moment aggregation inside [[Experiment.welchAb]].
    */
  private def q219(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).withColumn("segment",
      concat(col("event_type"), lit("_d"),
        pmod(datediff(to_date(col("ts")), lit("2024-01-01").cast("date")),
          lit(7))))
    val fam = graft.operators.Experiment
      .welchAb(ev, "user_id", "value", "segment", salt = "ab")
      .filter(col("z").isNotNull)
      .withColumn("p_value",
        round(lit(2.0) / (lit(1.0) + exp(lit(1.702) * abs(col("z")))), 9))
    val m = Window.partitionBy()
    val byP = Window.orderBy(col("p_value"), col("segment"))
    val ranked = fam
      .withColumn("m", count(lit(1)).over(m))
      .withColumn("rank", row_number().over(byP))
      .withColumn("ok", col("p_value") <=
        round(col("rank") * lit(0.1) / col("m").cast("double"), 9))
    val kmax = Window.partitionBy()
    ranked
      .withColumn("kmax",
        max(when(col("ok"), col("rank")).otherwise(0)).over(kmax))
      .select(col("segment"), col("n_a"), col("n_b"), col("z"),
        col("p_value"), col("rank").cast("int").as("rank"),
        (col("rank") <= col("kmax")).as("reject"))
      .orderBy("rank")
  }

  private val q219Sql =
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
       fam AS (SELECT segment, n_a, n_b,
               round((ma - mb) / sqrt(va / n_a + vb / n_b), 4) AS z
             FROM t WHERE va / n_a + vb / n_b > 0),
       pv AS (SELECT segment, n_a, n_b, z,
               round(2.0 / (1.0 + exp(1.702 * abs(z))), 9) AS p_value
             FROM fam),
       rk AS (SELECT *, count(*) OVER () AS m,
               row_number() OVER (ORDER BY p_value, segment) AS rank
             FROM pv),
       ok AS (SELECT *,
               (p_value <= round(rank * 0.1 / m::DOUBLE, 9)) AS ok
             FROM rk),
       km AS (SELECT *,
               max(CASE WHEN ok THEN rank ELSE 0 END) OVER () AS kmax
             FROM ok)
       SELECT segment, n_a, n_b, z, p_value, CAST(rank AS INT) AS rank,
         (rank <= kmax) AS reject
       FROM km ORDER BY rank"""

  // --------------------------------------------------------------- q220
  /** Markov-chain (removal-effect) attribution — the principled
    * successor to q179/q199's positional credit: user journeys become
    * a first-order chain over channel states, and a channel's credit
    * is how much the START→purchase absorption probability drops when
    * the channel is removed (transitions touching it die; no
    * renormalization — the standard formulation). Corpus work is ONE
    * lag-window pass per user producing exact integer transition
    * counts; the chain itself is a bounded states² matrix, iterated
    * K=20 rounds in 1e-12-unit LONG arithmetic
    * (v'(s) = Σ_t ⌊P(s→t)·v(t) + ½⌋, P exact-rational) — every round
    * is order-independent and engine-exact, and the oracle replays
    * the identical recursion per removal scenario in a recursive CTE.
    */
  /** Journey transition counts (shared by q220 and q233): journeys
    * truncate at the first purchase BY POSITION (ids need not be
    * time-ordered), START precedes each journey, non-converting
    * journeys close with a NULLS step. Returns the (src, dst, count)
    * table — bounded at (event types + 2)² rows, the legitimate
    * reduce-feeds-driver shape — and the per-src totals. */
  private def journeyChain(s: SparkSession, d: String)
      : (Array[(String, String, Long)], Map[String, Long]) = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wAll = Window.partitionBy("user_id")
    val seq0 = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("rn", row_number().over(w))
      .withColumn("prn",
        min(when(col("event_type") === "purchase", col("rn"))).over(wAll))
      .filter(col("prn").isNull || col("rn") <= col("prn"))
      .withColumn("mrn", max(col("rn")).over(wAll))
    val steps = seq0
      .withColumn("src", lag(col("event_type"), 1, "START").over(w))
      .select(col("src"), col("event_type").as("dst"))
      .unionByName(
        // terminal step: last event of a non-converting journey → NULLS
        seq0.filter(col("rn") === col("mrn") &&
            col("event_type") =!= "purchase")
          .select(col("event_type").as("src"), lit("NULLS").as("dst")))
    val trans = steps.groupBy("src", "dst").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val outTot = trans.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    (trans, outTot)
  }

  private val chainK = 20
  private val chainUnit = 1e12

  /** START's absorption probability in 1e-12-unit LONGs after K
    * rounds of v'(s) = Σ_t ⌊P(s→t)·v(t)+½⌋ over the given LIVE
    * transitions — order-independent, engine-exact (the oracle
    * replays the identical recursion). Denominators stay the FULL
    * out-totals (no renormalization — the removal-effect convention).
    */
  private def absorbUnits(live: Array[(String, String, Long)],
                          outTot: Map[String, Long]): Long = {
    val states = live.iterator.map(_._1).toSeq.distinct
    var v: Map[String, Long] = states.map(_ -> 0L).toMap +
      ("purchase" -> chainUnit.toLong) + ("NULLS" -> 0L)
    for (_ <- 1 to chainK) {
      val next = states.map { st =>
        st -> live.filter(_._1 == st).map { case (_, t, c) =>
          math.floor(c.toDouble / outTot(st).toDouble *
            v.getOrElse(t, 0L).toDouble + 0.5).toLong
        }.sum
      }.toMap
      v = next + ("purchase" -> chainUnit.toLong) + ("NULLS" -> 0L)
    }
    v.getOrElse("START", 0L)
  }

  private def q220(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val unit = chainUnit
    val (trans, outTot) = journeyChain(s, d)
    val channels = trans.iterator.flatMap(t => Seq(t._1, t._2))
      .filter(c => c != "START" && c != "purchase" && c != "NULLS")
      .toSeq.distinct.sorted
    def solve(removed: Option[String]): Long =
      absorbUnits(trans.filter(t => !removed.contains(t._1) &&
        !removed.contains(t._2)), outTot)
    val base = solve(None)
    val rows = channels.map { c =>
      val pc = solve(Some(c))
      val eff = (base - pc).toDouble / base.toDouble
      (c, base / unit, pc / unit, eff)
    }
    val effUnits = rows.map(r => math.floor(r._4 * 1e6 + 0.5).toLong)
    val totEff = effUnits.sum
    val out = rows.zip(effUnits).map { case ((c, b, p, eff), eu) =>
      (c, round(b, 9), round(p, 9), round(eff, 9),
        round(eu.toDouble / totEff.toDouble, 6))
    }
    out.toDF("channel", "base_conv", "removal_conv", "removal_effect",
        "credit_share")
      .orderBy("channel")
  }

  private val q220Sql = {
    val K = 20
    // one removal scenario per channel + the base chain (removed IS
    // NULL); the K rounds are UNROLLED as chained CTEs — each round is
    // the SAME unit-LONG update the engine runs
    val rounds = (1 to K).map { k =>
      s"""v$k AS MATERIALIZED (SELECT l.removed, l.src AS st,
           sum(CAST(floor(l.c::DOUBLE / l.ct::DOUBLE *
             (CASE WHEN l.dst = 'purchase' THEN 1000000000000
                   WHEN l.dst = 'NULLS' THEN 0
                   ELSE coalesce(p.v, 0) END)::DOUBLE + 0.5)
             AS BIGINT))::BIGINT AS v
         FROM live l LEFT JOIN v${k - 1} p
           ON p.removed IS NOT DISTINCT FROM l.removed
          AND p.st = l.dst
         GROUP BY l.removed, l.src)"""
    }.mkString(",\n       ")
    s"""WITH ev AS (SELECT user_id, ts, event_id, event_type FROM events),
       pfx AS (SELECT *,
                 row_number() OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS rn
               FROM ev),
       cut AS (SELECT *, min(CASE WHEN event_type = 'purchase'
                   THEN rn END) OVER (PARTITION BY user_id) AS prn
               FROM pfx),
       jo AS (SELECT *, max(rn) OVER (PARTITION BY user_id) AS mrn
              FROM cut WHERE prn IS NULL OR rn <= prn),
       steps AS (
         SELECT coalesce(lag(event_type) OVER
             (PARTITION BY user_id ORDER BY rn), 'START') AS src,
           event_type AS dst
         FROM jo
         UNION ALL
         SELECT event_type AS src, 'NULLS' AS dst FROM jo
         WHERE rn = mrn AND event_type != 'purchase'),
       trans AS (SELECT src, dst, count(*)::BIGINT AS c
                 FROM steps GROUP BY src, dst),
       tot AS (SELECT src, sum(c)::BIGINT AS ct FROM trans GROUP BY src),
       chan AS (SELECT DISTINCT ch FROM (
           SELECT src AS ch FROM trans UNION ALL
           SELECT dst AS ch FROM trans)
         WHERE ch NOT IN ('START', 'purchase', 'NULLS')),
       scen AS (SELECT ch AS removed FROM chan
                UNION ALL SELECT NULL AS removed),
       live AS MATERIALIZED (SELECT s.removed, t.src, t.dst, t.c, o.ct
                FROM scen s JOIN trans t
                  ON (s.removed IS NULL
                      OR (t.src != s.removed AND t.dst != s.removed))
                JOIN tot o ON o.src = t.src),
       v0 AS MATERIALIZED (SELECT removed, src AS st, 0::BIGINT AS v
              FROM (SELECT DISTINCT removed, src FROM live)),
       $rounds,
       fin AS (SELECT removed, v FROM v$K WHERE st = 'START'),
       base AS (SELECT v AS bv FROM fin WHERE removed IS NULL),
       eff AS (SELECT f.removed AS channel, b.bv, f.v,
                 CAST(floor((b.bv - f.v)::DOUBLE / b.bv::DOUBLE * 1e6
                   + 0.5) AS BIGINT) AS eu
               FROM fin f, base b WHERE f.removed IS NOT NULL),
       te AS (SELECT sum(eu)::BIGINT AS t FROM eff)
       SELECT channel,
         round(bv::DOUBLE / 1e12, 9) AS base_conv,
         round(v::DOUBLE / 1e12, 9) AS removal_conv,
         round((bv - v)::DOUBLE / bv::DOUBLE, 9) AS removal_effect,
         round(eu::DOUBLE / te.t::DOUBLE, 6) AS credit_share
       FROM eff, te ORDER BY channel"""
  }

  // --------------------------------------------------------------- q233
  /** EXACT Shapley attribution — the axiomatic upgrade of q220's
    * removal effect: each channel's credit is its Shapley value over
    * coalition conversion v(S) = START's absorption probability with
    * only the channels in S alive (transitions touching an absent
    * channel die; denominators stay full — q220's convention). With 4
    * channels that is all 2⁴ subset chains, each solved by the SAME
    * unit-LONG recursion, and the Shapley sum
    * φ_c = Σ_{S∌c} |S|!(3−|S|)!·(v(S∪c)−v(S)) / 4! stays EXACT
    * integer arithmetic in conv-units×24 until the final division.
    * Efficiency (Σφ = v(all)−v(none)) is spec-pinned. The corpus cost
    * is unchanged — ONE lag-window pass; the 16 solves run on the
    * collected (types+2)²-row chain. Oracle unrolls all 16 scenarios
    * × 20 rounds keyed by subset bitmask. */
  private def q233(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val (trans, outTot) = journeyChain(s, d)
    // the four non-absorbing channels, fixed alphabetical index order
    // (bit i of a scenario mask = channels(i) alive) — mirrored in SQL.
    // The mask arithmetic AND the oracle both pin this set, so a new
    // event type in the corpus cannot be absorbed silently (it would
    // be treated as always-alive and excluded from attribution, and
    // the mirrored oracle would hide the drift): assert the discovered
    // non-absorbing states are exactly the pinned ones.
    val channels = Seq("click", "error", "signup", "view")
    val discovered = trans.iterator
      .flatMap(t => Iterator(t._1, t._2))
      .filterNot(st => st == "START" || st == "NULLS" || st == "purchase")
      .toSet
    require(discovered.subsetOf(channels.toSet),
      s"q233: corpus has channels outside the pinned Shapley set: " +
        s"${(discovered -- channels.toSet).toSeq.sorted.mkString(", ")} — " +
        "extend `channels` (and the oracle's chan VALUES) to include them")
    def vOf(mask: Int): Long = {
      def alive(x: String): Boolean = {
        val i = channels.indexOf(x)
        i < 0 || ((mask >> i) & 1) == 1
      }
      absorbUnits(trans.filter(t => alive(t._1) && alive(t._2)), outTot)
    }
    val v = (0 until 16).map(vOf)
    val weight = Array(6L, 2L, 2L, 6L) // |S|!·(3−|S|)! for |S| = 0..3
    val phi24 = channels.zipWithIndex.map { case (c, i) =>
      val u = (0 until 16).filter(m => ((m >> i) & 1) == 0).map { m =>
        weight(Integer.bitCount(m)) * (v(m | (1 << i)) - v(m))
      }.sum
      (c, u)
    }
    val total = phi24.map(_._2).sum // = 24·(v(all) − v(none)) exactly
    val out = phi24.map { case (c, u) =>
      (c, round(u.toDouble / 24.0 / chainUnit, 9),
        round(u.toDouble / total.toDouble, 6))
    }
    out.toDF("channel", "shapley_conv", "shapley_share")
      .orderBy("channel")
  }

  private val q233Sql = {
    val K = chainK
    val rounds = (1 to K).map { k =>
      s"""v$k AS MATERIALIZED (SELECT l.m, l.src AS st,
           sum(CAST(floor(l.c::DOUBLE / l.ct::DOUBLE *
             (CASE WHEN l.dst = 'purchase' THEN 1000000000000
                   WHEN l.dst = 'NULLS' THEN 0
                   ELSE coalesce(p.v, 0) END)::DOUBLE + 0.5)
             AS BIGINT))::BIGINT AS v
         FROM live l LEFT JOIN v${k - 1} p
           ON p.m = l.m AND p.st = l.dst
         GROUP BY l.m, l.src)"""
    }.mkString(",\n       ")
    s"""WITH ev AS (SELECT user_id, ts, event_id, event_type FROM events),
       pfx AS (SELECT *,
                 row_number() OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS rn
               FROM ev),
       cut AS (SELECT *, min(CASE WHEN event_type = 'purchase'
                   THEN rn END) OVER (PARTITION BY user_id) AS prn
               FROM pfx),
       jo AS (SELECT *, max(rn) OVER (PARTITION BY user_id) AS mrn
              FROM cut WHERE prn IS NULL OR rn <= prn),
       steps AS (
         SELECT coalesce(lag(event_type) OVER
             (PARTITION BY user_id ORDER BY rn), 'START') AS src,
           event_type AS dst
         FROM jo
         UNION ALL
         SELECT event_type AS src, 'NULLS' AS dst FROM jo
         WHERE rn = mrn AND event_type != 'purchase'),
       trans AS (SELECT src, dst, count(*)::BIGINT AS c
                 FROM steps GROUP BY src, dst),
       tot AS (SELECT src, sum(c)::BIGINT AS ct FROM trans GROUP BY src),
       chan AS (SELECT ch, ci FROM (VALUES ('click', 0), ('error', 1),
                  ('signup', 2), ('view', 3)) t(ch, ci)),
       scen AS (SELECT CAST(range AS INT) AS m FROM range(0, 16)),
       live AS MATERIALIZED (
         SELECT s.m, t.src, t.dst, t.c, o.ct
         FROM scen s JOIN trans t
           ON (TRUE) JOIN tot o ON o.src = t.src
         LEFT JOIN chan cs ON cs.ch = t.src
         LEFT JOIN chan cd ON cd.ch = t.dst
         WHERE (cs.ci IS NULL OR ((s.m >> cs.ci) & 1) = 1)
           AND (cd.ci IS NULL OR ((s.m >> cd.ci) & 1) = 1)),
       v0 AS MATERIALIZED (SELECT m, src AS st, 0::BIGINT AS v
              FROM (SELECT DISTINCT m, src FROM live)),
       $rounds,
       fin AS (SELECT m, v FROM v$K WHERE st = 'START'),
       -- a scenario whose chain loses START entirely still has a
       -- defined v = 0 (no live transitions from START)
       finall AS (SELECT s.m, coalesce(f.v, 0) AS v
                  FROM scen s LEFT JOIN fin f ON f.m = s.m),
       sh AS (SELECT c.ch AS channel,
                CAST(sum((CASE (((v0.m >> 0) & 1) + ((v0.m >> 1) & 1)
                       + ((v0.m >> 2) & 1) + ((v0.m >> 3) & 1))
                     WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2
                     ELSE 6 END) * (v1.v - v0.v)) AS BIGINT) AS u24
              FROM chan c
              JOIN finall v0 ON ((v0.m >> c.ci) & 1) = 0
              JOIN finall v1 ON v1.m = v0.m + (1 << c.ci)
              GROUP BY c.ch),
       te AS (SELECT sum(u24)::BIGINT AS t FROM sh)
       SELECT channel,
         round(u24::DOUBLE / 24.0 / 1e12, 9) AS shapley_conv,
         round(u24::DOUBLE / te.t::DOUBLE, 6) AS shapley_share
       FROM sh, te ORDER BY channel"""
  }

  // --------------------------------------------------------------- q221
  /** Neyman-optimal stratified sample allocation: a 1000-doc budget
    * split across sources ∝ N_h·σ_h (σ over per-doc token counts) —
    * minimum-variance stratification, the sampling-design step before
    * q99's weighted draw. σ² from EXACT integer moments (token counts
    * are ints; Σx, Σx² in DECIMAL/HUGEINT), weights quantized to
    * micro-units BEFORE the normalizing sum (the q169 contract) so
    * k-source shares are order-independent. One corpus aggregation,
    * then k-row frames.
    */
  private def q221(s: SparkSession, d: String): DataFrame = {
    val budget = 1000L
    val m = Tables.documents(s, d)
      .select(col("source"), size(words(col("text"))).cast("long").as("x"))
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum((col("x") * col("x")).cast(dec)).as("sxx"))
      .filter(col("n") >= 2)
    val nD = col("n").cast("double")
    val varX = greatest(
      (col("sxx").cast("double") / nD -
        (col("sx").cast("double") / nD) * (col("sx").cast("double") / nD))
        * nD / (nD - lit(1.0)), lit(0.0))
    val wu = m.withColumn("sigma", sqrt(varX))
      .withColumn("wu",
        floor(nD * col("sigma") * lit(1e6) + lit(0.5)).cast("long"))
    val tot = wu.agg(sum(col("wu")).as("tw"))
    wu.crossJoin(broadcast(tot))
      .select(col("source"), col("n").as("n_docs"),
        round(col("sigma"), 6).as("sigma"),
        round(col("wu").cast("double") / col("tw").cast("double"), 6)
          .as("share"),
        floor(lit(budget.toDouble) * col("wu").cast("double") /
          col("tw").cast("double") + lit(0.5)).cast("long").as("alloc"))
      .orderBy("source")
  }

  private val q221Sql =
    """WITH v AS (SELECT source,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
             AS x
         FROM documents),
       m AS (SELECT source, count(*)::BIGINT AS n,
               sum(x)::BIGINT AS sx, sum(x::HUGEINT * x::HUGEINT) AS sxx
             FROM v GROUP BY source HAVING count(*) >= 2),
       sg AS (SELECT source, n,
               sqrt(greatest((CAST(sxx AS DOUBLE) / n::DOUBLE
                 - (sx::DOUBLE / n::DOUBLE) * (sx::DOUBLE / n::DOUBLE))
                 * n::DOUBLE / (n::DOUBLE - 1.0), 0.0)) AS sigma
             FROM m),
       wu AS (SELECT source, n, sigma,
               CAST(floor(n::DOUBLE * sigma * 1e6 + 0.5) AS BIGINT) AS wu
             FROM sg),
       t AS (SELECT sum(wu)::BIGINT AS tw FROM wu)
       SELECT source, n AS n_docs, round(sigma, 6) AS sigma,
         round(wu::DOUBLE / tw::DOUBLE, 6) AS share,
         CAST(floor(1000.0 * wu::DOUBLE / tw::DOUBLE + 0.5) AS BIGINT)
           AS alloc
       FROM wu, t ORDER BY source"""

  // --------------------------------------------------------------- q222
  /** B-cubed clustering quality: the near-dup clusters (q71's minhash
    * pairs + connected components, reused VERBATIM) graded against the
    * exact-content-hash truth partition. Per-document precision =
    * |C(d)∩T(d)|/|C(d)| collapses to the grouped identity
    * Σ_c (Σ_t n_ct²)/n_c — exact integer squares with ONE rational
    * division per cluster, quantized to 1e-12-unit LONGs before the
    * corpus sum (order-independent); recall mirrors over truth groups.
    * Docs in no near-dup pair are singleton clusters (coalesce to own
    * id), so the metric covers the WHOLE corpus, not just paired docs.
    */
  private def q222(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val docs = Tables.documents(s, d)
    val clusters = graft.Kernels.minhashComponents(s, d, threshold = 0.8)
    val assign = sc.cache(docs.select(col("doc_id"),
        graft.operators.Dedup.contentHash(col("text")).as("t"))
      .join(clusters, col("doc_id") === col("id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("c"), col("t")))
    val nct = sc.cache(assign.groupBy("c", "t").agg(count(lit(1)).as("n")))
    def sideUnits(grp: String) = nct
      .groupBy(grp)
      .agg(sum(col("n") * col("n")).as("s2"), sum(col("n")).as("ng"))
      .select(floor(col("s2").cast("double") / col("ng").cast("double")
        * lit(1e12) + lit(0.5)).cast("long").as("u"))
      .agg(sum(col("u")).as("su"), count(lit(1)).as("k"))
    val p = sideUnits("c").select(col("su").as("pu"),
      col("k").as("n_clusters"))
    val r = sideUnits("t").select(col("su").as("ru"),
      col("k").as("n_truth"))
    val n = assign.agg(count(lit(1)).as("n_docs"))
    val result = n.crossJoin(broadcast(p)).crossJoin(broadcast(r))
      .select(col("n_docs"), col("n_clusters"), col("n_truth"),
        round(col("pu").cast("double") / lit(1e12) /
          col("n_docs").cast("double"), 9).as("b3_precision"),
        round(col("ru").cast("double") / lit(1e12) /
          col("n_docs").cast("double"), 9).as("b3_recall"),
        round(lit(2.0) *
            (col("pu").cast("double") / lit(1e12) /
              col("n_docs").cast("double")) *
            (col("ru").cast("double") / lit(1e12) /
              col("n_docs").cast("double")) /
          (col("pu").cast("double") / lit(1e12) /
            col("n_docs").cast("double") +
           col("ru").cast("double") / lit(1e12) /
            col("n_docs").cast("double")), 9).as("b3_f1"))
    sc.keep(result)
  }

  private val q222Sql =
    s"""WITH RECURSIVE p AS (${Pipeline.q36Core}),
       edges AS (SELECT doc_a AS a, doc_b AS b FROM p
                 UNION ALL SELECT doc_b, doc_a FROM p),
       nodes AS (SELECT DISTINCT a AS id FROM edges),
       reach AS (SELECT id, id AS r FROM nodes
                 UNION
                 SELECT e.a, reach.r FROM edges e
                 JOIN reach ON e.b = reach.id),
       cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
       assign AS (SELECT d.doc_id,
           coalesce(cl.cluster_id, d.doc_id) AS c,
           md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS t
         FROM documents d LEFT JOIN cl ON cl.id = d.doc_id),
       nct AS (SELECT c, t, count(*)::BIGINT AS n
               FROM assign GROUP BY c, t),
       pc AS (SELECT CAST(sum(u) AS BIGINT) AS pu,
                count(*)::BIGINT AS n_clusters FROM (
           SELECT CAST(floor(sum(n * n)::DOUBLE / sum(n)::DOUBLE
             * 1e12 + 0.5) AS BIGINT) AS u
           FROM nct GROUP BY c)),
       rc AS (SELECT CAST(sum(u) AS BIGINT) AS ru,
                count(*)::BIGINT AS n_truth FROM (
           SELECT CAST(floor(sum(n * n)::DOUBLE / sum(n)::DOUBLE
             * 1e12 + 0.5) AS BIGINT) AS u
           FROM nct GROUP BY t)),
       nn AS (SELECT count(*)::BIGINT AS n_docs FROM assign)
       SELECT n_docs, n_clusters, n_truth,
         round(pu::DOUBLE / 1e12 / n_docs::DOUBLE, 9) AS b3_precision,
         round(ru::DOUBLE / 1e12 / n_docs::DOUBLE, 9) AS b3_recall,
         round(2.0 * (pu::DOUBLE / 1e12 / n_docs::DOUBLE)
             * (ru::DOUBLE / 1e12 / n_docs::DOUBLE)
           / (pu::DOUBLE / 1e12 / n_docs::DOUBLE
              + ru::DOUBLE / 1e12 / n_docs::DOUBLE), 9) AS b3_f1
       FROM nn, pc, rc"""

  // --------------------------------------------------------------- q223
  /** Mutual-information feature ranking: I(X; high_value) for each
    * categorical order feature, from ONE melted corpus pass (the q173
    * shape — k struct rows per order inside the scan projection).
    * MI = Σ_xy (n_xy/N)·ln(n_xy·N / (n_x·n_y)) over the per-feature
    * contingency cells — counts exact, each cell's (possibly negative)
    * ln term quantized to 1e-12-unit LONGs before the sum. Features
    * ranked by quantized MI with name tie-break — the categorical
    * companion to q173's threshold-split ranking.
    */
  private def q223(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val melted = Tables.orders(s, d)
      .select(explode(array(
          struct(lit("o_orderstatus").as("f"),
            col("o_orderstatus").cast("string").as("v")),
          struct(lit("o_orderpriority").as("f"),
            col("o_orderpriority").cast("string").as("v")),
          struct(lit("o_year").as("f"),
            year(to_date(col("o_orderdate"))).cast("string").as("v"))))
        .as("e"),
        (col("o_totalprice") > 150000.0).as("y"))
      .select(col("e.f").as("f"), col("e.v").as("v"), col("y"))
    val cells = sc.cache(melted.groupBy("f", "v", "y").agg(count(lit(1)).as("nxy")))
    val nx = cells.groupBy("f", "v").agg(sum(col("nxy")).as("nx"))
    val ny = cells.groupBy("f", "y").agg(sum(col("nxy")).as("ny"))
    val nTot = cells.groupBy("f").agg(sum(col("nxy")).as("nn"))
    val t = col("nxy").cast("double") / col("nn").cast("double") *
      log(col("nxy").cast("double") * col("nn").cast("double") /
        (col("nx").cast("double") * col("ny").cast("double")))
    val units = floor(abs(t) * lit(1e12) + lit(0.5)).cast("long") *
      when(t < 0, -1L).otherwise(1L)
    val mi = cells
      .join(nx, Seq("f", "v")).join(ny, Seq("f", "y"))
      .join(broadcast(nTot), Seq("f"))
      .groupBy("f")
      .agg(countDistinct(col("v")).as("n_values"),
        sum(units).as("units"))
    val byMi = Window.orderBy(col("units").desc, col("f"))
    val result = mi.select(col("f").as("feature"), col("n_values"),
        round(col("units").cast("double") / lit(1e12), 6).as("mi"),
        row_number().over(byMi).cast("int").as("rank"))
      .orderBy("rank")
    sc.keep(result)
  }

  private val q223Sql =
    """WITH melted AS (
         SELECT f, v, (o_totalprice > 150000.0) AS y FROM (
           SELECT unnest(['o_orderstatus', 'o_orderpriority',
                          'o_year']) AS f,
             unnest([o_orderstatus::VARCHAR, o_orderpriority::VARCHAR,
                     year(CAST(o_orderdate AS DATE))::VARCHAR]) AS v,
             o_totalprice
           FROM orders)),
       cells AS (SELECT f, v, y, count(*)::BIGINT AS nxy
                 FROM melted GROUP BY f, v, y),
       nx AS (SELECT f, v, sum(nxy)::BIGINT AS nx
              FROM cells GROUP BY f, v),
       ny AS (SELECT f, y, sum(nxy)::BIGINT AS ny
              FROM cells GROUP BY f, y),
       nt AS (SELECT f, sum(nxy)::BIGINT AS nn FROM cells GROUP BY f),
       terms AS (SELECT cells.f,
           cells.nxy::DOUBLE / nt.nn::DOUBLE *
             ln(cells.nxy::DOUBLE * nt.nn::DOUBLE /
               (nx.nx::DOUBLE * ny.ny::DOUBLE)) AS t,
           cells.v
         FROM cells
         JOIN nx ON nx.f = cells.f AND nx.v = cells.v
         JOIN ny ON ny.f = cells.f AND ny.y = cells.y
         JOIN nt ON nt.f = cells.f),
       mi AS (SELECT f, count(DISTINCT v)::BIGINT AS n_values,
               CAST(sum(CAST(floor(abs(t) * 1e12 + 0.5) AS BIGINT)
                 * (CASE WHEN t < 0 THEN -1 ELSE 1 END)) AS BIGINT)
                 AS units
             FROM terms GROUP BY f)
       SELECT f AS feature, n_values,
         round(units::DOUBLE / 1e12, 6) AS mi,
         CAST(row_number() OVER (ORDER BY units DESC, f) AS INT) AS rank
       FROM mi ORDER BY rank"""

  // --------------------------------------------------------------- q224
  /** Precision-recall sweep — the operating-point companion to q214's
    * threshold-free AUC: the same detector (score = first embedding
    * component, positive = label 0) evaluated at 7 fixed micro-unit
    * thresholds. Exact TP/FP/FN from the per-score count table
    * crossed with a broadcast 7-row threshold frame; the only FP ops
    * are the final divisions. F1 NULL when the predicted-positive or
    * recall mass is empty rather than 0/0.
    */
  private def q224(s: SparkSession, d: String): DataFrame = {
    val thresholds = Seq(-200000L, -100000L, -50000L, 0L, 50000L,
      100000L, 200000L)
    val spark = s
    import spark.implicits._
    val x = element_at(col("embedding"), 1).cast("double")
    val counts = Tables.embeddings(s, d).select(
        (floor(abs(x) * lit(1e6) + lit(0.5))).cast("long") *
          when(x < 0, -1L).otherwise(1L) as "u",
        (col("label") === 0).as("y"))
      .groupBy("u")
      .agg(sum(when(col("y"), 1L).otherwise(0L)).as("p"),
           sum(when(col("y"), 0L).otherwise(1L)).as("n"))
    val th = thresholds.toDF("th")
    val tot = counts.agg(sum(col("p")).as("pp"))
    val byTh = counts.crossJoin(broadcast(th))
      .filter(col("u") >= col("th"))
      .groupBy("th")
      .agg(sum(col("p")).as("tp"), sum(col("n")).as("fp"))
    // thresholds above every score keep zero rows — re-attach them
    th.join(byTh, Seq("th"), "left").crossJoin(broadcast(tot))
      .select(col("th"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        coalesce(col("fp"), lit(0L)).as("fp"),
        (col("pp") - coalesce(col("tp"), lit(0L))).as("fn"),
        when(coalesce(col("tp"), lit(0L)) + coalesce(col("fp"), lit(0L))
            > 0,
          round(coalesce(col("tp"), lit(0L)).cast("double") /
            (coalesce(col("tp"), lit(0L)) + coalesce(col("fp"), lit(0L)))
              .cast("double"), 9)).as("precision"),
        round(coalesce(col("tp"), lit(0L)).cast("double") /
          col("pp").cast("double"), 9).as("recall"),
        when(lit(2L) * coalesce(col("tp"), lit(0L)) +
            coalesce(col("fp"), lit(0L)) +
            col("pp") - coalesce(col("tp"), lit(0L)) > 0,
          round(lit(2.0) * coalesce(col("tp"), lit(0L)).cast("double") /
            (lit(2L) * coalesce(col("tp"), lit(0L)) +
             coalesce(col("fp"), lit(0L)) +
             col("pp") - coalesce(col("tp"), lit(0L))).cast("double"), 9))
          .as("f1"))
      .orderBy("th")
  }

  private val q224Sql =
    """WITH s AS (SELECT
           CAST(floor(abs(x) * 1e6 + 0.5) AS BIGINT)
             * (CASE WHEN x < 0 THEN -1 ELSE 1 END) AS u,
           (label = 0) AS y
         FROM (SELECT CAST(embedding[1] AS DOUBLE) AS x, label
               FROM embeddings)),
       c AS (SELECT u,
               CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p,
               CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n
             FROM s GROUP BY u),
       th AS (SELECT unnest([-200000, -100000, -50000, 0, 50000,
                             100000, 200000])::BIGINT AS th),
       tot AS (SELECT CAST(sum(p) AS BIGINT) AS pp FROM c),
       agg AS (SELECT th, CAST(sum(p) AS BIGINT) AS tp,
                 CAST(sum(n) AS BIGINT) AS fp
               FROM th JOIN c ON c.u >= th.th GROUP BY th)
       SELECT th.th,
         coalesce(a.tp, 0) AS tp, coalesce(a.fp, 0) AS fp,
         (tot.pp - coalesce(a.tp, 0)) AS fn,
         CASE WHEN coalesce(a.tp, 0) + coalesce(a.fp, 0) > 0
           THEN round(coalesce(a.tp, 0)::DOUBLE
             / (coalesce(a.tp, 0) + coalesce(a.fp, 0))::DOUBLE, 9)
         END AS precision,
         round(coalesce(a.tp, 0)::DOUBLE / tot.pp::DOUBLE, 9) AS recall,
         CASE WHEN 2 * coalesce(a.tp, 0) + coalesce(a.fp, 0)
             + tot.pp - coalesce(a.tp, 0) > 0
           THEN round(2.0 * coalesce(a.tp, 0)::DOUBLE
             / (2 * coalesce(a.tp, 0) + coalesce(a.fp, 0)
                + tot.pp - coalesce(a.tp, 0))::DOUBLE, 9)
         END AS f1
       FROM th LEFT JOIN agg a ON a.th = th.th, tot
       ORDER BY th.th"""

  // --------------------------------------------------------------- q225
  /** Exact Spearman rank correlation between document length (chars)
    * and token count — the monotone-association readout Pearson (q194)
    * misses under nonlinearity, with the standard average-rank tie
    * treatment. No per-document rank sort: average ranks come from the
    * per-VALUE count tables (avg rank of value v = a_v + (n_v+1)/2,
    * held as the integer 2·rank = 2a+n+1), joined back by value; the
    * correlation is Pearson over exact integer 2×rank sums in
    * DECIMAL(38,0) (the ×2 scale cancels; exact regime ≈ 3e9 docs —
    * overflow surfaces as NULL, never a silent wrap). Value tables are
    * bounded by document length, not corpus size.
    */
  private def q225(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val pairs = sc.cache(Tables.documents(s, d)
      .select(col("n_chars").as("x"),
        size(words(col("text"))).cast("long").as("y")))
    def rank2(c: String) = {
      val w = Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      pairs.groupBy(col(c).as("v")).agg(count(lit(1)).as("n"))
        .withColumn("cum", sum(col("n")).over(w))
        // 2·avgRank = 2·(below) + n + 1
        .select(col("v"),
          (lit(2L) * (col("cum") - col("n")) + col("n") + lit(1L))
            .as(s"r$c"))
    }
    val ranked = pairs
      .join(rank2("x").withColumnRenamed("v", "x"), Seq("x"))
      .join(rank2("y").withColumnRenamed("v", "y"), Seq("y"))
    val m = ranked.agg(
      count(lit(1)).as("n"),
      sum(col("rx").cast(dec)).as("sx"),
      sum(col("ry").cast(dec)).as("sy"),
      sum((col("rx").cast(dec) * col("rx").cast(dec))).as("sxx"),
      sum((col("ry").cast(dec) * col("ry").cast(dec))).as("syy"),
      sum((col("rx").cast(dec) * col("ry").cast(dec))).as("sxy"))
    val result = m.select(col("n").as("n_docs"),
      round((col("n").cast(dec) * col("sxy") - col("sx") * col("sy"))
          .cast("double") /
        sqrt((col("n").cast(dec) * col("sxx") - col("sx") * col("sx"))
            .cast("double") *
          (col("n").cast(dec) * col("syy") - col("sy") * col("sy"))
            .cast("double")), 9).as("spearman_rho"))
    sc.keep(result)
  }

  private val q225Sql =
    """WITH pairs AS (SELECT n_chars AS x,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
             AS y
         FROM documents),
       rx AS (SELECT v AS x, 2 * (cum - n) + n + 1 AS rx FROM (
           SELECT v, n, sum(n) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM (SELECT x AS v, count(*)::BIGINT AS n
                 FROM pairs GROUP BY x))),
       ry AS (SELECT v AS y, 2 * (cum - n) + n + 1 AS ry FROM (
           SELECT v, n, sum(n) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM (SELECT y AS v, count(*)::BIGINT AS n
                 FROM pairs GROUP BY y))),
       ranked AS (SELECT rx.rx, ry.ry FROM pairs
                  JOIN rx USING (x) JOIN ry USING (y)),
       m AS (SELECT count(*)::BIGINT AS n,
               sum(rx::HUGEINT) AS sx, sum(ry::HUGEINT) AS sy,
               sum(rx::HUGEINT * rx::HUGEINT) AS sxx,
               sum(ry::HUGEINT * ry::HUGEINT) AS syy,
               sum(rx::HUGEINT * ry::HUGEINT) AS sxy
             FROM ranked)
       SELECT n AS n_docs,
         round(CAST(n::HUGEINT * sxy - sx * sy AS DOUBLE) /
           sqrt(CAST(n::HUGEINT * sxx - sx * sx AS DOUBLE) *
                CAST(n::HUGEINT * syy - sy * sy AS DOUBLE)), 9)
           AS spearman_rho
       FROM m"""

  // --------------------------------------------------------------- q229
  /** Uplift (heterogeneous treatment effect) by pre-treatment decile —
    * the causal readout after q120's pooled Welch and q201's CUPED:
    * customers split into the deterministic hash arms, bucketed by
    * their PRE-treatment covariate (account balance) into exact
    * deciles (the q136 boundary kernel: OrderStat narrowing, ties to
    * the lower bin), and each decile reads treated-vs-control mean
    * spend — where in the covariate distribution the effect lives,
    * plus the cumulative (Qini-style) track. All money is integer
    * cents; the only FP ops are the final mean divisions. Corpus
    * shape: one customer aggregation of orders + a k-row boundary
    * fold; windows run over the 10-row decile table. */
  private def q229(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val arm = graft.operators.Sampling
      .hashBucket(col("c_custkey"), "up", 2)
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"),
        round(col("c_acctbal") * 100, 0).cast("long").as("bal_cents"),
        (arm === 0).as("treated"))
    val spend = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
        .as("spend_cents"))
    val joined = sc.cache(cust
      .join(spend, col("c_custkey") === col("o_custkey"), "left")
      .select(col("bal_cents"), col("treated"),
        coalesce(col("spend_cents"), lit(0L)).as("spend")))
    val qs9 = graft.engine.OrderStat
      .quantileRanks((1 to 9).map(_ / 10.0)) _
    val Seq((_, bs)) = graft.engine.OrderStat
      .multiQuantiles(joined, Seq("bal_cents" -> qs9), bins = 512)
    val decile = bs.foldLeft(lit(1))((acc, b) =>
      acc + when(col("bal_cents").cast("double") > lit(b), 1)
        .otherwise(0))
    val per = joined.groupBy(decile.as("decile"))
      .agg(sum(when(col("treated"), 1L).otherwise(0L)).as("n_t"),
        sum(when(!col("treated"), 1L).otherwise(0L)).as("n_c"),
        sum(when(col("treated"), col("spend")).otherwise(0L)).as("st"),
        sum(when(!col("treated"), col("spend")).otherwise(0L)).as("sc"))
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mt = col("st").cast("double") / col("n_t").cast("double")
    val mc = col("sc").cast("double") / col("n_c").cast("double")
    val cmt = sum(col("st")).over(w).cast("double") /
      sum(col("n_t")).over(w).cast("double")
    val cmc = sum(col("sc")).over(w).cast("double") /
      sum(col("n_c")).over(w).cast("double")
    val result = per.select(col("decile").cast("int").as("decile"),
        col("n_t"), col("n_c"),
        round(mt, 4).as("mean_t_cents"),
        round(mc, 4).as("mean_c_cents"),
        round(mt - mc, 4).as("uplift_cents"),
        round(cmt - cmc, 4).as("cum_uplift_cents"))
      .orderBy("decile")
    sc.keep(result)
  }

  private val q229Sql =
    """WITH cust AS (SELECT c_custkey,
           CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
           (('0x' || substr(md5('up' || c_custkey::VARCHAR), 1, 15))
             ::BIGINT % 2 = 0) AS treated
         FROM customer),
       spend AS (SELECT o_custkey,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
             AS BIGINT) AS spend_cents
         FROM orders GROUP BY o_custkey),
       j AS (SELECT bal_cents, treated,
               coalesce(spend_cents, 0) AS spend
             FROM cust LEFT JOIN spend ON o_custkey = c_custkey),
       nn AS (SELECT count(*) AS c FROM j),
       ks AS (SELECT q, greatest(1, CAST(ceil(q * c) AS BIGINT)) AS k
              FROM (SELECT unnest([0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7,
                                   0.8, 0.9]) AS q), nn),
       rr AS (SELECT bal_cents::DOUBLE AS x,
              row_number() OVER (ORDER BY bal_cents) AS rn FROM j),
       b AS (SELECT (SELECT list(r.x ORDER BY ks.q) FROM ks
                     JOIN rr r ON r.rn = ks.k) AS bs),
       dec AS (SELECT treated, spend,
               1 + len(list_filter(b.bs, x -> bal_cents::DOUBLE > x))
                 AS decile
             FROM j, b),
       per AS (SELECT decile,
               CAST(sum(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_t,
               CAST(sum(CASE WHEN NOT treated THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_c,
               CAST(sum(CASE WHEN treated THEN spend ELSE 0 END)
                 AS BIGINT) AS st,
               CAST(sum(CASE WHEN NOT treated THEN spend ELSE 0 END)
                 AS BIGINT) AS sc
             FROM dec GROUP BY decile),
       cum AS (SELECT *,
               sum(st) OVER (ORDER BY decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cst,
               sum(n_t) OVER (ORDER BY decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cnt,
               sum(sc) OVER (ORDER BY decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS csc,
               sum(n_c) OVER (ORDER BY decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cnc
             FROM per)
       SELECT CAST(decile AS INT) AS decile, n_t, n_c,
         round(st::DOUBLE / n_t::DOUBLE, 4) AS mean_t_cents,
         round(sc::DOUBLE / n_c::DOUBLE, 4) AS mean_c_cents,
         round(st::DOUBLE / n_t::DOUBLE - sc::DOUBLE / n_c::DOUBLE, 4)
           AS uplift_cents,
         round(cst::DOUBLE / cnt::DOUBLE - csc::DOUBLE / cnc::DOUBLE, 4)
           AS cum_uplift_cents
       FROM cum ORDER BY decile"""

  // --------------------------------------------------------------- q230
  /** Sketch SET ALGEBRA, fully oracle-replayed — the upgrade of
    * q180's bounds-flag contract: where q180 only asserts the
    * inclusion-exclusion estimate lands inside 3σ, here the DuckDB
    * oracle replays the REGISTER algebra itself (per-class register
    * tables, the union's register MAX-merge, the harmonic estimates)
    * bit-for-bit, so the sketch pipeline — not just its error bound —
    * is value-checked. The union sketch comes from q165's register
    * TABLES (any boolean combination of populations folds from the
    * same 2^p-row states without re-scanning keys), and the value
    * floor keeps A and B genuinely partial subsets rather than the
    * degenerate A = B = U. Graded against the exact intersection with
    * a relative-error readout.
    */
  private def q230(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val p = 8
    // the value floor keeps both populations PARTIAL subsets of the
    // user base (every user does every event type in this corpus, so
    // unfiltered classes would degenerate to A = B = U)
    val ev = Tables.events(s, d)
      .filter(col("event_type").isin("purchase", "click") &&
        col("value") > 90.0)
      .select(col("user_id").cast("string").as("k"),
        when(col("event_type") === "purchase", "A").otherwise("B")
          .as("cls"))
    val regs = sc.cache(graft.operators.Sketch.hllRegistersBy(ev, "k", "cls", p))
    // identity rollup evaluates A and B; the relabel-to-'U' rollup
    // max-merges both classes into the union sketch
    val per = graft.operators.Sketch.hllRollup(regs, col("grp"), p)
      .unionByName(graft.operators.Sketch.hllRollup(regs, lit("U"), p))
    val pivot = per.agg(
      max(when(col("grp") === "A", col("hll_estimate"))).as("est_a"),
      max(when(col("grp") === "B", col("hll_estimate"))).as("est_b"),
      max(when(col("grp") === "U", col("hll_estimate"))).as("est_union"))
    val exact = Tables.events(s, d)
      .filter(col("event_type").isin("purchase", "click") &&
        col("value") > 90.0)
      .groupBy("user_id")
      .agg(countDistinct(col("event_type")).as("nt"))
      .filter(col("nt") === 2)
      .agg(count(lit(1)).as("true_intersection"))
    val result = pivot.crossJoin(broadcast(exact))
      .withColumn("est_intersection",
        round(col("est_a") + col("est_b") - col("est_union"), 4))
      .select(col("est_a"), col("est_b"), col("est_union"),
        col("est_intersection"), col("true_intersection"),
        round((col("est_intersection") - col("true_intersection"))
          / col("true_intersection").cast("double"), 4).as("rel_err"))
    sc.keep(result)
  }

  private val q230Sql =
    """WITH h AS (SELECT
           ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h,
           CASE WHEN event_type = 'purchase' THEN 'A' ELSE 'B' END
             AS cls
         FROM events WHERE event_type IN ('purchase', 'click')
           AND value > 90.0),
       rg AS (SELECT cls, h % 256 AS bucket,
                max(CASE WHEN (h >> 8) = 0 THEN 53
                         ELSE 53 - length(bin(h >> 8)) END) AS mreg
              FROM h GROUP BY cls, bucket),
       allrg AS (SELECT cls AS g, bucket, mreg FROM rg
                 UNION ALL
                 SELECT 'U' AS g, bucket, max(mreg) AS mreg
                 FROM rg GROUP BY bucket),
       a AS (SELECT g, count(*) AS used,
               CAST(sum(1::BIGINT << CAST(53 - mreg AS INT)) AS BIGINT)
                 AS sum_present
             FROM allrg GROUP BY g),
       st AS (SELECT g, used, 256 - used AS zeros,
                sum_present + (256 - used) * (1::BIGINT << 53)
                  AS sum_scaled
              FROM a),
       e AS (SELECT g, used, zeros,
               (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0
                 * 9007199254740992.0 / sum_scaled::DOUBLE AS raw
             FROM st),
       f AS (SELECT g,
               round(CASE WHEN raw <= 640.0 AND zeros > 0
                          THEN 256.0 * ln(256.0 / zeros::DOUBLE)
                          ELSE raw END, 4) AS est
             FROM e),
       pv AS (SELECT max(CASE WHEN g = 'A' THEN est END) AS est_a,
                max(CASE WHEN g = 'B' THEN est END) AS est_b,
                max(CASE WHEN g = 'U' THEN est END) AS est_union
              FROM f),
       ti AS (SELECT count(*)::BIGINT AS true_intersection FROM (
           SELECT user_id FROM events
           WHERE event_type IN ('purchase', 'click') AND value > 90.0
           GROUP BY user_id
           HAVING count(DISTINCT event_type) = 2))
       SELECT est_a, est_b, est_union,
         round(est_a + est_b - est_union, 4) AS est_intersection,
         true_intersection,
         round((round(est_a + est_b - est_union, 4) - true_intersection)
           / true_intersection::DOUBLE, 4) AS rel_err
       FROM pv, ti"""

  // --------------------------------------------------------------- q232
  /** Per-fold exact AUC ([[graft.operators.MlEval.aucExactBy]]) — the
    * cross-validation / robustness companion to q214's pooled number:
    * the same detector graded independently on 4 deterministic
    * hash-free folds (`vec_id % 4`), exposing the fold-to-fold
    * variance a single AUC hides. Same rank algebra, prefix sums
    * partitioned by (fold, bucket) — no corpus-sized single-partition
    * state for any fold count.
    */
  private def q232(s: SparkSession, d: String): DataFrame = {
    val x = element_at(col("embedding"), 1).cast("double")
    val scored = Tables.embeddings(s, d).select(
      pmod(col("vec_id"), lit(4L)).as("fold"),
      (floor(abs(x) * lit(1e6) + lit(0.5))).cast("long") *
        when(x < 0, -1L).otherwise(1L) as "u",
      (col("label") === 0).as("y"))
    graft.operators.MlEval.aucExactBy(scored, "fold", "u", "y")
      .orderBy("fold")
  }

  private val q232Sql =
    """WITH s AS (SELECT vec_id % 4 AS fold,
           CAST(floor(abs(x) * 1e6 + 0.5) AS BIGINT)
             * (CASE WHEN x < 0 THEN -1 ELSE 1 END) AS u,
           (label = 0) AS y
         FROM (SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x, label
               FROM embeddings)),
       c AS (SELECT fold, u,
               CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p,
               CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n
             FROM s GROUP BY fold, u),
       w AS (SELECT fold, p, n,
               coalesce(sum(n) OVER (PARTITION BY fold ORDER BY u
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS nb
             FROM c)
       SELECT fold, CAST(sum(p) AS BIGINT) AS n_pos,
         CAST(sum(n) AS BIGINT) AS n_neg,
         round(CAST(sum(p::HUGEINT * (2 * nb + n)) AS DOUBLE)
           / (2.0 * CAST(sum(p) AS DOUBLE) * CAST(sum(n) AS DOUBLE)),
           9) AS auc
       FROM w GROUP BY fold ORDER BY fold"""

  // --------------------------------------------------------------- q234
  /** Horvitz-Thompson design correction — the audit that makes a
    * downsampled corpus still ANSWER corpus-level questions: after
    * q76's deterministic per-source mixing (inclusion probability
    * π_h = pct_h/100, known by construction), the surviving rows
    * estimate each source's TRUE token total as Σ_kept x / π_h, graded
    * against the unsampled truth with a relative-error readout. The
    * expansion is exact integer arithmetic (kept-token LONGs × 100)
    * until the single division; the mix rule is the VERBATIM q76
    * kernel, so the two queries can never drift. One scan, one
    * aggregation.
    */
  private def q234(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(words(col("text"))).cast("long").as("x"))
    val mixed = graft.operators.Sampling.mixSources(docs, "doc_id",
      "source",
      Map("src0" -> 90, "src1" -> 75, "src2" -> 50, "src3" -> 25,
        "src4" -> 10),
      defaultPct = 40)
    val pct = when(col("source") === "src0", 90)
      .when(col("source") === "src1", 75)
      .when(col("source") === "src2", 50)
      .when(col("source") === "src3", 25)
      .when(col("source") === "src4", 10).otherwise(40)
    val per = mixed.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("x")).as("true_tokens"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("x")).otherwise(0L)).as("kept_tokens"))
    val ht = round((col("kept_tokens") * lit(100L)).cast("double") /
      pct.cast("double"), 4)
    per.select(col("source"), col("n_docs"), col("n_kept"),
        col("true_tokens"), ht.as("ht_tokens"),
        round((ht - col("true_tokens").cast("double")) /
          col("true_tokens").cast("double"), 6).as("rel_err"))
      .orderBy("source")
  }

  private val q234Sql =
    """WITH t AS (SELECT source,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
             AS x,
           ('0x' || substr(md5('mix|' || coalesce(source, '') || '|'
               || coalesce(doc_id::VARCHAR, '')), 1, 15))::BIGINT % 100
             < CASE coalesce(source, '')
                 WHEN 'src0' THEN 90 WHEN 'src1' THEN 75
                 WHEN 'src2' THEN 50 WHEN 'src3' THEN 25
                 WHEN 'src4' THEN 10 ELSE 40 END AS kept
         FROM documents),
       per AS (SELECT source, count(*) AS n_docs,
                 CAST(sum(x) AS BIGINT) AS true_tokens,
                 CAST(count(*) FILTER (kept) AS BIGINT) AS n_kept,
                 CAST(coalesce(sum(x) FILTER (kept), 0) AS BIGINT)
                   AS kept_tokens
               FROM t GROUP BY source)
       SELECT source, n_docs, n_kept, true_tokens,
         round((kept_tokens * 100)::DOUBLE /
           (CASE source WHEN 'src0' THEN 90 WHEN 'src1' THEN 75
              WHEN 'src2' THEN 50 WHEN 'src3' THEN 25
              WHEN 'src4' THEN 10 ELSE 40 END)::DOUBLE, 4) AS ht_tokens,
         round((round((kept_tokens * 100)::DOUBLE /
             (CASE source WHEN 'src0' THEN 90 WHEN 'src1' THEN 75
                WHEN 'src2' THEN 50 WHEN 'src3' THEN 25
                WHEN 'src4' THEN 10 ELSE 40 END)::DOUBLE, 4)
             - true_tokens::DOUBLE) / true_tokens::DOUBLE, 6) AS rel_err
       FROM per ORDER BY source"""

  // --------------------------------------------------------------- q235
  /** Shared BM25 self-retrieval store for q235/q248 —
    * [[graft.operators.Rank.bm25SelfRetrieval]] `(qid, doc_id, score,
    * rnk)` over the documents of `d`, queries `doc_id % 40 = 0`: the
    * `rnk ≤ 10` head q248 grades plus each query's ORIGIN row q235
    * grades, ≤ 11 rows per query, ranks assigned over every document
    * sharing a query term. Built once per (session, dir) through the
    * [[graft.Kernels]] memo; both evals read the store. */
  private[graft] def bm25TopRanked(s: SparkSession, d: String): DataFrame =
    graft.Kernels.cached(s, "bm25TopRanked", d) { _ =>
      graft.operators.Rank.bm25SelfRetrieval(Tables.documents(s, d),
        "doc_id", "text", isQuery = pmod(col("doc_id"), lit(40)) === 0)
    }

  /** Retrieval-quality harness (MRR / hit@10) — the IR eval next to
    * q218's ANN recall: every 40th document becomes a query (its
    * first 8 distinct words), multi-query BM25 scores the corpus, and
    * the ORIGIN document's rank grades the retriever (self-retrieval:
    * the one relevance label a synthetic corpus provides for free).
    * Scores round to 4 dp BEFORE ranking (the q97 total-order
    * contract); reciprocal ranks quantize to 6 dp.
    */
  private def q235(s: SparkSession, d: String): DataFrame =
    bm25TopRanked(s, d)
      .filter(col("doc_id") === col("qid"))
      .select(col("qid"), col("rnk").cast("int").as("origin_rank"),
        (col("rnk") <= 10).as("hit10"),
        round(when(col("rnk") <= 10,
          lit(1.0) / col("rnk").cast("double")).otherwise(0.0), 6)
          .as("rr"))
      .orderBy("qid")

  private val q235Sql =
    """WITH toks AS (SELECT doc_id,
           regexp_split_to_array(trim(text), '\s+') AS w
         FROM documents),
       dl AS (SELECT doc_id, len(w)::DOUBLE AS dl FROM toks),
       st AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl
              FROM dl),
       qterms AS (SELECT DISTINCT doc_id AS qid, unnest(w[1:8]) AS tok
                  FROM toks WHERE doc_id % 40 = 0),
       terms AS (SELECT DISTINCT tok FROM qterms),
       tf AS (SELECT doc_id, t AS tok, count(*)::DOUBLE AS tf
              FROM (SELECT doc_id, unnest(w) AS t FROM toks) u
              JOIN terms ON t = terms.tok
              GROUP BY doc_id, t),
       idf AS (SELECT tok,
                 ln(1 + (st.n_docs - count(*)::DOUBLE + 0.5)
                      / (count(*)::DOUBLE + 0.5)) AS idf
               FROM tf, st GROUP BY tok, st.n_docs),
       sc AS (SELECT q.qid, tf.doc_id,
                round(sum(idf.idf * (tf.tf * 2.2)
                  / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))),
                  4) AS score
              FROM qterms q
              JOIN tf USING (tok) JOIN idf USING (tok)
              JOIN dl ON dl.doc_id = tf.doc_id, st
              GROUP BY q.qid, tf.doc_id),
       rk AS (SELECT qid, doc_id,
                row_number() OVER (PARTITION BY qid
                  ORDER BY score DESC, doc_id ASC) AS rnk
              FROM sc)
       SELECT qid, CAST(rnk AS INT) AS origin_rank,
         (rnk <= 10) AS hit10,
         round(CASE WHEN rnk <= 10 THEN 1.0 / rnk::DOUBLE
                    ELSE 0.0 END, 6) AS rr
       FROM rk WHERE doc_id = qid
       ORDER BY qid"""

  // --------------------------------------------------------------- q236
  /** Exact earth-mover (Wasserstein-1) drift — the drift family's
    * third lens after q124's binned PSI and q158's sup-norm KS: per
    * event type, how far the SECOND half of the month's daily-activity
    * distribution sits from the first half's, as the integral of
    * |CDF_a − CDF_b| over the day grid (W1 sees the magnitude of a
    * shift where KS sees only its peak; PSI needs bins). EXACT
    * integer algebra: per-(type, day) counts, calendar-bounded prefix
    * windows, and the unit-gap integral Σ|cumA·nB − cumB·nA| in
    * DECIMAL(38,0) divided once by nA·nB — no FP until the final
    * division, engine-exact by construction. Days are mapped onto the
    * SAME 15-day grid in both halves (day-of-month mod 15), making
    * the two distributions genuinely comparable shapes.
    */
  private def q236(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val ev = Tables.events(s, d)
      .select(col("event_type"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
          .as("dd"))
      .filter(col("dd") >= 0 && col("dd") < 30)
      .select(col("event_type"), pmod(col("dd"), lit(15)).as("g"),
        (col("dd") < 15).as("a"))
    val spark = s
    import spark.implicits._
    val counts0 = sc.cache(ev.groupBy("event_type", "g")
      .agg(sum(when(col("a"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("a"), 1L).otherwise(0L)).as("cb")))
    // densify: a grid point absent from the counts still contributes
    // its gap's |CDF_a − CDF_b| — the CDFs are flat there, not zero
    val grid = counts0.select("event_type").distinct()
      .crossJoin(broadcast((0 until 15).toDF("g")))
    val counts = grid.join(counts0, Seq("event_type", "g"), "left")
      .select(col("event_type"), col("g"),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val w = Window.partitionBy("event_type").orderBy("g")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = counts0.groupBy("event_type")
      .agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"))
    val cum = counts
      .withColumn("cuma", sum(col("ca")).over(w))
      .withColumn("cumb", sum(col("cb")).over(w))
      .join(broadcast(totals), "event_type")
    val term = abs(col("cuma").cast(dec) * col("n_b").cast(dec) -
      col("cumb").cast(dec) * col("n_a").cast(dec))
    val result = cum.withColumn("t", term)
      .groupBy("event_type")
      .agg(first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
        sum(col("t")).as("num"))
      .select(col("event_type"), col("n_a"), col("n_b"),
        round(col("num").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double")), 9)
          .as("w1_days"))
      .orderBy("event_type")
    sc.keep(result)
  }

  private val q236Sql =
    """WITH ev AS (SELECT event_type,
           datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS dd
         FROM events),
       f AS (SELECT event_type, dd % 15 AS g, (dd < 15) AS a
             FROM ev WHERE dd >= 0 AND dd < 30),
       c0 AS (SELECT event_type, g,
               CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
               CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT)
                 AS cb
             FROM f GROUP BY event_type, g),
       grid AS (SELECT t.event_type, CAST(r.range AS INT) AS g
                FROM (SELECT DISTINCT event_type FROM c0) t,
                     range(0, 15) r),
       cnt AS (SELECT grid.event_type, grid.g,
                 coalesce(c0.ca, 0) AS ca, coalesce(c0.cb, 0) AS cb
               FROM grid LEFT JOIN c0
                 ON c0.event_type = grid.event_type AND c0.g = grid.g),
       tot AS (SELECT event_type, CAST(sum(ca) AS BIGINT) AS n_a,
                 CAST(sum(cb) AS BIGINT) AS n_b
               FROM c0 GROUP BY event_type),
       cum AS (SELECT cnt.event_type, cnt.g, tot.n_a, tot.n_b,
                 sum(ca) OVER (PARTITION BY cnt.event_type ORDER BY g
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cuma,
                 sum(cb) OVER (PARTITION BY cnt.event_type ORDER BY g
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cumb
               FROM cnt JOIN tot USING (event_type))
       SELECT event_type, first(n_a) AS n_a, first(n_b) AS n_b,
         round(CAST(sum(abs(cuma::HUGEINT * n_b::HUGEINT
             - cumb::HUGEINT * n_a::HUGEINT)) AS DOUBLE)
           / (first(n_a)::DOUBLE * first(n_b)::DOUBLE), 9) AS w1_days
       FROM cum GROUP BY event_type ORDER BY event_type"""

  // --------------------------------------------------------------- q237
  /** Lagged cross-correlation — the lead/lag discovery q172's
    * contemporaneous rolling correlation can't see: corr(clicks_t,
    * purchases_{t+ℓ}) for ℓ ∈ [−3, 3] over the gap-filled daily grid
    * says whether clicks LEAD purchases (positive-lag peak) or just
    * co-move. Counts are exact integers on the calendar-bounded grid;
    * every lag's moments come from ONE grid self-join on shifted row
    * number (grid × 7 rows — days, never events), sums in
    * DECIMAL(38,0), and the correlation is fixed-shape IEEE on the
    * exact moments (the q114/q172 discipline), 4-dp rounded.
    */
  private def q237(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val spark = s
    import spark.implicits._
    val obs = Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type").as("k"), to_date(col("ts")).as("day"))
      .groupBy("k", "day").agg(count(lit(1)).as("cnt"))
    val span = obs.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val days = span
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val grid = sc.cache(days
      .join(obs.filter(col("k") === "click")
        .select(col("day"), col("cnt").as("ca")), Seq("day"), "left")
      .join(obs.filter(col("k") === "purchase")
        .select(col("day"), col("cnt").as("cb")), Seq("day"), "left")
      .select(col("day"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
      .withColumn("rn",
        row_number().over(Window.orderBy("day"))))
    val lags = (-3 to 3).toDF("lag")
    val pairs = grid.select(col("rn"), col("ca")).as("a")
      .crossJoin(broadcast(lags))
      .join(grid.select(col("rn").as("brn"), col("cb")).as("b"),
        col("brn") === col("rn") + col("lag"))
    val m = pairs.groupBy("lag").agg(
      count(lit(1)).as("n"),
      sum(col("ca").cast(dec)).as("sx"),
      sum(col("cb").cast(dec)).as("sy"),
      sum((col("ca").cast(dec) * col("cb").cast(dec))).as("sxy"),
      sum((col("ca").cast(dec) * col("ca").cast(dec))).as("sxx"),
      sum((col("cb").cast(dec) * col("cb").cast(dec))).as("syy"))
    val da = (col("n").cast(dec) * col("sxx") - col("sx") * col("sx"))
      .cast("double")
    val db = (col("n").cast(dec) * col("syy") - col("sy") * col("sy"))
      .cast("double")
    val result = m.select(col("lag"), col("n").as("n_days"),
        when(da > 0.0 && db > 0.0,
          round((col("n").cast(dec) * col("sxy") -
            col("sx") * col("sy")).cast("double") / sqrt(da * db), 4))
          .as("xcorr"))
      .orderBy("lag")
    sc.keep(result)
  }

  private val q237Sql =
    """WITH obs AS (SELECT event_type AS k, CAST(ts AS DATE) AS day,
           count(*)::BIGINT AS cnt
         FROM events WHERE event_type IN ('click', 'purchase')
         GROUP BY k, day),
       span AS (SELECT min(day) AS d0, max(day) AS d1 FROM obs),
       days AS (SELECT unnest(generate_series(d0, d1,
                  INTERVAL 1 DAY))::DATE AS day FROM span),
       grid AS (SELECT day,
                 coalesce((SELECT cnt FROM obs
                   WHERE k = 'click' AND obs.day = days.day), 0) AS ca,
                 coalesce((SELECT cnt FROM obs
                   WHERE k = 'purchase' AND obs.day = days.day), 0)
                   AS cb,
                 row_number() OVER (ORDER BY day) AS rn
               FROM days),
       lags AS (SELECT unnest([-3, -2, -1, 0, 1, 2, 3]) AS lag),
       pairs AS (SELECT l.lag, a.ca, b.cb
                 FROM lags l
                 JOIN grid a ON TRUE
                 JOIN grid b ON b.rn = a.rn + l.lag),
       m AS (SELECT lag, count(*)::BIGINT AS n,
               sum(ca::HUGEINT) AS sx, sum(cb::HUGEINT) AS sy,
               sum(ca::HUGEINT * cb::HUGEINT) AS sxy,
               sum(ca::HUGEINT * ca::HUGEINT) AS sxx,
               sum(cb::HUGEINT * cb::HUGEINT) AS syy
             FROM pairs GROUP BY lag)
       SELECT lag, n AS n_days,
         CASE WHEN CAST(n::HUGEINT * sxx - sx * sx AS DOUBLE) > 0.0
               AND CAST(n::HUGEINT * syy - sy * sy AS DOUBLE) > 0.0
           THEN round(CAST(n::HUGEINT * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n::HUGEINT * sxx - sx * sx AS DOUBLE)
                  * CAST(n::HUGEINT * syy - sy * sy AS DOUBLE)), 4)
         END AS xcorr
       FROM m ORDER BY lag"""

  // --------------------------------------------------------------- q239
  /** Quantile treatment effects — the distributional companion to
    * q229's mean-uplift deciles: at each outcome quantile q ∈ {.25,
    * .5, .75, .9}, the treated arm's EXACT order statistic minus the
    * control arm's (does the treatment move the median, or only the
    * tail?). Both arms' quantiles advance through ONE batched
    * narrowing solve ([[graft.engine.OrderStat.multiQuantiles]] on
    * null-split columns — the kernel counts non-nulls, so the two
    * arms ride one cached frame); outcomes are integer cents; the
    * only FP is the final cent→currency display division.
    */
  private def q239(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val spark = s
    import spark.implicits._
    val arm = graft.operators.Sampling
      .hashBucket(col("c_custkey"), "up", 2)
    val spend = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
        .as("spend_cents"))
    val joined = sc.cache(Tables.customer(s, d)
      .select(col("c_custkey"), (arm === 0).as("treated"))
      .join(spend, col("c_custkey") === col("o_custkey"), "left")
      .select(col("treated"),
        coalesce(col("spend_cents"), lit(0L)).as("sp"))
      .select(when(col("treated"), col("sp")).as("st"),
        when(!col("treated"), col("sp")).as("sc")))
    val qs = Seq(0.25, 0.5, 0.75, 0.9)
    val ranks = graft.engine.OrderStat.quantileRanks(qs) _
    val Seq((_, ts), (_, cs)) = graft.engine.OrderStat
      .multiQuantiles(joined, Seq("st" -> ranks, "sc" -> ranks),
        bins = 512)
    qs.zip(ts.zip(cs)).map { case (q, (t, c)) =>
      (q, round(t / 100.0, 2), round(c / 100.0, 2),
        round((t - c) / 100.0, 2))
    }.toDF("quantile", "treated_spend", "control_spend", "qte")
      .orderBy("quantile")
  }

  private val q239Sql =
    """WITH cust AS (SELECT c_custkey,
           (('0x' || substr(md5('up' || c_custkey::VARCHAR), 1, 15))
             ::BIGINT % 2 = 0) AS treated
         FROM customer),
       spend AS (SELECT o_custkey,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
             AS BIGINT) AS sp
         FROM orders GROUP BY o_custkey),
       j AS (SELECT treated, coalesce(sp, 0) AS sp
             FROM cust LEFT JOIN spend ON o_custkey = c_custkey),
       qs AS (SELECT unnest([0.25, 0.5, 0.75, 0.9]) AS q),
       tn AS (SELECT count(*) AS c FROM j WHERE treated),
       cn AS (SELECT count(*) AS c FROM j WHERE NOT treated),
       tr AS (SELECT sp, row_number() OVER (ORDER BY sp) AS rn
              FROM j WHERE treated),
       cr AS (SELECT sp, row_number() OVER (ORDER BY sp) AS rn
              FROM j WHERE NOT treated),
       kt AS (SELECT q, greatest(1, CAST(ceil(q * tn.c) AS BIGINT)) AS k
              FROM qs, tn),
       kc AS (SELECT q, greatest(1, CAST(ceil(q * cn.c) AS BIGINT)) AS k
              FROM qs, cn)
       SELECT CAST(kt.q AS DOUBLE) AS quantile,
         round(t.sp::DOUBLE / 100.0, 2) AS treated_spend,
         round(c.sp::DOUBLE / 100.0, 2) AS control_spend,
         round((t.sp - c.sp)::DOUBLE / 100.0, 2) AS qte
       FROM kt JOIN kc ON kc.q = kt.q
       JOIN tr t ON t.rn = kt.k
       JOIN cr c ON c.rn = kc.k
       ORDER BY quantile"""

  // --------------------------------------------------------------- q240
  /** Feature-drift sweep — q124's single-column PSI generalized to a
    * training-serving-skew DASHBOARD: every numeric lineitem feature
    * melts into (feature, value) rows in ONE scan (the q173 struct-
    * explode shape), per-feature equi-depth boundaries are EXACT
    * order statistics at ranks `max(1, ceil(q·n))` (the q239 rank
    * contract), all features×(k−1) = 28 boundary tasks advancing in
    * LOCKSTEP through one batched [[graft.engine.OrderStat
    * .multiQuantiles]] narrowing solve — no task ever holds more than
    * `bins` counters, where a grouped exact `percentile` buffered an
    * entire corpus column in one aggregation buffer (the 100 TB
    * killer this query used to carry). The tiny features×(k−1)
    * boundary table is broadcast back onto the melt. Per-bin
    * Laplace-smoothed terms quantize to 1e-9-unit LONGs before the
    * 8-bin sum (order-independent; the q216 contract); bins densify
    * over the full 0..k−1 range so collapsed boundaries still expose
    * drift. One melted pass, k-row-per-feature state.
    */
  private def q240(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val k = 8
    val spark = s
    import spark.implicits._
    val split = lit("1998-01-01").cast("date")
    val li = Tables.lineitem(s, d)
    val melted = li
      .select(explode(array(
          struct(lit("l_quantity").as("f"),
            col("l_quantity").cast("double").as("v")),
          struct(lit("l_extendedprice").as("f"),
            col("l_extendedprice").cast("double").as("v")),
          struct(lit("l_discount").as("f"),
            col("l_discount").cast("double").as("v")),
          struct(lit("l_tax").as("f"),
            col("l_tax").cast("double").as("v")))).as("e"),
        (to_date(col("l_shipdate")) < split).as("isref"))
      .select(col("e.f").as("f"), col("e.v").as("v"), col("isref"))
      .filter(col("v").isNotNull)
    // ONE corpus pass: collapse the melt to a per-(f, v, period)
    // count table and persist THAT (value-cardinality-sized — the
    // safe side of the persist-vs-recompute line; caching the
    // 4x-corpus melt itself measured ~6 s/run, slower than the 0.3 s
    // re-melt it saved). Both the boundary solve and the binning read
    // from this table, so the corpus is scanned exactly once.
    val counts = sc.cache(melted
      .groupBy("f", "v", "isref").agg(count(lit(1)).as("nv")))
    // per-feature equi-depth boundaries as exact rank-max(1,ceil(q·n))
    // order statistics of the REFERENCE period, all features in ONE
    // grouped prefix-sum pass over the count table (the earlier
    // 28-task narrowing solve re-scanned the corpus with a tasks-wide
    // explode per round: 17.8 → ~2 s warm at sf0.1); the 4-row bounds
    // table stays distributed and re-attaches as a broadcast
    val solvedB = graft.operators.Quality.groupedRankQuantilesFromCounts(
      counts.filter(col("isref"))
        .select(col("f").as("g"), col("v"), col("nv")),
      (1 until k).map(i => (i, k)))
    // 4-row table referenced TWICE below (the binning broadcast and
    // the dense grid): localCheckpoint pins it so the boundary solve
    // runs once, not per consumer
    val bounds = sc.checkpoint(solvedB.groupBy("g")
      .agg(transform(
        array_sort(collect_list(struct(col("qi"), col("value")))),
        e => e.getField("value")).as("bounds"))
      .select(col("g").as("f"), col("bounds")))
    // binned is f×bin-row tiny: checkpoint it eagerly so the counts
    // cache can be dropped HERE
    val binned = sc.checkpoint(counts.join(broadcast(bounds), "f")
      .select(col("f"), col("isref"), col("nv"),
        aggregate(col("bounds"), lit(0),
          (acc, b) => acc + when(col("v") > b, 1).otherwise(0))
          .as("bin"))
      .groupBy("f", "bin")
      .agg(sum(when(col("isref"), col("nv")).otherwise(0L)).as("n_ref"),
        sum(when(!col("isref"), col("nv")).otherwise(0L)).as("n_cur")))
    sc.release(counts)
    val grid = bounds.select("f")
      .crossJoin(broadcast((0 until k).toDF("bin")))
    val dense = grid.join(binned, Seq("f", "bin"), "left")
      .select(col("f"), col("bin"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val totals = dense.groupBy("f")
      .agg(sum(col("n_ref")).as("tr"), sum(col("n_cur")).as("tc"))
    val pr = (col("n_ref") + 0.5) / (col("tr") + lit(0.5 * k))
    val pc = (col("n_cur") + 0.5) / (col("tc") + lit(0.5 * k))
    val t = (pc - pr) * log(pc / pr)
    val units = floor(abs(t) * lit(1e9) + lit(0.5)).cast("long") *
      when(t < 0, -1L).otherwise(1L)
    val result = dense.join(broadcast(totals), "f")
      .select(col("f"), units.as("u"), col("tr"), col("tc"))
      .groupBy("f")
      .agg(first(col("tr")).as("n_ref"), first(col("tc")).as("n_cur"),
        sum(col("u")).as("u"))
      .select(col("f").as("feature"), col("n_ref"), col("n_cur"),
        round(col("u").cast("double") / lit(1e9), 6).as("psi"))
      .orderBy("feature")
    sc.keep(result)
  }

  private val q240Sql = {
    val k = 8
    val fracs = (1 until k).map(_.toDouble / k)
    s"""WITH melted AS (SELECT f, v,
           (CAST(l_shipdate AS DATE) < DATE '1998-01-01') AS isref
         FROM (SELECT unnest(['l_quantity', 'l_extendedprice',
                 'l_discount', 'l_tax']) AS f,
             unnest([l_quantity::DOUBLE, l_extendedprice::DOUBLE,
                 l_discount::DOUBLE, l_tax::DOUBLE]) AS v,
             l_shipdate
           FROM lineitem)
         WHERE v IS NOT NULL),
       refn AS (SELECT f, count(*)::BIGINT AS n
                FROM melted WHERE isref GROUP BY f),
       ks AS (SELECT f,
                greatest(1, CAST(ceil(frac * n) AS BIGINT)) AS kk
              FROM refn, (SELECT unnest([${fracs.mkString(", ")}])
                AS frac)),
       rr AS (SELECT f, v,
                row_number() OVER (PARTITION BY f ORDER BY v) AS rn
              FROM melted WHERE isref),
       b AS (SELECT ks.f, list(rr.v ORDER BY rr.v) AS bounds
             FROM ks JOIN rr ON rr.f = ks.f AND rr.rn = ks.kk
             GROUP BY ks.f),
       binned AS (SELECT m.f,
           CAST(len(list_filter(b.bounds, x -> m.v > x)) AS INT) AS bin,
           CAST(sum(CASE WHEN isref THEN 1 ELSE 0 END) AS BIGINT)
             AS n_ref,
           CAST(sum(CASE WHEN NOT isref THEN 1 ELSE 0 END) AS BIGINT)
             AS n_cur
         FROM melted m JOIN b ON b.f = m.f
         GROUP BY m.f, bin),
       grid AS (SELECT b.f, CAST(r.range AS INT) AS bin
                FROM b, range(0, $k) r),
       dense AS (SELECT grid.f, grid.bin,
                 coalesce(binned.n_ref, 0) AS n_ref,
                 coalesce(binned.n_cur, 0) AS n_cur
               FROM grid LEFT JOIN binned
                 ON binned.f = grid.f AND binned.bin = grid.bin),
       tot AS (SELECT f, CAST(sum(n_ref) AS BIGINT) AS tr,
                 CAST(sum(n_cur) AS BIGINT) AS tc
               FROM dense GROUP BY f),
       terms AS (SELECT dense.f, tot.tr, tot.tc,
           ((n_cur + 0.5) / (tc + ${0.5 * k})
             - (n_ref + 0.5) / (tr + ${0.5 * k}))
           * ln(((n_cur + 0.5) / (tc + ${0.5 * k}))
               / ((n_ref + 0.5) / (tr + ${0.5 * k}))) AS t
         FROM dense JOIN tot ON tot.f = dense.f)
       SELECT f AS feature, first(tr) AS n_ref, first(tc) AS n_cur,
         round(CAST(sum(CAST(floor(abs(t) * 1e9 + 0.5) AS BIGINT)
             * (CASE WHEN t < 0 THEN -1 ELSE 1 END)) AS BIGINT)::DOUBLE
           / 1e9, 6) AS psi
       FROM terms GROUP BY f ORDER BY feature"""
  }

  // --------------------------------------------------------------- q241
  /** A/A negative control — the guardrail that validates the
    * experimentation stack itself (q120 Welch, q126 SRM, q201 CUPED,
    * q219 BH, q229/q239 uplift all assume the assignment and the test
    * behave): a FRESH hash split (salt "aa") of the same population
    * carries no true effect by construction, so per-type Welch z
    * should sit near 0 and |z| > 1.96 should fire at ~5%. Each type
    * reports its A/A z and flag, plus the family false-positive count
    * (a windowed constant over the ≤5-row family) — a stack that
    * flags most of its A/A readouts is broken upstream of any real
    * experiment. Corpus work stays the ONE welchAb moment
    * aggregation.
    */
  private def q241(s: SparkSession, d: String): DataFrame = {
    val fam = graft.operators.Experiment
      .welchAb(Tables.events(s, d), "user_id", "value", "event_type",
        salt = "aa")
      .filter(col("z").isNotNull)
      .withColumn("false_positive", abs(col("z")) > 1.96)
    val wAll = Window.partitionBy()
    fam
      .withColumn("family_fp",
        sum(when(col("false_positive"), 1L).otherwise(0L)).over(wAll))
      .select(col("event_type"), col("n_a"), col("n_b"), col("z"),
        col("false_positive"), col("family_fp"))
      .orderBy("event_type")
  }

  private val q241Sql =
    """WITH b AS (SELECT event_type, value::DOUBLE AS x,
           ('0x' || substr(md5('aa' || user_id::VARCHAR), 1, 15))::BIGINT
             % 2 AS arm
         FROM events WHERE value IS NOT NULL),
       m AS (SELECT event_type,
               CAST(count(*) FILTER (arm = 0) AS BIGINT) AS n_a,
               CAST(count(*) FILTER (arm = 1) AS BIGINT) AS n_b,
               sum(x) FILTER (arm = 0) AS sa,
               sum(x) FILTER (arm = 1) AS sb,
               sum(x * x) FILTER (arm = 0) AS saa,
               sum(x * x) FILTER (arm = 1) AS sbb
             FROM b GROUP BY event_type
             HAVING n_a >= 2 AND n_b >= 2),
       t AS (SELECT event_type, n_a, n_b,
               sa / n_a AS ma, sb / n_b AS mb,
               greatest((saa / n_a - (sa / n_a) * (sa / n_a))
                 * n_a / (n_a - 1.0), 0.0) AS va,
               greatest((sbb / n_b - (sb / n_b) * (sb / n_b))
                 * n_b / (n_b - 1.0), 0.0) AS vb
             FROM m),
       fam AS (SELECT event_type, n_a, n_b,
               round((ma - mb) / sqrt(va / n_a + vb / n_b), 4) AS z
             FROM t WHERE va / n_a + vb / n_b > 0),
       fp AS (SELECT *, (abs(z) > 1.96) AS false_positive FROM fam)
       SELECT event_type, n_a, n_b, z, false_positive,
         CAST(sum(CASE WHEN false_positive THEN 1 ELSE 0 END)
           OVER () AS BIGINT) AS family_fp
       FROM fp ORDER BY event_type"""

  // --------------------------------------------------------------- q244
  /** Cochran–Mantel–Haenszel stratified 2×2 analysis — the pooled
    * readout q120's per-segment Welch CANNOT give: one common odds
    * ratio for "does the treated arm over-produce high-value events"
    * ACROSS event-type strata, immune to Simpson reversal (a pooled
    * 2×2 would confound arm imbalance with type mix). Per stratum the
    * 2×2 cells (a,b,c,d) are exact LONG counts from ONE aggregation;
    * the MH terms a·d/n, b·c/n, the null expectation E[a] and its
    * hypergeometric variance quantize to 1e-6-unit LONGs BEFORE the
    * cross-strata sum (5-row table, but Spark sums in partition order
    * — quantized units make the fold order-independent), and the two
    * final divisions close it: OR_MH = Σr/Σs, χ²_MH = (Σa − ΣE)²/ΣV.
    */
  private def q244(s: SparkSession, d: String): DataFrame = {
    val arm = graft.operators.Sampling.hashBucket(col("user_id"), "ab", 2)
    val cells = Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(col("event_type"), (arm === 0).as("t"),
        (col("value") > 50.0).as("y"))
      .groupBy("event_type")
      .agg(
        sum(when(col("t") && col("y"), 1L).otherwise(0L)).as("a"),
        sum(when(col("t") && !col("y"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("t") && col("y"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("t") && !col("y"), 1L).otherwise(0L)).as("d"))
    val n = (col("a") + col("b") + col("c") + col("d")).cast("double")
    def u6(x: org.apache.spark.sql.Column) =
      floor(x * lit(1e6) + lit(0.5)).cast("long")
    // products of per-stratum cell counts are formed in DOUBLE, not
    // LONG: a LONG a*d silently wraps past ~3e9-per-cell at full
    // scale (and the BIGINT oracle side would raise instead); double
    // factors are exact below 2^53 and IEEE-identical across engines
    def dbl(x: org.apache.spark.sql.Column) = x.cast("double")
    val terms = cells.select(
      col("a"),
      (col("a") + col("b") + col("c") + col("d")).as("nt"),
      u6(dbl(col("a")) * dbl(col("d")) / n).as("r_u"),
      u6(dbl(col("b")) * dbl(col("c")) / n).as("s_u"),
      u6(dbl(col("a") + col("b")) * dbl(col("a") + col("c")) / n)
        .as("e_u"),
      u6(dbl(col("a") + col("b")) * dbl(col("c") + col("d")) /
          (n * (n - lit(1.0))) *
         (dbl(col("a") + col("c")) * dbl(col("b") + col("d")) / n))
        .as("v_u"))
    terms.agg(
        count(lit(1)).as("n_strata"), sum(col("nt")).as("n_total"),
        sum(col("a")).as("sa"), sum(col("r_u")).as("r"),
        sum(col("s_u")).as("ss"), sum(col("e_u")).as("e"),
        sum(col("v_u")).as("v"))
      .select(col("n_strata"), col("n_total"),
        round(col("r").cast("double") / col("ss").cast("double"), 6)
          .as("or_mh"),
        round((col("sa").cast("double") - col("e").cast("double") / 1e6) *
              (col("sa").cast("double") - col("e").cast("double") / 1e6) /
              (col("v").cast("double") / 1e6), 6).as("chi2_mh"))
  }

  private val q244Sql =
    """WITH b AS (SELECT event_type,
           (('0x' || substr(md5('ab' || user_id::VARCHAR), 1, 15))::BIGINT
             % 2 = 0) AS t,
           (value > 50.0) AS y
         FROM events WHERE value IS NOT NULL),
       cells AS (SELECT event_type,
           CAST(sum(CASE WHEN t AND y THEN 1 ELSE 0 END) AS BIGINT) AS a,
           CAST(sum(CASE WHEN t AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS bb,
           CAST(sum(CASE WHEN NOT t AND y THEN 1 ELSE 0 END) AS BIGINT) AS c,
           CAST(sum(CASE WHEN NOT t AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS d
         FROM b GROUP BY event_type),
       terms AS (SELECT a, (a + bb + c + d) AS nt,
           CAST(floor(a::DOUBLE * d::DOUBLE / (a+bb+c+d)::DOUBLE * 1e6
             + 0.5) AS BIGINT) AS r_u,
           CAST(floor(bb::DOUBLE * c::DOUBLE / (a+bb+c+d)::DOUBLE * 1e6
             + 0.5) AS BIGINT) AS s_u,
           CAST(floor((a+bb)::DOUBLE * (a+c)::DOUBLE / (a+bb+c+d)::DOUBLE
             * 1e6 + 0.5) AS BIGINT) AS e_u,
           CAST(floor((a+bb)::DOUBLE * (c+d)::DOUBLE
               / ((a+bb+c+d)::DOUBLE * ((a+bb+c+d)::DOUBLE - 1.0))
               * ((a+c)::DOUBLE * (bb+d)::DOUBLE / (a+bb+c+d)::DOUBLE) * 1e6
             + 0.5) AS BIGINT) AS v_u
         FROM cells)
       SELECT CAST(count(*) AS BIGINT) AS n_strata,
         CAST(sum(nt) AS BIGINT) AS n_total,
         round(CAST(sum(r_u) AS DOUBLE) / CAST(sum(s_u) AS DOUBLE), 6)
           AS or_mh,
         round((CAST(sum(a) AS DOUBLE) - CAST(sum(e_u) AS DOUBLE) / 1e6)
             * (CAST(sum(a) AS DOUBLE) - CAST(sum(e_u) AS DOUBLE) / 1e6)
             / (CAST(sum(v_u) AS DOUBLE) / 1e6), 6) AS chi2_mh
       FROM terms"""

  // --------------------------------------------------------------- q245
  /** Power analysis / minimum detectable effect — the question an
    * experimenter asks BEFORE running q120: at the current traffic
    * and variance, how small an effect could this stack even see?
    * MDE (α=0.05 two-sided, 80% power) = (z₀.₉₇₅ + z₀.₈)·SE ≈
    * 2.8016·SE on the Welch standard error — computed FROM
    * [[graft.operators.Experiment.welchAb]]'s own 6-dp-rounded `se`
    * and 4-dp means (deterministic inputs ⇒ deterministic readout;
    * the oracle replays the identical moment algebra and roundings).
    * Corpus cost: the ONE welchAb moment aggregation, nothing else.
    */
  private def q245(s: SparkSession, d: String): DataFrame = {
    val fam = graft.operators.Experiment
      .welchAb(Tables.events(s, d), "user_id", "value", "event_type",
        salt = "ab")
    val pooled = (col("mean_a") * col("n_a").cast("double") +
      col("mean_b") * col("n_b").cast("double")) /
      (col("n_a") + col("n_b")).cast("double")
    fam.select(col("event_type"), col("n_a"), col("n_b"), col("se"),
        round(lit(2.8016) * col("se"), 6).as("mde_abs"),
        round(lit(2.8016) * col("se") / pooled, 6).as("mde_rel"))
      .orderBy("event_type")
  }

  private val q245Sql =
    """WITH b AS (SELECT event_type, value::DOUBLE AS x,
           ('0x' || substr(md5('ab' || user_id::VARCHAR), 1, 15))::BIGINT
             % 2 AS arm
         FROM events WHERE value IS NOT NULL),
       m AS (SELECT event_type,
               CAST(count(*) FILTER (arm = 0) AS BIGINT) AS n_a,
               CAST(count(*) FILTER (arm = 1) AS BIGINT) AS n_b,
               sum(x) FILTER (arm = 0) AS sa,
               sum(x) FILTER (arm = 1) AS sb,
               sum(x * x) FILTER (arm = 0) AS saa,
               sum(x * x) FILTER (arm = 1) AS sbb
             FROM b GROUP BY event_type
             HAVING n_a >= 2 AND n_b >= 2),
       t AS (SELECT event_type, n_a, n_b,
               round(sa / n_a, 4) AS ma, round(sb / n_b, 4) AS mb,
               round(sqrt(
                 greatest((saa / n_a - (sa / n_a) * (sa / n_a))
                   * n_a / (n_a - 1.0), 0.0) / n_a +
                 greatest((sbb / n_b - (sb / n_b) * (sb / n_b))
                   * n_b / (n_b - 1.0), 0.0) / n_b), 6) AS se
             FROM m)
       SELECT event_type, n_a, n_b, se,
         round(2.8016 * se, 6) AS mde_abs,
         round(2.8016 * se /
           ((ma * n_a::DOUBLE + mb * n_b::DOUBLE) / (n_a + n_b)::DOUBLE),
           6) AS mde_rel
       FROM t ORDER BY event_type"""

  // --------------------------------------------------------------- q246
  /** Chi-square test of independence + Cramér's V over a categorical
    * pair — the contingency companion to q223's mutual information
    * (MI ranks association in nats; χ²/V give the classical test
    * statistic and a [0,1] effect size): is order STATUS independent
    * of order PRIORITY? Exact r×c cell counts from ONE aggregation;
    * expected counts row·col/n from exact LONG margins; each cell's
    * (o−e)²/e quantizes to 1e-6-unit LONGs before the k-cell sum, so
    * the fold is order-independent; V = sqrt(χ²/(n·(min(r,c)−1))).
    */
  private def q246(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val cells = sc.cache(Tables.orders(s, d)
      .groupBy(col("o_orderstatus").as("rr"),
        col("o_orderpriority").as("cc"))
      .agg(count(lit(1)).as("o")))
    val rowm = cells.groupBy("rr").agg(sum(col("o")).as("rm"))
    val colm = cells.groupBy("cc").agg(sum(col("o")).as("cm"))
    val tot = cells.agg(sum(col("o")).as("n"),
      countDistinct(col("rr")).as("nr"), countDistinct(col("cc")).as("nc"))
    val e = col("rm").cast("double") * col("cm").cast("double") /
      col("n").cast("double")
    val term = (col("o").cast("double") - e) * (col("o").cast("double") - e) / e
    val result = cells
      .join(broadcast(rowm), "rr").join(broadcast(colm), "cc")
      .crossJoin(broadcast(tot))
      .select(col("n"), col("nr"), col("nc"),
        floor(term * lit(1e6) + lit(0.5)).cast("long").as("t_u"))
      .groupBy("n", "nr", "nc")
      .agg(sum(col("t_u")).as("chi2_u"))
      .select(col("n").as("n_orders"),
        ((col("nr") - 1) * (col("nc") - 1)).as("dof"),
        round(col("chi2_u").cast("double") / 1e6, 6).as("chi2"),
        round(sqrt(col("chi2_u").cast("double") / 1e6 /
          (col("n").cast("double") *
            (least(col("nr"), col("nc")) - lit(1)).cast("double"))), 6)
          .as("cramers_v"))
    sc.keep(result)
  }

  private val q246Sql =
    """WITH cells AS (SELECT o_orderstatus AS rr, o_orderpriority AS cc,
           count(*)::BIGINT AS o
         FROM orders GROUP BY 1, 2),
       rowm AS (SELECT rr, CAST(sum(o) AS BIGINT) AS rm FROM cells GROUP BY rr),
       colm AS (SELECT cc, CAST(sum(o) AS BIGINT) AS cm FROM cells GROUP BY cc),
       tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                 CAST(count(DISTINCT rr) AS BIGINT) AS nr,
                 CAST(count(DISTINCT cc) AS BIGINT) AS nc
               FROM cells),
       terms AS (SELECT n, nr, nc,
           CAST(floor((o::DOUBLE - rm::DOUBLE * cm::DOUBLE / n::DOUBLE)
               * (o::DOUBLE - rm::DOUBLE * cm::DOUBLE / n::DOUBLE)
               / (rm::DOUBLE * cm::DOUBLE / n::DOUBLE) * 1e6 + 0.5)
             AS BIGINT) AS t_u
         FROM cells JOIN rowm USING (rr) JOIN colm USING (cc), tot)
       SELECT n AS n_orders,
         CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof,
         round(CAST(sum(t_u) AS DOUBLE) / 1e6, 6) AS chi2,
         round(sqrt(CAST(sum(t_u) AS DOUBLE) / 1e6
           / (n::DOUBLE * (least(nr, nc) - 1)::DOUBLE)), 6) AS cramers_v
       FROM terms GROUP BY n, nr, nc"""

  // --------------------------------------------------------------- q247
  /** Mann–Whitney rank-sum A/B test per event type — the
    * nonparametric companion to q120's Welch readout on the SAME
    * hash-arm assignment: does one arm stochastically dominate the
    * other, visible even when heavy tails hide a mean shift? Exact
    * rank algebra through [[graft.operators.MlEval.mannWhitney]]
    * (per-value counts → two-level bucketed prefix sum; tie-corrected
    * normal z) on micro-unit-quantized values — no pair enumeration,
    * no global sort, U in DECIMAL(38,0).
    */
  private def q247(s: SparkSession, d: String): DataFrame = {
    val x = col("value").cast("double")
    val units = (floor(abs(x) * lit(1e6) + lit(0.5))).cast("long") *
      when(x < 0, -1L).otherwise(1L)
    val arm = graft.operators.Sampling.hashBucket(col("user_id"), "ab", 2)
    val scored = Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(col("event_type"), units.as("u"), (arm === 0).as("y"))
    graft.operators.MlEval
      .mannWhitney(scored, "event_type", "u", "y")
      .orderBy("event_type")
  }

  private val q247Sql =
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
               sum(a::HUGEINT * (2 * bbelow + bb)) AS u2,
               sum((a + bb)::HUGEINT * (a + bb) * (a + bb) - (a + bb))
                 AS ties
             FROM w GROUP BY event_type),
       fin AS (SELECT event_type, n_a, n_b,
               CAST(u2 AS DOUBLE) / 2.0 AS u_a,
               n_a::DOUBLE AS na, n_b::DOUBLE AS nb,
               n_a::DOUBLE + n_b::DOUBLE AS nn,
               CAST(ties AS DOUBLE) AS td
             FROM agg)
       SELECT event_type, n_a, n_b, u_a,
         CASE WHEN n_a > 0 AND n_b > 0
               AND na * nb / 12.0 * ((nn + 1.0) - td / (nn * (nn - 1.0))) > 0
           THEN round((u_a - na * nb / 2.0) /
             sqrt(na * nb / 12.0 * ((nn + 1.0) - td / (nn * (nn - 1.0)))), 4)
         END AS z
       FROM fin ORDER BY event_type"""

  // --------------------------------------------------------------- q248
  /** NDCG@10 with GRADED relevance — the ranking-quality lens q235's
    * binary MRR/hit@10 can't give: the origin document is the only
    * perfect hit (rel 2), but any document from the origin's SOURCE
    * is partially relevant (rel 1), so a retriever that surfaces
    * near-misses scores above one that surfaces noise. Same shared
    * BM25 store ([[bm25TopRanked]] — engine and ranking contract cannot
    * drift from q235); relevance joins touch only the 10-row-per-query
    * head. Discounted gains (2^rel−1)/log₂(rank+1) quantize to
    * 1e-9-unit LONGs before summation (libm log₂ differs across
    * engines by ulps — far below the grid); the ideal DCG places the
    * origin first and min(9, |source|−1) rel-1 docs behind it.
    */
  private def q248(s: SparkSession, d: String): DataFrame = {
    // reads the shared top-of-ranking store (built once per session by
    // whichever of q235/q248 runs first); relevance joins touch only
    // the 10-row-per-query head as before
    val ranked = bm25TopRanked(s, d)
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    val qsrc = src.select(col("doc_id").as("qid"),
      col("source").as("qsource"))
    val srcCount = src.groupBy("source").agg(count(lit(1)).as("n_src"))
    val top = ranked.filter(col("rnk") <= 10)
      .join(src, "doc_id")
      .join(broadcast(qsrc), "qid")
      .withColumn("gain",
        when(col("doc_id") === col("qid"), 3L)
          .when(col("source") === col("qsource"), 1L).otherwise(0L))
      .withColumn("term_u",
        floor(col("gain").cast("double") /
          log2(col("rnk").cast("double") + lit(1.0)) * lit(1e9) + lit(0.5))
          .cast("long"))
    val dcg = top.groupBy("qid")
      .agg(sum(when(col("gain") > 0, 1L).otherwise(0L)).as("rel_in_top10"),
        sum(col("term_u")).as("dcg_u"))
    val ideal = qsrc
      .join(broadcast(srcCount), col("qsource") === col("source"))
      .select(col("qid"), col("n_src"))
      .withColumn("idcg_u", lit(3000000000L) +
        aggregate(
          filter(sequence(lit(2), lit(10)),
            i => i <= least(lit(10), col("n_src"))),
          lit(0L),
          (acc, i) => acc + floor(lit(1.0) /
            log2(i.cast("double") + lit(1.0)) * lit(1e9) + lit(0.5))
            .cast("long")))
    dcg.join(broadcast(ideal), "qid")
      .select(col("qid"), col("rel_in_top10"),
        round(col("dcg_u").cast("double") / lit(1e9), 6).as("dcg10"),
        round(col("dcg_u").cast("double") / col("idcg_u").cast("double"), 6)
          .as("ndcg10"))
      .orderBy("qid")
  }

  private val q248Sql =
    """WITH toks AS (SELECT doc_id,
           regexp_split_to_array(trim(text), '\s+') AS w
         FROM documents),
       dl AS (SELECT doc_id, len(w)::DOUBLE AS dl FROM toks),
       st AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl
              FROM dl),
       qterms AS (SELECT DISTINCT doc_id AS qid, unnest(w[1:8]) AS tok
                  FROM toks WHERE doc_id % 40 = 0),
       terms AS (SELECT DISTINCT tok FROM qterms),
       tf AS (SELECT doc_id, t AS tok, count(*)::DOUBLE AS tf
              FROM (SELECT doc_id, unnest(w) AS t FROM toks) u
              JOIN terms ON t = terms.tok
              GROUP BY doc_id, t),
       idf AS (SELECT tok,
                 ln(1 + (st.n_docs - count(*)::DOUBLE + 0.5)
                      / (count(*)::DOUBLE + 0.5)) AS idf
               FROM tf, st GROUP BY tok, st.n_docs),
       sc AS (SELECT q.qid, tf.doc_id,
                round(sum(idf.idf * (tf.tf * 2.2)
                  / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))),
                  4) AS score
              FROM qterms q
              JOIN tf USING (tok) JOIN idf USING (tok)
              JOIN dl ON dl.doc_id = tf.doc_id, st
              GROUP BY q.qid, tf.doc_id),
       rk AS (SELECT qid, doc_id,
                row_number() OVER (PARTITION BY qid
                  ORDER BY score DESC, doc_id ASC) AS rnk
              FROM sc),
       qsrc AS (SELECT doc_id AS qid, source AS qsource FROM documents),
       scnt AS (SELECT source, count(*)::BIGINT AS n_src
                FROM documents GROUP BY source),
       top AS (SELECT rk.qid, rk.rnk,
                 CASE WHEN rk.doc_id = rk.qid THEN 3
                      WHEN s2.source = q.qsource THEN 1 ELSE 0 END AS gain
               FROM rk
               JOIN documents s2 ON s2.doc_id = rk.doc_id
               JOIN qsrc q ON q.qid = rk.qid
               WHERE rk.rnk <= 10),
       dcg AS (SELECT qid,
                 CAST(sum(CASE WHEN gain > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS rel_in_top10,
                 CAST(sum(CAST(floor(gain::DOUBLE
                     / log2(rnk::DOUBLE + 1.0) * 1e9 + 0.5) AS BIGINT))
                   AS BIGINT) AS dcg_u
               FROM top GROUP BY qid),
       ideal AS (SELECT q.qid,
                 3000000000 + coalesce(CAST(sum(CAST(floor(1.0
                     / log2(r.range::DOUBLE + 1.0) * 1e9 + 0.5) AS BIGINT))
                   AS BIGINT), 0) AS idcg_u
               FROM qsrc q JOIN scnt ON scnt.source = q.qsource
               LEFT JOIN range(2, 11) r
                 ON r.range <= least(10, scnt.n_src)
               GROUP BY q.qid)
       SELECT d.qid, d.rel_in_top10,
         round(d.dcg_u::DOUBLE / 1e9, 6) AS dcg10,
         round(d.dcg_u::DOUBLE / i.idcg_u::DOUBLE, 6) AS ndcg10
       FROM dcg d JOIN ideal i USING (qid) ORDER BY qid"""

  // --------------------------------------------------------------- q251
  /** Poisson-bootstrap confidence interval for the per-type mean —
    * THE at-scale bootstrap: classical n-out-of-n resampling needs a
    * global shuffle per replicate, but drawing each row's multiplicity
    * w ~ Poisson(1) independently (inverse CDF on a deterministic
    * per-(replicate, row) hash uniform) makes all B=32 replicates ONE
    * map-side-combinable aggregation over a single corpus pass — 64
    * extra sum columns, zero extra shuffles, at any corpus size. The
    * replicate means sort into a 32-array per type; CI = [2nd
    * smallest, 2nd largest] (≈94% coverage). Thresholds are shared
    * decimal literals rendered into BOTH engines, values pre-quantized
    * to micro-unit LONGs, so every replicate sum is exact integer
    * arithmetic and the only FP is the B final divisions.
    */
  private val poissonCdf: Seq[String] = Seq(
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238462", "0.9963401531726562", "0.9994058151824183",
    "0.999916758850712")

  private val bootB = 32

  private def q251(s: SparkSession, d: String): DataFrame = {
    val x = col("value").cast("double")
    val xu = (floor(abs(x) * lit(1e6) + lit(0.5))).cast("long") *
      when(x < 0, -1L).otherwise(1L)
    // hash budget: ONE md5 yields FOUR independent 32-bit uniforms
    // (8-hex-char substrings of the 32-char digest), so 32 replicates
    // cost 8 digests per row. Shape: LONG format — explode each row
    // into 32 tiny (replicate, weight) pairs and aggregate by
    // (type, replicate). A 66-column wide aggregate evaluated the
    // digest per aggregate expression / fell out of codegen (9 s warm
    // at sf0.1); the long shape keeps every expression small, codegens
    // clean, and map-side combine collapses the 32× rows to
    // types×replicates before the (only) shuffle.
    val base = Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(col("event_type"), xu.as("xu"), col("event_id"))
    val digests = base.select(col("event_type"), col("xu"),
      explode(array((0 until bootB / 4).map { g =>
        struct(lit(g).as("g"),
          md5(concat(lit(s"boot$g:"), col("event_id").cast("string")))
            .as("h"))
      }: _*)).as("gh"))
    val uniforms = digests.select(col("event_type"), col("xu"),
      col("gh.g").as("g"),
      explode(array((0 until 4).map { i =>
        struct(lit(i).as("i"),
          conv(substring(col("gh.h"), 1 + i * 8, 8), 16, 10)
            .cast("long").as("uv"))
      }: _*)).as("iu"))
    val u = col("iu.uv").cast("double") / lit(4294967296.0)
    // when-chain folded from the deepest ELSE out (first match wins,
    // thresholds ascending)
    val w = poissonCdf.zipWithIndex.reverse
      .foldLeft(lit(7L)) { case (els, (t, k)) =>
        when(u < lit(t.toDouble), lit(k.toLong)).otherwise(els)
      }
    val perRep = uniforms
      .select(col("event_type"), col("xu"),
        (col("g") * 4 + col("iu.i")).as("b"), w.as("w"))
      .groupBy("event_type", "b")
      .agg(sum(col("w")).as("nb"), sum(col("w") * col("xu")).as("sw"))
      .select(col("event_type"),
        (col("sw").cast("double") / col("nb").cast("double") / lit(1e6))
          .as("mb"))
    val totals = base.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum(col("xu")).as("sx"))
    totals.join(
        perRep.groupBy("event_type")
          .agg(array_sort(collect_list(col("mb"))).as("ms")),
        "event_type")
      .select(col("event_type"), col("n_events"),
        round(col("sx").cast("double") / col("n_events").cast("double") /
          lit(1e6), 4).as("mean"),
        round(element_at(col("ms"), 2), 4).as("ci_lo"),
        round(element_at(col("ms"), bootB - 1), 4).as("ci_hi"))
      .orderBy("event_type")
  }

  private val q251Sql = {
    def w(b: Int): String = {
      val grp = b / 4
      val off = 1 + (b % 4) * 8
      val u = s"(('0x' || substr(md5('boot$grp:' || event_id::VARCHAR), " +
        s"$off, 8))::BIGINT::DOUBLE / 4294967296.0)"
      val chain = poissonCdf.zipWithIndex
        .map { case (t, k) => s"WHEN $u < $t THEN $k" }.mkString(" ")
      s"(CASE $chain ELSE 7 END)"
    }
    val wCols = (0 until bootB).map(b => s"${w(b)} AS w$b")
      .mkString(",\n             ")
    val aggCols = (0 until bootB).map { b =>
      s"CAST(sum(w$b) AS BIGINT) AS nb$b, " +
        s"CAST(sum(w$b * xu) AS BIGINT) AS s$b"
    }.mkString(",\n             ")
    val meanList = (0 until bootB)
      .map(b => s"s$b::DOUBLE / nb$b::DOUBLE / 1e6").mkString(", ")
    s"""WITH b AS (SELECT event_type,
           CAST(floor(abs(value::DOUBLE) * 1e6 + 0.5) AS BIGINT)
             * (CASE WHEN value::DOUBLE < 0 THEN -1 ELSE 1 END) AS xu,
             $wCols
         FROM events WHERE value IS NOT NULL),
       m AS (SELECT event_type, count(*)::BIGINT AS n_events,
             CAST(sum(xu) AS BIGINT) AS sx,
             $aggCols
           FROM b GROUP BY event_type),
       arr AS (SELECT event_type, n_events, sx,
             list_sort([$meanList]) AS ms
           FROM m)
       SELECT event_type, n_events,
         round(sx::DOUBLE / n_events::DOUBLE / 1e6, 4) AS mean,
         round(ms[2], 4) AS ci_lo,
         round(ms[${bootB - 1}], 4) AS ci_hi
       FROM arr ORDER BY event_type"""
  }

  // --------------------------------------------------------------- q252
  /** Delta-method CI for a RATIO metric (value per event, ratio of
    * per-user sums) — the reason naive per-row t-tests are wrong for
    * ratio metrics: both numerator and denominator vary per USER (the
    * randomization unit), so Var(R) needs the delta expansion
    * Var(Ȳ−R·X̄-ish) = (Var y − 2R·Cov(y,x) + R²·Var x)/(n·x̄²).
    * Corpus work: ONE per-user aggregation, then per-type moments of
    * the (y_i, x_i) pairs — y in exact micro-unit LONGs, x exact
    * counts, cross-moments in DECIMAL(38,0); FP starts at the ≤5-row
    * moment table. CI = R ± 1.96·se.
    */
  private def q252(s: SparkSession, d: String): DataFrame = {
    val x = col("value").cast("double")
    val xu = (floor(abs(x) * lit(1e6) + lit(0.5))).cast("long") *
      when(x < 0, -1L).otherwise(1L)
    val perUser = Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("user_id"), xu.as("xu"))
      .groupBy("event_type", "user_id")
      .agg(sum(col("xu")).as("y"), count(lit(1)).as("x"))
    val m = perUser.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("y")).as("sy"), sum(col("x")).as("sx"),
        sum(col("y").cast(dec) * col("y").cast(dec)).as("syy"),
        sum(col("x").cast(dec) * col("x").cast(dec)).as("sxx"),
        sum(col("y").cast(dec) * col("x").cast(dec)).as("sxy"))
      .filter(col("n") >= 2 && col("sx") > 0)
    val nd = col("n").cast("double")
    val my = col("sy").cast("double") / nd
    val mx = col("sx").cast("double") / nd
    val vy = (col("syy").cast("double") / nd - my * my) * nd / (nd - 1.0)
    val vx = (col("sxx").cast("double") / nd - mx * mx) * nd / (nd - 1.0)
    val cxy = (col("sxy").cast("double") / nd - my * mx) * nd / (nd - 1.0)
    val r = col("sy").cast("double") / col("sx").cast("double")
    val se = sqrt(greatest(
      (vy - lit(2.0) * r * cxy + r * r * vx) / (nd * mx * mx),
      lit(0.0)))
    m.select(col("event_type"), col("n").as("n_users"),
        round(r / lit(1e6), 6).as("ratio"),
        round(se / lit(1e6), 6).as("se"),
        round((r - lit(1.96) * se) / lit(1e6), 6).as("ci_lo"),
        round((r + lit(1.96) * se) / lit(1e6), 6).as("ci_hi"))
      .orderBy("event_type")
  }

  private val q252Sql =
    """WITH b AS (SELECT event_type, user_id,
           CAST(floor(abs(value::DOUBLE) * 1e6 + 0.5) AS BIGINT)
             * (CASE WHEN value::DOUBLE < 0 THEN -1 ELSE 1 END) AS xu
         FROM events WHERE value IS NOT NULL),
       pu AS (SELECT event_type, user_id,
               CAST(sum(xu) AS BIGINT) AS y, count(*)::BIGINT AS x
             FROM b GROUP BY event_type, user_id),
       m AS (SELECT event_type, count(*)::BIGINT AS n,
               CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x) AS BIGINT) AS sx,
               sum(y::HUGEINT * y) AS syy, sum(x::HUGEINT * x) AS sxx,
               sum(y::HUGEINT * x) AS sxy
             FROM pu GROUP BY event_type
             HAVING n >= 2 AND sx > 0),
       t AS (SELECT event_type, n,
               n::DOUBLE AS nd,
               sy::DOUBLE / n::DOUBLE AS my, sx::DOUBLE / n::DOUBLE AS mx,
               (syy::DOUBLE / n::DOUBLE - (sy::DOUBLE / n::DOUBLE)
                 * (sy::DOUBLE / n::DOUBLE)) * n::DOUBLE
                 / (n::DOUBLE - 1.0) AS vy,
               (sxx::DOUBLE / n::DOUBLE - (sx::DOUBLE / n::DOUBLE)
                 * (sx::DOUBLE / n::DOUBLE)) * n::DOUBLE
                 / (n::DOUBLE - 1.0) AS vx,
               (sxy::DOUBLE / n::DOUBLE - (sy::DOUBLE / n::DOUBLE)
                 * (sx::DOUBLE / n::DOUBLE)) * n::DOUBLE
                 / (n::DOUBLE - 1.0) AS cxy,
               sy::DOUBLE / sx::DOUBLE AS r
             FROM m),
       f AS (SELECT event_type, n, r,
               sqrt(greatest(
                 (vy - 2.0 * r * cxy + r * r * vx) / (nd * mx * mx),
                 0.0)) AS se
             FROM t)
       SELECT event_type, n AS n_users,
         round(r / 1e6, 6) AS ratio,
         round(se / 1e6, 6) AS se,
         round((r - 1.96 * se) / 1e6, 6) AS ci_lo,
         round((r + 1.96 * se) / 1e6, 6) AS ci_hi
       FROM f ORDER BY event_type"""

  // --------------------------------------------------------------- q253
  /** Iterative proportional fitting (raking) — the survey-calibration
    * primitive a data-mixing pipeline needs when per-cell weights must
    * hit TWO marginal targets at once (q169 hits one): reweight the
    * source×lang cell table so every source carries an equal share
    * while every language keeps its observed share. Six alternating
    * scaling rounds (rows then columns), each weight quantized to
    * 1e-9-unit LONGs per round so both engines walk the identical
    * lattice. The corpus collapses to the ≤(sources×langs)-cell count
    * table in ONE aggregation; all iteration runs on that bounded
    * frame (windows partitioned by the margin being scaled).
    */
  private def q253(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val cells = sc.cache(Tables.documents(s, d)
      .groupBy("source", "lang").agg(count(lit(1)).as("n")))
    val wAll = Window.partitionBy()
    val wSrc = Window.partitionBy("source")
    val wLang = Window.partitionBy("lang")
    // targets: equal share per source; observed share per lang
    val base = cells
      .withColumn("tot", sum(col("n")).over(wAll))
      .withColumn("nsrc",
        size(collect_set(col("source")).over(wAll)))
      .withColumn("tgt_src",
        col("tot").cast("double") / col("nsrc").cast("double"))
      .withColumn("tgt_lang",
        sum(col("n")).over(wLang).cast("double"))
      .withColumn("w", col("n").cast("double"))
    def q9(c: org.apache.spark.sql.Column) =
      (floor(c * lit(1e9) + lit(0.5))).cast("long").cast("double") / lit(1e9)
    val raked = (1 to 3).foldLeft(base) { (df, _) =>
      val afterRows = df
        .withColumn("w", q9(col("w") * col("tgt_src") /
          sum(col("w")).over(wSrc)))
      afterRows
        .withColumn("w", q9(col("w") * col("tgt_lang") /
          sum(col("w")).over(wLang)))
    }
    val result = raked
      .withColumn("src_err",
        abs(sum(col("w")).over(wSrc) - col("tgt_src")))
      .withColumn("max_src_err", max(col("src_err")).over(wAll))
      .select(col("source"), col("lang"), col("n"),
        round(col("w"), 6).as("weight"),
        round(col("w") / col("n").cast("double"), 6).as("factor"),
        (col("max_src_err") < lit(1.0)).as("row_margins_converged"))
      .orderBy("source", "lang")
    sc.keep(result)
  }

  private val q253Sql = {
    val rounds = (1 to 3).map { k =>
      s"""r${k}a AS (SELECT source, lang, n, tgt_src, tgt_lang,
           floor(w * tgt_src / sum(w) OVER (PARTITION BY source)
             * 1e9 + 0.5) / 1e9 AS w
         FROM r${k - 1}b),
       r${k}b AS (SELECT source, lang, n, tgt_src, tgt_lang,
           floor(w * tgt_lang / sum(w) OVER (PARTITION BY lang)
             * 1e9 + 0.5) / 1e9 AS w
         FROM r${k}a)"""
    }.mkString(",\n       ")
    s"""WITH cells AS (SELECT source, lang, count(*)::BIGINT AS n
           FROM documents GROUP BY 1, 2),
       r0b AS (SELECT source, lang, n,
               (sum(n) OVER ())::DOUBLE
                 / (SELECT count(DISTINCT source) FROM cells)::DOUBLE
                 AS tgt_src,
               (sum(n) OVER (PARTITION BY lang))::DOUBLE AS tgt_lang,
               n::DOUBLE AS w
             FROM cells),
       $rounds,
       fin AS (SELECT source, lang, n, w, tgt_src,
               abs(sum(w) OVER (PARTITION BY source) - tgt_src)
                 AS src_err
             FROM r3b)
       SELECT source, lang, n,
         round(w, 6) AS weight,
         round(w / n::DOUBLE, 6) AS factor,
         (max(src_err) OVER () < 1.0) AS row_margins_converged
       FROM fin ORDER BY source, lang"""
  }

  // --------------------------------------------------------------- q261
  /** Two-proportion z-test — conversion RATES, the readout q120's
    * mean test doesn't give: per event type, does the treated arm
    * convert (value > 80, ~"high-value event") at a different rate?
    * Pooled-variance z on exact LONG counts; the only FP is the final
    * fixed-shape expression on those integers. Completes the testing
    * family: means (Welch q120), medians/dominance (Mann–Whitney
    * q247), rates (here), all on the SAME hash assignment.
    */
  private def q261(s: SparkSession, d: String): DataFrame = {
    val arm = graft.operators.Sampling.hashBucket(col("user_id"), "ab", 2)
    val cells = Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(col("event_type"), (arm === 0).as("t"),
        (col("value") > 80.0).as("y"))
      .groupBy("event_type")
      .agg(sum(when(col("t"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("t") && col("y"), 1L).otherwise(0L)).as("c_a"),
        sum(when(!col("t"), 1L).otherwise(0L)).as("n_b"),
        sum(when(!col("t") && col("y"), 1L).otherwise(0L)).as("c_b"))
      .filter(col("n_a") > 0 && col("n_b") > 0)
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val pa = col("c_a").cast("double") / na
    val pb = col("c_b").cast("double") / nb
    val pp = (col("c_a") + col("c_b")).cast("double") / (na + nb)
    val se2 = pp * (lit(1.0) - pp) * (lit(1.0) / na + lit(1.0) / nb)
    cells.select(col("event_type"), col("n_a"), col("n_b"),
        round(pa, 6).as("rate_a"), round(pb, 6).as("rate_b"),
        when(se2 > 0.0, round((pa - pb) / sqrt(se2), 4)).as("z"))
      .orderBy("event_type")
  }

  private val q261Sql =
    """WITH b AS (SELECT event_type,
           (('0x' || substr(md5('ab' || user_id::VARCHAR), 1, 15))::BIGINT
             % 2 = 0) AS t,
           (value > 80.0) AS y
         FROM events WHERE value IS NOT NULL),
       c AS (SELECT event_type,
               CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(sum(CASE WHEN t AND y THEN 1 ELSE 0 END) AS BIGINT)
                 AS c_a,
               CAST(sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_b,
               CAST(sum(CASE WHEN NOT t AND y THEN 1 ELSE 0 END) AS BIGINT)
                 AS c_b
             FROM b GROUP BY event_type
             HAVING n_a > 0 AND n_b > 0),
       t2 AS (SELECT event_type, n_a, n_b,
               c_a::DOUBLE / n_a::DOUBLE AS pa,
               c_b::DOUBLE / n_b::DOUBLE AS pb,
               (c_a + c_b)::DOUBLE / (n_a + n_b)::DOUBLE AS pp
             FROM c)
       SELECT event_type, n_a, n_b,
         round(pa, 6) AS rate_a, round(pb, 6) AS rate_b,
         CASE WHEN pp * (1.0 - pp) * (1.0 / n_a::DOUBLE + 1.0 / n_b::DOUBLE)
                > 0.0
           THEN round((pa - pb) / sqrt(pp * (1.0 - pp)
             * (1.0 / n_a::DOUBLE + 1.0 / n_b::DOUBLE)), 4)
         END AS z
       FROM t2 ORDER BY event_type"""

  // --------------------------------------------------------------- q262
  /** Overdispersion audit (variance-to-mean dispersion index) — the
    * count-data diagnostic that decides whether Poisson assumptions
    * (rate CIs, anomaly thresholds like q114's z-scores) hold at all:
    * per event type, the per-user event-count distribution's
    * index D = s²/x̄ and the χ² statistic (n−1)·D. D ≈ 1 is
    * Poisson-like, D ≫ 1 means heavy users dominate and every
    * Poisson-based alarm fires on noise. Exact integer moments (Σc,
    * Σc² in DECIMAL) from ONE per-user aggregation; flag at the
    * conventional 2.0.
    */
  private def q262(s: SparkSession, d: String): DataFrame = {
    val perUser = Tables.events(s, d)
      .groupBy("event_type", "user_id")
      .agg(count(lit(1)).as("c"))
    val m = perUser.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
        sum(col("c").cast(dec) * col("c").cast(dec)).as("scc"))
      .filter(col("n") >= 2)
    val nd = col("n").cast("double")
    val mean = col("sc").cast("double") / nd
    val variance = (col("scc").cast("double") / nd - mean * mean) *
      nd / (nd - 1.0)
    m.select(col("event_type"), col("n").as("n_users"),
        round(mean, 6).as("mean_events"),
        round(variance / mean, 6).as("dispersion"),
        round((nd - 1.0) * variance / mean, 4).as("chi2"),
        (variance / mean > 2.0).as("overdispersed"))
      .orderBy("event_type")
  }

  private val q262Sql =
    """WITH pu AS (SELECT event_type, user_id, count(*)::BIGINT AS c
         FROM events GROUP BY 1, 2),
       m AS (SELECT event_type, count(*)::BIGINT AS n,
               CAST(sum(c) AS BIGINT) AS sc,
               sum(c::HUGEINT * c) AS scc
             FROM pu GROUP BY event_type HAVING n >= 2),
       t AS (SELECT event_type, n,
               sc::DOUBLE / n::DOUBLE AS mean,
               (scc::DOUBLE / n::DOUBLE
                 - (sc::DOUBLE / n::DOUBLE) * (sc::DOUBLE / n::DOUBLE))
                 * n::DOUBLE / (n::DOUBLE - 1.0) AS v
             FROM m)
       SELECT event_type, n AS n_users,
         round(mean, 6) AS mean_events,
         round(v / mean, 6) AS dispersion,
         round((n::DOUBLE - 1.0) * v / mean, 4) AS chi2,
         (v / mean > 2.0) AS overdispersed
       FROM t ORDER BY event_type"""

  // --------------------------------------------------------------- q263
  /** Label-balance audit — the check BEFORE labels train a classifier
    * (q162) or seed IVF cells (q52): per-label mass, imbalance ratio
    * (max/min), Shannon entropy in exact 1e-9-unit LONG terms, and
    * the effective number of classes exp(H) — a 10-class corpus with
    * effective 2.3 classes will starve 8 of them. One |labels|-row
    * aggregation over the embedding corpus.
    */
  private def q263(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.embeddings(s, d)
      .filter(col("label").isNotNull)
      .groupBy(col("label")).agg(count(lit(1)).as("n"))
    val wAll = Window.partitionBy()
    val p = col("n").cast("double") / col("tot").cast("double")
    val termU = floor(-p * log(p) * lit(1e9) + lit(0.5)).cast("long")
    counts
      .withColumn("tot", sum(col("n")).over(wAll))
      .withColumn("mx", max(col("n")).over(wAll))
      .withColumn("mn", min(col("n")).over(wAll))
      .withColumn("tu", termU)
      .select(col("label"), col("n"),
        round(p, 6).as("share"),
        round(col("mx").cast("double") / col("mn").cast("double"), 6)
          .as("imbalance_ratio"),
        round(sum(col("tu")).over(wAll).cast("double") / lit(1e9), 6)
          .as("entropy_nats"),
        round(exp(sum(col("tu")).over(wAll).cast("double") / lit(1e9)), 4)
          .as("effective_classes"))
      .orderBy("label")
  }

  private val q263Sql =
    """WITH c AS (SELECT label, count(*)::BIGINT AS n
         FROM embeddings WHERE label IS NOT NULL GROUP BY label),
       e AS (SELECT label, n,
               CAST(sum(n) OVER () AS BIGINT) AS tot,
               CAST(max(n) OVER () AS BIGINT) AS mx,
               CAST(min(n) OVER () AS BIGINT) AS mn
             FROM c),
       t AS (SELECT label, n, tot, mx, mn,
               CAST(floor(-(n::DOUBLE / tot::DOUBLE)
                   * ln(n::DOUBLE / tot::DOUBLE) * 1e9 + 0.5) AS BIGINT)
                 AS tu
             FROM e)
       SELECT label, n,
         round(n::DOUBLE / tot::DOUBLE, 6) AS share,
         round(mx::DOUBLE / mn::DOUBLE, 6) AS imbalance_ratio,
         round(CAST(sum(tu) OVER () AS DOUBLE) / 1e9, 6) AS entropy_nats,
         round(exp(CAST(sum(tu) OVER () AS DOUBLE) / 1e9), 4)
           AS effective_classes
       FROM t ORDER BY label"""

  // ----------------------------------------------------------------

  // --------------------------------------------------------------- q280
  /** Next-event prediction accuracy — the held-out EVAL of the q107
    * Markov transition model (q107/q220 build chains; nothing graded
    * whether they PREDICT): per-user event streams become (prev →
    * next) bigrams via one lag window, users hash-split 80/20, the
    * train split's argmax next-event per prev state (count desc, then
    * lexicographic — deterministic) becomes the model, and accuracy
    * is graded per prev state on the held-out 20% next to the
    * majority-class baseline (predicting the GLOBAL argmax
    * everywhere) — a model that can't beat majority is noise.
    * All counts exact LONGs; the two accuracies are fixed-shape
    * divisions. Scale: bigrams from one lag window partitioned by
    * user; model = \|states\|² count table; eval join broadcasts the
    * \|states\|-row model. */
  private def q280(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val bigrams = sc.cache(Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("nxt"))
      .withColumn("prev", lag("nxt", 1).over(byUser))
      .filter(col("prev").isNotNull)
      .select(col("user_id"), col("prev"), col("nxt"))
      .withColumn("split",
        when(graft.operators.Sampling.hashBucket(
          col("user_id"), "markov", 10) < 8L, "train").otherwise("eval")))
    val byCount = Window.partitionBy("prev")
      .orderBy(col("n").desc, col("nxt").asc)
    val model = bigrams.filter(col("split") === "train")
      .groupBy("prev", "nxt").agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(byCount))
      .filter(col("rn") === 1)
      .select(col("prev"), col("nxt").as("pred"))
    // headOption: an empty or single-event-per-user corpus yields no
    // train bigrams — return the (empty) result frame instead of
    // throwing NoSuchElementException on head()
    val globalTopOpt = bigrams.filter(col("split") === "train")
      .groupBy("nxt").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("nxt").asc)
      .limit(1).collect().headOption.map(_.getString(0))
    sc.keep(globalTopOpt match {
      case None =>
        bigrams.select(lit("").as("prev"), lit(0L).as("n_eval"),
          lit(0.0).as("accuracy"), lit(0.0).as("majority_baseline"))
          .limit(0)
      case Some(globalTop) =>
        bigrams.filter(col("split") === "eval")
          .join(broadcast(model), "prev")
          .groupBy("prev")
          .agg(count(lit(1)).as("n_eval"),
            sum(when(col("nxt") === col("pred"), 1L).otherwise(0L))
              .as("n_correct"),
            sum(when(col("nxt") === globalTop, 1L).otherwise(0L))
              .as("n_majority"))
          .select(col("prev"), col("n_eval"),
            round(col("n_correct").cast("double") /
              col("n_eval").cast("double"), 6).as("accuracy"),
            round(col("n_majority").cast("double") /
              col("n_eval").cast("double"), 6).as("majority_baseline"))
          .orderBy("prev")
    })
  }

  private val q280Sql =
    """WITH bg AS (SELECT user_id, prev, nxt,
           CASE WHEN ('0x' || substr(md5('markov' || user_id::VARCHAR),
             1, 15))::BIGINT % 10 < 8 THEN 'train' ELSE 'eval' END
             AS split
         FROM (SELECT user_id, event_type AS nxt,
                 lag(event_type, 1) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS prev
               FROM events) t
         WHERE prev IS NOT NULL),
       m AS (SELECT prev, nxt AS pred FROM (
           SELECT prev, nxt, row_number() OVER (PARTITION BY prev
             ORDER BY count(*) DESC, nxt ASC) AS rn
           FROM bg WHERE split = 'train' GROUP BY prev, nxt) t
         WHERE rn = 1),
       g AS (SELECT nxt AS gtop FROM bg WHERE split = 'train'
             GROUP BY nxt ORDER BY count(*) DESC, nxt ASC LIMIT 1)
       SELECT bg.prev, count(*) AS n_eval,
         floor((CAST(sum(CASE WHEN bg.nxt = m.pred THEN 1 ELSE 0 END)
             AS BIGINT)::DOUBLE / count(*)::DOUBLE) * 1e6 + 0.5) / 1e6
           AS accuracy,
         floor((CAST(sum(CASE WHEN bg.nxt = g.gtop THEN 1 ELSE 0 END)
             AS BIGINT)::DOUBLE / count(*)::DOUBLE) * 1e6 + 0.5) / 1e6
           AS majority_baseline
       FROM bg JOIN m ON m.prev = bg.prev, g
       WHERE bg.split = 'eval'
       GROUP BY bg.prev ORDER BY bg.prev"""

  // --------------------------------------------------------------- q278
  /** Split-conformal prediction — the distribution-free uncertainty
    * wrapper an eval stack needs around point predictions: fit any
    * model on a train split, take the ⌈(n+1)(1−α)⌉-th smallest
    * nonconformity score on a CALIBRATION split as q̂, and the
    * interval ŷ ± q̂ covers ≥ 1−α of fresh data with no distribution
    * assumptions. Model = per-priority integer-mean order totalprice
    * (cents, `sum DIV n`) on the 60% train split; scores = \|y − ŷ\|
    * on the 20% calibration split; empirical coverage graded on the
    * held-out 20%. The rank is the EXACT integer
    * `k = ((n+1)·9 + 9) DIV 10` (memory-pitfall #3: FP ceil(0.9·n)
    * is off-by-one when the product is integral) and q̂ comes from
    * the `OrderStat` narrowing kernel — never a corpus-multiset
    * percentile buffer. All counts/cents are exact LONGs; coverage is
    * one fixed-shape division. */
  private def q278(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val cents = round(col("o_totalprice") * 100, 0).cast("long")
    val bucket = graft.operators.Sampling.hashBucket(
      col("o_orderkey"), "conf", 10)
    val base = sc.cache(Tables.orders(s, d).select(
      col("o_orderpriority").as("prio"), cents.as("y"),
      when(bucket < 6L, "train").when(bucket < 8L, "cal")
        .otherwise("eval").as("split")))
    val model = base.filter(col("split") === "train")
      .groupBy("prio")
      .agg(sum("y").as("sy"), count(lit(1)).as("cnt"))
      // integer floor division: double-divide-then-truncate drifts a
      // ulp across engines once n is large enough that 1/n < ulp(q)
      .select(col("prio"), expr("sy DIV cnt").as("yhat"))
    val scored = sc.cache(base.filter(col("split") =!= "train")
      .join(broadcast(model), "prio")
      .select(col("split"), abs(col("y") - col("yhat")).as("score")))
    val (nCal, qhatSeq) = graft.engine.OrderStat.kthSmallests(
      scored.filter(col("split") === "cal"), "score",
      n => Seq(((n + 1L) * 9L + 9L) / 10L))
    val qhat = qhatSeq.head.toLong
    sc.keep(scored.filter(col("split") === "eval")
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("score") <= qhat, 1L).otherwise(0L))
          .as("n_covered"))
      .select(lit(nCal).as("n_cal"),
        lit(((nCal + 1L) * 9L + 9L) / 10L).as("k"),
        lit(qhat).as("qhat_cents"), col("n_eval"), col("n_covered"),
        round(col("n_covered").cast("double") /
          greatest(col("n_eval"), lit(1L)).cast("double"), 6)
          .as("coverage")))
  }

  private val q278Sql =
    """WITH b AS (SELECT o_orderpriority AS prio,
           CAST(round(o_totalprice * 100) AS BIGINT) AS y,
           ('0x' || substr(md5('conf' || o_orderkey::VARCHAR), 1, 15))
             ::BIGINT % 10 AS bk
         FROM orders),
       sp AS (SELECT prio, y,
                CASE WHEN bk < 6 THEN 'train'
                     WHEN bk < 8 THEN 'cal' ELSE 'eval' END AS split
              FROM b),
       m AS (SELECT prio, CAST(sum(y) // count(*) AS BIGINT) AS yhat
             FROM sp WHERE split = 'train' GROUP BY prio),
       sc AS (SELECT sp.split, abs(sp.y - m.yhat) AS score
              FROM sp JOIN m ON m.prio = sp.prio
              WHERE sp.split != 'train'),
       kc AS (SELECT count(*) AS n_cal,
                ((count(*) + 1) * 9 + 9) // 10 AS k
              FROM sc WHERE split = 'cal'),
       qh AS (SELECT score AS qhat FROM (
                SELECT score, row_number() OVER (ORDER BY score) AS rn
                FROM sc WHERE split = 'cal') t, kc
              WHERE t.rn = kc.k),
       ev AS (SELECT count(*) AS n_eval,
                CAST(sum(CASE WHEN score <= qhat THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_covered
              FROM sc, qh WHERE split = 'eval')
       SELECT CAST(kc.n_cal AS BIGINT) AS n_cal,
         CAST(kc.k AS BIGINT) AS k,
         CAST(qh.qhat AS BIGINT) AS qhat_cents,
         ev.n_eval, ev.n_covered,
         floor((ev.n_covered::DOUBLE /
                greatest(ev.n_eval, 1)::DOUBLE) * 1e6 + 0.5) / 1e6
           AS coverage
       FROM kc, qh, ev"""

  // --------------------------------------------------------------- q276
  /** Krippendorff's alpha (nominal, 3 raters, complete data) — the
    * agreement coefficient that generalizes q215's two-rater kappa to
    * ANY number of raters and chance-corrects via the pooled category
    * distribution; the standard gate for multi-annotator label sets.
    * Raters = three cheap heuristics over documents (char-count,
    * token-count, and chars-per-token buckets into the shared
    * {short, medium, long} categories).
    *
    * Exact rational algebra: with m = 3 raters, per-unit ordered
    * disagreeing pairs are 2·(mismatching unordered pairs), so with
    * A′ = Σ_u mismatches, n_tot = 3n and B = n_tot² − Σ_c n_c²:
    * `Do = A′/n_tot`, `De = B/(n_tot·(n_tot−1))`, and
    * `alpha = 1 − A′·(n_tot−1)/B` — every term an exact integer
    * (DECIMAL(38,0): A′·n_tot passes LONG at ~10⁹ docs), FP only in
    * the three final fixed-shape divisions, 9 dp. ONE corpus
    * aggregation; chars-per-token thresholds compare `10·n_chars`
    * against `50·nt`/`56·nt` so the rater itself is integer-exact. */
  private def q276(s: SparkSession, d: String): DataFrame = {
    val nt = size(words(col("text"))).cast("long")
    val nc = col("n_chars").cast("long")
    val rated = Tables.documents(s, d).select(
      when(nc < 150L, "short").when(nc < 300L, "medium")
        .otherwise("long").as("ra"),
      when(nt < 27L, "short").when(nt < 50L, "medium")
        .otherwise("long").as("rb"),
      when(nc * 10L < nt * 50L, "short")
        .when(nc * 10L < nt * 56L, "medium").otherwise("long").as("rc"))
    def cat(c: String): org.apache.spark.sql.Column =
      (when(col("ra") === c, 1L).otherwise(0L) +
        when(col("rb") === c, 1L).otherwise(0L) +
        when(col("rc") === c, 1L).otherwise(0L))
    val m = rated.agg(
      count(lit(1)).as("n"),
      sum(when(col("ra") =!= col("rb"), 1L).otherwise(0L) +
        when(col("ra") =!= col("rc"), 1L).otherwise(0L) +
        when(col("rb") =!= col("rc"), 1L).otherwise(0L)).as("ap"),
      sum(cat("short")).as("ns"), sum(cat("medium")).as("nm"),
      sum(cat("long")).as("nl"))
    val nTot = col("n").cast(dec) * lit(3).cast(dec)
    val b = nTot * nTot -
      (col("ns").cast(dec) * col("ns").cast(dec) +
        col("nm").cast(dec) * col("nm").cast(dec) +
        col("nl").cast(dec) * col("nl").cast(dec))
    m.select(
      col("n").as("n_docs"),
      round(col("ap").cast("double") / nTot.cast("double"), 9).as("d_o"),
      round(b.cast("double") /
        (nTot * (nTot - lit(1).cast(dec))).cast("double"), 9).as("d_e"),
      round(lit(1.0) -
        (col("ap").cast(dec) * (nTot - lit(1).cast(dec))).cast("double") /
          b.cast("double"), 9).as("alpha"))
  }

  private val q276Sql =
    """WITH r AS (SELECT
           CASE WHEN n_chars < 150 THEN 'short'
                WHEN n_chars < 300 THEN 'medium' ELSE 'long' END AS ra,
           CASE WHEN nt < 27 THEN 'short'
                WHEN nt < 50 THEN 'medium' ELSE 'long' END AS rb,
           CASE WHEN n_chars * 10 < nt * 50 THEN 'short'
                WHEN n_chars * 10 < nt * 56 THEN 'medium'
                ELSE 'long' END AS rc
         FROM (SELECT n_chars,
                 len(regexp_split_to_array(trim(text), '\s+')) AS nt
               FROM documents)),
       m AS (SELECT count(*) AS n,
           CAST(sum((CASE WHEN ra != rb THEN 1 ELSE 0 END) +
                    (CASE WHEN ra != rc THEN 1 ELSE 0 END) +
                    (CASE WHEN rb != rc THEN 1 ELSE 0 END)) AS BIGINT)
             AS ap,
           CAST(sum((CASE WHEN ra = 'short' THEN 1 ELSE 0 END) +
                    (CASE WHEN rb = 'short' THEN 1 ELSE 0 END) +
                    (CASE WHEN rc = 'short' THEN 1 ELSE 0 END))
             AS BIGINT) AS ns,
           CAST(sum((CASE WHEN ra = 'medium' THEN 1 ELSE 0 END) +
                    (CASE WHEN rb = 'medium' THEN 1 ELSE 0 END) +
                    (CASE WHEN rc = 'medium' THEN 1 ELSE 0 END))
             AS BIGINT) AS nm,
           CAST(sum((CASE WHEN ra = 'long' THEN 1 ELSE 0 END) +
                    (CASE WHEN rb = 'long' THEN 1 ELSE 0 END) +
                    (CASE WHEN rc = 'long' THEN 1 ELSE 0 END))
             AS BIGINT) AS nl
         FROM r),
       x AS (SELECT n, ap,
           3::HUGEINT * n AS ntot,
           (3::HUGEINT * n) * (3::HUGEINT * n)
             - (ns::HUGEINT * ns + nm::HUGEINT * nm + nl::HUGEINT * nl)
             AS b
         FROM m)
       SELECT n AS n_docs,
         floor((ap::DOUBLE / ntot::DOUBLE) * 1e9 + 0.5) / 1e9 AS d_o,
         floor((b::DOUBLE / (ntot * (ntot - 1))::DOUBLE) * 1e9 + 0.5)
           / 1e9 AS d_e,
         floor((1.0 - (ap::HUGEINT * (ntot - 1))::DOUBLE / b::DOUBLE)
               * 1e9 + 0.5) / 1e9 AS alpha
       FROM x"""

  // --------------------------------------------------------------- q270
  /** Instrumental-variable (Wald) estimator with a weak-instrument
    * guard — the encouragement-design readout next to q120 (ITT),
    * q201 (CUPED) and q229 (uplift): when treatment UPTAKE is
    * endogenous, the causal effect of x on y identified by a random
    * instrument z is `β_IV = (ȳ₁−ȳ₀)/(x̄₁−x̄₀)`. Here z = the q120
    * hash-arm assignment (salt "iv"), x = the user's click count,
    * y = the user's purchase spend in cents. A weak first stage makes
    * β_IV pure noise amplification, so the estimator REFUSES: β is
    * NULL unless the first-stage Welch |t| ≥ 2 (mirrored CASE in the
    * oracle) — on hash-split A/A-null data the graded row pins the
    * refusal path, and the spec's strong-instrument fixture pins the
    * estimate itself.
    *
    * Exactness: per-user x and y collapse in ONE corpus aggregation
    * to LONGs (cents via the shared round(value·100) quantization);
    * arm moments (n, Σx, Σx², Σy) are exact LONG sums; every mean,
    * variance, t and β is a fixed-shape IEEE expression of those
    * integers, rounded only in the output. Scale: corpus → users →
    * ONE 2-row moment aggregation; nothing wider than the user table
    * shuffles. */
  private def q270(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val users = ev.groupBy(col("user_id")).agg(
      sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
      sum(when(col("event_type") === "purchase",
        round(col("value") * 100, 0).cast("long")).otherwise(0L)).as("y"))
    val z = graft.operators.Sampling.hashBucket(col("user_id"), "iv", 2)
    val a = z === 0L
    val m = users.agg(
      sum(when(a, 1L).otherwise(0L)).as("n_a"),
      sum(when(!a, 1L).otherwise(0L)).as("n_b"),
      sum(when(a, col("x")).otherwise(0L)).as("sx_a"),
      sum(when(!a, col("x")).otherwise(0L)).as("sx_b"),
      sum(when(a, col("x") * col("x")).otherwise(0L)).as("sxx_a"),
      sum(when(!a, col("x") * col("x")).otherwise(0L)).as("sxx_b"),
      sum(when(a, col("y")).otherwise(0L)).as("sy_a"),
      sum(when(!a, col("y")).otherwise(0L)).as("sy_b"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    // every divisor is floored at 1 INSIDE the division (ANSI raises
    // on double x/0 and subexpression elimination can hoist a division
    // out of its `when` branch); the `when` decides null-ness only
    val naSafe = greatest(na, lit(1.0))
    val nbSafe = greatest(nb, lit(1.0))
    val xa = when(col("n_a") > 0L, col("sx_a").cast("double") / naSafe)
    val xb = when(col("n_b") > 0L, col("sx_b").cast("double") / nbSafe)
    val ya = when(col("n_a") > 0L, col("sy_a").cast("double") / naSafe)
    val yb = when(col("n_b") > 0L, col("sy_b").cast("double") / nbSafe)
    val va = when(col("n_a") > 1L, greatest(
      (col("sxx_a").cast("double") / naSafe - xa * xa)
        * na / greatest(na - 1.0, lit(1.0)), lit(0.0)))
    val vb = when(col("n_b") > 1L, greatest(
      (col("sxx_b").cast("double") / nbSafe - xb * xb)
        * nb / greatest(nb - 1.0, lit(1.0)), lit(0.0)))
    val se2 = va / naSafe + vb / nbSafe
    // guarded denominators: ANSI mode raises on double x/0, and
    // common-subexpression elimination can hoist a division OUT of its
    // `when` branch, so the guard must live in the divisor itself
    val seSafe = when(se2 > 0.0, sqrt(se2)).otherwise(lit(1.0))
    val fsT = when(se2 > 0.0, (xb - xa) / seSafe)
    val dx = xb - xa
    val dxSafe = when(dx =!= 0.0, dx).otherwise(lit(1.0))
    // fs_t and beta_iv are negative-capable and the oracle rounds
    // them with the bare floor form — mirror it exactly (signum-aware
    // roundTo diverges on negative half-grid ties); the non-negative
    // means keep roundTo (bit-identical for x ≥ 0)
    import graft.functions.Rounding.floorRound
    val beta = when(abs(fsT) >= 2.0 && dx =!= 0.0,
      floorRound((yb - ya) / dxSafe, 6))
    m.select(col("n_a"), col("n_b"),
      round(xa, 6).as("xbar_a"), round(xb, 6).as("xbar_b"),
      round(ya, 6).as("ybar_a"), round(yb, 6).as("ybar_b"),
      floorRound(fsT, 4).as("fs_t"), beta.as("beta_iv"),
      (fsT.isNull || abs(fsT) < 2.0).as("weak_instrument"))
  }

  private val q270Sql =
    """WITH u AS (SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             AS BIGINT) AS x,
           CAST(sum(CASE WHEN event_type = 'purchase'
             THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
             AS BIGINT) AS y,
           ('0x' || substr(md5('iv' || user_id::VARCHAR), 1, 15))::BIGINT
             % 2 AS z
         FROM events GROUP BY user_id),
       m AS (SELECT
           CAST(sum(CASE WHEN z = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           CAST(sum(CASE WHEN z = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
           CAST(sum(CASE WHEN z = 0 THEN x ELSE 0 END) AS BIGINT) AS sx_a,
           CAST(sum(CASE WHEN z = 1 THEN x ELSE 0 END) AS BIGINT) AS sx_b,
           CAST(sum(CASE WHEN z = 0 THEN x * x ELSE 0 END) AS BIGINT)
             AS sxx_a,
           CAST(sum(CASE WHEN z = 1 THEN x * x ELSE 0 END) AS BIGINT)
             AS sxx_b,
           CAST(sum(CASE WHEN z = 0 THEN y ELSE 0 END) AS BIGINT) AS sy_a,
           CAST(sum(CASE WHEN z = 1 THEN y ELSE 0 END) AS BIGINT) AS sy_b
         FROM u),
       r AS (SELECT *,
           CASE WHEN n_a > 0 THEN
             sx_a::DOUBLE / greatest(n_a, 1)::DOUBLE END AS xa,
           CASE WHEN n_b > 0 THEN
             sx_b::DOUBLE / greatest(n_b, 1)::DOUBLE END AS xb,
           CASE WHEN n_a > 0 THEN
             sy_a::DOUBLE / greatest(n_a, 1)::DOUBLE END AS ya,
           CASE WHEN n_b > 0 THEN
             sy_b::DOUBLE / greatest(n_b, 1)::DOUBLE END AS yb,
           CASE WHEN n_a > 1 THEN greatest(
             (sxx_a::DOUBLE / greatest(n_a, 1)::DOUBLE
               - (sx_a::DOUBLE / greatest(n_a, 1)::DOUBLE)
                 * (sx_a::DOUBLE / greatest(n_a, 1)::DOUBLE))
             * n_a::DOUBLE / greatest(n_a::DOUBLE - 1.0, 1.0), 0.0)
             END AS va,
           CASE WHEN n_b > 1 THEN greatest(
             (sxx_b::DOUBLE / greatest(n_b, 1)::DOUBLE
               - (sx_b::DOUBLE / greatest(n_b, 1)::DOUBLE)
                 * (sx_b::DOUBLE / greatest(n_b, 1)::DOUBLE))
             * n_b::DOUBLE / greatest(n_b::DOUBLE - 1.0, 1.0), 0.0)
             END AS vb
         FROM m),
       t AS (SELECT *,
           CASE WHEN va / greatest(n_a, 1)::DOUBLE
                    + vb / greatest(n_b, 1)::DOUBLE > 0.0
             THEN (xb - xa) / sqrt(va / greatest(n_a, 1)::DOUBLE
                    + vb / greatest(n_b, 1)::DOUBLE)
             END AS fst
         FROM r)
       SELECT n_a, n_b,
         floor(xa * 1e6 + 0.5) / 1e6 AS xbar_a,
         floor(xb * 1e6 + 0.5) / 1e6 AS xbar_b,
         floor(ya * 1e6 + 0.5) / 1e6 AS ybar_a,
         floor(yb * 1e6 + 0.5) / 1e6 AS ybar_b,
         floor(fst * 1e4 + 0.5) / 1e4 AS fs_t,
         CASE WHEN abs(fst) >= 2.0
           THEN floor(((yb - ya) / (xb - xa)) * 1e6 + 0.5) / 1e6
           END AS beta_iv,
         (fst IS NULL OR abs(fst) < 2.0) AS weak_instrument
       FROM t"""

  // --------------------------------------------------------------- q268
  /** Group-fairness audit — demographic parity and equalized odds of a
    * decision rule across a protected attribute, the responsible-AI
    * gate a classifier (q162's GD scores, a quality stump) must pass
    * before it routes people or data. Decision = the acctbal credit
    * stump (`c_acctbal > 5000`); outcome label = the customer placed
    * ≥1 URGENT-priority order; group = market segment. Per group the
    * selection rate, TPR and FPR, the demographic-parity gap
    * `|sel_g − sel_all|`, and the equalized-odds gap
    * `max(|tpr_g − tpr_all|, |fpr_g − fpr_all|)`; an `_overall` row
    * carries the pooled rates (gaps exactly 0 by construction).
    *
    * Exactness: every count is LONG from ONE conditional aggregation
    * over the joined frame; rates and gaps are fixed-shape IEEE
    * divisions/differences of those integers (identical across
    * engines), rounded at 6 dp only in the output. TPR/FPR are null
    * (not 0) for a group with no positives/negatives — mirrored CASE
    * in the oracle; eo_gap nulls with them.
    *
    * Scale: the label side is a distinct-custkey semi join (urgent
    * orders collapse BEFORE the join); everything after is a
    * |segments|-row frame crossed with one broadcast scalar row. */
  private def q268(s: SparkSession, d: String): DataFrame = {
    val urgent = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey")).distinct()
      .withColumn("label", lit(true))
    val base = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment").as("segment"),
        (col("c_acctbal") > 5000.0).as("dec"))
      .join(urgent, col("c_custkey") === col("o_custkey"), "left")
      .select(col("segment"), col("dec"),
        coalesce(col("label"), lit(false)).as("label"))
    val g = base.groupBy("segment").agg(
      count(lit(1)).as("n"),
      sum(when(col("dec"), 1L).otherwise(0L)).as("n_sel"),
      sum(when(col("label"), 1L).otherwise(0L)).as("n_pos"),
      sum(when(col("dec") && col("label"), 1L).otherwise(0L)).as("n_tp"),
      sum(when(col("dec") && !col("label"), 1L).otherwise(0L)).as("n_fp"))
    val tot = g.agg(sum("n").as("tn"), sum("n_sel").as("tsel"),
      sum("n_pos").as("tpos"), sum("n_tp").as("ttp"),
      sum("n_fp").as("tfp"))
    // guard inside the divisor too: ANSI double division raises on 0
    // and subexpression elimination can hoist it out of the branch
    def rate(num: org.apache.spark.sql.Column,
             den: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(den > 0L, num.cast("double") /
        when(den > 0L, den).otherwise(lit(1L)).cast("double"))
    val selAll = rate(col("tsel"), col("tn"))
    val tprAll = rate(col("ttp"), col("tpos"))
    val fprAll = rate(col("tfp"), col("tn") - col("tpos"))
    val sel = rate(col("n_sel"), col("n"))
    val tpr = rate(col("n_tp"), col("n_pos"))
    val fpr = rate(col("n_fp"), col("n") - col("n_pos"))
    val eoGap = when(tpr.isNull || tprAll.isNull ||
        fpr.isNull || fprAll.isNull, lit(null).cast("double"))
      .otherwise(greatest(abs(tpr - tprAll), abs(fpr - fprAll)))
    val groups = g.crossJoin(broadcast(tot)).select(
      col("segment"), col("n"),
      round(sel, 6).as("sel_rate"),
      round(abs(sel - selAll), 6).as("dp_gap"),
      round(tpr, 6).as("tpr"), round(fpr, 6).as("fpr"),
      round(eoGap, 6).as("eo_gap"))
    val overall = tot.select(
      lit("_overall").as("segment"), col("tn").as("n"),
      round(selAll, 6).as("sel_rate"), lit(0.0).as("dp_gap"),
      round(tprAll, 6).as("tpr"), round(fprAll, 6).as("fpr"),
      lit(0.0).as("eo_gap"))
    overall.unionByName(groups).orderBy("segment")
  }

  private val q268Sql =
    """WITH u AS (SELECT DISTINCT o_custkey FROM orders
           WHERE o_orderpriority = '1-URGENT'),
       b AS (SELECT c_mktsegment AS segment,
               c_acctbal > 5000.0 AS dcsn,
               u.o_custkey IS NOT NULL AS label
             FROM customer LEFT JOIN u ON u.o_custkey = c_custkey),
       g AS (SELECT segment, count(*) AS n,
               CAST(sum(CASE WHEN dcsn THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_sel,
               CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_pos,
               CAST(sum(CASE WHEN dcsn AND label THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_tp,
               CAST(sum(CASE WHEN dcsn AND NOT label THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_fp
             FROM b GROUP BY segment),
       t AS (SELECT CAST(sum(n) AS BIGINT) AS tn,
               CAST(sum(n_sel) AS BIGINT) AS tsel,
               CAST(sum(n_pos) AS BIGINT) AS tpos,
               CAST(sum(n_tp) AS BIGINT) AS ttp,
               CAST(sum(n_fp) AS BIGINT) AS tfp
             FROM g),
       r AS (SELECT g.*,
               CASE WHEN n > 0 THEN n_sel::DOUBLE / n::DOUBLE END AS sel,
               CASE WHEN n_pos > 0 THEN n_tp::DOUBLE / n_pos::DOUBLE
                 END AS tpr,
               CASE WHEN n - n_pos > 0 THEN
                 n_fp::DOUBLE / (n - n_pos)::DOUBLE END AS fpr,
               CASE WHEN tn > 0 THEN tsel::DOUBLE / tn::DOUBLE
                 END AS sel_all,
               CASE WHEN tpos > 0 THEN ttp::DOUBLE / tpos::DOUBLE
                 END AS tpr_all,
               CASE WHEN tn - tpos > 0 THEN
                 tfp::DOUBLE / (tn - tpos)::DOUBLE END AS fpr_all
             FROM g, t)
       SELECT '_overall' AS segment, tn AS n,
         CASE WHEN tn > 0 THEN
           floor((tsel::DOUBLE / tn::DOUBLE) * 1e6 + 0.5) / 1e6
           END AS sel_rate,
         0.0 AS dp_gap,
         CASE WHEN tpos > 0 THEN
           floor((ttp::DOUBLE / tpos::DOUBLE) * 1e6 + 0.5) / 1e6
           END AS tpr,
         CASE WHEN tn - tpos > 0 THEN
           floor((tfp::DOUBLE / (tn - tpos)::DOUBLE) * 1e6 + 0.5) / 1e6
           END AS fpr,
         0.0 AS eo_gap
       FROM t
       UNION ALL
       SELECT segment, n,
         floor(sel * 1e6 + 0.5) / 1e6 AS sel_rate,
         floor(abs(sel - sel_all) * 1e6 + 0.5) / 1e6 AS dp_gap,
         floor(tpr * 1e6 + 0.5) / 1e6 AS tpr,
         floor(fpr * 1e6 + 0.5) / 1e6 AS fpr,
         CASE WHEN tpr IS NULL OR tpr_all IS NULL
                OR fpr IS NULL OR fpr_all IS NULL THEN NULL
           ELSE floor(greatest(abs(tpr - tpr_all), abs(fpr - fpr_all))
                      * 1e6 + 0.5) / 1e6 END AS eo_gap
       FROM r ORDER BY segment"""

  val entries: Seq[Query] = Seq(
    Query("q268_fairness_audit", q268, q268Sql),
    Query("q270_iv_wald", q270, q270Sql),
    Query("q276_krippendorff", q276, q276Sql),
    Query("q278_conformal", q278, q278Sql),
    Query("q280_markov_accuracy", q280, q280Sql),
    Query("q214_auc_roc", q214, q214Sql),
    Query("q215_cohens_kappa", q215, q215Sql),
    Query("q216_source_divergence", q216, q216Sql),
    Query("q217_gini_concentration", q217, q217Sql),
    Query("q218_ann_recall", q218, q218Sql),
    Query("q219_fdr_bh", q219, q219Sql),
    Query("q220_markov_attribution", q220, q220Sql),
    Query("q221_neyman_allocation", q221, q221Sql),
    Query("q222_bcubed_eval", q222, q222Sql),
    Query("q223_mi_ranking", q223, q223Sql),
    Query("q224_pr_curve", q224, q224Sql),
    Query("q225_spearman", q225, q225Sql),
    Query("q229_uplift_deciles", q229, q229Sql),
    Query("q230_hll_intersection", q230, q230Sql),
    Query("q232_auc_folds", q232, q232Sql),
    Query("q233_shapley_attribution", q233, q233Sql),
    Query("q234_ht_estimate", q234, q234Sql),
    Query("q235_retrieval_eval", q235, q235Sql),
    Query("q236_emd_drift", q236, q236Sql),
    Query("q237_lagged_xcorr", q237, q237Sql),
    Query("q239_qte", q239, q239Sql),
    Query("q240_feature_drift", q240, q240Sql),
    Query("q241_aa_control", q241, q241Sql),
    Query("q244_cmh_stratified", q244, q244Sql),
    Query("q245_power_mde", q245, q245Sql),
    Query("q246_chisq_independence", q246, q246Sql),
    Query("q247_mann_whitney", q247, q247Sql),
    Query("q248_ndcg", q248, q248Sql),
    Query("q251_bootstrap_ci", q251, q251Sql),
    Query("q252_ratio_metric_ci", q252, q252Sql),
    Query("q253_ipf_raking", q253, q253Sql),
    Query("q261_two_proportion_z", q261, q261Sql),
    Query("q262_overdispersion", q262, q262Sql),
    Query("q263_label_balance", q263, q263Sql))
}
