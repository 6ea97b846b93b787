package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Exec
// cross-engine deterministic rounding shadows functions.round
import graft.functions.Rounding.{roundTo => round}

import graft.Tables
import graft.operators.{Bpe, Funnel, Fuzzy, History, Lake, Quality, Rank,
  Sampling, Series, Sketch}

/** Round-5 corpus-analytics operators: BM25 lexical retrieval,
  * character-entropy quality scoring, deterministic weighted sampling,
  * Count-Min frequency sketching, and MAD-based robust outlier
  * detection. Oracle discipline matches [[Pipeline]] / [[Scale]]
  * (shared md5 hash kernel, shared rounding kernel, integer casts,
  * unique-key ordering).
  */
object Analytics {
  // ---------------------------------------------------------------- q97
  /** BM25 retrieval ([[Rank.bm25]]): score every document against a
    * 5-term keyword query, top 50. Term matching is a codegen'd isin
    * in the scan projection; df/idf tables are term-count-sized
    * broadcasts; corpus shuffles are the two doc-id aggregations. */
  // shared with q304's ranking-agreement readout (Methods.scala)
  private[queries] val bmTerms =
    Seq("spark", "vector", "stream", "window", "hash")

  private def q97(s: SparkSession, d: String): DataFrame =
    Rank.bm25(Tables.documents(s, d), "doc_id", "text", bmTerms,
        k1 = 1.2, b = 0.75)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(50)

  private val q97Sql =
    s"""WITH toks AS (SELECT doc_id,
           regexp_split_to_array(trim(text),'\\s+') AS w FROM documents),
       dl AS (SELECT doc_id, len(w)::DOUBLE AS dl FROM toks),
       st AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
       tf AS (SELECT doc_id, t AS tok, count(*)::DOUBLE AS tf
              FROM (SELECT doc_id, unnest(w) AS t FROM toks) u
              WHERE t IN (${bmTerms.map(t => s"'$t'").mkString(",")})
              GROUP BY doc_id, t),
       idf AS (SELECT tok,
                 ln(1 + (st.n_docs - count(*)::DOUBLE + 0.5)
                      / (count(*)::DOUBLE + 0.5)) AS idf
               FROM tf, st GROUP BY tok, st.n_docs),
       sc AS (SELECT tf.doc_id,
                CAST(count(*) AS BIGINT) AS n_matched,
                round(sum(idf.idf * (tf.tf * 2.2)
                  / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 4)
                  AS score
              FROM tf JOIN idf USING (tok) JOIN dl USING (doc_id), st
              GROUP BY tf.doc_id)
       SELECT doc_id, n_matched, score FROM sc
       ORDER BY score DESC, doc_id LIMIT 50"""

  // ---------------------------------------------------------------- q98
  /** Character-entropy quality signal ([[Quality.charEntropy]]): the
    * per-character explode collapses map-side to per-document
    * histograms; the shuffle carries (doc, char) counts, not
    * characters. Split-semantics note: Spark's split on '' appends a
    * trailing '' element (Java limit -1), DuckDB's does not — the
    * operator's histogram ignores empty-string entries, making the two
    * engines agree character-for-character. */
  private def q98(s: SparkSession, d: String): DataFrame =
    Quality.charEntropy(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id")

  private val q98Sql =
    """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
           FROM documents WHERE text IS NOT NULL AND length(text) > 0),
       cnt AS (SELECT doc_id, ch, count(*)::DOUBLE AS c
               FROM ch WHERE ch <> '' GROUP BY doc_id, ch),
       e AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars_split,
               round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 4)
                 AS entropy
             FROM cnt GROUP BY doc_id)
       SELECT doc_id, n_chars_split, entropy FROM e ORDER BY doc_id"""

  // ---------------------------------------------------------------- q99
  /** Deterministic weighted sampling ([[Sampling.weightedSample]]):
    * 25 documents drawn without replacement, selection probability
    * proportional to n_chars, reproducible on any engine — the A-ES
    * key is a pure function of (salt, doc_id, weight) through the
    * shared md5 kernel, and top-k plans as TakeOrderedAndProject. */
  private def q99(s: SparkSession, d: String): DataFrame =
    Sampling.weightedSample(
        Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", k = 25, salt = "es")
      .select(col("doc_id"), col("n_chars"),
        round(col("es_key"), 6).as("es_key"))
      .orderBy(col("es_key").desc, col("doc_id"))

  private val q99Sql =
    """WITH keyed AS (SELECT doc_id, n_chars,
           ln((('0x' || substr(md5('es' || doc_id::VARCHAR), 1, 15))::BIGINT
               + 1)::DOUBLE / 1152921504606846977.0)
             / n_chars::DOUBLE AS k
         FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
       top AS (SELECT doc_id, n_chars, k FROM keyed
               ORDER BY k DESC, doc_id LIMIT 25)
       SELECT doc_id, n_chars, round(k, 6) AS es_key
       FROM top ORDER BY es_key DESC, doc_id"""

  // --------------------------------------------------------------- q100
  /** Count-Min frequency estimates ([[Sketch.countMin]] +
    * [[Sketch.estimate]]): a 3×1024 sketch over the corpus token
    * stream, probed for five common tokens and two absent ones,
    * against the exact counts. Collisions are part of the contract —
    * the oracle replays the double-hashed grid set-theoretically, so
    * both engines must agree on every overcount. */
  private val cmsProbes = Seq("spark", "table", "the", "vector", "stream",
    "warehouse", "zeppelin")
  private val cmsDepth = 3
  private val cmsWidth = 1024

  private def q100(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions.words
    val toks = Tables.documents(s, d)
      .select(explode(words(col("text"))).as("tok"))
    val sketch = Sketch.countMin(toks, "tok", cmsDepth, cmsWidth)
    val probes = s.createDataFrame(
      cmsProbes.map(Tuple1(_))).toDF("word")
    val exact = toks.groupBy(col("tok").as("word"))
      .agg(count(lit(1)).as("true_cnt"))
    Sketch.estimate(sketch, probes, "word", cmsDepth, cmsWidth)
      .join(exact, Seq("word"), "left")
      .select(col("word"),
        coalesce(col("true_cnt"), lit(0L)).as("true_cnt"),
        col("cms_est"),
        (col("cms_est") - coalesce(col("true_cnt"), lit(0L)))
          .as("overcount"))
      .orderBy("word")
  }

  private val q100Sql =
    s"""WITH toks AS (SELECT unnest(regexp_split_to_array(trim(text),'\\s+'))
           AS w FROM documents),
       th AS (SELECT w, ('0x' || substr(md5(w),1,15))::BIGINT AS h FROM toks),
       buck AS (SELECT i,
                  (h % $cmsWidth + i * (1 + h % ${cmsWidth - 1})) % $cmsWidth
                    AS p,
                  count(*) AS c
                FROM th, range(0, $cmsDepth) t(i) GROUP BY i, p),
       probes(pw) AS (VALUES ${cmsProbes.map(p => s"('$p')").mkString(",")}),
       ph AS (SELECT pw, ('0x' || substr(md5(pw),1,15))::BIGINT AS h
              FROM probes),
       pe AS (SELECT pw,
                i, (h % $cmsWidth + i * (1 + h % ${cmsWidth - 1})) % $cmsWidth
                  AS p
              FROM ph, range(0, $cmsDepth) t(i)),
       est AS (SELECT pw, min(coalesce(buck.c, 0)) AS cms
               FROM pe LEFT JOIN buck USING (i, p) GROUP BY pw),
       cnt AS (SELECT w, count(*) AS c FROM toks GROUP BY w)
       SELECT pw AS word,
         CAST(coalesce(cnt.c, 0) AS BIGINT) AS true_cnt,
         CAST(est.cms AS BIGINT) AS cms_est,
         CAST(est.cms - coalesce(cnt.c, 0) AS BIGINT) AS overcount
       FROM est LEFT JOIN cnt ON est.pw = cnt.w
       ORDER BY word"""

  // --------------------------------------------------------------- q101
  /** Robust outlier detection ([[Quality.madOutliers]]): per-source
    * median/MAD of document length and the count of 3-robust-sigma
    * outliers — the quantile tables are group-count-sized broadcasts,
    * the flag pass is map-only. */
  private def q101(s: SparkSession, d: String): DataFrame =
    Quality.madOutliers(
        Tables.documents(s, d).select(col("source"), col("n_chars")),
        "n_chars", "source", c = 3.0)
      .orderBy("source")

  private val q101Sql =
    """WITH med AS (SELECT source, quantile_cont(n_chars, 0.5) AS med
           FROM documents GROUP BY source),
       dev AS (SELECT d.source, d.n_chars, med.med,
                 abs(d.n_chars::DOUBLE - med.med) AS dev
               FROM documents d JOIN med USING (source)),
       mad AS (SELECT source, quantile_cont(dev, 0.5) AS mad
               FROM dev GROUP BY source)
       SELECT dev.source, count(*) AS n,
         round(any_value(dev.med), 4) AS med,
         round(any_value(mad.mad), 4) AS mad,
         CAST(count(*) FILTER (dev.dev > 3.0 * 1.4826 * mad.mad) AS BIGINT)
           AS n_outliers
       FROM dev JOIN mad USING (source)
       GROUP BY dev.source ORDER BY dev.source"""

  // --------------------------------------------------------------- q102
  /** Distribution windows: percent_rank / cume_dist / nth_value with
    * an explicit ROWS frame (the RANGE default includes peer rows and
    * is the classic cross-engine divergence trap) — completes the
    * ranking-window family q46 started. */
  private def q102(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val wRows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .filter(col("o_custkey") <= 50)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .withColumn("pct_rank", round(percent_rank().over(w), 6))
      .withColumn("cume", round(cume_dist().over(w), 6))
      .withColumn("second_price", nth_value(col("o_totalprice"), 2)
        .over(wRows))
      .orderBy("o_orderstatus", "o_orderkey")
  }

  private val q102Sql =
    """SELECT o_orderkey, o_orderstatus, o_totalprice,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume,
       nth_value(o_totalprice, 2) OVER
         (PARTITION BY o_orderstatus
          ORDER BY o_totalprice DESC, o_orderkey ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS second_price
       FROM orders WHERE o_custkey <= 50
       WINDOW w AS (PARTITION BY o_orderstatus
                    ORDER BY o_totalprice DESC, o_orderkey ASC)
       ORDER BY o_orderstatus, o_orderkey"""

  // --------------------------------------------------------------- q103
  /** Time-series gap fill ([[Series.dailyGapFill]]): dense per-user
    * daily grid over the observed span with zero-filled counts and
    * forward-carried last-active day (running max of a monotone date —
    * no IGNORE NULLS frame dependence). */
  private def q103(s: SparkSession, d: String): DataFrame =
    Series.dailyGapFill(Tables.events(s, d), "user_id", "ts")
      .orderBy("user_id", "day")

  private val q103Sql =
    """WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS day,
           count(*) AS cnt
         FROM events GROUP BY user_id, day),
       span AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
       days AS (SELECT CAST(unnest(generate_series(d0, d1,
                  INTERVAL 1 DAY)) AS DATE) AS day FROM span),
       grid AS (SELECT u.user_id, days.day
                FROM (SELECT DISTINCT user_id FROM daily) u
                CROSS JOIN days)
       SELECT g.user_id, g.day,
         coalesce(daily.cnt, 0) AS n_events,
         max(CASE WHEN daily.cnt IS NOT NULL THEN g.day END) OVER
           (PARTITION BY g.user_id ORDER BY g.day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS last_active,
         CAST(datediff('day',
           max(CASE WHEN daily.cnt IS NOT NULL THEN g.day END) OVER
             (PARTITION BY g.user_id ORDER BY g.day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           g.day) AS INT) AS days_since
       FROM grid g LEFT JOIN daily
         ON g.user_id = daily.user_id AND g.day = daily.day
       ORDER BY g.user_id, g.day"""

  // --------------------------------------------------------------- q104
  /** Fuzzy self-join ([[Fuzzy.editDistance1Pairs]]): DISTINCT part
    * names within edit distance 1 via the symmetric-deletion candidate
    * scheme. Names dedupe to one representative (min partkey) BEFORE
    * the neighborhood join — the same collapse the simhash pipeline
    * applies to fingerprints: duplicate strings would otherwise pair
    * quadratically within every name group for zero information.
    * Every 5th representative gets a deterministically injected
    * one-character-deleted twin (q77/q88-style injection keeps the
    * oracle non-vacuous); natural near-identical names pair too. */
  private def q104(s: SparkSession, d: String): DataFrame = {
    val names = Tables.part(s, d)
      .groupBy("p_name").agg(min(col("p_partkey").cast("long")).as("pk"))
      .select(col("pk"), col("p_name"))
    val pos = pmod(col("pk"), length(col("p_name"))) + 1
    val typos = names.filter(pmod(col("pk"), lit(5)) === 0)
      .select((col("pk") + 1000000L).as("pk"),
        concat(col("p_name").substr(lit(1), pos - 1),
          col("p_name").substr(pos + 1, length(col("p_name"))))
          .as("p_name"))
    Fuzzy.editDistance1Pairs(names.unionByName(typos), "pk", "p_name")
      .withColumn("dist", col("dist").cast("int"))
      .orderBy("id_a", "id_b")
  }

  private val q104Sql =
    """WITH base AS (SELECT min(CAST(p_partkey AS BIGINT)) AS pk, p_name
           FROM part GROUP BY p_name),
       typo AS (SELECT pk + 1000000 AS pk,
           substr(p_name, 1, CAST(pk % length(p_name) AS INT))
             || substr(p_name, CAST(pk % length(p_name) AS INT) + 2)
             AS p_name
         FROM base WHERE pk % 5 = 0),
       all_rows AS (SELECT pk, p_name FROM base
                    UNION ALL SELECT pk, p_name FROM typo),
       vars AS (SELECT pk, p_name AS str,
                  unnest(list_prepend(p_name,
                    list_transform(range(1, length(p_name) + 1), i ->
                      substr(p_name, 1, CAST(i - 1 AS INT))
                        || substr(p_name, CAST(i + 1 AS INT))))) AS v
                FROM all_rows),
       cand AS (SELECT DISTINCT a.pk AS id_a, b.pk AS id_b,
                  a.str AS str_a, b.str AS str_b
                FROM vars a JOIN vars b
                  ON a.v = b.v AND a.pk < b.pk)
       SELECT id_a, id_b, str_a, str_b,
         CAST(levenshtein(str_a, str_b) AS INT) AS dist
       FROM cand WHERE levenshtein(str_a, str_b) <= 1
       ORDER BY id_a, id_b"""

  // --------------------------------------------------------------- q228
  /** Blocking-quality harness ([[Fuzzy.snmBlockingStats]]) — the
    * grade-the-candidate-generator pattern (q137 MinHash, q218 IVF)
    * applied to the third candidate-generation family, SNM blocking:
    * the q104 corpus (distinct part names + injected distance-1
    * twins) gives an EXACT ground-truth pair count via the
    * symmetric-deletion kernel; blocked SNM (4-char prefix, window 3)
    * is graded on pairs completeness (found / true — every SNM pair
    * under the d≤1 cap is true by construction) and reduction ratio
    * (1 − candidates / n·(n−1)/2 — the work the blocking avoided).
    * A blocking scheme silently losing recall, or silently exploding
    * candidate volume, flips a graded number. */
  private def q228(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val names = Tables.part(s, d)
      .groupBy("p_name").agg(min(col("p_partkey").cast("long")).as("pk"))
      .select(col("pk"), col("p_name"))
    val pos = pmod(col("pk"), length(col("p_name"))) + 1
    val typos = names.filter(pmod(col("pk"), lit(5)) === 0)
      .select((col("pk") + 1000000L).as("pk"),
        concat(col("p_name").substr(lit(1), pos - 1),
          col("p_name").substr(pos + 1, length(col("p_name"))))
          .as("p_name"))
    val all = sc.cache(names.unionByName(typos))
    val nTrue = graft.operators.Fuzzy
      .editDistance1Pairs(all, "pk", "p_name")
      .agg(count(lit(1)).as("n_true"))
    val stats = graft.operators.Fuzzy
      .snmBlockingStats(all, "pk", "p_name", blockLen = 4, window = 3,
        maxDist = 1)
    val n = col("n_rows").cast("double")
    val result = stats.crossJoin(broadcast(nTrue))
      .select(col("n_rows"), col("n_true"), col("n_candidates"),
        col("n_matched"),
        round(col("n_matched").cast("double") /
          col("n_true").cast("double"), 9).as("completeness"),
        round(lit(1.0) - col("n_candidates").cast("double") /
          (n * (n - lit(1.0)) / lit(2.0)), 9).as("reduction_ratio"))
    sc.keep(result)
  }

  private val q228Sql =
    """WITH base AS (SELECT min(CAST(p_partkey AS BIGINT)) AS pk, p_name
           FROM part GROUP BY p_name),
       typo AS (SELECT pk + 1000000 AS pk,
           substr(p_name, 1, CAST(pk % length(p_name) AS INT))
             || substr(p_name, CAST(pk % length(p_name) AS INT) + 2)
             AS p_name
         FROM base WHERE pk % 5 = 0),
       all_rows AS (SELECT pk, p_name FROM base
                    UNION ALL SELECT pk, p_name FROM typo),
       vars AS (SELECT pk, p_name AS str,
                  unnest(list_prepend(p_name,
                    list_transform(range(1, length(p_name) + 1), i ->
                      substr(p_name, 1, CAST(i - 1 AS INT))
                        || substr(p_name, CAST(i + 1 AS INT))))) AS v
                FROM all_rows),
       truth AS (SELECT count(*)::BIGINT AS n_true FROM (
           SELECT DISTINCT a.pk AS id_a, b.pk AS id_b
           FROM vars a JOIN vars b ON a.v = b.v AND a.pk < b.pk
           WHERE levenshtein(a.str, b.str) <= 1)),
       ranked AS (SELECT pk, p_name,
                    row_number() OVER (PARTITION BY substr(p_name, 1, 4)
                      ORDER BY p_name, pk) AS rn,
                    substr(p_name, 1, 4) AS blk
                  FROM all_rows),
       cand AS (SELECT DISTINCT least(a.pk, b.pk) AS id_a,
                  greatest(a.pk, b.pk) AS id_b,
                  CASE WHEN a.pk < b.pk THEN a.p_name
                       ELSE b.p_name END AS str_a,
                  CASE WHEN a.pk < b.pk THEN b.p_name
                       ELSE a.p_name END AS str_b
                FROM ranked a JOIN ranked b
                  ON a.blk = b.blk AND b.rn > a.rn AND b.rn <= a.rn + 3),
       cc AS (SELECT count(*)::BIGINT AS n_candidates,
                CAST(sum(CASE WHEN levenshtein(str_a, str_b) <= 1
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_matched
              FROM cand),
       nr AS (SELECT count(*)::BIGINT AS n_rows FROM all_rows)
       SELECT n_rows, n_true, n_candidates, n_matched,
         round(n_matched::DOUBLE / n_true::DOUBLE, 9) AS completeness,
         round(1.0 - n_candidates::DOUBLE /
           (n_rows::DOUBLE * (n_rows::DOUBLE - 1.0) / 2.0), 9)
           AS reduction_ratio
       FROM nr, truth, cc"""

  // --------------------------------------------------------------- q105
  /** Conversion funnel ([[Funnel.stages]]): earliest in-order
    * view → click → purchase times per user, epoch-micros typed;
    * events are scanned once per stage with the type predicate pushed
    * down, every intermediate is user-cardinality. */
  private def q105(s: SparkSession, d: String): DataFrame =
    Funnel.stages(Tables.events(s, d), "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .orderBy("user_id")

  private val q105Sql =
    """WITH v AS (SELECT user_id, min(ts) AS tv FROM events
           WHERE event_type = 'view' GROUP BY user_id),
       c AS (SELECT e.user_id, min(e.ts) AS tc
             FROM events e JOIN v USING (user_id)
             WHERE e.event_type = 'click' AND e.ts > v.tv
             GROUP BY e.user_id),
       p AS (SELECT e.user_id, min(e.ts) AS tp
             FROM events e JOIN c USING (user_id)
             WHERE e.event_type = 'purchase' AND e.ts > c.tc
             GROUP BY e.user_id)
       SELECT v.user_id,
         epoch_us(v.tv) AS t_view_us,
         epoch_us(c.tc) AS t_click_us,
         epoch_us(p.tp) AS t_purchase_us,
         CAST(1 + (c.tc IS NOT NULL)::INT + (p.tp IS NOT NULL)::INT
           AS INT) AS stage_reached
       FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
       ORDER BY user_id"""

  // --------------------------------------------------------------- q106
  /** SCD2 change tracking ([[History.changeHistory]]): each customer's
    * order-status history collapsed to validity intervals — one
    * shuffle+sort on the customer key, two window passes, no
    * self-join. Restricted to custkey ≤ 100 to keep the graded result
    * review-sized; the operator itself is corpus-wide. */
  private def q106(s: SparkSession, d: String): DataFrame =
    History.changeHistory(
        Tables.orders(s, d).filter(col("o_custkey") <= 100)
          .select(col("o_custkey"), col("o_orderstatus"),
            col("o_orderdate"), col("o_orderkey")),
        "o_custkey", "o_orderstatus", "o_orderdate", Seq("o_orderkey"))
      .orderBy("o_custkey", "valid_from",  "o_orderstatus")

  private val q106Sql =
    """WITH ordered AS (SELECT o_custkey, o_orderstatus, o_orderdate,
           row_number() OVER w AS rn,
           lag(o_orderstatus, 1) OVER w AS prev
         FROM orders WHERE o_custkey <= 100
         WINDOW w AS (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey)),
       changes AS (SELECT o_custkey, o_orderstatus,
                     o_orderdate AS valid_from, rn
                   FROM ordered
                   WHERE rn = 1 OR o_orderstatus IS DISTINCT FROM prev)
       SELECT o_custkey, o_orderstatus, valid_from,
         lead(valid_from, 1) OVER (PARTITION BY o_custkey ORDER BY rn)
           AS valid_to,
         lead(valid_from, 1) OVER (PARTITION BY o_custkey ORDER BY rn)
           IS NULL AS is_current
       FROM changes
       ORDER BY o_custkey, valid_from, o_orderstatus"""

  // --------------------------------------------------------------- q107
  /** Markov transition matrix ([[Series.transitionMatrix]]): P(next
    * event type | current) over per-user ordered event streams —
    * |types|² output, corpus collapses map-side after one key
    * shuffle+sort. */
  private def q107(s: SparkSession, d: String): DataFrame =
    Series.transitionMatrix(Tables.events(s, d), "user_id", "ts",
        "event_type", "event_id")
      .orderBy("event_type", "next_type")

  private val q107Sql =
    """WITH seq AS (SELECT event_type,
           lead(event_type, 1) OVER (PARTITION BY user_id
             ORDER BY ts, event_id) AS next_type
         FROM events),
       pairs AS (SELECT event_type, next_type, count(*) AS n
                 FROM seq WHERE next_type IS NOT NULL
                 GROUP BY event_type, next_type)
       SELECT event_type, next_type, n,
         round(n::DOUBLE / sum(n) OVER (PARTITION BY event_type), 4)
           AS prob
       FROM pairs ORDER BY event_type, next_type"""

  // --------------------------------------------------------------- q108
  /** Join-key skew report ([[Quality.skewReport]]): the 20 heaviest
    * lineitem order keys with share and skew factor — the diagnosis
    * run before committing a 100 TB shuffle to a key. */
  private def q108(s: SparkSession, d: String): DataFrame =
    Quality.skewReport(Tables.lineitem(s, d), "l_orderkey", topN = 20)

  private val q108Sql =
    """WITH counts AS (SELECT l_orderkey::VARCHAR AS key, count(*) AS cnt
           FROM lineitem GROUP BY l_orderkey),
       stats AS (SELECT sum(cnt) AS total, count(*)::DOUBLE AS n_keys
                 FROM counts)
       SELECT key, cnt,
         round(cnt::DOUBLE / total, 6) AS share,
         round(cnt::DOUBLE / (total / n_keys), 4) AS skew_factor
       FROM counts, stats
       ORDER BY cnt DESC, key LIMIT 20"""

  // --------------------------------------------------------------- q109
  /** BPE tokenizer training ([[Bpe.trainMerges]]): the first 4 merge
    * rules learned from the corpus — each round is one pair-count
    * aggregation over the (small) word-frequency table plus a 1-row
    * argmax collect, the reference's distributed-reduce-feeds-driver-
    * state loop. The oracle unrolls all 4 rounds as CTE chains. */
  private def q109(s: SparkSession, d: String): DataFrame =
    Bpe.trainMerges(Tables.documents(s, d), "text", nMerges = 4)
      .orderBy("step")

  private def bpeRound(rIn: String, p: String, b: String,
                       rOut: String): String =
    s"""$p AS (SELECT t[CAST(i AS INT)] AS x, t[CAST(i AS INT) + 1] AS y,
           sum(freq) AS c
         FROM (SELECT t, freq, unnest(range(1, len(t))) AS i
               FROM (SELECT string_split(trim(s), '  ') AS t, freq
                     FROM $rIn) u) v
         GROUP BY x, y),
       $b AS (SELECT x, y, c FROM $p ORDER BY c DESC, x, y LIMIT 1),
       $rOut AS (SELECT replace(s, ' ' || x || '  ' || y || ' ',
                   ' ' || x || y || ' ') AS s, freq
                 FROM $rIn, $b)"""

  private val q109Sql =
    s"""WITH toks AS (SELECT unnest(regexp_split_to_array(trim(text),'\\s+'))
           AS w FROM documents),
       wf AS (SELECT w, count(*) AS freq FROM toks GROUP BY w),
       r0 AS (SELECT ' ' || array_to_string(string_split(w, ''), '  ')
                || ' ' AS s, freq FROM wf),
       ${bpeRound("r0", "p1", "b1", "r1")},
       ${bpeRound("r1", "p2", "b2", "r2")},
       ${bpeRound("r2", "p3", "b3", "r3")},
       ${bpeRound("r3", "p4", "b4", "r4")}
       SELECT * FROM (
         SELECT CAST(1 AS INT) AS step, x AS left_sym, y AS right_sym,
           x || y AS merged, CAST(c AS BIGINT) AS pair_count FROM b1
         UNION ALL SELECT CAST(2 AS INT), x, y, x || y,
           CAST(c AS BIGINT) FROM b2
         UNION ALL SELECT CAST(3 AS INT), x, y, x || y,
           CAST(c AS BIGINT) FROM b3
         UNION ALL SELECT CAST(4 AS INT), x, y, x || y,
           CAST(c AS BIGINT) FROM b4) m
       ORDER BY step"""

  // --------------------------------------------------------------- q110
  /** BPE encoding ([[Bpe.tokenCounts]]): tokenize every document under
    * the 4 trained merge rules — the rewrites compose into ONE
    * map-only projection (nested codegen'd replace), so encoding is a
    * single corpus pass before the per-document count. */
  private def q110(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val merges = Bpe.trainMerges(docs, "text", nMerges = 4)
      .orderBy("step").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    Bpe.tokenCounts(docs, "doc_id", "text", merges).orderBy("doc_id")
  }

  private val q110Sql =
    s"""WITH toks AS (SELECT unnest(regexp_split_to_array(trim(text),'\\s+'))
           AS w FROM documents),
       wf AS (SELECT w, count(*) AS freq FROM toks GROUP BY w),
       r0 AS (SELECT ' ' || array_to_string(string_split(w, ''), '  ')
                || ' ' AS s, freq FROM wf),
       ${bpeRound("r0", "p1", "b1", "r1")},
       ${bpeRound("r1", "p2", "b2", "r2")},
       ${bpeRound("r2", "p3", "b3", "r3")},
       ${bpeRound("r3", "p4", "b4", "r4")},
       dw AS (SELECT DISTINCT w FROM toks),
       e0 AS (SELECT w, ' ' || array_to_string(string_split(w, ''), '  ')
                || ' ' AS s FROM dw),
       e1 AS (SELECT w, replace(s, ' ' || x || '  ' || y || ' ',
                ' ' || x || y || ' ') AS s FROM e0, b1),
       e2 AS (SELECT w, replace(s, ' ' || x || '  ' || y || ' ',
                ' ' || x || y || ' ') AS s FROM e1, b2),
       e3 AS (SELECT w, replace(s, ' ' || x || '  ' || y || ' ',
                ' ' || x || y || ' ') AS s FROM e2, b3),
       e4 AS (SELECT w, replace(s, ' ' || x || '  ' || y || ' ',
                ' ' || x || y || ' ') AS s FROM e3, b4),
       wtok AS (SELECT w,
                  CAST(len(string_split(trim(s), '  ')) AS BIGINT) AS nt
                FROM e4),
       docw AS (SELECT doc_id,
                  unnest(regexp_split_to_array(trim(text),'\\s+')) AS w
                FROM documents)
       SELECT doc_id, count(*) AS n_words,
         CAST(sum(nt) AS BIGINT) AS n_tokens
       FROM docw JOIN wtok USING (w)
       GROUP BY doc_id ORDER BY doc_id"""

  // --------------------------------------------------------------- q111
  /** Z-order clustering key ([[Lake.zValue]]): Morton interleave of
    * (customer, order-day) — the layout key that gives every output
    * file a tight bounding box in both dimensions so min/max stats
    * prune scans on either filter. Pure bit arithmetic, mirrored in
    * SQL. */
  private def q111(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d).select(col("o_orderkey"),
      pmod(col("o_custkey"), lit(65536L)).cast("long").as("xk"),
      pmod(datediff(col("o_orderdate"), lit("1990-01-01").cast("date")),
        lit(65536)).cast("long").as("yk"))
    base.withColumn("zkey", Lake.zValue(col("xk"), col("yk"), 16))
      .orderBy(col("zkey"), col("o_orderkey"))
      .limit(50)
  }

  private val q111Sql =
    """SELECT o_orderkey, xk, yk,
       CAST(list_sum(list_transform(range(0, 16), i ->
         (((xk >> i) & 1) << (2 * i)) + (((yk >> i) & 1) << (2 * i + 1))))
         AS BIGINT) AS zkey
       FROM (SELECT o_orderkey,
               o_custkey % 65536 AS xk,
               datediff('day', DATE '1990-01-01', o_orderdate) % 65536
                 AS yk
             FROM orders) t
       ORDER BY zkey, o_orderkey LIMIT 50"""

  // --------------------------------------------------------------- q260
  /** Tokenizer fertility audit — the metric that drives mixture and
    * budget decisions in a multilingual pipeline: tokens-per-word and
    * chars-per-token per LANGUAGE under the corpus-trained BPE
    * (q109's 4 merge rules, q110's one-pass encode). A language whose
    * fertility runs high is under-served by the vocabulary and burns
    * training budget; the per-lang aggregation makes that a graded
    * number instead of folklore. Corpus work: the q110 projection +
    * one |langs|-row aggregation; fertility ratios are divisions of
    * exact LONG sums.
    */
  private def q260(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val merges = Bpe.trainMerges(docs, "text", nMerges = 4)
      .orderBy("step").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val tc = Bpe.tokenCounts(docs, "doc_id", "text", merges)
    tc.join(docs.select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("n_chars")), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("nc"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_tokens"),
        round(col("n_tokens").cast("double") /
          col("n_words").cast("double"), 6).as("fertility"),
        round(col("nc").cast("double") /
          col("n_tokens").cast("double"), 6).as("chars_per_token"))
      .orderBy("lang")
  }

  private val q260Sql =
    s"""WITH toks AS (SELECT unnest(regexp_split_to_array(trim(text),'\\s+'))
           AS w FROM documents),
       wf AS (SELECT w, count(*) AS freq FROM toks GROUP BY w),
       r0 AS (SELECT ' ' || array_to_string(string_split(w, ''), '  ')
                || ' ' AS s, freq FROM wf),
       ${bpeRound("r0", "p1", "b1", "r1")},
       ${bpeRound("r1", "p2", "b2", "r2")},
       ${bpeRound("r2", "p3", "b3", "r3")},
       ${bpeRound("r3", "p4", "b4", "r4")},
       dw AS (SELECT DISTINCT w FROM toks),
       e0 AS (SELECT w, ' ' || array_to_string(string_split(w, ''), '  ')
                || ' ' AS s FROM dw),
       e1 AS (SELECT w, replace(s, ' ' || x || '  ' || y || ' ',
                ' ' || x || y || ' ') AS s FROM e0, b1),
       e2 AS (SELECT w, replace(s, ' ' || x || '  ' || y || ' ',
                ' ' || x || y || ' ') AS s FROM e1, b2),
       e3 AS (SELECT w, replace(s, ' ' || x || '  ' || y || ' ',
                ' ' || x || y || ' ') AS s FROM e2, b3),
       e4 AS (SELECT w, replace(s, ' ' || x || '  ' || y || ' ',
                ' ' || x || y || ' ') AS s FROM e3, b4),
       wtok AS (SELECT w,
                  CAST(len(string_split(trim(s), '  ')) AS BIGINT) AS nt
                FROM e4),
       docw AS (SELECT doc_id,
                  unnest(regexp_split_to_array(trim(text),'\\s+')) AS w
                FROM documents),
       perdoc AS (SELECT doc_id, count(*) AS n_words,
                  CAST(sum(nt) AS BIGINT) AS n_tokens
                FROM docw JOIN wtok USING (w) GROUP BY doc_id)
       SELECT d.lang, count(*)::BIGINT AS n_docs,
         CAST(sum(p.n_words) AS BIGINT) AS n_words,
         CAST(sum(p.n_tokens) AS BIGINT) AS n_tokens,
         round(CAST(sum(p.n_tokens) AS DOUBLE)
           / CAST(sum(p.n_words) AS DOUBLE), 6) AS fertility,
         round(CAST(sum(length(d.text)) AS DOUBLE)
           / CAST(sum(p.n_tokens) AS DOUBLE), 6) AS chars_per_token
       FROM perdoc p JOIN documents d ON d.doc_id = p.doc_id
       GROUP BY d.lang ORDER BY d.lang"""

  // ----------------------------------------------------------------

  val entries: Seq[Query] = Seq(
    Query("q260_tokenizer_fertility", q260, q260Sql),
    Query("q97_bm25", q97, q97Sql),
    Query("q98_char_entropy", q98, q98Sql),
    Query("q99_weighted_sample", q99, q99Sql),
    Query("q100_cms_freq", q100, q100Sql),
    Query("q101_mad_outliers", q101, q101Sql),
    Query("q102_distribution_windows", q102, q102Sql),
    Query("q103_gap_fill", q103, q103Sql),
    Query("q104_fuzzy_join", q104, q104Sql),
    Query("q228_blocking_quality", q228, q228Sql),
    Query("q105_funnel", q105, q105Sql),
    Query("q106_change_history", q106, q106Sql),
    Query("q107_markov_transitions", q107, q107Sql),
    Query("q108_skew_report", q108, q108Sql),
    Query("q109_bpe_merges", q109, q109Sql),
    Query("q110_bpe_encode", q110, q110Sql),
    Query("q111_zorder_key", q111, q111Sql))
}
