package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Exec
// cross-engine deterministic rounding shadows functions.round
import graft.functions.Rounding.{roundTo => round}

import graft.Tables
import graft.functions.TextFunctions._
import graft.operators.{Packing, Sampling}

/** Corpus-curation surface (round 3): the remaining steps a
  * training-data pipeline runs between "raw filtered corpus" and
  * "model input" — benchmark decontamination, rule-based (Gopher-style)
  * filtering, sequence packing, weighted source mixing, PII redaction,
  * vocabulary/Zipf statistics, embedding quantization, and stratified
  * per-source capping.
  *
  * Oracle discipline matches [[Pipeline]]: md5 is the only
  * cross-engine hash, every computed double is rounded through the
  * shared floor kernel (negative quantities are negated first — the
  * kernel is only round-half-identical to DuckDB for positives), every
  * computed integer is cast so parquet types agree, and every query
  * orders by a unique key.
  */
object Curation {
  // ---------------------------------------------------------------- q73
  /** Benchmark decontamination: every 20th document plays the held-out
    * benchmark; the rest of the corpus is scanned for 3-gram overlap
    * ([[Decontam.overlap]]). At production scale the benchmark n-gram
    * hash set is broadcast — no corpus shuffle for the match itself.
    */
  private def q73(s: SparkSession, d: String): DataFrame =
    // reads the session contamination store (graft.Kernels) — the same
    // per-doc stats table q200's decontam stage consumes; built once
    // per (application, dir) by Decontam.overlap over the fixed split
    graft.Kernels.benchOverlap(s, d, n = 3)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  private val q73Sql = Pipeline.shingleCte +
    """,
       corp AS (SELECT doc_id,
           ('0x' || substr(md5(s),1,15))::BIGINT AS h
         FROM (SELECT doc_id, unnest(sh) AS s FROM sh
               WHERE doc_id % 20 <> 0) t),
       ban AS (SELECT DISTINCT ('0x' || substr(md5(s),1,15))::BIGINT AS h
         FROM (SELECT unnest(sh) AS s FROM sh WHERE doc_id % 20 = 0) t),
       tot AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_ngrams
               FROM sh WHERE doc_id % 20 <> 0),
       con AS (SELECT doc_id, count(*) AS n_contam
               FROM corp JOIN ban USING (h) GROUP BY doc_id)
       SELECT doc_id, n_ngrams, n_contam,
         round(n_contam::DOUBLE / n_ngrams, 4) AS contam_ratio
       FROM tot JOIN con USING (doc_id)
       ORDER BY doc_id"""

  // ---------------------------------------------------------------- q74
  /** Gopher-style rule flags ([[Quality.gopherFlags]]): measured
    * signals + per-rule booleans + composite keep, one codegen'd
    * map-only pass. */
  private def q74(s: SparkSession, d: String): DataFrame =
    // reads the session quality-signal store (graft.Kernels) — the
    // same per-doc gopherFlags table q200's quality stage consumes
    graft.Kernels.gopherSignals(s, d)
      .orderBy("doc_id")

  private val q74Sql =
    """SELECT doc_id, n_words, mean_word_len, rep_ratio, n_stopwords,
       (n_words >= 40 AND n_words <= 50000) AS r_words,
       (mean_word_len >= 4.0 AND mean_word_len <= 10.0) AS r_mwl,
       (rep_ratio <= 0.55) AS r_rep,
       (n_stopwords >= 2) AS r_stop,
       ((n_words >= 40 AND n_words <= 50000)
        AND (mean_word_len >= 4.0 AND mean_word_len <= 10.0)
        AND rep_ratio <= 0.55 AND n_stopwords >= 2) AS keep
       FROM (SELECT doc_id,
           CAST(len(w) AS BIGINT) AS n_words,
           round(length(array_to_string(w,''))::DOUBLE / len(w), 4)
             AS mean_word_len,
           round(1.0 - len(list_distinct(w))::DOUBLE / len(w), 4)
             AS rep_ratio,
           CAST(len(list_filter(w, t ->
               list_contains(['the','a','of','and','to','in'], t)))
             AS BIGINT) AS n_stopwords
         FROM (SELECT doc_id, regexp_split_to_array(trim(text),'\s+') w
               FROM documents) a) b
       ORDER BY doc_id"""

  // ---------------------------------------------------------------- q75
  /** Sequence packing ([[Packing.packOffsets]]): 512-token chunks over
    * 32 independent hash streams, reported per (stream, chunk). */
  private def q75(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Packing.packOffsets(docs, "doc_id", size(words(col("text"))),
        budget = 512L, streams = 32)
      .groupBy("stream", "chunk")
      .agg(count(lit(1)).as("n_docs"),
           sum("tokens").cast("long").as("sum_tokens"),
           min("start_offset").as("first_offset"))
      .orderBy("stream", "chunk")
  }

  private val q75Sql =
    """SELECT CAST(stream AS INT) AS stream,
         CAST(so // 512 AS BIGINT) AS chunk,
         count(*) AS n_docs,
         CAST(sum(tokens) AS BIGINT) AS sum_tokens,
         CAST(min(so) AS BIGINT) AS first_offset
       FROM (SELECT doc_id, tokens, stream,
           sum(tokens) OVER (PARTITION BY stream ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tokens
             AS so
         FROM (SELECT doc_id,
             len(regexp_split_to_array(trim(text),'\s+')) AS tokens,
             ('0x' || substr(md5('pack' || doc_id::VARCHAR),1,15))::BIGINT
               % 32 AS stream
           FROM documents) a) b
       GROUP BY stream, chunk
       ORDER BY stream, chunk"""

  // ---------------------------------------------------------------- q76
  /** Weighted source mixing ([[Sampling.mixSources]]): per-source
    * deterministic downsampling rates, audited as kept-vs-total. */
  private def q76(s: SparkSession, d: String): DataFrame =
    Sampling.mixSources(Tables.documents(s, d), "doc_id", "source",
        Map("src0" -> 90, "src1" -> 75, "src2" -> 50, "src3" -> 25,
          "src4" -> 10),
        defaultPct = 40)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("kept").cast("int")).cast("long").as("n_kept"),
           round(sum(col("kept").cast("int")).cast("double") /
             count(lit(1)).cast("double"), 4).as("kept_frac"))
      .orderBy("source")

  private val q76Sql =
    """SELECT source, count(*) AS n_docs,
       CAST(count(*) FILTER (kept) AS BIGINT) AS n_kept,
       round((count(*) FILTER (kept))::DOUBLE / count(*), 4) AS kept_frac
       FROM (SELECT source,
           ('0x' || substr(md5('mix|' || coalesce(source, '') || '|'
               || coalesce(doc_id::VARCHAR, '')), 1,15))::BIGINT % 100
           < CASE coalesce(source, '')
               WHEN 'src0' THEN 90 WHEN 'src1' THEN 75
               WHEN 'src2' THEN 50 WHEN 'src3' THEN 25 WHEN 'src4' THEN 10
               ELSE 40 END AS kept
         FROM documents) t
       GROUP BY source ORDER BY source"""

  // ---------------------------------------------------------------- q77
  /** PII detection + redaction. The synthetic corpus contains no PII
    * at all (a detector over it would be a vacuous oracle), so the
    * query DETERMINISTICALLY INJECTS synthetic e-mails / phone numbers
    * / IPs as a function of doc_id, then detects and redacts them —
    * the regexes are value-checked against text they actually match.
    * Patterns are RE2-compatible and shared verbatim with the oracle.
    */
  private def q77(s: SparkSession, d: String): DataFrame = {
    val injected = concat(col("text"),
      when(pmod(col("doc_id"), lit(5)) === 0,
        concat(lit(" reach user"), col("doc_id").cast("string"),
          lit("@example.com"))).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(7)) === 0,
        concat(lit(" call +1-555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(3)) === 0,
        concat(lit(" host 10.0."),
          pmod(col("doc_id"), lit(256)).cast("string"), lit("."),
          pmod(col("doc_id") * 7, lit(256)).cast("string")))
        .otherwise(lit("")))
    Tables.documents(s, d)
      .select(col("doc_id"), injected.as("txt"))
      .select(col("doc_id"),
        piiCount(col("txt"), emailPattern).cast("long").as("n_emails"),
        piiCount(col("txt"), phonePattern).cast("long").as("n_phones"),
        piiCount(col("txt"), ipPattern).cast("long").as("n_ips"),
        length(redactPii(col("txt"))).cast("long").as("n_chars_redacted"))
      .orderBy("doc_id")
  }

  private val q77Sql =
    """SELECT doc_id,
       CAST(len(regexp_extract_all(txt,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(txt,
         '\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(txt,
         '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ips,
       CAST(length(
         regexp_replace(regexp_replace(regexp_replace(txt,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
           '\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g'),
           '([0-9]{1,3}\.){3}[0-9]{1,3}', '[IP]', 'g')) AS BIGINT)
         AS n_chars_redacted
       FROM (SELECT doc_id, text
           || CASE WHEN doc_id % 5 = 0
                THEN ' reach user' || doc_id::VARCHAR || '@example.com'
                ELSE '' END
           || CASE WHEN doc_id % 7 = 0
                THEN ' call +1-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                ELSE '' END
           || CASE WHEN doc_id % 3 = 0
                THEN ' host 10.0.' || (doc_id % 256)::VARCHAR || '.'
                  || ((doc_id * 7) % 256)::VARCHAR
                ELSE '' END AS txt
         FROM documents) t
       ORDER BY doc_id"""

  // ---------------------------------------------------------------- q78
  /** Vocabulary / Zipf statistics: top-100 words with rank, frequency,
    * cumulative coverage, and the (negated) log-log Zipf slope as a
    * constant audit column. Scale note: the top-100 is taken FIRST
    * with a distributed TakeOrdered (`orderBy().limit`), so the rank
    * and cumulative windows run over exactly 100 rows — the prefix
    * coverage of rank ≤ k depends only on the top-k frequencies
    * themselves, never on the vocabulary tail; the corpus-sized work
    * is the codegen'd token count.
    */
  private def q78(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(explode(words(col("text"))).as("w"))
    val freq = toks.groupBy("w").agg(count(lit(1)).as("freq"))
    val ord = Window.orderBy(col("freq").desc, col("w").asc)
    val top = freq
      .orderBy(col("freq").desc, col("w").asc).limit(100)
      .withColumn("rank", row_number().over(ord))
      .withColumn("cum", sum("freq").over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val total = freq.agg(sum("freq").as("n_total"))
    val slope = top.agg(
      round(-expr("regr_slope(ln(CAST(freq AS DOUBLE)), ln(CAST(rank AS DOUBLE)))"), 4)
        .as("zipf_slope_neg"))
    top.crossJoin(broadcast(total)).crossJoin(broadcast(slope))
      .select(col("rank"), col("w").as("word"), col("freq"),
        round(col("cum").cast("double") / col("n_total").cast("double"), 4)
          .as("cum_frac"),
        col("zipf_slope_neg"))
      .orderBy("rank")
  }

  private val q78Sql =
    """WITH toks AS (SELECT unnest(regexp_split_to_array(trim(text),'\s+'))
           AS w FROM documents),
       freq AS (SELECT w, count(*) AS freq FROM toks GROUP BY w),
       ranked AS (SELECT w, freq,
           row_number() OVER (ORDER BY freq DESC, w) AS rn,
           sum(freq) OVER (ORDER BY freq DESC, w
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         FROM freq),
       top AS (SELECT * FROM ranked WHERE rn <= 100),
       tot AS (SELECT sum(freq) AS n FROM freq),
       slope AS (SELECT round(-regr_slope(ln(freq::DOUBLE), ln(rn::DOUBLE)), 4)
           AS zipf_slope_neg FROM top)
       SELECT CAST(rn AS INT) AS rank, w AS word,
         CAST(freq AS BIGINT) AS freq,
         round(cum::DOUBLE / tot.n, 4) AS cum_frac,
         slope.zipf_slope_neg
       FROM top, tot, slope
       ORDER BY rank"""

  // ---------------------------------------------------------------- q79
  /** Symmetric per-vector int8 quantization (the storage/serving
    * compression step for embedding corpora): scale = max|x|/127,
    * code = floor(x/scale + 0.5) — explicit floor(+0.5) because the
    * engines' round() differ on negative halves — and the per-vector
    * reconstruction MSE. All-zero vectors quantize to scale 0 / MSE 0.
    * One codegen'd pass via the native
    * [[graft.functions.expressions.QuantStats]] — the lambda
    * formulation was quadratic in the vector dimension (interpreted
    * HOFs + CollapseProject inlining the max into every element).
    */
  private def q79(s: SparkSession, d: String): DataFrame = {
    val qs = graft.functions.VectorFunctions.quantStats(col("embedding"))
    Tables.embeddings(s, d)
      .select(col("vec_id"), qs.as("q"))
      .select(col("vec_id"),
        round(col("q.qscale"), 6).as("qscale"),
        round(col("q.mse"), 8).as("mse"))
      .orderBy("vec_id")
  }

  private val q79Sql =
    """SELECT vec_id,
       CASE WHEN coalesce(m, 0) = 0 THEN 0.0 ELSE round(m / 127.0, 6) END AS qscale,
       CASE WHEN coalesce(m, 0) = 0 THEN 0.0 ELSE
         round(list_sum(list_transform(e, x ->
             pow(x - floor(x / (m/127.0) + 0.5) * (m/127.0), 2)))
           / len(e), 8) END AS mse
       FROM (SELECT vec_id, embedding::DOUBLE[] AS e,
           list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS m
         FROM embeddings) t
       ORDER BY vec_id"""

  // ---------------------------------------------------------------- q80
  /** Stratified per-source cap ([[Sampling.stratifiedCap]]): at most
    * 15 documents per source, selected by deterministic hash order —
    * the exact surviving (source, doc_id) set is the value check. */
  private def q80(s: SparkSession, d: String): DataFrame =
    Sampling.stratifiedCap(Tables.documents(s, d), "doc_id", "source",
        cap = 15)
      .select("source", "doc_id")
      .orderBy("source", "doc_id")

  private val q80Sql =
    """SELECT source, doc_id FROM (
         SELECT source, doc_id, row_number() OVER (PARTITION BY source
             ORDER BY ('0x' || substr(md5('strat' || doc_id::VARCHAR),1,15))
               ::BIGINT % 1000000, doc_id) AS rn
         FROM documents) t
       WHERE rn <= 15
       ORDER BY source, doc_id"""

  // ---------------------------------------------------------------- q81
  /** Bigram-LM quality score (one model order past q72's unigram LM):
    * corpus MLE conditionals P(b|a) = c(a b)/c(a ·), each document
    * scored by the mean log-probability of its bigrams. The prefix
    * normalizer c(a ·) counts `a` at non-final positions (the sum of
    * c(a b) over b), so conditionals sum to exactly 1 and every scored
    * bigram exists in the model (the corpus is the training set — no
    * backoff needed). Bigram rows come from the native shingle
    * expression (n = 2) inside the scan projection; the model tables
    * are vocabulary², aggregated once and joined back by bigram key.
    */
  private def q81(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val docs = Tables.documents(s, d)
      .filter(size(words(col("text"))) >= 2)
    val bi = sc.cache(graft.operators.Dedup
      .shingleRowsRaw(docs, "doc_id", "text", 2)
      .withColumnRenamed("id", "doc_id"))
    val bc = bi.groupBy("s").agg(count(lit(1)).as("cb"))
    // prefix counts from the vocab-sized bigram table, NOT a second
    // corpus-sized aggregation: c(a ·) = Σ_b c(a b)
    val pc = bc.select(substring_index(col("s"), " ", 1).as("p"), col("cb"))
      .groupBy("p").agg(sum(col("cb")).as("cp"))
    val lp = bc.withColumn("p", substring_index(col("s"), " ", 1))
      .join(pc, "p")
      .select(col("s"), log(col("cb").cast("double") /
        col("cp").cast("double")).as("l"))
    val result = bi.join(lp, "s")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
           round(avg(col("l")), 4).as("avg_bigram_logprob"))
      .orderBy("doc_id")
    sc.keep(result)
  }

  private val q81Sql =
    """WITH wa AS (SELECT doc_id, regexp_split_to_array(trim(text),'\s+') w
                   FROM documents),
       bi AS (SELECT doc_id,
           unnest(list_transform(range(1, len(w)),
             i -> w[i] || ' ' || w[i+1])) AS s
         FROM wa WHERE len(w) >= 2),
       bc AS (SELECT s, count(*) AS cb FROM bi GROUP BY s),
       pc AS (SELECT split_part(s, ' ', 1) AS p, sum(cb) AS cp
              FROM bc GROUP BY 1),
       lp AS (SELECT s, ln(cb::DOUBLE / cp) AS l
              FROM bc JOIN pc ON split_part(bc.s, ' ', 1) = pc.p)
       SELECT doc_id, count(*) AS n_bigrams,
         round(avg(l), 4) AS avg_bigram_logprob
       FROM bi JOIN lp USING (s)
       GROUP BY doc_id
       ORDER BY doc_id"""

  // ---------------------------------------------------------------- q84
  /** Incremental near-dup detection
    * ([[graft.operators.Dedup.incrementalNearDups]]) — the production
    * dedup mode: every 4th document plays the incoming batch, the rest
    * the existing corpus; batch documents are flagged if they
    * near-duplicate (minhash bands + exact-Jaccard ≥ 0.8) ANY corpus
    * document, with no corpus×corpus self-join. Oracle: the shared
    * minhash band CTEs with a batch×corpus candidate join.
    */
  private def q84(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // disjointness is structural (a predicate and its negation on the
    // same column), so the eager probe is skipped
    graft.operators.Dedup.incrementalNearDups(
        docs.filter(pmod(col("doc_id"), lit(4)) === 0),
        docs.filter(pmod(col("doc_id"), lit(4)) =!= 0),
        "doc_id", "text", threshold = 0.8,
        checkDisjoint = false)
      .orderBy("doc_id")
  }

  private val q84Sql = Pipeline.minhashBandCtes +
    """,
       cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
                FROM bands a JOIN bands b
                  ON a.b = b.b AND a.key = b.key
                WHERE a.doc_id % 4 = 0 AND b.doc_id % 4 <> 0),
       ver AS (SELECT da, count(*) AS n
               FROM cand JOIN sh x ON x.doc_id = da
                         JOIN sh y ON y.doc_id = db
               WHERE round(len(list_intersect(x.sh, y.sh))::DOUBLE /
                 (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))),
                 4) >= 0.8
               GROUP BY da)
       SELECT d.doc_id, ver.n IS NOT NULL AS is_dup,
         CAST(coalesce(ver.n, 0) AS BIGINT) AS n_dup_matches
       FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 0) d
       LEFT JOIN ver ON ver.da = d.doc_id
       ORDER BY doc_id"""

  // ---------------------------------------------------------------- q86
  /** Duplicated n-gram fraction (the published repetition-rule family
    * measures dup fractions at several n): `1 − distinct/total` over
    * the n-gram MULTISET, at n = 2 and n = 3. The multisets come from
    * the native single-pass shingle expression inside the scan
    * projection — two codegen'd array expressions per row, no shuffle
    * (contrast q70's word-level repetition, the n = 1 special case).
    * Documents shorter than n words degrade to one whole-text shingle
    * (fraction 0), mirrored in the oracle CASE.
    */
  private def q86(s: SparkSession, d: String): DataFrame = {
    def dupFrac(n: Int) = {
      val sh = wordShingleArray(col("text"), n)
      lit(1.0) - size(array_distinct(sh)).cast("double") /
        size(sh).cast("double")
    }
    Tables.documents(s, d)
      .select(col("doc_id"),
        round(dupFrac(2), 4).as("dup_2gram_frac"),
        round(dupFrac(3), 4).as("dup_3gram_frac"))
      .orderBy("doc_id")
  }

  private val q86Sql =
    """SELECT doc_id,
       round(1.0 - len(list_distinct(g2))::DOUBLE / len(g2), 4)
         AS dup_2gram_frac,
       round(1.0 - len(list_distinct(g3))::DOUBLE / len(g3), 4)
         AS dup_3gram_frac
       FROM (SELECT doc_id,
           CASE WHEN len(w) >= 2
                THEN list_transform(range(1, len(w)),
                       i -> array_to_string(w[i:i+1], ' '))
                ELSE [array_to_string(w, ' ')] END AS g2,
           CASE WHEN len(w) >= 3
                THEN list_transform(range(1, len(w)-1),
                       i -> array_to_string(w[i:i+2], ' '))
                ELSE [array_to_string(w, ' ')] END AS g3
         FROM (SELECT doc_id, regexp_split_to_array(trim(text),'\s+') w
               FROM documents) a) b
       ORDER BY doc_id"""

  // ---------------------------------------------------------------- q87
  /** Token-length histogram (the batch-shape planning input for
    * [[Packing]]): documents bucketed by 16-token bins with share of
    * corpus tokens per bin. One aggregation; the histogram is
    * bin-count-sized.
    */
  private def q87(s: SparkSession, d: String): DataFrame = {
    val n = size(words(col("text"))).cast("long")
    val binned = Tables.documents(s, d)
      .select((n - pmod(n, lit(16L))).as("bin_start"), n.as("n_tokens"))
    val total = binned.agg(sum("n_tokens").cast("double").as("tot"))
    binned.groupBy("bin_start")
      .agg(count(lit(1)).as("n_docs"),
           sum("n_tokens").cast("long").as("sum_tokens"))
      .crossJoin(broadcast(total))
      .select(col("bin_start"), col("n_docs"),
        col("sum_tokens"),
        round(col("sum_tokens").cast("double") / col("tot"), 4)
          .as("token_share"))
      .orderBy("bin_start")
  }

  private val q87Sql =
    """WITH t AS (SELECT len(regexp_split_to_array(trim(text),'\s+'))
           AS n_tokens FROM documents),
       b AS (SELECT n_tokens - n_tokens % 16 AS bin_start, n_tokens FROM t),
       tot AS (SELECT sum(n_tokens)::DOUBLE AS tot FROM t)
       SELECT CAST(bin_start AS BIGINT) AS bin_start,
         count(*) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         round(sum(n_tokens) / tot.tot, 4) AS token_share
       FROM b, tot
       GROUP BY bin_start, tot.tot
       ORDER BY bin_start"""

  // ----------------------------------------------------------------

  val entries: Seq[Query] = Seq(
    Query("q73_decontam", q73, q73Sql),
    Query("q74_gopher_rules", q74, q74Sql),
    Query("q75_sequence_packing", q75, q75Sql),
    Query("q76_source_mixing", q76, q76Sql),
    Query("q77_pii_redaction", q77, q77Sql),
    Query("q78_zipf_vocab", q78, q78Sql),
    Query("q79_embedding_quant", q79, q79Sql),
    Query("q80_stratified_cap", q80, q80Sql),
    Query("q81_bigram_logprob", q81, q81Sql),
    Query("q84_incremental_dedup", q84, q84Sql),
    Query("q86_dup_ngram_frac", q86, q86Sql),
    Query("q87_token_histogram", q87, q87Sql))
}
