package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType,
  StructField, StructType}
// cross-engine deterministic rounding shadows functions.round
import graft.functions.Rounding.{roundTo => round}

import graft.functions.Rounding
import graft.functions.TextFunctions.words

/** BM25 keyword relevance — the lexical retrieval scorer used to mine
  * topical subsets out of a web-scale corpus (and the baseline every
  * embedding retriever is compared against). Okapi BM25 per Robertson &
  * Walker: for query terms q over document d,
  *
  *   score(d) = Σ_q idf(q) · tf(q,d)·(k1+1) /
  *                         (tf(q,d) + k1·(1 − b + b·|d|/avgdl))
  *
  * with `idf(q) = ln(1 + (N − df(q) + 0.5)/(df(q) + 0.5))` (the
  * non-negative "plus one" idf variant).
  *
  * Scale posture (100 TB corpus, query of a handful of terms): term
  * matching is a codegen'd `isin` against the term literals inside the
  * scan projection — no join, no shuffle to find matches. The only
  * corpus-wide shuffles are the two hash aggregations on the document
  * id (term frequencies, then the per-document score sum). Everything
  * term-keyed — document frequencies, idf — is at most |terms| rows
  * and broadcasts; the corpus-level scalars (N, avgdl) are a one-row
  * aggregate cross-joined in (Catalyst broadcasts the single row).
  */
object Rank {

  /** BM25 scores: `(<idCol>, n_matched, score)` for every document
    * matching at least one query term. `terms` must be non-empty and
    * whitespace-free (they are matched against the shared whitespace
    * tokenization).
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           terms: Seq[String], k1: Double = 1.2,
           b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "BM25 needs at least one query term")
    require(terms.forall(t => t.nonEmpty && !t.exists(_.isWhitespace)),
      "query terms must be non-empty single tokens")
    // per-document token array once: length feeds |d|, the explode
    // feeds term matching
    val toks = docs.select(col(idCol).as("id"),
      words(col(textCol)).as("w"))
    val dl = toks.select(col("id"), size(col("w")).cast("double").as("dl"))
    // corpus scalars: one row; each attach point broadcast()s it so the
    // nested-loop join's build side is pinned deterministically (AQE
    // would usually pick it anyway, but the hint removes the
    // size-estimate gamble, like every sibling operator's 1-row attach)
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    // term frequencies restricted to query terms BEFORE the shuffle:
    // the isin filter runs in the scan projection, so the aggregation
    // input is matched tokens only, not the corpus token stream
    val tf = toks.select(col("id"), explode(col("w")).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy("id", "tok").agg(count(lit(1)).cast("double").as("tf"))
    // document frequency and idf per term — at most |terms| rows
    val idf = tf.groupBy("tok").agg(count(lit(1)).cast("double").as("df"))
      .crossJoin(broadcast(stats.select("n_docs")))
      .select(col("tok"),
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) /
          (col("df") + 0.5)).as("idf"))
    tf.join(broadcast(idf), "tok")
      .join(dl, "id")
      .crossJoin(broadcast(stats.select("avgdl")))
      .withColumn("contrib",
        col("idf") * (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") /
            col("avgdl"))))
      .groupBy("id")
      .agg(count(lit(1)).cast("long").as("n_matched"),
        round(sum(col("contrib")), 4).as("score"))
      .withColumnRenamed("id", idCol)
  }

  /** Multi-query BM25 self-retrieval, the q235/q248 contract: every
    * document selected by `isQuery` becomes a query (its first
    * [[SelfQueryTerms]] distinct words), every document sharing a term
    * with it is scored with the [[bm25]] formula (k1 = 1.2, b = 0.75),
    * and per query the frame keeps the top-[[SelfTopK]] documents plus
    * the ORIGIN document's row wherever it ranked.
    *
    * Output `(qid, <idCol>, score, rnk)`: scores 4-dp-rounded
    * ([[graft.functions.Rounding.roundTo]]) BEFORE ranking, `rnk` the
    * 1-based position in `(score desc, <idCol> asc)` over ALL scored
    * documents — the rows with `rnk ≤ 10`, plus the origin row
    * (`<idCol> = qid`) when it ranked below 10. `idCol` must be a
    * long key.
    *
    * One partition-local pass, summaries merged (the shape of the
    * per-partition top-k lists in "Parallel Top-K Similarity Join
    * Algorithms Using MapReduce", ICDE 2012):
    *  1. the query rows (terms, per-term origin tf, |origin|) collect
    *     to the driver, and the term → id map broadcasts;
    *  2. one corpus pass counts N, Σ|d| and each query term's document
    *     frequency, merged as per-partition count arrays;
    *  3. the query index — term → queries, idf per term, avgdl, each
    *     origin's own score — broadcasts, and each task scores its
    *     documents against only the queries sharing a term with them
    *     (cost linear in matched (query-term, document) pairs), keeping
    *     per query a bounded top-10 list and a count of documents that
    *     rank ahead of the origin;
    *  4. a per-query merge of those summaries assigns `rnk`; the
    *     origin's rank is 1 + the summed counts.
    * No (query, document) candidate ever shuffles or sorts.
    *
    * Size limit: the query set is held whole — on the driver, in the
    * broadcast index, and as one per-query summary slot in every task —
    * so memory and broadcast size are O(queries · 8). The operator
    * suits a FIXED query set (a production eval's); a query set that
    * grows with the corpus (q235/q248 take every 40th document) bounds
    * the corpus by driver memory.
    *
    * Exactness vs the Catalyst formulation (term-frequency join,
    * `sum` per (query, document), `row_number`): tokens come from
    * Spark's own `words(text)` and `size`, idf uses `StrictMath.log`
    * (Spark's `log`), each contribution keeps the Column expression's
    * operation order, and a pair's contributions add in the query's
    * term order — a fixed order, where the aggregate's depends on
    * shuffle arrival.
    */
  def bm25SelfRetrieval(docs: DataFrame, idCol: String, textCol: String,
                        isQuery: Column): DataFrame = {
    val spark = docs.sparkSession
    // size() over the stored array — Catalyst keeps the split single
    val toks = docs.select(col(idCol).cast("long").as("id"),
        words(col(textCol)).as("w"), isQuery.as("is_q"))
      .select(col("id"), col("w"), size(col("w")).cast("double").as("dl"),
        col("is_q"))

    // 1. queries: terms in query order, each term's tf in the origin
    val qTerms = array_distinct(slice(col("w"), 1, SelfQueryTerms))
    val qs = toks
      .filter(col("is_q") && col("id").isNotNull && col("w").isNotNull)
      .select(col("id"), qTerms.as("t"),
        transform(qTerms, t => size(filter(col("w"), x => x === t))).as("tf"),
        col("dl"))
      .collect().sortBy(_.getLong(0))
    val terms = qs.flatMap(_.getSeq[String](1)).distinct.sorted
    val termId = terms.zipWithIndex.toMap
    val nT = terms.length
    // shipped once, read by both corpus passes
    val termIdB = spark.sparkContext.broadcast(termId)

    // 2. N, Σ|d| over non-null lengths (avg's semantics) and df per term
    val (nDocs, nDl, sumDl, df) = toks.select("w", "dl").rdd
      .mapPartitions { rows =>
        val termId = termIdB.value
        val df = new Array[Long](nT)
        val seen = new Array[Boolean](nT)
        val hit = scala.collection.mutable.ArrayBuffer.empty[Int]
        var n, nDl = 0L
        var sumDl = 0.0
        rows.foreach { r =>
          n += 1
          if (!r.isNullAt(1)) { nDl += 1; sumDl += r.getDouble(1) }
          if (!r.isNullAt(0)) r.getSeq[String](0).foreach { tok =>
            termId.get(tok).foreach { t =>
              if (!seen(t)) { seen(t) = true; hit += t }
            }
          }
          hit.foreach { t => df(t) += 1; seen(t) = false }
          hit.clear()
        }
        Iterator.single((n, nDl, sumDl, df))
      }
      .reduce { (x, y) =>
        (x._1 + y._1, x._2 + y._2, x._3 + y._3,
          Array.tabulate(nT)(i => x._4(i) + y._4(i)))
      }
    val n = nDocs.toDouble
    // exact: Σ of integral lengths is exact below 2^53, in any order
    val avgdl = sumDl / nDl.toDouble
    val idf = Array.tabulate(nT) { t =>
      val d = df(t).toDouble
      StrictMath.log(1.0 + (n - d + 0.5) / (d + 0.5))
    }

    // 3. the query index; origin scores come from the same scorer the
    // tasks use, so an origin compares equal to its own scored row
    val qTermIds = qs.map(_.getSeq[String](1).map(termId).toArray)
    val postings = Array.fill(nT)(Array.newBuilder[Int])
    qTermIds.zipWithIndex.foreach { case (ts, q) =>
      ts.foreach(t => postings(t) += q) }
    val ix = Bm25Index(postings.map(_.result()), qTermIds,
      qs.map(_.getLong(0)), idf, avgdl)
    val tfBuf = new Array[Int](nT)
    val origin = qs.zipWithIndex.map { case (r, q) =>
      val ts = qTermIds(q)
      ts.indices.foreach(i => tfBuf(ts(i)) = r.getSeq[Int](2)(i))
      val s = ix.score(q, tfBuf, r.getDouble(3))
      ts.foreach(tfBuf(_) = 0)
      s
    }
    val index = spark.sparkContext.broadcast((ix, origin))

    val summaries = toks.select("id", "w").rdd.mapPartitions { rows =>
      val termId = termIdB.value
      val (ix, origin) = index.value
      val nQ = ix.qid.length
      val top = new Array[TopK](nQ)
      val tf = new Array[Int](nT)
      val isCand = new Array[Boolean](nQ)
      val hit = scala.collection.mutable.ArrayBuffer.empty[Int]
      val cand = scala.collection.mutable.ArrayBuffer.empty[Int]
      rows.foreach { r =>
        if (!r.isNullAt(0) && !r.isNullAt(1)) {
          val id = r.getLong(0)
          val w = r.getSeq[String](1)
          w.foreach { tok =>
            termId.get(tok).foreach { t =>
              if (tf(t) == 0) hit += t
              tf(t) += 1
            }
          }
          hit.foreach(t => ix.postings(t).foreach { q =>
            if (!isCand(q)) { isCand(q) = true; cand += q }
          })
          val dl = w.length.toDouble
          cand.foreach { q =>
            val s = ix.score(q, tf, dl)
            if (top(q) == null) top(q) = new TopK
            top(q).offer(id, s)
            if (TopK.before(s, id, origin(q), ix.qid(q))) top(q).ahead += 1
            isCand(q) = false
          }
          hit.foreach(tf(_) = 0)
          hit.clear()
          cand.clear()
        }
      }
      top.iterator.zipWithIndex.collect { case (t, q) if t != null => (q, t) }
    }

    // 4. merge the per-partition summaries per query and assign rnk
    val rows = summaries
      .reduceByKey((a, c) => a.merge(c),
        math.max(1, math.min(spark.sparkContext.defaultParallelism, qs.length)))
      .flatMap { case (q, t) =>
        val (ix, origin) = index.value
        val qid = ix.qid(q)
        val rank = t.ahead + 1
        // the origin is always scored (it holds its own terms), so a
        // head-ranked origin must sit in the merged list at its rank
        assert(rank > t.n || t.ids(rank.toInt - 1) == qid,
          s"bm25 origin of query $qid lost its rank $rank")
        val head = (0 until t.n).map(i =>
          Row(qid, t.ids(i), t.scores(i), i + 1))
        if (rank <= SelfTopK) head
        else head :+ Row(qid, qid, origin(q), Math.toIntExact(rank))
      }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("qid", LongType), StructField(idCol, LongType),
      StructField("score", DoubleType),
      StructField("rnk", IntegerType, nullable = false))))
  }

  /** [[bm25SelfRetrieval]]'s fixed contract: terms per query, list
    * length per query, and the [[bm25]] defaults k1 and b. */
  private final val SelfQueryTerms = 8
  private final val SelfTopK = 10
  private final val SelfK1 = 1.2
  private final val SelfB = 0.75

  /** The broadcast query index of [[bm25SelfRetrieval]]: `postings`
    * maps a term id to the queries holding it, `qTerms` a query to its
    * term ids in query order. */
  private final case class Bm25Index(postings: Array[Array[Int]],
      qTerms: Array[Array[Int]], qid: Array[Long], idf: Array[Double],
      avgdl: Double) {

    /** BM25 of query `q` against a document of length `dl` whose query
      * term counts are `tf` (by term id): the [[bm25]] contribution
      * expression, summed in query-term order, rounded to 4 dp. */
    def score(q: Int, tf: Array[Int], dl: Double): Double = {
      var sum = 0.0
      qTerms(q).foreach { t =>
        if (tf(t) > 0) {
          val f = tf(t).toDouble
          sum += idf(t) * (f * (SelfK1 + 1.0)) /
            (f + SelfK1 * ((1.0 - SelfB) + SelfB * dl / avgdl))
        }
      }
      Rounding.roundTo(sum, 4)
    }
  }

  /** Bounded best-first list of `(id, score)` in `(score desc, id asc)`
    * order, plus `ahead`: how many offered documents rank ahead of the
    * query's origin. Mergeable: lists re-offer, counts add. */
  private final class TopK extends Serializable {
    val ids = new Array[Long](SelfTopK)
    val scores = new Array[Double](SelfTopK)
    var n = 0
    var ahead = 0L

    def offer(id: Long, s: Double): Unit =
      if (n < SelfTopK ||
          TopK.before(s, id, scores(SelfTopK - 1), ids(SelfTopK - 1))) {
        var i = math.min(n, SelfTopK - 1)
        if (n < SelfTopK) n += 1
        while (i > 0 && TopK.before(s, id, scores(i - 1), ids(i - 1))) {
          ids(i) = ids(i - 1)
          scores(i) = scores(i - 1)
          i -= 1
        }
        ids(i) = id
        scores(i) = s
      }

    def merge(o: TopK): TopK = {
      (0 until o.n).foreach(i => offer(o.ids(i), o.scores(i)))
      ahead += o.ahead
      this
    }
  }

  private object TopK {
    def before(s: Double, id: Long, s2: Double, id2: Long): Boolean =
      s > s2 || (s == s2 && id < id2)
  }

  /** Reciprocal-rank fusion (Cormack et al.): merge ranked lists from
    * heterogeneous retrievers — lexical BM25, embedding ANN, anything
    * that emits (id, rank) — into one ranking by
    * `score(d) = Σ_lists 1/(k0 + rank_list(d))`, the standard hybrid-
    * retrieval combiner (scores from different retrievers are not
    * comparable; ranks are). Output: `(<idCol>, rrf_score, n_lists,
    * best_rank)`, `rrf_score` rounded to 6.
    *
    * Each input must carry one row per id with a 1-based `rankCol`.
    * Determinism note: with two lists the fused sum is a single
    * floating add (commutative bitwise); for 3+ lists the reciprocals
    * are summed in rank order (`sort_array` on the collected list) so
    * the result never depends on shuffle arrival order.
    *
    * Scale posture: candidate lists are top-k per retriever — k·lists
    * rows total, NOT corpus-sized — so the fusion is a union + one
    * hash aggregation on the id; at 100 TB all the weight stays in the
    * upstream retrievers.
    */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, rankCol: String,
              k0: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranked list")
    require(k0 >= 1, "k0 must be positive (RRF denominator offset)")
    val tagged = rankings.map(_.select(col(idCol).as("id"),
      col(rankCol).cast("long").as("rank")))
    val all = tagged.reduce(_ unionByName _)
    all.groupBy("id")
      .agg(
        // fixed-order fold over the collected ranks: reciprocals are
        // added smallest-rank-first regardless of partition arrival
        round(aggregate(sort_array(collect_list(col("rank"))),
          lit(0.0), (acc, r) => acc + lit(1.0) / (lit(k0.toDouble) + r)),
          6).as("rrf_score"),
        count(lit(1)).as("n_lists"),
        min(col("rank")).as("best_rank"))
      .withColumnRenamed("id", idCol)
  }
}
