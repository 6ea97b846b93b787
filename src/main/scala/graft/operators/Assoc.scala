package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
// cross-engine deterministic rounding shadows functions.round
import graft.functions.Rounding.{roundTo => round}

/** Association mining over basket data — pointwise mutual information,
  * the statistic under word2vec-style embeddings and every
  * "customers who bought X" feature: for items a, b co-occurring in
  * baskets, `pmi = ln(p(a,b) / (p(a)·p(b)))` with probabilities over
  * baskets. Counts alone rank ubiquitous pairs first; PMI surfaces
  * pairs that co-occur MORE than their popularity predicts.
  *
  * Scale posture: baskets collapse to distinct (basket, item) in one
  * aggregation; pair counts come from the basket-keyed self-join
  * (fan-out = basket size, the same bounded shape as the q118 edge
  * build); item marginals are item-cardinality and join small; the
  * basket total is a one-row broadcast. The min-support filter runs
  * BEFORE the marginal joins, so the rare-pair tail never joins.
  */
object Assoc {

  /** Top-`topN` item pairs by PMI among pairs co-occurring in at least
    * `minSupport` baskets: `(item_a, item_b, n_pairs, n_a, n_b, pmi)`,
    * `item_a < item_b`, ordered by (pmi desc, item_a, item_b).
    */
  def pmiPairs(baskets: DataFrame, basketCol: String, itemCol: String,
               minSupport: Long, topN: Int): DataFrame = Exec.scope { sc =>
    require(minSupport >= 1, "minSupport must be >= 1")
    require(topN >= 1, "topN must be >= 1")
    // referenced four times (total, marginals, both self-join sides) —
    // persist so the distinct shuffle runs once, not per reference
    val bi = sc.cache(baskets
      .select(col(basketCol).as("bk"), col(itemCol).as("it"))
      .distinct())
    val total = bi.agg(countDistinct(col("bk")).cast("double").as("n_bk"))
    val itemCnt = bi.groupBy(col("it")).agg(count(lit(1)).as("cnt"))
    val pairs = bi.as("x").join(bi.as("y"),
        col("x.bk") === col("y.bk") && col("x.it") < col("y.it"))
      .groupBy(col("x.it").as("item_a"), col("y.it").as("item_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .filter(col("n_pairs") >= minSupport)
    val result = pairs
      .join(itemCnt.select(col("it").as("item_a"), col("cnt").as("n_a")),
        "item_a")
      .join(itemCnt.select(col("it").as("item_b"), col("cnt").as("n_b")),
        "item_b")
      .crossJoin(broadcast(total))
      .select(col("item_a"), col("item_b"), col("n_pairs"),
        col("n_a"), col("n_b"),
        round(log(col("n_pairs").cast("double") * col("n_bk") /
          (col("n_a").cast("double") * col("n_b").cast("double"))), 4)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("item_a"), col("item_b"))
      .limit(topN)
    sc.keep(result)
  }

  /** Skip-gram PMI over token windows — the statistic word2vec
    * factorizes: for tokens a, b within `window` positions of each
    * other, `pmi = ln( (n_ab/N_pairs) / ((n_a/N_tok)·(n_b/N_tok)) )`
    * with `n_ab` the unordered co-occurrence count, `n_a` the corpus
    * occurrence count, `N_pairs`/`N_tok` the respective totals. Top
    * `topN` pairs with `n_ab ≥ minCount`, canonical `tok_a < tok_b`.
    *
    * Scale posture: co-occurrence is `window` EQUI-joins on
    * `(doc, pos + k)` — never a position-range inequality join — so
    * per-token fan-out is exactly `window` and each join is a
    * key-partitioned shuffle; in practice the `window` joins collapse
    * into one shuffle pair because every join shares the (doc, pos)
    * key space. Marginals are vocabulary-cardinality; totals are
    * one-row broadcasts. The min-count filter runs before the marginal
    * joins.
    */
  def skipgramPmi(docs: DataFrame, idCol: String, textCol: String,
                  window: Int, minCount: Long,
                  topN: Int): DataFrame = Exec.scope { sc =>
    require(window >= 1, "window must be >= 1")
    require(minCount >= 1 && topN >= 1, "minCount/topN must be >= 1")
    import graft.functions.TextFunctions.words
    // toks is referenced four times but deliberately NOT persisted: it
    // is a corpus×positions row stream whose recompute is a map-only
    // projection off the columnar scan — at 100 TB, re-projecting is
    // cheaper than writing/reading a corpus-sized cache. (Contrast
    // pmiPairs' `bi`, whose DISTINCT shuffle does warrant one.)
    val toks = docs.select(col(idCol).as("d"),
        posexplode(words(col(textCol))).as(Seq("pos", "w")))
    val nTok = toks.agg(count(lit(1)).cast("double").as("n_tok"))
    val tokCnt = toks.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val offsets = (1 to window).map(lit(_))
    val pairsRaw = toks.as("a")
      .select(col("d"), col("pos"), col("w"),
        explode(array(offsets: _*)).as("k"))
      .join(toks.as("b").select(col("d").as("d2"), col("pos").as("pos2"),
          col("w").as("w2")),
        col("d") === col("d2") && col("pos2") === col("pos") + col("k"))
      .select(least(col("w"), col("w2")).as("tok_a"),
        greatest(col("w"), col("w2")).as("tok_b"))
    val pairCnt = sc.cache(pairsRaw.groupBy("tok_a", "tok_b")
      .agg(count(lit(1)).as("n_ab")))
    val nPairs = pairCnt.agg(sum(col("n_ab")).cast("double").as("n_pairs"))
    val result = pairCnt
      .filter(col("n_ab") >= minCount)
      .join(tokCnt.select(col("w").as("tok_a"), col("cnt").as("n_a")),
        "tok_a")
      .join(tokCnt.select(col("w").as("tok_b"), col("cnt").as("n_b")),
        "tok_b")
      .crossJoin(broadcast(nPairs))
      .crossJoin(broadcast(nTok))
      .select(col("tok_a"), col("tok_b"), col("n_ab"), col("n_a"),
        col("n_b"),
        round(log((col("n_ab").cast("double") / col("n_pairs")) /
          ((col("n_a").cast("double") / col("n_tok")) *
           (col("n_b").cast("double") / col("n_tok")))), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("tok_a"), col("tok_b"))
      .limit(topN)
    sc.keep(result)
  }
}
