package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fuzzy (approximate-string) self-join — finding pairs within edit
  * distance 1 WITHOUT an all-pairs levenshtein pass, via the symmetric
  * deletion neighborhood (the SymSpell candidate scheme): two strings
  * with edit distance ≤ 1 (one substitution, insertion, or deletion)
  * necessarily share an entry of `{s} ∪ {s minus one character}`, so
  * candidates come from an equi-join on those variants and only the
  * survivors pay the exact distance check.
  *
  * Scale posture (100 TB of short strings — titles, names, queries):
  * per-string fan-out is `len + 1` variant rows produced inside the
  * scan projection (codegen'd lambda, no shuffle to generate), the
  * candidate step is a variant-keyed shuffle join AQE can rebalance,
  * and the levenshtein verification runs only on candidate pairs —
  * never corpus². The scheme is exact for distance ≤ 1: no recall
  * loss, unlike an LSH approach.
  */
object Fuzzy {

  /** Distinct pairs with `levenshtein ≤ 1` (excluding exact equals of
    * the same row; equal STRINGS on different rows pair at distance
    * 0): `(id_a, id_b, str_a, str_b, dist)`, `id_a < id_b`. Intended
    * for short-string columns — fan-out is one variant row per
    * character.
    */
  def editDistance1Pairs(df: DataFrame, idCol: String,
                         strCol: String): DataFrame = {
    val s = col(strCol)
    // {s} ∪ one-character deletions, built inside the scan projection
    val variants = concat(
      array(s),
      transform(sequence(lit(1), length(s)), i =>
        concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s)))))
    val v = df.select(col(idCol).as("id"), s.as("str"),
      explode(variants).as("v"))
    v.as("a").join(v.as("b"),
        col("a.v") === col("b.v") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.str").as("str_a"), col("b.str").as("str_b"))
      .distinct()
      .withColumn("dist", levenshtein(col("str_a"), col("str_b")))
      .filter(col("dist") <= 1)
  }

  /** Blocked sorted-neighborhood record linkage: candidate pairs are
    * rows within `window` positions of each other when each BLOCK
    * (strings sharing a `blockLen`-character prefix) is sorted by
    * (string, id); survivors pay an exact `levenshtein ≤ maxDist`
    * check. Output `(id_a, id_b, str_a, str_b, dist)`, `id_a < id_b`
    * by id order within the pair.
    *
    * Classic SNM sorts the WHOLE corpus on one key — a single total
    * order, which on a cluster means one giant range-sorted window.
    * The blocked variant keeps the method's shape (sort key locality ⇒
    * near-duplicates end up adjacent) but partitions the sort by the
    * block prefix: each block sorts independently (a keyed window, no
    * global coordination), candidate fan-out per row is ≤ `window`,
    * and recall loss vs full SNM is exactly the pairs whose first
    * `blockLen` characters already differ — pairs an edit-distance
    * cap of `maxDist < blockLen` mostly rules out anyway for typos
    * beyond the prefix. Complements [[editDistance1Pairs]]: SymSpell
    * is exact for distance ≤ 1; SNM reaches larger distances at
    * bounded cost.
    */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String,
                              strCol: String, blockLen: Int = 4,
                              window: Int = 3,
                              maxDist: Int = 2): DataFrame = {
    require(maxDist >= 0, "maxDist must be non-negative")
    snmCandidates(df, idCol, strCol, blockLen, window)
      .withColumn("dist", levenshtein(col("str_a"), col("str_b")))
      .filter(col("dist") <= maxDist)
      .distinct()
  }

  /** The shared blocked-SNM candidate kernel: rank-adjacent rows (≤
    * `window` apart) within each `blockLen`-prefix block's (string,
    * id) sort. `(id_a, id_b, str_a, str_b)`, `id_a < id_b`. */
  private def snmCandidates(df: DataFrame, idCol: String, strCol: String,
                            blockLen: Int, window: Int): DataFrame = {
    require(blockLen >= 1 && window >= 1,
      "blockLen/window must be positive")
    import org.apache.spark.sql.expressions.{Window => W}
    val ranked = df.select(col(idCol).as("id"), col(strCol).as("str"),
        col(strCol).substr(1, blockLen).as("blk"))
      .withColumn("rn", row_number().over(
        W.partitionBy("blk").orderBy(col("str").asc, col("id").asc)))
    ranked.as("a").join(ranked.as("b"),
        col("a.blk") === col("b.blk") &&
          col("b.rn") > col("a.rn") &&
          col("b.rn") <= col("a.rn") + window)
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"),
        when(col("a.id") < col("b.id"), col("a.str"))
          .otherwise(col("b.str")).as("str_a"),
        when(col("a.id") < col("b.id"), col("b.str"))
          .otherwise(col("a.str")).as("str_b"))
  }

  /** Blocked-SNM linkage scored by JARO-WINKLER similarity instead of
    * an edit-distance cap: the graded metric record linkage actually
    * ranks by — it rewards shared prefixes (the Winkler boost) and
    * normalizes by length, so "Catherine/Cathrine" (JW .988) and a
    * 2-edit typo in a 40-char name score comparably where a raw
    * levenshtein cap treats them as equally borderline. Candidates
    * are the same bounded-fan-out [[snmCandidates]] kernel; the
    * native codegen'd [[graft.functions.expressions.JaroWinkler]]
    * scores survivors only. Similarity is rounded to 4 decimals
    * BEFORE the threshold so the cut is cross-engine exact.
    * Output `(id_a, id_b, str_a, str_b, jw)`, `id_a < id_b`.
    */
  /** Blocking-quality statistics for the SNM candidate generator —
    * the numbers an entity-resolution pipeline reads before trusting
    * a blocking scheme: how many candidate pairs the blocks emit
    * (`n_candidates`, the cost) and how many survive the distance cap
    * (`n_matched`, the yield). One row `(n_rows, n_candidates,
    * n_matched)`; the caller grades completeness against an exact
    * ground-truth pair count and reduction ratio against n·(n−1)/2.
    */
  def snmBlockingStats(df: DataFrame, idCol: String, strCol: String,
                       blockLen: Int = 4, window: Int = 3,
                       maxDist: Int = 2): DataFrame = Exec.scope { sc =>
    import org.apache.spark.sql.functions.{count => cnt}
    val cand = sc.cache(snmCandidates(df, idCol, strCol, blockLen, window)
      .distinct())
    val nc = cand.agg(cnt(lit(1)).as("n_candidates"))
    val nm = cand.filter(levenshtein(col("str_a"), col("str_b"))
        <= maxDist)
      .agg(cnt(lit(1)).as("n_matched"))
    val nr = df.agg(cnt(lit(1)).as("n_rows"))
    val out = nr.crossJoin(broadcast(nc)).crossJoin(broadcast(nm))
    sc.keep(out)
  }

  def jaroWinklerPairs(df: DataFrame, idCol: String, strCol: String,
                       blockLen: Int = 4, window: Int = 3,
                       minSim: Double = 0.9): DataFrame = {
    require(minSim >= 0.0 && minSim <= 1.0, "minSim must be in [0,1]")
    import graft.functions.Rounding.{roundTo => round}
    import graft.functions.TextFunctions.jaroWinkler
    snmCandidates(df, idCol, strCol, blockLen, window)
      .withColumn("jw", round(jaroWinkler(col("str_a"), col("str_b")), 4))
      .filter(col("jw") >= minSim)
      .distinct()
  }
}
