package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.words

/** Byte-pair-encoding tokenizer TRAINING — the first `n` merge rules
  * learned from a corpus, the core of how every modern LLM vocabulary
  * is built (Sennrich et al.): repeatedly count adjacent symbol pairs,
  * merge the most frequent pair everywhere, repeat. This is the
  * reference's own loop shape (`/root/reference/kernel.cu:135-217`):
  * a distributed reduce per round feeding a small driver-held state
  * (the merge table) that reshapes the next round.
  *
  * Scale posture (100 TB corpus): classic BPE trains on the WORD
  * FREQUENCY table, not the corpus — the corpus is aggregated once
  * into (word, freq) (distinct words ≪ corpus, Heaps' law), and every
  * merge round then runs on that vocabulary table: one pair-count
  * aggregation (|vocab| × word-length rows, map-side combined), ONE
  * collected row (the argmax pair — scalar driver state, the same
  * collect discipline as the OLS weights), and a map-only merge
  * rewrite. Lineage is checkpoint-truncated per round so the plan
  * stays flat across merges.
  *
  * Symbols travel in a flat string encoding — tokens separated by two
  * spaces, the whole sequence wrapped in single spaces — so the merge
  * rewrite is ONE codegen'd `replace` per word: the pattern
  * `' x  y '` consumes exactly one separator, and left-to-right
  * non-overlapping replacement reproduces greedy BPE merging
  * ([a,a,a,a] + (a,a) → [aa,aa]) identically in Spark and DuckDB.
  */
object Bpe {

  /** The first `nMerges` merge rules: `(step, left_sym, right_sym,
    * merged, pair_count)` with `pair_count` the word-frequency-weighted
    * adjacent-pair count that made the rule win its round (ties broken
    * by symbol order). Stops early if no adjacent pair remains.
    */
  def trainMerges(docs: DataFrame, textCol: String,
                  nMerges: Int): DataFrame = Exec.scope { sc =>
    require(nMerges >= 1, "nMerges must be >= 1")
    val spark = docs.sparkSession
    // corpus touched exactly once: the word-frequency aggregation
    val wordFreq = docs
      .select(explode(words(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
    // initial symbol sequence: characters, double-space-separated
    // (slice drops the trailing '' element Spark's split keeps)
    var vocab = sc.checkpoint(wordFreq.select(
        concat(lit(" "),
          array_join(slice(split(col("w"), ""), lit(1),
            length(col("w"))), "  "),
          lit(" ")).as("s"),
        col("freq")))
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= nMerges && !exhausted) {
      val toks = split(trim(col("s")), "  ")
      val pairArr = when(size(toks) >= 2,
        transform(sequence(lit(1), size(toks) - 1), i =>
          struct(element_at(toks, i).as("x"),
            element_at(toks, i + 1).as("y"))))
        .otherwise(array().cast("array<struct<x:string,y:string>>"))
      val best = vocab
        .select(explode(pairArr).as("p"), col("freq"))
        .groupBy(col("p.x").as("x"), col("p.y").as("y"))
        .agg(sum(col("freq")).as("c"))
        .orderBy(col("c").desc, col("x"), col("y"))
        .limit(1)
        .collect()
      if (best.isEmpty) exhausted = true
      else {
        val x = best(0).getString(0)
        val y = best(0).getString(1)
        val c = best(0).getLong(2)
        merges += ((step, x, y, x + y, c))
        val next = sc.checkpoint(vocab.select(
            call_function("replace", col("s"),
              lit(s" $x  $y "), lit(s" $x$y ")).as("s"),
            col("freq")))
        sc.release(vocab)
        vocab = next
        step += 1
      }
    }
    // the result is driver-side merge rows: the scope frees the last vocab
    toMergesDf(spark, merges.result())
  }

  /** Tokenize with a TRAINED merge table: per-document token counts
    * under the given merge rules, `(<idCol>, n_words, n_tokens)`.
    *
    * Encoding is the cheap half of BPE and this shape shows why: the
    * N merge rewrites compose into ONE map-only projection (N nested
    * codegen'd `replace` calls inside the scan), so tokenizing 100 TB
    * is a single corpus pass with no shuffle before the per-document
    * count aggregation.
    */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String,
                  merges: Seq[(String, String)]): DataFrame = {
    val init = concat(lit(" "),
      array_join(slice(split(col("w"), ""), lit(1),
        length(col("w"))), "  "),
      lit(" "))
    val encoded = merges.foldLeft(init) { case (s, (x, y)) =>
      call_function("replace", s, lit(s" $x  $y "), lit(s" $x$y "))
    }
    docs.select(col(idCol), explode(words(col(textCol))).as("w"))
      .select(col(idCol),
        size(split(trim(encoded), "  ")).cast("long").as("nt"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("nt")).as("n_tokens"))
  }

  private def toMergesDf(spark: SparkSession,
                         rows: Seq[(Int, String, String, String, Long)])
      : DataFrame = {
    import spark.implicits._
    rows.toDF("step", "left_sym", "right_sym", "merged", "pair_count")
  }
}
