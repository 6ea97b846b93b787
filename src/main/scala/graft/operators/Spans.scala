package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.{token60, words}

/** Corpus-level exact span deduplication — the "remove text that occurs
  * verbatim elsewhere in the corpus" pass (C4's duplicated-line removal
  * and the exact-substring dedup of Lee et al., *Deduplicating Training
  * Data Makes Language Models Better*, re-expressed over stride-aligned
  * word blocks): every document is chunked into consecutive
  * `block`-word spans, any span whose exact text occurs more than
  * `maxOcc` times corpus-wide (boilerplate headers, license blocks,
  * templated fragments, within-document repetition) is dropped from
  * every document, and the surviving spans reassemble in their original
  * order.
  *
  * Scale posture (100 TB): two corpus passes, one shuffle each —
  *  1. span frequency: hash-partitioned groupBy on the 60-bit span
  *     hash (map-side partial counts collapse the heavy hitters — the
  *     exact rows a boilerplate span floods the corpus with);
  *  2. re-assembly: groupBy on the document id.
  * The drop DECISION travels as a broadcast: in a mostly-clean corpus
  * the set of spans with occurrences > maxOcc is tiny compared to the
  * span universe, so the filter join is map-side (explicit
  * `broadcast()` hint) and the full span-frequency table is never
  * joined against the corpus. Span text itself never enters a shuffle
  * wider than pass 2's per-document reassembly.
  */
object Spans {

  /** Per-document span-dedup report: `(<idCol>, n_blocks, n_kept,
    * clean_fp)` where `clean_fp` is the md5 fingerprint of the document
    * text after dropping over-frequent spans (md5 of '' for a document
    * that was entirely boilerplate). Block layout is stride-aligned
    * from word 0; the final block may be shorter than `block` words.
    * An empty/whitespace-only document yields ONE empty block (the
    * word-split of '' is ['']), deduped like any other span; documents
    * with null text have no spans and are absent from the report.
    */
  def dropRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                        block: Int = 10, maxOcc: Int = 1): DataFrame = {
    require(block >= 1, "block must be >= 1")
    require(maxOcc >= 1, "maxOcc must be >= 1")
    val ws = words(col(textCol))
    // span texts are produced inside the scan projection; ws is never
    // empty for non-null text (split('') is ['']), so the guard only
    // needs to keep null text out of sequence()'s bounds
    val spanArr = when(col(textCol).isNull, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0),
          floor((size(ws) + lit(block - 1)) / lit(block)).cast("int") - 1),
        i => array_join(slice(ws, i * block + 1, lit(block)), " ")))
    val spans = docs
      .select(col(idCol).as("id"), posexplode(spanArr).as(Seq("blk", "btxt")))
      .withColumn("bh", token60(col("btxt")))
    // pass 1: span occurrence counts; only the over-frequent survivors
    // are kept — that set is what broadcasts
    val dropSet = broadcast(
      spans.groupBy("bh").agg(count(lit(1)).as("occ"))
        .filter(col("occ") > maxOcc)
        .select("bh"))
    // pass 2: mark + reassemble in block order (per-document sort only)
    val marked = spans.join(dropSet.withColumn("dup", lit(true)),
        Seq("bh"), "left")
      .withColumn("keep", col("dup").isNull)
    marked.groupBy("id")
      .agg(
        count(lit(1)).as("n_blocks"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        md5(array_join(
          transform(
            array_sort(collect_list(
              when(col("keep"), struct(col("blk"), col("btxt"))))),
            s => s.getField("btxt")),
          " ")).as("clean_fp"))
      .withColumnRenamed("id", idCol)
  }

  /** SLIDING-window repeated-passage detection — the alignment-free
    * upgrade of [[dropRepeatedSpans]] (closer to Lee et al.'s
    * suffix-array ExactSubstr): every `k`-word window at EVERY word
    * offset is hashed, windows whose hash recurs corpus-wide more than
    * `maxOcc` times are flagged, and per document the flagged
    * positions merge into maximal repeated passages (consecutive
    * window positions overlap by k-1 words ⇒ one passage of
    * `last - first + k` words). Stride-aligned blocks miss a copy
    * shifted by one word; sliding windows cannot.
    *
    * Returns per-document passage reports
    * `(<idCol>, n_passages, rep_words, longest)` for documents
    * containing at least one repeated passage.
    *
    * Scale posture (100 TB): window TEXT never leaves the scan
    * projection — only signed 64-bit xxhash64 window hashes shuffle
    * (k× word-count hash rows, each 8 bytes + id/pos). Two shuffles: hash-partitioned
    * occurrence count (map-side combine collapses boilerplate
    * floods), then per-document position merge. The flagged-hash set
    * broadcasts (repeated windows are rare in a mostly-clean corpus —
    * same contract as [[dropRepeatedSpans]]'s drop-set).
    */
  def repeatedPassages(docs: DataFrame, idCol: String, textCol: String,
                       k: Int = 8, maxOcc: Int = 1): DataFrame = Exec.scope { sc =>
    require(k >= 2, "window must span at least 2 words")
    require(maxOcc >= 1, "maxOcc must be >= 1")
    val ws = words(col(textCol))
    // Per-window hash WITHOUT per-window string building (r16, guide
    // §1.2 step 2): hash each word once (xxhash64), then hash the
    // k-element slice of word hashes natively per offset — the old
    // form allocated a k-word joined string and ran md5 per position
    // (k× the corpus text through md5). Internal-only hash: the
    // oracle groups the raw window TEXT, so any 64-bit collision
    // (≈W²/2⁶⁵ for W windows, the same class as the 60-bit md5 this
    // replaces) would surface as an oracle mismatch, not silence.
    val whArr = transform(ws, w => xxhash64(w))
    val winArr = when(col(textCol).isNull || size(ws) < k,
        array().cast("array<long>"))
      .otherwise(transform(
        sequence(lit(1), size(ws) - lit(k - 1)),
        i => xxhash64(slice(whArr, i, lit(k)))))
    // the window-hash projection feeds BOTH the
    // occurrence count and the flag join — hash once, not twice
    val wins = sc.cache(docs
      .select(col(idCol).as("id"), posexplode(winArr).as(Seq("p0", "wh")))
      .select(col("id"), (col("p0") + 1).as("pos"), col("wh")))
    val repSet = broadcast(
      wins.groupBy("wh").agg(count(lit(1)).as("occ"))
        .filter(col("occ") > maxOcc)
        .select("wh"))
    val flagged = wins.join(repSet, Seq("wh"))
    // consecutive flagged positions = one passage: group by the
    // (pos - rank) run id, a single per-document window pass
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("pos")
    val runs = flagged
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy("id", "grp")
      .agg(min("pos").as("s"), (max("pos") + lit(k - 1)).as("e"))
    val out = runs.groupBy("id")
      .agg(count(lit(1)).as("n_passages"),
        sum(col("e") - col("s") + 1).as("rep_words"),
        max(col("e") - col("s") + 1).cast("long").as("longest"))
      .withColumnRenamed("id", idCol)
    sc.keep(out)
  }
}
