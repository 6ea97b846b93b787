package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toSeq.toDF("doc_id", "text")

  test("wordShingles produces distinct word 3-grams; short docs degrade") {
    val df = docs((1L, "a b c d"), (2L, "x y"))
      .select(col("doc_id"),
        TextFunctions.wordShingles(TextFunctions.words(col("text")), 3)
          .as("sh"))
    val m = df.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(m(1L).toSet == Set("a b c", "b c d"))
    assert(m(2L) == Seq("x y"))
  }

  test("exact dedup groups identical normalized content") {
    val df = docs(
      (1L, "Hello  World"), (2L, "hello world"), (3L, "different text"))
    val out = Dedup.exact(df, "doc_id", "text").collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out(1L) == 2L) // docs 1,2 collapse; keeper = min id
    assert(out(3L) == 1L)
  }

  test("minhashPairs finds a near-dup pair and skips dissimilar docs") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 39).map(i => s"w$i").mkString(" ") + " CHANGED"
    val other = (100 to 140).map(i => s"v$i").mkString(" ")
    val out = Dedup.minhashPairs(
        docs((1L, base), (2L, nearDup), (3L, other)),
        "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSet == Set((1L, 2L)))
  }

  test("jaccardPairsExact computes the exact pair similarity") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 39).map(i => s"w$i").mkString(" ") + " CHANGED"
    val out = Dedup.jaccardPairsExact(
        docs((1L, base), (2L, nearDup)), "doc_id", "text", threshold = 0.5)
      .collect()
    assert(out.length == 1)
    val j = out.head.getDouble(2)
    // 38 shared shingles of 38+2 vs 38+2 → j = 36/42? compute directly:
    // doc1: 38 shingles, doc2: 38 shingles, shared: 36 → 36/40 = 0.9
    assert(j > 0.85 && j <= 1.0)
  }

  test("minhash agrees with exact jaccard on the sf0.001 corpus") {
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    val lsh = Dedup.minhashPairs(d, "doc_id", "text", threshold = 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.jaccardPairsExact(d, "doc_id", "text", threshold = 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // at j≥0.8 with 6 bands × 2 rows the LSH miss probability is ~1e-3
    assert(lsh == exact)
  }

  test("simhashPairs: identical docs at distance 0, unrelated docs absent") {
    val a = "alpha beta gamma delta epsilon zeta eta theta"
    val out = Dedup.simhashPairs(
        docs((1L, a), (2L, a), (3L, "totally different words here now")),
        "doc_id", "text", maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(out.keySet == Set((1L, 2L)))
    assert(out((1L, 2L)) == 0)
  }

  test("embeddingPairs finds high-cosine pairs only") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.99f, 0.1f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Dedup.embeddingPairs(df, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSet == Set((1L, 2L)))
  }

  test("embeddingPairsBucketed: subset of brute force with high recall") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_a", "vec_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Dedup.embeddingPairs(emb, "vec_id", "embedding", 0.45))
    val lsh = pairs(
      Dedup.embeddingPairsBucketed(emb, "vec_id", "embedding", 0.45))
    // candidates are cosine-verified, so NO false positives ever
    assert(lsh.subsetOf(exact))
    // banded (P=4, L=12) expected recall ≥ 0.9 at cosine ≥ 0.45;
    // assert a conservative floor on the real corpus
    assert(exact.isEmpty ||
      lsh.size.toDouble / exact.size >= 0.7,
      s"recall=${lsh.size.toDouble / exact.size} (${lsh.size}/${exact.size})")
  }

  test("frequency cap only lowers recall: capped pairs are a subset with identical values") {
    // docs 1,2: near-dups through RARE shingles; docs 3..8 share one
    // COMMON phrase (df=8 incl. docs 9,10) but are otherwise unrelated;
    // docs 9,10: identical docs whose ONLY shingle is the common phrase
    val common = "c1 c2 c3"
    val rows =
      Seq(1L -> ((1 to 30).map(i => s"w$i").mkString(" ")),
          2L -> ((1 to 29).map(i => s"w$i").mkString(" ") + " CHANGED")) ++
      (3L to 8L).map(i => i ->
        (s"$common " + (1 to 20).map(j => s"u${i}_$j").mkString(" "))) ++
      Seq(9L -> common, 10L -> common)
    val df = docs(rows: _*)
    def pairs(maxDf: Int) =
      Dedup.jaccardPairsExact(df, "doc_id", "text", threshold = 0.5,
          maxShingleDf = maxDf)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
        .toMap
    val uncapped = pairs(Int.MaxValue)
    val capped = pairs(4)
    // the identical short docs pair only through the common shingle
    assert(uncapped.contains((9L, 10L)) && uncapped((9L, 10L)) == 1.0)
    assert(!capped.contains((9L, 10L))) // cap binds: pair missed
    assert(capped.contains((1L, 2L)))   // rare-shingle pair survives
    // subset + identical similarity on every surviving pair
    assert(capped.keySet.subsetOf(uncapped.keySet))
    capped.foreach { case (k, v) => assert(uncapped(k) == v) }
  }

  test("native shingle rows match the lambda shingle sets on edge cases") {
    val df = docs(
      (1L, "a b c d"),      // normal
      (2L, "x y"),          // shorter than n -> whole-text shingle
      (3L, ""),             // empty text
      (4L, "t t t t"),      // duplicate grams (multiset vs set)
      (5L, "  lead  and   trail  "), // messy whitespace
      (6L, "p q r"))        // exactly n words
    val native = Dedup.shingleRowsRaw(df, "doc_id", "text", 3)
      .distinct().collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val lambda = df.select(col("doc_id"),
        explode(TextFunctions.wordShingles(
          TextFunctions.words(col("text")), 3)).as("s"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(native == lambda)
  }

  test("connectedComponents collapses transitive chains to min-id clusters") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
    val out = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 1-2-3 chain: 1 and 3 were never paired directly, yet collapse
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
    // survivors = ids equal to their cluster
    assert(out.count { case (id, c) => id == c } == 2)
  }

  test("sourceOverlap counts shared normalized hashes with containment") {
    val docs = Seq(
      (1L, "Shared  Text", "a"), (2L, "shared text", "b"), // same normalized
      (3L, "only a", "a"), (4L, "only b one", "b"), (5L, "only b two", "b"),
      (6L, "shared text", "a") // dup within a — distinct hash set unchanged
    ).toDF("doc_id", "text", "source")
    val rows = Dedup.sourceOverlap(docs, "text", "source").collect()
    assert(rows.length == 1)
    val r = rows(0)
    // a: {shared, only-a} = 2 hashes; b: {shared, b1, b2} = 3; shared 1
    assert((r.getString(0), r.getString(1)) == (("a", "b")))
    assert(r.getLong(2) == 1L && r.getLong(3) == 2L && r.getLong(4) == 3L)
    assert(r.getDouble(5) == 0.5) // 1 / min(2,3)
  }

  test("connectedComponents raises when the diameter exceeds maxIters") {
    val chain = (1L until 8L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIters = 1)
    }
    // and converges fine with a sane bound
    val ok = Dedup.connectedComponents(chain)
      .collect().map(r => r.getLong(1)).distinct
    assert(ok.toSeq == Seq(1L))
  }

  test("operators release internal caches; the result is the single owned handle") {
    val sc = spark.sparkContext
    val df = docs(
      (1L, (1 to 30).map(i => s"w$i").mkString(" ")),
      (2L, (1 to 29).map(i => s"w$i").mkString(" ") + " CHANGED"),
      (3L, (100 to 130).map(i => s"v$i").mkString(" ")))
    val before = sc.getPersistentRDDs.keySet
    val out = Dedup.minhashPairs(df, "doc_id", "text", threshold = 0.5)
    val afterCall = sc.getPersistentRDDs.keySet -- before
    // internal handles (banded signatures, candidates, candidate
    // shingles) are released inside the call; only the materialized
    // result's own checkpoint storage survives
    assert(afterCall.size <= 1, s"leaked caches: $afterCall")
    // owned results are checkpoint-backed: Dataset.unpersist cannot
    // free them — Exec.releaseScratch is the owner-release path
    graft.operators.Exec.releaseScratch(out)
    val afterRelease = sc.getPersistentRDDs.keySet -- before
    assert(afterRelease.isEmpty, s"leaked caches: $afterRelease")
    // same invariant for the other internally-persisting operators
    val corpus = docs((50L, (1 to 30).map(i => s"x$i").mkString(" ")))
    Seq(
      () => Dedup.jaccardPairsExact(df, "doc_id", "text", 0.5,
        maxShingleDf = 16),
      () => Dedup.incrementalNearDups(df, corpus, "doc_id", "text", 0.5))
      .foreach { op =>
        val pre = sc.getPersistentRDDs.keySet
        val res = op()
        val during = sc.getPersistentRDDs.keySet -- pre
        assert(during.size <= 1, s"leaked caches: $during")
        graft.operators.Exec.releaseScratch(res)
        assert((sc.getPersistentRDDs.keySet -- pre).isEmpty)
      }
  }
}
