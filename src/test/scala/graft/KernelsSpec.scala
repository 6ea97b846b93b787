package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The shared-kernel memo ([[graft.Kernels]]) and the central oracle
  * signed-zero normalizer ([[graft.OracleSql]]). */
class KernelsSpec extends SparkSpec {

  // ---------------------------------------------------------- OracleSql

  test("normalizeSignedZero wraps a simple round call") {
    assert(OracleSql.normalizeSignedZero("SELECT round(x, 4) AS z FROM t")
      === "SELECT (round(x, 4) + 0.0) AS z FROM t")
  }

  test("normalizeSignedZero wraps nested rounds at every depth") {
    assert(OracleSql.normalizeSignedZero("round(round(a, 6) / b, 4)")
      === "(round((round(a, 6) + 0.0) / b, 4) + 0.0)")
  }

  test("normalizeSignedZero keeps :: casts binding to the rounded value") {
    assert(OracleSql.normalizeSignedZero("round(x, 2)::BIGINT")
      === "(round(x, 2) + 0.0)::BIGINT")
  }

  test("normalizeSignedZero skips string literals (regex parens, quotes)") {
    val sql = """regexp_replace(s, 'round((', 'x''(y', 'g')"""
    assert(OracleSql.normalizeSignedZero(sql) === sql)
  }

  test("normalizeSignedZero respects word boundaries") {
    assert(OracleSql.normalizeSignedZero("p_round(x) + xround(y)")
      === "p_round(x) + xround(y)")
  }

  test("normalizeSignedZero handles balanced complex oracle text") {
    val sql =
      """WITH a AS (SELECT round(sum(v) OVER (ORDER BY t), 4) AS r
        |FROM (SELECT regexp_extract(s, '([0-9]+)') AS v, t FROM x))
        |SELECT round(r / greatest(n, 1), 6) + 0.0 AS z FROM a""".stripMargin
    val out = OracleSql.normalizeSignedZero(sql)
    assert(out.contains("(round(sum(v) OVER (ORDER BY t), 4) + 0.0) AS r"))
    assert(out.contains("(round(r / greatest(n, 1), 6) + 0.0) + 0.0 AS z"))
  }

  test("every registry oracle normalizes without error and stays balanced") {
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      // normalizeSignedZero already ran (SparkEntry applies it); a
      // second application must still parse (idempotent structure)
      val again = OracleSql.normalizeSignedZero(sql)
      assert(again.length >= sql.length, s"$name shrank")
    }
  }

  // ------------------------------------------------------------ Kernels

  private def fixtureDir(): String = {
    val dir = java.nio.file.Files.createTempDirectory("kernels").toString
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today", "en", "a"),
      (2L, "the quick brown fox jumps over the lazy dog today", "en", "a"),
      (3L, "completely different text with unrelated words here now", "en", "b"),
      (4L, "the quick brown fox jumps over the lazy dog tonight", "en", "a"))
      .toDF("doc_id", "text", "lang", "source")
    docs.write.parquet(s"$dir/documents.parquet")
    val li = Seq(
      (10L, 100L), (10L, 101L), (11L, 100L), (11L, 101L),
      (12L, 100L), (12L, 102L), (13L, 100L), (13L, 102L),
      (14L, 103L), (14L, 104L))
      .toDF("l_orderkey", "l_partkey")
    li.write.parquet(s"$dir/lineitem.parquet")
    dir
  }

  test("minhashPairs memo: identical frame, computed once per (dir, params)") {
    Kernels.clear()
    val dir = fixtureDir()
    val a = Kernels.minhashPairs(spark, dir, threshold = 0.8)
    val b = Kernels.minhashPairs(spark, dir, threshold = 0.8)
    assert(a eq b, "second call must return the memoized frame")
    val direct = operators.Dedup.minhashPairs(
      Tables.documents(spark, dir), "doc_id", "text", threshold = 0.8)
    assert(a.orderBy("doc_a", "doc_b").collect().toSeq
      === direct.orderBy("doc_a", "doc_b").collect().toSeq)
    // different params → different kernel
    val c = Kernels.minhashPairs(spark, dir, threshold = 0.5)
    assert(!(a eq c))
    Kernels.clear()
    val d = Kernels.minhashPairs(spark, dir, threshold = 0.8)
    assert(!(a eq d), "clear() must drop the memo")
    Kernels.clear()
  }

  test("minhashComponents memo rides the cached pair kernel") {
    Kernels.clear()
    val dir = fixtureDir()
    val comp = Kernels.minhashComponents(spark, dir, threshold = 0.8)
    assert(comp eq Kernels.minhashComponents(spark, dir, threshold = 0.8))
    val rows = comp.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    // docs 1,2 are exact twins (Jaccard 1.0) → one cluster labeled by
    // min id; doc 4 differs in its last word (Jaccard 7/9 < 0.8)
    assert(rows.toSeq === Seq((1L, 1L), (2L, 1L)))
    Kernels.clear()
  }

  test("bm25 top-ranked store == inline kernel reducts (q235/q248 law)") {
    Kernels.clear()
    val sf = "/root/testdata/sf0.001"
    assertStoreMatchesReference(sf)
  }

  test("bm25 top-ranked store == reference on ties, a deep origin, a miss") {
    val dir = java.nio.file.Files.createTempDirectory("bm25").toString
    import spark.implicits._
    val tied = (1L to 12L).map(i => (i, "alpha beta gamma"))
    val docs = tied ++ Seq(
      // query 40 = {alpha, beta}; long, so every short match outranks it
      (40L, ("alpha beta " * 4 + "omega " * 60).trim),
      (80L, "delta gamma beta"), // query 80 = {delta, gamma, beta}
      (13L, "alpha delta delta"),
      (14L, "zeta eta theta"), // shares no query term
      (15L, "  gamma   delta  "), // Spark trims spaces only...
      (16L, "\talpha beta gamma"), // ...so this one has an empty first token
      (17L, null))
    docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    // the fixture exercises what it is for, read off the reference
    val ref = bm25RankedReference(dir)
    val originRank = ref.filter(col("qid") === 40L && col("doc_id") === 40L)
      .select("rnk").head().getInt(0)
    assert(originRank > 10)
    val head40 = ref.filter(col("qid") === 40L && col("rnk") <= 10)
      .orderBy("rnk").collect()
    assert(head40.map(_.getDouble(2)).distinct.length == 1,
      "query 40's head is one tie group, ordered by doc_id alone")
    assert(head40.map(_.getLong(1)).toSeq === (1L to 10L))
    assert(ref.filter(col("doc_id") === 14L).isEmpty)
    Kernels.clear()
    assertStoreMatchesReference(dir)
    operators.Exec.deleteRecursively(dir)
  }

  /** Reference for the BM25 self-retrieval store: the Catalyst
    * formulation the store was first built with — a (query-term ×
    * document-term) frequency join, `sum` per (query, document) and a
    * `row_number` over every candidate. Returns the FULL ranking. */
  private def bm25RankedReference(dir: String): DataFrame = {
    import graft.functions.Rounding.roundTo
    import graft.functions.TextFunctions.words
    val k1 = 1.2
    val b = 0.75
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), words(col("text")).as("w"))
    val dl = toks.select(col("doc_id"),
      size(col("w")).cast("double").as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val qterms = toks.filter(pmod(col("doc_id"), lit(40)) === 0)
      .select(col("doc_id").as("qid"),
        explode(array_distinct(slice(col("w"), 1, 8))).as("tok"))
    val terms = qterms.select("tok").distinct()
    val tf = toks.select(col("doc_id"), explode(col("w")).as("tok"))
      .join(terms, Seq("tok"), "left_semi")
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).cast("double").as("tf"))
    val idf = tf.groupBy("tok").agg(count(lit(1)).cast("double").as("df"))
      .crossJoin(broadcast(stats.select("n_docs")))
      .select(col("tok"),
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) /
          (col("df") + 0.5)).as("idf"))
    val scored = qterms
      .join(tf, "tok")
      .join(broadcast(idf), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats.select("avgdl")))
      .withColumn("contrib",
        col("idf") * (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") /
            col("avgdl"))))
      .groupBy("qid", "doc_id")
      .agg(roundTo(sum(col("contrib")), 4).as("score"))
    val wr = Window.partitionBy("qid")
      .orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rnk", row_number().over(wr))
  }

  /** The store law: row-for-row the reference's `rnk ≤ 10` head plus
    * every origin row, nothing else. */
  private def assertStoreMatchesReference(dir: String): Unit = {
    val store = queries.Evals.bm25TopRanked(spark, dir)
    assert(store eq queries.Evals.bm25TopRanked(spark, dir))
    val expected = bm25RankedReference(dir)
      .filter(col("rnk") <= 10 || col("doc_id") === col("qid"))
    assert(store.orderBy("qid", "rnk").collect().toSeq
      === expected.orderBy("qid", "rnk").collect().toSeq)
    Kernels.clear()
  }

  test("partCoEdges memo matches the inline wedge-join build") {
    Kernels.clear()
    val dir = fixtureDir()
    val edges = Kernels.partCoEdges(spark, dir)
    assert(edges eq Kernels.partCoEdges(spark, dir))
    val got = edges.orderBy("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // (100,101) co-occur in orders 10,11; (100,102) in 12,13; (103,104)
    // co-occur once only → cut by the support threshold
    assert(got === Seq((100L, 101L, 2L), (100L, 102L, 2L)))
    Kernels.clear()
  }
}
