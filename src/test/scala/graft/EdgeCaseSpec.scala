package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.Ols
import graft.operators.{AsOf, Dedup, Exec, Similarity}
import graft.sources.PairSource

/** Degenerate-input behavior: every operator must return an empty (or
  * NaN-weighted) result, never throw, on empty/singleton inputs.
  */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  private val emptyDocs = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType))))

  test("dedup operators on empty input return empty, not errors") {
    assert(Dedup.exact(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.minhashPairs(emptyDocs, "doc_id", "text", 0.8).count() == 0)
    assert(Dedup.simhashPairs(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.jaccardPairsExact(emptyDocs, "doc_id", "text", 0.8)
      .count() == 0)
  }

  test("minhashPairs rejects non-positive thresholds with a clear message") {
    val docs = Seq((1L, "a few words here")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.0)
    }
    assert(e.getMessage.contains("threshold must be positive"))
  }

  test("single-document corpus yields no pairs") {
    val one = Seq((1L, "just one document here with several words"))
      .toDF("doc_id", "text")
    assert(Dedup.minhashPairs(one, "doc_id", "text", 0.1).count() == 0)
    assert(Dedup.simhashPairs(one, "doc_id", "text").count() == 0)
  }

  test("knn with empty query set returns empty") {
    val corpus = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val noQueries = corpus.filter(col("vec_id") < 0)
    assert(Similarity.knnBruteForce(corpus, noQueries,
      "vec_id", "embedding", 3).count() == 0)
    assert(Similarity.knnLsh(corpus, noQueries,
      "vec_id", "embedding", 3, dim = 2).count() == 0)
  }

  test("bucketed embedding dedup: empty and singleton inputs yield no pairs") {
    val emptyEmb = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    assert(Dedup.embeddingPairsBucketed(emptyEmb, "vec_id", "embedding",
      0.5, dim = 4).count() == 0)
    val one = Seq((1L, Seq(1.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    assert(Dedup.embeddingPairsBucketed(one, "vec_id", "embedding",
      0.5, dim = 4).count() == 0)
  }

  test("jaccard cap below 2 is rejected with a clear message") {
    val docs = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.jaccardPairsExact(docs, "doc_id", "text", 0.5, maxShingleDf = 1)
    }
    assert(e.getMessage.contains("document-frequency cap"))
  }

  test("session windows on empty events return empty") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("user_id", LongType),
        StructField("ts", TimestampType))))
    assert(graft.streaming.EventPipeline.sessionWindows(empty, "30 minutes")
      .count() == 0)
  }

  test("curation operators tolerate empty inputs") {
    import graft.operators.{Decontam, Packing, Sampling}
    val someDocs = Seq((1L, "a few words of text here")).toDF("doc_id", "text")
    // empty corpus / empty benchmark → empty result, no throw
    assert(Decontam.overlap(emptyDocs, someDocs, "doc_id", "text").count() == 0)
    assert(Decontam.overlap(someDocs, emptyDocs, "doc_id", "text").count() == 0)
    // packing an empty frame yields an empty layout
    assert(Packing.packOffsets(emptyDocs, "doc_id", lit(1L), 10L).count() == 0)
    // incremental dedup: empty batch → empty routing table; empty
    // corpus → every batch doc routes as clean
    assert(graft.operators.Dedup.incrementalNearDups(
      emptyDocs, someDocs, "doc_id", "text", 0.5).count() == 0)
    val clean = graft.operators.Dedup.incrementalNearDups(
      someDocs, emptyDocs, "doc_id", "text", 0.5).collect()
    assert(clean.length == 1 && !clean.head.getBoolean(1))
    // stratifiedCap on empty input
    assert(Sampling.stratifiedCap(emptyDocs, "doc_id", "text", 3).count() == 0)
  }

  test("PairSource fails naming the path on a missing path") {
    val dir = Exec.scratchTempDir("pairs-missing").toString
    try {
      val missing = s"$dir/no_such_dir_xyz"
      val e = intercept[Exception] {
        PairSource.readPairs(spark, missing).count()
      }
      assert(e.getMessage.contains(missing), e.getMessage)
    } finally Exec.deleteRecursively(dir)
  }

  test("Quality.profile rejects colliding rule names") {
    val df = Seq((1L, "a")).toDF("id", "s")
    val dup = intercept[IllegalArgumentException] {
      graft.operators.Quality.profile(df, Seq("s"),
        Seq("r1" -> col("id").isNull, "r1" -> col("s").isNull))
    }
    assert(dup.getMessage.contains("duplicate"))
    val clash = intercept[IllegalArgumentException] {
      graft.operators.Quality.profile(df, Seq("s"),
        Seq("nulls_s" -> col("id").isNull))
    }
    assert(clash.getMessage.contains("collide"))
  }

  test("PairSource on a directory of only malformed lines returns empty") {
    val dir = Exec.scratchTempDir("pairs-bad")
    try {
      java.nio.file.Files.writeString(dir.resolve("junk.txt"),
        "no numbers\nhere either\n1.0\n")
      assert(PairSource.readPairs(spark, dir.toString).count() == 0)
    } finally Exec.deleteRecursively(dir.toString)
  }

  test("fitLinearExact on empty input yields NaN weights, no throw") {
    val empty = Seq.empty[(Double, Double)].toDF("x", "y")
    val w = Ols.fitLinearExact(empty, "x", "y")
    assert(w.w0.isNaN && w.w1.isNaN)
  }

  test("as-of join with no right-side rows returns empty") {
    val left = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 10L))
      .toDF("user_id", "ts", "event_id")
    val right = left.filter(col("event_id") < 0)
    assert(AsOf.asofJoin(left, right, "user_id", "ts", "event_id",
      3600000000L).count() == 0)
  }
}
