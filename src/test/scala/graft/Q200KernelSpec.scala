package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Decontam, Dedup, Quality}

/** Equivalence pins for the r16 per-document kernel stores
  * (gopherSignals / docContentHash / benchOverlap) and the kernelized
  * q200 funnel that consumes them.
  *
  * The load-bearing law for every consumer: each store row is a pure
  * PER-DOCUMENT function (given the fixed benchmark split), so a stage
  * over any document SUBSET equals a filter of the full-corpus store.
  * These tests pin that law on the real sf0.001 corpus — including the
  * q200 end-to-end result against an inline replay of the pre-kernel
  * pipeline — so a future kernel edit that breaks subset-filter
  * equality fails here, not at the oracle gate.
  */
class Q200KernelSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("gopherSignals store == inline gopherFlags; memoized per dir") {
    Kernels.clear()
    val store = Kernels.gopherSignals(spark, sf)
    assert(store eq Kernels.gopherSignals(spark, sf))
    val inline = Quality.gopherFlags(Tables.documents(spark, sf),
      "doc_id", "text")
    assert(store.orderBy("doc_id").collect().toSeq
      === inline.orderBy("doc_id").collect().toSeq)
    Kernels.clear()
  }

  test("docContentHash store == inline hash; subset dedup law holds") {
    Kernels.clear()
    val store = Kernels.docContentHash(spark, sf)
    val docs = Tables.documents(spark, sf)
    val inline = docs.select(col("doc_id"),
      Dedup.contentHash(col("text")).as("content_hash"))
    assert(store.orderBy("doc_id").collect().toSeq
      === inline.orderBy("doc_id").collect().toSeq)
    // subset law: exact dedup of an arbitrary subset via the store
    // equals Dedup.exact over the subset's text
    val subset = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val viaStore = store
      .join(subset.select("doc_id"), "doc_id")
      .groupBy("content_hash")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("group_size"))
    val direct = Dedup.exact(subset, "doc_id", "text")
    assert(viaStore.orderBy("keep_id").collect().toSeq
      === direct.orderBy("keep_id").collect().toSeq)
    Kernels.clear()
  }

  test("benchOverlap store == inline overlap; subset filter law holds") {
    Kernels.clear()
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(pmod(col("doc_id"), lit(20)) =!= 0)
    val bench = docs.filter(pmod(col("doc_id"), lit(20)) === 0)
    val store = Kernels.benchOverlap(spark, sf, n = 3)
    val inline = Decontam.overlap(corpus, bench, "doc_id", "text", n = 3)
    assert(store.orderBy("id").collect().toSeq
      === inline.orderBy("id").collect().toSeq)
    // subset law: overlap of a corpus subset == store filtered to it
    val sub = corpus.filter(pmod(col("doc_id"), lit(3)) === 1)
    val direct = Decontam.overlap(sub, bench, "doc_id", "text", n = 3)
    val filtered = store
      .join(sub.select(col("doc_id").as("id")), "id")
    assert(filtered.orderBy("id").collect().toSeq
      === direct.orderBy("id").collect().toSeq)
    Kernels.clear()
  }

  test("minhash pair subset law: pairs over subset == both-ends filter") {
    Kernels.clear()
    val docs = Tables.documents(spark, sf)
    val sub = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val full = Kernels.minhashPairs(spark, sf, threshold = 0.8)
    val viaStore = full
      .join(sub.select(col("doc_id").as("doc_a")), "doc_a")
      .join(sub.select(col("doc_id").as("doc_b")), "doc_b")
      .select("doc_a", "doc_b", "jaccard")
    val direct = Dedup.minhashPairs(sub, "doc_id", "text", threshold = 0.8)
      .select("doc_a", "doc_b", "jaccard")
    assert(viaStore.orderBy("doc_a", "doc_b").collect().toSeq
      === direct.orderBy("doc_a", "doc_b").collect().toSeq)
    Kernels.clear()
  }

  // q137 reads the store as `doc_b < 2500` (every pair has doc_a < doc_b).
  // 2500 is q137's cutoff and keeps all 500 documents here; 250 splits
  // this corpus, so the filter form is checked on a proper subset too.
  test("minhash pair store filtered to doc_b < n == pairs over doc_id < n (q137)") {
    Kernels.clear()
    val store = Kernels.minhashPairs(spark, sf, threshold = 0.8)
    Seq(2500L, 250L).foreach { n =>
      val sample = Tables.documents(spark, sf).filter(col("doc_id") < n)
      val direct = Dedup.minhashPairs(sample, "doc_id", "text", threshold = 0.8)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b").collect().toSeq
      assert(direct.nonEmpty, s"no pairs under $n")
      info(s"doc_id < $n: ${direct.size} pairs")
      assert(store.filter(col("doc_b") < n)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b").collect().toSeq === direct)
    }
    Kernels.clear()
  }

  test("q200 via kernels == inline replay of the pre-kernel pipeline") {
    Kernels.clear()
    val got = SparkEntry.queries("q200_e2e_curation")(spark, sf)
      .collect().toSeq

    // inline replay: the exact pre-r16 q200 stage chain
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(pmod(col("doc_id"), lit(20)) =!= 0)
    val bench = docs.filter(pmod(col("doc_id"), lit(20)) === 0)
    val gIds = Quality.gopherFlags(corpus, "doc_id", "text")
      .filter(col("keep")).select("doc_id").localCheckpoint(true)
    val qDocs = corpus.join(gIds, "doc_id").localCheckpoint(true)
    val exIds = Dedup.exact(qDocs, "doc_id", "text")
      .select(col("keep_id").as("doc_id")).localCheckpoint(true)
    val exDocs = qDocs.join(exIds, "doc_id").localCheckpoint(true)
    val pairs = Dedup.minhashPairs(exDocs, "doc_id", "text",
      threshold = 0.8)
    val dropB = pairs.select(col("doc_b").as("doc_id")).distinct()
    val ndIds = exIds.join(dropB, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    val ndDocs = exDocs.join(ndIds.select("doc_id"), "doc_id")
    val rd = ndIds
      .join(Decontam.overlap(ndDocs, bench, "doc_id", "text", n = 3)
        .select(col("id").as("doc_id"),
          (col("n_contam").cast("double") /
            col("n_ngrams").cast("double")).as("ratio")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("ratio"), lit(0.0)).as("ratio"))
    val rdC = rd.localCheckpoint(true)
    val (_, Seq(thr)) = graft.engine.OrderStat.kthSmallests(
      rdC, "ratio", graft.engine.OrderStat.quantileRanks(Seq(0.9)))
    val contamIds = rdC
      .filter(col("ratio") >= lit(thr) && col("ratio") > 0.0)
      .select("doc_id")
    val cleanIds = ndIds.join(contamIds, Seq("doc_id"), "left_anti")
    def tag(ids: DataFrame, name: String): DataFrame =
      ids.withColumn(name, lit(1L))
    val want = corpus
      .select(col("doc_id"), col("source"),
        size(graft.functions.TextFunctions.words(col("text")))
          .cast("long").as("toks"))
      .join(tag(gIds, "f_q"), Seq("doc_id"), "left")
      .join(tag(exIds, "f_ex"), Seq("doc_id"), "left")
      .join(tag(ndIds, "f_nd"), Seq("doc_id"), "left")
      .join(tag(cleanIds, "f_cl"), Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_in"),
        sum(coalesce(col("f_q"), lit(0L))).as("n_quality"),
        sum(coalesce(col("f_ex"), lit(0L))).as("n_exact"),
        sum(coalesce(col("f_nd"), lit(0L))).as("n_neardup"),
        sum(coalesce(col("f_cl"), lit(0L))).as("n_clean"),
        sum(when(col("f_cl") === 1L, col("toks")).otherwise(0L))
          .as("clean_token_sum"))
      .orderBy("source")
      .collect().toSeq

    assert(got === want)
    Kernels.clear()
  }
}
