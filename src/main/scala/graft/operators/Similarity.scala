package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
// cross-engine deterministic rounding shadows functions.round
import graft.functions.Rounding.{roundTo => round}

import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY.md §2.11).
  *
  *  - [[knnBruteForce]]: exact cosine top-k — the correctness baseline.
  *    The (small) query set is broadcast, so the corpus is scanned
  *    exactly once with no shuffle of the corpus side.
  *  - [[knnLsh]]: the scale path — corpus and queries are bucketed by a
  *    deterministic sign-random-projection LSH key; candidates come
  *    from the bucket equi-join. On a cluster the corpus side can be
  *    pre-partitioned (bucketed) by `bucket`, making repeated query
  *    batches shuffle-free.
  */
object Similarity {

  /** Exact top-k neighbors for each query vector (excluding self).
    * Ranking uses the 4-decimal-rounded cosine plus the neighbor id as
    * tie-break so results are deterministic and oracle-comparable.
    */
  def knnBruteForce(corpus: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, k: Int): DataFrame = {
    // widen-only: a narrow (single-file) corpus is spread across cores,
    // but an already-wide corpus is NOT re-shuffled — at 100 TB an
    // unconditional repartition is a full-corpus shuffle per ANN call
    val c = Exec.widen(corpus, idCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        norm(col(vecCol)).as("cn"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cosine"), asc("neighbor_id"))
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** LSH-bucketed ANN with multi-probe: each query probes its own
    * bucket plus every bucket at Hamming distance 1 (flip one plane
    * sign), the standard recall lever for sign-random-projection LSH.
    * Recall < 1 by construction (measured against [[knnBruteForce]] in
    * the test suite); candidate volume per query drops from O(corpus)
    * to O(corpus · (planes+1) / 2^planes) expected.
    */
  /** IVF-style ANN: the corpus is coarsely quantized into cells (here:
    * the pre-existing `cellCol` grouping, e.g. a cluster label), each
    * cell summarized by its centroid; a query probes only the
    * `nprobe` nearest cells. At scale the corpus is partitioned by
    * cell, so a query batch touches `nprobe / numCells` of the data
    * and the centroid table (numCells rows) is broadcast.
    */
  def knnIvf(corpus: DataFrame, queries: DataFrame,
             idCol: String, vecCol: String, cellCol: String,
             k: Int, nprobe: Int = 2): DataFrame = {
    // centroids: elementwise mean per cell, reassembled in position order
    val centroids = corpus
      .select(col(cellCol).as("cell"),
        posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy("cell", "pos")
      .agg(avg(col("v").cast("double")).as("c"))
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        x => x.getField("c")).as("cvec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn"))
    // probe selection: nprobe nearest centroids per query
    val wCell = Window.partitionBy("query_id")
      .orderBy(desc("ccos"), asc("cell"))
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("ccos", round(
        dot(col("qv"), col("cvec")) /
          (col("qn") * sqrt(dot(col("cvec"), col("cvec")))), 4))
      .withColumn("crank", row_number().over(wCell))
      .filter(col("crank") <= nprobe)
      .select(col("query_id"), col("qv"), col("qn"), col("cell"))
    // search only the probed cells (widen-only — see knnBruteForce)
    val c = Exec.widen(corpus, idCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        norm(col(vecCol)).as("cn"), col(cellCol).as("cell"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cosine"), asc("neighbor_id"))
    c.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Persist an IVF index as a lake layout (the q185 bucketed-layout
    * discipline applied to the ANN family): corpus rows land
    * partitioned by cell (`<dir>/cells/cell=<c>/…`) and the centroid
    * table — computed ONCE, at build time, over the full corpus — is
    * stored alongside as index metadata (`<dir>/centroids`). This is
    * the build half of the serving shape [[knnIvf]]'s doc promises
    * ("at scale the corpus is partitioned by cell"): build pays the
    * one partitioning shuffle; every subsequent query batch reads only
    * probed partitions and never recomputes centroids.
    */
  def ivfIndexBuild(corpus: DataFrame, idCol: String, vecCol: String,
                    cellCol: String, dir: String): Unit = {
    corpus.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"),
        col(cellCol).as("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/cells")
    // centroid metadata: elementwise mean per cell (numCells rows —
    // one small file)
    corpus
      .select(col(cellCol).as("cell"),
        posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy("cell", "pos")
      .agg(avg(col("v").cast("double")).as("c"))
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        x => x.getField("c")).as("cvec"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/centroids")
  }

  /** Query an [[ivfIndexBuild]] lake index: centroid routing picks the
    * `nprobe` nearest cells per query from the STORED metadata (no
    * corpus touch), the probed-cell set — at most nprobe·|queries|
    * scalars, the bounded-driver-state convention — becomes a static
    * partition filter on the cells scan (only probed directories are
    * read; the plan spec pins `PartitionFilters`), and in-cell ranking
    * is the [[knnIvf]] scoring verbatim (4-dp rounded cosine, id
    * tie-break). Same (query_id, neighbor_id, cosine, rank) contract
    * as the in-memory path — the round-trip must not change results.
    */
  def ivfIndexQuery(queries: DataFrame, idCol: String, vecCol: String,
                    dir: String, k: Int,
                    nprobe: Int = 2): DataFrame = Exec.scope { sc =>
    val s = queries.sparkSession
    val cents = s.read.parquet(s"$dir/centroids")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn"))
    val wCell = Window.partitionBy("query_id")
      .orderBy(desc("ccos"), asc("cell"))
    // tiny (nprobe rows per query) — materialized once so the
    // probed-cell collect and the candidate join don't re-route; kept,
    // because the returned frame reads it (an enclosing scope frees it)
    val probes = sc.keep(q.crossJoin(broadcast(cents))
      .withColumn("ccos", round(
        dot(col("qv"), col("cvec")) /
          (col("qn") * sqrt(dot(col("cvec"), col("cvec")))), 4))
      .withColumn("crank", row_number().over(wCell))
      .filter(col("crank") <= nprobe)
      .select(col("query_id"), col("qv"), col("qn"), col("cell")))
    val probedCells = probes.select("cell").distinct().collect()
      .map(_.get(0)).toSeq
    val c = s.read.parquet(s"$dir/cells")
      .filter(col("cell").isInCollection(probedCells))
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
        norm(col("embedding")).as("cn"), col("cell"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cosine"), asc("neighbor_id"))
    c.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector, the top-k most-similar corpus vectors whose LABEL differs
    * from the query's — the near-misses that teach an embedding model
    * its decision boundary (easy negatives are information-free;
    * same-label neighbors are positives, not negatives). Output
    * `(query_id, neighbor_id, query_label, neighbor_label, cosine,
    * rank)`.
    *
    * Same execution shape as [[knnBruteForce]] (query batch broadcast,
    * corpus scanned once, no corpus shuffle); the label-mismatch
    * predicate rides the broadcast join, so disqualified corpus rows
    * die map-side before ranking. For corpus-scale mining swap the
    * scan for [[knnLsh]]/[[knnIvf]] candidates — the mismatch filter
    * and ranking are unchanged.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int): DataFrame = {
    val c = Exec.widen(corpus, idCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        norm(col(vecCol)).as("cn"), col(labelCol).as("neighbor_label"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn"), col(labelCol).as("query_label"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cosine"), asc("neighbor_id"))
    c.join(broadcast(q), col("query_label") =!= col("neighbor_label"))
      .withColumn("cosine",
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "query_label", "neighbor_label",
        "cosine", "rank")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023's
    * cluster-then-prune shape): assign every vector to its nearest of
    * `k` centroids, then find near-duplicate PAIRS only within each
    * cluster and drop the higher id of each pair. The cluster pass is
    * what makes semantic dedup tractable at scale — candidate
    * generation is a cell equi-join (cell sizes ≈ N/k), never the
    * corpus². At 100 TB, `k` grows with N to hold cell size constant
    * and the centroids come from [[KMeans]]; here they are the `k`
    * smallest-id vectors so an oracle can replay the assignment
    * exactly.
    *
    * Determinism: assignment ranks by the 6-decimal-rounded cosine
    * (ties to the smaller centroid id) via one struct-max aggregation
    * (no per-id window sort); the dup threshold applies to the
    * 4-decimal-rounded pair cosine — both cuts engine-exact under the
    * q40 oracle convention. Zero-norm vectors are undefined input.
    *
    * Returns per-cell `(cell, n_members, n_dropped, n_kept)`.
    */
  def semDedup(embs: DataFrame, idCol: String, vecCol: String,
               k: Int = 16, tau: Double = 0.95): DataFrame = {
    require(k >= 1, "need at least one centroid")
    val cents = embs.orderBy(col(idCol)).limit(k)
      .select(col(idCol).as("cid"), col(vecCol).as("cvec"))
    val sim = embs.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .crossJoin(broadcast(cents))
      .select(col("id"), col("cid"),
        round(cosine(col("vec"), col("cvec")), 6).as("s"))
    val asg = sim.groupBy("id")
      .agg(max(struct(col("s"), (-col("cid")).as("negcid"))).as("p"))
      .select(col("id"), (-col("p.negcid")).as("cell"))
    val av = asg.join(
      embs.select(col(idCol).as("id"), col(vecCol).as("vec")), "id")
    val pairs = av.as("a").join(av.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .filter(round(cosine(col("a.vec"), col("b.vec")), 4) >= tau)
      .select(col("a.cell").as("cell"), col("b.id").as("ib"))
    val members = asg.groupBy("cell").agg(count(lit(1)).as("n_members"))
    val dropped = pairs.groupBy("cell")
      .agg(countDistinct(col("ib")).as("n_dropped"))
    members.join(dropped, Seq("cell"), "left")
      .select(col("cell"), col("n_members"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        (col("n_members") - coalesce(col("n_dropped"), lit(0L)))
          .as("n_kept"))
  }

  def knnLsh(corpus: DataFrame, queries: DataFrame,
             idCol: String, vecCol: String, k: Int,
             numPlanes: Int = 6, dim: Int = 64): DataFrame = {
    val planes = randomPlanes(numPlanes, dim)
    // widen-only (see knnBruteForce); at scale the corpus would be
    // pre-partitioned by `bucket`, making repeat query batches
    // shuffle-free on the corpus side
    val c = Exec.widen(corpus, idCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        norm(col(vecCol)).as("cn"),
        lshBucket(col(vecCol), planes).as("bucket"))
    val probes = (b: Column) =>
      array(b +: (0 until numPlanes).map(i => b.bitwiseXOR(lit(1L << i))): _*)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn"),
      explode(probes(lshBucket(col(vecCol), planes))).as("bucket"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cosine"), asc("neighbor_id"))
    c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Exact Local Outlier Factor (Breunig et al. 2000) for a BOUNDED
    * query set against the full corpus — the density-adaptive outlier
    * score for embedding-space curation (a point far from its
    * neighbors RELATIVE to how tight their own neighborhoods are).
    *
    * `LOF(q) = (Σ_{o∈N_k(q)} lrd(o)) / (k·lrd(q))` with
    * `lrd(p) = k / Σ_{o∈N_k(p)} max(kdist(o), d(p,o))`. The 2-hop
    * neighborhood expansion means three rounds of the kNN kernel
    * (queries → their neighbors → THEIR neighbors' k-distances), each
    * a broadcast of a bounded point set against one corpus scan —
    * never corpus×corpus, so the shape survives 100 TB as long as the
    * query set is a sample (the q40/q218 sampled-grading convention).
    *
    * Cross-engine exactness: d² comes from the bit-matched
    * [[graft.functions.VectorFunctions.dot]] (`d² = ⟨p,p⟩ + ⟨c,c⟩ −
    * 2⟨p,c⟩`), quantized ONCE to 1e-6-unit LONGs (`du`); ranking
    * (du, id), reachability (`max` of LONGs), and the Σreach
    * (`ilrd`, floored at 1 micro-unit so exact-duplicate
    * neighborhoods stay defined) are all integer. The reciprocal is
    * the integer round-half-up `(2·10¹⁸ + ilrd) DIV (2·ilrd)` and the
    * final score is ONE fixed-shape FP division of the exact
    * DECIMAL(38,0) product — no FP sum anywhere, so no accumulation-
    * order hazard. */
  def lof(emb: DataFrame, idCol: String, vecCol: String, k: Int,
          queryPred: Column): DataFrame = Exec.scope { sc =>
    val corpus = Exec.widen(emb, idCol)
      .select(col(idCol).as("cid"), col(vecCol).as("cvec"))
    val points = emb.select(col(idCol).as("pid"), col(vecCol).as("pvec"))
    // each call: bounded point set broadcast against ONE corpus scan;
    // localCheckpoint pins the tiny result so reuse never re-scans
    def knn(ps: DataFrame): DataFrame = {
      val d2 = dot(col("pvec"), col("pvec")) +
        dot(col("cvec"), col("cvec")) -
        lit(2.0) * dot(col("pvec"), col("cvec"))
      sc.checkpoint(corpus.join(broadcast(ps), col("pid") =!= col("cid"))
        .withColumn("du", floor(d2 * lit(1e6) + lit(0.5)).cast("long"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("pid").orderBy(col("du").asc, col("cid").asc)))
        .filter(col("rn") <= k)
        .select(col("pid"), col("cid").as("nid"), col("du")))
    }
    def expand(nn: DataFrame): DataFrame =
      nn.select(col("nid").as("pid")).distinct()
        .join(points, "pid")
    val n1 = knn(points.filter(queryPred))
    val n2 = knn(expand(n1))
    val n3 = knn(expand(n2))
    def kdistOf(nn: DataFrame): DataFrame =
      nn.groupBy("pid").agg(max("du").as("kd"))
        .withColumnRenamed("pid", "nid")
    def ilrdOf(nn: DataFrame, kdist: DataFrame): DataFrame =
      nn.join(kdist, "nid")
        .groupBy("pid")
        .agg(greatest(sum(greatest(col("du"), col("kd"))), lit(1L))
          .as("ilrd"))
    val ilrdQ = ilrdOf(n1, kdistOf(n2))
    val rinv = ilrdOf(n2, kdistOf(n3))
      .select(col("pid").as("nid"),
        expr("(2000000000000000000L + ilrd) DIV (2L * ilrd)").as("rinv"))
    val dec = "decimal(38,0)"
    val result = n1.join(rinv, "nid")
      .groupBy("pid").agg(sum("rinv").as("rsum"), max("du").as("kdu"))
      .join(ilrdQ, "pid")
      .select(col("pid").as("query_id"),
        round(col("kdu").cast("double") / lit(1e6), 6).as("kdist_sq"),
        round((col("ilrd").cast(dec) * col("rsum").cast(dec))
          .cast("double") / lit(k.toDouble * 1e18), 6).as("lof"))
      .orderBy("query_id")
    sc.keep(result)
  }
}
