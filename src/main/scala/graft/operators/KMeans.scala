package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Rounding.{roundTo => round}
import graft.functions.VectorFunctions.dot

/** Iterative k-means (Lloyd) over an embedding corpus — the canonical
  * iterative MapReduce workload (and the direct big-brother of the
  * reference's iterate-until-convergence loop, kernel.cu:190-215: the
  * reference re-reads its batch every EMA round; Lloyd re-reads the
  * corpus every centroid round).
  *
  * Execution shape per iteration (what survives 100 TB):
  *  - centroids are a k-row table, ALWAYS broadcast — the corpus is
  *    never shuffled for assignment, each executor scans its partitions
  *    once and assigns map-side;
  *  - the argmin is a map-side partial `min(struct(dist, cid))`
  *    aggregate keyed by the vector id — no per-vector window sort;
  *  - the centroid update is one hash aggregation of (cid, dim) —
  *    k·dims rows out, corpus-sized rows in, map-side combine does the
  *    heavy lifting exactly like the reference's two-level OLS reduce.
  * The corpus projection is cached once for the whole loop (each
  * iteration is two scans of it: assign + update) and released when
  * the operator's scope exits.
  *
  * Reproducibility semantics (deliberate, documented): distances and
  * centroid coordinates are QUANTIZED each round (`round(·, 8)` /
  * `round(·, 6)` through the shared cross-engine kernel), and argmin
  * ties break on the lowest centroid id. Assignments are therefore a
  * pure function of the input — reproducible across partitionings,
  * engines, and clusters — at the cost of ~1e-6 centroid precision,
  * far below embedding noise. Unquantized float argmin is
  * run-order-dependent at exact ties; a training-data pipeline cares
  * more that re-runs route documents identically.
  */
object KMeans {

  /** Squared L2 via the dot-product identity |a−b|² = a·a + c·c − 2a·c
    * (three native codegen'd dot products; clamped at 0 — the identity
    * can go −1e−16 in FP, and round would surface it as −0.0). The
    * 6-decimal quantization is the tie-safety margin: even if another
    * engine's dot product differs by an ulp, the quantized distances
    * agree, and genuine near-ties collapse onto the same grid point
    * where the cid tie-break decides identically everywhere. */
  private def dist2(a: Column, b: Column): Column =
    round(greatest(lit(0.0), dot(a, a) + dot(b, b) - lit(2.0) * dot(a, b)), 6)

  /** `iters` Lloyd rounds from deterministic seeds (the `k` vectors
    * with the smallest ids, quantized), then a final assignment pass.
    * Returns per-cluster `(cid, n_members, inertia)` where inertia is
    * the rounded sum of squared distances of members to their (final)
    * centroid. Clusters that lose all members drop out (and stay out —
    * same behavior in the SQL mirror).
    */
  def lloyd(emb: DataFrame, idCol: String, vecCol: String, k: Int,
            iters: Int): DataFrame = Exec.scope { sc =>
    require(k >= 1, "k must be >= 1")
    require(iters >= 0, "iters must be >= 0")
    val v = sc.cache(Exec.widen(emb, idCol)
      .select(col(idCol).as("vid"),
        transform(col(vecCol), x => x.cast("double")).as("v")))

    // seeds: k smallest ids, cid = rank in id order, coordinates
    // quantized like every later round's
    val seedW = org.apache.spark.sql.expressions.Window.orderBy(col("vid"))
    val init = v.orderBy("vid").limit(k)
      .withColumn("cid", row_number().over(seedW) - 1)
      .select(col("cid"),
        transform(col("v"), x => round(x, 6)).as("cv"))

    // assignment: broadcast centroids, map-side argmin with cid
    // tie-break; keeps the member vector for the update that follows
    def assign(centroids: DataFrame): DataFrame =
      v.crossJoin(broadcast(centroids))
        .withColumn("d2", dist2(col("v"), col("cv")))
        .groupBy("vid")
        .agg(min(struct(col("d2"), col("cid"))).as("m"),
          first(col("v")).as("v"))
        .select(col("vid"), col("m.cid").as("cid"), col("m.d2").as("d2"),
          col("v"))

    // update: per-(cid, dim) mean → re-assembled quantized centroid
    def update(assigned: DataFrame): DataFrame =
      assigned
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cid", "pos")
        .agg(avg("x").as("m"))
        .groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => round(s.getField("m"), 6)).as("cv"))

    val centroids = (1 to iters).foldLeft(init) { (c, _) => update(assign(c)) }
    val result = assign(centroids)
      .groupBy("cid")
      .agg(count(lit(1)).as("n_members"),
        round(sum("d2"), 4).as("inertia"))
    sc.keep(result)
  }
}
