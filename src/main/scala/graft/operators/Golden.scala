package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Golden-record survivorship — the step AFTER record linkage turns
  * match pairs into one canonical row per entity: transitive-closure
  * clusters ([[Dedup.connectedComponents]]), then per-cluster
  * survivorship rules pick the surviving attribute values. The
  * output is the "master data" table an entity-resolution pipeline
  * publishes.
  *
  * Survivorship here is the two standard rules composed:
  * highest-quality-wins for the payload (the member maximizing
  * `qualityCol`, ties to the smallest id — a total order, so the
  * survivor is unique and engine-independent) and min-id-wins for the
  * stable golden identifier.
  *
  * Scale shape: clustering is the iterative min-label fixpoint (edge
  * tables only), survivorship is ONE grouped aggregation over cluster
  * members (the struct-max trick picks the survivor without a window
  * sort), plus one id-equi-join to fetch the survivor's payload.
  * Nothing is ever all-pairs; pair generation quality is the CALLER's
  * contract (blocked/banded, q36/q112-style).
  */
object Golden {

  /** One golden row per cluster:
    * `(cluster_id, n_members, golden_id, best_<qualityCol>,
    * rep_<payloadCols>…)`, ordered by nothing (caller sorts).
    * Ids must be non-negative longs (the struct-max tie-break negates
    * them); `records` must be unique per `idCol`.
    */
  def goldenRecords(records: DataFrame, idCol: String, qualityCol: String,
                    payloadCols: Seq[String], pairs: DataFrame,
                    aCol: String, bCol: String): DataFrame = Exec.scope { sc =>
    val rec = sc.cache(records)
    val clusters = Dedup.connectedComponents(pairs, aCol, bCol)
      .select(col("id").as("__node"), col("cluster_id"))
    val members = rec.join(clusters, rec(idCol) === col("__node"))
    val agg = members.groupBy("cluster_id").agg(
      count(lit(1)).as("n_members"),
      min(col(idCol)).as("golden_id"),
      max(col(qualityCol)).as(s"best_$qualityCol"),
      max(struct(col(qualityCol).as("q"), (-col(idCol)).as("negid")))
        .as("__pick"))
    val surv = agg.select(col("cluster_id"), col("n_members"),
      col("golden_id"), col(s"best_$qualityCol"),
      (-col("__pick.negid")).as("__sid"))
    val payload = rec.select(
      col(idCol).as("__sid") +: payloadCols.map(c => col(c).as(s"rep_$c")): _*)
    sc.keep(surv.join(payload, "__sid").drop("__sid"))
  }
}
