package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{Analytics, Curation, Evals, Insights, Lifecycle,
  Methods, Pipeline, Probes, Query, Relational, Scale, Signals, Studies}

/** Driver contract — see SURVEY.md §7.
  *
  * Every query object lists its [[Query]] entries once: name, plan and
  * DuckDB oracle side by side. Both maps below are built from those
  * lists once per JVM, after [[Query.registry]] has rejected a repeated
  * name or `qNN` prefix. Each oracle has IDENTICAL column aliases to its
  * query — the driver sorts columns by name before hashing values.
  */
object SparkEntry {

  private val registry: Seq[Query] = Query.registry(
    "Relational" -> Relational.entries, "Pipeline" -> Pipeline.entries,
    "Curation" -> Curation.entries, "Scale" -> Scale.entries,
    "Analytics" -> Analytics.entries, "Insights" -> Insights.entries,
    "Signals" -> Signals.entries, "Lifecycle" -> Lifecycle.entries,
    "Evals" -> Evals.entries, "Methods" -> Methods.entries,
    "Studies" -> Studies.entries, "Probes" -> Probes.entries)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** Each query's DuckDB oracle, with the central mirror of the
    * engine-side signed-zero normalization applied once (every rounded
    * oracle statistic normalizes −0.0 → +0.0 like `Rounding.roundTo`'s
    * `+ 0.0` — see [[OracleSql]]). */
  val oracleSql: Map[String, String] =
    registry.map(q => q.name -> OracleSql.normalizeSignedZero(q.oracleSql)).toMap
}
