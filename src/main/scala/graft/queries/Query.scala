package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry entry: a query's name, its plan and the DuckDB SQL that
  * computes the same rows (identical column aliases) on the same parquet
  * tables. Each query object lists its entries once, in `entries`;
  * [[graft.SparkEntry]] joins the lists into the driver's two maps.
  */
final case class Query(name: String, run: Query.Q, oracleSql: String)

object Query {

  /** A query's plan: session and table directory to a lazy frame. */
  type Q = (SparkSession, String) => DataFrame

  /** The named groups' entries as one list, in order. A name, or a
    * `qNN` prefix (the short key Bench reports a timing under), that
    * occurs twice fails here, naming both entries as `group/name`. */
  def registry(groups: (String, Seq[Query])*): Seq[Query] = {
    val all = for ((g, qs) <- groups; q <- qs) yield s"$g/${q.name}" -> q
    def unique(what: String, key: Query => String): Unit =
      all.groupBy(e => key(e._2)).foreach { case (k, es) =>
        require(es.size == 1,
          s"$what $k is registered twice: ${es.map(_._1).mkString(" and ")}")
      }
    unique("query name", _.name)
    unique("query prefix", _.name.takeWhile(_ != '_'))
    all.map(_._2)
  }
}
