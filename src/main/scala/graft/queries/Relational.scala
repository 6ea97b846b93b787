package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
// cross-engine deterministic rounding shadows functions.round
import graft.functions.Rounding.{roundTo => round}

import graft.Tables
import graft.engine.{IterativeTrainer, Ols, OlsAggregator}
import graft.functions.Rounding

/** Relational operator surface (SURVEY.md §2.1–§2.8): scans, filters,
  * joins of every flavor, aggregations (incl. rollup/cube/grouping
  * sets), window functions, sorts/limits, set ops, scalar functions,
  * and the regression operators that are the reference's core
  * (`/root/reference/kernel.cu:42-72`).
  *
  * Conventions shared with the DuckDB oracles:
  *  - every query ends with a deterministic ORDER BY on a unique key;
  *  - computed doubles are rounded (3 decimals for sums, 4 for
  *    ratios/avgs/weights) so double-summation-order ulp noise cannot
  *    flip the driver's hash compare;
  *  - aliases match the oracle SQL exactly (driver sorts columns by
  *    name before hashing).
  */
object Relational {
  // ---------------------------------------------------------------- q01
  /** TPC-H Q1-style pricing summary: scan → filter → hash agg. */
  private def q01(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 3).as("sum_qty"),
        round(sum("l_extendedprice"), 3).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 3)
          .as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax"))), 3).as("sum_charge"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_extendedprice"), 4).as("avg_price"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  private val q01Sql =
    """SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity),3) AS sum_qty,
       round(sum(l_extendedprice),3) AS sum_base_price,
       round(sum(l_extendedprice*(1-l_discount)),3) AS sum_disc_price,
       round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)),3) AS sum_charge,
       round(avg(l_quantity),4) AS avg_qty,
       round(avg(l_extendedprice),4) AS avg_price,
       round(avg(l_discount),4) AS avg_disc,
       count(*) AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus"""

  // ---------------------------------------------------------------- q02
  /** Filter + projection; predicates and column pruning push to parquet. */
  private def q02(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
              col("l_quantity") > 45)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
              "l_shipdate")
      .orderBy("l_orderkey", "l_linenumber")

  private val q02Sql =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         AND l_shipdate < TIMESTAMP '1997-01-01' AND l_quantity > 45
       ORDER BY l_orderkey, l_linenumber"""

  // ---------------------------------------------------------------- q03
  /** TPC-H Q3-style: 3-way join (broadcast dim), agg, top-N. */
  private def q03(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp"))
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") > lit("1998-03-15").cast("timestamp"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 3)
        .as("revenue"))
      .orderBy(desc("revenue"), asc("l_orderkey"))
      .limit(10)
  }

  private val q03Sql =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice*(1-l_discount)),3) AS revenue
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       WHERE c_mktsegment = 'BUILDING'
         AND o_orderdate < TIMESTAMP '1998-03-15'
         AND l_shipdate > TIMESTAMP '1998-03-15'
       GROUP BY l_orderkey, o_orderdate, o_orderpriority
       ORDER BY revenue DESC, l_orderkey ASC
       LIMIT 10"""

  // ---------------------------------------------------------------- q04
  /** TPC-H Q4-style: semi join with a non-equi conjunct (EXISTS). */
  private def q04(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val li = Tables.lineitem(s, d)
    ord.join(li,
        ord("o_orderkey") === li("l_orderkey") &&
          li("l_shipdate") > ord("o_orderdate"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  private val q04Sql =
    """SELECT o_orderpriority, count(*) AS order_count
       FROM orders
       WHERE o_orderdate >= TIMESTAMP '1996-01-01'
         AND o_orderdate < TIMESTAMP '1997-01-01'
         AND EXISTS (SELECT 1 FROM lineitem
                     WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
       GROUP BY o_orderpriority
       ORDER BY o_orderpriority"""

  // ---------------------------------------------------------------- q05
  /** TPC-H Q5-style: 6-way join through the star schema, broadcast dims. */
  private def q05(s: SparkSession, d: String): DataFrame = {
    val reg = Tables.region(s, d).filter(col("r_name") === "ASIA")
    val nat = Tables.nation(s, d)
    val cust = Tables.customer(s, d)
    val sup = Tables.supplier(s, d)
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val li = Tables.lineitem(s, d)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 3)
        .as("revenue"))
      .orderBy(desc("revenue"), asc("n_name"))
  }

  private val q05Sql =
    """SELECT n_name,
       round(sum(l_extendedprice*(1-l_discount)),3) AS revenue
       FROM lineitem
       JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       JOIN nation ON c_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       WHERE r_name = 'ASIA'
         AND o_orderdate >= TIMESTAMP '1996-01-01'
         AND o_orderdate < TIMESTAMP '1998-01-01'
       GROUP BY n_name
       ORDER BY revenue DESC, n_name ASC"""

  // ---------------------------------------------------------------- q06
  /** TPC-H Q6: pure scan-filter-aggregate, one output row. */
  private def q06(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
              col("l_discount").between(0.02, 0.06) &&
              col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 3)
        .as("revenue"))

  private val q06Sql =
    """SELECT round(sum(l_extendedprice*l_discount),3) AS revenue
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         AND l_shipdate < TIMESTAMP '1997-01-01'
         AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24"""

  // ---------------------------------------------------------------- q07
  /** Left-semi join (EXISTS): customers that placed an urgent order. */
  private def q07(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
    val ord = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
    cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  private val q07Sql =
    """SELECT c_custkey, c_name, c_mktsegment
       FROM customer
       WHERE EXISTS (SELECT 1 FROM orders
                     WHERE o_custkey = c_custkey
                       AND o_orderpriority = '1-URGENT')
       ORDER BY c_custkey"""

  // ---------------------------------------------------------------- q08
  /** Left-anti join (NOT EXISTS): customers with no urgent orders. */
  private def q08(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
    val ord = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
    cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  private val q08Sql =
    """SELECT c_custkey, c_name
       FROM customer
       WHERE NOT EXISTS (SELECT 1 FROM orders
                         WHERE o_custkey = c_custkey
                           AND o_orderpriority = '1-URGENT')
       ORDER BY c_custkey"""

  // ---------------------------------------------------------------- q09
  /** Left-outer join preserving unmatched rows, counting matches. */
  private def q09(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1999-01-01").cast("timestamp"))
    ord.join(li, ord("o_orderkey") === li("l_orderkey"), "left")
      .groupBy("o_orderkey")
      .agg(count(col("l_orderkey")).as("n_late_items"))
      .filter(col("n_late_items") >= 3)
      .orderBy("o_orderkey")
  }

  private val q09Sql =
    """SELECT o_orderkey, count(l_orderkey) AS n_late_items
       FROM orders LEFT JOIN lineitem
         ON o_orderkey = l_orderkey AND l_shipdate >= TIMESTAMP '1999-01-01'
       GROUP BY o_orderkey
       HAVING count(l_orderkey) >= 3
       ORDER BY o_orderkey"""

  // ---------------------------------------------------------------- q10
  /** Window top-k per group: 2 priciest items of each order. */
  private def q10(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("l_orderkey")
      .orderBy(desc("l_extendedprice"), asc("l_linenumber"))
    Tables.lineitem(s, d)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 2)
      .select("l_orderkey", "l_linenumber", "l_extendedprice", "rn")
      .orderBy("l_orderkey", "rn")
  }

  private val q10Sql =
    """SELECT l_orderkey, l_linenumber, l_extendedprice, rn FROM (
         SELECT l_orderkey, l_linenumber, l_extendedprice,
           row_number() OVER (PARTITION BY l_orderkey
             ORDER BY l_extendedprice DESC, l_linenumber ASC) AS rn
         FROM lineitem) t
       WHERE rn <= 2
       ORDER BY l_orderkey, rn"""

  // ---------------------------------------------------------------- q11
  /** Running total per customer (window frame rowsBetween). */
  private def q11(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .filter(col("o_custkey") <= 100)
      .withColumn("running_spend", round(sum("o_totalprice").over(w), 3))
      .select("o_custkey", "o_orderkey", "o_orderdate", "running_spend")
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
  }

  private val q11Sql =
    """SELECT o_custkey, o_orderkey, o_orderdate,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
         ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),3)
         AS running_spend
       FROM orders
       WHERE o_custkey <= 100
       ORDER BY o_custkey, o_orderdate, o_orderkey"""

  // ---------------------------------------------------------------- q12
  /** lag(): inter-event gap statistics per user (exact microsecond ints). */
  private def q12(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .withColumn("gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .groupBy("user_id")
      .agg(count(col("gap_us")).as("n_gaps"),
           sum("gap_us").as("total_gap_us"),
           max("gap_us").as("max_gap_us"))
      .orderBy("user_id")
  }

  private val q12Sql =
    """SELECT user_id, count(gap_us) AS n_gaps,
       CAST(sum(gap_us) AS BIGINT) AS total_gap_us,
       max(gap_us) AS max_gap_us
       FROM (
         SELECT user_id,
           epoch_us(ts) - lag(epoch_us(ts), 1)
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
         FROM events) t
       GROUP BY user_id
       ORDER BY user_id"""

  // ---------------------------------------------------------------- q13
  /** ROLLUP with coalesced grouping keys (hierarchy totals). */
  private def q13(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(round(sum("l_quantity"), 3).as("sum_qty"),
           count(lit(1)).as("n"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
              coalesce(col("l_linestatus"), lit("ALL")).as("status"),
              col("sum_qty"), col("n"))
      .orderBy("flag", "status")

  private val q13Sql =
    """SELECT coalesce(l_returnflag,'ALL') AS flag,
       coalesce(l_linestatus,'ALL') AS status,
       round(sum(l_quantity),3) AS sum_qty, count(*) AS n
       FROM lineitem
       GROUP BY ROLLUP (l_returnflag, l_linestatus)
       ORDER BY flag, status"""

  // ---------------------------------------------------------------- q14
  /** CUBE over two order dimensions. */
  private def q14(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(round(sum("o_totalprice"), 3).as("sum_price"),
           count(lit(1)).as("n"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
              coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
              col("sum_price"), col("n"))
      .orderBy("status", "priority")

  private val q14Sql =
    """SELECT coalesce(o_orderstatus,'ALL') AS status,
       coalesce(o_orderpriority,'ALL') AS priority,
       round(sum(o_totalprice),3) AS sum_price, count(*) AS n
       FROM orders
       GROUP BY CUBE (o_orderstatus, o_orderpriority)
       ORDER BY status, priority"""

  // ---------------------------------------------------------------- q15
  /** GROUPING SETS via the Dataset API (`Dataset.groupingSets`,
    * Spark 4) — no session temp view is registered, so concurrent
    * queries cannot observe each other's state. */
  private def q15(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum("l_extendedprice"), 3).as("sum_price"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
              coalesce(col("l_linestatus"), lit("ALL")).as("status"),
              col("sum_price"))
      .orderBy("flag", "status")

  private val q15Sql =
    """SELECT coalesce(l_returnflag,'ALL') AS flag,
       coalesce(l_linestatus,'ALL') AS status,
       round(sum(l_extendedprice),3) AS sum_price
       FROM lineitem
       GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
       ORDER BY flag, status"""

  // ---------------------------------------------------------------- q16
  /** Set operations: INTERSECT / EXCEPT / UNION with distinct semantics. */
  private def q16(s: SparkSession, d: String): DataFrame = {
    val custNations = Tables.customer(s, d)
      .select(col("c_nationkey").as("nationkey"))
    val suppNations = Tables.supplier(s, d)
      .select(col("s_nationkey").as("nationkey"))
    val both = custNations.intersect(suppNations)
      .withColumn("src", lit("both"))
    val custOnly = custNations.except(suppNations)
      .withColumn("src", lit("cust_only"))
    both.unionByName(custOnly).orderBy("src", "nationkey")
  }

  private val q16Sql =
    """SELECT * FROM (
         SELECT nationkey, 'both' AS src FROM (
           SELECT c_nationkey AS nationkey FROM customer
           INTERSECT SELECT s_nationkey FROM supplier) a
         UNION ALL
         SELECT nationkey, 'cust_only' AS src FROM (
           SELECT c_nationkey AS nationkey FROM customer
           EXCEPT SELECT s_nationkey FROM supplier) b) t
       ORDER BY src, nationkey"""

  // ---------------------------------------------------------------- q17
  /** DISTINCT + countDistinct / approx sketch cross-check. */
  private def q17(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .agg(countDistinct(col("o_custkey")).as("n_cust"),
           countDistinct(col("o_orderpriority")).as("n_prio"),
           count(lit(1)).as("n_orders"))
      .orderBy("o_orderstatus")

  private val q17Sql =
    """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust,
       count(DISTINCT o_orderpriority) AS n_prio, count(*) AS n_orders
       FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  // ---------------------------------------------------------------- q18
  /** Global sort + limit (TakeOrderedAndProject). */
  private def q18(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(20)

  private val q18Sql =
    """SELECT o_orderkey, o_custkey, o_totalprice
       FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20"""

  // ---------------------------------------------------------------- q19
  /** String scalar functions: upper/length/substring over part. */
  private def q19(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .groupBy("p_type")
      .agg(count(lit(1)).as("n"),
           round(avg(length(col("p_name"))), 4).as("avg_name_len"),
           min(upper(col("p_brand"))).as("min_brand"),
           max(substring(col("p_name"), 1, 5)).as("max_prefix"))
      .orderBy("p_type")

  private val q19Sql =
    """SELECT p_type, count(*) AS n,
       round(avg(length(p_name)),4) AS avg_name_len,
       min(upper(p_brand)) AS min_brand,
       max(substr(p_name,1,5)) AS max_prefix
       FROM part GROUP BY p_type ORDER BY p_type"""

  // ---------------------------------------------------------------- q20
  /** Date/time scalar functions: calendar aggregation. */
  private def q20(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(year(col("o_orderdate")).as("yr"),
               month(col("o_orderdate")).as("mo"))
      .agg(count(lit(1)).as("n_orders"),
           round(sum("o_totalprice"), 3).as("sum_price"))
      .orderBy("yr", "mo")

  private val q20Sql =
    """SELECT CAST(year(o_orderdate) AS INT) AS yr,
       CAST(month(o_orderdate) AS INT) AS mo,
       count(*) AS n_orders, round(sum(o_totalprice),3) AS sum_price
       FROM orders GROUP BY 1, 2 ORDER BY yr, mo"""

  // ---------------------------------------------------------------- q21
  /** JSON-in-string decode (events.props) + conditional agg. */
  private def q21(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
           round(avg("k"), 4).as("avg_k"),
           sum(when(col("k") > 50, 1).otherwise(0)).cast("long").as("n_big"))
      .orderBy("event_type")

  private val q21Sql =
    """SELECT event_type, count(*) AS n,
       round(avg(CAST(json_extract_string(props,'$.k') AS INT)),4) AS avg_k,
       CAST(sum(CASE WHEN CAST(json_extract_string(props,'$.k') AS INT) > 50
                THEN 1 ELSE 0 END) AS BIGINT) AS n_big
       FROM events GROUP BY event_type ORDER BY event_type"""

  // ---------------------------------------------------------------- q22
  /** Tumbling-window aggregation over event time (batch form of the
    * streaming window; oracle via DuckDB time_bucket). */
  private def q22(s: SparkSession, d: String): DataFrame =
    graft.streaming.EventPipeline.windowedAgg(Tables.events(s, d), "6 hours")
      .orderBy("win_start", "event_type")

  private val q22Sql =
    """SELECT time_bucket(INTERVAL '6 hours', ts) AS win_start, event_type,
       count(*) AS n, round(sum(value),3) AS sum_value
       FROM events GROUP BY 1, 2 ORDER BY win_start, event_type"""

  // ---------------------------------------------------------------- q23
  /** Sessionization: 30-minute-inactivity session counts via lag(). */
  private def q23(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 30L * 60 * 1000000, 1)
          .otherwise(0))
      .groupBy("user_id")
      .agg(sum("new_session").cast("long").as("n_sessions"),
           count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  private val q23Sql =
    """SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
       count(*) AS n_events
       FROM (
         SELECT user_id,
           CASE WHEN prev_us IS NULL
                  OR epoch_us(ts) - prev_us > 30*60*1000000
                THEN 1 ELSE 0 END AS new_session
         FROM (
           SELECT user_id, ts,
             lag(epoch_us(ts), 1) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS prev_us
           FROM events) a) b
       GROUP BY user_id
       ORDER BY user_id"""

  // ---------------------------------------------------------------- q24
  /** Built-in regression aggregates (exact global OLS per group) —
    * Spark's regr_* are the Catalyst-native form of the reference's
    * sufficient-statistics aggregation (kernel.cu:53-63). */
  private def q24(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4)
          .as("slope"),
        round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4)
          .as("intercept"),
        regr_count(col("l_extendedprice"), col("l_quantity")).as("n"))
      .orderBy("l_returnflag")

  private val q24Sql =
    """SELECT l_returnflag,
       round(regr_slope(l_extendedprice, l_quantity),4) AS slope,
       round(regr_intercept(l_extendedprice, l_quantity),4) AS intercept,
       CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  // ---------------------------------------------------------------- q25
  /** The engine's custom OLS Aggregator (kernel.cu:42-72 semantics),
    * grouped, oracle-checked against DuckDB's regr_*. */
  private def q25(s: SparkSession, d: String): DataFrame = {
    val ols = udaf(OlsAggregator)
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(ols(col("l_quantity"), col("l_extendedprice")).as("w"))
      .select(col("l_returnflag"),
              round(col("w.w0"), 4).as("w0"),
              round(col("w.w1"), 4).as("w1"))
      .orderBy("l_returnflag")
  }

  private val q25Sql =
    """SELECT l_returnflag,
       round(regr_intercept(l_extendedprice, l_quantity),4) AS w0,
       round(regr_slope(l_extendedprice, l_quantity),4) AS w1
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  // ---------------------------------------------------------------- q26
  /** Two-level meta estimator (avg-of-avgs of per-block closed-form
    * solves, kernel.cu:148-174) in its deterministic exact-quantile
    * layout ([[Ols.fitLinearMetaTiled]]): 8 ntile blocks over the
    * unique (l_orderkey, l_linenumber) order, 2 blocks per "partition".
    * The layout is pure SQL, so the estimator is fully value-oracled —
    * the physical-partition variant ([[Ols.fitLinearMeta]], sampled
    * range bounds) keeps its ScalaTest coverage in OlsSpec. */
  private def q26(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Ols.fitLinearMetaTiled(Tables.lineitem(s, d),
      "l_quantity", "l_extendedprice",
      numPartitions = 4, blocksPerPartition = 2,
      orderCols = Seq("l_orderkey", "l_linenumber"))
    Seq((Rounding.roundTo(w.w0, 4), Rounding.roundTo(w.w1, 4)))
      .toDF("w0", "w1")
  }

  private val q26Sql =
    """WITH base AS (
         SELECT l_quantity AS x, l_extendedprice AS y,
           ntile(8) OVER (ORDER BY l_orderkey, l_linenumber) AS blk
         FROM lineitem
         WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
       b AS (SELECT blk, regr_intercept(y, x) AS w0, regr_slope(y, x) AS w1
             FROM base GROUP BY blk),
       p AS (SELECT floor((blk - 1) / 2) AS pid,
               avg(w0) AS w0, avg(w1) AS w1
             FROM b WHERE w0 IS NOT NULL AND w1 IS NOT NULL
             GROUP BY 1)
       SELECT round(avg(w0), 4) AS w0, round(avg(w1), 4) AS w1 FROM p"""

  // ---------------------------------------------------------------- q27
  /** Iterative EMA-smoothed refit over 3 batches — the reference's
    * do-while loop (kernel.cu:135-217) with exact per-batch OLS.
    * Oracle: the EMA unrolled arithmetically over DuckDB regr_*. */
  private def q27(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
    val batches = (0 until 3).map { i =>
      li.filter(col("l_orderkey") % 3 === i)
    }.iterator
    val r = IterativeTrainer.fit(batches, "l_quantity", "l_extendedprice",
      alpha = 0.2)
    Seq((Rounding.roundTo(r.weights.w0, 4), Rounding.roundTo(r.weights.w1, 4),
         r.iters.toLong))
      .toDF("w0", "w1", "iters")
  }

  // EMA unroll: w = 0.8*e2 + 0.2*(0.8*e1 + 0.2*(0.8*e0 + 0.2*0))
  //               = 0.8*e2 + 0.16*e1 + 0.032*e0   (alpha = 0.2)
  private val q27Sql =
    """WITH b0 AS (SELECT regr_intercept(l_extendedprice, l_quantity) i,
                          regr_slope(l_extendedprice, l_quantity) sl
                   FROM lineitem WHERE l_orderkey % 3 = 0),
          b1 AS (SELECT regr_intercept(l_extendedprice, l_quantity) i,
                        regr_slope(l_extendedprice, l_quantity) sl
                 FROM lineitem WHERE l_orderkey % 3 = 1),
          b2 AS (SELECT regr_intercept(l_extendedprice, l_quantity) i,
                        regr_slope(l_extendedprice, l_quantity) sl
                 FROM lineitem WHERE l_orderkey % 3 = 2)
       SELECT round(0.8*b2.i + 0.16*b1.i + 0.032*b0.i, 4) AS w0,
              round(0.8*b2.sl + 0.16*b1.sl + 0.032*b0.sl, 4) AS w1,
              CAST(3 AS BIGINT) AS iters
       FROM b0, b1, b2"""

  // ---------------------------------------------------------------- q28
  /** As-of join: each purchase matched to the user's most recent click
    * within the preceding hour. Executed via [[graft.operators.AsOf]]
    * (union + sort + running-max window — one shuffle on user_id), not
    * a range join, which would plan as a nested-loop. */
  private def q28(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    graft.operators.AsOf.asofJoin(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"),
        "user_id", "ts", "event_id", toleranceUs = 3600L * 1000000L)
      .select(col("user_id"), col("left_id").as("purchase_id"),
              col("right_id").as("click_id"))
      .orderBy("purchase_id")
  }

  private val q28Sql =
    """SELECT user_id, purchase_id, click_id FROM (
         SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
           row_number() OVER (PARTITION BY p.event_id
             ORDER BY c.ts DESC, c.event_id DESC) AS rn
         FROM events p JOIN events c
           ON p.user_id = c.user_id
          AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
         WHERE p.event_type = 'purchase' AND c.event_type = 'click') t
       WHERE rn = 1
       ORDER BY purchase_id"""

  // ---------------------------------------------------------------- q29
  /** Range/theta join: follow-up orders by the same customer within 30
    * days. Equi-join on the customer key carries the shuffle; the range
    * predicate is a post-join filter — the scalable shape for
    * bounded-interval self-correlation. */
  private def q29(s: SparkSession, d: String): DataFrame = {
    val a = Tables.orders(s, d)
      .select(col("o_orderkey").as("orderkey"), col("o_custkey").as("ck"),
              col("o_orderdate").as("d1"))
    val b = Tables.orders(s, d)
      .select(col("o_orderkey").as("k2"), col("o_custkey").as("ck2"),
              col("o_orderdate").as("d2"))
    a.join(b, col("ck") === col("ck2") &&
        col("d2") > col("d1") &&
        col("d2") <= col("d1") + expr("INTERVAL 30 DAYS"))
      .groupBy("orderkey")
      .agg(count(lit(1)).as("n_followups"))
      .orderBy("orderkey")
  }

  private val q29Sql =
    """SELECT a.o_orderkey AS orderkey, count(*) AS n_followups
       FROM orders a JOIN orders b ON a.o_custkey = b.o_custkey
        AND b.o_orderdate > a.o_orderdate
        AND b.o_orderdate <= a.o_orderdate + INTERVAL 30 DAY
       GROUP BY 1 ORDER BY 1"""

  // ---------------------------------------------------------------- q45
  /** approx_count_distinct (HyperLogLog++) checked against the exact
    * count. Sketch internals differ per engine, so the raw estimate is
    * not oracle-comparable; instead the query emits the exact count
    * plus a `within_5pct` bound flag (rsd = 0.02, so 5% is a 2.5-sigma
    * bound) that the oracle asserts as TRUE — the q133 pattern of
    * value-checking an approximation by its error contract. */
  private def q45(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .agg(countDistinct(col("o_custkey")).as("exact_custs"),
           approx_count_distinct(col("o_custkey"), rsd = 0.02)
             .as("approx_custs"))
      .withColumn("within_5pct",
        abs(col("approx_custs") - col("exact_custs"))
          <= col("exact_custs") * 0.05)
      .drop("approx_custs")
      .orderBy("o_orderstatus")

  private val q45Sql =
    """SELECT o_orderstatus,
       count(DISTINCT o_custkey) AS exact_custs,
       TRUE AS within_5pct
       FROM orders GROUP BY 1 ORDER BY 1"""

  // ---------------------------------------------------------------- q46
  /** Ranking-window suite: rank / dense_rank / lead / ntile over one
    * partitioned sort. */
  private def q46(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    Tables.orders(s, d)
      .filter(col("o_custkey") <= 50)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .withColumn("rnk", rank().over(w).cast("long"))
      .withColumn("drnk", dense_rank().over(w).cast("long"))
      .withColumn("next_key", lead("o_orderkey", 1).over(w))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .orderBy("o_orderstatus", "rnk", "o_orderkey")
  }

  private val q46Sql =
    """SELECT o_orderkey, o_orderstatus, o_totalprice,
       rank() OVER w AS rnk, dense_rank() OVER w AS drnk,
       lead(o_orderkey, 1) OVER w AS next_key,
       ntile(4) OVER w AS quartile
       FROM orders WHERE o_custkey <= 50
       WINDOW w AS (PARTITION BY o_orderstatus
                    ORDER BY o_totalprice DESC, o_orderkey ASC)
       ORDER BY o_orderstatus, rnk, o_orderkey"""

  // ---------------------------------------------------------------- q50
  /** Interval-overlap join: pairs of 7-day order-fulfillment windows of
    * the same customer that overlap (s1 <= e2 AND s2 <= e1). Equi-join
    * on the customer carries the shuffle; the overlap predicate
    * filters post-join. */
  private def q50(s: SparkSession, d: String): DataFrame = {
    val iv = Tables.orders(s, d)
      .select(col("o_orderkey").as("k"), col("o_custkey").as("ck"),
        col("o_orderdate").as("start"),
        (col("o_orderdate") + expr("INTERVAL 7 DAYS")).as("end"))
    iv.as("a").join(iv.as("b"),
        col("a.ck") === col("b.ck") && col("a.k") < col("b.k") &&
          col("a.start") <= col("b.end") && col("b.start") <= col("a.end"))
      .select(col("a.ck").as("custkey"), col("a.k").as("order_a"),
              col("b.k").as("order_b"))
      .orderBy("custkey", "order_a", "order_b")
  }

  private val q50Sql =
    """SELECT a.o_custkey AS custkey, a.o_orderkey AS order_a,
       b.o_orderkey AS order_b
       FROM orders a JOIN orders b
         ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
        AND a.o_orderdate <= b.o_orderdate + INTERVAL 7 DAY
        AND b.o_orderdate <= a.o_orderdate + INTERVAL 7 DAY
       ORDER BY custkey, order_a, order_b"""

  // ---------------------------------------------------------------- q51
  /** Array aggregation: collect_list/collect_set with deterministic
    * ordering (sort before concat — collection order is
    * partition-dependent in both engines). Output stays scalar-typed
    * (CSV strings) so the driver's hash compare sees no array columns. */
  private def q51(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") <= 100)
      .groupBy("l_orderkey")
      .agg(
        size(collect_list(col("l_linenumber"))).cast("long").as("n_lines"),
        concat_ws(",", transform(sort_array(collect_list(col("l_linenumber"))),
          v => v.cast("string"))).as("line_csv"),
        concat_ws(",", sort_array(collect_set(col("l_returnflag"))))
          .as("flag_csv"))
      .orderBy("l_orderkey")

  private val q51Sql =
    """SELECT l_orderkey,
       CAST(len(list(l_linenumber)) AS BIGINT) AS n_lines,
       array_to_string(list_sort(list(l_linenumber)), ',') AS line_csv,
       array_to_string(list_sort(list(DISTINCT l_returnflag)), ',')
         AS flag_csv
       FROM lineitem WHERE l_orderkey <= 100
       GROUP BY l_orderkey ORDER BY l_orderkey"""

  // ---------------------------------------------------------------- q48
  /** Exact interpolated percentiles per group (Spark `percentile` and
    * DuckDB `quantile_cont` both compute type-7 linear interpolation). */
  private def q48(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .agg(round(expr("percentile(o_totalprice, 0.5)"), 3).as("p50"),
           round(expr("percentile(o_totalprice, 0.9)"), 3).as("p90"),
           round(expr("percentile(o_totalprice, 0.99)"), 3).as("p99"))
      .orderBy("o_orderstatus")

  private val q48Sql =
    """SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.5), 3) AS p50,
       round(quantile_cont(o_totalprice, 0.9), 3) AS p90,
       round(quantile_cont(o_totalprice, 0.99), 3) AS p99
       FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  // ---------------------------------------------------------------- q49
  /** Statistical moments: correlation, covariance, spread. */
  private def q49(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(round(corr(col("l_quantity"), col("l_extendedprice")), 4)
             .as("corr_qty_price"),
           round(covar_samp(col("l_quantity"), col("l_extendedprice")), 3)
             .as("covar_qty_price"),
           round(stddev_samp(col("l_discount")), 4).as("stddev_disc"),
           round(var_pop(col("l_quantity")), 4).as("var_qty"))
      .orderBy("l_returnflag")

  private val q49Sql =
    """SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
       round(covar_samp(l_quantity, l_extendedprice), 3) AS covar_qty_price,
       round(stddev_samp(l_discount), 4) AS stddev_disc,
       round(var_pop(l_quantity), 4) AS var_qty
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  // ---------------------------------------------------------------- q54
  /** Right-outer join: every customer kept, recent orders counted —
    * unmatched customers surface with zero/null aggregates. (The date
    * predicate lives on the join's left side, NOT the post-join rows,
    * or unmatched customers would be filtered away.) */
  private def q54(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
    ord.join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"), "right")
      .groupBy("c_custkey", "c_mktsegment")
      .agg(count(col("o_orderkey")).as("n_orders"),
           round(sum("o_totalprice"), 3).as("sum_price"))
      .orderBy("c_custkey")
  }

  private val q54Sql =
    """SELECT c_custkey, c_mktsegment, count(o_orderkey) AS n_orders,
       round(sum(o_totalprice),3) AS sum_price
       FROM orders RIGHT JOIN customer
         ON o_custkey = c_custkey
        AND o_orderdate >= TIMESTAMP '1997-01-01'
       GROUP BY c_custkey, c_mktsegment
       ORDER BY c_custkey"""

  // ---------------------------------------------------------------- q55
  /** Full-outer join: per-customer 1996 vs 1997 order aggregates;
    * customers active in only one year keep nulls on the other side —
    * both unmatched directions are exercised. */
  private def q55(s: SparkSession, d: String): DataFrame = {
    def yearAgg(year: Int, suffix: String) =
      Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit(s"$year-01-01").cast("timestamp") &&
                col("o_orderdate") < lit(s"${year + 1}-01-01").cast("timestamp"))
        .groupBy(col("o_custkey").as(s"ck$suffix"))
        .agg(count(lit(1)).as(s"n_$suffix"),
             round(sum("o_totalprice"), 3).as(s"sum_$suffix"))
    val a = yearAgg(1996, "1996")
    val b = yearAgg(1997, "1997")
    a.join(b, col("ck1996") === col("ck1997"), "full")
      .select(coalesce(col("ck1996"), col("ck1997")).as("custkey"),
              col("n_1996"), col("sum_1996"), col("n_1997"), col("sum_1997"))
      .orderBy("custkey")
  }

  private val q55Sql =
    """WITH a AS (SELECT o_custkey AS ck, count(*) AS n_1996,
                    round(sum(o_totalprice),3) AS sum_1996
                  FROM orders
                  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                    AND o_orderdate < TIMESTAMP '1997-01-01'
                  GROUP BY o_custkey),
          b AS (SELECT o_custkey AS ck, count(*) AS n_1997,
                  round(sum(o_totalprice),3) AS sum_1997
                FROM orders
                WHERE o_orderdate >= TIMESTAMP '1997-01-01'
                  AND o_orderdate < TIMESTAMP '1998-01-01'
                GROUP BY o_custkey)
       SELECT coalesce(a.ck, b.ck) AS custkey,
              n_1996, sum_1996, n_1997, sum_1997
       FROM a FULL OUTER JOIN b ON a.ck = b.ck
       ORDER BY custkey"""

  // ---------------------------------------------------------------- q56
  /** Typed JSON decode (SURVEY §1's events.props mapping):
    * `from_json` → StructType field access AND → MapType with
    * `map_keys` filtering + map explode, aggregated per key. The
    * string-path `get_json_object` surface is q21; this is the typed
    * half of the JSON story. */
  private def q56(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, MapType, StringType, StructField, StructType}
    val structSchema = StructType(Seq(StructField("k", LongType)))
    Tables.events(s, d)
      .withColumn("st", from_json(col("props"), structSchema))
      .withColumn("m", from_json(col("props"),
        MapType(StringType, LongType)))
      .filter(array_contains(map_keys(col("m")), "k"))
      .select(col("event_type"), col("st").getField("k").as("k_typed"),
              size(col("m")).as("n_keys"), col("m"))
      .select(col("event_type"), col("k_typed"), col("n_keys"),
              explode(col("m")).as(Seq("mk", "mv")))
      .groupBy("event_type", "mk")
      .agg(count(lit(1)).as("n"),
           sum("mv").cast("long").as("sum_v"),
           round(avg("k_typed"), 4).as("avg_k"),
           max("n_keys").cast("int").as("max_n_keys"))
      .orderBy("event_type", "mk")
  }

  private val q56Sql =
    """SELECT event_type, mk, count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.' || mk) AS BIGINT))
         AS BIGINT) AS sum_v,
       round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4)
         AS avg_k,
       CAST(max(len(json_keys(props))) AS INT) AS max_n_keys
       FROM (SELECT event_type, props, unnest(json_keys(props)) AS mk
             FROM events
             WHERE list_contains(json_keys(props), 'k')) t
       GROUP BY event_type, mk
       ORDER BY event_type, mk"""

  // ---------------------------------------------------------------- q57
  /** The reference's stdin ingest surface, driver-graded: (x, y) pairs
    * staged as whitespace-separated text (the reference scanf-reads
    * exactly this shape, kernel.cu:92-104), re-read through
    * [[graft.sources.PairSource.readPairs]] (schema'd CSV scan with
    * malformed-row policy), then fit with the exact OLS estimator.
    * The staged content derives from the NATION table, which is
    * SF-invariant, so the fixed staging path yields identical bytes at
    * every scale factor and the DuckDB `read_csv` oracle is
    * path-stable no matter which SF the driver grades. */
  private def q57(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val path = "/tmp/graft_pairs_csv"
    Tables.nation(s, d)
      .select(concat_ws(" ", col("n_nationkey").cast("string"),
        col("n_regionkey").cast("string")).as("value"))
      .coalesce(1).write.mode("overwrite").text(path)
    val pairs = graft.sources.PairSource.readPairs(s, path)
    val n = pairs.count()
    val w = Ols.fitLinearExact(pairs, "x", "y")
    Seq((n, Rounding.roundTo(w.w0, 4), Rounding.roundTo(w.w1, 4)))
      .toDF("n", "w0", "w1")
  }

  private val q57Sql =
    """SELECT CAST(count(*) AS BIGINT) AS n,
       round(regr_intercept(y, x), 4) AS w0,
       round(regr_slope(y, x), 4) AS w1
       FROM read_csv('/tmp/graft_pairs_csv/part-*',
         columns = {'x': 'DOUBLE', 'y': 'DOUBLE'},
         sep = ' ', header = false)"""

  // ---------------------------------------------------------------- q58
  /** Declarative sessionization: the built-in `session_window` gap
    * window (shared with the streaming surface — StreamingSpec runs
    * this same transform under a watermark). Oracle: sessions rebuilt
    * in plain SQL as cumulative lag-gap groups mirroring
    * `session_window`'s exact boundary semantics — the window end
    * (last-event + gap) is EXCLUSIVE, so a gap of exactly the window
    * length starts a NEW session (hence `>=` in the oracle, unlike
    * q23's strictly-greater lag convention). */
  private def q58(s: SparkSession, d: String): DataFrame =
    graft.streaming.EventPipeline.sessionWindows(
        Tables.events(s, d), "30 minutes")
      .orderBy("user_id", "sess_start")

  private val q58Sql =
    """WITH p AS (SELECT user_id, ts, event_id,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id
           ORDER BY ts, event_id) AS prev
         FROM events),
       s AS (SELECT user_id, ts, event_id,
         CASE WHEN prev IS NULL OR epoch_us(ts) - prev >= 30*60*1000000
              THEN 1 ELSE 0 END AS new_s
         FROM p),
       g AS (SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         FROM s)
       SELECT user_id, min(ts) AS sess_start,
         max(ts) + INTERVAL 30 MINUTE AS sess_end,
         count(*) AS n_events
       FROM g GROUP BY user_id, sid
       ORDER BY user_id, sess_start"""

  // ---------------------------------------------------------------- q61
  /** Pivot: order-status columns per priority. Pivot values are given
    * EXPLICITLY (`Seq("F","O","P")`) so Spark skips the extra
    * distinct-values pass — the form that scales (an unbounded-values
    * pivot needs a collect of the pivot column first). Oracle: the
    * standard conditional-aggregation rewrite. */
  private def q61(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(round(sum("o_totalprice"), 3))
      .orderBy("o_orderpriority")

  private val q61Sql =
    """SELECT o_orderpriority,
       round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END),3) AS "F",
       round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END),3) AS "O",
       round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END),3) AS "P"
       FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  // ---------------------------------------------------------------- q62
  /** Correlated scalar subquery (TPC-H Q17 shape) through the
    * spark.sql surface — exercises Catalyst's decorrelation (the
    * subquery becomes an aggregate + join, not a per-row re-scan).
    * The temp view is uniquely named and dropped after analysis, so no
    * session state leaks (the resolved plan no longer needs it). */
  private def q62(s: SparkSession, d: String): DataFrame = {
    val v = s"lineitem_q62_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    Tables.lineitem(s, d).createOrReplaceTempView(v)
    try
      s.sql(
        s"""SELECT sign(sum(l_extendedprice)) *
             (floor(abs(sum(l_extendedprice)) / 7.0D * 1000.0D + 0.5D)
               / 1000.0D) AS avg_yearly
           FROM $v l1
           WHERE l_quantity < (SELECT 0.2D * avg(l_quantity)
                               FROM $v l2
                               WHERE l2.l_partkey = l1.l_partkey)""")
    finally s.catalog.dropTempView(v)
  }

  private val q62Sql =
    """SELECT round(sum(l_extendedprice) / 7.0, 3) AS avg_yearly
       FROM lineitem l1
       WHERE l_quantity < (SELECT 0.2 * avg(l_quantity)
                           FROM lineitem l2
                           WHERE l2.l_partkey = l1.l_partkey)"""

  // --------------------------------------------------------------- q145
  /** SQL TEXT entry surface: a multi-join aggregation submitted as ANSI
    * SQL through `spark.sql` over temp views — the full parse → analyze
    * → optimize → execute lifecycle (SURVEY §3) driven from query TEXT,
    * where every other entry drives the DataFrame API. The oracle runs
    * the IDENTICAL statement, so this also certifies dialect-portable
    * SQL generation. */
  private def q145(s: SparkSession, d: String): DataFrame = {
    val stmt =
      """SELECT n.n_name AS nation, count(*) AS n_orders,
         round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
         FROM %s c
         JOIN %s o ON o.o_custkey = c.c_custkey
         JOIN %s l ON l.l_orderkey = o.o_orderkey
         JOIN %s n ON n.n_nationkey = c.c_nationkey
         WHERE o.o_orderpriority = '1-URGENT'
         GROUP BY n.n_name
         ORDER BY revenue DESC, nation"""
    val names = Seq("customer", "orders", "lineitem", "nation")
      .map(t => t -> s"graft_sql_${t}_${java.util.UUID.randomUUID.toString.replace("-", "")}")
    try {
      names.foreach { case (t, v) =>
        (t match {
          case "customer" => Tables.customer(s, d)
          case "orders"   => Tables.orders(s, d)
          case "lineitem" => Tables.lineitem(s, d)
          case "nation"   => Tables.nation(s, d)
        }).createOrReplaceTempView(v)
      }
      s.sql(stmt.format(names.map(_._2): _*))
    } finally names.foreach { case (_, v) => s.catalog.dropTempView(v) }
  }

  private val q145Sql =
    """SELECT n.n_name AS nation, count(*) AS n_orders,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
       FROM customer c
       JOIN orders o ON o.o_custkey = c.c_custkey
       JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       JOIN nation n ON n.n_nationkey = c.c_nationkey
       WHERE o.o_orderpriority = '1-URGENT'
       GROUP BY n.n_name
       ORDER BY revenue DESC, nation"""

  // ---------------------------------------------------------------- q63
  /** Unpivot (melt): wide per-line charge columns to long
    * (metric, value) rows via the Dataset `unpivot` API; oracle is the
    * UNION ALL rewrite. */
  private def q63(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") <= 50)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "metric", "value")
      .orderBy("l_orderkey", "l_linenumber", "metric")

  private val q63Sql =
    """SELECT l_orderkey, l_linenumber, metric, value FROM (
         SELECT l_orderkey, l_linenumber,
                'l_quantity' AS metric, l_quantity AS value
         FROM lineitem WHERE l_orderkey <= 50
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
         FROM lineitem WHERE l_orderkey <= 50
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
         FROM lineitem WHERE l_orderkey <= 50) t
       ORDER BY l_orderkey, l_linenumber, metric"""

  // ---------------------------------------------------------------- q64
  /** JSON-lines SOURCE (the third source format next to parquet and
    * CSV): rows staged as newline-delimited JSON, re-read through
    * `spark.read.schema(...).json` (schema'd — no inference pass over
    * the data at scale), aggregated. Staged from the SF-invariant
    * nation table like q57, so the fixed path is stable across scale
    * factors and the DuckDB `read_json` oracle always sees the same
    * bytes. */
  private def q64(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val path = "/tmp/graft_nation_jsonl"
    Tables.nation(s, d)
      .select(to_json(struct(col("n_nationkey"), col("n_name"),
        col("n_regionkey"))).as("value"))
      .coalesce(1).write.mode("overwrite").text(path)
    val schema = StructType(Seq(
      StructField("n_nationkey", LongType),
      StructField("n_name", StringType),
      StructField("n_regionkey", LongType)))
    s.read.schema(schema).json(path)
      .groupBy("n_regionkey")
      .agg(count(lit(1)).as("n_nations"),
           min("n_name").as("first_nation"),
           max("n_nationkey").as("max_key"))
      .orderBy("n_regionkey")
  }

  private val q64Sql =
    """SELECT n_regionkey, count(*) AS n_nations,
       min(n_name) AS first_nation, max(n_nationkey) AS max_key
       FROM read_json('/tmp/graft_nation_jsonl/part-*',
         format = 'newline_delimited',
         columns = {'n_nationkey': 'BIGINT', 'n_name': 'VARCHAR',
                    'n_regionkey': 'BIGINT'})
       GROUP BY n_regionkey ORDER BY n_regionkey"""

  // --------------------------------------------------------------- q143
  /** CSV SOURCE as a first-class query: rows staged as a header'd CSV
    * lake file, re-read through `spark.read.schema(...).csv` (schema'd
    * — no inference pass over 100 TB), aggregated. Staged from the
    * SF-invariant nation table like q57/q64, so the fixed path is
    * stable across scale factors and the DuckDB `read_csv` oracle
    * always sees the same bytes — the oracle proving the CSV encoding
    * itself round-trips, not just the aggregate. */
  private def q143(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val path = "/tmp/graft_nation_csv"
    Tables.nation(s, d)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(path)
    val schema = StructType(Seq(
      StructField("n_nationkey", LongType),
      StructField("n_name", StringType),
      StructField("n_regionkey", LongType)))
    s.read.schema(schema).option("header", "true").csv(path)
      .filter(col("n_regionkey") >= 1)
      .groupBy("n_regionkey")
      .agg(count(lit(1)).as("n_nations"),
           min("n_name").as("first_nation"),
           sum("n_nationkey").as("key_sum"))
      .orderBy("n_regionkey")
  }

  private val q143Sql =
    """SELECT n_regionkey, count(*) AS n_nations,
       min(n_name) AS first_nation,
       CAST(sum(n_nationkey) AS BIGINT) AS key_sum
       FROM read_csv('/tmp/graft_nation_csv/part-*',
         columns = {'n_nationkey': 'BIGINT', 'n_name': 'VARCHAR',
                    'n_regionkey': 'BIGINT'},
         header = true)
       WHERE n_regionkey >= 1
       GROUP BY n_regionkey ORDER BY n_regionkey"""

  // --------------------------------------------------------------- q144
  /** ORC SOURCE as a first-class query: the supplier table staged as
    * ORC (the columnar lake format next to parquet), re-read with a
    * pushed filter + pruned projection (SourcesSpec plan-asserts both
    * reach the ORC scan), aggregated. DuckDB reads no ORC, so the
    * oracle replays the same aggregation from the ORIGIN table — the
    * staged bytes must round-trip exactly for the hashes to meet. */
  private def q144(s: SparkSession, d: String): DataFrame = {
    val path = "/tmp/graft_supplier_orc"
    Tables.supplier(s, d)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        col("s_acctbal"))
      .write.mode("overwrite").orc(path)
    s.read.orc(path)
      .filter(col("s_acctbal") > 0)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_suppliers"),
           round(sum("s_acctbal"), 2).as("acctbal_sum"),
           max("s_name").as("last_name"))
      .orderBy("s_nationkey")
  }

  private val q144Sql =
    """SELECT s_nationkey, count(*) AS n_suppliers,
       round(sum(s_acctbal), 2) AS acctbal_sum,
       max(s_name) AS last_name
       FROM supplier WHERE s_acctbal > 0
       GROUP BY s_nationkey ORDER BY s_nationkey"""

  // --------------------------------------------------------------- q148
  /** AVRO SOURCE as a first-class query: the customer table staged as
    * deflate-compressed Avro object container files
    * ([[graft.sources.AvroSource]] — one file per partition through
    * the Hadoop FS API, read back with one task per file and standard
    * Avro schema resolution). DuckDB reads no Avro, so the oracle
    * replays the same aggregation from the ORIGIN table (the q144 ORC
    * pattern) — the staged bytes must round-trip exactly, nulls and
    * all, for the hashes to meet. */
  private def q148(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
    val path = "/tmp/graft_customer_avro"
    graft.sources.AvroSource.write(
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal").cast("double").as("c_acctbal"),
          col("c_mktsegment")),
      path)
    val schema = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_name", StringType),
      StructField("c_nationkey", LongType),
      StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType)))
    graft.sources.AvroSource.read(s, path, schema)
      .filter(col("c_acctbal") > 0)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
           round(sum("c_acctbal"), 2).as("acctbal_sum"),
           max("c_name").as("last_name"),
           countDistinct("c_nationkey").as("n_nations"))
      .orderBy("c_mktsegment")
  }

  private val q148Sql =
    """SELECT c_mktsegment, count(*) AS n_customers,
       round(sum(c_acctbal), 2) AS acctbal_sum,
       max(c_name) AS last_name,
       count(DISTINCT c_nationkey) AS n_nations
       FROM customer WHERE c_acctbal > 0
       GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  // --------------------------------------------------------------- q159
  /** Incremental aggregate maintenance as a first-class query
    * ([[graft.operators.Merge.incrementalAgg]]): yesterday's state =
    * per-priority count/sum over pre-1996 orders; the delta inserts
    * every 1996+ order and deletes the `%7 = 3` slice of the base.
    * The engine maintains the aggregate from state + delta ONLY —
    * the oracle recomputes from scratch over the equivalent final
    * table, so the maintained state must equal a full recompute
    * exactly. The graded sum accumulates INTEGER CENTS
    * (`round(price*100)` as long): a LONG sum is order-independent
    * and engine-exact, where a per-row double→DECIMAL cast can land
    * a cent apart between Spark (shortest-repr HALF_UP) and DuckDB
    * (binary-value rounding) on `x.xx5`-boundary doubles.
    */
  private def q159(s: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(s, d)
      .withColumn("cents", round(col("o_totalprice") * 100, 0).cast("long"))
    val split = lit("1996-01-01").cast("date")
    val base = orders.filter(col("o_orderdate") < split)
    val prev = base.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_rows"),
        sum("cents").as("val_sum"))
    val delta = orders.filter(col("o_orderdate") >= split)
      .withColumn("op", lit("I"))
      .unionByName(base.filter(col("o_orderkey") % 7 === 3)
        .withColumn("op", lit("D")))
      .select(col("o_orderpriority"), col("cents"), col("op"))
    graft.operators.Merge.incrementalAgg(prev, delta,
        keys = Seq("o_orderpriority"), valCol = "cents", opCol = "op")
      .select(col("o_orderpriority"), col("n_rows"),
        col("val_sum").as("price_cents"))
      .orderBy("o_orderpriority")
  }

  private val q159Sql =
    """SELECT o_orderpriority, count(*) AS n_rows,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS price_cents
       FROM orders
       WHERE NOT (o_orderdate < DATE '1996-01-01' AND o_orderkey % 7 = 3)
       GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  // --------------------------------------------------------------- q149
  /** MERGE / CDC upsert as a first-class query
    * ([[graft.operators.Merge.mergeUpsert]]): a deterministic change
    * batch against the customer table — updates (`%7` keys get
    * +100 balance), deletes (`%13` keys, which WIN over a same-batch
    * update for keys divisible by both — CDC compaction semantics),
    * and inserts (`%11` keys re-keyed +1M). The oracle replays the
    * merge relationally (keep ∪ upd ∪ ins minus deletes), so the
    * operator's matched/unmatched/delete arbitration must be exactly
    * SQL MERGE's.
    */
  private def q149(s: SparkSession, d: String): DataFrame = {
    val target = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal").cast("double").as("c_acctbal"),
        col("c_mktsegment"))
    val updates = target.filter(col("c_custkey") % 7 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 100.0)
      .withColumn("op", lit("U"))
    val deletes = target.filter(col("c_custkey") % 13 === 0)
      .withColumn("op", lit("D"))
    val inserts = target.filter(col("c_custkey") % 11 === 0)
      .withColumn("c_custkey", col("c_custkey") + 1000000L)
      .withColumn("c_acctbal", lit(42.0))
      .withColumn("op", lit("I"))
    val merged = graft.operators.Merge.mergeUpsert(
      target, updates.unionByName(deletes).unionByName(inserts),
      keys = Seq("c_custkey"), opCol = Some("op"))
    merged.groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_rows"),
        round(sum("c_acctbal"), 2).as("bal_sum"),
        sum("c_custkey").as("key_sum"))
      .orderBy("c_mktsegment")
  }

  private val q149Sql =
    """WITH keep AS (SELECT c_custkey, c_acctbal, c_mktsegment
           FROM customer WHERE c_custkey % 13 <> 0 AND c_custkey % 7 <> 0),
       upd AS (SELECT c_custkey, c_acctbal + 100 AS c_acctbal, c_mktsegment
           FROM customer WHERE c_custkey % 7 = 0 AND c_custkey % 13 <> 0),
       ins AS (SELECT c_custkey + 1000000 AS c_custkey, 42.0 AS c_acctbal,
               c_mktsegment
           FROM customer WHERE c_custkey % 11 = 0),
       merged AS (SELECT * FROM keep UNION ALL
                  SELECT * FROM upd UNION ALL
                  SELECT * FROM ins)
       SELECT c_mktsegment, count(*) AS n_rows,
         round(sum(c_acctbal), 2) AS bal_sum,
         CAST(sum(c_custkey) AS BIGINT) AS key_sum
       FROM merged GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  // --------------------------------------------------------------- q150
  /** SCD TYPE 2 dimension maintenance as a first-class query
    * ([[graft.operators.Merge.scd2Apply]]): the customer balance as a
    * versioned dimension, two update batches applied in sequence
    * (`%5` keys at t=100 with +50, `%3` keys at t=200 with +70 — keys
    * divisible by 15 accumulate BOTH versions). The oracle rebuilds
    * every version's validity interval arithmetically, so open/close
    * chaining, idempotent no-ops and history preservation are all
    * value-checked per segment.
    */
  /** The q150 versioned dimension, shared with q227's point-in-time
    * join: two [[graft.operators.Merge.scd2Apply]] batches (balances
    * +50.00 at eff 100 for %5 keys, +70.00 at eff 200 for %3 keys)
    * over integer-cent balances — every update is exact LONG
    * arithmetic, so both engines agree bit-for-bit with no FP
    * rounding anywhere in the versioned history. */
  private[queries] def scd2Dim(s: SparkSession, d: String): DataFrame = {
    val base = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"),
        round(col("c_acctbal") * 100, 0).cast("long").as("bal_cents"))
    val dim0 = base
      .withColumn("valid_from", lit(0L))
      .withColumn("valid_to", lit(null).cast("long"))
      .withColumn("is_current", lit(true))
    // updates carry the full attr set (segment is a stable attr that
    // rides along; only bal actually changes)
    val batch1 = base.filter(col("c_custkey") % 5 === 0)
      .withColumn("bal_cents", col("bal_cents") + 5000L)
      .withColumn("eff", lit(100L))
    val batch2 = base.filter(col("c_custkey") % 3 === 0)
      .withColumn("bal_cents", col("bal_cents") + 7000L)
      .withColumn("eff", lit(200L))
    def apply1(dim: DataFrame, b: DataFrame): DataFrame =
      graft.operators.Merge.scd2Apply(dim, b,
        key = "c_custkey", attrs = Seq("c_mktsegment", "bal_cents"),
        effectiveCol = "eff")
    apply1(apply1(dim0, batch1), batch2)
  }

  /** The oracle's rendering of [[scd2Dim]] — the three version
    * generations written closed-form; shared by q150 and q227 so the
    * two oracles can never drift apart. */
  private[queries] val scd2DimCte =
    """b AS (SELECT c_custkey, c_mktsegment,
                  CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
                  FROM customer),
       -- versions: v0 always; v1 for %5 keys (eff 100); v2 for %3 (eff 200)
       v0 AS (SELECT c_custkey, c_mktsegment, bal_cents, 0 AS valid_from,
              CASE WHEN c_custkey % 5 = 0 THEN 100
                   WHEN c_custkey % 3 = 0 THEN 200 END AS valid_to
              FROM b),
       v1 AS (SELECT c_custkey, c_mktsegment,
              bal_cents + 5000 AS bal_cents, 100 AS valid_from,
              CASE WHEN c_custkey % 3 = 0 THEN 200 END AS valid_to
              FROM b WHERE c_custkey % 5 = 0),
       v2 AS (SELECT c_custkey, c_mktsegment,
              bal_cents + 7000 AS bal_cents, 200 AS valid_from,
              NULL AS valid_to
              FROM b WHERE c_custkey % 3 = 0),
       allv AS (SELECT * FROM v0 UNION ALL SELECT * FROM v1
                UNION ALL SELECT * FROM v2)"""

  private def q150(s: SparkSession, d: String): DataFrame = {
    scd2Dim(s, d).groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_versions"),
        sum(when(col("is_current"), 1L).otherwise(0L)).as("n_current"),
        sum(when(col("is_current"), col("bal_cents")))
          .as("cur_bal_cents"),
        sum("valid_from").as("from_sum"),
        sum(coalesce(col("valid_to"), lit(0L))).as("to_sum"))
      .orderBy("c_mktsegment")
  }

  private val q150Sql =
    s"""WITH $scd2DimCte
       SELECT c_mktsegment, count(*) AS n_versions,
         CAST(sum(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_current,
         CAST(sum(CASE WHEN valid_to IS NULL THEN bal_cents END) AS BIGINT)
           AS cur_bal_cents,
         CAST(sum(valid_from) AS BIGINT) AS from_sum,
         CAST(sum(coalesce(valid_to, 0)) AS BIGINT) AS to_sum
       FROM allv GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  // --------------------------------------------------------------- q227
  /** POINT-IN-TIME dimension join over [[scd2Dim]] — the feature-store
    * correctness primitive: each fact joins the dimension VERSION that
    * was valid at the fact's own time (`valid_from ≤ t <
    * valid_to`), never the current row — the "no future feature
    * leakage" guarantee training pipelines audit for. Facts take a
    * deterministic as-of time `o_orderkey % 300` spanning all three
    * version epochs. Execution shape: equi-join on the customer key
    * with the interval predicate as a residual filter — per-key
    * fan-out is the version count (≤3), never a range-join explosion;
    * exactly one version matches each fact by the SCD2 interval
    * partition invariant. */
  private def q227(s: SparkSession, d: String): DataFrame = {
    val dim = scd2Dim(s, d)
    val facts = Tables.orders(s, d)
      .select(col("o_custkey"), pmod(col("o_orderkey"), lit(300L)).as("t"))
    facts.join(dim, facts("o_custkey") === dim("c_custkey") &&
        col("valid_from") <= col("t") &&
        (col("valid_to").isNull || col("t") < col("valid_to")))
      .groupBy(col("c_mktsegment"), col("valid_from"))
      .agg(count(lit(1)).as("n_facts"),
        sum(col("bal_cents")).as("bal_sum"))
      .select(col("c_mktsegment"),
        col("valid_from").cast("long").as("version_from"),
        col("n_facts"), col("bal_sum").cast("long").as("bal_cents_sum"))
      .orderBy("c_mktsegment", "version_from")
  }

  private val q227Sql =
    s"""WITH $scd2DimCte,
       f AS (SELECT o_custkey, o_orderkey % 300 AS t FROM orders)
       SELECT c_mktsegment, CAST(valid_from AS BIGINT) AS version_from,
         count(*) AS n_facts,
         CAST(sum(bal_cents) AS BIGINT) AS bal_cents_sum
       FROM f JOIN allv v ON v.c_custkey = f.o_custkey
         AND v.valid_from <= f.t
         AND (v.valid_to IS NULL OR f.t < v.valid_to)
       GROUP BY c_mktsegment, valid_from
       ORDER BY c_mktsegment, version_from"""

  // --------------------------------------------------------------- q151
  /** COMPACTION as a first-class query ([[graft.operators.Lake
    * .compact]]): the supplier table staged deliberately fragmented
    * (32 shards), compacted to ~rowsPerFile files with the crash-safe
    * tmp-write/verify/swap rewrite, then VALUE-CHECKED: row count
    * must survive exactly (oracle = count from the origin table),
    * the file count must land at ceil(rows/rowsPerFile), and the
    * post-compaction data must still aggregate identically
    * (sum of keys — proves the rewrite shuffled rows, not values). */
  private def q151(s: SparkSession, d: String): DataFrame = {
    val path = "/tmp/graft_supplier_compact"
    Tables.supplier(s, d)
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
      .repartition(32) // manufacture the small-files problem
      .write.mode("overwrite").parquet(path)
    val fragmented = graft.operators.Lake.tableStats(s, path).nFiles
    val rowsPerFile = 100L
    val (before, after, rows) =
      graft.operators.Lake.compact(s, path, rowsPerFile)
    val expectFiles = ((rows + rowsPerFile - 1) / rowsPerFile).toInt
    s.read.parquet(path)
      .agg(count(lit(1)).as("n_rows"), sum("s_suppkey").as("key_sum"))
      .select(col("n_rows"), col("key_sum"),
        lit(before == fragmented && before == 32).as("was_fragmented"),
        lit(after == expectFiles).as("files_ok"),
        (col("n_rows") === rows).as("rows_ok"))
  }

  private val q151Sql =
    """SELECT count(*) AS n_rows,
       CAST(sum(s_suppkey) AS BIGINT) AS key_sum,
       TRUE AS was_fragmented, TRUE AS files_ok, TRUE AS rows_ok
       FROM supplier"""

  // --------------------------------------------------------------- q242
  /** SIZED lake writes, oracle-graded — the write-side discipline
    * q151 grades on the rewrite path, graded here on first write:
    * [[graft.operators.Lake.sizedForWrite]] must land exactly
    * ceil(rows/rowsPerFile) files (`files_exact`) with round-robin
    * balance (`balanced`: per-file row spread bounded by the upstream
    * partition count — each input partition contributes at most one
    * row of imbalance per target). Row survival and content are
    * VALUE-checked: the read-back count and doc_id sum must equal the
    * origin table's, which is what the oracle computes. File-count /
    * per-file-row stats are driver-side metadata reads (the q151
    * pattern) — bounded by the file count, never data-sized.
    */
  private def q242(s: SparkSession, d: String): DataFrame = {
    val path = "/tmp/graft_docs_sized"
    val src = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val upstream = math.max(1, src.rdd.getNumPartitions)
    val rowsPerFile = 100L
    val n = src.count()
    graft.operators.Lake
      .sizedForWrite(src, rowsPerFile, knownRows = Some(n))
      .write.mode("overwrite").parquet(path)
    val expectFiles = (n + rowsPerFile - 1) / rowsPerFile
    val back = s.read.parquet(path)
    val layout = back
      .groupBy(input_file_name().as("f")).agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("nf"), min(col("c")).as("mn"),
        max(col("c")).as("mx"))
      .collect()(0)
    val (nf, mn, mx) = (layout.getLong(0), layout.getLong(1),
      layout.getLong(2))
    back.agg(count(lit(1)).as("n_rows"),
        sum(col("doc_id")).as("id_sum"))
      .select(col("n_rows"), col("id_sum"),
        lit(nf == expectFiles).as("files_exact"),
        lit(mx - mn <= upstream).as("balanced"))
  }

  private val q242Sql =
    """SELECT count(*) AS n_rows,
       CAST(sum(doc_id) AS BIGINT) AS id_sum,
       TRUE AS files_exact, TRUE AS balanced
       FROM documents"""

  // --------------------------------------------------------------- q153
  /** SCHEMA EVOLUTION as a first-class query: a lake table written in
    * two generations — v1 files carry `(o_orderkey, o_custkey)`, v2
    * files add `o_totalprice` — read back through parquet
    * `mergeSchema`, which unifies the footers and nulls the missing
    * column in old files. The oracle recomputes the generation split
    * from the origin table, so the merged read must null exactly the
    * v1 rows and preserve every v2 price. */
  private def q153(s: SparkSession, d: String): DataFrame = {
    val path = "/tmp/graft_orders_evolved"
    val orders = Tables.orders(s, d)
    // generation 1: the first schema, even keys only
    orders.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_custkey"))
      .write.mode("overwrite").parquet(path + "/gen=1")
    // generation 2: schema grew a column, odd keys
    orders.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
      .write.mode("overwrite").parquet(path + "/gen=2")
    s.read.option("mergeSchema", "true").parquet(path)
      .groupBy("gen")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("o_totalprice").isNull, 1L).otherwise(0L))
          .as("n_null_price"),
        round(coalesce(sum("o_totalprice"), lit(0.0)), 2)
          .as("price_sum"),
        sum("o_custkey").as("cust_sum"))
      .orderBy("gen")
  }

  private val q153Sql =
    """SELECT CAST(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2 END AS INT)
         AS gen,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_price,
       round(sum(CASE WHEN o_orderkey % 2 = 1 THEN o_totalprice
                 ELSE 0 END), 2) AS price_sum,
       CAST(sum(o_custkey) AS BIGINT) AS cust_sum
       FROM orders GROUP BY 1 ORDER BY 1"""

  // --------------------------------------------------------------- q154
  /** RANGE-LOOKUP JOIN ([[graft.plans.RangeLookup]]): orders priced
    * into fixed bands by a broadcast of the sorted interval table and a
    * per-row binary search inside one UDF — O(n·log m) with zero
    * fact-side shuffle and no join node, where the built-in plan for
    * this non-equi join is an O(n·m) BroadcastNestedLoopJoin. The
    * oracle replays the same intervals as a plain VALUES join, so the
    * lookup must agree with naive join semantics exactly. */
  private def q154(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bands = Seq(
      (0.0, 50000.0, "xs"), (50000.0, 100000.0, "s"),
      (100000.0, 200000.0, "m"), (200000.0, 350000.0, "l"),
      (350000.0, 1e9, "xl")).toDF("lo", "hi", "band")
    graft.plans.RangeLookup
      .rangeLookup(Tables.orders(s, d), bands, "o_totalprice", "lo", "hi")
      .groupBy("band")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("price_sum"),
        countDistinct("o_custkey").as("n_customers"))
      .orderBy("band")
  }

  private val q154Sql =
    """SELECT band, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS price_sum,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
       FROM orders
       JOIN (VALUES (0.0, 50000.0, 'xs'), (50000.0, 100000.0, 's'),
                    (100000.0, 200000.0, 'm'), (200000.0, 350000.0, 'l'),
                    (350000.0, 1000000000.0, 'xl')) AS b(lo, hi, band)
         ON o_totalprice >= lo AND o_totalprice < hi
       GROUP BY band ORDER BY band"""

  // ---------------------------------------------------------------- q65
  /** The pair format read from a directory staged like q57's, through
    * [[graft.sources.PairSource.readPairs]] (Spark's CSV source with an
    * explicit schema), then aggregated; SourcesSpec and EdgeCaseSpec
    * cover the reader's `file://` paths, missing paths and malformed
    * lines. Staged from the SF-invariant nation table like q57/q64. */
  private def q65(s: SparkSession, d: String): DataFrame = {
    val path = "/tmp/graft_pairs_v2"
    Tables.nation(s, d)
      .select(concat_ws(" ", col("n_nationkey").cast("string"),
        col("n_regionkey").cast("string")).as("value"))
      .coalesce(1).write.mode("overwrite").text(path)
    graft.sources.PairSource.readPairs(s, path)
      .agg(count(lit(1)).as("n"),
           round(sum("x"), 3).as("sum_x"),
           round(avg("y"), 4).as("avg_y"))
  }

  private val q65Sql =
    """SELECT CAST(count(*) AS BIGINT) AS n,
       round(sum(x), 3) AS sum_x, round(avg(y), 4) AS avg_y
       FROM read_csv('/tmp/graft_pairs_v2/part-*',
         columns = {'x': 'DOUBLE', 'y': 'DOUBLE'},
         sep = ' ', header = false)"""

  // ---------------------------------------------------------------- q66
  /** Approximate percentiles (GK sketch) in the EXACT regime: with
    * accuracy ≥ group size the sketch retains every value and
    * `approx_percentile` returns precisely the discrete quantile —
    * DuckDB's `quantile_disc`, bit-identical with NO rounding since
    * both select an actual data value. That makes the sketch operator
    * value-oracle-checkable (unlike the HLL sketch, q45); production
    * accuracy (lower) trades this exactness for bounded memory. */
  private def q66(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(expr("approx_percentile(o_totalprice, 0.5, 2147483647)")
             .as("p50_disc"),
           expr("approx_percentile(o_totalprice, 0.9, 2147483647)")
             .as("p90_disc"))
      .orderBy("o_orderpriority")

  private val q66Sql =
    """SELECT o_orderpriority,
       quantile_disc(o_totalprice, 0.5) AS p50_disc,
       quantile_disc(o_totalprice, 0.9) AS p90_disc
       FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  // ---------------------------------------------------------------- q67
  /** Typed `cogroup` (KeyValueGroupedDataset): per-user click and
    * purchase streams reduced side by side with arbitrary Scala logic
    * — the typed form of a reduce-side join. Both sides shuffle by key
    * ONCE and the per-key iterators stream (no group materialization),
    * so the shape holds at scale; here the custom logic is simple
    * enough that the oracle is the aggregate-and-full-outer-join
    * rewrite. */
  private def q67(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    def side(t: String) = ev.filter(col("event_type") === t)
      .select(col("user_id"), col("value")).as[(Long, Double)]
    side("click").groupByKey(_._1)
      .cogroup(side("purchase").groupByKey(_._1)) { (u, clicks, purchases) =>
        var nc = 0L; var sc = 0.0
        clicks.foreach { c => nc += 1; sc += c._2 }
        var np = 0L; var sp = 0.0
        purchases.foreach { p => np += 1; sp += p._2 }
        Iterator.single((u, nc, Rounding.roundTo(sc, 3),
          np, Rounding.roundTo(sp, 3)))
      }
      .toDF("user_id", "n_clicks", "sum_click_value",
        "n_purchases", "sum_purch_value")
      .orderBy("user_id")
  }

  private val q67Sql =
    """WITH c AS (SELECT user_id, count(*) AS nc, sum(value) AS sc
                  FROM events WHERE event_type = 'click' GROUP BY user_id),
          p AS (SELECT user_id, count(*) AS np, sum(value) AS sp
                FROM events WHERE event_type = 'purchase' GROUP BY user_id)
       SELECT coalesce(c.user_id, p.user_id) AS user_id,
         CAST(coalesce(nc, 0) AS BIGINT) AS n_clicks,
         round(coalesce(sc, 0), 3) AS sum_click_value,
         CAST(coalesce(np, 0) AS BIGINT) AS n_purchases,
         round(coalesce(sp, 0), 3) AS sum_purch_value
       FROM c FULL OUTER JOIN p ON c.user_id = p.user_id
       ORDER BY user_id"""

  // ---------------------------------------------------------------- q68
  /** Data-quality gate ([[graft.operators.Quality.profile]]): one-pass
    * row count + null counts + named rule-violation counts over
    * lineitem — the pre-ingest validation step of a training-data
    * pipeline, as a single codegen'd aggregation. */
  private def q68(s: SparkSession, d: String): DataFrame =
    graft.operators.Quality.profile(Tables.lineitem(s, d),
      nullCols = Seq("l_quantity", "l_shipdate"),
      rules = Seq(
        "disc_out_of_range" ->
          (col("l_discount") < 0.0 || col("l_discount") > 0.1),
        "qty_out_of_range" ->
          (col("l_quantity") < 1.0 || col("l_quantity") > 50.0),
        "ship_before_epoch" ->
          (col("l_shipdate") < lit("1992-01-01").cast("timestamp"))))

  private val q68Sql =
    """SELECT count(*) AS n_rows,
       CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS nulls_l_quantity,
       CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS nulls_l_shipdate,
       CAST(sum(CASE WHEN l_discount < 0.0 OR l_discount > 0.1
                THEN 1 ELSE 0 END) AS BIGINT) AS disc_out_of_range,
       CAST(sum(CASE WHEN l_quantity < 1.0 OR l_quantity > 50.0
                THEN 1 ELSE 0 END) AS BIGINT) AS qty_out_of_range,
       CAST(sum(CASE WHEN l_shipdate < TIMESTAMP '1992-01-01'
                THEN 1 ELSE 0 END) AS BIGINT) AS ship_before_epoch
       FROM lineitem"""

  // ---------------------------------------------------------------- q82
  /** Salted skew join ([[graft.operators.Skew.saltedJoin]]), driver-
    * graded: results must be IDENTICAL to the plain equi-join (the salt
    * changes only partitioning), so the plain join IS the oracle. The
    * plan-level property (hot key spread over saltFactor reducers) is
    * asserted in SkewSpec.
    */
  private def q82(s: SparkSession, d: String): DataFrame = {
    val facts = Tables.lineitem(s, d)
      .select(col("l_suppkey").as("suppkey"),
        col("l_extendedprice"), col("l_quantity"))
    val dim = Tables.supplier(s, d)
      .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
    graft.operators.Skew.saltedJoin(facts, dim, "suppkey", saltFactor = 8)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_items"),
           round(sum("l_quantity"), 3).as("sum_qty"),
           round(sum("l_extendedprice"), 3).as("sum_price"))
      .orderBy("s_nationkey")
  }

  private val q82Sql =
    """SELECT s_nationkey, count(*) AS n_items,
       round(sum(l_quantity), 3) AS sum_qty,
       round(sum(l_extendedprice), 3) AS sum_price
       FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
       GROUP BY s_nationkey ORDER BY s_nationkey"""

  // ---------------------------------------------------------------- q83
  /** Two-feature exact OLS ([[graft.engine.Ols.fitRidge2Plan]] at λ = 0):
    * `l_extendedprice = w0 + w1·l_quantity + w2·l_discount` — the
    * multivariate extension of the reference's closed-form kernel, as
    * one aggregation + Cramer's rule scalar expressions (nothing
    * collected). The oracle repeats the identical normal-equation
    * arithmetic term for term.
    */
  private def q83(s: SparkSession, d: String): DataFrame =
    Ols.fitRidge2Plan(Tables.lineitem(s, d),
        "l_quantity", "l_discount", "l_extendedprice", 0.0)
      .select(round(col("w0"), 4).as("w0"), round(col("w1"), 4).as("w1"),
        round(col("w2"), 4).as("w2"))

  private val q83Sql =
    """WITH a AS (SELECT count(*)::DOUBLE AS n,
         sum(l_quantity) AS s1, sum(l_discount) AS s2,
         sum(l_quantity*l_quantity) AS s11,
         sum(l_discount*l_discount) AS s22,
         sum(l_quantity*l_discount) AS s12,
         sum(l_extendedprice) AS sy,
         sum(l_quantity*l_extendedprice) AS s1y,
         sum(l_discount*l_extendedprice) AS s2y
       FROM lineitem
       WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
         AND l_extendedprice IS NOT NULL),
       b AS (SELECT
         n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
           + s2*(s1*s12 - s11*s2) AS det,
         sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y)
           + s2*(s1y*s12 - s11*s2y) AS d0,
         n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2)
           + s2*(s1*s2y - s1y*s2) AS d1,
         n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2)
           + sy*(s1*s12 - s11*s2) AS d2,
         n*s11*s22 AS diag
       FROM a)
       SELECT
         CASE WHEN det IS NULL OR abs(det) <= 1e-12 * abs(diag)
              THEN 'NaN'::DOUBLE ELSE round(d0/det, 4) END AS w0,
         CASE WHEN det IS NULL OR abs(det) <= 1e-12 * abs(diag)
              THEN 'NaN'::DOUBLE ELSE round(d1/det, 4) END AS w1,
         CASE WHEN det IS NULL OR abs(det) <= 1e-12 * abs(diag)
              THEN 'NaN'::DOUBLE ELSE round(d2/det, 4) END AS w2
       FROM b"""

  // ---------------------------------------------------------------- q85
  /** RANGE-framed window + first_value (§2.5 coverage the ROWS-framed
    * suites don't touch): per customer order, the rolling 30-day sum
    * and count of that customer's order totals — a VALUE-range frame,
    * so same-day peer rows are always included together regardless of
    * tie order — plus the customer's first order key via a
    * deterministically tie-broken ROWS frame.
    */
  private def q85(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d)
      .filter(col("o_custkey") <= 100)
      .select(col("o_custkey").as("custkey"), col("o_orderkey"),
        datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
          .cast("long").as("days"),
        col("o_totalprice"))
    // 29 PRECEDING: days d-29 … d inclusive = a true 30-day window
    // (30 PRECEDING would span 31 calendar days)
    val wr = Window.partitionBy("custkey").orderBy("days")
      .rangeBetween(-29, Window.currentRow)
    val wf = Window.partitionBy("custkey")
      .orderBy(col("days"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("sum_30d", round(sum("o_totalprice").over(wr), 2))
      .withColumn("n_30d", count(lit(1)).over(wr).cast("long"))
      .withColumn("first_key", first("o_orderkey").over(wf))
      .drop("o_totalprice")
      .orderBy("custkey", "o_orderkey")
  }

  private val q85Sql =
    """SELECT custkey, o_orderkey, days,
       round(sum(o_totalprice) OVER wr, 2) AS sum_30d,
       count(*) OVER wr AS n_30d,
       first_value(o_orderkey) OVER wf AS first_key
       FROM (SELECT o_custkey AS custkey, o_orderkey,
           CAST(date_diff('day', TIMESTAMP '1970-01-01', o_orderdate)
             AS BIGINT) AS days,
           o_totalprice
         FROM orders WHERE o_custkey <= 100) t
       WINDOW
         wr AS (PARTITION BY custkey ORDER BY days
                RANGE BETWEEN 29 PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY custkey ORDER BY days, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       ORDER BY custkey, o_orderkey"""

  // ----------------------------------------------------------------

  val entries: Seq[Query] = Seq(
    Query("q82_salted_join", q82, q82Sql),
    Query("q83_ols_multi", q83, q83Sql),
    Query("q85_range_frame", q85, q85Sql),
    Query("q01_pricing_summary", q01, q01Sql),
    Query("q02_filter_project", q02, q02Sql),
    Query("q03_top_revenue_orders", q03, q03Sql),
    Query("q04_semi_join_priority", q04, q04Sql),
    Query("q05_star_join_revenue", q05, q05Sql),
    Query("q06_forecast_revenue", q06, q06Sql),
    Query("q07_semi_join_urgent", q07, q07Sql),
    Query("q08_anti_join_no_orders", q08, q08Sql),
    Query("q09_outer_join_late", q09, q09Sql),
    Query("q10_window_topk", q10, q10Sql),
    Query("q11_running_total", q11, q11Sql),
    Query("q12_lag_gaps", q12, q12Sql),
    Query("q13_rollup", q13, q13Sql),
    Query("q14_cube", q14, q14Sql),
    Query("q15_grouping_sets", q15, q15Sql),
    Query("q16_set_ops", q16, q16Sql),
    Query("q17_count_distinct", q17, q17Sql),
    Query("q18_topn_orders", q18, q18Sql),
    Query("q19_string_funcs", q19, q19Sql),
    Query("q20_date_funcs", q20, q20Sql),
    Query("q21_json_props", q21, q21Sql),
    Query("q22_event_windows", q22, q22Sql),
    Query("q23_sessionization", q23, q23Sql),
    Query("q24_regr_builtin", q24, q24Sql),
    Query("q25_ols_aggregator", q25, q25Sql),
    Query("q26_ols_meta", q26, q26Sql),
    Query("q27_iterative_ema", q27, q27Sql),
    Query("q28_asof_join", q28, q28Sql),
    Query("q29_range_join_followups", q29, q29Sql),
    Query("q45_approx_distinct", q45, q45Sql),
    Query("q46_window_suite", q46, q46Sql),
    Query("q48_percentiles", q48, q48Sql),
    Query("q49_stat_moments", q49, q49Sql),
    Query("q50_interval_overlap", q50, q50Sql),
    Query("q51_array_agg", q51, q51Sql),
    Query("q54_right_outer", q54, q54Sql),
    Query("q55_full_outer", q55, q55Sql),
    Query("q56_json_typed", q56, q56Sql),
    Query("q57_pair_ingest", q57, q57Sql),
    Query("q58_session_windows", q58, q58Sql),
    Query("q61_pivot", q61, q61Sql),
    Query("q62_correlated_subquery", q62, q62Sql),
    Query("q63_unpivot", q63, q63Sql),
    Query("q64_json_source", q64, q64Sql),
    Query("q143_csv_source", q143, q143Sql),
    Query("q144_orc_source", q144, q144Sql),
    Query("q148_avro_source", q148, q148Sql),
    Query("q149_merge_upsert", q149, q149Sql),
    Query("q150_scd2", q150, q150Sql),
    Query("q227_point_in_time", q227, q227Sql),
    Query("q151_compaction", q151, q151Sql),
    Query("q242_sized_writes", q242, q242Sql),
    Query("q153_schema_evolution", q153, q153Sql),
    Query("q154_range_lookup", q154, q154Sql),
    Query("q159_incremental_agg", q159, q159Sql),
    Query("q145_sql_text", q145, q145Sql),
    Query("q65_pairs_dsv2", q65, q65Sql),
    Query("q66_approx_percentile", q66, q66Sql),
    Query("q67_cogroup", q67, q67Sql),
    Query("q68_data_quality", q68, q68Sql))
}
