package graft.queries

import scala.jdk.CollectionConverters._

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import graft.operators.{Exec, Scope}
// cross-engine deterministic rounding shadows functions.round
import graft.functions.Rounding.{roundTo => round}

import graft.Tables
import graft.streaming.{ChunkReplay, ChunkStore}
import graft.functions.TextFunctions.words

/** Round-8 lifecycle & market-structure operators: survival analysis,
  * association rules, k-core decomposition, DSIR-style importance
  * weighting, difference-in-differences, and an l-diversity audit.
  * Oracle discipline matches [[Signals]]: shared rounding kernel,
  * integer-exact graded sums (money as cents, FP only behind a
  * quantization), total-order ranks on every top-k.
  */
object Lifecycle {

  // --------------------------------------------------------------- q205
  /** Kaplan-Meier survival curve over customer lifetimes (orders
    * table): per-customer lifetime = days between first and last
    * order; a customer whose last order falls within 90 days of the
    * corpus end is CENSORED (still alive at observation end),
    * otherwise the last order marks churn. The estimator's risk sets
    * are exact integer counts (`n_risk(t) = #{lifetime ≥ t}` via one
    * descending cumulative sum over the day-cardinality lifetime
    * table); the survival product is `exp(Σ ln(1 − d/n))` quantized
    * to 9 dp — the q72 contract: libm ln/exp differ across engines by
    * ulps, far below the grid. Distribution shape: the corpus-sized
    * input collapses to per-customer rows in ONE aggregation, then to
    * per-day rows; the windows run over the bounded day table only.
    */
  private def q205(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val day = datediff(to_date(col("o_orderdate")),
      lit("1990-01-01").cast("date")).cast("long")
    val users = Tables.orders(s, d)
      .select(col("o_custkey"), day.as("day"))
      .groupBy("o_custkey")
      .agg(min("day").as("d0"), max("day").as("d1"))
    val end = users.agg(max("d1").as("endday"))
    val lifetimes = users.crossJoin(broadcast(end))
      .select((col("d1") - col("d0")).as("t"),
        (col("endday") - col("d1") >= 90).as("died"))
      .groupBy("t")
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("died"), 1L).otherwise(0L)).as("d"))
    // risk set: all users with lifetime >= t — one descending cumsum
    // over the (bounded) day-cardinality table
    val byTDesc = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byTAsc = Window.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val atRisk = lifetimes
      .withColumn("n_risk", sum(col("n_users")).over(byTDesc))
      .filter(col("d") > 0)
      .withColumn("factor",
        lit(1.0) - col("d").cast("double") / col("n_risk").cast("double"))
    atRisk
      .select(col("t").as("t_days"), col("n_risk"),
        col("d").as("n_events"),
        when(min(col("factor")).over(byTAsc) === 0.0, lit(0.0))
          .otherwise(round(exp(sum(log(col("factor"))).over(byTAsc)), 9))
          .as("survival"))
      .orderBy("t_days")
  }

  private val q205Sql =
    """WITH u AS (SELECT o_custkey,
           min(datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)))
             AS d0,
           max(datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)))
             AS d1
         FROM orders GROUP BY o_custkey),
       e AS (SELECT max(d1) AS endday FROM u),
       lt AS (SELECT CAST(u.d1 - u.d0 AS BIGINT) AS t,
                count(*) AS n_users,
                sum(CASE WHEN e.endday - u.d1 >= 90 THEN 1 ELSE 0 END) AS d
              FROM u, e GROUP BY 1),
       r AS (SELECT t, n_users, d,
               sum(n_users) OVER (ORDER BY t DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
             FROM lt),
       f AS (SELECT t, n_risk, d,
               1.0 - d::DOUBLE / n_risk::DOUBLE AS factor
             FROM r WHERE d > 0)
       SELECT t AS t_days, CAST(n_risk AS BIGINT) AS n_risk,
         CAST(d AS BIGINT) AS n_events,
         CASE WHEN min(factor) OVER w = 0.0 THEN 0.0
              ELSE round(exp(sum(ln(factor)) OVER w), 9) END AS survival
       FROM f
       WINDOW w AS (ORDER BY t ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       ORDER BY t_days"""

  // --------------------------------------------------------------- q206
  /** Association rules over order baskets (market-basket analysis):
    * support / confidence / lift for part pairs that co-occur in ≥ 3
    * orders, both rule directions, top 25 by lift under a TOTAL order.
    * The pair generation is a within-basket self-join — bounded by
    * basket size (≤ ~15 items), never corpus² — and every statistic
    * derives from integer co-occurrence counts; the only FP is the
    * final quantized division (operands cast to double first, so both
    * engines run the identical IEEE ops even past 2^53).
    */
  private def q206(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val items = sc.cache(Tables.lineitem(s, d)
      .select(col("l_orderkey").as("oid"), col("l_partkey").as("item"))
      .distinct())
    val nOrders = items.select("oid").distinct().count()
    val supp = items.groupBy("item").agg(count(lit(1)).as("s"))
    val a = items.select(col("oid"), col("item").as("x"))
    val b = items.select(col("oid"), col("item").as("y"))
    val pairs = a.join(b, "oid").filter(col("x") < col("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("sab"))
      .filter(col("sab") >= 3)
    val rules = pairs
      .unionByName(pairs.select(col("y").as("x"), col("x").as("y"),
        col("sab")))
      .join(supp.select(col("item").as("x"), col("s").as("sx")), "x")
      .join(supp.select(col("item").as("y"), col("s").as("sy")), "y")
    val result = rules.select(
        col("x").as("antecedent"), col("y").as("consequent"),
        col("sab").as("support"),
        round(col("sab").cast("double") / col("sx").cast("double"), 6)
          .as("confidence"),
        round(col("sab").cast("double") * lit(nOrders.toDouble) /
          (col("sx").cast("double") * col("sy").cast("double")), 6)
          .as("lift"))
      .orderBy(col("lift").desc, col("support").desc,
        col("antecedent"), col("consequent"))
      .limit(25)
    sc.keep(result)
  }

  private val q206Sql =
    """WITH it AS (SELECT DISTINCT l_orderkey AS oid, l_partkey AS item
           FROM lineitem),
       n AS (SELECT count(DISTINCT oid) AS n FROM it),
       supp AS (SELECT item, count(*) AS s FROM it GROUP BY item),
       p AS (SELECT a.item AS x, b.item AS y, count(*) AS sab
             FROM it a JOIN it b ON a.oid = b.oid AND a.item < b.item
             GROUP BY 1, 2 HAVING count(*) >= 3),
       r AS (SELECT x, y, sab FROM p
             UNION ALL SELECT y, x, sab FROM p)
       SELECT r.x AS antecedent, r.y AS consequent, r.sab AS support,
         round(r.sab::DOUBLE / sx.s::DOUBLE, 6) AS confidence,
         round(r.sab::DOUBLE * n.n::DOUBLE /
           (sx.s::DOUBLE * sy.s::DOUBLE), 6) AS lift
       FROM r JOIN supp sx ON r.x = sx.item
              JOIN supp sy ON r.y = sy.item, n
       ORDER BY lift DESC, support DESC, antecedent, consequent
       LIMIT 25"""

  // --------------------------------------------------------------- q207
  /** k-core decomposition of the order↔part bipartite graph by
    * synchronous peeling: 6 rounds where every node with degree < 6 is
    * removed SIMULTANEOUSLY and the edge set restricted to survivors —
    * the deterministic variant of the classic peel (visit-order
    * peeling is unreproducible across partitionings; the synchronous
    * sweep is a pure function of the graph, so an oracle can unroll it
    * round by round). Output: nodes/edges remaining after each round.
    *
    * Execution: a frontier peel ("MapReduce Algorithms for Big Data
    * Analysis", VLDB 2012) as a chain of RDD shuffles on one
    * `HashPartitioner(spark.sql.shuffle.partitions)`. The symmetric
    * adjacency `(node, nbrs, deg)` is built once with `groupByKey`;
    * each round is then one `reduceByKey` in which a survivor
    * (`deg ≥ 6`) sends its own row and a peeled node sends one
    * decrement to each neighbour and drops out. Rows without a self
    * row (decrements for nodes already gone) and survivors left with
    * degree 0 are dropped, so every edge sends at most one message each
    * way over the whole peel and the state shrinks with the survivors.
    * The readouts (`n_nodes` = surviving rows, `n_edges` = Σdeg / 2)
    * come from one union over the six rounds' shuffle outputs, which
    * Spark re-reads instead of recomputing: the whole peel is ONE job
    * of 8 stages, with nothing persisted or checkpointed, and the
    * result is a local 6-row frame (`LocalRelation`).
    *
    * This is the one query that leaves [[graft.operators.Graph]]'s
    * "no RDDs" rule. Under AQE every exchange and broadcast of a
    * DataFrame loop runs as its own job, and a per-round plan must be
    * materialized or it regrows every round; in an RDD chain the
    * shuffle files ARE the per-round materialization. DataFrame
    * variants measured on a 4-core box, all slower or no faster than
    * the old loop (degree agg + two semi-joins + two checkpoints per
    * round; 43 jobs per run on `LifecycleSpec`'s cascade fixture,
    * against 2 now: the parquet schema read and the peel):
    *  - a checkpointed delta join (recount only the frontier's
    *    neighbours): 41 jobs, no gain;
    *  - generations pinned with `sc.cache` instead of checkpointed:
    *    14.6 s, because the lazy plan grows every round;
    *  - a `collect_list`/struct plan with one exchange per round: 14
    *    jobs, but AQE coalesced each round to one task, no gain.
    */
  private def q207(s: SparkSession, d: String): DataFrame = {
    val k = 6
    val roundsN = 6
    val part = new HashPartitioner(s.conf.get("spark.sql.shuffle.partitions").toInt)
    // A node row is Array(deg, nbrs...), a decrement Array(-count): one
    // primitive array per message, which Spark shuffles with Kryo (a
    // tuple value goes through Java serialization and made the peel
    // about a fifth slower at sf1). A NULL key is a neighbour the SQL
    // joins never keep: it counts toward round 1's degree and is gone
    // after it. It arrives as a self-loop, which the bipartite graph
    // (even order ids, odd part ids) never has, and is counted in `deg`
    // but left out of the neighbour list.
    val adjacency: RDD[(Long, Array[Long])] = Tables.lineitem(s, d)
      .select((col("l_orderkey") * 2).as("src"),
        (col("l_partkey") * 2 + 1).as("dst"))
      .rdd.flatMap { r =>
        def end(i: Int): Seq[(Long, Long)] =
          if (r.isNullAt(i)) Nil
          else Seq(r.getLong(i) -> r.getLong(if (r.isNullAt(1 - i)) i else 1 - i))
        end(0) ++ end(1)
      }
      .groupByKey(part)
      .map { case (node, vs) =>
        val nbrs = vs.toArray.distinct
        (node, nbrs.length.toLong +: nbrs.filter(_ != node))
      }
    // The arrays mutated below are each read from a shuffle or built
    // in this round, never shared.
    def peel(state: RDD[(Long, Array[Long])]): RDD[(Long, Array[Long])] = state
      .flatMap { case (node, row) =>
        if (row(0) >= k) {
          row(0) = math.min(row(0), row.length - 1L) // drops a NULL neighbour
          Iterator(node -> row)
        } else row.iterator.drop(1).map(_ -> Array(-1L))
      }
      .reduceByKey(part, (a, b) => if (b(0) >= 0) { b(0) += a(0); b } else { a(0) += b(0); a })
      .filter(_._2(0) > 0)
    val rounds = Iterator.iterate(adjacency)(peel).slice(1, roundsN + 1).toVector
    val sums = s.sparkContext
      .union(rounds.zipWithIndex.map { case (st, i) => st.map(x => (i, x._2(0))) })
      .aggregate(new Array[Long](2 * roundsN))(
        (acc, x) => { acc(2 * x._1) += 1; acc(2 * x._1 + 1) += x._2; acc },
        (a, b) => { a.indices.foreach(i => a(i) += b(i)); a })
    val rows = (0 until roundsN).map(i => Row(i + 1, sums(2 * i), sums(2 * i + 1) / 2))
    s.createDataFrame(rows.asJava, StructType(Seq(
      StructField("round", IntegerType, nullable = false),
      StructField("n_nodes", LongType, nullable = false),
      StructField("n_edges", LongType))))
  }

  private val q207Sql = {
    // every round CTE is referenced by the next round AND by the stats
    // union, and DuckDB re-evaluates plain CTEs per reference — the
    // chain re-derives e1..e6 combinatorially (measured 62 s at
    // sf0.01, and an sf0.1 replay filled 78 GiB of spill). MATERIALIZED
    // pins each round once: 0.07 s at sf0.01, identical rows.
    def roundCte(i: Int) =
      s"""k$i AS MATERIALIZED (SELECT src AS node FROM e${i - 1}
             GROUP BY src HAVING count(*) >= 6),
         e$i AS MATERIALIZED (SELECT s.src, s.dst FROM e${i - 1} s
             JOIN k$i a ON s.src = a.node
             JOIN k$i b ON s.dst = b.node)"""
    val rounds = (1 to 6).map(roundCte).mkString(",\n       ")
    val stats = (1 to 6).map(i =>
      s"""SELECT $i AS round, count(DISTINCT src) AS n_nodes,
           CAST(count(*) / 2 AS BIGINT) AS n_edges FROM e$i""")
      .mkString("\n       UNION ALL ")
    s"""WITH p AS MATERIALIZED (SELECT DISTINCT l_orderkey * 2 AS src,
           l_partkey * 2 + 1 AS dst FROM lineitem),
       e0 AS MATERIALIZED (SELECT src, dst FROM p
              UNION ALL SELECT dst, src FROM p),
       $rounds
       SELECT * FROM ($stats) ORDER BY round"""
  }

  // --------------------------------------------------------------- q208
  /** DSIR-style importance weights (data selection for language
    * models, Xie et al. 2023 shape): score every document by how much
    * more likely its tokens are under the TARGET distribution (here
    * the English subcorpus) than under the full-corpus distribution —
    * per-token `ln p_tgt(w) − ln p_all(w)` with add-1 smoothing over
    * the shared vocabulary, averaged per document. Top 30 under a
    * total order. Execution: token counts are two aggregations over
    * one cached token projection; the per-word log-ratio table is
    * vocabulary-sized; the per-doc score is one join + aggregation.
    * No model, no RNG — a pure corpus statistic, fully oracle-graded.
    */
  private def q208(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val docs = Tables.documents(s, d)
    val toks = sc.cache(docs
      .select(col("doc_id"), col("lang"), explode(words(col("text"))).as("w")))
    val allCnt = sc.cache(toks.groupBy("w").agg(count(lit(1)).as("ca")))
    val tgtCnt = toks.filter(col("lang") === "en")
      .groupBy("w").agg(count(lit(1)).as("ct"))
    val Seq(ta, tt, v) = {
      val r = toks.agg(count(lit(1)).as("ta"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tt"),
        count_distinct(col("w")).as("v")).head()
      Seq(r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val lw = allCnt.join(tgtCnt, Seq("w"), "left")
      .select(col("w"),
        (log((coalesce(col("ct"), lit(0L)).cast("double") + 1.0) /
            lit((tt + v).toDouble)) -
          log((col("ca").cast("double") + 1.0) / lit((ta + v).toDouble)))
          .as("lw"))
    val result = toks.join(lw, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(col("lw")), 4).as("dsir_weight"))
      .orderBy(col("dsir_weight").desc, col("doc_id"))
      .limit(30)
    sc.keep(result)
  }

  private val q208Sql =
    """WITH toks AS (SELECT doc_id, lang,
           unnest(regexp_split_to_array(trim(text), '\s+')) AS w
         FROM documents),
       ca AS (SELECT w, count(*) AS ca FROM toks GROUP BY w),
       ct AS (SELECT w, count(*) AS ct FROM toks WHERE lang = 'en'
              GROUP BY w),
       tot AS (SELECT count(*) AS ta,
                 sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tt,
                 count(DISTINCT w) AS v
               FROM toks),
       lw AS (SELECT ca.w,
                ln((coalesce(ct.ct, 0)::DOUBLE + 1.0) /
                   (tot.tt + tot.v)::DOUBLE) -
                ln((ca.ca::DOUBLE + 1.0) / (tot.ta + tot.v)::DOUBLE) AS lw
              FROM ca LEFT JOIN ct ON ca.w = ct.w, tot)
       SELECT t.doc_id, count(*) AS n_tokens,
         round(avg(lw.lw), 4) AS dsir_weight
       FROM toks t JOIN lw ON t.w = lw.w
       GROUP BY t.doc_id
       ORDER BY dsir_weight DESC, doc_id
       LIMIT 30"""

  // --------------------------------------------------------------- q209
  /** Difference-in-differences readout per event type: treatment =
    * even user ids, post-period = days after the corpus midpoint; the
    * DiD estimate is (treat_post − treat_pre) − (ctrl_post −
    * ctrl_pre) on mean event value, with a pooled standard error from
    * the four cell variances and the t statistic. All four cells come
    * from ONE conditional aggregation pass (no per-cell scans). Money
    * travels as integer cents; squared sums ride DECIMAL(38,0) so the
    * variance inputs are exact integers in both engines — FP appears
    * only in the final quantized divisions.
    */
  private def q209(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val day = datediff(to_date(col("ts")),
      lit("1990-01-01").cast("date")).cast("long")
    val ev = Tables.events(s, d)
      .select(col("event_type"), col("user_id"), day.as("day"),
        round(col("value") * 100, 0).cast("long").as("cents"))
    val span = ev.agg(min("day").as("d0"), max("day").as("d1"))
    val cells = sc.cache(ev.crossJoin(broadcast(span))
      .select(col("event_type"),
        (col("user_id") % 2 === 0).as("treat"),
        (col("day") > col("d0") +
          ((col("d1") - col("d0")) / lit(2L)).cast("long")).as("post"),
        col("cents")))
    def cell(t: Boolean, p: Boolean, suffix: String): Seq[Column] = {
      val in = col("treat") === t && col("post") === p
      Seq(sum(when(in, 1L).otherwise(0L)).as(s"n_$suffix"),
        sum(when(in, col("cents")).otherwise(0L)).as(s"s_$suffix"),
        sum(when(in, (col("cents") * col("cents"))
            .cast("decimal(38,0)")).otherwise(lit(0).cast("decimal(38,0)")))
          .as(s"q_$suffix"))
    }
    val cols = cell(true, false, "tpre") ++ cell(true, true, "tpost") ++
      cell(false, false, "cpre") ++ cell(false, true, "cpost")
    val agg = sc.cache(cells.groupBy("event_type").agg(cols.head, cols.tail: _*))
    def m(x: String) = round(col(s"s_$x").cast("double") /
      col(s"n_$x").cast("double"), 4)
    def va(x: String) = (col(s"q_$x").cast("double") -
      col(s"s_$x").cast("double") * col(s"s_$x").cast("double") /
        col(s"n_$x").cast("double")) /
      (col(s"n_$x").cast("double") - 1.0)
    val result = agg.select(col("event_type"),
        (col("n_tpre") + col("n_tpost") + col("n_cpre") + col("n_cpost"))
          .as("n_total"),
        m("tpre").as("m_treat_pre"), m("tpost").as("m_treat_post"),
        m("cpre").as("m_ctrl_pre"), m("cpost").as("m_ctrl_post"))
      .withColumn("did", round(col("m_treat_post") - col("m_treat_pre") -
        (col("m_ctrl_post") - col("m_ctrl_pre")), 4))
      .join(agg.select(col("event_type"),
        round(sqrt(va("tpre") / col("n_tpre") + va("tpost") / col("n_tpost") +
          va("cpre") / col("n_cpre") + va("cpost") / col("n_cpost")), 4)
          .as("se")), "event_type")
      .withColumn("t_stat", round(col("did") / col("se"), 4))
      .orderBy("event_type")
    sc.keep(result)
  }

  private val q209Sql =
    """WITH ev AS (SELECT event_type, user_id,
           datediff('day', DATE '1990-01-01', CAST(ts AS DATE)) AS day,
           CAST(round(value * 100) AS BIGINT) AS cents
         FROM events),
       sp AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
       c AS (SELECT event_type, user_id % 2 = 0 AS treat,
               day > sp.d0 + (sp.d1 - sp.d0) // 2 AS post, cents
             FROM ev, sp),
       a AS (SELECT event_type,
         sum(CASE WHEN treat AND NOT post THEN 1 ELSE 0 END) AS n_tpre,
         sum(CASE WHEN treat AND NOT post THEN cents ELSE 0 END) AS s_tpre,
         sum(CASE WHEN treat AND NOT post THEN cents::HUGEINT * cents
             ELSE 0 END) AS q_tpre,
         sum(CASE WHEN treat AND post THEN 1 ELSE 0 END) AS n_tpost,
         sum(CASE WHEN treat AND post THEN cents ELSE 0 END) AS s_tpost,
         sum(CASE WHEN treat AND post THEN cents::HUGEINT * cents
             ELSE 0 END) AS q_tpost,
         sum(CASE WHEN NOT treat AND NOT post THEN 1 ELSE 0 END) AS n_cpre,
         sum(CASE WHEN NOT treat AND NOT post THEN cents ELSE 0 END)
           AS s_cpre,
         sum(CASE WHEN NOT treat AND NOT post THEN cents::HUGEINT * cents
             ELSE 0 END) AS q_cpre,
         sum(CASE WHEN NOT treat AND post THEN 1 ELSE 0 END) AS n_cpost,
         sum(CASE WHEN NOT treat AND post THEN cents ELSE 0 END) AS s_cpost,
         sum(CASE WHEN NOT treat AND post THEN cents::HUGEINT * cents
             ELSE 0 END) AS q_cpost
         FROM c GROUP BY event_type),
       r AS (SELECT event_type,
         CAST(n_tpre + n_tpost + n_cpre + n_cpost AS BIGINT) AS n_total,
         round(s_tpre::DOUBLE / n_tpre::DOUBLE, 4) AS m_treat_pre,
         round(s_tpost::DOUBLE / n_tpost::DOUBLE, 4) AS m_treat_post,
         round(s_cpre::DOUBLE / n_cpre::DOUBLE, 4) AS m_ctrl_pre,
         round(s_cpost::DOUBLE / n_cpost::DOUBLE, 4) AS m_ctrl_post,
         round(sqrt(
           (q_tpre::DOUBLE - s_tpre::DOUBLE * s_tpre::DOUBLE /
             n_tpre::DOUBLE) / (n_tpre::DOUBLE - 1.0) / n_tpre::DOUBLE +
           (q_tpost::DOUBLE - s_tpost::DOUBLE * s_tpost::DOUBLE /
             n_tpost::DOUBLE) / (n_tpost::DOUBLE - 1.0) / n_tpost::DOUBLE +
           (q_cpre::DOUBLE - s_cpre::DOUBLE * s_cpre::DOUBLE /
             n_cpre::DOUBLE) / (n_cpre::DOUBLE - 1.0) / n_cpre::DOUBLE +
           (q_cpost::DOUBLE - s_cpost::DOUBLE * s_cpost::DOUBLE /
             n_cpost::DOUBLE) / (n_cpost::DOUBLE - 1.0) / n_cpost::DOUBLE),
           4) AS se
         FROM a)
       SELECT event_type, n_total, m_treat_pre, m_treat_post,
         m_ctrl_pre, m_ctrl_post,
         round(m_treat_post - m_treat_pre - (m_ctrl_post - m_ctrl_pre), 4)
           AS did,
         se,
         round(round(m_treat_post - m_treat_pre -
           (m_ctrl_post - m_ctrl_pre), 4) / se, 4) AS t_stat
       FROM r ORDER BY event_type"""

  // --------------------------------------------------------------- q210
  /** l-diversity audit — the companion to q193's k-anonymity: a group
    * can be large (k-anonymous) yet still leak if every member shares
    * the same SENSITIVE value. For each quasi-identifier set, count
    * the equivalence classes whose sensitive attribute (account
    * balance bracket, $1000 steps) takes fewer than l = 3 distinct
    * values, and the rows they expose. One grouped count-distinct per
    * QI set, aggregated to a one-row report each.
    */
  private def q210(s: SparkSession, d: String): DataFrame = {
    val l = 3
    val cust = Tables.customer(s, d)
      .withColumn("bracket", floor(col("c_acctbal") / 1000).cast("long"))
    def audit(name: String, qi: Seq[String]): DataFrame =
      cust.groupBy(qi.map(col): _*)
        .agg(count(lit(1)).as("n"),
          count_distinct(col("bracket")).as("div"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("div") < l, 1L).otherwise(0L)).as("n_low_div"),
          sum(when(col("div") < l, col("n")).otherwise(0L))
            .as("n_rows_exposed"),
          min("div").as("min_diversity"))
        .select(lit(name).as("qi_set"), lit(l.toLong).as("l"),
          col("n_groups"), col("n_low_div"), col("n_rows_exposed"),
          col("min_diversity"))
    audit("1_segment", Seq("c_mktsegment"))
      .unionByName(audit("2_nation_segment",
        Seq("c_nationkey", "c_mktsegment")))
      .orderBy("qi_set")
  }

  private val q210Sql =
    """WITH b AS (SELECT c_nationkey, c_mktsegment,
           CAST(floor(c_acctbal / 1000) AS BIGINT) AS bracket
         FROM customer),
       g1 AS (SELECT count(*) AS n, count(DISTINCT bracket) AS div
              FROM b GROUP BY c_mktsegment),
       g2 AS (SELECT count(*) AS n, count(DISTINCT bracket) AS div
              FROM b GROUP BY c_nationkey, c_mktsegment)
       SELECT '1_segment' AS qi_set, CAST(3 AS BIGINT) AS l,
         count(*) AS n_groups,
         CAST(sum(CASE WHEN div < 3 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_low_div,
         CAST(sum(CASE WHEN div < 3 THEN n ELSE 0 END) AS BIGINT)
           AS n_rows_exposed,
         min(div) AS min_diversity
       FROM g1
       UNION ALL
       SELECT '2_nation_segment', CAST(3 AS BIGINT), count(*),
         CAST(sum(CASE WHEN div < 3 THEN 1 ELSE 0 END) AS BIGINT),
         CAST(sum(CASE WHEN div < 3 THEN n ELSE 0 END) AS BIGINT),
         min(div)
       FROM g2
       ORDER BY qi_set"""

  // --------------------------------------------------------------- q266
  /** Log-rank test — the inferential companion to q205's Kaplan-Meier
    * curve: does survival DIFFER between two experiment arms?
    * Customers split by the q120 deterministic hash-arm assignment
    * (`Sampling.hashBucket`, salt "km"); lifetimes and 90-day
    * censoring are exactly q205's. At every distinct event day t the
    * hypergeometric expectation and variance of arm-0 deaths given
    * the margins (n_t at risk, n1_t at risk in arm 0, d_t total
    * deaths):
    * `E1_t = d·n1/n`, `V_t = d·r·(1−r)·(n−d)/(n−1)` with `r = n1/n`,
    * and the statistic χ² = (O1−E1)²/V, z = (O1−E1)/√V.
    *
    * Engine-exact discipline: O1 and all margins are exact LONG
    * counts; E1_t and V_t are FIXED-SHAPE IEEE expressions of those
    * integers (identical in both engines), quantized to 1e-9-unit
    * LONGs per event day and summed exactly — the q240/q248 contract,
    * so the cross-day sum is order-independent. FP reappears only in
    * the final fixed-shape χ²/z from the two quantized sums.
    *
    * Scale: the corpus collapses to per-customer rows in ONE
    * aggregation, then to a (day × 2 arms) grid; every window runs
    * over that bounded grid, never corpus rows.
    */
  /** Shared survival kernel for q266/q302: per-event-day margins of
    * the two hash arms (salt "km", q205's lifetimes + 90-day
    * censoring) — `(t, n1, d1, n, dt)` with `n1`/`d1` = arm-0 at-risk/
    * deaths, `n`/`dt` = totals, filtered to days with ≥1 death. The
    * corpus collapses to per-customer rows in ONE aggregation, then to
    * a (day × 2 arms) grid; all windows run on that bounded grid.
    * Returns the margins frame plus the per-arm table it reads, cached
    * in the caller's scope `sc`.
    */
  private def eventTimeMargins(sc: Scope, s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val spark = s
    import spark.implicits._
    val day = datediff(to_date(col("o_orderdate")),
      lit("1990-01-01").cast("date")).cast("long")
    val users = Tables.orders(s, d)
      .select(col("o_custkey"), day.as("day"))
      .groupBy("o_custkey")
      .agg(min("day").as("d0"), max("day").as("d1"))
    val end = users.agg(max("d1").as("endday"))
    val perArm = sc.cache(users.crossJoin(broadcast(end))
      .select((col("d1") - col("d0")).as("t"),
        (col("endday") - col("d1") >= 90).as("died"),
        graft.operators.Sampling.hashBucket(col("o_custkey"), "km", 2)
          .as("arm"))
      .groupBy("t", "arm")
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("died"), 1L).otherwise(0L)).as("d")))
    // dense (t × arm) grid so the descending at-risk cumsum sees every
    // day in both arms — bounded by day-cardinality × 2
    val grid = perArm.select("t").distinct()
      .crossJoin(Seq(0L, 1L).toDF("arm"))
      .join(perArm, Seq("t", "arm"), "left")
      .na.fill(0L, Seq("n_users", "d"))
    val byArmDesc = Window.partitionBy("arm").orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val atRisk = grid
      .withColumn("n_risk", sum(col("n_users")).over(byArmDesc))
    val byT = atRisk.groupBy("t")
      .agg(sum(when(col("arm") === 0L, col("n_risk")).otherwise(0L))
             .as("n1"),
        sum(when(col("arm") === 0L, col("d")).otherwise(0L)).as("d1"),
        sum("n_risk").as("n"), sum("d").as("dt"))
      .filter(col("dt") > 0)
    (byT, perArm)
  }

  private def q266(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val (byT, perArm) = eventTimeMargins(sc, s, d)
    val r = col("n1").cast("double") / col("n").cast("double")
    val e1t = col("dt").cast("double") * r
    val vt = when(col("n") > 1,
      col("dt").cast("double") * r * (lit(1.0) - r) *
        (col("n") - col("dt")).cast("double") /
        (col("n") - 1L).cast("double")).otherwise(lit(0.0))
    val sums = byT.agg(
      count(lit(1)).as("n_times"),
      sum(col("d1")).as("o1"),
      sum(col("dt")).as("d_total"),
      sum(floor(e1t * lit(1e9) + lit(0.5)).cast("long")).as("e1u"),
      sum(floor(vt * lit(1e9) + lit(0.5)).cast("long")).as("vu"))
    val e1 = col("e1u").cast("double") / lit(1e9)
    val v = col("vu").cast("double") / lit(1e9)
    val dev = col("o1").cast("double") - e1
    // bare floor form to mirror the oracle EXACTLY: z (and in theory
    // e2) can be negative, where signum-aware roundTo diverges from
    // the oracle's floor(x*1e6+0.5)/1e6 on negative half-grid ties
    import graft.functions.Rounding.floorRound
    sc.keep(sums.select(
      col("n_times"), col("o1"),
      floorRound(e1, 6).as("e1"),
      (col("d_total") - col("o1")).as("o2"),
      floorRound(col("d_total").cast("double") - e1, 6).as("e2"),
      floorRound(dev * dev / v, 6).as("chi2"),
      floorRound(dev / sqrt(v), 6).as("z")))
  }

  /** Oracle twin of [[eventTimeMargins]] — the CTE chain ending in
    * `byt(t, n1, d1, n, dt)`, shared verbatim by q266 and q302 so the
    * two survival tests cannot drift apart. `byt` is MATERIALIZED:
    * DuckDB inlines plain CTEs (the q309 lesson), and q302's unrolled
    * Newton chain references the margins ~17 times — without the hint
    * the oracle would scan orders once per reference. */
  private val survivalMarginsCte =
    """u AS (SELECT o_custkey,
           min(datediff('day', DATE '1990-01-01', o_orderdate::DATE)) AS d0,
           max(datediff('day', DATE '1990-01-01', o_orderdate::DATE)) AS d1
         FROM orders GROUP BY o_custkey),
       fin AS (SELECT max(d1) AS endday FROM u),
       pa AS (SELECT d1 - d0 AS t,
                CASE WHEN endday - d1 >= 90 THEN 1 ELSE 0 END AS died,
                ('0x' || substr(md5('km' || o_custkey::VARCHAR), 1, 15))
                  ::BIGINT % 2 AS arm
              FROM u, fin),
       ga AS (SELECT t, arm, count(*) AS n_users,
                CAST(sum(died) AS BIGINT) AS d
              FROM pa GROUP BY t, arm),
       grid AS (SELECT ts.t, a.arm,
                  COALESCE(ga.n_users, 0) AS n_users, COALESCE(ga.d, 0) AS d
                FROM (SELECT DISTINCT t FROM ga) ts
                CROSS JOIN (SELECT 0::BIGINT AS arm UNION ALL SELECT 1) a
                LEFT JOIN ga ON ga.t = ts.t AND ga.arm = a.arm),
       ar AS (SELECT *, CAST(sum(n_users) OVER (PARTITION BY arm
                ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING AND
                CURRENT ROW) AS BIGINT) AS n_risk
              FROM grid),
       byt AS MATERIALIZED (SELECT t,
                 CAST(sum(CASE WHEN arm = 0 THEN n_risk ELSE 0 END)
                   AS BIGINT) AS n1,
                 CAST(sum(CASE WHEN arm = 0 THEN d ELSE 0 END)
                   AS BIGINT) AS d1,
                 CAST(sum(n_risk) AS BIGINT) AS n,
                 CAST(sum(d) AS BIGINT) AS dt
               FROM ar GROUP BY t HAVING sum(d) > 0)"""

  private val q266Sql =
    s"""WITH $survivalMarginsCte,
       terms AS (SELECT *,
                   dt::DOUBLE * (n1::DOUBLE / n::DOUBLE) AS e1t,
                   CASE WHEN n > 1 THEN
                     dt::DOUBLE * (n1::DOUBLE / n::DOUBLE) *
                     (1.0 - n1::DOUBLE / n::DOUBLE) *
                     (n - dt)::DOUBLE / (n - 1)::DOUBLE
                   ELSE 0.0 END AS vt
                 FROM byt),
       s AS (SELECT count(*) AS n_times,
               CAST(sum(d1) AS BIGINT) AS o1,
               CAST(sum(dt) AS BIGINT) AS d_total,
               CAST(sum(CAST(floor(e1t * 1e9 + 0.5) AS BIGINT))
                 AS BIGINT) AS e1u,
               CAST(sum(CAST(floor(vt * 1e9 + 0.5) AS BIGINT))
                 AS BIGINT) AS vu
             FROM terms)
       SELECT n_times, o1,
         floor((e1u::DOUBLE / 1e9) * 1e6 + 0.5) / 1e6 AS e1,
         d_total - o1 AS o2,
         floor((d_total::DOUBLE - e1u::DOUBLE / 1e9) * 1e6 + 0.5) / 1e6
           AS e2,
         floor(((o1::DOUBLE - e1u::DOUBLE / 1e9) *
                (o1::DOUBLE - e1u::DOUBLE / 1e9) / (vu::DOUBLE / 1e9))
               * 1e6 + 0.5) / 1e6 AS chi2,
         floor(((o1::DOUBLE - e1u::DOUBLE / 1e9) /
                sqrt(vu::DOUBLE / 1e9)) * 1e6 + 0.5) / 1e6 AS z
       FROM s"""

  // --------------------------------------------------------------- q302
  /** Cox proportional-hazards fit (binary covariate, Breslow ties,
    * 3 Newton steps) — the EFFECT-SIZE companion to q266's log-rank
    * (which is exactly this model's score test at β=0, a consistency
    * the spec asserts): how much does arm-1 membership multiply the
    * churn hazard? Shares [[eventTimeMargins]] verbatim with q266.
    * Per Newton step, the score U(β) = Σ_t [dx − dt·w] and information
    * I(β) = Σ_t dt·w·(1−w) (w = nx·e^β/(n0+nx·e^β)) are per-event-day
    * FIXED-SHAPE FP terms of exact LONG margins, quantized to
    * 1e-9-unit LONGs and summed exactly (order-independent — the q266
    * contract; exp ulp noise sits ~1e-13 below the grid); β updates
    * are scalar divisions of those quantized sums, bit-identical in
    * both engines. Three 1-row collects of a day-cardinality table =
    * bounded driver state, the reference's own loop shape
    * (kernel.cu:175-188).
    */
  private def q302(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val (byT, perArm) = eventTimeMargins(sc, s, d)
    // covariate x = 1{arm 1}: at-risk nx = n − n1, deaths dx = dt − d1
    val ev = sc.checkpoint(byT.select(col("t"), col("n1").as("n0"),
        (col("n") - col("n1")).as("nx"),
        (col("dt") - col("d1")).as("dx"), col("dt")))
    sc.release(perArm)
    // one Newton evaluation: quantized (U, I) at the given beta
    def step(beta: Double): (Double, Double) = {
      val e = math.exp(beta)
      val w = col("nx").cast("double") * lit(e) /
        (col("n0").cast("double") + col("nx").cast("double") * lit(e))
      val uT = col("dx").cast("double") - col("dt").cast("double") * w
      val iT = col("dt").cast("double") * w * (lit(1.0) - w)
      val row = ev.agg(
        sum(floor(uT * lit(1e9) + lit(0.5)).cast("long")).as("uu"),
        sum(floor(iT * lit(1e9) + lit(0.5)).cast("long")).as("iu"))
        .head()
      (row.getLong(0) / 1e9, row.getLong(1) / 1e9)
    }
    def g(x: Double): Double = math.max(x, 1e-12)
    val (u0, i0) = step(0.0)
    val z0 = u0 / math.sqrt(g(i0))
    val b1 = u0 / g(i0)
    val (u1, i1) = step(b1)
    val b2 = b1 + u1 / g(i1)
    val (u2, i2) = step(b2)
    val b3 = b2 + u2 / g(i2)
    val (_, i3) = step(b3)
    val se = 1.0 / math.sqrt(g(i3))
    def fr(x: Double, n: Int): Double = {
      val p = math.pow(10, n)
      math.floor(x * p + 0.5) / p
    }
    sc.keep(ev.agg(count(lit(1)).as("n_times"),
        sum("dt").as("d_total"), sum("dx").as("dx_total"))
      .select(col("n_times"), col("d_total"), col("dx_total"),
        lit(fr(z0, 6)).as("score_z"),
        lit(fr(b3, 6)).as("beta"),
        lit(fr(math.exp(b3), 6)).as("hazard_ratio"),
        lit(fr(se, 6)).as("se"),
        lit(fr(b3 / se, 6)).as("wald_z")))
  }

  private val q302Sql = {
    // one Newton evaluation at scalar beta expression `b` (a CTE
    // column): quantized (uu, iu) LONG unit sums over ev
    def itCte(bExpr: String, from: String) =
      s"""(SELECT
           CAST(sum(CAST(floor((dx::DOUBLE - dt::DOUBLE *
               (nx::DOUBLE * exp($bExpr)
                / (n0::DOUBLE + nx::DOUBLE * exp($bExpr)))) * 1e9 + 0.5)
             AS BIGINT)) AS BIGINT) AS uu,
           CAST(sum(CAST(floor((dt::DOUBLE *
               (nx::DOUBLE * exp($bExpr)
                / (n0::DOUBLE + nx::DOUBLE * exp($bExpr))) *
               (1.0 - (nx::DOUBLE * exp($bExpr)
                / (n0::DOUBLE + nx::DOUBLE * exp($bExpr))))) * 1e9 + 0.5)
             AS BIGINT)) AS BIGINT) AS iu
         FROM ev$from)"""
    s"""WITH $survivalMarginsCte,
       ev AS MATERIALIZED (SELECT t, n1 AS n0, n - n1 AS nx,
                dt - d1 AS dx, dt
              FROM byt),
       it0 AS ${itCte("0.0", "")},
       s1 AS (SELECT (uu::DOUBLE / 1e9)
                / greatest(iu::DOUBLE / 1e9, 1e-12) AS b FROM it0),
       it1 AS ${itCte("s1.b", ", s1")},
       s2 AS (SELECT s1.b + (it1.uu::DOUBLE / 1e9)
                / greatest(it1.iu::DOUBLE / 1e9, 1e-12) AS b
              FROM it1, s1),
       it2 AS ${itCte("s2.b", ", s2")},
       s3 AS (SELECT s2.b + (it2.uu::DOUBLE / 1e9)
                / greatest(it2.iu::DOUBLE / 1e9, 1e-12) AS b
              FROM it2, s2),
       it3 AS ${itCte("s3.b", ", s3")},
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n_times,
                 CAST(sum(dt) AS BIGINT) AS d_total,
                 CAST(sum(dx) AS BIGINT) AS dx_total
               FROM ev)
       SELECT n_times, d_total, dx_total,
         floor(((it0.uu::DOUBLE / 1e9)
           / sqrt(greatest(it0.iu::DOUBLE / 1e9, 1e-12))) * 1e6 + 0.5)
           / 1e6 AS score_z,
         floor(s3.b * 1e6 + 0.5) / 1e6 AS beta,
         floor(exp(s3.b) * 1e6 + 0.5) / 1e6 AS hazard_ratio,
         floor((1.0 / sqrt(greatest(it3.iu::DOUBLE / 1e9, 1e-12)))
           * 1e6 + 0.5) / 1e6 AS se,
         floor((s3.b / (1.0 / sqrt(greatest(it3.iu::DOUBLE / 1e9,
           1e-12)))) * 1e6 + 0.5) / 1e6 AS wald_z
       FROM tot, it0, s3, it3"""
  }

  // --------------------------------------------------------------- q305
  /** Restricted mean survival time (RMST, τ = 365 days) per
    * experiment arm — the survival effect size clinicians actually
    * report when q302's proportional-hazards assumption is in doubt:
    * the area under each arm's Kaplan-Meier curve up to τ, i.e. the
    * expected days survived in the first year. Shares
    * [[eventTimeMargins]] with q266/q302; each arm's curve uses
    * arm-local margins (days where only the OTHER arm has deaths
    * contribute factor 1 — the divisor is floored inside the division
    * per the ANSI/CSE rule). Survival snaps to the 9-dp grid (the
    * q205 contract) before the interval terms, which quantize to
    * 1e-6-unit LONGs so the cross-day sum is order-independent.
    */
  private def q305(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    import org.apache.spark.sql.expressions.Window
    val tau = 365L
    val (byT0, perArm) = eventTimeMargins(sc, s, d)
    // the margins table is day-cardinality but feeds FOUR plan branches
    // (two union arms × the terms/tail split) — checkpoint it once so
    // the corpus collapse runs once, not four times
    val byT = sc.checkpoint(byT0)
    sc.release(perArm)
    val arms = byT.select(col("t"), lit(0L).as("arm"),
        col("n1").as("n_r"), col("d1").as("dd"))
      .unionByName(byT.select(col("t"), lit(1L).as("arm"),
        (col("n") - col("n1")).as("n_r"),
        (col("dt") - col("d1")).as("dd")))
    val factor = lit(1.0) -
      col("dd").cast("double") / greatest(col("n_r"), lit(1L))
        .cast("double")
    val wAsc = Window.partitionBy("arm").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val surv = arms.withColumn("f", factor)
      .withColumn("s_after",
        when(min(col("f")).over(wAsc) === 0.0, lit(0.0))
          .otherwise(round(exp(sum(log(col("f"))).over(wAsc)), 9)))
    val wLag = Window.partitionBy("arm").orderBy("t")
    val terms = sc.checkpoint(surv
      .withColumn("t_prev", coalesce(lag(col("t"), 1).over(wLag),
        lit(0L)))
      .withColumn("s_prev", coalesce(lag(col("s_after"), 1).over(wLag),
        lit(1.0)))
      .withColumn("seg", col("s_prev") *
        (least(col("t"), lit(tau)) - least(col("t_prev"), lit(tau)))
          .cast("double")))
    val tail = terms.groupBy("arm").agg(
      max(col("t")).as("t_max"),
      // s_after at t_max: t is unique per arm, so max_by is exact
      max_by(col("s_after"), col("t")).as("s_last"))
      .select(col("arm"), (col("s_last") *
        (lit(tau) - least(col("t_max"), lit(tau))).cast("double"))
        .as("tail_seg"))
    val out = terms.groupBy("arm")
      .agg(sum("dd").as("d_total"),
        sum(floor(col("seg") * lit(1e6) + lit(0.5)).cast("long"))
          .as("su"))
      .join(tail, Seq("arm"))
      .select(col("arm"), col("d_total"),
        round((col("su").cast("double") / lit(1e6)) +
          floor(col("tail_seg") * lit(1e6) + lit(0.5)).cast("long")
            .cast("double") / lit(1e6), 4).as("rmst_365"))
      .orderBy("arm")
    sc.keep(out)
  }

  private val q305Sql =
    s"""WITH $survivalMarginsCte,
       arms AS (SELECT t, 0::BIGINT AS arm, n1 AS n_r, d1 AS dd
                FROM byt
                UNION ALL
                SELECT t, 1::BIGINT, n - n1, dt - d1 FROM byt),
       f AS (SELECT t, arm, dd,
               1.0 - dd::DOUBLE / greatest(n_r, 1)::DOUBLE AS f
             FROM arms),
       surv AS (SELECT t, arm, dd,
           CASE WHEN min(f) OVER w = 0.0 THEN 0.0
                ELSE round(exp(sum(ln(f)) OVER w), 9) END AS s_after
         FROM f
         WINDOW w AS (PARTITION BY arm ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       terms AS (SELECT t, arm, dd,
           coalesce(lag(t) OVER wl, 0) AS t_prev,
           coalesce(lag(s_after) OVER wl, 1.0) AS s_prev,
           s_after
         FROM surv
         WINDOW wl AS (PARTITION BY arm ORDER BY t)),
       seg AS (SELECT arm, dd,
           s_prev * (least(t, 365) - least(t_prev, 365))::DOUBLE AS seg,
           t, s_after
         FROM terms),
       tl AS (SELECT arm,
           max_by(s_after, t) * (365 - least(max(t), 365))::DOUBLE
             AS tail_seg
         FROM seg GROUP BY arm)
       SELECT seg.arm, CAST(sum(dd) AS BIGINT) AS d_total,
         round(CAST(sum(CAST(floor(seg * 1e6 + 0.5) AS BIGINT))
             AS BIGINT)::DOUBLE / 1e6
           + CAST(floor(any_value(tail_seg) * 1e6 + 0.5) AS BIGINT)
             ::DOUBLE / 1e6, 4) AS rmst_365
       FROM seg JOIN tl ON seg.arm = tl.arm
       GROUP BY seg.arm
       ORDER BY seg.arm"""

  // --------------------------------------------------------------- q265
  /** t-closeness audit — the third leg of the privacy trio (q193
    * k-anonymity: groups big enough; q210 l-diversity: sensitive
    * values varied enough). A class can be k-anonymous AND l-diverse
    * yet still leak if its sensitive DISTRIBUTION differs sharply
    * from the table's (e.g. a class where 90% sit in the top balance
    * bracket). For each quasi-identifier equivalence class, the
    * earth-mover distance between the class's bracket distribution
    * and the global one under the ordered-distance ground metric
    * (Li/Li/Venkatasubramanian 2007):
    * `EMD = Σ_i |cumP_i − cumQ_i| / (m−1)`.
    *
    * Engine-exact discipline: cum counts stay integers; the per-class
    * distance is accumulated as the SCALED integer
    * `Σ |N·cumP_i − n_c·cumQ_i|` in DECIMAL(38,0) (LONG would
    * overflow at 10⁹-row scale: N·cumP alone reaches ~2×10¹⁸ and the
    * m-term sum exceeds it), and the t = 0.2 violation test is the
    * exact integer comparison `5·scaled > N·n_c·(m−1)` — no FP on the
    * pass/fail path. Only the reported max_emd divides to DOUBLE.
    *
    * Scale: every shuffle is bounded by QI-class × bracket
    * cardinality, never corpus rows — the per-class grid is a
    * broadcast cross join of the class table with the ~dozens-row
    * bracket table; N and m are two driver scalars (the reference's
    * reduce-to-driver pattern).
    */
  private def q265(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val cust = sc.cache(Tables.customer(s, d)
      .withColumn("bracket", floor(col("c_acctbal") / 1000).cast("long")))
    val gb = cust.groupBy("bracket").agg(count(lit(1)).as("qc"))
    val cumQ = gb.withColumn("cum_q",
        sum("qc").over(Window.orderBy("bracket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("bracket", "cum_q")
    val Array(nTotal, m) = {
      val r = gb.agg(sum("qc"), count(lit(1))).head()
      Array(r.getLong(0), r.getLong(1))
    }
    val denomTerms = nTotal * math.max(m - 1, 1L) // still needs ×n_c
    def audit(name: String, qi: Seq[String]): DataFrame = {
      val cls = cust.groupBy(qi.map(col): _*).agg(count(lit(1)).as("n_c"))
      val cb = cust.groupBy((qi :+ "bracket").map(col): _*)
        .agg(count(lit(1)).as("pc"))
      val grid = cls.crossJoin(broadcast(cumQ))
        .join(cb, qi :+ "bracket", "left")
        .na.fill(0L, Seq("pc"))
      val byClass = Window.partitionBy(qi.map(col): _*).orderBy("bracket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val scaled = grid
        .withColumn("cum_p", sum("pc").over(byClass))
        .withColumn("term",
          abs(lit(nTotal).cast(dec) * col("cum_p").cast(dec) -
            col("n_c").cast(dec) * col("cum_q").cast(dec)))
        .groupBy((qi :+ "n_c").map(col): _*)
        .agg(sum(col("term")).cast(dec).as("es"))
      // exact t = 1/5 test: emd > t  ⇔  5·es > N·n_c·(m−1)
      val denom = lit(denomTerms).cast(dec) * col("n_c").cast(dec)
      scaled
        .withColumn("viol", lit(5).cast(dec) * col("es") > denom)
        .agg(count(lit(1)).as("n_classes"),
          sum(when(col("viol"), 1L).otherwise(0L)).as("n_violating"),
          sum(when(col("viol"), col("n_c")).otherwise(0L))
            .as("n_rows_exposed"),
          round(max(col("es").cast("double") /
            (col("n_c").cast("double") * lit(denomTerms.toDouble))), 6)
            .as("max_emd"))
        .select(lit(name).as("qi_set"), lit(0.2).as("t"),
          col("n_classes"), col("n_violating"), col("n_rows_exposed"),
          col("max_emd"))
    }
    sc.keep(audit("1_segment", Seq("c_mktsegment"))
      .unionByName(audit("2_nation_segment",
        Seq("c_nationkey", "c_mktsegment")))
      .orderBy("qi_set"))
  }

  private val q265Sql =
    """WITH b AS (SELECT c_nationkey, c_mktsegment,
           CAST(floor(c_acctbal / 1000) AS BIGINT) AS bracket
         FROM customer),
       gb AS (SELECT bracket, count(*) AS qc FROM b GROUP BY bracket),
       gq AS (SELECT bracket, sum(qc) OVER (ORDER BY bracket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_q
              FROM gb),
       tot AS (SELECT (SELECT count(*) FROM b) AS n,
                      (SELECT count(*) FROM gb) AS m),
       c1 AS (SELECT c_mktsegment AS k1, count(*) AS n_c
              FROM b GROUP BY 1),
       pb1 AS (SELECT c_mktsegment AS k1, bracket, count(*) AS pc
               FROM b GROUP BY 1, 2),
       cum1 AS (SELECT c1.k1, c1.n_c, gq.bracket, gq.cum_q,
                  sum(COALESCE(pb1.pc, 0)) OVER (PARTITION BY c1.k1
                    ORDER BY gq.bracket ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS cum_p
                FROM c1 CROSS JOIN gq
                LEFT JOIN pb1 ON pb1.k1 = c1.k1 AND pb1.bracket = gq.bracket),
       e1 AS (SELECT k1, n_c,
                sum(abs(CAST(n AS HUGEINT) * cum_p -
                        CAST(n_c AS HUGEINT) * cum_q)) AS es
              FROM cum1, tot GROUP BY k1, n_c),
       r1 AS (SELECT count(*) AS n_classes,
                CAST(sum(CASE WHEN 5 * es > CAST(n AS HUGEINT) * n_c * (m - 1)
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
                CAST(sum(CASE WHEN 5 * es > CAST(n AS HUGEINT) * n_c * (m - 1)
                  THEN n_c ELSE 0 END) AS BIGINT) AS n_rows_exposed,
                round(max(CAST(es AS DOUBLE) /
                  (CAST(n_c AS DOUBLE) * (CAST(n AS DOUBLE) * (m - 1)))), 6)
                  AS max_emd
              FROM e1, tot),
       c2 AS (SELECT c_nationkey AS k1, c_mktsegment AS k2, count(*) AS n_c
              FROM b GROUP BY 1, 2),
       pb2 AS (SELECT c_nationkey AS k1, c_mktsegment AS k2, bracket,
                 count(*) AS pc
               FROM b GROUP BY 1, 2, 3),
       cum2 AS (SELECT c2.k1, c2.k2, c2.n_c, gq.bracket, gq.cum_q,
                  sum(COALESCE(pb2.pc, 0)) OVER (PARTITION BY c2.k1, c2.k2
                    ORDER BY gq.bracket ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS cum_p
                FROM c2 CROSS JOIN gq
                LEFT JOIN pb2 ON pb2.k1 = c2.k1 AND pb2.k2 = c2.k2
                  AND pb2.bracket = gq.bracket),
       e2 AS (SELECT k1, k2, n_c,
                sum(abs(CAST(n AS HUGEINT) * cum_p -
                        CAST(n_c AS HUGEINT) * cum_q)) AS es
              FROM cum2, tot GROUP BY k1, k2, n_c),
       r2 AS (SELECT count(*) AS n_classes,
                CAST(sum(CASE WHEN 5 * es > CAST(n AS HUGEINT) * n_c * (m - 1)
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
                CAST(sum(CASE WHEN 5 * es > CAST(n AS HUGEINT) * n_c * (m - 1)
                  THEN n_c ELSE 0 END) AS BIGINT) AS n_rows_exposed,
                round(max(CAST(es AS DOUBLE) /
                  (CAST(n_c AS DOUBLE) * (CAST(n AS DOUBLE) * (m - 1)))), 6)
                  AS max_emd
              FROM e2, tot)
       SELECT '1_segment' AS qi_set, CAST(0.2 AS DOUBLE) AS t, * FROM r1
       UNION ALL
       SELECT '2_nation_segment', CAST(0.2 AS DOUBLE), * FROM r2
       ORDER BY qi_set"""

  // --------------------------------------------------------------- q211
  /** STREAMING stateful session EVICTION, oracle-graded — the last
    * §2.10 capability without a CORRECTNESS row (q177 proved the
    * file-stream-replay pattern; q204 covered the stream-stream join).
    * The events table is re-written into time-ordered, span-scaled
    * chunk files (mtime-sequenced so `maxFilesPerTrigger=1` replays
    * them as separate micro-batches in event-time order — no late
    * data by construction), then streamed through
    * [[graft.streaming.EventPipeline.sessionFinalTallies]]:
    * `flatMapGroupsWithState` in APPEND mode with `EventTimeTimeout`,
    * emitting a user's cumulative segment tally ONLY when the
    * watermark passes `lastEvent + gap` and EVICTS the state. Two
    * far-future sentinel chunks (a dedicated user, +10d and +20d past
    * the corpus end) deterministically drag the one-batch-lagging
    * watermark past every real user's horizon, so by end-of-stream
    * EVERY real session segment has been evicted exactly once —
    * without relying on Spark's trailing no-data batch (which, if it
    * also runs, can only evict the excluded sentinel user). Segment
    * BOUNDARIES depend on micro-batch timing; per-user segment SUMS do
    * not (an eviction break implies ≥6 days of silence ≫ the 30-min
    * gap, so no session ever spans segments) — which is exactly what
    * makes the final per-user rollup equal batch sessionization and
    * lets q23's lag() oracle grade a stateful streaming operator. */
  private def q211(s: SparkSession, d: String): DataFrame =
    // 2-real-chunk budget (was fixed 10-day chunks, which the
    // unaligned absolute origin smeared into FOUR real micro-batches
    // over the ~30-day corpus — a sliver first chunk costing a full
    // batch round, the q272 lesson): the per-user segment SUMS this
    // query grades are chunk-width-independent (see above — an
    // eviction break implies a half-span of silence ≫ the 30-min gap
    // at ANY width ≥ gap), and cross-batch state is still exercised
    // by every user active in both chunks. Width buys nothing
    // semantically past that, and each extra micro-batch costs a
    // fixed state-store commit × partitions + planning round (VERDICT
    // r13 item 5: the streaming replay floor is choreography, not
    // data). The NARROW (6-day, 5-real-batch) configuration stays
    // exercised by StreamingSpec's sessionReplay case, so
    // multi-boundary eviction carries don't lose coverage to the
    // sweep-time trade.
    sessionReplayChunks(s, d, fixedChunkUs = 0L, chunkBudget = 2)

  /** q211's replay body with the chunk width as a parameter —
    * package-private so StreamingSpec can drive the NARROW-chunk
    * configuration (more micro-batches, more eviction-boundary state
    * carries) that the bench-time q211 no longer runs. */
  private[graft] def sessionReplay(s: SparkSession, d: String,
                                   chunkUs: Long): DataFrame =
    sessionReplayChunks(s, d, fixedChunkUs = chunkUs, chunkBudget = 0)

  /** Shared replay body: `chunkBudget > 0` selects span-scaled,
    * origin-anchored chunk widths (exactly `chunkBudget` real
    * micro-batches at any SF — the bench path); otherwise
    * `fixedChunkUs` absolute-origin buckets (the narrow-spec path,
    * where batch DENSITY is the point). */
  private def sessionReplayChunks(s: SparkSession, d: String,
                                  fixedChunkUs: Long,
                                  chunkBudget: Int): DataFrame = Exec.scope { sc =>
    import s.implicits._
    val gapUs = 30L * 60 * 1000000     // q23's 30-min inactivity gap
    val ckpt = sc.tempDir("graft_sess_ckpt")
    val outDir = sc.tempDir("graft_sess_out")

    // the chunk files are a pure function of (dir, chunk width) —
    // built once per session (ChunkStore), replayed read-only by every
    // run with a fresh checkpoint; the stream still processes every
    // micro-batch per run
    val ingest = ChunkStore
      .ensure(s, ("sessionReplay", d, fixedChunkUs, chunkBudget)) { store =>
        val ev = Tables.events(s, d)
          .select(col("user_id").cast("long").as("user_id"),
            unix_micros(col("ts")).as("ts_us"))
        val mm = ev.agg(min("ts_us"), max("ts_us")).head()
        val (minTs, maxTs) = (mm.getLong(0), mm.getLong(1))
        val chunk =
          if (chunkBudget > 0)
            ChunkReplay.chunkId("ts_us",
              ChunkReplay.spanWidth(minTs, maxTs, chunkBudget), minTs)
          else ChunkReplay.chunkId("ts_us", fixedChunkUs, 0L)
        def sentinel(offsetDays: Long) =
          Seq((-1L, maxTs + offsetDays * 86400 * 1000000))
            .toDF("user_id", "ts_us")
        ChunkReplay.writeChunks(ev.withColumn("chunk", chunk), store,
          Seq(sentinel(10), sentinel(20)))
      }

    val tallies = graft.streaming.EventPipeline.sessionFinalTallies(
      ChunkReplay.stream(s, ingest).as[graft.streaming.SessionEvent],
      gapUs, "1 hour")
    // the state-store shuffle width is read from the session conf at
    // query start: narrow it for the stream (per-batch fixed cost is
    // one state-store commit PER partition PER batch — 32 wide is all
    // overhead at this key cardinality). The two far-future sentinels
    // drag the watermark past every real user's horizon DURING the
    // data batches, so the trailing no-data micro-batch contributes
    // nothing here (the class doc: if it also runs, it can only evict
    // the excluded sentinel user) — skipping it removes a whole batch
    // round (state commits + planning) per run and the timing variance
    // of whether it ran before stop()
    ChunkReplay.run(tallies, "append", ckpt,
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false") {
      (b, _) => b.write.mode("append").parquet(outDir)
    }

    val result = s.read.parquet(outDir)
      .filter(col("user_id") >= 0)
      .groupBy("user_id")
      .agg(sum("n_sessions").as("n_sessions"),
        sum("n_events").as("n_events"))
      .orderBy("user_id")
    // the ingest dir belongs to the ChunkStore — only per-run scratch
    // is deleted here
    sc.keep(result)
  }

  /** Streaming result == batch sessionization, so the oracle IS the
    * q23 lag() formulation (30-min strictly-greater gap). */
  private val q211Sql =
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

  // --------------------------------------------------------------- q212
  /** CCNet-style PERPLEXITY FILTER (Wenzek et al. 2020, the classic
    * LLM-pretraining quality split): an add-1-smoothed bigram LM is
    * trained on a deterministic 20% "clean reference" slice
    * (`doc_id % 5 = 0` — the stand-in for CCNet's Wikipedia-trained
    * KenLM), every document is scored by its cross-entropy under that
    * model, and the corpus is split into head/middle/tail at the exact
    * cross-entropy TERCILES. Determinism discipline: each bigram's
    * log-prob is ln of an exact integer rational (counts + smoothing,
    * never a running float), micro-unit (×10⁶) quantized and summed
    * AS A LONG per doc — order-independent by construction — then the
    * per-doc entropy lands on the 10⁻⁴ grid BEFORE the tercile
    * boundaries are taken, so the split thresholds are order
    * statistics of engine-identical values. Scale shape: the model
    * tables are clean-slice-vocabulary-sized (bounded, broadcastable —
    * CCNet's model is a fixed artifact), the corpus side is two
    * map-side joins + one per-doc aggregation, and the tercile
    * boundaries come from [[graft.engine.OrderStat]]'s narrowing
    * kernel (per-round shuffle = `bins` longs), never a single-group
    * percentile buffering the corpus multiset.
    */
  private def q212(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val docs = Tables.documents(s, d)
      .filter(size(words(col("text"))) >= 2)
    val bi = sc.cache(graft.operators.Dedup
      .shingleRowsRaw(docs, "doc_id", "text", 2)
      .withColumnRenamed("id", "doc_id"))
    // the clean-reference model: bigram + prefix counts, V = distinct
    // prefix words + 1 (the UNK slot)
    val bc = bi.filter(col("doc_id") % 5 === 0)
      .groupBy("s").agg(count(lit(1)).as("cb"))
    val pc = bc.select(substring_index(col("s"), " ", 1).as("p"),
        col("cb"))
      .groupBy("p").agg(sum("cb").as("cp"))
    val vRow = pc.agg(count(lit(1)).as("v"))
    // score EVERY doc: P(b|a) = (c(ab)+1)/(c(a·)+V+1), unseen → 0-count
    // EXPLICIT broadcast of both model tables: they are clean-slice-
    // vocabulary-sized (the fixed-artifact posture above), but they
    // come out of aggregations whose Catalyst size estimate inherits
    // the corpus-sized child — the planner chose two corpus-wide
    // shuffle joins for what the contract says are map-side lookups
    val scored = bi
      .withColumn("p", substring_index(col("s"), " ", 1))
      .join(broadcast(bc), Seq("s"), "left")
      .join(broadcast(pc), Seq("p"), "left")
      .crossJoin(broadcast(vRow))
      .select(col("doc_id"),
        round(log((coalesce(col("cb"), lit(0L)).cast("double") + 1.0) /
          (coalesce(col("cp"), lit(0L)).cast("double") +
            col("v").cast("double") + 1.0)) * 1e6, 0)
          .cast("long").as("lu"))
    val perDoc = sc.cache(scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("lu").as("slu"))
      .withColumn("h",
        round(-(col("slu").cast("double") /
          col("n_bigrams").cast("double")) / 1e6, 4)))
    val (_, Seq(t1, t2)) = graft.engine.OrderStat.kthSmallests(
      perDoc, "h",
      graft.engine.OrderStat.quantileRanks(Seq(1.0 / 3, 2.0 / 3)))
    val result = perDoc
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .withColumn("bucket",
        when(col("h") <= t1, "1_head")
          .when(col("h") <= t2, "2_middle")
          .otherwise("3_tail"))
      .groupBy("bucket", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_bigrams").as("n_bigrams"),
        sum(round(col("h") * 1e4, 0).cast("long")).as("sum_h4"))
      .withColumn("avg_h",
        round(col("sum_h4").cast("double") /
          col("n_docs").cast("double") / 1e4, 4))
      .orderBy("bucket", "lang")
    sc.keep(result)
  }

  private val q212Sql =
    """WITH wa AS (SELECT doc_id, lang,
           regexp_split_to_array(trim(text), '\s+') w
         FROM documents),
       bi AS (SELECT doc_id,
           unnest(list_transform(range(1, len(w)),
             i -> w[i] || ' ' || w[i+1])) AS s
         FROM wa WHERE len(w) >= 2),
       bc AS (SELECT s, count(*) AS cb FROM bi
              WHERE doc_id % 5 = 0 GROUP BY s),
       pc AS (SELECT split_part(s, ' ', 1) AS p, sum(cb) AS cp
              FROM bc GROUP BY 1),
       vv AS (SELECT count(*) AS v FROM pc),
       sc AS (SELECT bi.doc_id,
           CAST(round(ln((coalesce(bc.cb, 0)::DOUBLE + 1.0) /
             (coalesce(pc.cp, 0)::DOUBLE + vv.v::DOUBLE + 1.0))
             * 1000000) AS BIGINT) AS lu
         FROM bi
         LEFT JOIN bc ON bi.s = bc.s
         LEFT JOIN pc ON split_part(bi.s, ' ', 1) = pc.p
         CROSS JOIN vv),
       pd AS (SELECT doc_id, count(*) AS n_bigrams,
           CAST(sum(lu) AS BIGINT) AS slu
         FROM sc GROUP BY doc_id),
       ph AS (SELECT doc_id, n_bigrams,
           round(-(slu::DOUBLE / n_bigrams::DOUBLE) / 1000000.0, 4) AS h
         FROM pd),
       nn AS (SELECT count(*) AS c FROM ph),
       ranked AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM ph),
       ks AS (SELECT q, greatest(1, CAST(ceil(q * c) AS BIGINT)) AS k
              FROM (SELECT unnest([1.0/3, 2.0/3]) AS q), nn),
       b AS (SELECT list(r.h ORDER BY ks.q) AS bs
             FROM ks JOIN ranked r ON r.rn = ks.k),
       agg AS (SELECT
           CASE WHEN ph.h <= b.bs[1] THEN '1_head'
                WHEN ph.h <= b.bs[2] THEN '2_middle'
                ELSE '3_tail' END AS bucket,
           wa.lang, count(*) AS n_docs,
           CAST(sum(ph.n_bigrams) AS BIGINT) AS n_bigrams,
           CAST(sum(CAST(round(ph.h * 10000) AS BIGINT)) AS BIGINT)
             AS sum_h4
         FROM ph JOIN wa ON ph.doc_id = wa.doc_id, b
         GROUP BY 1, 2)
       SELECT bucket, lang, n_docs, n_bigrams, sum_h4,
         round(sum_h4::DOUBLE / n_docs::DOUBLE / 10000.0, 4) AS avg_h
       FROM agg ORDER BY bucket, lang"""

  // --------------------------------------------------------------- q213
  /** SPLIT-LEAKAGE AUDIT — the eval-contamination check every LLM
    * pipeline needs before trusting a held-out score: documents are
    * assigned train/val/test by the deterministic hash split (the
    * `Sampling.mixSources` token60 kernel, 80/10/10), and every
    * MinHash near-duplicate pair (the q36 kernel, verbatim — shared
    * CTEs in the oracle so the two can never drift) is classified by
    * the splits it straddles. A near-dup pair crossing train→test
    * means the test doc is effectively IN the training set; the audit
    * reports, per split-pair class, the pair count, the distinct
    * LEAKED docs (the eval-side doc of each cross pair — the
    * quarantine set), and the worst-case similarity. Scale shape: the
    * pair table is LSH-banded (never corpus²) and the split
    * assignment is a map-side hash — the audit adds two id-keyed
    * joins on the (small) pair table only.
    */
  private def q213(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val b = pmod(graft.functions.TextFunctions.token60(
      concat(lit("split|"), col("doc_id").cast("string"))), lit(100L))
    val assign = docs.select(col("doc_id"),
      when(b < 80, "train").when(b < 90, "val").otherwise("test")
        .as("split"),
      when(b < 80, 0).when(b < 90, 1).otherwise(2).as("rk"))
    val pairs = graft.Kernels.minhashPairs(s, d, threshold = 0.8)
    val j = pairs
      .join(assign.select(col("doc_id").as("doc_a"),
        col("split").as("sa"), col("rk").as("ra")), "doc_a")
      .join(assign.select(col("doc_id").as("doc_b"),
        col("split").as("sb"), col("rk").as("rb")), "doc_b")
    j.select(
        concat(
          when(col("ra") <= col("rb"), col("sa")).otherwise(col("sb")),
          lit("->"),
          when(col("ra") <= col("rb"), col("sb")).otherwise(col("sa")))
          .as("pair_class"),
        col("jaccard"),
        when(col("ra") === col("rb"), lit(null).cast("long"))
          .when(col("ra") < col("rb"), col("doc_b"))
          .otherwise(col("doc_a")).as("leaked_doc"))
      .groupBy("pair_class")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("leaked_doc")).as("n_leaked_docs"),
        max("jaccard").as("max_jaccard"))
      .orderBy("pair_class")
  }

  private val q213Sql =
    s"""WITH p AS (${Pipeline.q36Core}),
       asg AS (SELECT doc_id,
           (('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)),
             1, 15))::BIGINT) % 100 AS b
         FROM documents),
       a2 AS (SELECT doc_id,
           CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
                ELSE 'test' END AS split,
           CASE WHEN b < 80 THEN 0 WHEN b < 90 THEN 1 ELSE 2 END AS rk
         FROM asg),
       cl AS (SELECT
           CASE WHEN x.rk <= y.rk THEN x.split || '->' || y.split
                ELSE y.split || '->' || x.split END AS pair_class,
           p.jaccard,
           CASE WHEN x.rk = y.rk THEN NULL
                WHEN x.rk < y.rk THEN p.doc_b ELSE p.doc_a END
             AS leaked_doc
         FROM p JOIN a2 x ON p.doc_a = x.doc_id
                JOIN a2 y ON p.doc_b = y.doc_id)
       SELECT pair_class, count(*) AS n_pairs,
         CAST(count(DISTINCT leaked_doc) AS BIGINT) AS n_leaked_docs,
         max(jaccard) AS max_jaccard
       FROM cl GROUP BY pair_class ORDER BY pair_class"""

  // --------------------------------------------------------------- q226
  /** STREAMING DEDUP, oracle-graded — the ingest-side duplicate
    * suppression of a training-data pipeline (a re-crawled page must
    * not enter the corpus twice), as the fourth oracle-graded
    * streaming capability (after q177 sketch, q204 join, q211
    * eviction). The events table is replayed through q211's
    * time-ordered chunk-file pattern with ADVERSARIAL duplicates
    * injected: every third event is re-sent in the NEXT micro-batch,
    * so suppression must come from cross-batch STATE, not intra-batch
    * dedup. `dropDuplicatesWithinWatermark("event_id")` under a
    * chunk-width + 1-day watermark delay guarantees the
    * one-chunk-later duplicates land inside the state-retention
    * window (state still evicts as the watermark advances — bounded
    * memory, unlike bare `dropDuplicates`). First-seen rows emit
    * immediately, so no sentinel flush is needed. If suppression
    * failed, per-type counts would exceed the batch oracle — which
    * reads the CLEAN table. */
  private def q226(s: SparkSession, d: String): DataFrame =
    // 3-real-chunk budget (was fixed 6-day chunks → ~6 span-dependent
    // micro-batches at sf0.1): a dedup micro-batch has ~0.6 s fixed
    // cost and the graded counts are batch-count invariant, so the
    // bench keeps three real cross-batch suppression boundaries plus
    // the all-duplicates trailing chunk; the DENSER choreography stays
    // exercised by StreamingSpec's narrow dedupReplay case (the
    // q211/q272 precedent).
    dedupReplay(s, d, chunkBudget = 3)

  /** q226's replay body with the real-chunk budget as a parameter —
    * package-private so StreamingSpec can drive the narrow (more
    * micro-batches, more cross-batch suppression boundaries)
    * configuration the bench-time q226 no longer runs. The watermark
    * delay scales WITH the chunk width (chunk + 1 day): suppression
    * of a one-chunk-later duplicate requires its original's state to
    * survive until the duplicate's batch, and state older than
    * `max seen − delay` evicts — so a span-scaled chunk needs a
    * span-scaled delay (the fixed 6-day/7-day pair was this same
    * invariant at the old width). Eviction still happens across
    * batches: each boundary drops state more than one chunk old. */
  private[graft] def dedupReplay(s: SparkSession, d: String,
                                 chunkBudget: Int): DataFrame = Exec.scope { sc =>
    val ckpt = sc.tempDir("graft_sdd_ckpt")
    val outDir = sc.tempDir("graft_sdd_out")

    // chunk files with the adversarial duplicate injection are a pure
    // function of (dir, chunk budget) — built once per session
    // (ChunkStore), replayed read-only with a fresh checkpoint per run.
    // The span-scaled chunk width (origin-anchored ids, the q272
    // treatment) is sized by a min/max scan inside the build and
    // staged with the chunks, so a warm run scans no events
    val ingest = ChunkStore.ensure(s, ("q226", d, chunkBudget)) { store =>
      val ev = Tables.events(s, d)
        .select(col("event_id").cast("long").as("event_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("event_type"))
      val mm = ev.agg(min("ts_us"), max("ts_us")).head()
      val minTs = mm.getLong(0)
      val chunkUs = ChunkReplay.spanWidth(minTs, mm.getLong(1), chunkBudget)
      val chunked = ev.withColumn("chunk",
        ChunkReplay.chunkId("ts_us", chunkUs, minTs))
      // duplicates: every 3rd event re-sent one chunk later (same id,
      // same payload — the re-crawl case)
      val dups = chunked.filter(pmod(col("event_id"), lit(3)) === 0)
        .withColumn("chunk", col("chunk") + 1)
      ChunkReplay.writeChunks(chunked.unionByName(dups), store, Nil)
        .copy(width = chunkUs)
    }
    // the watermark delay derives from the staged width
    val delaySec = ingest.width / 1000000L + 86400L

    val deduped = ChunkReplay.stream(s, ingest)
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", s"$delaySec seconds")
      .dropDuplicatesWithinWatermark("event_id")
      .select("event_id", "event_type")
    // first-seen rows emit in their DATA batch (append-mode dedup), so
    // the trailing no-data micro-batch only evicts state — skip its
    // batch round (the q211/q272 treatment)
    ChunkReplay.run(deduped, "append", ckpt,
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false") {
      (b, _) => b.write.mode("append").parquet(outDir)
    }

    val result = s.read.parquet(outDir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("event_id")).as("n_distinct"))
      .orderBy("event_type")
    // ingest belongs to the ChunkStore — per-run scratch only
    sc.keep(result)
  }

  /** The oracle reads the CLEAN events table: streaming output equals
    * it only if every injected duplicate was suppressed. */
  private val q226Sql =
    """SELECT event_type, count(*) AS n_events,
         CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct
       FROM events GROUP BY event_type ORDER BY event_type"""

  // --------------------------------------------------------------- q231
  /** STREAMING transformWithState, oracle-graded — the Spark 4
    * arbitrary-state API (typed ValueState on the RocksDB provider)
    * under the DuckDB gate, closing the last spec-only streaming row:
    * per-user running (event count, spend) carried across the q226
    * chunk-replayed micro-batches by
    * [[graft.streaming.EventPipeline.runningSpend]]. Spend
    * accumulates PRE-QUANTIZED micro-unit LONGs, so the running sum
    * is independent of batch boundaries and arrival order — the final
    * emission per user (its count strictly grows, so `max(struct)`
    * selects it) must equal the plain batch aggregation, which is the
    * oracle. Update-mode emissions are immediate; no sentinel flush
    * or watermark choreography is needed. */
  private def q231(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    // 2-real-chunk budget (was fixed 10-day chunks, which the
    // unaligned absolute origin smeared into FOUR micro-batches over
    // the ~30-day corpus — the q272 sliver lesson): the update-mode
    // running sums are batch-boundary-independent by construction,
    // one boundary already forces cross-batch ValueState carries for
    // every multi-chunk user (and the multi-boundary choreography is
    // spec-pinned by StreamingSpec's transformWithState case) — extra
    // micro-batches are pure per-batch fixed cost (the q211
    // rationale).
    val chunkBudget = 2
    val ckpt = sc.tempDir("graft_tws_ckpt")
    val outDir = sc.tempDir("graft_tws_out")

    // chunk files built once per session (ChunkStore), replayed
    // read-only with a fresh checkpoint per run
    val ingest = ChunkStore.ensure(s, ("q231", d, chunkBudget)) { store =>
      val ev = Tables.events(s, d)
        .filter(col("value").isNotNull)
        .select(col("user_id").cast("long").as("user_id"),
          floor(col("value") * lit(1e6) + lit(0.5)).cast("long")
            .as("units"),
          unix_micros(col("ts")).as("ts_us"))
      val mm = ev.agg(min("ts_us"), max("ts_us")).head()
      val (minTs, maxTs) = (mm.getLong(0), mm.getLong(1))
      val chunkUs = ChunkReplay.spanWidth(minTs, maxTs, chunkBudget)
      ChunkReplay.writeChunks(
        ev.withColumn("chunk", ChunkReplay.chunkId("ts_us", chunkUs, minTs))
          .drop("ts_us"),
        store, Nil)
    }

    import s.implicits._
    val tallies = graft.streaming.EventPipeline.runningSpend(
      ChunkReplay.stream(s, ingest).as[graft.streaming.ValueEvent])
    // update-mode running totals emit in their DATA batch; the
    // trailing no-data micro-batch adds nothing (the q211/q272
    // treatment)
    ChunkReplay.run(tallies, "update", ckpt,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false",
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.shuffle.partitions" -> "4") {
      (b, _) => b.write.mode("append").parquet(outDir)
    }

    val result = s.read.parquet(outDir)
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("spend_units"))).as("m"))
      .select(col("user_id"), col("m.n_events").as("n_events"),
        col("m.spend_units").as("spend_units"))
      .orderBy("user_id")
    // ingest belongs to the ChunkStore — per-run scratch only
    sc.keep(result)
  }

  /** Final transformWithState totals == the batch aggregation. */
  private val q231Sql =
    """SELECT user_id, count(*) AS n_events,
         CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
           AS spend_units
       FROM events WHERE value IS NOT NULL
       GROUP BY user_id ORDER BY user_id"""

  // --------------------------------------------------------------- q277
  /** STREAMING checkpoint RECOVERY, oracle-graded — the fault-
    * tolerance semantic none of the other §2.10 rows exercise: a
    * stateful streaming aggregation is STOPPED mid-corpus and a brand
    * new query resumes from the same checkpoint; the final per-user
    * totals equal the batch aggregation ONLY if (a) the source
    * offsets recovered (no chunk re-ingested or skipped) and (b) the
    * aggregation state store reloaded (otherwise the resumed counts
    * restart from zero and the `max(struct)` reconstruction
    * undercounts — the gate catches both failure modes). Choreography:
    * purchase/click events chunk into ~4 span-scaled files; the first
    * half is visible to query #1 (update-mode groupBy running
    * count/spend, per-batch append sink), which is stopped; the
    * remaining files then land in the ingest dir and query #2 starts
    * from the SAME checkpoint and drains them. Update-mode counts
    * strictly grow, so `max(struct(n_events, spend_units))` per user
    * selects the final emission regardless of batch timing — equal to
    * the batch aggregation, the oracle. */
  private def q277(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val staging = sc.tempDir("graft_rec_staging")
    val ingest = sc.tempDir("graft_rec_ingest")
    val ckpt = sc.tempDir("graft_rec_ckpt")
    val outDir = sc.tempDir("graft_rec_out")

    // the chunk build (scan + span agg + chunk write) happens once per
    // session (ChunkStore); this choreography CONSUMES its staged
    // files (they move into the ingest dir mid-run), so each run takes
    // a hard-link copy of the store into its own staging dir —
    // metadata-only, mtimes shared with the store's inodes
    val chunkLib = ChunkStore.ensure(s, ("q277", d)) { store =>
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "click"))
        .select(col("user_id").cast("long").as("user_id"),
          floor(col("value") * lit(1e6) + lit(0.5)).cast("long")
            .as("units"),
          unix_micros(col("ts")).as("ts_us"))
      val mm = ev.agg(min("ts_us"), max("ts_us")).head()
      val chunkUs = ChunkReplay.spanWidth(mm.getLong(0), mm.getLong(1), 4)
      // origin = min: without the anchor the unaligned absolute origin
      // yields FIVE chunks from a budget of 4 (the q272 sliver lesson)
      // — an extra micro-batch round and a lopsided 3/2 restart split
      ChunkReplay.writeChunks(
        ev.withColumn("chunk",
          ChunkReplay.chunkId("ts_us", chunkUs, mm.getLong(0))),
        store, Nil)
    }
    ChunkStore.linkInto(chunkLib.dir, staging)
    val staged = new java.io.File(staging).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val firstHalf = (staged.length + 1) / 2

    // query #1 drains the first half, then STOPS; query #2 starts on
    // the SAME checkpoint and must recover state+offsets
    Seq(staged.take(firstHalf), staged.drop(firstHalf)).foreach { half =>
      half.foreach { f =>
        Files.move(f.toPath, Paths.get(s"$ingest/${f.getName}"),
          StandardCopyOption.ATOMIC_MOVE)
      }
      val counts = ChunkReplay.stream(s, chunkLib.copy(dir = ingest))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), sum("units").as("spend_units"))
      ChunkReplay.run(counts, "update", ckpt,
        "spark.sql.shuffle.partitions" -> "2") {
        (b, _) => b.write.mode("append").parquet(outDir)
      }
    }

    val result = s.read.parquet(outDir)
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("spend_units"))).as("m"))
      .select(col("user_id"), col("m.n_events").as("n_events"),
        col("m.spend_units").as("spend_units"))
      .orderBy("user_id")
    sc.keep(result)
  }

  /** Recovered-stream totals == the batch aggregation. */
  private val q277Sql =
    """SELECT user_id, count(*) AS n_events,
         CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
           AS spend_units
       FROM events WHERE event_type IN ('purchase', 'click')
       GROUP BY user_id ORDER BY user_id"""

  // --------------------------------------------------------------- q259
  /** STREAMING watermark / late-data audit, oracle-graded — the
    * semantics q226/q231 don't exercise: what happens to rows that
    * arrive LATE into a windowed aggregation. Every 5th event is
    * re-sent TWO 6-day chunks later (6–12 days late against a 3-day
    * watermark): a late row whose 1-day window is still open
    * (window_end > watermark at its arrival batch) merges and
    * inflates the count; one whose window has closed is dropped —
    * both outcomes occur (the last ~3 days of each chunk survive,
    * the first ~3 drop), which is the audit's point. The replay is
    * the q226 chunk choreography, so the watermark sequence is
    * DETERMINISTIC, with Spark's one-batch PROPAGATION DELAY pinned
    * empirically: the wm in effect while batch k processes file k is
    * (running max event time through file k−2) − 3d — a lag-1 model
    * (through file k−1) mispredicts 130/130 cells, lag-2 matches all
    * (and is why a chunk+1 re-send drops NOTHING: its windows are
    * always still open under the delayed wm). The oracle recomputes
    * the exact per-row keep/drop verdict from that closed form, plus
    * append-mode's tail rule (windows past the final watermark never
    * emit).
    */
  private def q259(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val chunkUs = 6L * 86400 * 1000000
    val ckpt = sc.tempDir("graft_wm_ckpt")
    val outDir = sc.tempDir("graft_wm_out")

    // chunk files with the late-copy injection built once per session
    // (ChunkStore), replayed read-only with a fresh checkpoint per run
    val ingest = ChunkStore.ensure(s, ("q259", d, chunkUs)) { store =>
      val ev = Tables.events(s, d)
        .select(col("event_id").cast("long").as("event_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("event_type"))
        .withColumn("chunk", ChunkReplay.chunkId("ts_us", chunkUs, 0L))
      val lateCopies = ev.filter(pmod(col("event_id"), lit(5)) === 0)
        .withColumn("chunk", col("chunk") + 2)
      ChunkReplay.writeChunks(ev.unionByName(lateCopies), store, Nil)
    }

    val counted = ChunkReplay.stream(s, ingest)
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "3 days")
      .groupBy(col("event_type"), window(col("ts"), "1 day"))
      .count()
    ChunkReplay.run(counted, "append", ckpt,
      "spark.sql.shuffle.partitions" -> "4") { (b, _) =>
      b.select(col("event_type"),
          (unix_micros(col("window.start")) / lit(86400000000L))
            .cast("long").as("day"),
          col("count").as("n_events"))
        .write.mode("append").parquet(outDir)
    }

    val result = s.read.parquet(outDir)
      .orderBy("event_type", "day")
    // ingest belongs to the ChunkStore — per-run scratch only
    sc.keep(result)
  }

  /** The oracle replays the deterministic watermark model: running
    * per-chunk max event time → wm at each late row's arrival batch
    * (arrival = chunk+2; wm lags the running max by TWO files — the
    * empirically pinned propagation delay) → exact keep/drop per late
    * copy; the tail rule drops windows whose end exceeds the final
    * watermark. */
  private val q259Sql =
    """WITH ev AS (SELECT event_id,
           epoch_us(CAST(ts AS TIMESTAMP)) AS tu,
           event_type,
           epoch_us(CAST(ts AS TIMESTAMP)) // 518400000000 AS chunk,
           epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
         FROM events),
       mx AS (SELECT chunk, max(tu) AS m FROM ev GROUP BY chunk),
       cm AS (SELECT chunk, max(m) OVER (ORDER BY chunk
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
              FROM mx),
       keptlate AS (SELECT e.event_type, e.day
             FROM ev e JOIN cm ON cm.chunk = e.chunk
             WHERE e.event_id % 5 = 0
               AND (e.day + 1) * 86400000000 > cm.cm - 259200000000),
       allr AS (SELECT event_type, day FROM ev
                UNION ALL SELECT event_type, day FROM keptlate),
       fw AS (SELECT max(tu) - 259200000000 AS w FROM ev)
       SELECT event_type, CAST(day AS BIGINT) AS day,
         count(*)::BIGINT AS n_events
       FROM allr, fw
       WHERE (day + 1) * 86400000000 <= fw.w
       GROUP BY event_type, day
       ORDER BY event_type, day"""

  // ----------------------------------------------------------------

  val entries: Seq[Query] = Seq(
    Query("q259_late_data_audit", q259, q259Sql),
    Query("q231_streaming_tws", q231, q231Sql),
    Query("q226_streaming_dedup", q226, q226Sql),
    Query("q211_streaming_sessions", q211, q211Sql),
    Query("q212_perplexity_filter", q212, q212Sql),
    Query("q213_split_leakage", q213, q213Sql),
    Query("q205_kaplan_meier", q205, q205Sql),
    Query("q206_assoc_rules", q206, q206Sql),
    Query("q207_kcore", q207, q207Sql),
    Query("q208_dsir_weights", q208, q208Sql),
    Query("q209_diff_in_diff", q209, q209Sql),
    Query("q210_l_diversity", q210, q210Sql),
    Query("q265_t_closeness", q265, q265Sql),
    Query("q266_logrank", q266, q266Sql),
    Query("q277_checkpoint_recovery", q277, q277Sql),
    Query("q302_cox_ph", q302, q302Sql),
    Query("q305_rmst", q305, q305Sql))
}
