package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Exec
// cross-engine deterministic rounding shadows functions.round
import graft.functions.Rounding.{roundTo => round}

import graft.{Kernels, Tables}
import graft.streaming.{ChunkReplay, ChunkStore}
import graft.functions.VectorFunctions
import graft.operators.{Sampling, Series}

/** Round-7 signal-engineering operators: seasonal forecasting by
  * decomposition, weight-of-evidence feature binning, referential-
  * integrity auditing, and Matryoshka embedding-truncation quality.
  * Oracle discipline matches [[Insights]]: shared rounding kernel,
  * integer-exact graded sums, total-order ranks.
  */
object Signals {
  // --------------------------------------------------------------- q181
  /** Holt-Winters by decomposition ([[Series.holtWintersDaily]]):
    * per-type DAILY volumes split into a closed-form day-of-week
    * additive seasonal index plus the proven level+trend fold over the
    * deseasonalized series; tomorrow's forecast re-seasonalizes with
    * its dow. The oracle replays seasonal fit AND recurrence (recursive
    * CTE) bit-for-bit. */
  private def q181(s: SparkSession, d: String): DataFrame =
    Series.holtWintersDaily(Tables.events(s, d), "event_type", "ts")
      .orderBy("event_type")

  private val q181Sql =
    """WITH RECURSIVE obs AS (SELECT event_type AS k,
           CAST(datediff('day', DATE '1990-01-01', CAST(ts AS DATE))
             AS BIGINT) AS t,
           count(*) AS cnt
         FROM events GROUP BY k, t),
       span AS (SELECT min(t) AS t0, max(t) AS t1 FROM obs),
       grid AS (SELECT ks.k, ds.t, ds.t % 7 AS dow,
                coalesce(obs.cnt, 0)::DOUBLE AS x
                FROM (SELECT DISTINCT k FROM obs) ks
                CROSS JOIN (SELECT unnest(generate_series(t0, t1)) AS t
                            FROM span) ds
                LEFT JOIN obs ON obs.k = ks.k AND obs.t = ds.t),
       seas AS (SELECT g.k, g.dow,
                round(sum(g.x) / count(*) -
                  (SELECT sum(x) FROM grid g2 WHERE g2.k = g.k) /
                  (SELECT count(*) FROM grid g2 WHERE g2.k = g.k),
                  6) AS s
                FROM grid g GROUP BY g.k, g.dow),
       des AS (SELECT grid.k, grid.t, grid.x - seas.s AS x
               FROM grid JOIN seas
                 ON grid.k = seas.k AND grid.dow = seas.dow),
       idx AS (SELECT k, x,
                 row_number() OVER (PARTITION BY k ORDER BY t) AS i
               FROM des),
       n AS (SELECT k, max(i) AS n FROM idx GROUP BY k),
       rec AS (
         SELECT i1.k, CAST(1 AS BIGINT) AS i, i1.x AS l,
           i2.x - i1.x AS b
         FROM idx i1 JOIN idx i2 ON i1.k = i2.k AND i1.i = 1 AND i2.i = 2
         UNION ALL
         SELECT r.k, r.i + 1,
           0.5*w.x + 0.5*(r.l + r.b),
           0.5*((0.5*w.x + 0.5*(r.l + r.b)) - r.l) + 0.5*r.b
         FROM rec r
         JOIN idx w ON w.k = r.k AND w.i = r.i + 1
         JOIN n ON n.k = r.k
         WHERE r.i < n.n),
       nxt AS (SELECT (t1 + 1) % 7 AS dow FROM span)
       SELECT rec.k AS event_type, n.n AS n_days,
         round(l, 4) AS level, round(b, 4) AS trend,
         seas.s AS s_next,
         round(l + b + seas.s, 4) AS forecast
       FROM rec JOIN n ON rec.k = n.k
       JOIN nxt ON TRUE
       JOIN seas ON seas.k = rec.k AND seas.dow = nxt.dow
       WHERE rec.i = n.n
       ORDER BY event_type"""

  // --------------------------------------------------------------- q182
  /** Weight-of-evidence / information-value feature binning: exact
    * interpolated decile boundaries (the q135 `percentile` ↔
    * `quantile_cont` contract) broadcast back onto the corpus — never
    * a global ntile window, which would funnel 100 TB through one
    * partition — then per-bin WOE = ln((pos_i/pos)/(neg_i/neg)) and
    * its IV contribution from integer-exact class counts. The credit-
    * scoring / feature-audit primitive: which price deciles separate
    * returned lineitems. */
  private def q182(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(
      col("l_extendedprice").as("x"),
      when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
    // decile boundaries as EXACT ORDER STATISTICS via the iterative
    // narrowing kernel (q170's) — a single-group exact `percentile`
    // buffers the whole corpus's value multiset in one aggregation
    // buffer, which does not survive 100×; the k-th-smallest contract
    // (k = ceil(q·n)) is also interpolation-free, so the oracle
    // replays it as a row_number rank lookup
    val qs = (1 to 9).map(_ / 10.0)
    val (_, bs) = graft.engine.OrderStat.kthSmallests(
      li, "x", graft.engine.OrderStat.quantileRanks(qs))
    val binned = li.select(col("y"),
      bs.foldLeft(lit(1))((acc, b) =>
        acc + when(col("x") > lit(b), 1).otherwise(0)).as("bin"))
    val agg = binned.groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("y").as("pos"),
        (count(lit(1)) - sum("y")).as("neg"))
    val tot = agg.agg(sum("pos").as("pt"), sum("neg").as("nt"))
    // each factor is cast to double BEFORE the multiply: LONG×LONG
    // silently wraps in Spark at corpus scale (and errors in DuckDB),
    // while double×double is IEEE-exact for counts < 2^53 on both
    val lnOdds = log(
      (col("pos").cast("double") * col("nt").cast("double")) /
        (col("neg").cast("double") * col("pt").cast("double")))
    agg.crossJoin(broadcast(tot))
      .select(col("bin"), col("n"), col("pos"), col("neg"),
        when(col("pos") > 0 && col("neg") > 0, round(lnOdds, 6))
          .as("woe"),
        when(col("pos") > 0 && col("neg") > 0,
          round((col("pos").cast("double") / col("pt") -
            col("neg").cast("double") / col("nt")) * lnOdds, 6))
          .as("iv"))
      .orderBy("bin")
  }

  private val q182Sql =
    """WITH li AS (SELECT l_extendedprice AS x,
           CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
         FROM lineitem),
       -- decile boundaries as exact order statistics (k = ceil(q*n)),
       -- mirroring the engine's iterative k-th-smallest kernel
       nn AS (SELECT count(*) AS c FROM li),
       ranked AS (SELECT x, row_number() OVER (ORDER BY x) AS rn FROM li),
       ks AS (SELECT greatest(1, CAST(ceil(q * c) AS BIGINT)) AS k
              FROM (SELECT unnest([0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9])
                    AS q), nn),
       b AS (SELECT list(r.x ORDER BY r.rn) AS bs
             FROM ks JOIN ranked r ON r.rn = ks.k),
       binned AS (SELECT li.y,
           1 + len(list_filter(b.bs, e -> li.x > e)) AS bin
         FROM li, b),
       agg AS (SELECT bin, count(*) AS n,
                 CAST(sum(y) AS BIGINT) AS pos,
                 CAST(count(*) - sum(y) AS BIGINT) AS neg
               FROM binned GROUP BY bin),
       tot AS (SELECT CAST(sum(pos) AS BIGINT) AS pt,
                 CAST(sum(neg) AS BIGINT) AS nt FROM agg)
       SELECT CAST(bin AS INT) AS bin, n, pos, neg,
         CASE WHEN pos > 0 AND neg > 0 THEN
           round(ln((pos::DOUBLE * nt::DOUBLE) /
                    (neg::DOUBLE * pt::DOUBLE)), 6) END
           AS woe,
         CASE WHEN pos > 0 AND neg > 0 THEN
           round((pos::DOUBLE / pt - neg::DOUBLE / nt) *
             ln((pos::DOUBLE * nt::DOUBLE) /
                (neg::DOUBLE * pt::DOUBLE)), 6) END
           AS iv
       FROM agg, tot ORDER BY bin"""

  // --------------------------------------------------------------- q183
  /** Referential-integrity audit: every declared FK relationship in
    * the star schema checked in one pass per edge — row count, orphan
    * count (child key with no parent, anti-join semantics), null-key
    * count. Parent key sets are deduped before the probe; at 100 TB
    * each audit is one shuffle (or a broadcast when the parent is a
    * dimension), never a driver-side scan. The "can I trust my joins"
    * pre-flight. */
  private def q183(s: SparkSession, d: String): DataFrame = {
    def rel(name: String, child: DataFrame, ck: String,
            parent: DataFrame, pk: String): DataFrame =
      child.select(col(ck).as("k"))
        .join(parent.select(col(pk).as("k")).distinct()
          .withColumn("hit", lit(1)), Seq("k"), "left")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("hit").isNull && col("k").isNotNull, 1L)
            .otherwise(0L)).as("n_orphans"),
          sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_null_keys"))
        .select(lit(name).as("fk"), col("n_rows"), col("n_orphans"),
          col("n_null_keys"))
    val li = Tables.lineitem(s, d)
    val od = Tables.orders(s, d)
    // both lineitem audits in ONE scan of the fact table: a 2-column
    // projection probed against both parent key sets, then a single
    // aggregate carrying both audits' conditional counts (the fact
    // table is the 100 TB side — scanning it once per audit is the
    // whole cost of this query; the two probe joins stay AQE-
    // broadcastable when a parent is dimension-sized)
    val liBoth = li.select(col("l_orderkey"), col("l_partkey"))
      .join(od.select(col("o_orderkey").as("l_orderkey")).distinct()
        .withColumn("hit_o", lit(1)), Seq("l_orderkey"), "left")
      .join(Tables.part(s, d).select(col("p_partkey").as("l_partkey"))
        .distinct().withColumn("hit_p", lit(1)), Seq("l_partkey"), "left")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("hit_o").isNull && col("l_orderkey").isNotNull, 1L)
          .otherwise(0L)).as("orph_o"),
        sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("null_o"),
        sum(when(col("hit_p").isNull && col("l_partkey").isNotNull, 1L)
          .otherwise(0L)).as("orph_p"),
        sum(when(col("l_partkey").isNull, 1L).otherwise(0L)).as("null_p"))
      .select(explode(array(
        struct(lit("lineitem.l_orderkey->orders").as("fk"),
          col("n_rows"), col("orph_o").as("n_orphans"),
          col("null_o").as("n_null_keys")),
        struct(lit("lineitem.l_partkey->part").as("fk"),
          col("n_rows"), col("orph_p").as("n_orphans"),
          col("null_p").as("n_null_keys")))).as("a"))
      .select("a.*")
    rel("customer.c_nationkey->nation", Tables.customer(s, d),
        "c_nationkey", Tables.nation(s, d), "n_nationkey")
      .unionByName(liBoth)
      .unionByName(rel("nation.n_regionkey->region", Tables.nation(s, d),
        "n_regionkey", Tables.region(s, d), "r_regionkey"))
      .unionByName(rel("orders.o_custkey->customer", od,
        "o_custkey", Tables.customer(s, d), "c_custkey"))
      .unionByName(rel("supplier.s_nationkey->nation", Tables.supplier(s, d),
        "s_nationkey", Tables.nation(s, d), "n_nationkey"))
      .orderBy("fk")
  }

  private val q183Sql =
    """WITH audits(fk, n_rows, n_orphans, n_null_keys) AS (
         SELECT 'customer.c_nationkey->nation',
           (SELECT count(*) FROM customer),
           (SELECT count(*) FROM customer c WHERE c.c_nationkey IS NOT NULL
             AND NOT EXISTS (SELECT 1 FROM nation n
                             WHERE n.n_nationkey = c.c_nationkey)),
           (SELECT count(*) FROM customer WHERE c_nationkey IS NULL)
         UNION ALL
         SELECT 'lineitem.l_orderkey->orders',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL
             AND NOT EXISTS (SELECT 1 FROM orders o
                             WHERE o.o_orderkey = l.l_orderkey)),
           (SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL)
         UNION ALL
         SELECT 'lineitem.l_partkey->part',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l WHERE l.l_partkey IS NOT NULL
             AND NOT EXISTS (SELECT 1 FROM part p
                             WHERE p.p_partkey = l.l_partkey)),
           (SELECT count(*) FROM lineitem WHERE l_partkey IS NULL)
         UNION ALL
         SELECT 'nation.n_regionkey->region',
           (SELECT count(*) FROM nation),
           (SELECT count(*) FROM nation n WHERE n.n_regionkey IS NOT NULL
             AND NOT EXISTS (SELECT 1 FROM region r
                             WHERE r.r_regionkey = n.n_regionkey)),
           (SELECT count(*) FROM nation WHERE n_regionkey IS NULL)
         UNION ALL
         SELECT 'orders.o_custkey->customer',
           (SELECT count(*) FROM orders),
           (SELECT count(*) FROM orders o WHERE o.o_custkey IS NOT NULL
             AND NOT EXISTS (SELECT 1 FROM customer c
                             WHERE c.c_custkey = o.o_custkey)),
           (SELECT count(*) FROM orders WHERE o_custkey IS NULL)
         UNION ALL
         SELECT 'supplier.s_nationkey->nation',
           (SELECT count(*) FROM supplier),
           (SELECT count(*) FROM supplier s WHERE s.s_nationkey IS NOT NULL
             AND NOT EXISTS (SELECT 1 FROM nation n
                             WHERE n.n_nationkey = s.s_nationkey)),
           (SELECT count(*) FROM supplier WHERE s_nationkey IS NULL))
       SELECT fk, CAST(n_rows AS BIGINT) AS n_rows,
         CAST(n_orphans AS BIGINT) AS n_orphans,
         CAST(n_null_keys AS BIGINT) AS n_null_keys
       FROM audits ORDER BY fk"""

  // --------------------------------------------------------------- q184
  /** Matryoshka truncation quality: how much neighbor geometry
    * survives keeping only the first k of 64 embedding dims —
    * per-pair |Δcosine| between the full vector and its k-prefix over
    * the deterministic (vec_id, vec_id+1) probe pairs, for
    * k ∈ {8,16,32}. Graded integer-exact: each |Δ| is quantized to
    * micro-units (×10⁶, the shared rounding kernel) and SUMMED AS A
    * LONG, so the average is order-independent; max is inherently
    * order-free. The "can I ship the 8-dim index" report. */
  private def q184(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    def cos(x: Column, y: Column): Column =
      VectorFunctions.dot(x, y) /
        (VectorFunctions.norm(x) * VectorFunctions.norm(y))
    val pairs = emb.as("a").join(emb.as("b"),
        col("a.vec_id") + 1 === col("b.vec_id"))
      .select(col("a.embedding").as("ea"), col("b.embedding").as("eb"))
    def qdelta(k: Int): Column =
      round(abs(cos(slice(col("ea"), 1, k), slice(col("eb"), 1, k)) -
        cos(col("ea"), col("eb"))) * 1e6, 0).cast("long")
    val one = pairs.agg(
      count(lit(1)).as("n_pairs"),
      sum(qdelta(8)).as("s8"), max(qdelta(8)).as("m8"),
      sum(qdelta(16)).as("s16"), max(qdelta(16)).as("m16"),
      sum(qdelta(32)).as("s32"), max(qdelta(32)).as("m32"))
    def row(k: Int, sc: String, mc: String): DataFrame =
      one.select(lit(k).as("k"), col("n_pairs"),
        col(sc).as("sum_microdelta"),
        round(col(sc).cast("double") / col("n_pairs") / 1e6, 6)
          .as("avg_delta"),
        round(col(mc).cast("double") / 1e6, 6).as("max_delta"))
    row(8, "s8", "m8").unionByName(row(16, "s16", "m16"))
      .unionByName(row(32, "s32", "m32"))
      .orderBy("k")
  }

  private val q184Sql =
    """WITH pairs AS (SELECT a.embedding AS ea, b.embedding AS eb
           FROM embeddings a JOIN embeddings b
             ON a.vec_id + 1 = b.vec_id),
       d AS (SELECT
           CAST(round(abs(
             list_dot_product((ea[1:8])::DOUBLE[], (eb[1:8])::DOUBLE[])
             / (sqrt(list_dot_product((ea[1:8])::DOUBLE[], (ea[1:8])::DOUBLE[]))
                * sqrt(list_dot_product((eb[1:8])::DOUBLE[], (eb[1:8])::DOUBLE[])))
             - list_dot_product(ea::DOUBLE[], eb::DOUBLE[])
             / (sqrt(list_dot_product(ea::DOUBLE[], ea::DOUBLE[]))
                * sqrt(list_dot_product(eb::DOUBLE[], eb::DOUBLE[])))
           ) * 1e6) AS BIGINT) AS q8,
           CAST(round(abs(
             list_dot_product((ea[1:16])::DOUBLE[], (eb[1:16])::DOUBLE[])
             / (sqrt(list_dot_product((ea[1:16])::DOUBLE[], (ea[1:16])::DOUBLE[]))
                * sqrt(list_dot_product((eb[1:16])::DOUBLE[], (eb[1:16])::DOUBLE[])))
             - list_dot_product(ea::DOUBLE[], eb::DOUBLE[])
             / (sqrt(list_dot_product(ea::DOUBLE[], ea::DOUBLE[]))
                * sqrt(list_dot_product(eb::DOUBLE[], eb::DOUBLE[])))
           ) * 1e6) AS BIGINT) AS q16,
           CAST(round(abs(
             list_dot_product((ea[1:32])::DOUBLE[], (eb[1:32])::DOUBLE[])
             / (sqrt(list_dot_product((ea[1:32])::DOUBLE[], (ea[1:32])::DOUBLE[]))
                * sqrt(list_dot_product((eb[1:32])::DOUBLE[], (eb[1:32])::DOUBLE[])))
             - list_dot_product(ea::DOUBLE[], eb::DOUBLE[])
             / (sqrt(list_dot_product(ea::DOUBLE[], ea::DOUBLE[]))
                * sqrt(list_dot_product(eb::DOUBLE[], eb::DOUBLE[])))
           ) * 1e6) AS BIGINT) AS q32
         FROM pairs),
       agg AS (SELECT count(*) AS n_pairs,
           CAST(sum(q8) AS BIGINT) AS s8, CAST(max(q8) AS BIGINT) AS m8,
           CAST(sum(q16) AS BIGINT) AS s16, CAST(max(q16) AS BIGINT) AS m16,
           CAST(sum(q32) AS BIGINT) AS s32, CAST(max(q32) AS BIGINT) AS m32
         FROM d)
       SELECT k, n_pairs, sum_microdelta, avg_delta, max_delta FROM (
         SELECT CAST(8 AS INT) AS k, n_pairs, s8 AS sum_microdelta,
           round(s8::DOUBLE / n_pairs / 1e6, 6) AS avg_delta,
           round(m8::DOUBLE / 1e6, 6) AS max_delta FROM agg
         UNION ALL
         SELECT CAST(16 AS INT), n_pairs, s16,
           round(s16::DOUBLE / n_pairs / 1e6, 6),
           round(m16::DOUBLE / 1e6, 6) FROM agg
         UNION ALL
         SELECT CAST(32 AS INT), n_pairs, s32,
           round(s32::DOUBLE / n_pairs / 1e6, 6),
           round(m32::DOUBLE / 1e6, 6) FROM agg)
       ORDER BY k"""

  // --------------------------------------------------------------- q185
  /** Bucketed co-located join as a driver-graded query (upgrades the
    * §2.3 spec-only row): orders and customer written `bucketBy` their
    * join key into managed tables, then joined THROUGH the bucketed
    * layout — the ingest-time pre-shuffle that makes every subsequent
    * big-big join on the key exchange-free (BucketingSpec asserts the
    * no-Exchange plan; this query value-checks the results that plan
    * produces against the origin tables). Grades integer-cent revenue
    * per segment. */
  private def q185(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    // the catalog is in-memory per JVM but the warehouse directory is
    // not: a table dropped-by-restart leaves its location behind, and
    // CREATE then fails with LOCATION_ALREADY_EXISTS — clear both
    def dropBucketTables(): Unit =
      Seq("graft_q185_orders", "graft_q185_customer").foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        graft.operators.Exec.deleteRecursively(java.nio.file.Paths.get(
          s.conf.get("spark.sql.warehouse.dir")
            .stripPrefix("file:"), t).toString)
      }
    dropBucketTables()
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .write.mode("overwrite")
      .bucketBy(8, "o_custkey").sortBy("o_custkey")
      .saveAsTable("graft_q185_orders")
    Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"))
      .write.mode("overwrite")
      .bucketBy(8, "c_custkey").sortBy("c_custkey")
      .saveAsTable("graft_q185_customer")
    val result = sc.keep(s.table("graft_q185_orders")
      .join(s.table("graft_q185_customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100, 0).cast("long"))
          .as("price_cents"))
      .orderBy("c_mktsegment"))
    // result is materialized (lineage truncated) — the bucketed scratch
    // tables can be dropped before returning instead of leaking per run
    dropBucketTables()
    result
  }

  private val q185Sql =
    """SELECT c_mktsegment, count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS price_cents
       FROM orders JOIN customer ON o_custkey = c_custkey
       GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  // --------------------------------------------------------------- q186
  /** Parquet sink round-trip as a driver-graded query (upgrades the
    * §2.1 sink plumbing row): a computed projection written
    * `partitionBy(l_returnflag)` to a lake path, read BACK through the
    * partition-discovering scan, and aggregated — so written bytes,
    * partition-column round-trip, and read-path pruning all sit inside
    * the value check. Revenue pre-quantized to integer cents at write
    * time: the graded sum is a LONG both before and after the trip. */
  private def q186(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    // per-run unique sink: a fixed path leaks per run and collides
    // under concurrent verifies; the small result is kept eagerly so
    // the scope can delete the scratch on exit
    val path = sc.tempDir("graft_q186_sink")
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_returnflag"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * 100, 0).cast("long").as("rev_cents"))
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
    val result = s.read.parquet(path)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum("rev_cents").as("rev_cents_sum"))
      .orderBy("l_returnflag")
    sc.keep(result)
  }

  private val q186Sql =
    """SELECT l_returnflag, count(*) AS n,
       CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
         AS BIGINT)) AS BIGINT) AS rev_cents_sum
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  // --------------------------------------------------------------- q187
  /** Event debounce (retry/duplicate throttling): within each
    * (user, event_type) stream, an event repeating within the grace
    * window of the previously KEPT event is a duplicate delivery —
    * kept-anchored (not lag-anchored) debounce is the exact at-least-
    * once-ingest cleanup. Implemented as a per-key ordered fold INSIDE
    * Catalyst (`aggregate` over the sorted per-key event array —
    * per-key cardinality is bounded by a user's own event volume, the
    * same contract as the session folds); never a global window. The
    * grade: per-type kept/dropped counts. */
  private def q187(s: SparkSession, d: String): DataFrame = {
    val graceUs = 24L * 3600L * 1000000L
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tu"), col("event_id"))
    // fold over the (ts, id)-sorted per-key array: keep an event iff
    // it clears the last KEPT event by more than the grace window
    val kept = ev.groupBy("user_id", "event_type")
      .agg(array_sort(collect_list(struct(col("tu"), col("event_id"))))
        .as("evs"))
      .select(col("user_id"), col("event_type"),
        size(col("evs")).cast("long").as("n_events"),
        aggregate(
          slice(col("evs"), lit(2), greatest(size(col("evs")) - 1, lit(0))),
          struct(lit(1L).as("n_kept"),
            element_at(col("evs"), 1).getField("tu").as("last")),
          (acc, e) => {
            val keep = e.getField("tu") - acc.getField("last") > graceUs
            struct(
              (acc.getField("n_kept") + when(keep, 1L).otherwise(0L))
                .as("n_kept"),
              when(keep, e.getField("tu")).otherwise(acc.getField("last"))
                .as("last"))
          }).getField("n_kept").as("n_kept"))
    kept.groupBy("event_type")
      .agg(sum("n_events").as("n_events"), sum("n_kept").as("n_kept"),
        (sum("n_events") - sum("n_kept")).as("n_dropped"))
      .orderBy("event_type")
  }

  private val q187Sql =
    """WITH RECURSIVE ev AS (SELECT user_id, event_type,
           epoch_us(ts) AS tu, event_id,
           row_number() OVER (PARTITION BY user_id, event_type
             ORDER BY epoch_us(ts), event_id) AS i
         FROM events),
       n AS (SELECT user_id, event_type, max(i) AS n FROM ev
             GROUP BY user_id, event_type),
       rec AS (
         SELECT user_id, event_type, i, CAST(1 AS BIGINT) AS n_kept,
           tu AS last
         FROM ev WHERE i = 1
         UNION ALL
         SELECT r.user_id, r.event_type, e.i,
           r.n_kept + CASE WHEN e.tu - r.last > 86400000000 THEN 1
                           ELSE 0 END,
           CASE WHEN e.tu - r.last > 86400000000 THEN e.tu ELSE r.last END
         FROM rec r JOIN ev e ON e.user_id = r.user_id
           AND e.event_type = r.event_type AND e.i = r.i + 1),
       fin AS (SELECT rec.user_id, rec.event_type, n.n AS n_events,
                 rec.n_kept
               FROM rec JOIN n ON n.user_id = rec.user_id
                 AND n.event_type = rec.event_type
               WHERE rec.i = n.n)
       SELECT event_type, CAST(sum(n_events) AS BIGINT) AS n_events,
         CAST(sum(n_kept) AS BIGINT) AS n_kept,
         CAST(sum(n_events) - sum(n_kept) AS BIGINT) AS n_dropped
       FROM fin GROUP BY event_type ORDER BY event_type"""

  // --------------------------------------------------------------- q188
  /** Growth accounting (new vs returning): each user's first-seen day
    * splits every day's active users into new and returning, with the
    * cumulative acquired-user curve. Two corpus aggregations (per-user
    * first day; per-day distinct actives) and a calendar-bounded final
    * window — the prefix sum runs over AGGREGATED day rows (≤ span
    * days), never events. */
  private def q188(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val firstSeen = ev.groupBy("user_id").agg(min("day").as("first_day"))
    val dailyActive = ev.distinct()
    val byDay = dailyActive.join(firstSeen, "user_id")
      .groupBy("day")
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
          .as("n_new"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDay
      .withColumn("n_returning", col("n_active") - col("n_new"))
      .withColumn("cum_users", sum("n_new").over(w))
      .orderBy("day")
  }

  private val q188Sql =
    """WITH ev AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
           FROM events),
       fs AS (SELECT user_id, min(day) AS first_day FROM ev
              GROUP BY user_id),
       byday AS (SELECT ev.day, count(*) AS n_active,
                   CAST(sum(CASE WHEN ev.day = fs.first_day THEN 1
                            ELSE 0 END) AS BIGINT) AS n_new
                 FROM ev JOIN fs ON ev.user_id = fs.user_id
                 GROUP BY ev.day)
       SELECT day, n_active, n_new,
         CAST(n_active - n_new AS BIGINT) AS n_returning,
         CAST(sum(n_new) OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_users
       FROM byday ORDER BY day"""

  // --------------------------------------------------------------- q189
  /** Revenue concentration (Pareto report): per-customer lifetime
    * revenue in integer cents, exact order-statistic p50/p90/p99
    * boundaries (k = ceil(q·n) via [[graft.engine.OrderStat]] — no
    * single-group multiset buffer), and for each tier the customer count,
    * revenue mass and share — "how top-heavy is the book" without a
    * global sort: one aggregation, a 3-value boundary broadcast, one
    * conditional re-aggregation. */
  private def q189(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val rev = sc.cache(Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
        .as("rev_cents")))
    // tier boundaries as exact order statistics (k = ceil(q·n), the
    // q182 contract): the narrowing kernel's per-round state is `bins`
    // longs, where a single-group exact `percentile` would buffer the
    // whole per-customer table's multiset in one aggregation buffer
    val (_, Seq(b50, b90, b99)) = graft.engine.OrderStat.kthSmallests(
      rev, "rev_cents",
      graft.engine.OrderStat.quantileRanks(Seq(0.5, 0.9, 0.99)))
    val tot = rev.agg(sum("rev_cents").as("total_cents"))
    def tier(name: String, bound: Double): DataFrame =
      rev.filter(col("rev_cents").cast("double") >= lit(bound))
        .agg(count(lit(1)).as("n_customers"),
          coalesce(sum("rev_cents"), lit(0L)).as("rev_cents"))
        .crossJoin(broadcast(tot))
        .select(lit(name).as("tier"),
          round(lit(bound), 4).as("boundary"),
          col("n_customers"), col("rev_cents"),
          round(col("rev_cents").cast("double") /
            col("total_cents").cast("double"), 6).as("share"))
    val result = tier("1_top_half", b50)
      .unionByName(tier("2_top_decile", b90))
      .unionByName(tier("3_top_percentile", b99))
      .orderBy("tier")
    sc.keep(result)
  }

  private val q189Sql =
    """WITH rev AS (SELECT o_custkey,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS rev_cents
         FROM orders GROUP BY o_custkey),
       nn AS (SELECT count(*) AS c FROM rev),
       ranked AS (SELECT rev_cents::DOUBLE AS x,
              row_number() OVER (ORDER BY rev_cents) AS rn FROM rev),
       ks AS (SELECT q, greatest(1, CAST(ceil(q * c) AS BIGINT)) AS k
              FROM (SELECT unnest([0.5, 0.9, 0.99]) AS q), nn),
       b AS (SELECT list(r.x ORDER BY ks.q) AS bs
             FROM ks JOIN ranked r ON r.rn = ks.k),
       tot AS (SELECT CAST(sum(rev_cents) AS BIGINT) AS total_cents
               FROM rev),
       tiers(tier, boundary, n_customers, rev_cents) AS (
         SELECT '1_top_half', round(b.bs[1], 4), count(*),
           CAST(coalesce(sum(rev_cents), 0) AS BIGINT)
         FROM rev, b WHERE rev.rev_cents::DOUBLE >= b.bs[1]
         GROUP BY b.bs[1]
         UNION ALL
         SELECT '2_top_decile', round(b.bs[2], 4), count(*),
           CAST(coalesce(sum(rev_cents), 0) AS BIGINT)
         FROM rev, b WHERE rev.rev_cents::DOUBLE >= b.bs[2]
         GROUP BY b.bs[2]
         UNION ALL
         SELECT '3_top_percentile', round(b.bs[3], 4), count(*),
           CAST(coalesce(sum(rev_cents), 0) AS BIGINT)
         FROM rev, b WHERE rev.rev_cents::DOUBLE >= b.bs[3]
         GROUP BY b.bs[3])
       SELECT tier, boundary, n_customers, rev_cents,
         round(rev_cents::DOUBLE / total_cents::DOUBLE, 6) AS share
       FROM tiers, tot ORDER BY tier"""

  // --------------------------------------------------------------- q191
  /** Time-decayed popularity (the feature-store freshness score):
    * per-part `Σ exp(−λ·age_days)` over its order lines, λ = 0.0231
    * (≈30-day half-life), ages anchored to the corpus' max order date.
    * Each decay term is micro-unit (×10⁶) quantized and summed AS A
    * LONG — exp sums on doubles are order-dependent, integer sums are
    * not — so the ranking grades engine-exactly. One join + one
    * aggregation; the anchor is a 1-row broadcast. */
  private def q191(s: SparkSession, d: String): DataFrame = {
    val od = Tables.orders(s, d)
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"))
    val anchor = od.agg(max("od").as("ref"))
    val li = Tables.lineitem(s, d).select("l_orderkey", "l_partkey")
    li.join(od, col("l_orderkey") === col("o_orderkey"))
      .crossJoin(broadcast(anchor))
      .select(col("l_partkey"),
        round(exp(lit(-0.0231) *
          datediff(col("ref"), col("od")).cast("double")) * 1e6, 0)
          .cast("long").as("w"))
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n_lines"), sum("w").as("score_micro"))
      .orderBy(col("score_micro").desc, col("l_partkey"))
      .limit(20)
  }

  private val q191Sql =
    """WITH od AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od
           FROM orders),
       anchor AS (SELECT max(od) AS ref FROM od),
       w AS (SELECT l.l_partkey,
               CAST(round(exp(-0.0231 *
                 CAST(datediff('day', od.od, anchor.ref) AS DOUBLE))
                 * 1000000) AS BIGINT) AS w
             FROM lineitem l JOIN od ON l.l_orderkey = od.o_orderkey,
                  anchor)
       SELECT l_partkey, count(*) AS n_lines,
         CAST(sum(w) AS BIGINT) AS score_micro
       FROM w GROUP BY l_partkey
       ORDER BY score_micro DESC, l_partkey LIMIT 20"""

  // --------------------------------------------------------------- q192
  /** Leave-one-out target encoding (the leakage-safe categorical
    * feature): each lineitem's supplier encoded as
    * `(pos_supplier − y) / (n_supplier − 1)` — the supplier's return
    * rate EXCLUDING the row itself, so the feature never sees its own
    * label. One grouped aggregation joined back onto the rows
    * (broadcast at dimension cardinality); singleton categories
    * encode NULL. Graded per-row over the deterministic
    * `l_suppkey ≤ 10` slice — bounded output at any corpus scale. */
  private def q192(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .filter(col("l_suppkey") <= 10)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
    val stats = li.groupBy("l_suppkey")
      .agg(count(lit(1)).as("n_cat"), sum("y").as("pos_cat"))
    li.join(broadcast(stats), Seq("l_suppkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
        col("y"),
        when(col("n_cat") > 1,
          round((col("pos_cat") - col("y")).cast("double") /
            (col("n_cat") - 1).cast("double"), 6)).as("loo_enc"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  private val q192Sql =
    """WITH li AS (SELECT l_orderkey, l_linenumber, l_suppkey,
           CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
         FROM lineitem WHERE l_suppkey <= 10),
       stats AS (SELECT l_suppkey, count(*) AS n_cat,
                   CAST(sum(y) AS BIGINT) AS pos_cat
                 FROM li GROUP BY l_suppkey)
       SELECT li.l_orderkey, li.l_linenumber, li.l_suppkey,
         CAST(li.y AS BIGINT) AS y,
         CASE WHEN stats.n_cat > 1 THEN
           round((stats.pos_cat - li.y)::DOUBLE /
             (stats.n_cat - 1)::DOUBLE, 6) END AS loo_enc
       FROM li JOIN stats ON li.l_suppkey = stats.l_suppkey
       ORDER BY l_orderkey, l_linenumber"""

  // --------------------------------------------------------------- q193
  /** k-anonymity audit (privacy pre-flight before sharing a table):
    * for each quasi-identifier set, how many equivalence classes fall
    * below k=5 members and how many rows they expose. Two QI sets on
    * customer — the coarse (nation, segment) pairing and the sharper
    * one adding the account balance rounded to hundreds — one grouped
    * count each, aggregated to a one-row-per-QI-set report. */
  private def q193(s: SparkSession, d: String): DataFrame = {
    val k = 5
    val cust = Tables.customer(s, d)
    def audit(name: String, grouped: DataFrame): DataFrame =
      grouped
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("n") < k, 1L).otherwise(0L)).as("n_small_groups"),
          sum(when(col("n") < k, col("n")).otherwise(0L))
            .as("n_rows_at_risk"),
          min("n").as("min_group_size"))
        .select(lit(name).as("qi_set"), lit(k.toLong).as("k"),
          col("n_groups"), col("n_small_groups"), col("n_rows_at_risk"),
          col("min_group_size"))
    val coarse = cust.groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("n"))
    val sharp = cust
      .withColumn("bal_100",
        (floor(col("c_acctbal") / 100) * 100).cast("long"))
      .groupBy("c_nationkey", "c_mktsegment", "bal_100")
      .agg(count(lit(1)).as("n"))
    audit("1_nation_segment", coarse)
      .unionByName(audit("2_nation_segment_bal100", sharp))
      .orderBy("qi_set")
  }

  private val q193Sql =
    """WITH coarse AS (SELECT count(*) AS n FROM customer
           GROUP BY c_nationkey, c_mktsegment),
       sharp AS (SELECT count(*) AS n FROM customer
           GROUP BY c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 100) * 100 AS BIGINT))
       SELECT '1_nation_segment' AS qi_set, CAST(5 AS BIGINT) AS k,
         count(*) AS n_groups,
         CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_small_groups,
         CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
           AS n_rows_at_risk,
         CAST(min(n) AS BIGINT) AS min_group_size
       FROM coarse
       UNION ALL
       SELECT '2_nation_segment_bal100', CAST(5 AS BIGINT), count(*),
         CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT),
         CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT),
         CAST(min(n) AS BIGINT)
       FROM sharp
       ORDER BY qi_set"""

  // --------------------------------------------------------------- q194
  /** Feature correlation matrix from EXACT integer moments: the four
    * lineitem numerics integer-scaled at the scan (quantity, cents,
    * percent units), every sufficient statistic (Σa, Σa², Σab) summed
    * as DECIMAL(38,0) — per-row products fit a LONG, corpus sums
    * don't — in ONE aggregation pass, then the 6 pairwise Pearson
    * coefficients evaluated in fixed IEEE shape from identical exact
    * integers. No sampling, no order-dependent float accumulation, one
    * corpus scan for the full matrix. */
  private def q194(s: SparkSession, d: String): DataFrame = {
    val cols = Seq("q", "p", "disc", "tax")
    val li = Tables.lineitem(s, d).select(
      col("l_quantity").cast("long").as("q"),
      round(col("l_extendedprice") * 100, 0).cast("long").as("p"),
      round(col("l_discount") * 100, 0).cast("long").as("disc"),
      round(col("l_tax") * 100, 0).cast("long").as("tax"))
    val sums =
      Seq(count(lit(1)).as("n")) ++
      cols.map(c => sum(col(c).cast("decimal(38,0)")).as(s"s_$c")) ++
      cols.map(c => sum((col(c) * col(c)).cast("decimal(38,0)"))
        .as(s"s_${c}_$c")) ++
      cols.combinations(2).map { case Seq(a, b) =>
        sum((col(a) * col(b)).cast("decimal(38,0)")).as(s"s_${a}_$b")
      }.toSeq
    val m = li.agg(sums.head, sums.tail: _*)
    def corrRow(a: String, b: String): DataFrame = {
      val n = col("n").cast("double")
      def d38(c: String) = col(c).cast("double")
      val cov = n * d38(s"s_${a}_$b") - d38(s"s_$a") * d38(s"s_$b")
      val va = n * d38(s"s_${a}_$a") - d38(s"s_$a") * d38(s"s_$a")
      val vb = n * d38(s"s_${b}_$b") - d38(s"s_$b") * d38(s"s_$b")
      m.select(lit(a).as("col_a"), lit(b).as("col_b"), col("n"),
        round(cov / sqrt(va * vb), 6).as("pearson"))
    }
    cols.combinations(2).map { case Seq(a, b) => corrRow(a, b) }
      .reduce(_.unionByName(_))
      .orderBy("col_a", "col_b")
  }

  private val q194Sql = {
    val cols = Seq("q" -> "CAST(l_quantity AS BIGINT)",
      "p" -> "CAST(round(l_extendedprice * 100) AS BIGINT)",
      "disc" -> "CAST(round(l_discount * 100) AS BIGINT)",
      "tax" -> "CAST(round(l_tax * 100) AS BIGINT)")
    val names = cols.map(_._1)
    val selfSums = names.map(c =>
      s"sum(CAST($c * $c AS HUGEINT)) AS s_${c}_$c")
    val pairSums = names.combinations(2).map { case Seq(a, b) =>
      s"sum(CAST($a * $b AS HUGEINT)) AS s_${a}_$b"
    }.toSeq
    val rows = names.combinations(2).map { case Seq(a, b) =>
      s"""SELECT '$a' AS col_a, '$b' AS col_b, n,
         round((n::DOUBLE * s_${a}_$b::DOUBLE
             - s_$a::DOUBLE * s_$b::DOUBLE)
           / sqrt((n::DOUBLE * s_${a}_$a::DOUBLE
               - s_$a::DOUBLE * s_$a::DOUBLE)
             * (n::DOUBLE * s_${b}_$b::DOUBLE
               - s_$b::DOUBLE * s_$b::DOUBLE)), 6) AS pearson
         FROM m"""
    }.mkString("\n UNION ALL\n")
    s"""WITH li AS (SELECT ${cols.map { case (n, e) => s"$e AS $n" }
        .mkString(", ")} FROM lineitem),
       m AS (SELECT count(*) AS n,
         ${names.map(c => s"sum(CAST($c AS HUGEINT)) AS s_$c")
        .mkString(", ")},
         ${(selfSums ++ pairSums).mkString(", ")}
         FROM li)
       $rows
       ORDER BY col_a, col_b"""
  }

  // --------------------------------------------------------------- q195
  /** Conversion latency distribution: per user, minutes from first
    * signup to the first purchase AFTER it, summarized as exact
    * order-statistic quartiles + p90 (k = ceil(q·n) via
    * [[graft.engine.OrderStat]] — the q182 contract; no single-group
    * multiset buffer). Latencies derive from integer microsecond
    * differences (identical in any engine); two grouped aggregations
    * and a user-keyed join — the product-analytics "time to convert"
    * panel. */
  private def q195(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tu"))
    val su = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("tu").as("su"))
    val latency = ev.filter(col("event_type") === "purchase")
      .join(su, "user_id")
      .filter(col("tu") > col("su"))
      .groupBy("user_id").agg(min("tu").as("pu"), first("su").as("fsu"))
      .select(((col("pu") - col("fsu")).cast("double") / 6e7)
        .as("latency_min"))
    val (n, Seq(p25, p50, p75, p90)) = graft.engine.OrderStat
      .kthSmallests(latency, "latency_min",
        graft.engine.OrderStat.quantileRanks(Seq(0.25, 0.5, 0.75, 0.9)))
    s.range(1).select(
      lit(n).as("n_converted"),
      round(lit(p25), 4).as("p25"),
      round(lit(p50), 4).as("p50"),
      round(lit(p75), 4).as("p75"),
      round(lit(p90), 4).as("p90"))
  }

  private val q195Sql =
    """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tu
           FROM events),
       su AS (SELECT user_id, min(tu) AS su FROM ev
              WHERE event_type = 'signup' GROUP BY user_id),
       lat AS (SELECT (min(ev.tu) - any_value(su.su))::DOUBLE / 60000000.0
                 AS latency_min
               FROM ev JOIN su ON ev.user_id = su.user_id
               WHERE ev.event_type = 'purchase' AND ev.tu > su.su
               GROUP BY ev.user_id),
       nn AS (SELECT count(*) AS c FROM lat),
       ranked AS (SELECT latency_min AS x,
              row_number() OVER (ORDER BY latency_min) AS rn FROM lat),
       ks AS (SELECT q, greatest(1, CAST(ceil(q * c) AS BIGINT)) AS k
              FROM (SELECT unnest([0.25, 0.5, 0.75, 0.9]) AS q), nn),
       b AS (SELECT list(r.x ORDER BY ks.q) AS bs
             FROM ks JOIN ranked r ON r.rn = ks.k)
       SELECT (SELECT c FROM nn) AS n_converted,
         round(bs[1], 4) AS p25, round(bs[2], 4) AS p50,
         round(bs[3], 4) AS p75, round(bs[4], 4) AS p90
       FROM b"""

  // --------------------------------------------------------------- q196
  /** k-center coreset (greedy farthest-point diverse-subset
    * selection, the Gonzalez 2-approximation): seed at the smallest
    * vec_id, then `k−1` rounds of "take the point farthest from every
    * chosen center", tracking each point's min cosine-distance to the
    * chosen set. The modern curation primitive behind diverse
    * fine-tuning subsets and IVF seed picking.
    *
    * Scale shape: each round is ONE corpus pass (a broadcast of the
    * new center's vector, a `least` fold into the running min-dist
    * column, a TakeOrdered argmax — never a global sort), state is
    * `localCheckpoint`ed per round so round j's plan never re-walks
    * rounds 1..j−1. Distances are micro-unit-quantized LONGs with a
    * vec_id tie-break, so the greedy trajectory is a pure function of
    * the data — the oracle unrolls all k rounds CTE-by-CTE and must
    * pick the identical centers and coverage radii. */
  private def q196(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    import s.implicits._
    val k = 6
    val emb = sc.checkpoint(Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding")))
    def cosTo(df: DataFrame, centerId: Long): DataFrame = {
      val ce = emb.filter(col("vec_id") === centerId)
        .select(col("embedding").as("cemb"))
      df.crossJoin(broadcast(ce))
        .withColumn("dq", round((lit(1.0) -
          VectorFunctions.dot(col("embedding"), col("cemb")) /
            (VectorFunctions.norm(col("embedding")) *
             VectorFunctions.norm(col("cemb")))) * 1e6, 0).cast("long"))
        .drop("cemb")
    }
    val c1 = emb.agg(min("vec_id")).head().getLong(0)
    var state = sc.checkpoint(cosTo(emb, c1)
      .select(col("vec_id"), col("embedding"), col("dq").as("md")))
    val picks = scala.collection.mutable.ArrayBuffer(
      (1, c1, state.agg(max("md")).head().getLong(0)))
    for (j <- 2 to k) {
      val cj = state.orderBy(col("md").desc, col("vec_id"))
        .select("vec_id").head().getLong(0)
      val next = sc.checkpoint(cosTo(state, cj)
        .select(col("vec_id"), col("embedding"),
          least(col("md"), col("dq")).as("md")))
      // previous round's min-dist state is dead once next materializes
      sc.release(state)
      state = next
      picks += ((j, cj, state.agg(max("md")).head().getLong(0)))
    }
    // result rows are driver-side — the scope frees the corpus scratch
    picks.toSeq.toDF("rank", "vec_id", "radius_micro")
      .orderBy("rank")
  }

  private val q196Sql = {
    def cos(a: String, b: String) =
      s"""(list_dot_product($a::DOUBLE[], $b::DOUBLE[])
         / (sqrt(list_dot_product($a::DOUBLE[], $a::DOUBLE[]))
            * sqrt(list_dot_product($b::DOUBLE[], $b::DOUBLE[]))))"""
    def dq(a: String, b: String) =
      s"CAST(round((1.0 - ${cos(a, b)}) * 1000000) AS BIGINT)"
    val rounds = (2 to 6).map { j =>
      val p = j - 1
      s"""c$j AS (SELECT vec_id AS id FROM e$p
             ORDER BY md DESC, vec_id LIMIT 1),
         ce$j AS (SELECT e.embedding AS cemb FROM emb e, c$j
             WHERE e.vec_id = c$j.id),
         e$j AS (SELECT p.vec_id, p.embedding,
             least(p.md, ${dq("p.embedding", "ce$.cemb")
        .replace("ce$.cemb", s"ce$j.cemb")}) AS md
           FROM e$p p, ce$j),
         r$j AS (SELECT $j AS rank, (SELECT id FROM c$j) AS vec_id,
             CAST(max(md) AS BIGINT) AS radius_micro FROM e$j)"""
    }.mkString(",\n")
    s"""WITH emb AS (SELECT vec_id, embedding FROM embeddings),
       c1 AS (SELECT min(vec_id) AS id FROM emb),
       ce1 AS (SELECT e.embedding AS cemb FROM emb e, c1
           WHERE e.vec_id = c1.id),
       e1 AS (SELECT e.vec_id, e.embedding,
           ${dq("e.embedding", "ce1.cemb")} AS md
         FROM emb e, ce1),
       r1 AS (SELECT 1 AS rank, (SELECT id FROM c1) AS vec_id,
           CAST(max(md) AS BIGINT) AS radius_micro FROM e1),
       $rounds
       SELECT rank, vec_id, radius_micro FROM (
         SELECT * FROM r1 UNION ALL SELECT * FROM r2
         UNION ALL SELECT * FROM r3 UNION ALL SELECT * FROM r4
         UNION ALL SELECT * FROM r5 UNION ALL SELECT * FROM r6)
       ORDER BY rank"""
  }

  // --------------------------------------------------------------- q197
  /** FK fan-out profile (the join-explosion pre-flight next to q119's
    * Σf² forecast): the full per-key cardinality DISTRIBUTION of the
    * two hot relationships — orders per customer, lines per order —
    * as exact order-statistic p50/p90/p99 (k = ceil(q·n) via
    * [[graft.engine.OrderStat]] — the key table is corpus-sized, so a
    * single-group exact `percentile` buffer is exactly the explosion
    * this query exists to prevent) plus max. Two grouped counts and
    * two narrowing scans; at 100 TB this is what tells you whether a
    * key's fan-out makes a shuffle join safe before you commit it. */
  private def q197(s: SparkSession, d: String): DataFrame = {
    // ONE batched narrowing cascade for BOTH profiles (r16): the two
    // count frames land in disjoint columns of one union (nulls are
    // outside every OrderStat range predicate, and each spec's ranks
    // resolve against its own non-null count), so all eight order
    // statistics advance in lockstep — ~2 driver round-trips per
    // round instead of two independent per-profile cascades (each
    // with its own persist + count + max jobs). max_fanout rides the
    // same cascade as rank n (the n-th smallest IS the max), so the
    // separate max aggregation disappears too.
    val opc = Tables.orders(s, d).groupBy("o_custkey")
      .agg(count(lit(1)).as("n"))
    val lpo = Tables.lineitem(s, d).groupBy("l_orderkey")
      .agg(count(lit(1)).as("n"))
    val dn = col("n").cast("double")
    val nul = lit(null).cast("double")
    val both = opc.select(dn.as("n_opc"), nul.as("n_lpo"))
      .unionByName(lpo.select(nul.as("n_opc"), dn.as("n_lpo")))
    def ranks(n: Long): Seq[Long] =
      graft.engine.OrderStat.quantileRanks(Seq(0.5, 0.9, 0.99))(n) :+ n
    val Seq((nO, vO), (nL, vL)) = graft.engine.OrderStat.multiQuantiles(
      both, Seq("n_opc" -> (ranks _), "n_lpo" -> (ranks _)))
    def rowOf(name: String, n: Long, v: Seq[Double]): DataFrame =
      s.range(1).select(lit(name).as("fk"), lit(n).as("n_keys"),
        round(lit(v(0)), 4).as("p50"), round(lit(v(1)), 4).as("p90"),
        round(lit(v(2)), 4).as("p99"), lit(v(3).toLong).as("max_fanout"))
    rowOf("1_orders_per_customer", nO, vO)
      .unionByName(rowOf("2_lines_per_order", nL, vL))
      .orderBy("fk")
  }

  private val q197Sql =
    """WITH opc AS (SELECT count(*) AS n FROM orders GROUP BY o_custkey),
       lpo AS (SELECT count(*) AS n FROM lineitem GROUP BY l_orderkey),
       -- p50/p90/p99 as exact order statistics (k = ceil(q*n)),
       -- mirroring the engine's iterative k-th-smallest kernel
       oppr AS (SELECT n::DOUBLE AS x, row_number() OVER (ORDER BY n)
                  AS rn FROM opc),
       opn AS (SELECT count(*) AS c FROM opc),
       opks AS (SELECT q, greatest(1, CAST(ceil(q * c) AS BIGINT)) AS k
                FROM (SELECT unnest([0.5, 0.9, 0.99]) AS q), opn),
       opb AS (SELECT list(r.x ORDER BY ks.q) AS bs
               FROM opks ks JOIN oppr r ON r.rn = ks.k),
       lppr AS (SELECT n::DOUBLE AS x, row_number() OVER (ORDER BY n)
                  AS rn FROM lpo),
       lpn AS (SELECT count(*) AS c FROM lpo),
       lpks AS (SELECT q, greatest(1, CAST(ceil(q * c) AS BIGINT)) AS k
                FROM (SELECT unnest([0.5, 0.9, 0.99]) AS q), lpn),
       lpb AS (SELECT list(r.x ORDER BY ks.q) AS bs
               FROM lpks ks JOIN lppr r ON r.rn = ks.k)
       SELECT '1_orders_per_customer' AS fk,
         (SELECT c FROM opn) AS n_keys,
         round(bs[1], 4) AS p50, round(bs[2], 4) AS p90,
         round(bs[3], 4) AS p99,
         (SELECT CAST(max(n) AS BIGINT) FROM opc) AS max_fanout
       FROM opb
       UNION ALL
       SELECT '2_lines_per_order', (SELECT c FROM lpn),
         round(bs[1], 4), round(bs[2], 4), round(bs[3], 4),
         (SELECT CAST(max(n) AS BIGINT) FROM lpo)
       FROM lpb
       ORDER BY fk"""

  // --------------------------------------------------------------- q198
  /** Bidirectional nearest-event join (the as-of family completed):
    * each purchase matches its NEAREST click within ±1 day — backward
    * candidate from the running max-struct window (the q28 kernel),
    * forward candidate from the mirrored min-struct-over-following
    * window, nearer one wins, exact tie → the earlier (backward)
    * click. Still one sort per user and zero range joins. Daily
    * rollup grades match counts and the exact integer-microsecond gap
    * mass. */
  private def q198(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tolUs = 24L * 3600L * 1000000L
    val ev = Tables.events(s, d)
    val l = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("tu"),
        col("event_id"), lit(1).as("is_left"))
    val r = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("tu"),
        col("event_id"), lit(0).as("is_left"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("tu"), col("is_left"), col("event_id"))
    val bw = max(when(col("is_left") === 0, col("tu")))
      .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val fw = min(when(col("is_left") === 0, col("tu")))
      .over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing))
    val gapped = l.unionByName(r)
      .withColumn("bw", bw).withColumn("fw", fw)
      .filter(col("is_left") === 1)
      .withColumn("bgap", when(col("bw").isNotNull &&
        col("tu") - col("bw") <= tolUs, col("tu") - col("bw")))
      .withColumn("fgap", when(col("fw").isNotNull &&
        col("fw") - col("tu") <= tolUs, col("fw") - col("tu")))
      .withColumn("gap",
        when(col("bgap").isNotNull &&
          (col("fgap").isNull || col("bgap") <= col("fgap")), col("bgap"))
          .otherwise(col("fgap")))
    gapped.groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(when(col("gap").isNotNull, 1L).otherwise(0L)).as("n_matched"),
        sum(coalesce(col("gap"), lit(0L))).as("gap_micro_sum"))
      .orderBy("day")
  }

  private val q198Sql =
    """WITH p AS (SELECT user_id, ts, epoch_us(ts) AS tu FROM events
           WHERE event_type = 'purchase'),
       g AS (SELECT p.ts,
           (SELECT max(c.ts) FROM events c
             WHERE c.event_type = 'click' AND c.user_id = p.user_id
               AND c.ts <= p.ts
               AND epoch_us(c.ts) >= p.tu - 86400000000) AS bts,
           (SELECT min(c.ts) FROM events c
             WHERE c.event_type = 'click' AND c.user_id = p.user_id
               AND c.ts > p.ts
               AND epoch_us(c.ts) <= p.tu + 86400000000) AS fts
         FROM p),
       gg AS (SELECT ts,
           CASE WHEN bts IS NOT NULL AND (fts IS NULL OR
                  epoch_us(ts) - epoch_us(bts) <=
                    epoch_us(fts) - epoch_us(ts))
                THEN epoch_us(ts) - epoch_us(bts)
                ELSE epoch_us(fts) - epoch_us(ts) END AS gap
         FROM g)
       SELECT CAST(ts AS DATE) AS day, count(*) AS n_purchases,
         CAST(sum(CASE WHEN gap IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_matched,
         CAST(sum(coalesce(gap, 0)) AS BIGINT) AS gap_micro_sum
       FROM gg GROUP BY day ORDER BY day"""

  // --------------------------------------------------------------- q199
  /** Linear multi-touch attribution (q179's last-touch generalized):
    * every click in a purchase's 7-day lookback shares the credit
    * equally, `round(10⁶/n)` micro-credits each, so the per-day credit
    * mass is an exact LONG sum. The pair join is user-keyed with a
    * time-window predicate — per-user fan-out is bounded by a user's
    * own click volume, never corpus²; rolled up by CLICK day ("which
    * day's marketing earned today's conversions"). */
  private def q199(s: SparkSession, d: String): DataFrame = {
    val tolUs = 7L * 24L * 3600L * 1000000L
    val ev = Tables.events(s, d)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"),
        unix_micros(col("ts")).as("ptu"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("cts"),
        unix_micros(col("ts")).as("ctu"))
    val pairs = p.join(c, Seq("user_id"))
      .filter(col("ctu") <= col("ptu") &&
        col("ctu") >= col("ptu") - tolUs)
    val credited = pairs
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("pid")))
      .withColumn("credit_micro",
        round(lit(1e6) / col("n").cast("double"), 0).cast("long"))
    credited.groupBy(to_date(col("cts")).as("click_day"))
      .agg(count(lit(1)).as("n_credited_clicks"),
        sum("credit_micro").as("credit_micro_sum"))
      .orderBy("click_day")
  }

  private val q199Sql =
    """WITH p AS (SELECT user_id, event_id AS pid, epoch_us(ts) AS ptu
           FROM events WHERE event_type = 'purchase'),
       c AS (SELECT user_id, ts AS cts, epoch_us(ts) AS ctu FROM events
           WHERE event_type = 'click'),
       pairs AS (SELECT p.pid, c.cts,
           count(*) OVER (PARTITION BY p.pid) AS n
         FROM p JOIN c ON p.user_id = c.user_id
         WHERE c.ctu <= p.ptu AND c.ctu >= p.ptu - 604800000000),
       credited AS (SELECT cts,
           CAST(round(1000000.0 / n::DOUBLE) AS BIGINT) AS credit_micro
         FROM pairs)
       SELECT CAST(cts AS DATE) AS click_day,
         count(*) AS n_credited_clicks,
         CAST(sum(credit_micro) AS BIGINT) AS credit_micro_sum
       FROM credited GROUP BY click_day ORDER BY click_day"""

  // --------------------------------------------------------------- q200
  /** END-TO-END curation funnel — the capstone composition: the raw
    * corpus (every 20th doc held out as the benchmark) flows through
    * Gopher quality rules → exact content-hash dedup → MinHash-LSH
    * near-dup pair-drop (greater id of each verified pair) → 3-gram
    * benchmark decontamination with a RANK-BASED drop (the top decile
    * of contamination ratio, threshold = the exact k = ceil(0.9·n)
    * order statistic via [[graft.engine.OrderStat]] — an absolute
    * cutoff can't be scale-robust when the held-out set grows with
    * the corpus; ratios are int/int doubles identical in both
    * engines, so the boundary comparison is too), and lands as a
    * per-source funnel report with the
    * surviving token mass. Every stage is one of the already-graded
    * kernels
    * ([[Quality.gopherFlags]], [[Dedup.exact]], [[Dedup.minhashPairs]],
    * [[Decontam.overlap]]) composed as a user would compose them; the
    * oracle replays all four stages in one CTE chain over the SHARED
    * shingle/band CTEs (q36/q73/q74's own text), so the composition
    * can never drift from the parts. */
  private def q200(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    // Every text-scanning stage reads a session KERNEL (the per-doc
    // signal / fingerprint / pair / contamination stores in
    // [[graft.Kernels]]) — the funnel itself is small-table algebra
    // over per-doc rows, the production posture where curation queries
    // consume stored per-document artifacts instead of re-scanning the
    // corpus text per run. Equality with the inline pipeline (pinned
    // by Q200KernelSpec + the oracle, which replays all stages from
    // raw text): gopher flags, content hashes, band keys and per-doc
    // contamination stats are pure PER-DOCUMENT functions, and pair
    // verification is pairwise — so every subset stage is exactly a
    // filter of the full-corpus store. Survivor id lists are
    // checkpointed (each feeds its stage AND the funnel tag joins) and
    // released before the query returns (the r13 GC-backlog lesson).
    val sig = Kernels.gopherSignals(s, d)
    val corpusSig = sig.filter(pmod(col("doc_id"), lit(20)) =!= 0)
    val gIds = sc.checkpoint(corpusSig.filter(col("keep")).select("doc_id"))
    // exact dedup over the quality survivors = groupBy over the stored
    // fingerprints of exactly those docs (Dedup.exact's aggregation,
    // min id per content-hash group)
    val exIds = sc.checkpoint(Kernels.docContentHash(s, d)
      .join(gIds, "doc_id")
      .groupBy("content_hash")
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id"))
    // near-dup pairs over the exact survivors = the full-corpus pair
    // store restricted to pairs with BOTH ends surviving (band keys
    // are per-doc, jaccard verification is pairwise — q200's
    // threshold/band parameters are the store's own)
    val pairs = Kernels.minhashPairs(s, d, threshold = 0.8)
      .join(exIds.select(col("doc_id").as("doc_a")), "doc_a")
      .join(exIds.select(col("doc_id").as("doc_b")), "doc_b")
    val dropB = pairs.select(col("doc_b").as("doc_id")).distinct()
    val ndIds = sc.checkpoint(exIds.join(dropB, Seq("doc_id"), "left_anti"))
    val rd = ndIds
      .join(Kernels.benchOverlap(s, d, n = 3)
        .select(col("id").as("doc_id"),
          (col("n_contam").cast("double") /
            col("n_ngrams").cast("double")).as("ratio")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("ratio"), lit(0.0)).as("ratio"))
    // p90 threshold as an exact order statistic (k = ceil(0.9·n), the
    // q182 contract): no doc-cardinality multiset buffer, and the
    // boundary is a data value both engines hold bit-identically
    val rdC = sc.checkpoint(rd)
    val (_, Seq(thr)) = graft.engine.OrderStat.kthSmallests(
      rdC, "ratio", graft.engine.OrderStat.quantileRanks(Seq(0.9)))
    val contamIds = rdC
      .filter(col("ratio") >= lit(thr) && col("ratio") > 0.0)
      .select("doc_id")
    val cleanIds = ndIds.join(contamIds, Seq("doc_id"), "left_anti")
    def tag(ids: DataFrame, name: String): DataFrame =
      ids.withColumn(name, lit(1L))
    // funnel base: ids + source straight off the parquet scan (no text
    // column read), token counts from the signal store — the kernel's
    // n_words IS size(words(text)) by gopherFlags' definition, and the
    // store has one row per document so the inner join keeps every
    // corpus doc
    val funnel = Tables.documents(s, d)
      .select(col("doc_id"), col("source"))
      .filter(pmod(col("doc_id"), lit(20)) =!= 0)
      .join(corpusSig.select(col("doc_id"),
        col("n_words").as("toks")), "doc_id")
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
    // per-source report (a handful of rows): keep it eagerly so every
    // stage checkpoint is released before the query returns
    sc.keep(funnel)
  }

  private val q200Sql = Pipeline.minhashBandCtes +
    """,
       gq AS (SELECT wa.doc_id FROM wa
           WHERE wa.doc_id % 20 <> 0
             AND len(w) >= 40 AND len(w) <= 50000
             AND round(length(array_to_string(w,''))::DOUBLE / len(w), 4)
                   >= 4.0
             AND round(length(array_to_string(w,''))::DOUBLE / len(w), 4)
                   <= 10.0
             AND round(1.0 - len(list_distinct(w))::DOUBLE / len(w), 4)
                   <= 0.55
             AND len(list_filter(w, t ->
                   list_contains(['the','a','of','and','to','in'], t)))
                   >= 2),
       ex AS (SELECT min(d.doc_id) AS doc_id
              FROM gq JOIN documents d ON d.doc_id = gq.doc_id
              GROUP BY md5(lower(regexp_replace(trim(d.text),
                '\s+',' ','g')))),
       ndrop AS (SELECT DISTINCT b.doc_id AS doc_id
           FROM bands a JOIN bands b
             ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id
           JOIN ex ea ON ea.doc_id = a.doc_id
           JOIN ex eb ON eb.doc_id = b.doc_id
           JOIN sh x ON x.doc_id = a.doc_id
           JOIN sh y ON y.doc_id = b.doc_id
           WHERE round(len(list_intersect(x.sh, y.sh))::DOUBLE /
             (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))),
             4) >= 0.8),
       nd AS (SELECT doc_id FROM ex
              WHERE doc_id NOT IN (SELECT doc_id FROM ndrop)),
       ban AS (SELECT DISTINCT ('0x' || substr(md5(s),1,15))::BIGINT AS h
           FROM (SELECT unnest(sh.sh) AS s FROM sh
                 WHERE sh.doc_id % 20 = 0) t),
       corp3 AS (SELECT t.doc_id,
             ('0x' || substr(md5(t.s),1,15))::BIGINT AS h
           FROM (SELECT sh.doc_id, unnest(sh.sh) AS s
                 FROM sh JOIN nd ON nd.doc_id = sh.doc_id) t),
       contam AS (SELECT c.doc_id, count(*) AS n_contam
                  FROM corp3 c JOIN ban USING (h) GROUP BY c.doc_id),
       rat AS (SELECT nd.doc_id,
             coalesce(c.n_contam::DOUBLE / len(sh.sh), 0.0) AS ratio
           FROM nd JOIN sh ON sh.doc_id = nd.doc_id
           LEFT JOIN contam c ON c.doc_id = nd.doc_id),
       ratn AS (SELECT count(*) AS c FROM rat),
       ratr AS (SELECT ratio, row_number() OVER (ORDER BY ratio) AS rn
                FROM rat),
       thr AS (SELECT r.ratio AS thr FROM ratr r, ratn
               WHERE r.rn = greatest(1, CAST(ceil(0.9 * c) AS BIGINT))),
       cdrop AS (SELECT rat.doc_id FROM rat, thr
                 WHERE rat.ratio >= thr.thr AND rat.ratio > 0.0),
       clean AS (SELECT doc_id FROM nd
                 WHERE doc_id NOT IN (SELECT doc_id FROM cdrop)),
       rep AS (SELECT d.source, d.doc_id,
             CAST(len(wa.w) AS BIGINT) AS toks,
             CASE WHEN d.doc_id IN (SELECT doc_id FROM gq)
                  THEN 1 ELSE 0 END AS f_q,
             CASE WHEN d.doc_id IN (SELECT doc_id FROM ex)
                  THEN 1 ELSE 0 END AS f_ex,
             CASE WHEN d.doc_id IN (SELECT doc_id FROM nd)
                  THEN 1 ELSE 0 END AS f_nd,
             CASE WHEN d.doc_id IN (SELECT doc_id FROM clean)
                  THEN 1 ELSE 0 END AS f_cl
           FROM documents d JOIN wa ON wa.doc_id = d.doc_id
           WHERE d.doc_id % 20 <> 0)
       SELECT source, count(*) AS n_in,
         CAST(sum(f_q) AS BIGINT) AS n_quality,
         CAST(sum(f_ex) AS BIGINT) AS n_exact,
         CAST(sum(f_nd) AS BIGINT) AS n_neardup,
         CAST(sum(f_cl) AS BIGINT) AS n_clean,
         CAST(sum(CASE WHEN f_cl = 1 THEN toks ELSE 0 END) AS BIGINT)
           AS clean_token_sum
       FROM rep GROUP BY source ORDER BY source"""

  // --------------------------------------------------------------- q201
  /** CUPED variance reduction (the modern experimentation readout next
    * to q120's Welch test): per-user purchase revenue split into a
    * pre-period covariate (days before Jan 16) and the post-period
    * metric, `θ = cov(pre, post)/var(pre)` fitted pooled from EXACT
    * integer-cent moments (q194's DECIMAL(38,0)/HUGEINT discipline),
    * and each user's adjusted metric `post − θ·(pre − mean_pre)`
    * quantized to 10⁻⁴-cent LONGs so every per-arm sum is
    * order-independent. Reports, per arm (q120's md5 hash-arm kernel):
    * users, raw vs adjusted mean, and the variance-reduction fraction
    * — how much experiment sensitivity the covariate buys. */
  private def q201(s: SparkSession, d: String): DataFrame = {
    val split = lit("2024-01-16").cast("date")
    val perUser = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("day"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      .groupBy("user_id")
      .agg(sum(when(col("day") < split, col("cents")).otherwise(0L))
        .as("pre"),
        sum(when(col("day") >= split, col("cents")).otherwise(0L))
          .as("post"))
      .withColumn("arm", Sampling.hashBucket(col("user_id"), "ab", 2))
    val m = perUser.agg(count(lit(1)).as("n"),
      sum(col("pre").cast("decimal(38,0)")).as("sx"),
      sum(col("post").cast("decimal(38,0)")).as("sy"),
      sum((col("pre") * col("pre")).cast("decimal(38,0)")).as("sxx"),
      sum((col("pre") * col("post")).cast("decimal(38,0)")).as("sxy"))
    val n = col("n").cast("double")
    def dd(c: String) = col(c).cast("double")
    val varPre = n * dd("sxx") - dd("sx") * dd("sx")
    val theta = when(varPre > 0.0,
      (n * dd("sxy") - dd("sx") * dd("sy")) / varPre).otherwise(0.0)
    val meanPre = dd("sx") / n
    val adjQ = round((col("post").cast("double") -
      theta * (col("pre").cast("double") - meanPre)) * 1e4, 0)
      .cast("long")
    val perArm = perUser.crossJoin(broadcast(m))
      .withColumn("adj_q", adjQ)
      .groupBy("arm")
      .agg(count(lit(1)).as("n_users"),
        sum(col("post").cast("decimal(38,0)")).as("sp"),
        sum(col("post").cast("decimal(38,0)") *
          col("post").cast("decimal(38,0)")).as("spp"),
        sum(col("adj_q").cast("decimal(38,0)")).as("sa"),
        sum(col("adj_q").cast("decimal(38,0)") *
          col("adj_q").cast("decimal(38,0)")).as("saa"))
    val na = col("n_users").cast("double")
    val vp = (na * dd("spp") - dd("sp") * dd("sp")) / (na * na)
    val va = (na * dd("saa") - dd("sa") * dd("sa")) / (na * na) / 1e8
    perArm.select(col("arm").cast("int").as("arm"), col("n_users"),
      round(dd("sp") / na, 4).as("post_mean_cents"),
      round(dd("sa") / na / 1e4, 4).as("adj_mean_cents"),
      when(vp > 0.0, round(lit(1.0) - va / vp, 4)).as("var_reduction"))
      .orderBy("arm")
  }

  private val q201Sql =
    """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day,
           CAST(round(value * 100) AS BIGINT) AS cents
         FROM events WHERE event_type = 'purchase'),
       pu AS (SELECT user_id,
           CAST(sum(CASE WHEN day < DATE '2024-01-16' THEN cents
                    ELSE 0 END) AS BIGINT) AS pre,
           CAST(sum(CASE WHEN day >= DATE '2024-01-16' THEN cents
                    ELSE 0 END) AS BIGINT) AS post,
           ('0x' || substr(md5('ab' || user_id::VARCHAR), 1, 15))::BIGINT
             % 2 AS arm
         FROM ev GROUP BY user_id),
       m AS (SELECT count(*) AS n,
           sum(CAST(pre AS HUGEINT)) AS sx,
           sum(CAST(post AS HUGEINT)) AS sy,
           sum(CAST(pre * pre AS HUGEINT)) AS sxx,
           sum(CAST(pre * post AS HUGEINT)) AS sxy
         FROM pu),
       th AS (SELECT sx::DOUBLE / n::DOUBLE AS mean_pre,
           CASE WHEN n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE
                     > 0.0
                THEN (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                  / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                ELSE 0.0 END AS theta
         FROM m),
       adj AS (SELECT pu.arm, pu.post,
           CAST(round((pu.post::DOUBLE -
             th.theta * (pu.pre::DOUBLE - th.mean_pre)) * 10000)
             AS BIGINT) AS adj_q
         FROM pu, th),
       pa AS (SELECT arm, count(*) AS n_users,
           sum(CAST(post AS HUGEINT)) AS sp,
           sum(CAST(post AS HUGEINT) * post) AS spp,
           sum(CAST(adj_q AS HUGEINT)) AS sa,
           sum(CAST(adj_q AS HUGEINT) * adj_q) AS saa
         FROM adj GROUP BY arm)
       SELECT CAST(arm AS INT) AS arm, n_users,
         round(sp::DOUBLE / n_users::DOUBLE, 4) AS post_mean_cents,
         round(sa::DOUBLE / n_users::DOUBLE / 10000.0, 4)
           AS adj_mean_cents,
         CASE WHEN (n_users::DOUBLE * spp::DOUBLE
                    - sp::DOUBLE * sp::DOUBLE)
                   / (n_users::DOUBLE * n_users::DOUBLE) > 0.0
              THEN round(1.0 -
                ((n_users::DOUBLE * saa::DOUBLE - sa::DOUBLE * sa::DOUBLE)
                  / (n_users::DOUBLE * n_users::DOUBLE) / 100000000.0)
                / ((n_users::DOUBLE * spp::DOUBLE
                    - sp::DOUBLE * sp::DOUBLE)
                  / (n_users::DOUBLE * n_users::DOUBLE)), 4) END
           AS var_reduction
       FROM pa ORDER BY arm"""

  // --------------------------------------------------------------- q202
  /** Extraction inventory (the VALUE side of q77's PII counting):
    * email DOMAINS pulled out of the text with
    * `regexp_extract_all(…, group)` — capture groups, not just match
    * counts — exploded and aggregated into a per-domain mention/doc
    * census. Deterministic q77-style injection (`admin@<source>.org`
    * on every 4th doc, `sales@` on every 6th) keeps the oracle
    * non-vacuous; one codegen'd scan projection, one aggregation. */
  private def q202(s: SparkSession, d: String): DataFrame = {
    val injected = concat(col("text"),
      when(pmod(col("doc_id"), lit(4)) === 0,
        concat(lit(" contact admin@"), col("source"), lit(".org")))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(6)) === 0,
        concat(lit(" and sales@"), col("source"), lit(".org")))
        .otherwise(lit("")))
    Tables.documents(s, d)
      .select(col("doc_id"), injected.as("txt"))
      .select(col("doc_id"), explode(regexp_extract_all(col("txt"),
        lit("[A-Za-z0-9._%+-]+@([A-Za-z0-9.-]+\\.[A-Za-z]{2,})"),
        lit(1))).as("domain"))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_mentions"),
        countDistinct("doc_id").as("n_docs"))
      .orderBy("domain")
  }

  private val q202Sql =
    """WITH inj AS (SELECT doc_id,
           text
           || CASE WHEN doc_id % 4 = 0
                THEN ' contact admin@' || source || '.org' ELSE '' END
           || CASE WHEN doc_id % 6 = 0
                THEN ' and sales@' || source || '.org' ELSE '' END AS txt
         FROM documents),
       ex AS (SELECT doc_id, unnest(regexp_extract_all(txt,
           '[A-Za-z0-9._%+-]+@([A-Za-z0-9.-]+\.[A-Za-z]{2,})', 1))
           AS domain
         FROM inj)
       SELECT domain, count(*) AS n_mentions,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
       FROM ex GROUP BY domain ORDER BY domain"""

  // --------------------------------------------------------------- q203
  /** Burst detection (the abuse / rate-limit audit): per user, the
    * peak hourly event count against their mean over ACTIVE hours —
    * a crawler retries in bursts, a human doesn't. Two grouped
    * aggregations, integer-exact until the final ratio (max and sums
    * are LONGs; the ratio of identical exact integers rounds
    * identically in any engine). Top 20 burstiest by (ratio, user). */
  private def q203(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(s, d)
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("c"))
    hourly.groupBy("user_id")
      .agg(count(lit(1)).as("n_active_hours"),
        max("c").as("peak_hourly"),
        sum("c").as("n_events"))
      .select(col("user_id"), col("n_active_hours"), col("peak_hourly"),
        col("n_events"),
        round(col("peak_hourly").cast("double") *
          col("n_active_hours").cast("double") /
          col("n_events").cast("double"), 4).as("burst_ratio"))
      .orderBy(col("burst_ratio").desc, col("user_id"))
      .limit(20)
  }

  private val q203Sql =
    """WITH hourly AS (SELECT user_id, date_trunc('hour', ts) AS hr,
           count(*) AS c
         FROM events GROUP BY user_id, hr),
       pu AS (SELECT user_id, count(*) AS n_active_hours,
           CAST(max(c) AS BIGINT) AS peak_hourly,
           CAST(sum(c) AS BIGINT) AS n_events
         FROM hourly GROUP BY user_id)
       SELECT user_id, n_active_hours, peak_hourly, n_events,
         round(peak_hourly::DOUBLE * n_active_hours::DOUBLE
           / n_events::DOUBLE, 4) AS burst_ratio
       FROM pu ORDER BY burst_ratio DESC, user_id LIMIT 20"""

  // --------------------------------------------------------------- q204
  /** STREAMING stream-stream interval join, oracle-graded — the last
    * §2.10 capability without a CORRECTNESS row (the q177 pattern:
    * file-stream replay + foreachBatch sink puts a streaming operator
    * under the DuckDB gate). The events table replays as ONE file
    * stream split into a purchase stream and a click stream, both
    * watermarked; the inner join constrains each click to the day
    * BEFORE its purchase on the same user — the time-interval
    * condition is what lets Spark bound the buffered state to
    * watermark + interval instead of retaining both streams forever.
    * Joined pairs append to a parquet sink per micro-batch; the sunk
    * pairs roll up per purchase-day. A correctly-watermarked streaming
    * INNER join's final output equals the batch join over the same
    * rows, so DuckDB replays the identical interval join as batch SQL
    * — grading counts AND both distinct-endpoint cardinalities. */
  private def q204(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val outDir = sc.tempDir("graft_ssj_sink")
    val ckpt = sc.tempDir("graft_ssj_ckpt")
    val ev = Tables.eventsStream(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val joined = purchases.join(clicks,
      col("c_user") === col("p_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 DAY"))
      .select(col("p_id"), col("c_id"), col("p_ts"))
    // the stream-stream join keeps FOUR state stores per shuffle
    // partition (two per side); each commits once per micro-batch, so
    // partition width is pure fixed cost at this key cardinality —
    // narrow it for the stream (the q211 treatment). INNER-join
    // matches emit in the data batch where both sides are present; the
    // trailing no-data micro-batch only cleans buffered state — skip
    // its batch round (the q211/q272 treatment)
    ChunkReplay.run(joined, "append", ckpt,
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false") {
      (b, _) => b.write.mode("append").parquet(outDir)
    }
    val result = s.read.parquet(outDir)
      .groupBy(to_date(col("p_ts")).as("day"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("p_id")).as("n_purchases"),
        countDistinct(col("c_id")).as("n_clicks"))
      .orderBy("day")
    sc.keep(result)
  }

  private val q204Sql =
    """WITH p AS (SELECT event_id AS p_id, user_id, ts AS p_ts
           FROM events WHERE event_type = 'purchase'),
       c AS (SELECT event_id AS c_id, user_id, ts AS c_ts
           FROM events WHERE event_type = 'click'),
       j AS (SELECT p.p_id, c.c_id, p.p_ts
             FROM p JOIN c ON p.user_id = c.user_id
               AND c.c_ts <= p.p_ts
               AND c.c_ts >= p.p_ts - INTERVAL 1 DAY)
       SELECT CAST(p_ts AS DATE) AS day, count(*) AS n_pairs,
         count(DISTINCT p_id) AS n_purchases,
         count(DISTINCT c_id) AS n_clicks
       FROM j GROUP BY day ORDER BY day"""

  // --------------------------------------------------------------- q267
  /** STREAMING stream-static enrichment join, oracle-graded — the
    * dimension-lookup shape the other §2.10 rows don't cover (q204 is
    * stream×stream): purchase events replay as time-ordered 6-day
    * chunk files (`maxFilesPerTrigger=1` → one micro-batch per chunk,
    * the q211 choreography minus sentinels — the join is STATELESS so
    * no watermark is needed), and every micro-batch LEFT-joins the
    * static broadcast customer dimension to attach the market
    * segment; unmatched users coalesce to 'unknown'. Enriched rows
    * append to a parquet sink tagged with their micro-batch id; the
    * final rollup (per-segment purchases / spend cents / distinct
    * users) equals the batch left join — the oracle — because the
    * stateless join makes per-batch outputs independent. `n_batches`
    * (distinct sink batch ids) is graded too: it must equal the
    * distinct 6-day chunk count, proving the dimension really served
    * MULTIPLE micro-batches rather than one mega-batch. */
  private def q267(s: SparkSession, d: String): DataFrame = Exec.scope { sc =>
    val chunkUs = 6L * 86400 * 1000000
    val ckpt = sc.tempDir("graft_enrich_ckpt")
    val outDir = sc.tempDir("graft_enrich_out")

    // one file per 6-day chunk, mtime-sequenced = the FileStreamSource
    // replay order; built once per session (ChunkStore), replayed
    // read-only with a fresh checkpoint per run
    val ingest = ChunkStore.ensure(s, ("q267", d, chunkUs)) { store =>
      val ev = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id").cast("long").as("user_id"),
          round(col("value") * 100, 0).cast("long").as("cents"),
          unix_micros(col("ts")).as("ts_us"))
      ChunkReplay.writeChunks(
        ev.withColumn("chunk", ChunkReplay.chunkId("ts_us", chunkUs, 0L)),
        store, Nil)
    }

    val dim = broadcast(Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment")))
    val enriched = ChunkReplay.stream(s, ingest)
      .join(dim, col("user_id") === col("c_custkey"), "left")
      .select(coalesce(col("c_mktsegment"), lit("unknown")).as("segment"),
        col("user_id"), col("cents"))
    // stateless plan — narrowing the shuffle width still trims the
    // per-batch fixed cost of the sink write
    ChunkReplay.run(enriched, "append", ckpt,
      "spark.sql.shuffle.partitions" -> "4") { (b, id) =>
      b.withColumn("batch_id", lit(id)).write.mode("append").parquet(outDir)
    }

    val sunk = s.read.parquet(outDir)
    val result = sunk.groupBy("segment")
      .agg(count(lit(1)).as("n_purchases"),
        sum("cents").as("spend_cents"),
        countDistinct("user_id").as("n_users"))
      .crossJoin(broadcast(
        sunk.agg(countDistinct("batch_id").as("n_batches"))))
      .orderBy("segment")
    // ingest belongs to the ChunkStore — per-run scratch only
    sc.keep(result)
  }

  private val q267Sql =
    """WITH p AS (SELECT user_id,
           CAST(round(value * 100) AS BIGINT) AS cents,
           epoch_us(ts) AS ts_us
         FROM events WHERE event_type = 'purchase'),
       nb AS (SELECT count(DISTINCT ts_us // 518400000000::BIGINT)
                AS n_batches FROM p),
       e AS (SELECT COALESCE(c.c_mktsegment, 'unknown') AS segment,
               p.user_id, p.cents
             FROM p LEFT JOIN customer c ON c.c_custkey = p.user_id)
       SELECT segment, count(*) AS n_purchases,
         CAST(sum(cents) AS BIGINT) AS spend_cents,
         count(DISTINCT user_id) AS n_users,
         CAST(n_batches AS BIGINT) AS n_batches
       FROM e, nb GROUP BY segment, n_batches ORDER BY segment"""

  // --------------------------------------------------------------- q272
  /** STREAMING stream-stream LEFT OUTER interval join, oracle-graded —
    * the null-emission semantic q204's inner join doesn't exercise: a
    * purchase with no click in its trailing 1-day window must be
    * emitted exactly once WITH NULLS, and only after the watermark
    * proves no match can still arrive. Events replay as 2 time-ordered
    * chunk micro-batches ([[graft.streaming.ChunkReplay]], span-scaled
    * width so batch count stays fixed at any SF); two far-future
    * sentinel chunks (a dedicated user, +10d/+20d, one purchase + one
    * click each so BOTH sides' watermarks advance) drag the
    * one-batch-lagging watermark past every real purchase, so by
    * end-of-stream every unmatched purchase has its null row. The
    * final sunk set then equals the batch LEFT join over the same
    * rows — the oracle; graded per purchase-day: outer rows, matched
    * pairs, unmatched purchases, distinct purchases. */
  private def q272(s: SparkSession, d: String): DataFrame =
    // 2 real micro-batches (was 3, round-15 close): an outer-join
    // micro-batch has ~1 s fixed cost, and the graded rollup is
    // batch-count invariant, so the bench budget keeps exactly one
    // real-real boundary (cross-chunk matches + the watermark-driven
    // null-row eviction of chunk 1's unmatched purchases during batch
    // 2) and leaves the DENSER multi-boundary choreography to
    // StreamingSpec's narrow-chunk outerJoinReplay case (the q211
    // precedent: coverage pinned by spec, not by sweep config).
    outerJoinReplay(s, d, chunkBudget = 2)

  /** q272's replay body with the real-chunk budget as a parameter —
    * package-private so StreamingSpec can drive the narrow (more
    * micro-batches, more eviction-boundary carries) configuration the
    * bench-time q272 no longer runs. */
  private[graft] def outerJoinReplay(s: SparkSession, d: String,
                                     chunkBudget: Int): DataFrame = Exec.scope { sc =>
    import s.implicits._
    val ckpt = sc.tempDir("graft_soj_ckpt")
    val outDir = sc.tempDir("graft_soj_out")

    // chunk files (span-scaled width + sentinels) built once per
    // session (ChunkStore), replayed read-only with a fresh checkpoint
    // per run
    val ingest = ChunkStore
      .ensure(s, ("q272", d, chunkBudget)) { store =>
        val ev = Tables.events(s, d)
          .filter(col("event_type").isin("purchase", "click"))
          .select(col("event_id").cast("long").as("event_id"),
            col("user_id").cast("long").as("user_id"),
            col("event_type"), unix_micros(col("ts")).as("ts_us"))
        val mm = ev.agg(min("ts_us"), max("ts_us")).head()
        val (minTs, maxTs) = (mm.getLong(0), mm.getLong(1))
        // `chunkBudget` real micro-batches REGARDLESS of corpus span:
        // a span-proportional chunk count made wall-clock scale with
        // DAYS of data rather than rows (10.2 s warm at sf0.1 with
        // 6-day chunks → 6.4 s with a fixed budget of 3 → ~4.5 s with
        // 2). The graded result is batch-count invariant.
        val chunkUs = ChunkReplay.spanWidth(minTs, maxTs, chunkBudget)
        def sentinel(offsetDays: Long): DataFrame = {
          val t = maxTs + offsetDays * 86400L * 1000000
          Seq((-1L, -1L, "purchase", t), (-2L, -1L, "click", t))
            .toDF("event_id", "user_id", "event_type", "ts_us")
        }
        // origin = minTs: the budget is exact (absolute div would
        // smear the span over budget+1 buckets — a sliver first chunk
        // costing a full micro-batch round)
        ChunkReplay.writeChunks(
          ev.withColumn("chunk", ChunkReplay.chunkId("ts_us", chunkUs, minTs)),
          store, Seq(sentinel(10), sentinel(20)))
      }

    val stream = ChunkReplay.stream(s, ingest)
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val purchases = stream.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val clicks = stream.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val joined = purchases.join(clicks,
      col("c_user") === col("p_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 DAY"),
      "leftOuter")
      .select(col("p_id"), col("p_user"), col("p_ts"), col("c_id"))
    // size-derived state width (ChunkReplay.replayWidth): 2 at bench
    // SF (four state stores per partition commit per batch — narrow
    // is pure fixed-cost win), widening with staged volume so the
    // interval join parallelizes at 10×/100× data (hardcoded 2
    // measured sf0.1→sf1 ratio 4.96; the join is the sweep's
    // heaviest per-row state op). Both sentinel chunks carry BOTH
    // stream sides, so every real purchase's null-row emission happens
    // during the data batches — the trailing no-data micro-batch can
    // only touch the filtered-out sentinel user. Skipping it removes a
    // batch round (4 state-store commits per partition + planning) per
    // run and the variance of whether it ran before stop() (observed:
    // 5.3-9.2 s sweep spread on identical code).
    ChunkReplay.run(joined, "append", ckpt,
      "spark.sql.shuffle.partitions" ->
        ChunkReplay.replayWidth(ingest.dir, 2).toString,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false") {
      (b, _) => b.write.mode("append").parquet(outDir)
    }

    val result = s.read.parquet(outDir)
      .filter(col("p_user") >= 0L)
      .groupBy(to_date(col("p_ts")).as("day"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("c_id").isNotNull, 1L).otherwise(0L)).as("n_matched"),
        sum(when(col("c_id").isNull, 1L).otherwise(0L)).as("n_unmatched"),
        countDistinct(col("p_id")).as("n_purchases"))
      .orderBy("day")
    // ingest belongs to the ChunkStore — per-run scratch only
    sc.keep(result)
  }

  private val q272Sql =
    """WITH p AS (SELECT event_id AS p_id, user_id, ts AS p_ts
           FROM events WHERE event_type = 'purchase'),
       c AS (SELECT event_id AS c_id, user_id, ts AS c_ts
           FROM events WHERE event_type = 'click'),
       j AS (SELECT p.p_id, p.p_ts, c.c_id
             FROM p LEFT JOIN c ON p.user_id = c.user_id
               AND c.c_ts <= p.p_ts
               AND c.c_ts >= p.p_ts - INTERVAL 1 DAY)
       SELECT CAST(p_ts AS DATE) AS day, count(*) AS n_rows,
         CAST(sum(CASE WHEN c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_matched,
         CAST(sum(CASE WHEN c_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_unmatched,
         count(DISTINCT p_id) AS n_purchases
       FROM j GROUP BY day ORDER BY day"""

  // ----------------------------------------------------------------

  val entries: Seq[Query] = Seq(
    Query("q181_holt_winters", q181, q181Sql),
    Query("q182_woe_iv", q182, q182Sql),
    Query("q183_fk_audit", q183, q183Sql),
    Query("q184_matryoshka", q184, q184Sql),
    Query("q185_bucketed_join", q185, q185Sql),
    Query("q186_parquet_roundtrip", q186, q186Sql),
    Query("q187_debounce", q187, q187Sql),
    Query("q188_growth_accounting", q188, q188Sql),
    Query("q189_revenue_concentration", q189, q189Sql),
    Query("q191_decayed_popularity", q191, q191Sql),
    Query("q192_target_encoding", q192, q192Sql),
    Query("q193_k_anonymity", q193, q193Sql),
    Query("q194_corr_matrix", q194, q194Sql),
    Query("q195_conversion_latency", q195, q195Sql),
    Query("q196_kcenter_coreset", q196, q196Sql),
    Query("q197_fanout_profile", q197, q197Sql),
    Query("q198_nearest_event", q198, q198Sql),
    Query("q199_linear_attribution", q199, q199Sql),
    Query("q200_e2e_curation", q200, q200Sql),
    Query("q201_cuped", q201, q201Sql),
    Query("q202_domain_census", q202, q202Sql),
    Query("q203_burst_detection", q203, q203Sql),
    Query("q204_stream_stream_join", q204, q204Sql),
    Query("q267_stream_static_join", q267, q267Sql),
    Query("q272_stream_outer_join", q272, q272Sql))
}
