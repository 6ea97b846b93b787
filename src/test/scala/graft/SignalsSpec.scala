package graft

import org.apache.spark.sql.functions._

/** Unit-level checks for the round-7 signal operators, on hand-
  * computable inputs (the query-level DuckDB gate covers the corpus
  * path; these pin the kernels' semantics).
  */
class SignalsSpec extends SparkSpec {
  import spark.implicits._

  test("k-center coreset picks opposite corners of a square first") {
    // 4 unit vectors at 0°, 90°, 180°, 270° in 2-D plus a near-copy of
    // the seed: greedy from min id (0°) must take 180° next (cosine
    // distance 2.0), then one of the ±90° pair (distance 1.0), and the
    // near-copy dead last
    val emb = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0f, 1f)),
      (3L, Array(-1f, 0f)), (4L, Array(0f, -1f)),
      (5L, Array(0.999f, 0.001f))).toDF("vec_id", "embedding")
    // running the full query needs a staged parquet dir; exercise the
    // distance/argmax kernel exactly the way q196 composes it instead
    import graft.functions.VectorFunctions
    def dq(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      graft.functions.Rounding.roundTo((lit(1.0) -
        VectorFunctions.dot(a, b) /
          (VectorFunctions.norm(a) * VectorFunctions.norm(b))) * 1e6, 0)
        .cast("long")
    val c1 = emb.filter(col("vec_id") === 1L)
      .select(col("embedding").as("c"))
    val d1 = emb.crossJoin(broadcast(c1))
      .select(col("vec_id"), dq(col("embedding"), col("c")).as("md"))
    val far = d1.orderBy(col("md").desc, col("vec_id")).head()
    assert(far.getLong(0) == 3L && far.getLong(1) == 2000000L)
  }

  test("debounce fold: kept-anchored, not lag-anchored") {
    // events at t = 0, 50, 80, 200 with grace 60: lag-anchored would
    // drop 80 (gap 30 from 50) but KEEP 50's successor chain wrongly —
    // kept-anchored keeps 0, drops 50 (within 60 of kept 0), KEEPS 80
    // (gap 80 from kept 0 > 60), drops nothing else until 200
    val ev = Seq((1L, "a", 0L, 10L), (1L, "a", 50L, 11L),
      (1L, "a", 80L, 12L), (1L, "a", 200L, 13L))
      .toDF("user_id", "event_type", "tu", "event_id")
    val kept = ev.groupBy("user_id", "event_type")
      .agg(array_sort(collect_list(struct(col("tu"), col("event_id"))))
        .as("evs"))
      .select(aggregate(
        slice(col("evs"), lit(2), greatest(size(col("evs")) - 1, lit(0))),
        struct(lit(1L).as("n_kept"),
          element_at(col("evs"), 1).getField("tu").as("last")),
        (acc, e) => {
          val keep = e.getField("tu") - acc.getField("last") > 60L
          struct((acc.getField("n_kept") + when(keep, 1L).otherwise(0L))
            .as("n_kept"),
            when(keep, e.getField("tu")).otherwise(acc.getField("last"))
              .as("last"))
        }).getField("n_kept").as("n_kept"))
    assert(kept.head().getLong(0) == 3L) // 0, 80, 200 kept; 50 dropped
  }

  test("q267 stream-static join: unknown users coalesce, one batch per chunk") {
    // two purchases 7 days apart -> two 6-day chunks -> n_batches = 2;
    // user 99 is absent from the dimension -> 'unknown' segment
    def day(n: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2020, 1, 1).plusDays(n).atStartOfDay())
    val ev = Seq(
      (1L, day(0), 5L, "purchase", 1.25, "{}"),
      (2L, day(7), 5L, "purchase", 2.00, "{}"),
      (3L, day(0), 99L, "purchase", 0.50, "{}"),
      (4L, day(0), 5L, "click", 9.99, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val cust = Seq((5L, "BUILDING")).toDF("c_custkey", "c_mktsegment")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_signals_ssj").toString
    ev.write.parquet(s"$dir/events.parquet")
    cust.write.parquet(s"$dir/customer.parquet")
    val rows = graft.SparkEntry.queries("q267_stream_static_join")(
      spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(rows == Seq(("BUILDING", 2L, 325L, 1L, 2L),
      ("unknown", 1L, 50L, 1L, 2L)), rows.toString)
  }

  test("q272 outer stream-stream join: unmatched purchase null-emits once") {
    // u5: click 6h before purchase -> matched pair; u6: purchase with
    // its only click 2 days earlier (outside the 1-day window) -> one
    // null-emitted outer row, which only exists if the watermark
    // (dragged by the sentinels) expired the join state correctly
    def ts(day: Int, hour: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2020, 1, 10).plusDays(day)
        .atStartOfDay().plusHours(hour))
    val ev = Seq(
      (1L, ts(0, 0), 5L, "click", 1.0, "{}"),
      (2L, ts(0, 6), 5L, "purchase", 2.0, "{}"),
      (3L, ts(-2, 0), 6L, "click", 1.0, "{}"),
      (4L, ts(0, 6), 6L, "purchase", 2.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_signals_soj").toString
    ev.write.parquet(s"$dir/events.parquet")
    val rows = graft.SparkEntry.queries("q272_stream_outer_join")(
      spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.toSeq == Seq((2L, 1L, 1L, 2L)), rows.toSeq.toString)
  }
}
