package graft

import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.functions._
import graft.operators.Exec
import graft.plans.RangeLookup

/** The broadcast range lookup ([[graft.plans.RangeLookup]]): semantics
  * vs the naive non-equi join, plan shape, partitioning preservation,
  * and the documented failure modes.
  */
class RangeLookupSpec extends SparkSpec {

  private def bands = {
    val s = spark
    import s.implicits._
    // [100, 150) is a gap between two intervals
    Seq((0.0, 10.0, "low"), (10.0, 25.0, "mid"), (25.0, 100.0, "high"),
        (150.0, 200.0, "top"))
      .toDF("lo", "hi", "band")
  }

  private def facts = {
    val s = spark
    import s.implicits._
    // values on boundaries, inside, outside, null, in the gap, past
    // the gap, NaN and -0.0
    ((Seq(0.0, 5.5, 10.0, 24.999, 25.0, 99.999, 100.0, -3.0)
      .map(Option(_)) :+ (None: Option[Double])) ++
      Seq(120.0, 175.0, Double.NaN, -0.0).map(Option(_)))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
  }

  test("matches the naive non-equi join, [lo,hi) boundaries") {
    val got = RangeLookup.rangeLookup(facts, bands, "v", "lo", "hi")
      .select("id", "band").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val want = facts.join(bands,
        col("v") >= col("lo") && col("v") < col("hi"))
      .select("id", "band").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == want)
    // 100.0 is exclusive (and in the gap), -3 below all, null drops,
    // 120 in the gap, NaN matches nothing
    assert(!got.exists(t => Set(6L, 7L, 8L, 9L, 11L)(t._1)))
    // boundary 10.0 lands in "mid" (inclusive lo), 25.0 in "high";
    // past the gap 175 lands in "top"; -0.0 equals the 0.0 bound
    assert(got.contains((2L, "mid")) && got.contains((4L, "high")))
    assert(got.contains((10L, "top")) && got.contains((12L, "low")))
  }

  test("plans with no join node") {
    val df = RangeLookup.rangeLookup(facts, bands, "v", "lo", "hi")
    val plan = df.queryExecution.executedPlan.toString
    Seq("Join", "BroadcastNestedLoop", "CartesianProduct").foreach { node =>
      assert(!plan.contains(node), s"$node in\n$plan")
    }
    assert(df.columns.toSeq == Seq("id", "v", "lo", "hi", "band"))
    assert(df.schema.map(_.dataType) ==
      (facts.schema ++ bands.schema).map(_.dataType))
  }

  test("fact-side partitioning is preserved (no exchange above scan)") {
    val parts = facts.repartition(7, col("id"))
    val df = RangeLookup.rangeLookup(parts, bands, "v", "lo", "hi")
    assert(df.rdd.getNumPartitions == 7)
    // and the join result still carries every matched row
    assert(df.count() ==
      parts.join(bands, col("v") >= col("lo") && col("v") < col("hi")).count())
  }

  test("overlapping intervals are rejected, not silently first-matched") {
    val s = spark
    import s.implicits._
    val bad = Seq((0.0, 10.0, "a"), (5.0, 15.0, "b")).toDF("lo", "hi", "band")
    val e = intercept[Exception] {
      RangeLookup.rangeLookup(facts, bad, "v", "lo", "hi").collect()
    }
    assert(e.getMessage.contains("overlap"))
  }

  test("degenerate interval rejected; missing column is a clear error") {
    val s = spark
    import s.implicits._
    val bad = Seq((10.0, 10.0, "empty")).toDF("lo", "hi", "band")
    assert(intercept[Exception] {
      RangeLookup.rangeLookup(facts, bad, "v", "lo", "hi").collect()
    }.getMessage.contains("degenerate"))
    assert(intercept[IllegalArgumentException] {
      RangeLookup.rangeLookup(facts, bands, "nope", "lo", "hi")
    }.getMessage.contains("nope"))
  }

  test("a range side over MaxRanges fails on the cap, not an OOM") {
    val big = spark.range(RangeLookup.MaxRanges + 1L)
      .select(col("id").as("lo"), (col("id") + 1).as("hi"))
    val e = intercept[IllegalArgumentException] {
      RangeLookup.rangeLookup(facts, big, "v", "lo", "hi")
    }
    assert(e.getMessage.contains(s"cap ${RangeLookup.MaxRanges}"),
      e.getMessage)
  }

  test("filter above the join pushes down to the fact-side scan") {
    val s = spark
    import s.implicits._
    val path = Exec.scratchTempDir("range-lookup-facts").toString
    try {
      (0 until 100).map(i => (i.toLong, (i % 50).toDouble, s"p$i"))
        .toDF("id", "v", "payload").write.mode("overwrite").parquet(path)
      val pf = spark.read.parquet(path)
      val df = RangeLookup.rangeLookup(pf, bands, "v", "lo", "hi")
        .filter(col("id") > 90)
      val plan = df.queryExecution.executedPlan.toString
      // the id predicate must reach the parquet scan as a pushed
      // filter, not sit above the lookup
      assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,90)]"),
        s"fact predicate did not reach the scan:\n$plan")
      assert(df.count() == 9)
    } finally Exec.deleteRecursively(path)
  }

  test("project above the join prunes the fact-side read schema") {
    val path = Exec.scratchTempDir("range-lookup-facts").toString
    val s = spark
    import s.implicits._
    try {
      (0 until 100).map(i => (i.toLong, (i % 50).toDouble, s"p$i"))
        .toDF("id", "v", "payload").write.mode("overwrite").parquet(path)
      val pf = spark.read.parquet(path)
      val df = RangeLookup.rangeLookup(pf, bands, "v", "lo", "hi")
        .select("id", "band")
      val plan = df.queryExecution.executedPlan.toString
      // payload is unused → must not be read; v is the lookup key →
      // must be
      assert(!plan.contains("payload"), s"unused column read:\n$plan")
      assert(plan.contains("ReadSchema: struct<id:bigint,v:double>"),
        s"fact scan not pruned:\n$plan")
      assert(df.count() == 100)
    } finally Exec.deleteRecursively(path)
  }

  test("q154 runs the lookup UDF once per row; fact predicates reach the scan") {
    val s = spark
    import s.implicits._
    val d = Exec.scratchTempDir("range-lookup-q154").toString
    def udfs(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan
        .flatMap(_.expressions.flatMap(_.collect { case u: ScalaUDF => u }))
        .size
    try {
      Seq((1L, 10L, 20000.0), (2L, 11L, 75000.0), (3L, 10L, 400000.0))
        .toDF("o_orderkey", "o_custkey", "o_totalprice")
        .write.parquet(s"$d/orders.parquet")
      val q154 = SparkEntry.queries("q154_range_lookup")(spark, d)
      assert(udfs(q154) == 1, q154.queryExecution.optimizedPlan.toString)
      assert(q154.collect().map(_.getString(0)).toSeq == Seq("s", "xl", "xs"))
      val pushed = RangeLookup.rangeLookup(Tables.orders(spark, d), bands,
          "o_totalprice", "lo", "hi")
        .filter(col("o_custkey") > 10)
      assert(udfs(pushed) == 1, pushed.queryExecution.optimizedPlan.toString)
      val plan = pushed.queryExecution.executedPlan.toString
      assert("PushedFilters: \\[[^\\]]*GreaterThan\\(o_custkey,10\\)".r
          .findFirstIn(plan).isDefined,
        s"fact predicate did not reach the scan:\n$plan")
    } finally Exec.deleteRecursively(d)
  }

  test("integer value/bound columns cast cleanly") {
    val s = spark
    import s.implicits._
    val f = Seq((1L, 3), (2L, 17), (3L, 40)).toDF("id", "v")
    val b = Seq((0, 10, "low"), (10, 50, "high")).toDF("lo", "hi", "band")
    val got = RangeLookup.rangeLookup(f, b, "v", "lo", "hi")
      .select("id", "band").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "low"), (2L, "high"), (3L, "high")))
  }
}
