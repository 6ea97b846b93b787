package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Rounding.{roundTo => round}
import graft.operators.Exec

/** Exact decision-stump fitting — the base learner of boosted trees
  * and the one-feature "is this column predictive" probe a curation
  * pipeline runs before paying for a classifier: over ALL candidate
  * thresholds t of a numeric feature, find the splits `x <= t`
  * minimizing weighted Gini impurity, exactly.
  *
  * Scale shape: one per-value aggregation (distinct feature values,
  * ≪ rows), then the TWO-LEVEL prefix sum of [[graft.operators.Quality.ksDrift]]
  * — values range-bucket by quantile boundaries, cumulative counts run
  * per bucket in parallel, bucket offsets come from a `buckets`-row
  * exclusive prefix. No global single-partition sort of the value
  * table; the full input is never sorted at all.
  *
  * Exactness: candidate ranking uses only (a) exact long counts and
  * (b) double arithmetic of fixed shape on those longs — every op is
  * IEEE-deterministic, so an oracle computing the same shape lands on
  * bit-identical impurities and the argmin cut is engine-exact (ties
  * break to the smallest threshold).
  */
object Stump {

  /** Top-`topK` splits of `x <= threshold` against a 0/1 label, ranked
    * by ascending weighted Gini:
    * `(threshold, n_left, pos_left, n_right, pos_right, gini)` with
    * `gini = [n_L·G_L + n_R·G_R]/n` rounded to 6 decimals (ranked on
    * the unrounded double). The all-left split (t = max value) is not
    * a split and is excluded; null feature/label rows are ignored.
    */
  def bestSplits(df: DataFrame, xCol: String, labelCol: String,
                 buckets: Int = 32, topK: Int = 5): DataFrame = Exec.scope { sc =>
    require(buckets >= 1, "need at least one range bucket")
    require(topK >= 1, "topK must be positive")
    val x = col(xCol).cast("double")
    val y = col(labelCol).cast("long")
    // the per-value table feeds bounds, bucketing, AND totals — persist
    // or the corpus aggregation re-executes once per reference
    val per = sc.cache(df.filter(x.isNotNull && y.isNotNull)
      .select(x.as("v"), y.as("y"))
      .groupBy("v").agg(count(lit(1)).as("c"), sum("y").as("p")))
    val fracs = (1 until buckets).map(_.toDouble / buckets)
    val boundsDf =
      if (buckets == 1) per.agg(array().cast("array<double>").as("bounds"))
      else per.agg(expr(
        s"approx_percentile(v, array(${fracs.mkString(",")}), 1000)").as("bounds"))
    val bucketed = per.crossJoin(broadcast(boundsDf))
      .select(col("v"), col("c"), col("p"),
        aggregate(col("bounds"), lit(0),
          (acc, b) => acc + when(col("v") > b, 1).otherwise(0)).as("bk"))
    val inBucket = Window.partitionBy("bk").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withLocal = bucketed
      .withColumn("lc", sum("c").over(inBucket))
      .withColumn("lp", sum("p").over(inBucket))
    val offW = Window.orderBy("bk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy("bk")
      .agg(sum("c").as("tc"), sum("p").as("tp"))
      .withColumn("oc", coalesce(sum("tc").over(offW), lit(0L)))
      .withColumn("op", coalesce(sum("tp").over(offW), lit(0L)))
      .select("bk", "oc", "op")
    val totals = per.agg(sum("c").as("n"), sum("p").as("pos"))
    val cum = withLocal.join(broadcast(offsets), "bk")
      .crossJoin(broadcast(totals))
      .select(col("v"),
        (col("lc") + col("oc")).as("nl"), (col("lp") + col("op")).as("pl"),
        col("n"), col("pos"))
      .filter(col("nl") < col("n"))
      .withColumn("ql", col("nl") - col("pl"))
      .withColumn("nr", col("n") - col("nl"))
      .withColumn("pr", col("pos") - col("pl"))
      .withColumn("qr", (col("n") - col("nl")) - (col("pos") - col("pl")))
    def d(c: String) = col(c).cast("double")
    val g = ((d("nl") - (d("pl") * d("pl") + d("ql") * d("ql")) / d("nl")) +
      (d("nr") - (d("pr") * d("pr") + d("qr") * d("qr")) / d("nr"))) / d("n")
    val out = cum.withColumn("g", g)
      .orderBy(col("g"), col("v"))
      .limit(topK)
      .select(col("v").as("threshold"), col("nl").as("n_left"),
        col("pl").as("pos_left"), col("nr").as("n_right"),
        col("pr").as("pos_right"), round(col("g"), 6).as("gini"))
    sc.keep(out)
  }

  /** Best stump PER FEATURE in ONE corpus pass — feature selection's
    * "which column is most predictive" table. The feature matrix melts
    * to `(feature, value, label)` rows inside the scan projection
    * (explode of a k-struct array — k× row fan-out but zero extra
    * scans), then the [[bestSplits]] kernel runs with every window
    * partitioned by feature: per-feature quantile bounds attach as a
    * k-row broadcast, prefix sums run per (feature, bucket), and the
    * per-feature argmin is a row_number over the VALUE table (≪ rows).
    *
    * Returns one row per feature:
    * `(feature, threshold, n_left, pos_left, n_right, pos_right, gini)`
    * — lower gini = more predictive.
    */
  def featureRanking(df: DataFrame, features: Seq[String],
                     labelCol: String,
                     buckets: Int = 32): DataFrame = Exec.scope { sc =>
    require(features.nonEmpty, "need at least one feature")
    require(buckets >= 1, "need at least one range bucket")
    val y = col(labelCol).cast("long")
    val melted = df.filter(y.isNotNull)
      .select(explode(array(features.map(f =>
        struct(lit(f).as("f"), col(f).cast("double").as("v"))): _*))
        .as("fv"), y.as("y"))
      .filter(col("fv.v").isNotNull)
      .select(col("fv.f").as("f"), col("fv.v").as("v"), col("y"))
    // referenced by bounds, bucketing, and totals — one corpus melt,
    // not three. persist, NOT localCheckpoint: the (f,v) table carries
    // the near-unique price column (~corpus-sized), and an eager
    // checkpoint of it measured 4× slower than the lazy cache
    // (TimeOne run2 1.07 s → 4.22 s at sf0.1) — the q305
    // checkpoint-wins class applies only to genuinely small frames.
    val per = sc.cache(melted.groupBy("f", "v")
      .agg(count(lit(1)).as("c"), sum("y").as("p")))
    val fracs = (1 until buckets).map(_.toDouble / buckets)
    val bounds =
      if (buckets == 1)
        per.groupBy("f").agg(array().cast("array<double>").as("bounds"))
      else per.groupBy("f").agg(expr(
        s"approx_percentile(v, array(${fracs.mkString(",")}), 1000)").as("bounds"))
    // feeds both the in-bucket windows and the offset totals
    val bucketed = sc.cache(per.join(broadcast(bounds), "f")
      .select(col("f"), col("v"), col("c"), col("p"),
        aggregate(col("bounds"), lit(0),
          (acc, b) => acc + when(col("v") > b, 1).otherwise(0)).as("bk")))
    val inBucket = Window.partitionBy("f", "bk").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withLocal = bucketed
      .withColumn("lc", sum("c").over(inBucket))
      .withColumn("lp", sum("p").over(inBucket))
    val offW = Window.partitionBy("f").orderBy("bk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy("f", "bk")
      .agg(sum("c").as("tc"), sum("p").as("tp"))
      .withColumn("oc", coalesce(sum("tc").over(offW), lit(0L)))
      .withColumn("op", coalesce(sum("tp").over(offW), lit(0L)))
      .select("f", "bk", "oc", "op")
    val totals = per.groupBy("f")
      .agg(sum("c").as("n"), sum("p").as("pos"))
    val cum = withLocal.join(broadcast(offsets), Seq("f", "bk"))
      .join(broadcast(totals), "f")
      .select(col("f"), col("v"),
        (col("lc") + col("oc")).as("nl"), (col("lp") + col("op")).as("pl"),
        col("n"), col("pos"))
      .filter(col("nl") < col("n"))
      .withColumn("ql", col("nl") - col("pl"))
      .withColumn("nr", col("n") - col("nl"))
      .withColumn("pr", col("pos") - col("pl"))
      .withColumn("qr", (col("n") - col("nl")) - (col("pos") - col("pl")))
    def d(c: String) = col(c).cast("double")
    val g = ((d("nl") - (d("pl") * d("pl") + d("ql") * d("ql")) / d("nl")) +
      (d("nr") - (d("pr") * d("pr") + d("qr") * d("qr")) / d("nr"))) / d("n")
    val pick = Window.partitionBy("f").orderBy(col("g"), col("v"))
    val out = cum.withColumn("g", g)
      .withColumn("rn", row_number().over(pick))
      .filter(col("rn") === 1)
      .select(col("f").as("feature"), col("v").as("threshold"),
        col("nl").as("n_left"), col("pl").as("pos_left"),
        col("nr").as("n_right"), col("pr").as("pos_right"),
        round(col("g"), 6).as("gini"))
    sc.keep(out)
  }
}
