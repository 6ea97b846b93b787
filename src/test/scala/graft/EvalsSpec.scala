package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

import graft.operators.MlEval

/** Hand-computable fixtures for the round-8 evaluation operators: the
  * AUC kernel's exact rank algebra, and the registered kappa / JSD /
  * Gini / ANN-recall queries against tiny staged tables (the DuckDB
  * gate covers the corpus path; these pin the estimator semantics).
  */
class EvalsSpec extends SparkSpec {
  import spark.implicits._

  private def staged(name: String)(tables: (String, DataFrame)*): String = {
    val dir = java.nio.file.Files
      .createTempDirectory(s"graft_evals_$name").toString
    tables.foreach { case (t, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  test("aucExact: hand-computed AUC with a tie block") {
    // pos scores {3, 2}, neg scores {1, 2}: of the 4 (pos, neg) pairs,
    // 3 are strict wins and 1 is a tie -> AUC = 3.5/4 = 0.875
    val df = Seq((3L, true), (2L, true), (1L, false), (2L, false))
      .toDF("u", "y")
    val r = MlEval.aucExact(df, "u", "y").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getDouble(2)) == (2L, 2L, 0.875))
  }

  test("aucExact: perfect separation is 1, inverted is 0, ties-only 0.5") {
    val perfect = Seq((10L, true), (9L, true), (2L, false), (1L, false))
      .toDF("u", "y")
    assert(MlEval.aucExact(perfect, "u", "y").collect()(0).getDouble(2)
      == 1.0)
    val inverted = Seq((1L, true), (2L, true), (9L, false), (10L, false))
      .toDF("u", "y")
    assert(MlEval.aucExact(inverted, "u", "y").collect()(0).getDouble(2)
      == 0.0)
    val flat = Seq((5L, true), (5L, true), (5L, false)).toDF("u", "y")
    assert(MlEval.aucExact(flat, "u", "y").collect()(0).getDouble(2)
      == 0.5)
  }

  test("aucExactBy: groups grade independently in one pass") {
    // group 1 is the hand-computed tie case (0.875); group 2 is
    // perfectly separated (1.0) — shared global bucket boundaries
    // must not leak rank mass across groups
    val df = Seq(
      (1, 3L, true), (1, 2L, true), (1, 1L, false), (1, 2L, false),
      (2, 10L, true), (2, 1L, false)
    ).toDF("seg", "u", "y")
    val rows = MlEval.aucExactBy(df, "seg", "u", "y", buckets = 2)
      .orderBy("seg").collect()
      .map(r => (r.getInt(0), r.getDouble(3))).toSeq
    assert(rows == Seq((1, 0.875), (2, 1.0)))
  }

  test("aucExact: single-class input yields NULL, not a crash") {
    val onlyPos = Seq((1L, true), (2L, true)).toDF("u", "y")
    assert(MlEval.aucExact(onlyPos, "u", "y").collect()(0).isNullAt(2))
  }

  test("aucExact: bucket count never changes the answer") {
    // 200 rows, scores colliding across labels — prefix-sum bucketing
    // is parallelism only
    val df = (1 to 200)
      .map(i => ((i % 37).toLong, i % 3 == 0)).toDF("u", "y")
    val a1 = MlEval.aucExact(df, "u", "y", buckets = 1).collect()(0)
    val a32 = MlEval.aucExact(df, "u", "y", buckets = 32).collect()(0)
    assert(a1.getDouble(2) == a32.getDouble(2))
  }

  test("q215 kappa: identical raters agree perfectly, kappa = 1") {
    // n_chars and token count bucket identically for every doc
    val docs = Seq(
      (1L, "a b c", "en", "s0", 100L),     // short / short (3 tokens)
      (2L, ("w " * 30).trim, "en", "s0", 200L),  // medium / medium
      (3L, ("w " * 60).trim, "en", "s0", 400L)   // long / long
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = staged("kappa1")("documents" -> docs)
    val r = SparkEntry.queries("q215_cohens_kappa")(spark, dir)
      .collect()(0)
    assert(r.getLong(0) == 3L && r.getDouble(1) == 1.0 &&
      r.getDouble(3) == 1.0)
  }

  test("q215 kappa: hand-computed 2x2 disagreement") {
    // confusion: (short,short)=1, (short,medium)=1 -> n=2, diag=1,
    // po = 1/2; row short=2, col short=1, col medium=1 ->
    // pe = (2·1 + 0·1)/2² = 1/2; kappa = (po−pe)/(1−pe) = 0
    val docs = Seq(
      (1L, "a b c", "en", "s0", 100L),            // A short, B short
      (2L, ("w " * 30).trim, "en", "s0", 100L)    // A short, B medium
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = staged("kappa2")("documents" -> docs)
    val r = SparkEntry.queries("q215_cohens_kappa")(spark, dir)
      .collect()(0)
    assert(r.getDouble(1) == 0.5)   // po
    assert(r.getDouble(2) == 0.5)   // pe = (2·1 + 0·1)/2² = 0.5
    assert(r.getDouble(3) == 0.0)   // kappa
  }

  test("q216 JSD: a source that IS the corpus distribution diverges 0") {
    // two sources with identical word multisets -> every source's
    // distribution equals the pooled corpus -> jsd = 0, coverage = 1
    val docs = Seq(
      (1L, "x x y", "en", "sA", 5L),
      (2L, "x x y", "en", "sB", 5L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = staged("jsd0")("documents" -> docs)
    val rows = SparkEntry.queries("q216_source_divergence")(spark, dir)
      .collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.getDouble(3) == 1.0 && r.getDouble(4) == 0.0)
    }
  }

  test("q216 JSD: disjoint vocabularies approach the ln2 ceiling") {
    // sA = {a}, sB = {b}: p/m = 2 on the own-word, q/m tail elsewhere;
    // JSD(source vs pooled corpus) for a 50/50 disjoint split is
    // 0.5·ln2 + 0.5·[0.5·ln(2/3)·… ] — just assert symmetry and range
    val docs = Seq(
      (1L, "a a a a", "en", "sA", 7L),
      (2L, "b b b b", "en", "sB", 7L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = staged("jsd1")("documents" -> docs)
    val rows = SparkEntry.queries("q216_source_divergence")(spark, dir)
      .collect().map(r => (r.getString(0), r.getDouble(4)))
    assert(rows(0)._2 == rows(1)._2)
    assert(rows(0)._2 > 0.2 && rows(0)._2 <= 0.6931472)
  }

  test("q217 Gini: equal docs concentrate nothing; a hand case is 0.25") {
    val docs = Seq(
      (1L, "w w w", "en", "flat", 5L),
      (2L, "w w w", "en", "flat", 5L),
      (3L, "w", "en", "skew", 1L),        // token masses 1 and 3:
      (4L, "w w w", "en", "skew", 5L)     // G = 2·7/(2·4) − 3/2 = 0.25
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = staged("gini")("documents" -> docs)
    val rows = SparkEntry.queries("q217_gini_concentration")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(rows == Seq(("flat", 2L, 6L, 0.0), ("skew", 2L, 4L, 0.25)))
  }

  test("q218 ANN recall: hits are exact-set intersections in [0, 5]") {
    val rows = SparkEntry.queries("q218_ann_recall")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 50)
    rows.foreach { r =>
      val h = r.getInt(1)
      assert(h >= 0 && h <= 5)
      assert(r.getDouble(2) == h / 5.0)
    }
    // label cells are a COARSE quantizer (not geometric clusters), so
    // nprobe=2 recall is well below 1 — which is exactly what this
    // harness exists to measure; the floor only guards against the
    // intersection degenerating to empty
    val mean = rows.map(_.getInt(1)).sum / (5.0 * rows.length)
    assert(mean > 0.1, s"mean recall@5 = $mean")
  }

  test("q219 BH: rejections are a rank prefix under a monotone p order") {
    val rows = SparkEntry.queries("q219_fdr_bh")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    val ps = rows.map(_.getDouble(4))
    assert(ps.zip(ps.tail).forall { case (a, b) => a <= b },
      "p-values must be nondecreasing in rank")
    val rejects = rows.map(_.getBoolean(6))
    // BH step-up: the reject set is exactly ranks 1..kmax
    val lastReject = rejects.lastIndexOf(true)
    assert(rejects.take(lastReject + 1).forall(identity))
    assert(rejects.drop(lastReject + 1).forall(!_))
  }

  private def ts(n: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(java.time.LocalDate.of(2024, 1, 1)
      .plusDays(n).atStartOfDay())

  test("q220 Markov attribution: hand-computed removal effects") {
    // u1,u2: click -> purchase; u3: view only; u4: purchase directly.
    // chain: START->click 2, click->purchase 2, START->view 1,
    // view->NULLS 1, START->purchase 1; conv(START) = 3/4... with
    // v(click)=1, v(view)=0: base = 2/4 + 1/4 = 0.75. Removing click
    // leaves only the direct path: 0.25 -> effect 2/3; removing view
    // changes nothing -> effect 0, so click takes the full credit.
    val ev = Seq(
      (1L, ts(0), 1L, "click", 1.0, "{}"),
      (2L, ts(1), 1L, "purchase", 1.0, "{}"),
      (3L, ts(0), 10L, "click", 1.0, "{}"),
      (4L, ts(1), 10L, "purchase", 1.0, "{}"),
      (5L, ts(0), 20L, "view", 1.0, "{}"),
      (6L, ts(0), 30L, "purchase", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = staged("markov")("events" -> ev)
    val rows = SparkEntry.queries("q220_markov_attribution")(spark, dir)
      .collect().map(r => (r.getString(0), r.getDouble(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4))).toSeq
    assert(rows == Seq(
      ("click", 0.75, 0.25, 0.666666667, 1.0),
      ("view", 0.75, 0.75, 0.0, 0.0)))
  }

  test("q233 Shapley: the only contributing channel takes the full " +
      "efficiency; absent channels are null players") {
    // q220's fixture: the click path carries Δ = 0.5 conversion in
    // EVERY coalition, so phi_click = 0.5 exactly; view only leads to
    // NULLS and error/signup never occur -> all three are null
    // players with phi = 0
    val ev = Seq(
      (1L, ts(0), 1L, "click", 1.0, "{}"),
      (2L, ts(1), 1L, "purchase", 1.0, "{}"),
      (3L, ts(0), 10L, "click", 1.0, "{}"),
      (4L, ts(1), 10L, "purchase", 1.0, "{}"),
      (5L, ts(0), 20L, "view", 1.0, "{}"),
      (6L, ts(0), 30L, "purchase", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = staged("shap")("events" -> ev)
    val rows = SparkEntry.queries("q233_shapley_attribution")(spark, dir)
      .collect().map(r => (r.getString(0), r.getDouble(1),
        r.getDouble(2))).toSeq
    assert(rows == Seq(("click", 0.5, 1.0), ("error", 0.0, 0.0),
      ("signup", 0.0, 0.0), ("view", 0.0, 0.0)))
  }

  test("q233 Shapley: an event type outside the pinned channel set " +
      "fails loudly instead of silently becoming an always-alive " +
      "channel") {
    val ev = Seq(
      (1L, ts(0), 1L, "click", 1.0, "{}"),
      (2L, ts(1), 1L, "share", 1.0, "{}"), // 5th, un-pinned channel
      (3L, ts(2), 1L, "purchase", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = staged("shap5")("events" -> ev)
    val e = intercept[IllegalArgumentException] {
      SparkEntry.queries("q233_shapley_attribution")(spark, dir).collect()
    }
    assert(e.getMessage.contains("share"),
      s"error must name the offending channel: ${e.getMessage}")
  }

  test("q234 HT estimate: the mix agrees with q76 and the expansion " +
      "is exact arithmetic") {
    val sf = "/root/testdata/sf0.001"
    val ht = SparkEntry.queries("q234_ht_estimate")(spark, sf)
      .collect().map(r => r.getString(0) -> r).toMap
    // same kernel, same keep decisions: n_kept must equal q76's
    val mix = SparkEntry.queries("q76_source_mixing")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    ht.foreach { case (src, r) =>
      assert(r.getLong(2) == mix(src),
        s"$src kept ${r.getLong(2)} != q76 ${mix(src)}")
    }
    // pct=90 source: the expansion factor is 100/90, so ht is within
    // a whisker of kept_tokens/0.9 — and rel_err is the graded diff
    ht.values.foreach { r =>
      val est = r.getDouble(4)
      val tru = r.getLong(3).toDouble
      assert(r.getDouble(5) ==
        graft.functions.Rounding.roundTo((est - tru) / tru, 6))
    }
  }

  test("q235 retrieval eval: every query grades its origin; " +
      "reciprocal ranks are consistent") {
    val rows = SparkEntry.queries("q235_retrieval_eval")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 13) // doc_ids 0, 40, ..., 480
    rows.foreach { r =>
      val rank = r.getInt(1)
      assert(rank >= 1)
      assert(r.getBoolean(2) == (rank <= 10))
      val expected = if (rank <= 10)
        graft.functions.Rounding.roundTo(1.0 / rank, 6) else 0.0
      assert(r.getDouble(3) == expected)
    }
    // the harness must discriminate: some query retrieves its origin
    assert(rows.exists(_.getBoolean(2)), "no query hit top-10 at all")
  }

  test("q236 EMD drift: a pure 14-day shift measures exactly 14; " +
      "identical halves measure 0") {
    // 'mv': all first-half mass on grid day 0, all second-half on
    // grid day 14 -> W1 = 14. 'st': same grid day both halves -> 0.
    val ev = (1L to 3L).flatMap(i => Seq(
      (i, ts(0), i, "mv", 1.0, "{}"),          // dd=0  -> g=0, half A
      (i + 10, ts(29), i, "mv", 1.0, "{}"),    // dd=29 -> g=14, half B
      (i + 20, ts(3), i, "st", 1.0, "{}"),     // dd=3  -> g=3, half A
      (i + 30, ts(18), i, "st", 1.0, "{}")))   // dd=18 -> g=3, half B
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = staged("emd")("events" -> ev)
    val rows = SparkEntry.queries("q236_emd_drift")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(rows == Seq(("mv", 3L, 3L, 14.0), ("st", 3L, 3L, 0.0)))
  }

  test("q237 lagged xcorr: a series shifted by one day peaks at " +
      "lag 1 with corr exactly 1") {
    // clicks (1,2,3) on days 0-2; purchases (1,2,3) on days 1-3:
    // purchases ARE clicks shifted +1 -> lag-1 pairs are identical
    // series (corr 1.0); lag 0 is the hand-computed -0.2
    var id = 0L
    def mk(day: Int, t: String, n: Int) = (1 to n).map { _ =>
      id += 1; (id, ts(day), 1L, t, 1.0, "{}")
    }
    val ev = (mk(0, "click", 1) ++ mk(1, "click", 2) ++
      mk(2, "click", 3) ++ mk(1, "purchase", 1) ++
      mk(2, "purchase", 2) ++ mk(3, "purchase", 3))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = staged("xcorr")("events" -> ev)
    val rows = SparkEntry.queries("q237_lagged_xcorr")(spark, dir)
      .collect().map(r => r.getInt(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(rows(1) == Some(1.0), s"lag 1: ${rows(1)}")
    assert(rows(0) == Some(-0.2), s"lag 0: ${rows(0)}")
  }

  test("q239 QTE: four quantile rows, qte = treated - control exactly") {
    val rows = SparkEntry.queries("q239_qte")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.map(_.getDouble(0)).toSeq == Seq(0.25, 0.5, 0.75, 0.9))
    rows.foreach { r =>
      assert(r.getDouble(3) ==
        graft.functions.Rounding.roundTo(
          r.getDouble(1) - r.getDouble(2), 2) ||
        math.abs(r.getDouble(3) - (r.getDouble(1) - r.getDouble(2)))
          < 0.011,
        s"qte inconsistent at q=${r.getDouble(0)}")
      // order statistics are monotone in the quantile
    }
    val t = rows.map(_.getDouble(1))
    assert(t.zip(t.tail).forall { case (a, b) => a <= b })
  }

  test("q221 Neyman: zero-variance strata get zero allocation") {
    // source A token masses {1,3}: sigma = sqrt(2); B {2,2}: sigma 0
    // -> the whole 1000-doc budget lands on A
    val docs = Seq(
      (1L, "w", "en", "A", 1L),
      (2L, "w w w", "en", "A", 5L),
      (3L, "w w", "en", "B", 3L),
      (4L, "w w", "en", "B", 3L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = staged("neyman")("documents" -> docs)
    val rows = SparkEntry.queries("q221_neyman_allocation")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4))).toSeq
    assert(rows == Seq(
      ("A", 2L, 1.414214, 1.0, 1000L),
      ("B", 2L, 0.0, 0.0, 0L)))
  }

  test("q222 B-cubed: perfect clustering scores 1/1/1") {
    // two exact-dup pairs + a unique doc: minhash clusters == exact
    // content-hash truth groups, so precision = recall = f1 = 1
    val t1 = (1 to 10).map(i => s"alpha$i").mkString(" ")
    val t2 = (1 to 10).map(i => s"beta$i").mkString(" ")
    val docs = Seq(
      (1L, t1, "en", "s0", 50L), (2L, t1, "en", "s0", 50L),
      (3L, t2, "en", "s0", 50L), (4L, t2, "en", "s0", 50L),
      (5L, "gamma only once here now", "en", "s0", 20L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = staged("b3")("documents" -> docs)
    val r = SparkEntry.queries("q222_bcubed_eval")(spark, dir).collect()(0)
    assert(r.getLong(0) == 5L)                    // n_docs
    assert(r.getLong(1) == 3L && r.getLong(2) == 3L)
    assert(r.getDouble(3) == 1.0 && r.getDouble(4) == 1.0 &&
      r.getDouble(5) == 1.0)
  }

  test("q223 MI: a perfectly predictive feature scores ln 2, rank 1") {
    import java.sql.Date
    val orders = Seq(
      (1L, 1L, "A", 200000.0, Date.valueOf("2020-01-01"), "P"),
      (2L, 2L, "A", 200000.0, Date.valueOf("2020-02-01"), "P"),
      (3L, 3L, "B", 100000.0, Date.valueOf("2020-03-01"), "P"),
      (4L, 4L, "B", 100000.0, Date.valueOf("2020-04-01"), "P")
    ).toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val dir = staged("mi")("orders" -> orders)
    val rows = SparkEntry.queries("q223_mi_ranking")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSeq
    // status splits y exactly -> MI = ln 2; priority and year carry 0
    assert(rows.head == ("o_orderstatus", 2L, 0.693147, 1))
    assert(rows.map(_._1).toSet ==
      Set("o_orderstatus", "o_orderpriority", "o_year"))
    assert(rows.tail.forall(_._3 == 0.0))
  }

  test("q224 PR curve: hand-computed sweep over a 2-point detector") {
    // pos score 0.25 (u=250000), neg score -0.15 (u=-150000)
    val emb = Seq(
      (1L, Array(0.25f, 0.0f), 0),
      (2L, Array(-0.15f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val dir = staged("pr")("embeddings" -> emb)
    val rows = SparkEntry.queries("q224_pr_curve")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    // th=-200000: both predicted positive; every later threshold
    // keeps only the positive (250000 >= 200000 included)
    assert(rows(0) == ((-200000L, 1L, 1L, 0L)))
    assert(rows.drop(1).map(t => (t._2, t._3, t._4))
      .forall(_ == ((1L, 0L, 0L))))
  }

  test("q225 Spearman: monotone pairs hit ±1; ties use average ranks") {
    def run(docs: Seq[(Long, String, String, String, Long)]): Double = {
      val dir = staged("rho")("documents" ->
        docs.toDF("doc_id", "text", "lang", "source", "n_chars"))
      SparkEntry.queries("q225_spearman")(spark, dir)
        .collect()(0).getDouble(1)
    }
    val up = Seq((1L, "w", "en", "s", 10L),
      (2L, "w w", "en", "s", 20L), (3L, "w w w", "en", "s", 30L))
    assert(run(up) == 1.0)
    val down = Seq((1L, "w w w", "en", "s", 10L),
      (2L, "w w", "en", "s", 20L), (3L, "w", "en", "s", 30L))
    assert(run(down) == -1.0)
    // tied x {10,10,30}, y {1,2,3}: 2·avg-ranks x (3,3,6), y (2,4,6)
    // -> rho = 18/sqrt(18·24) = 0.866025404
    val tied = Seq((1L, "w", "en", "s", 10L),
      (2L, "w w", "en", "s", 10L), (3L, "w w w", "en", "s", 30L))
    assert(run(tied) == 0.866025404)
  }

  test("q229 uplift: deciles partition the cohort; the cumulative " +
      "track ends at the pooled effect") {
    val sf = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q229_uplift_deciles")(spark, sf)
      .collect()
    assert(rows.map(_.getInt(0)).toSeq == (1 to 10))
    val nCust = spark.read.parquet(s"$sf/customer.parquet").count()
    assert(rows.map(r => r.getLong(1) + r.getLong(2)).sum == nCust)
    // decile-10 cumulative = pooled treated-vs-control mean difference
    val st = rows.map(r => r.getLong(1) * r.getDouble(3)).sum
    val sc = rows.map(r => r.getLong(2) * r.getDouble(4)).sum
    val pooled = st / rows.map(_.getLong(1)).sum -
      sc / rows.map(_.getLong(2)).sum
    assert(math.abs(rows.last.getDouble(6) - pooled) < 0.01,
      s"cum=${rows.last.getDouble(6)} pooled=$pooled")
  }

  test("q230 HLL intersection: identical classes collapse exactly; " +
      "the corpus estimate lands near truth") {
    // A = B: every user fires one high-value purchase AND click, so
    // all three sketches are identical and inclusion-exclusion must
    // collapse to est_a EXACTLY (register algebra, not approximation)
    val ev = (1L to 30L).flatMap(u => Seq(
      (u * 2, ts(0), u, "purchase", 100.0, "{}"),
      (u * 2 + 1, ts(1), u, "click", 100.0, "{}")))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = staged("hllx")("events" -> ev)
    val r = SparkEntry.queries("q230_hll_intersection")(spark, dir)
      .collect()(0)
    assert(r.getDouble(0) == r.getDouble(3),
      "A = B = U must collapse to est_a")
    assert(r.getLong(4) == 30L)
    // and on the real corpus the estimate tracks the exact overlap
    val c = SparkEntry.queries("q230_hll_intersection")(
      spark, "/root/testdata/sf0.001").collect()(0)
    assert(math.abs(c.getDouble(5)) < 0.5,
      s"rel_err=${c.getDouble(5)}")
  }

  test("q244 CMH: independent outcome on random arms yields OR near 1, " +
      "small chi2") {
    // arm is a fresh hash split and the outcome threshold ignores the
    // arm, so the common odds ratio must sit near 1 and the 1-dof CMH
    // statistic far below the p=0.001 quantile (10.83) — a failure
    // here means the 2x2 cell algebra or the arm hash is biased
    val r = SparkEntry.queries("q244_cmh_stratified")(
      spark, "/root/testdata/sf0.001").collect()(0)
    assert(r.getLong(0) == 5L, "five event-type strata expected")
    val or = r.getDouble(2)
    assert(or > 0.5 && or < 2.0, s"A/A-ish OR drifted to $or")
    assert(r.getDouble(3) < 10.83, s"chi2_mh=${r.getDouble(3)}")
  }

  test("q246 chi-square: a proportional table is exactly independent " +
      "(chi2 = 0, V = 0)") {
    // F row = (10 H, 20 L), O row = (30 H, 60 L): every expected count
    // equals the observed one, so the quantized statistic is EXACTLY 0
    val orders = (Seq.fill(10)(("F", "H")) ++ Seq.fill(20)(("F", "L")) ++
      Seq.fill(30)(("O", "H")) ++ Seq.fill(60)(("O", "L")))
      .toDF("o_orderstatus", "o_orderpriority")
    val dir = staged("chisq")("orders" -> orders)
    val r = SparkEntry.queries("q246_chisq_independence")(spark, dir)
      .collect()(0)
    assert(r.getLong(0) == 120L)
    assert(r.getLong(1) == 1L)      // (2-1)*(2-1)
    assert(r.getDouble(2) == 0.0)
    assert(r.getDouble(3) == 0.0)
  }

  test("mannWhitney: perfect separation and all-tied degenerate") {
    import graft.operators.MlEval
    // A = {1,2,3} all below B = {4,5,6}: U_A = 0, var = 9/12*7 = 5.25,
    // z = (0 - 4.5)/sqrt(5.25) = -1.9640
    val sep = Seq((1L, true), (2L, true), (3L, true),
      (4L, false), (5L, false), (6L, false)).toDF("u", "y")
      .withColumn("g", lit("s"))
    val r = MlEval.mannWhitney(sep, "g", "u", "y").collect()(0)
    assert(r.getLong(1) == 3L && r.getLong(2) == 3L)
    assert(r.getDouble(3) == 0.0)                  // U_A
    assert(r.getDouble(4) == -1.964)
    // every observation tied: variance degenerates -> z NULL, U = mid
    val tied = Seq((7L, true), (7L, true), (7L, false), (7L, false))
      .toDF("u", "y").withColumn("g", lit("t"))
    val t = MlEval.mannWhitney(tied, "g", "u", "y").collect()(0)
    assert(t.getDouble(3) == 2.0)                  // n_a*n_b/2 midranks
    assert(t.isNullAt(4), "all-tied variance must yield NULL z")
  }

  test("q248 NDCG: bounded by 1, consistent with q235's origin ranks") {
    val sf = "/root/testdata/sf0.001"
    val ndcg = SparkEntry.queries("q248_ndcg")(spark, sf)
      .collect().map(r => r.getLong(0) -> r).toMap
    val mrr = SparkEntry.queries("q235_retrieval_eval")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(ndcg.keySet == mrr.keySet,
      "both harnesses must grade the identical query set")
    ndcg.values.foreach { r =>
      assert(r.getDouble(3) <= 1.0 + 1e-6,
        s"ndcg10=${r.getDouble(3)} for qid=${r.getLong(0)}")
      assert(r.getDouble(2) >= 0.0)
    }
    // an origin ranked first contributes exactly 3/log2(2) = 3 to DCG
    mrr.collect { case (qid, 1) =>
      assert(ndcg(qid).getDouble(2) >= 3.0,
        s"qid=$qid ranks its origin 1 but dcg10=${ndcg(qid).getDouble(2)}")
    }
  }

  test("q249 readability: hand-computed Flesch on a two-doc source") {
    // 'go xkcd': w=2, syllables = 1 vowel group + 1 vowelless = 2
    //   -> 206.835 - 1.015*2 - 84.6*1 = 120.205
    // 'aa bee see': w=3, syl=3 -> 206.835 - 3.045 - 84.6 = 119.19
    val docs = Seq(
      (1L, "go xkcd", "en", "s0", 7L),
      (2L, "aa bee see", "en", "s0", 10L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = staged("flesch")("documents" -> docs)
    val r = SparkEntry.queries("q249_readability")(spark, dir).collect()(0)
    assert(r.getLong(1) == 2L)       // n_docs
    assert(r.getLong(2) == 5L)       // n_words
    assert(r.getDouble(3) == 1.0)    // syllables per word
    assert(r.getDouble(4) == 119.6975, s"flesch=${r.getDouble(4)}")
  }

  test("q251 bootstrap: every CI brackets its mean with positive width") {
    val rows = SparkEntry.queries("q251_bootstrap_ci")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (m, lo, hi) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(lo < hi, s"degenerate CI [$lo,$hi] for ${r.getString(0)}")
      assert(lo <= m && m <= hi,
        s"CI [$lo,$hi] misses mean $m for ${r.getString(0)}")
    }
  }

  test("q252 delta method: identical users collapse the CI to a point") {
    // every user contributes the same (y, x) = (20, 2): Var terms all
    // zero -> se exactly 0, ci_lo = ci_hi = ratio = 10
    val ev = (1L to 6L).map { i =>
      (i, ts(0), (i - 1) / 2 + 1, "click", 10.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = staged("ratio")("events" -> ev)
    val r = SparkEntry.queries("q252_ratio_metric_ci")(spark, dir)
      .collect()(0)
    assert(r.getLong(1) == 3L)
    assert(r.getDouble(2) == 10.0)
    assert(r.getDouble(3) == 0.0)
    assert(r.getDouble(4) == 10.0 && r.getDouble(5) == 10.0)
  }

  test("q253 IPF: raked weights hit both margins on a hand 2x2") {
    // cells A=(en 30, fr 10), B=(en 10, fr 10): targets source 30/30,
    // lang 40/20 — 3 alternating rounds converge far below the flag
    val docs =
      (Seq.fill(30)(("A", "en")) ++ Seq.fill(10)(("A", "fr")) ++
       Seq.fill(10)(("B", "en")) ++ Seq.fill(10)(("B", "fr")))
        .zipWithIndex.map { case ((s0, l), i) =>
          (i.toLong, "w", l, s0, 1L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = staged("ipf")("documents" -> docs)
    val rows = SparkEntry.queries("q253_ipf_raking")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(3)))
    val bySrc = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum)
    val byLang = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum)
    assert(math.abs(bySrc("A") - 30.0) < 0.01, bySrc.toMap.toString)
    assert(math.abs(bySrc("B") - 30.0) < 0.01)
    assert(math.abs(byLang("en") - 40.0) < 0.01, byLang.toMap.toString)
    assert(math.abs(byLang("fr") - 20.0) < 0.01)
    val flag = SparkEntry.queries("q253_ipf_raking")(spark, dir)
      .collect().forall(_.getBoolean(5))
    assert(flag, "row_margins_converged must be TRUE on the hand case")
  }

  test("q241 A/A control: the experimentation stack passes its own " +
      "guardrail (family_fp <= 1)") {
    // The A/A split carries no true effect by construction, so the
    // Welch machinery (hash-arm assignment + moment aggregation +
    // z computation — shared by q120/q126/q201/q219/q229/q239) must
    // NOT flag more than ~5% of the family. Any future change that
    // biases `Experiment.welchAb`'s assignment fails here at spec
    // time, not at driver time. |z| should also sit near 0.
    val rows = SparkEntry.queries("q241_aa_control")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty && rows.length <= 5)
    val familyFp = rows.head.getLong(5)
    assert(rows.forall(_.getLong(5) == familyFp),
      "family_fp must be a family-wide constant")
    assert(familyFp <= 1L,
      s"A/A control flagged $familyFp of ${rows.length} event types — " +
        "the assignment or test machinery is biased")
    assert(rows.forall(r => math.abs(r.getDouble(3)) < 4.0),
      "an A/A |z| beyond 4 sigma means broken arithmetic, not chance")
  }

  test("q270 IV Wald: strong instrument estimates, zero-variance refuses") {
    // pick 3 users per hash arm (salt "iv"), give arm-0 users clicks
    // {1,1,2} + a 1.00 purchase and arm-1 users {5,5,6} + 3.00 -> the
    // first stage is strong (t ~ 8.5) and beta ~ 200 cents / 4 clicks
    val arms = spark.range(1, 41).select(
      org.apache.spark.sql.functions.col("id"),
      graft.operators.Sampling.hashBucket(
        org.apache.spark.sql.functions.col("id"), "iv", 2).as("z"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val a0 = arms.filter(_._2 == 0L).map(_._1).take(3)
    val a1 = arms.filter(_._2 == 1L).map(_._1).take(3)
    val clicks0 = Seq(1, 1, 2); val clicks1 = Seq(5, 5, 6)
    def day(n: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2020, 1, 1).plusDays(n).atStartOfDay())
    var eid = 0L
    val rows = (a0.zip(clicks0).map(t => (t, 1.00)) ++
      a1.zip(clicks1).map(t => (t, 3.00))).flatMap {
      case ((u, nc), pv) =>
        val cs = (1 to nc).map { i =>
          eid += 1; (eid, day(i), u, "click", 0.1, "{}")
        }
        eid += 1
        cs :+ ((eid, day(20), u, "purchase", pv, "{}"))
    }.toSeq.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = staged("iv")("events" -> rows)
    val r = SparkEntry.queries("q270_iv_wald")(spark, dir).head()
    // expected via the same fixed shapes from the exact moments
    val (sxA, sxxA, sxB, sxxB) = (4.0, 6.0, 16.0, 86.0)
    val (xa, xb, ya, yb) = (sxA / 3.0, sxB / 3.0, 100.0, 300.0)
    val va = (sxxA / 3.0 - xa * xa) * 3.0 / 2.0
    val vb = (sxxB / 3.0 - xb * xb) * 3.0 / 2.0
    val t = (xb - xa) / math.sqrt(va / 3.0 + vb / 3.0)
    def q(x: Double, n: Double): Double = math.floor(x * n + 0.5) / n
    assert(r.getAs[Long]("n_a") == 3L && r.getAs[Long]("n_b") == 3L)
    assert(r.getAs[Double]("fs_t") == q(t, 1e4), r.toString)
    assert(!r.getAs[Boolean]("weak_instrument"))
    assert(r.getAs[Double]("beta_iv") == q((yb - ya) / (xb - xa), 1e6),
      r.toString)

    // zero x-variance -> se2 = 0 -> fs_t null -> refusal, not a crash
    val flat = (1L to 4L).flatMap { u =>
      Seq((u * 10, day(1), u, "click", 0.1, "{}"),
        (u * 10 + 1, day(2), u, "purchase", 1.0, "{}"))
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir2 = staged("iv0")("events" -> flat)
    val r2 = SparkEntry.queries("q270_iv_wald")(spark, dir2).head()
    assert(r2.isNullAt(r2.fieldIndex("fs_t")))
    assert(r2.isNullAt(r2.fieldIndex("beta_iv")))
    assert(r2.getAs[Boolean]("weak_instrument"))
  }

  test("q278 split conformal: exact rank, qhat, and coverage by hand") {
    // discover the hash splits, then construct: train mean = 150,
    // cal scores {10..90} -> n=9, k = ceil(10*0.9) = 9, qhat = 90,
    // eval scores {90, 95} -> covered {90} -> coverage 0.5
    val buckets = spark.range(1, 301).select(
      org.apache.spark.sql.functions.col("id"),
      graft.operators.Sampling.hashBucket(
        org.apache.spark.sql.functions.col("id"), "conf", 10).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val trainK = buckets.filter(_._2 < 6).map(_._1).take(2)
    val calK = buckets.filter(t => t._2 >= 6 && t._2 < 8).map(_._1).take(9)
    val evalK = buckets.filter(_._2 >= 8).map(_._1).take(2)
    assert(trainK.length == 2 && calK.length == 9 && evalK.length == 2)
    val rows =
      trainK.zip(Seq(1.00, 2.00)).map { case (k, y) => (k, "P", y) } ++
        calK.zipWithIndex.map { case (k, i) =>
          (k, "P", 1.50 + (i + 1) * 0.10) } ++
        Seq((evalK(0), "P", 1.50 + 0.90), (evalK(1), "P", 1.50 + 0.95))
    val orders = rows.toSeq
      .toDF("o_orderkey", "o_orderpriority", "o_totalprice")
    val dir = staged("conf")("orders" -> orders)
    val r = SparkEntry.queries("q278_conformal")(spark, dir).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getDouble(5)) == ((9L, 9L, 90L, 2L, 1L, 0.5)),
      r.toString)
  }

  test("q280 Markov accuracy: learned transitions beat majority on eval") {
    // all users emit view,click,view,click; the model learns
    // view->click AND click->view, the majority baseline (global top =
    // click) only gets the view rows right
    val arms = spark.range(1, 61).select(
      org.apache.spark.sql.functions.col("id"),
      graft.operators.Sampling.hashBucket(
        org.apache.spark.sql.functions.col("id"), "markov", 10).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val trainU = arms.filter(_._2 < 8).map(_._1).take(2)
    val evalU = arms.filter(_._2 >= 8).map(_._1).take(1)
    assert(trainU.length == 2 && evalU.length == 1)
    def day(n: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2020, 1, 1).plusDays(n).atStartOfDay())
    var eid = 0L
    val ev = (trainU ++ evalU).flatMap { u =>
      Seq("view", "click", "view", "click").zipWithIndex.map {
        case (t, i) => eid += 1; (eid, day(i), u, t, 1.0, "{}")
      }
    }.toSeq.toDF("event_id", "ts", "user_id", "event_type", "value",
      "props")
    val dir = staged("markov")("events" -> ev)
    val rows = SparkEntry.queries("q280_markov_accuracy")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    assert(rows.toSeq == Seq(("click", 1L, 1.0, 0.0),
      ("view", 2L, 1.0, 1.0)), rows.toSeq.toString)
  }

  test("q276 Krippendorff alpha: hand-computed coincidence on 3 units") {
    // ratings by construction: u1 (s,s,s), u2 (l,s,l), u3 (m,m,m)
    // A' = 2; n_tot = 9; category counts s=4, m=3, l=2 -> B = 81-29 = 52
    // Do = 2/9, De = 52/72, alpha = 1 - 16/52 = 9/13
    def doc(id: Long, nWords: Int, nChars: Long) =
      (id, Seq.fill(nWords)("w").mkString(" "), "en", nChars)
    val docs = Seq(doc(1, 25, 100), doc(2, 20, 400), doc(3, 38, 200))
      .toDF("doc_id", "text", "lang", "n_chars")
    val dir = staged("kripp")("documents" -> docs)
    val r = SparkEntry.queries("q276_krippendorff")(spark, dir).head()
    def q9(x: Double) = math.floor(x * 1e9 + 0.5) / 1e9
    assert(r.getAs[Long]("n_docs") == 3L)
    assert(r.getAs[Double]("d_o") == q9(2.0 / 9.0), r.toString)
    assert(r.getAs[Double]("d_e") == q9(52.0 / 72.0), r.toString)
    assert(r.getAs[Double]("alpha") == q9(1.0 - 16.0 / 52.0), r.toString)
  }

  test("q268 fairness audit: hand-computed parity and equalized-odds gaps") {
    // A: sel 2/4, pos {1,3}, tp {1}, fp {2} -> tpr .5, fpr .5
    // B: sel 1/2, pos {5}, tp {5} -> tpr 1, fpr 0
    // overall: sel .5, tpr 2/3, fpr 1/3
    // eo_gap(A) = max(|.5-2/3|, |.5-1/3|) = 1/6; eo_gap(B) = 1/3
    val cust = Seq((1L, 6000.0, "A"), (2L, 6000.0, "A"),
      (3L, 1000.0, "A"), (4L, 1000.0, "A"),
      (5L, 6000.0, "B"), (6L, 1000.0, "B"))
      .toDF("c_custkey", "c_acctbal", "c_mktsegment")
    val orders = Seq((1L, "1-URGENT"), (3L, "1-URGENT"), (5L, "1-URGENT"),
      (2L, "3-MEDIUM")).toDF("o_custkey", "o_orderpriority")
    val dir = staged("fair")("customer" -> cust, "orders" -> orders)
    val rows = SparkEntry.queries("q268_fairness_audit")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
      .toSeq
    assert(rows == Seq(
      ("A", 4L, 0.5, 0.0, 0.5, 0.5, 0.166667),
      ("B", 2L, 0.5, 0.0, 1.0, 0.0, 0.333333),
      ("_overall", 6L, 0.5, 0.0, 0.666667, 0.333333, 0.0)),
      rows.toString)
  }
}
