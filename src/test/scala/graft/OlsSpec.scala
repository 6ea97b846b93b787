package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.engine._

/** Unit + property coverage for the regression core (SURVEY.md §5.2-3). */
class OlsSpec extends SparkSpec {
  import spark.implicits._

  private val eps = 1e-9

  test("OlsStats.solve matches hand-computed closed form") {
    val pts = Seq((0.0, 2.0), (1.0, 6.0), (2.0, 7.0), (3.0, 11.0))
    val st = pts.foldLeft(OlsStats.zero) { case (b, (x, y)) => b.add(x, y) }
    // n=4, Σx=6, Σy=26, Σx²=14, Σxy=53 → d=4·14−36=20
    // w0=(14·26−6·53)/20=46/20=2.3 ; w1=(4·53−6·26)/20=56/20=2.8
    assert(math.abs(st.solve.w0 - 2.3) < eps)
    assert(math.abs(st.solve.w1 - 2.8) < eps)
  }

  test("solve is NaN on degenerate input (n=0 or zero variance)") {
    assert(OlsStats.zero.solve.w0.isNaN)
    val same = OlsStats.zero.add(5.0, 1.0).add(5.0, 2.0)
    assert(same.solve.w1.isNaN)
  }

  test("OlsStats.merge is associative and commutative (2-level combine)") {
    def stats(l: List[(Double, Double)]): OlsStats =
      l.foldLeft(OlsStats.zero) { case (b, (x, y)) => b.add(x, y) }
    def close(a: OlsStats, b: OlsStats): Boolean = {
      def c(x: Double, y: Double) = (x - y).abs <= 1e-9 * math.max(1.0, x.abs)
      a.n == b.n && c(a.sx, b.sx) && c(a.sy, b.sy) &&
        c(a.sxx, b.sxx) && c(a.sxy, b.sxy)
    }
    val pts = Gen.listOf(Gen.zip(Gen.choose(-100.0, 100.0),
      Gen.choose(-100.0, 100.0)))
    val prop = Prop.forAll(pts, pts, pts) { (xs, ys, zs) =>
      val (a, b, c) = (stats(xs), stats(ys), stats(zs))
      // commutativity is exact (double + is commutative); associativity
      // holds to fp tolerance — the property Spark's partial/final
      // HashAggregate combine relies on
      close(a.merge(b), b.merge(a)) &&
        close(a.merge(b).merge(c), a.merge(b.merge(c)))
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(100), prop)
    assert(res.passed, res.status.toString)
  }

  test("fitLinearExact recovers exact weights on noiseless linear data") {
    val df = (1 to 100).map(i => (i.toDouble, 2.5 * i + 7.0)).toDF("x", "y")
    val w = Ols.fitLinearExact(df, "x", "y")
    assert(math.abs(w.w1 - 2.5) < 1e-6 && math.abs(w.w0 - 7.0) < 1e-6)
  }

  test("fitRidgeGrouped: lambda=0 equals OLS, penalty shrinks the slope") {
    val df = (1 to 100).map(i => ("g", i.toDouble, 2.5 * i + 7.0))
      .toDF("g", "x", "y")
    val ols = Ols.fitLinearExact(df, "x", "y")
    val r0 = Ols.fitRidgeGrouped(df, "x", "y", "g", lambda = 0.0)
      .collect()(0)
    assert(math.abs(r0.getDouble(2) - ols.w0) < 1e-5)
    assert(math.abs(r0.getDouble(3) - ols.w1) < 1e-5)
    val r = Ols.fitRidgeGrouped(df, "x", "y", "g", lambda = 1e6)
      .collect()(0)
    assert(math.abs(r.getDouble(3)) < math.abs(ols.w1),
      "a large penalty must shrink the slope toward zero")
  }

  test("fitRidgeGrouped: constant x stays defined (w1=0, w0=mean y)") {
    val df = Seq(("g", 5.0, 1.0), ("g", 5.0, 3.0), ("g", 5.0, 8.0))
      .toDF("g", "x", "y")
    val r = Ols.fitRidgeGrouped(df, "x", "y", "g", lambda = 10.0)
      .collect()(0)
    assert(r.getDouble(3) == 0.0)
    assert(r.getDouble(2) == 4.0)
  }

  test("fitRidge2Plan: lambda=0 equals the exact plan, collinear stays defined") {
    val df = (1 to 60).map { i =>
      val x1 = i.toDouble; val x2 = (i % 9).toDouble
      (x1, x2, 3.0 + 2.0 * x1 - 0.5 * x2)
    }.toDF("x1", "x2", "y")
    // the exact solve, done independently on the driver: Gaussian
    // elimination on the 3x3 normal equations
    val exact = {
      val rows = df.as[(Double, Double, Double)].collect()
      val a = Array.tabulate(3, 4) { (i, j) =>
        rows.map { case (x1, x2, y) =>
          val v = Array(1.0, x1, x2, y)
          v(i) * v(j)
        }.sum
      }
      for (p <- 0 until 3; r <- p + 1 until 3) {
        val f = a(r)(p) / a(p)(p)
        for (c <- p until 4) a(r)(c) -= f * a(p)(c)
      }
      val w = new Array[Double](3)
      for (r <- 2 to 0 by -1)
        w(r) = (a(r)(3) - (r + 1 until 3).map(c => a(r)(c) * w(c)).sum) / a(r)(r)
      w
    }
    val r0 = Ols.fitRidge2Plan(df, "x1", "x2", "y", 0.0).collect()(0)
    (0 to 2).foreach(i =>
      assert(math.abs(exact(i) - r0.getDouble(i)) < 1e-9))
    // perfectly collinear features: exact NaNs out, ridge is defined
    val coll = (1 to 30).map(i =>
      (i.toDouble, 2.0 * i, 5.0 + i)).toDF("x1", "x2", "y")
    val ex = Ols.fitRidge2Plan(coll, "x1", "x2", "y", 0.0).collect()(0)
    assert(ex.getDouble(1).isNaN)
    val rr = Ols.fitRidge2Plan(coll, "x1", "x2", "y", 10.0).collect()(0)
    assert(!rr.getDouble(1).isNaN && !rr.getDouble(2).isNaN)
  }

  test("fitLinearExact is partition-invariant (fixes kernel.cu:108 truncation)") {
    val base = (1 to 101).map(i => (i.toDouble, 1.5 * i + 3.0 + (i % 7)))
    val w1 = Ols.fitLinearExact(base.toDF("x", "y").repartition(1), "x", "y")
    val w7 = Ols.fitLinearExact(base.toDF("x", "y").repartition(7), "x", "y")
    assert(math.abs(w1.w0 - w7.w0) < 1e-8 && math.abs(w1.w1 - w7.w1) < 1e-8)
  }

  test("OlsAggregator (typed) agrees with fitLinearExact") {
    val data = (1 to 50).map(i => (i.toDouble, 0.5 * i + 1.0 + (i % 3)))
    val ds = data.toDF("x", "y").as[(Double, Double)]
    val viaAgg = ds.select(OlsAggregator.toColumn).head()
    val viaExact = Ols.fitLinearExact(data.toDF("x", "y"), "x", "y")
    assert(math.abs(viaAgg.w0 - viaExact.w0) < 1e-9)
    assert(math.abs(viaAgg.w1 - viaExact.w1) < 1e-9)
  }

  test("fitLinearMeta equals exact on identically-distributed partitions") {
    // same x-distribution per block → avg-of-avgs == global fit (§0.1)
    val df = (1 to 400).map(i => ((i % 100).toDouble, 2.0 * (i % 100) + 5.0))
      .toDF("x", "y")
    val meta = Ols.fitLinearMeta(df, "x", "y", 4, 1, "x")
    assert(math.abs(meta.w1 - 2.0) < 1e-6 && math.abs(meta.w0 - 5.0) < 1e-6)
  }

  test("fitLinearMeta processes all rows (unequal partitions, no drops)") {
    // exact-linear data: every block solves to the same weights, so the
    // estimator is layout-independent — any dropped tail would not
    // change this, but NaN-block exclusion is exercised via a 1-row
    // partition (zero variance → NaN → excluded, not poisoning)
    val df = (1 to 7).map(i => (i.toDouble, 4.0 * i - 1.0)).toDF("x", "y")
    val w = Ols.fitLinearMeta(df, "x", "y", numPartitions = 3,
      blocksPerPartition = 2, orderCol = "x")
    assert(math.abs(w.w1 - 4.0) < 1e-6 && math.abs(w.w0 + 1.0) < 1e-6)
  }

  test("fitLinearMeta is stable under upstream physical layout (unique key)") {
    // The meta estimate depends on row PLACEMENT, which fitLinearMeta
    // pins by range-repartitioning on a caller-chosen ordering column
    // before slicing. With a UNIQUE orderCol, the estimate must
    // therefore be invariant to however the input arrived partitioned
    // — the documented contract that distinguishes it from a naive
    // avg-of-partition-fits whose value drifts with the physical plan.
    val rows = (1 to 300).map { i =>
      (i.toDouble, 1.5 * i + 3.0 + (i % 7) - 3.0)
    }
    val layouts = Seq(
      rows.toDF("x", "y"),
      rows.toDF("x", "y").repartition(13),
      rows.reverse.toDF("x", "y").repartition(3),
      rows.toDF("x", "y")
        .repartition(29, org.apache.spark.sql.functions.col("y")))
    val fits = layouts.map(df =>
      Ols.fitLinearMeta(df, "x", "y", numPartitions = 4,
        blocksPerPartition = 3, orderCol = "x"))
    fits.tail.foreach { w =>
      assert(math.abs(w.w0 - fits.head.w0) < 1e-9 &&
        math.abs(w.w1 - fits.head.w1) < 1e-9,
        s"meta estimate drifted with upstream layout: $w vs ${fits.head}")
    }
  }

  test("IterativeTrainer folds EMA exactly as kernel.cu:214-215") {
    val b1 = Seq((1.0, 1.0), (2.0, 2.0), (3.0, 3.0)).toDF("x", "y") // y=x
    val b2 = Seq((1.0, 2.0), (2.0, 4.0), (3.0, 6.0)).toDF("x", "y") // y=2x
    val r = IterativeTrainer.fit(Iterator(b1, b2), "x", "y", alpha = 0.2)
    // w starts (0,0); after b1: 0.8*1=0.8 ; after b2: 0.2*0.8+0.8*2=1.76
    assert(r.iters == 2 && !r.converged)
    assert(math.abs(r.weights.w1 - 1.76) < 1e-9)
    assert(math.abs(r.weights.w0 - 0.0) < 1e-9)
  }

  test("IterativeTrainer stops on tol convergence") {
    val b = Seq((1.0, 1.0), (2.0, 2.0), (3.0, 3.0)).toDF("x", "y")
    val batches = Iterator.continually(b).take(50)
    val r = IterativeTrainer.fit(batches, "x", "y", alpha = 0.2, tol = 1e-6)
    assert(r.converged && r.iters < 50)
    assert(math.abs(r.weights.w1 - 1.0) < 1e-4)
  }

  test("fitRidge2Plan at lambda=0 recovers planted 2-feature weights; NaN on degenerate") {
    // y = 2 + 3*x1 - 5*x2 exactly -> exact recovery
    val rows = for (i <- 1 to 40; j <- 1 to 3) yield
      (i.toDouble, (i % 7 + j).toDouble, 2.0 + 3.0 * i - 5.0 * (i % 7 + j))
    val df = rows.toDF("x1", "x2", "y")
    val w = Ols.fitRidge2Plan(df, "x1", "x2", "y", 0.0).head()
    assert(math.abs(w.getDouble(0) - 2.0) < 1e-6)
    assert(math.abs(w.getDouble(1) - 3.0) < 1e-6)
    assert(math.abs(w.getDouble(2) + 5.0) < 1e-6)
    // collinear features (x2 = 3*x1): det is floating-point noise, the
    // RELATIVE guard must yield NaN, not noise ratios
    val collinear = Seq((1.0, 3.0, 1.0), (2.0, 6.0, 2.0), (3.0, 9.0, 3.0),
      (4.0, 12.0, 4.5), (5.0, 15.0, 5.0), (6.0, 18.0, 6.5))
      .toDF("x1", "x2", "y")
    val wc = Ols.fitRidge2Plan(collinear, "x1", "x2", "y", 0.0).head()
    assert(wc.getDouble(0).isNaN && wc.getDouble(1).isNaN
      && wc.getDouble(2).isNaN)
    // empty input -> NaN weights, never null
    val we = Ols.fitRidge2Plan(
      collinear.filter(org.apache.spark.sql.functions.col("x1") < 0), "x1", "x2", "y", 0.0).head()
    assert(we.getDouble(0).isNaN && we.getDouble(1).isNaN
      && we.getDouble(2).isNaN)
  }
}
