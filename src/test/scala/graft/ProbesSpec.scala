package graft

import org.apache.spark.sql.DataFrame

/** Hand-computable fixtures for the round-12 probe operators (the
  * DuckDB gate covers the corpus path; these pin the estimator
  * semantics on inputs where the right answer is derivable
  * independently — direct-formula Scala for the rank statistics, exact
  * pair counting for Pettitt, closed-form moments for the regression
  * probes).
  */
class ProbesSpec extends SparkSpec {
  import spark.implicits._

  private def staged(name: String)(tables: (String, DataFrame)*): String = {
    val dir = java.nio.file.Files
      .createTempDirectory(s"graft_probes_$name").toString
    tables.foreach { case (t, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  private def day(n: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(java.time.LocalDate.of(2024, 1, 1)
      .plusDays(n.toLong).atStartOfDay())

  /** The engine's own deterministic arm assignment (md5-bucket) — the
    * tests pin the STATISTIC, not the hash, so they read arms back
    * through the same function the queries use. */
  private def armOf(userIds: Seq[Long]): Map[Long, Boolean] = {
    import org.apache.spark.sql.functions.col
    val df = userIds.toDF("user_id")
      .withColumn("arm",
        graft.operators.Sampling.hashBucket(col("user_id"), "ab", 2))
    df.collect().map(r => r.getAs[Long]("user_id") ->
      (r.getAs[Long]("arm") == 0L)).toMap
  }

  /** Direct midrank computation over (value, inA) observations:
    * returns (scoresByObs zipped with arm) for rank-statistic
    * reference math. */
  private def midranks(obs: Seq[(Double, Boolean)]): Seq[(Double, Boolean)] = {
    val sorted = obs.sortBy(_._1)
    val byVal = sorted.groupBy(_._1)
    sorted.map { case (v, a) =>
      val below = sorted.count(_._1 < v)
      val t = byVal(v).length
      (below + (t + 1) / 2.0, a)
    }
  }

  test("q352 Mood: engine z matches the direct linear-rank-statistic " +
      "formula on a spread-shifted fixture") {
    // one event type; arm A tight around 10, arm B spread wide —
    // Mood should flag the scale difference
    val users = (1L to 12L)
    val arms = armOf(users)
    val (aUsers, bUsers) = users.partition(arms)
    assume(aUsers.size >= 3 && bUsers.size >= 3)
    val aVals = Seq(9.0, 10.0, 11.0, 10.0, 9.5, 10.5)
    val bVals = Seq(1.0, 20.0, 2.0, 19.0, 3.0, 18.0)
    val rows = aUsers.zip(aVals).map { case (u, v) => (u, v) } ++
      bUsers.zip(bVals).map { case (u, v) => (u, v) }
    val ev = rows.zipWithIndex.map { case ((u, v), i) =>
      (day(i), u, "click", v) }
      .toDF("ts", "user_id", "event_type", "value")
    val dir = staged("mood")("events" -> ev)
    val r = SparkEntry.queries("q352_mood_scale")(spark, dir).collect()(0)
    // reference: scores s_i = (r_i - (N+1)/2)^2 on midranks, T = sum
    // over arm A, z = (T - n_a*mean)/sqrt(n_a*n_b/(N(N-1)) * ss)
    val obs = rows.map { case (u, v) => (v, arms(u)) }
    val scored = midranks(obs)
    val nn = scored.length
    val s = scored.map { case (r0, a) =>
      (math.pow(r0 - (nn + 1) / 2.0, 2), a) }
    val na = s.count(_._2)
    val nb = nn - na
    val t = s.filter(_._2).map(_._1).sum
    val mean = na * s.map(_._1).sum / nn
    val sbar = s.map(_._1).sum / nn
    val ss = s.map(x => math.pow(x._1 - sbar, 2)).sum
    val z = (t - mean) / math.sqrt(na.toDouble * nb / (nn * (nn - 1.0)) * ss)
    assert(r.getAs[Long]("n_a") === na.toLong)
    assert(r.getAs[Long]("n_b") === nb.toLong)
    assert(math.abs(r.getAs[Double]("z") - z) < 1e-3)
  }

  test("q353 CvM: identical arm distributions give T near zero; the " +
      "statistic matches the direct ECDF formula") {
    val users = (1L to 12L)
    val arms = armOf(users)
    val (aUsers, bUsers) = users.partition(arms)
    assume(aUsers.size >= 3 && bUsers.size >= 3)
    val aVals = Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0)
    val bVals = Seq(10.0, 20.0, 30.0, 40.0, 50.0, 60.0)
    val rows = aUsers.zip(aVals).map { case (u, v) => (u, v) } ++
      bUsers.zip(bVals).map { case (u, v) => (u, v) }
    val ev = rows.zipWithIndex.map { case ((u, v), i) =>
      (day(i), u, "view", v) }
      .toDF("ts", "user_id", "event_type", "value")
    val dir = staged("cvm")("events" -> ev)
    val r = SparkEntry.queries("q353_cvm_two_sample")(spark, dir)
      .collect()(0)
    // direct: T = sum_k t_k (m*cumA_k - n*cumB_k)^2 / (n*m*N^2)
    val obs = rows.map { case (u, v) => (v, arms(u)) }
    val na = obs.count(_._2)
    val nb = obs.length - na
    val nn = obs.length
    val vals = obs.map(_._1).distinct.sorted
    var (cuma, cumb) = (0L, 0L)
    var sd2 = 0.0
    vals.foreach { v =>
      val tk = obs.count(_._1 == v)
      cuma += obs.count(o => o._1 == v && o._2)
      cumb += obs.count(o => o._1 == v && !o._2)
      val dk = nb * cuma - na * cumb
      sd2 += tk.toDouble * dk * dk
    }
    val tExp = sd2 / (na.toDouble * nb * nn * nn)
    assert(r.getAs[Long]("n_a") === na.toLong)
    assert(math.abs(r.getAs[Double]("t_stat") - tExp) < 1e-4)
    assert(math.abs(r.getAs[Double]("t_null") -
      (nn + 1.0) / (6.0 * nn)) < 1e-4)
  }

  test("q354 Pettitt: a clean level shift is located exactly with the " +
      "textbook K") {
    // 5 days at $1.00, then 5 days at $2.00: U_t bottoms at the
    // boundary day (index 4) with |U| = 5*5 = 25
    val orders = (0 until 10).map { t =>
      (t.toLong + 1, 1L, "O", if (t < 5) 1.0 else 2.0, day(t), "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val dir = staged("pettitt")("orders" -> orders)
    val r = SparkEntry.queries("q354_pettitt_changepoint")(spark, dir)
      .collect()(0)
    assert(r.getAs[Long]("k_stat") === 25L)
    assert(r.getAs[Long]("u_at_break") === -25L)
    assert(r.getAs[java.sql.Date]("break_date").toString === "2024-01-05")
    assert(r.getAs[Long]("n_days") === 10L)
    val p = 2.0 * math.exp(-6.0 * 25 * 25 / (1000.0 + 100.0))
    assert(math.abs(r.getAs[Double]("p_value") - p) < 1e-4)
  }

  test("q355 PACF: Durbin-Levinson output matches a direct " +
      "computation on a short AR-flavored series") {
    val xs = Seq(10.0, 12.0, 11.0, 13.0, 12.0, 14.0, 13.0, 15.0,
      14.0, 16.0, 15.0, 17.0)
    val orders = xs.zipWithIndex.map { case (x, t) =>
      (t.toLong + 1, 1L, "O", x, day(t), "5-LOW")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val dir = staged("pacf")("orders" -> orders)
    val r = SparkEntry.queries("q355_pacf")(spark, dir).collect()(0)
    // direct: 1/D-normalized autocovariance ratios + the DL ladder
    val cents = xs.map(x => math.floor(x * 100.0 + 0.5))
    val dd = cents.length
    val mean = cents.sum / dd
    def ck(k: Int): Double =
      (0 until dd - k).map(t => (cents(t) - mean) * (cents(t + k) - mean))
        .sum / dd
    val (r1, r2, r3) = (ck(1) / ck(0), ck(2) / ck(0), ck(3) / ck(0))
    val v1 = 1.0 - r1 * r1
    val p22 = (r2 - r1 * r1) / v1
    val p21 = r1 - p22 * r1
    val v2 = v1 * (1.0 - p22 * p22)
    val p33 = (r3 - p21 * r2 - p22 * r1) / v2
    assert(r.getAs[Long]("n_days") === dd.toLong)
    assert(math.abs(r.getAs[Double]("acf1") - r1) < 1e-4)
    assert(math.abs(r.getAs[Double]("pacf2") - p22) < 1e-4)
    assert(math.abs(r.getAs[Double]("pacf3") - p33) < 1e-3)
  }

  test("q356 Granger: engine F matches the direct restricted-vs-" +
      "unrestricted RSS computation") {
    // revenue follows yesterday's ORDER COUNT with a small own-lag
    // echo — the cross lag should carry real explanatory power
    val counts = Seq(1, 3, 2, 5, 1, 4, 2, 6, 3, 5, 2, 4)
    val rows = counts.zipWithIndex.flatMap { case (c, t) =>
      val price = 10.0 + (if (t == 0) 0.0 else counts(t - 1) * 3.0) +
        (t % 3) * 0.5
      (0 until c).map(i => ((t * 100 + i).toLong, 1L, "O", price,
        day(t), "3-MEDIUM"))
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val dir = staged("granger")("orders" -> rows)
    val r = SparkEntry.queries("q356_granger")(spark, dir).collect()(0)
    // direct moments in cent/count units
    val cents = counts.zipWithIndex.map { case (c, t) =>
      val price = 10.0 + (if (t == 0) 0.0 else counts(t - 1) * 3.0) +
        (t % 3) * 0.5
      c * math.floor(price * 100.0 + 0.5)
    }
    val y = cents.drop(1).map(_.toDouble)
    val xl = cents.dropRight(1).map(_.toDouble)
    val zl = counts.dropRight(1).map(_.toDouble)
    val n = y.length
    def c2(a: Seq[Double], b: Seq[Double]): Double =
      n * a.zip(b).map(p => p._1 * p._2).sum - a.sum * b.sum
    val (cyy, cxx, czz) = (c2(y, y), c2(xl, xl), c2(zl, zl))
    val (cxy, czy, cxz) = (c2(xl, y), c2(zl, y), c2(xl, zl))
    val rssr = cyy - cxy * cxy / cxx
    val det = cxx * czz - cxz * cxz
    val bx = (cxy * czz - czy * cxz) / det
    val bz = (czy * cxx - cxy * cxz) / det
    val rssu = cyy - (bx * cxy + bz * czy)
    val f = (rssr - rssu) / (rssu / (n - 3.0))
    assert(r.getAs[Long]("n_days") === n.toLong)
    assert(math.abs(r.getAs[Double]("f_stat") - f) < 1e-2)
    assert(math.abs(r.getAs[Double]("beta_own_lag") - bx) < 1e-4)
    assert(math.abs(r.getAs[Double]("beta_cross_lag") - bz * 100.0) < 1e-3)
  }

  test("q357 Chow: a slope break midway shows up as a large F with a " +
      "small split/pooled RSS ratio") {
    // first half flat-ish, second half steep, small alternating noise
    // keeps every segment's RSS strictly positive
    val xs = (0 until 12).map { t =>
      val base = if (t < 6) 100.0 + t else 60.0 + 12.0 * t
      base + (t % 2) * 0.4
    }
    val orders = xs.zipWithIndex.map { case (x, t) =>
      (t.toLong + 1, 1L, "O", x, day(t), "2-HIGH")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val dir = staged("chow")("orders" -> orders)
    val r = SparkEntry.queries("q357_chow_break")(spark, dir).collect()(0)
    // direct RSS via centered moments in cents
    val cents = xs.map(x => math.floor(x * 100.0 + 0.5))
    def rss(pts: Seq[(Double, Double)]): Double = {
      val n = pts.length
      val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
      val sxx = pts.map(p => p._1 * p._1).sum
      val sxy = pts.map(p => p._1 * p._2).sum
      val syy = pts.map(p => p._2 * p._2).sum
      ((n * syy - sy * sy) -
        math.pow(n * sxy - sx * sy, 2) / (n * sxx - sx * sx)) / n
    }
    val pts = cents.zipWithIndex.map { case (c, t) => (t.toDouble, c) }
    val (h1, h2) = pts.splitAt(6)
    val rssp = rss(pts)
    val rss12 = rss(h1) + rss(h2)
    val f = (rssp - rss12) / 2.0 / (rss12 / (12 - 4.0))
    assert(r.getAs[Long]("n_days") === 12L)
    assert(math.abs(r.getAs[Double]("f_stat") - f) < 1e-2 * math.abs(f))
    assert(math.abs(r.getAs[Double]("rss_ratio") - rss12 / rssp) < 1e-4)
    assert(r.getAs[Double]("rss_ratio") < 0.2)
  }

  private def docsDf(rows: Seq[(Long, String, String, String)]): DataFrame =
    rows.map { case (id, text, lang, src) =>
      (id, text, lang, src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  /** The engine's item definitions recomputed independently. */
  private def items(text: String): (Long, Long, Long, Long) = {
    val w = text.trim.split("\\s+").toSeq
    (w.length.toLong, w.distinct.length.toLong,
      text.length.toLong / 10, w.count(_.length > 5).toLong)
  }

  test("q358 Cronbach alpha matches the direct variance-ratio formula") {
    val texts = Seq(
      "aa bb cc dd longerword",
      "aa bb aa",
      "one two three four five six seven eight nine ten",
      "tiny doc here with wording",
      "repeated repeated repeated repeated words words")
    val dir = staged("cronbach")("documents" ->
      docsDf(texts.zipWithIndex.map { case (t, i) =>
        (i.toLong + 2, t, "en", "s0") }))
    val r = SparkEntry.queries("q358_cronbach_alpha")(spark, dir)
      .collect()(0)
    val it = texts.map(items)
    val cols = Seq(it.map(_._1), it.map(_._2), it.map(_._3), it.map(_._4))
    val tot = it.map(x => x._1 + x._2 + x._3 + x._4)
    def pvar(xs: Seq[Long]): Double = {
      val m = xs.sum.toDouble / xs.length
      xs.map(x => (x - m) * (x - m)).sum / xs.length
    }
    val alpha = 4.0 / 3.0 * (1.0 - cols.map(pvar).sum / pvar(tot))
    assert(r.getAs[Long]("n_docs") === texts.length.toLong)
    assert(math.abs(r.getAs[Double]("alpha") - alpha) < 1e-4)
  }

  test("q359 ICC: cleanly separated sources give ICC near 1") {
    // source A docs ~5 tokens, source B docs ~50: between-variance
    // dominates within-variance
    val a = Seq.fill(4)("w1 w2 w3 w4 w5")
    val b = Seq.fill(4)(Seq.tabulate(50)(i => s"t$i").mkString(" "))
    val rows = (a.map(("sA", _)) ++ b.map(("sB", _))).zipWithIndex
      .map { case ((s0, t), i) => (i.toLong + 2, t, "en", s0) }
    val dir = staged("icc")("documents" -> docsDf(rows))
    val r = SparkEntry.queries("q359_icc")(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_docs") === 8L)
    assert(r.getAs[Long]("n_sources") === 2L)
    assert(r.getAs[Double]("icc") > 0.99)
    assert(r.getAs[Double]("ms_within") === 0.0)
  }

  test("q360 Cochran Q matches the textbook formula on hand-set rules") {
    // craft docs with known (r1 len>300, r2 tokens>60, r3 ttr>1/2)
    val longText = Seq.tabulate(70)(i => s"tok$i").mkString(" ") // >300 chars, >60 distinct tokens, ttr=1
    val repeats = Seq.fill(70)("x").mkString(" ") // 139 chars, 70 tokens, ttr tiny
    val small = "a b c" // nothing passes except ttr
    val dir = staged("cochran")("documents" -> docsDf(Seq(
      (2L, longText, "en", "s"), (3L, repeats, "en", "s"),
      (4L, small, "en", "s"))))
    val r = SparkEntry.queries("q360_cochran_q")(spark, dir).collect()(0)
    // rows: (1,1,1), (0,1,0), (0,0,1) -> C=(1,2,2), R=(3,1,1)
    // T=5, Q = 2*(3*(1+4+4)-25)/(3*5-(9+1+1)) = 2*2/4 = 1.0
    assert(r.getAs[Long]("n_docs") === 3L)
    assert(r.getAs[Long]("pass_len") === 1L)
    assert(r.getAs[Long]("pass_vol") === 2L)
    assert(r.getAs[Long]("pass_ttr") === 2L)
    assert(r.getAs[Double]("q_stat") === 1.0)
  }

  test("q361 Kendall W: perfectly agreeing language rankings give W=1") {
    // 2 langs x 3 sources; source size order identical in both langs;
    // a source missing from one lang must be excluded
    val rows = Seq(
      (2L, "a " * 50, "en", "s1"), (3L, "a " * 20, "en", "s2"),
      (4L, "a " * 5, "en", "s3"),
      (5L, "b " * 60, "fr", "s1"), (6L, "b " * 25, "fr", "s2"),
      (7L, "b " * 6, "fr", "s3"),
      (8L, "c " * 99, "en", "s_only_en"))
      .map { case (id, t, l, s0) => (id, t.trim, l, s0) }
    val dir = staged("kw2")("documents" -> docsDf(rows))
    val r = SparkEntry.queries("q361_kendalls_w")(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_sources") === 3L)
    assert(r.getAs[Long]("n_langs") === 2L)
    assert(r.getAs[Double]("kendall_w") === 1.0)
    assert(r.getAs[Double]("chi2") === 4.0)
  }

  test("q362 fuzzy decontam: an edit-distance-1 prefix copy is caught, " +
      "an unrelated doc is not") {
    // doc_id 202 % 101 == 0 -> benchmark; 2,3 -> corpus
    val benchText = "the quick brown fox jumps over the lazy dog today"
    val nearDup = "the quick brown fox jumps over the lazy cog today"
    val unrelated = Seq.tabulate(12)(i => s"zz$i").mkString(" ")
    val dir = staged("fuzzy")("documents" -> docsDf(Seq(
      (202L, benchText, "en", "sB"),
      (2L, nearDup, "en", "s1"),
      (3L, unrelated, "en", "s2"))))
    val out = SparkEntry.queries("q362_fuzzy_decontam")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_contaminated"))).toMap
    assert(out("s1") === ((1L, 1L)))
    assert(out("s2") === ((1L, 0L)))
    assert(!out.contains("sB")) // benchmark side is not corpus
  }

  test("q363 canonical dedup keeps the highest-quality copy per " +
      "fingerprint") {
    // same normalized text (case/whitespace differ), different ids:
    // quality ties -> keep min doc_id; plus a unique doc
    val dir = staged("canon")("documents" -> docsDf(Seq(
      (2L, "Hello   World again", "en", "s1"),
      (9L, "hello world AGAIN", "en", "s2"), // same fp after lower + ws collapse
      (5L, "completely different text", "en", "s1"))))
    val out = SparkEntry.queries("q363_canonical_dedup")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_dropped"))).toMap
    // both dup docs have 3 distinct tokens -> tie -> doc 2 kept
    assert(out("s1") === ((2L, 0L)))
    assert(out("s2") === ((1L, 1L)))
  }

  test("q364 Theil U: a perfect weekly cycle gives U = 0") {
    val orders = (0 until 21).map { t =>
      (t.toLong + 1, 1L, "O", 10.0 + (t % 7), day(t), "5-LOW")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val dir = staged("theil")("orders" -> orders)
    val r = SparkEntry.queries("q364_theils_u")(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_days") === 14L)
    assert(r.getAs[Double]("theils_u") === 0.0)
    assert(r.getAs[Double]("rmse_seasonal_usd") === 0.0)
    assert(r.getAs[Double]("rmse_naive_usd") > 0.0)
  }

  test("q365 Stuart-Maxwell chi2 matches the closed 2x2-inverse form " +
      "on a hand grid") {
    // customers: first->last priority class transitions
    // build 1 customer per (i,j) cell count
    val cellCounts = Map((0, 0) -> 3, (0, 1) -> 2, (1, 0) -> 1,
      (1, 1) -> 2, (2, 2) -> 2, (0, 2) -> 1)
    val pr = Seq("1-URGENT", "3-MEDIUM", "5-LOW")
    var ck = 0L
    val orders = cellCounts.toSeq.flatMap { case ((i, j), c) =>
      (0 until c).flatMap { _ =>
        ck += 1
        Seq((ck * 10 + 1, ck, "O", 1.0, day(0), pr(i)),
          (ck * 10 + 2, ck, "O", 1.0, day(5), pr(j)))
      }
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val dir = staged("sm")("orders" -> orders)
    val r = SparkEntry.queries("q365_stuart_maxwell")(spark, dir)
      .collect()(0)
    val n = Array.ofDim[Long](3, 3)
    cellCounts.foreach { case ((i, j), c) => n(i)(j) = c.toLong }
    val d1 = (n(0).sum - (0 to 2).map(k => n(k)(0)).sum).toDouble
    val d2 = (n(1).sum - (0 to 2).map(k => n(k)(1)).sum).toDouble
    val s11 = (n(0).sum + (0 to 2).map(k => n(k)(0)).sum - 2 * n(0)(0)).toDouble
    val s22 = (n(1).sum + (0 to 2).map(k => n(k)(1)).sum - 2 * n(1)(1)).toDouble
    val s12 = -(n(0)(1) + n(1)(0)).toDouble
    val chi2 = (d1 * d1 * s22 - 2.0 * d1 * d2 * s12 + d2 * d2 * s11) /
      (s11 * s22 - s12 * s12)
    assert(r.getAs[Long]("n_pairs") === cellCounts.values.sum.toLong)
    assert(r.getAs[Long]("d_urgent") === d1.toLong)
    assert(math.abs(r.getAs[Double]("chi2") - chi2) < 1e-3)
  }

  test("q366 Yuen matches the direct trimmed/winsorized computation") {
    val users = (1L to 14L)
    val arms = armOf(users)
    val (aU, bU) = users.partition(arms)
    assume(aU.size >= 5 && bU.size >= 5)
    // arm A has an extreme outlier the trim must neutralize
    val aVals = Seq(10.0, 11.0, 12.0, 13.0, 9000.0, 9.0, 14.0)
    val bVals = Seq(20.0, 21.0, 22.0, 19.0, 23.0, 18.0, 24.0)
    val rows = aU.zip(aVals).map(identity) ++ bU.zip(bVals).map(identity)
    val ev = rows.zipWithIndex.map { case ((u, v), i) =>
      (day(i), u, "click", v) }
      .toDF("ts", "user_id", "event_type", "value")
    val dir = staged("yuen")("events" -> ev)
    val r = SparkEntry.queries("q366_yuen_trimmed")(spark, dir)
      .collect()(0)
    def stats(xs: Seq[Double]): (Int, Int, Double, Double) = {
      val s0 = xs.sorted
      val n = s0.length
      val g = math.floor(n * 0.2).toInt
      val h = n - 2 * g
      val trimmed = s0.slice(g, n - g)
      val tm = trimmed.sum / h
      val wins = Seq.fill(g)(s0(g)) ++ trimmed ++ Seq.fill(g)(s0(n - g - 1))
      val wm = wins.sum / n
      val wv = wins.map(x => (x - wm) * (x - wm)).sum / (n - 1)
      (n, h, tm, wv)
    }
    val (na, ha, tma, wva) = stats(rows.filter(p => arms(p._1)).map(_._2))
    val (nb, hb, tmb, wvb) = stats(rows.filterNot(p => arms(p._1)).map(_._2))
    val t = (tma - tmb) /
      math.sqrt(wva / (ha * (ha - 1.0)) + wvb / (hb * (hb - 1.0)))
    assert(r.getAs[Long]("n_a") === na.toLong)
    assert(math.abs(r.getAs[Double]("trimmed_mean_a") - tma) < 1e-4)
    assert(math.abs(r.getAs[Double]("trimmed_mean_b") - tmb) < 1e-4)
    assert(math.abs(r.getAs[Double]("t_yuen") - t) < 1e-2)
    // the 9000 outlier must NOT reach the trimmed mean
    assert(r.getAs[Double]("trimmed_mean_a") < 100.0)
  }

  test("q367 Grubbs names the spike day with the textbook G") {
    val xs = Seq(10.0, 11.0, 10.0, 12.0, 50.0, 11.0, 10.0, 12.0)
    val orders = xs.zipWithIndex.map { case (x, t) =>
      (t.toLong + 1, 1L, "O", x, day(t), "5-LOW")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val dir = staged("grubbs")("orders" -> orders)
    val r = SparkEntry.queries("q367_grubbs_outlier")(spark, dir)
      .collect()(0)
    val cents = xs.map(x => math.floor(x * 100.0 + 0.5))
    val n = cents.length
    val m = cents.sum / n
    val sd = math.sqrt(cents.map(x => (x - m) * (x - m)).sum / (n - 1))
    val g = cents.map(x => math.abs(x - m)).max / sd
    assert(r.getAs[java.sql.Date]("outlier_date").toString === "2024-01-05")
    assert(r.getAs[Double]("revenue_usd") === 50.0)
    assert(math.abs(r.getAs[Double]("g_stat") - g) < 1e-3)
  }

  test("q368 duplication profile buckets cluster sizes") {
    val dir = staged("dupprof")("documents" -> docsDf(Seq(
      (2L, "unique one", "en", "s"), (3L, "dup A", "en", "s"),
      (4L, "DUP   a", "en", "s"), (5L, "trip B", "en", "s"),
      (6L, "trip b", "en", "s"), (7L, "TRIP B", "en", "s"))))
    val out = SparkEntry.queries("q368_duplication_profile")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_clusters"), r.getAs[Long]("n_docs"))).toMap
    assert(out("1_unique") === ((1L, 1L)))
    assert(out("2_pair") === ((1L, 2L)))
    assert(out("3_small_3_5") === ((1L, 3L)))
  }

  test("q369 term dispersion: a single-source term scores DP = " +
      "1 - its source's share") {
    // two sources with equal token mass; 'bursty' lives only in s1
    val dir = staged("dp")("documents" -> docsDf(Seq(
      (2L, "bursty bursty common common", "en", "s1"),
      (3L, "spread spread common common", "en", "s2"))))
    val out = SparkEntry.queries("q369_term_dispersion")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("dp")).toMap
    // s1 share = 0.5: DP(bursty) = (|1-0.5| + |0-0.5|)/2 = 0.5
    assert(out("bursty") === 0.5)
    assert(out("common") === 0.0)
  }

  test("q370 prefix sharing counts 8-token prefix groups") {
    val eight = "t1 t2 t3 t4 t5 t6 t7 t8"
    val dir = staged("pfx")("documents" -> docsDf(Seq(
      (2L, s"$eight tail one", "en", "s"),
      (3L, s"$eight other tail", "en", "s"),
      (4L, "u1 u2 u3 u4 u5 u6 u7 u8 x", "en", "s"),
      (5L, "too short", "en", "s"))))
    val r = SparkEntry.queries("q370_prefix_sharing")(spark, dir)
      .collect()(0)
    assert(r.getAs[Long]("n_docs") === 3L) // short doc excluded
    assert(r.getAs[Long]("n_prefixes") === 2L)
    assert(r.getAs[Long]("docs_sharing") === 2L)
    assert(r.getAs[Long]("max_group") === 2L)
    assert(math.abs(r.getAs[Double]("share_rate") - (1.0 - 2.0 / 3.0)) < 1e-5)
  }

  test("q371 Bowker symmetry matches the off-diagonal formula on the " +
      "q365 fixture") {
    val cellCounts = Map((0, 0) -> 3, (0, 1) -> 2, (1, 0) -> 1,
      (1, 1) -> 2, (2, 2) -> 2, (0, 2) -> 1)
    val pr = Seq("1-URGENT", "3-MEDIUM", "5-LOW")
    var ck = 0L
    val orders = cellCounts.toSeq.flatMap { case ((i, j), c) =>
      (0 until c).flatMap { _ =>
        ck += 1
        Seq((ck * 10 + 1, ck, "O", 1.0, day(0), pr(i)),
          (ck * 10 + 2, ck, "O", 1.0, day(5), pr(j)))
      }
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val dir = staged("bowker")("orders" -> orders)
    val r = SparkEntry.queries("q371_bowker_symmetry")(spark, dir)
      .collect()(0)
    // (n01,n10)=(2,1), (n02,n20)=(1,0), (n12,n21)=(0,0)
    val chi2 = 1.0 / 3.0 + 1.0 / 1.0
    assert(r.getAs[Long]("n_pairs") === 11L)
    assert(math.abs(r.getAs[Double]("chi2") - chi2) < 1e-3)
    assert(r.getAs[Long]("dof") === 3L)
  }

  test("q372 Jonckheere: perfectly ordered groups hit the maximum JT " +
      "and a positive z") {
    // alphabetical order click < error < view; values strictly
    // increasing across groups, no ties: JT = sum n_i*n_j = 27
    val rows = Seq(("click", 1.0), ("click", 2.0), ("click", 3.0),
      ("error", 4.0), ("error", 5.0), ("error", 6.0),
      ("view", 7.0), ("view", 8.0), ("view", 9.0))
    val ev = rows.zipWithIndex.map { case ((g, v), i) =>
      (day(i), i.toLong + 1, g, v) }
      .toDF("ts", "user_id", "event_type", "value")
    val dir = staged("jt")("events" -> ev)
    val r = SparkEntry.queries("q372_jonckheere")(spark, dir).collect()(0)
    // E = (81 - 27)/4 = 13.5; JT = 27 -> ratio 2.0
    assert(r.getAs[Long]("n_obs") === 9L)
    assert(r.getAs[Long]("k_groups") === 3L)
    assert(r.getAs[Double]("jt_over_null") === 2.0)
    // no-ties variance: [N(N-1)(2N+5) - sum n(n-1)(2n+5)]/72 = (1656-198)/72
    val v = (9.0 * 8 * 23 - 3 * (3.0 * 2 * 11)) / 72.0
    assert(math.abs(r.getAs[Double]("z") - (27.0 - 13.5) / math.sqrt(v))
      < 1e-3)
  }

  test("q373 Cliff's delta matches the direct pairwise count") {
    val users = (1L to 10L)
    val arms = armOf(users)
    val (aU, bU) = users.partition(arms)
    assume(aU.size >= 3 && bU.size >= 3)
    val aVals = Seq(5.0, 6.0, 7.0, 8.0, 9.0)
    val bVals = Seq(1.0, 2.0, 3.0, 6.0, 4.0)
    val rows = aU.zip(aVals).map(identity) ++ bU.zip(bVals).map(identity)
    val ev = rows.zipWithIndex.map { case ((u, v), i) =>
      (day(i), u, "click", v) }
      .toDF("ts", "user_id", "event_type", "value")
    val dir = staged("cliffs")("events" -> ev)
    val r = SparkEntry.queries("q373_cliffs_delta")(spark, dir)
      .collect()(0)
    val a = rows.filter(p => arms(p._1)).map(_._2)
    val b = rows.filterNot(p => arms(p._1)).map(_._2)
    val gt = (for (x <- a; y <- b) yield if (x > y) 1.0
      else if (x < y) -1.0 else 0.0).sum
    val delta = gt / (a.size * b.size)
    assert(math.abs(r.getAs[Double]("cliffs_delta") - delta) < 1e-4)
  }

  test("q374 sign test counts week-over-week ups and downs") {
    // 3 complete weeks with strictly rising weekly totals -> 2 ups
    val orders = (0 until 21).map { t =>
      (t.toLong + 1, 1L, "O", 10.0 + t, day(t), "5-LOW")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val dir = staged("sign")("orders" -> orders)
    val r = SparkEntry.queries("q374_sign_test")(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_weeks") === 2L)
    assert(r.getAs[Long]("n_pos") === 2L)
    assert(r.getAs[Long]("n_neg") === 0L)
    assert(math.abs(r.getAs[Double]("z") - 2.0 / math.sqrt(2.0)) < 1e-3)
  }

  test("q375 median test: groups straddling the global median give " +
      "the textbook chi2") {
    // click all below/at median, view all above: N=8, median = 4th
    // smallest-ranked value
    val rows = Seq(("click", 1.0), ("click", 2.0), ("click", 3.0),
      ("click", 4.0), ("view", 5.0), ("view", 6.0), ("view", 7.0),
      ("view", 8.0))
    val ev = rows.zipWithIndex.map { case ((g, v), i) =>
      (day(i), i.toLong + 1, g, v) }
      .toDF("ts", "user_id", "event_type", "value")
    val dir = staged("median")("events" -> ev)
    val r = SparkEntry.queries("q375_median_test")(spark, dir).collect()(0)
    // (N+1)//2 = 4 -> median = 4.0; above: click 0/4, view 4/4; A=4
    // e = 2 per cell -> chi2 = 4*(0-2)^2/2 = 8
    assert(r.getAs[Long]("n_obs") === 8L)
    assert(r.getAs[Double]("global_median") === 4.0)
    assert(r.getAs[Double]("chi2") === 8.0)
    assert(r.getAs[Long]("dof") === 1L)
  }

  test("q376 cross-lingual dup: an identical doc pair in two " +
      "languages surfaces as a cross-lingual pair") {
    val longDoc = Seq.tabulate(30)(i => s"tok$i").mkString(" ")
    val other = Seq.tabulate(30)(i => s"oth$i").mkString(" ")
    val dir = staged("xlingual")("documents" -> docsDf(Seq(
      (2L, longDoc, "en", "s1"), (3L, longDoc, "fr", "s1"),
      (4L, other, "en", "s2"), (5L, other, "en", "s2"))))
    val out = SparkEntry.queries("q376_cross_lingual_dup")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_pairs"), r.getAs[Boolean]("cross_lingual")))
      .toMap
    assert(out(("en", "fr")) === ((1L, true)))
    assert(out(("en", "en")) === ((1L, false)))
  }

  test("q377 dup selection bias matches the direct point-biserial " +
      "computation") {
    // dups short (5 tokens), uniques long (20): r_pb < 0
    val short5 = "a b c d e"
    val long20 = Seq.tabulate(20)(i => s"w$i").mkString(" ")
    val long20b = Seq.tabulate(20)(i => s"v$i").mkString(" ")
    val dir = staged("dupbias")("documents" -> docsDf(Seq(
      (2L, short5, "en", "s"), (3L, short5, "en", "s"),
      (4L, long20, "en", "s"), (5L, long20b, "en", "s"))))
    val r = SparkEntry.queries("q377_dup_selection_bias")(spark, dir)
      .collect()(0)
    val toks = Seq(5.0, 5.0, 20.0, 20.0)
    val n = 4; val n1 = 2; val n0 = 2
    val m1 = 5.0; val m0 = 20.0
    val mean = toks.sum / n
    val sd = math.sqrt(toks.map(x => (x - mean) * (x - mean)).sum / n)
    val rpb = (m1 - m0) / sd * math.sqrt(n1.toDouble * n0) / n
    assert(r.getAs[Long]("n_dup") === 2L)
    assert(r.getAs[Double]("mean_tokens_dup") === 5.0)
    assert(r.getAs[Double]("mean_tokens_unique") === 20.0)
    assert(math.abs(r.getAs[Double]("r_pb") - rpb) < 1e-5)
  }

  test("q378 n-gram entropy ladder matches direct plug-in entropy") {
    val dir = staged("entropy")("documents" -> docsDf(Seq(
      (2L, "a b a b a", "en", "s"), (3L, "b a b", "en", "s"))))
    val r = SparkEntry.queries("q378_ngram_entropy")(spark, dir)
      .collect()(0)
    def h(xs: Seq[String]): Double = {
      val n = xs.length.toDouble
      xs.groupBy(identity).values
        .map(g => g.length / n * (math.log(n / g.length) / math.log(2)))
        .map(t => math.floor(t * 1e9 + 0.5) / 1e9).sum
    }
    val d1 = Seq("a", "b", "a", "b", "a", "b", "a", "b")
    val big = Seq("a b", "b a", "a b", "b a") ++ Seq("b a", "a b")
    val tri = Seq("a b a", "b a b", "a b a") ++ Seq("b a b")
    val h1 = h(d1); val h2 = h(big); val h3 = h(tri)
    assert(math.abs(r.getAs[Double]("h_unigram") - h1) < 1e-5)
    assert(math.abs(r.getAs[Double]("h_cond_1") - (h2 - h1)) < 1e-5)
    assert(math.abs(r.getAs[Double]("h_cond_2") - (h3 - h2)) < 1e-5)
  }

  test("q379 pipeline order bias matches a direct recomputation " +
      "with the engine's own sample hash") {
    val texts = Seq(
      (2L, "dup text here now", "s"), (3L, "dup  TEXT here now", "s"),
      (4L, "unique one body", "s"), (5L, "another unique body", "s"),
      (6L, "dup text here now", "s"))
    val dir = staged("orderbias")("documents" -> docsDf(
      texts.map { case (id, t, s0) => (id, t, "en", s0) }))
    val r = SparkEntry.queries("q379_pipeline_order_bias")(spark, dir)
      .collect()(0)
    // recompute with the engine's own hash + fp/rep rules
    import org.apache.spark.sql.functions.col
    val sampMap = texts.map(_._1).toDF("doc_id")
      .withColumn("b",
        graft.operators.Sampling.hashBucket(col("doc_id"), "s10", 10))
      .collect().map(x => x.getLong(0) -> (x.getLong(1) == 0L)).toMap
    def norm(t: String) = t.trim.toLowerCase.replaceAll("\\s+", " ")
    val byFp = texts.groupBy(x => norm(x._2))
    val reps = byFp.values.map(_.map(_._1).min).toSet // equal q -> min id
    val dedupFirst = texts.count(x => reps(x._1) && sampMap(x._1))
    val sampleFirst = texts.filter(x => sampMap(x._1))
      .map(x => norm(x._2)).distinct.size
    assert(r.getAs[Long]("n_docs") === 5L)
    assert(r.getAs[Long]("kept_dedup_then_sample") === dedupFirst.toLong)
    assert(r.getAs[Long]("kept_sample_then_dedup") === sampleFirst.toLong)
    assert(r.getAs[Long]("order_bias") ===
      (sampleFirst - dedupFirst).toLong)
  }

  test("q380 lake IVF round-trip: 20 queries x dense top-5 ranks") {
    val out = SparkEntry.queries("q380_ann_lake_roundtrip")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.length === 100)
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.size === 20)
    // per query: ranks exactly 1..5, cosines non-increasing in rank
    byQ.values.foreach { rs =>
      val sorted = rs.sortBy(_.getInt(3))
      assert(sorted.map(_.getInt(3)).toSeq === (1 to 5))
      val cos = sorted.map(_.getDouble(2))
      cos.sliding(2).foreach(p => assert(p(0) >= p(1)))
    }
  }

  test("q381 LSH recall: one row per query, n_hits in [0,5], " +
      "recall = n_hits/5, and the index does real work") {
    val out = SparkEntry.queries("q381_lsh_recall")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.length === 50)
    out.foreach { r =>
      val h = r.getInt(1); val rec = r.getDouble(2)
      assert(h >= 0 && h <= 5)
      assert(math.abs(rec - h / 5.0) < 1e-9)
    }
    assert(out.map(_.getInt(1)).sum > 0, "zero total recall: LSH broken")
  }

  test("q382 quantile-sketch rollup matches a direct Scala bottom-k " +
      "reference (merge law exercised: one group exceeds k)") {
    // fixture: 3 leaf groups — AF has 150 rows (> k = 64, so its
    // sketch truly truncates and the flag/global merges exercise the
    // law), NF has 20, RO has 5. prices = distinct cents so order
    // statistics are unambiguous.
    val rows = (
      (1 to 150).map(i => ("A", "F", i.toLong, 1, i.toLong, i.toLong,
        100.0 + i)) ++
      (1 to 20).map(i => ("N", "F", 1000L + i, 1, i.toLong, i.toLong,
        50.0 + 3 * i)) ++
      (1 to 5).map(i => ("R", "O", 2000L + i, 1, i.toLong, i.toLong,
        9.0 + i))
    ).toDF("l_returnflag", "l_linestatus", "l_orderkey",
      "l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice")
      // the shared leaf-sketch kernel also reads the weight column;
      // q382's unweighted estimates ignore it
      .withColumn("l_quantity", org.apache.spark.sql.functions.lit(1.0))
    val dir = staged("qsk")("lineitem" -> rows)
    val out = SparkEntry.queries("q382_quantile_sketch_rollup")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap

    // independent reference: java md5, first 15 hex chars, bottom-k
    def h60(key: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"qsk$key".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    case class R(flag: String, status: String, h: Long, vc: Long)
    val all = rows.collect().map { r =>
      val key = s"${r.getLong(2)}_${r.getInt(3)}_${r.getLong(4)}" +
        s"_${r.getLong(5)}"
      R(r.getString(0), r.getString(1), h60(key),
        math.floor(r.getDouble(6) * 100 + 0.5).toLong)
    }.toSeq
    def sketch(rs: Seq[R]): Seq[R] = rs.sortBy(_.h).take(64)
    def est(rs: Seq[R]): (Long, Long, Long) = {
      val vs = rs.map(_.vc).sorted
      val n = vs.length
      (n.toLong, vs(((n + 1) / 2 - 1).toInt),
        vs(((9 * n + 9) / 10 - 1).toInt))
    }
    val leafs = all.groupBy(r => (r.flag, r.status))
    leafs.foreach { case ((f, st), rs) =>
      val (ns, p50, p90) = est(sketch(rs))
      assert(out(("1_leaf", f, st)) === ((rs.size.toLong, ns, p50, p90)))
    }
    // flag + global levels: direct bottom-k of the FULL row set — the
    // engine computed them by merging leaf sketches, so equality IS
    // the merge law
    all.groupBy(_.flag).foreach { case (f, rs) =>
      val (ns, p50, p90) = est(sketch(rs))
      assert(out(("2_flag", f, "ALL")) === ((rs.size.toLong, ns, p50, p90)))
    }
    val (nsA, p50A, p90A) = est(sketch(all))
    assert(out(("3_all", "ALL", "ALL")) ===
      ((all.size.toLong, nsA, p50A, p90A)))
    assert(out.size === leafs.size + all.groupBy(_.flag).size + 1)
  }

  test("q383 WEIGHTED sketch rollup matches a direct Scala bottom-k " +
      "weighted reference (merge law + q254 rank rule)") {
    // same shape as the q382 fixture (AF exceeds k = 64 so its sketch
    // truly truncates) plus a skewed weight column: weight i % 7 + 1
    // makes cumulative-weight cuts land inside runs, exercising the
    // q·cw ≥ p·W rule away from the unweighted special case.
    val rows = (
      (1 to 150).map(i => ("A", "F", i.toLong, 1, i.toLong, i.toLong,
        100.0 + i, (i % 7 + 1).toDouble)) ++
      (1 to 20).map(i => ("N", "F", 1000L + i, 1, i.toLong, i.toLong,
        50.0 + 3 * i, (i % 5 + 1).toDouble)) ++
      (1 to 5).map(i => ("R", "O", 2000L + i, 1, i.toLong, i.toLong,
        9.0 + i, 2.0))
    ).toDF("l_returnflag", "l_linestatus", "l_orderkey",
      "l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice",
      "l_quantity")
    val dir = staged("wqsk")("lineitem" -> rows)
    val out = SparkEntry.queries("q383_weighted_sketch_rollup")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
          r.getLong(7))).toMap

    def h60(key: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      // 'qsk' — q383 shares q382's persisted leaf sketch (hash-only
      // selection makes the stored sample estimator-agnostic)
      val hex = md.digest(s"qsk$key".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    case class R(flag: String, status: String, h: Long, vc: Long, wq: Long)
    val all = rows.collect().map { r =>
      val key = s"${r.getLong(2)}_${r.getInt(3)}_${r.getLong(4)}" +
        s"_${r.getLong(5)}"
      R(r.getString(0), r.getString(1), h60(key),
        math.floor(r.getDouble(6) * 100 + 0.5).toLong,
        r.getDouble(7).toLong)
    }.toSeq
    def sketch(rs: Seq[R]): Seq[R] = rs.sortBy(_.h).take(64)
    // weighted estimate: cw over (vc, h) order; cut at q·cw ≥ p·W
    def est(rs: Seq[R]): (Long, Long, Long, Long) = {
      val sorted = rs.sortBy(r => (r.vc, r.h))
      val sw = sorted.map(_.wq).sum
      val cum = sorted.scanLeft(0L)(_ + _.wq).tail
      def cut(p: Long, q: Long): Long =
        sorted(cum.indexWhere(c => q * c >= p * sw)).vc
      (rs.size.toLong, sw, cut(1, 2), cut(9, 10))
    }
    val leafs = all.groupBy(r => (r.flag, r.status))
    leafs.foreach { case ((f, st), rs) =>
      val (ns, sw, p50, p90) = est(sketch(rs))
      assert(out(("1_leaf", f, st)) ===
        ((rs.map(_.wq).sum, ns, sw, p50, p90)))
    }
    // flag + global: direct bottom-k of the FULL row set — equality
    // with the engine's leaf-merge IS the weighted merge law
    all.groupBy(_.flag).foreach { case (f, rs) =>
      val (ns, sw, p50, p90) = est(sketch(rs))
      assert(out(("2_flag", f, "ALL")) ===
        ((rs.map(_.wq).sum, ns, sw, p50, p90)))
    }
    val (nsA, swA, p50A, p90A) = est(sketch(all))
    assert(out(("3_all", "ALL", "ALL")) ===
      ((all.map(_.wq).sum, nsA, swA, p50A, p90A)))
  }
}
