package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

class ExpressionSpec extends SparkSpec {
  import spark.implicits._

  test("graft_dot matches the interpreted lambda formulation bit-for-bit") {
    val df = Seq(
      (Seq(1.5f, -2.25f, 3.0f), Seq(0.5f, 4.0f, -1.25f)),
      (Seq(0.1f, 0.2f, 0.3f), Seq(-0.3f, 0.0f, 9.5f))).toDF("a", "b")
    val r = df.select(
      VectorFunctions.dot(col("a"), col("b")).as("native"),
      aggregate(
        zip_with(col("a"), col("b"),
          (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x).as("lambda")).collect()
    r.foreach(row => assert(row.getDouble(0) == row.getDouble(1)))
  }

  test("graft_dot handles mixed float/double arrays (LSH planes)") {
    val df = Seq(Tuple1(Seq(1.0f, 2.0f, 3.0f))).toDF("v")
    val r = df.select(VectorFunctions.dot(col("v"),
      typedLit(Seq(2.0, -1.0, 0.5))).as("d")).head()
    assert(r.getDouble(0) == 1.0 * 2.0 - 2.0 + 3.0 * 0.5)
  }

  test("two non-nullable graft_dot instances coexist in one projection") {
    // non-nullable literal children make nullSafeCodeGen inline the
    // generated block UNBRACED — with fixed local names two instances
    // would collide in Janino and silently fall back to interpretation
    val df = spark.range(1)
    val r = df.select(
      VectorFunctions.dot(typedLit(Seq(1.0f, 2.0f)),
        typedLit(Seq(3.0, 4.0))).as("d1"),
      VectorFunctions.dot(typedLit(Seq(0.5f, 0.5f)),
        typedLit(Seq(2.0, 2.0))).as("d2")).head()
    assert(r.getDouble(0) == 11.0 && r.getDouble(1) == 2.0)
  }

  test("graft_dot rejects non-array inputs at analysis time") {
    val df = Seq((1, 2)).toDF("a", "b")
    intercept[Exception] {
      df.select(VectorFunctions.dot(col("a"), col("b"))).collect()
    }
  }

  test("graft_dot errors on dimension mismatch instead of truncating") {
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(VectorFunctions.dot(col("a"), col("b"))).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        String.valueOf(x.getMessage) +: msgs(x.getCause))
    assert(msgs(e).exists(_.contains("length mismatch")))
  }

  test("graft_dot yields null on a null ELEMENT, like the lambda form") {
    val df = Seq(
      (Seq[java.lang.Float](1.0f, null, 3.0f), Seq[java.lang.Float](1.0f, 2.0f, 3.0f)),
      (Seq[java.lang.Float](1.0f, 2.0f, 3.0f), Seq[java.lang.Float](1.0f, 2.0f, 3.0f)))
      .toDF("a", "b")
    val rows = df.select(
      VectorFunctions.dot(col("a"), col("b")).as("native"),
      aggregate(
        zip_with(col("a"), col("b"),
          (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x).as("lambda")).collect()
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1))
    assert(rows(1).getDouble(0) == 14.0 && rows(1).getDouble(1) == 14.0)
  }

  test("graft_rolling_hash folds CODE POINTS (non-ASCII and supplementary)") {
    import graft.functions.TextFunctions
    val texts = Seq("hello", "héllo wörld", "中文 文本", "emoji 😀 end")
    val out = texts.toDF("t")
      .select(TextFunctions.rollingHash(col("t")).as("h"))
      .collect().map(_.getLong(0))
    def ref(s: String): Long = {
      var acc = 0L
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        acc = (acc * 31L + cp) % 2147483647L
        i += Character.charCount(cp)
      }
      acc
    }
    texts.zip(out).foreach { case (t, h) => assert(h == ref(t), t) }
  }

  test("graft_simhash60 equals the explode+aggregate formulation") {
    import graft.functions.TextFunctions
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta beta beta gamma"), // duplicate tokens collapse
      (3L, "solo"),
      (4L, "中文 tokens mixed héllo")).toDF("id", "text")
    val native = docs.select(col("id"),
        TextFunctions.simhash60(TextFunctions.words(col("text"))).as("sim"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: explode distinct tokens -> token60 -> majority per bit
    val agg = docs
      .select(col("id"), explode(array_distinct(
        TextFunctions.words(col("text")))).as("t"))
      .withColumn("h", TextFunctions.token60(col("t")))
      .groupBy("id")
      .agg(count(lit(1)).as("n"),
        (0 until 60).map(i =>
          sum(call_function("shiftright", col("h"), lit(i))
            .bitwiseAND(lit(1L))).as(s"b$i")): _*)
      .select(col("id"),
        (0 until 60).map(i =>
          when(col(s"b$i") * 2 > col("n"), lit(1L << i)).otherwise(lit(0L)))
          .reduce(_ + _).as("sim"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native == agg)
  }

  test("cleanText strips URLs, e-mails, and control chars (incl. \\x0B) as specified") {
    import graft.functions.TextFunctions
    // the shipped corpora are clean ASCII, so the oracle pass alone
    // never fires these regexes — this fixture does
    val cases = Seq(
      ("see https://example.com/x?q=1 now", "see now"),
      ("or www.site.org/page here", "or here"),
      ("mail me at a.b+c@dom-ain.co today", "mail me at today"),
      ("tab\there  and\nnewline", "tab here and newline"),
      ("ctrl\u0000char\u001fand\u007fdel", "ctrl char and del"),
      // vertical tab: the Java-vs-RE2 \s divergence case — stripped as
      // a control char BEFORE any \S+ regex can see it
      ("x http://a\u000bb y", "x b y"),
      ("a b a\u000ba", "a b a a"),
      ("   ", ""))
    val out = cases.map(_._1).toDF("t")
      .select(TextFunctions.cleanText(col("t")).as("c"))
      .collect().map(_.getString(0))
    cases.map(_._2).zip(out).foreach { case (want, got) =>
      assert(got == want, s"want '$want' got '$got'")
    }
    // repetition on cleaned text; empty array guard returns 0.0
    val rep = Seq("a b a\u000ba").toDF("t")
      .select(TextFunctions.repetitionRatio(
        TextFunctions.words(TextFunctions.cleanText(col("t")))).as("r"),
        TextFunctions.repetitionRatio(
          filter(TextFunctions.words(col("t")), _ => lit(false))).as("z"))
      .head()
    assert(rep.getDouble(0) == 0.5) // a b a a -> 2 distinct / 4
    assert(rep.getDouble(1) == 0.0) // empty array -> 0, not null
  }

  test("graft_word_shingles matches the lambda formulation as a multiset") {
    import graft.functions.TextFunctions
    val df = Seq("a b c d e", "t t t t", "x y", "", "  pad  ded  ").toDF("t")
    val rows = df.select(
      TextFunctions.wordShingleArray(col("t"), 3).as("native"),
      TextFunctions.wordShingles(TextFunctions.words(col("t")), 3)
        .as("lambdaSet")).collect()
    rows.foreach { r =>
      val native = r.getSeq[String](0)
      val lambdaSet = r.getSeq[String](1)
      // lambda form is DISTINCT; native preserves the multiset. Sets
      // must agree, and native never drops a position
      assert(native.toSet == lambdaSet.toSet)
      assert(native.length >= lambdaSet.length)
    }
    // positional duplicates preserved: "t t t t" has 2 identical grams
    assert(rows(1).getSeq[String](0).length == 2)
  }

  test("graft_quant_stats equals the lambda formulation and guards zeros") {
    import graft.functions.VectorFunctions
    val df = Seq(
        (1L, Array(0.9f, -0.5f, 0.127f, -0.001f, 0.0f)),
        (2L, Array(0.0f, 0.0f)),
        (3L, Array[Float]()))
      .toDF("id", "e")
    val m = array_max(transform(col("e"), x => abs(x.cast("double"))))
    val sc = m / lit(127.0)
    val lambdaMse = aggregate(col("e"), lit(0.0), (acc, x) =>
      acc + pow(x.cast("double") - floor(x.cast("double") / sc + 0.5) * sc,
        lit(2.0))) / size(col("e")).cast("double")
    // non-degenerate vector: native == lambda bit-for-bit (the lambda
    // form ANSI-faults on the degenerate rows, which is exactly why the
    // native expression guards them internally)
    val r1 = df.filter(col("id") === 1L).select(
        VectorFunctions.quantStats(col("e")).as("q"), sc.as("ls"),
        lambdaMse.as("lm")).head()
    assert(r1.getStruct(0).getDouble(0) == r1.getDouble(1))
    assert(r1.getStruct(0).getDouble(1) == r1.getDouble(2))
    // all-zero and empty vectors quantize to (0, 0), no NaN and no fault
    val deg = df.filter(col("id") > 1L)
      .select(col("id"), VectorFunctions.quantStats(col("e")).as("q"))
      .collect().map(r => r.getLong(0) ->
        ((r.getStruct(1).getDouble(0), r.getStruct(1).getDouble(1)))).toMap
    assert(deg(2L) == ((0.0, 0.0)))
    assert(deg(3L) == ((0.0, 0.0)))
  }

  test("graft_quant_stats nulls on null elements, works on double arrays") {
    import graft.functions.VectorFunctions
    val withNull = Seq((1L, Seq[java.lang.Double](0.5, null, 1.0)))
      .toDF("id", "e")
    assert(withNull.select(VectorFunctions.quantStats(col("e"))).head()
      .isNullAt(0))
    val dbl = Seq((1L, Seq(254.0, -128.0))).toDF("id", "e")
    val q = dbl.select(VectorFunctions.quantStats(col("e")).as("q")).head()
      .getStruct(0)
    assert(q.getDouble(0) == 2.0) // scale = 254/127
    assert(q.getDouble(1) == 0.0) // 254 -> code 127, -128 -> code -64
  }

  test("graft_jaro_winkler matches the published reference values") {
    import graft.functions.TextFunctions.jaroWinkler
    val df = Seq(
      ("MARTHA", "MARHTA"), ("DWAYNE", "DUANE"), ("DIXON", "DICKSONX"),
      ("abcd", "abcd"), ("ab", "ba"), ("x", "y"))
      .toDF("a", "b")
    val got = df.select(jaroWinkler(col("a"), col("b"))).collect()
      .map(_.getDouble(0))
    // Winkler's own worked examples + degenerate cases
    assert(math.abs(got(0) - 0.9611111111) < 1e-9)
    assert(math.abs(got(1) - 0.84) < 1e-9)
    assert(math.abs(got(2) - 0.8133333333) < 1e-9)
    assert(got(3) == 1.0)
    assert(got(4) == 0.0) // window 0: transposed bigram never matches
    assert(got(5) == 0.0)
  }

  test("graft_jaro_winkler duckdb conventions: empties score 0, " +
      "boost only above jaro 0.7") {
    import graft.functions.expressions.JaroWinklerImpl.compute
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    assert(compute(u(""), u("")) == 0.0)       // NOT the classic 1.0
    assert(compute(u("a"), u("")) == 0.0)
    // jaro("prefab","prezzz") = 2/3 < 0.7 → the 3-char prefix must NOT boost
    assert(math.abs(compute(u("prefab"), u("prezzz")) - 2.0 / 3) < 1e-9)
  }

  test("graft_jaro_winkler: null propagation") {
    import graft.functions.TextFunctions.jaroWinkler
    val df = Seq((Option("abc"), Option.empty[String])).toDF("a", "b")
    assert(df.select(jaroWinkler(col("a"), col("b"))).head().isNullAt(0))
  }

  test("native expressions evaluate on a fresh session with no registration step") {
    import graft.functions.TextFunctions.jaroWinkler
    import graft.operators.TopK
    // a session the engine never touched: its function registry holds
    // nothing of graft's, so only a Column that carries the Catalyst
    // node itself can resolve here
    val fresh = spark.newSession()
    val strs = fresh.createDataFrame(Seq(("MARTHA", "MARHTA")))
      .toDF("a", "b")
    val jw = strs.select(jaroWinkler(col("a"), col("b")))
    assert(jw.columns.toSeq == Seq("graft_jaro_winkler(a, b)"))
    assert(math.abs(jw.head().getDouble(0) - 0.9611111111) < 1e-9)
    val vecs = fresh.createDataFrame(Seq((Seq(1.0f, 2.0f), Seq(3.0f, 4.0f))))
      .toDF("a", "b")
    assert(vecs.select(VectorFunctions.dot(col("a"), col("b"))).head()
      .getDouble(0) == 11.0)
    val scored = fresh.createDataFrame(Seq(
        ("g", 1L, 0.5), ("g", 2L, 0.9), ("g", 3L, 0.7), ("h", 4L, 0.1)))
      .toDF("key", "id", "score")
    val top = TopK.topKPerGroup(scored, "key", "id", "score", 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(3))).toSet
    assert(top == Set(("g", 2L, 1), ("g", 3L, 2), ("h", 4L, 1)))
  }

  test("graft_nfc composes decomposed sequences, keeps NFC text intact") {
    import graft.functions.TextFunctions
    val df = Seq(
      (1L, "cafe\u0301"),  // e + combining acute -> precomposed
      (2L, "caf\u00e9"),   // already NFC
      (3L, "plain ascii"),
      (4L, null.asInstanceOf[String])
    ).toDF("id", "t")
    val out = df.select(col("id"), TextFunctions.nfc(col("t")).as("n"),
        length(TextFunctions.nfc(col("t"))).as("len"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(out(1L) == "caf\u00e9") // composed to one code point
    assert(out(2L) == "caf\u00e9")
    assert(out(3L) == "plain ascii")
    assert(out(4L) == null)
    val naive = Seq("nai\u0308ve").toDF("t")
      .select(length(TextFunctions.nfc(col("t")))).head().getInt(0)
    assert(naive == 5) // i + U+0308 composed into ï
  }
}
