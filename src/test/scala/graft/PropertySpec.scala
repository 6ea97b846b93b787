package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.functions.TextFunctions
import graft.operators.Dedup

/** ScalaCheck invariants for the text/dedup surface (SURVEY.md §5.3). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val wordGen = Gen.nonEmptyListOf(Gen.alphaLowerChar)
    .map(_.mkString).suchThat(_.nonEmpty)
  private val textGen = Gen.chooseNum(1, 30)
    .flatMap(n => Gen.listOfN(n, wordGen)).map(_.mkString(" "))

  private def check(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(30), p)
    assert(res.passed, res.status.toString)
  }

  test("contentHash is invariant under case and whitespace noise") {
    check(Prop.forAll(textGen) { t =>
      val noisy = "  " + t.toUpperCase.replace(" ", "   ") + " "
      val df = Seq((t, noisy)).toDF("a", "b")
        .select(Dedup.contentHash(col("a")).as("ha"),
                Dedup.contentHash(col("b")).as("hb")).head()
      df.getString(0) == df.getString(1)
    })
  }

  test("jaccard is symmetric and self-similarity is 1") {
    check(Prop.forAll(textGen, textGen) { (t1, t2) =>
      val df = Seq((t1, t2)).toDF("a", "b")
        .select(
          TextFunctions.jaccard(
            TextFunctions.wordShingles(TextFunctions.words(col("a")), 3),
            TextFunctions.wordShingles(TextFunctions.words(col("b")), 3))
            .as("ab"),
          TextFunctions.jaccard(
            TextFunctions.wordShingles(TextFunctions.words(col("b")), 3),
            TextFunctions.wordShingles(TextFunctions.words(col("a")), 3))
            .as("ba"),
          TextFunctions.jaccard(
            TextFunctions.wordShingles(TextFunctions.words(col("a")), 3),
            TextFunctions.wordShingles(TextFunctions.words(col("a")), 3))
            .as("self")).head()
      df.getDouble(0) == df.getDouble(1) && df.getDouble(2) == 1.0
    })
  }

  test("rollingHash equals a reference Scala implementation") {
    check(Prop.forAll(textGen) { t =>
      val expected = t.foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % 2147483647L)
      val got = Seq(Tuple1(t)).toDF("text")
        .select(TextFunctions.rollingHash(col("text"))).head().getLong(0)
      got == expected
    })
  }

  test("native shingle multiset: position count and set-parity with the lambda form") {
    check(Prop.forAll(textGen) { t =>
      val r = Seq(Tuple1(t)).toDF("text")
        .select(
          TextFunctions.wordShingleArray(col("text"), 3).as("native"),
          TextFunctions.wordShingles(TextFunctions.words(col("text")), 3)
            .as("lambdaSet"),
          size(TextFunctions.words(col("text"))).as("nw")).head()
      val native = r.getSeq[String](0)
      val lambdaSet = r.getSeq[String](1)
      val nw = r.getInt(2)
      val expectedCount = if (nw >= 3) nw - 2 else 1
      native.length == expectedCount && native.toSet == lambdaSet.toSet
    })
  }

  test("native simhash: deterministic, order- and duplication-invariant") {
    check(Prop.forAll(textGen) { t =>
      val words = t.split(" ").toSeq
      val shuffled = scala.util.Random.shuffle(words).mkString(" ")
      val doubled = t + " " + t // same DISTINCT token set
      val r = Seq((t, shuffled, doubled)).toDF("a", "b", "c")
        .select(
          TextFunctions.simhash60(TextFunctions.words(col("a"))).as("sa"),
          TextFunctions.simhash60(TextFunctions.words(col("b"))).as("sb"),
          TextFunctions.simhash60(TextFunctions.words(col("c"))).as("sc"))
        .head()
      r.getLong(0) == r.getLong(1) && r.getLong(0) == r.getLong(2)
    })
  }

  test("hash split is deterministic, disjoint-exhaustive, and near the target fractions") {
    import graft.operators.Sampling
    val ids = spark.range(0, 5000).toDF("id")
    val s1 = Sampling.split(ids, "id", "saltA", 80, 10)
    val s2 = Sampling.split(ids, "id", "saltA", 80, 10)
    // pure function of (salt, id): identical across invocations
    assert(s1.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      == s2.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq)
    // disjoint + exhaustive, and each fraction near its target
    val counts = s1.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 5000)
    assert(math.abs(counts("train") - 4000.0) / 4000.0 < 0.05)
    assert(math.abs(counts("val") - 500.0) / 500.0 < 0.2)
    assert(math.abs(counts("test") - 500.0) / 500.0 < 0.2)
    // a different salt draws a (mostly) independent assignment
    val s3 = Sampling.split(ids, "id", "saltB", 80, 10)
    val agree = s1.as("a").join(s3.as("b"), col("a.id") === col("b.id"))
      .filter(col("a.split") === col("b.split")).count()
    assert(agree < 4000, s"salts not independent: $agree/5000 agree")
    // hashSample(pct) keeps the bucket-range subset of the same hash
    val kept = Sampling.hashSample(ids, "id", "saltA", 20).count()
    assert(math.abs(kept - 1000.0) / 1000.0 < 0.15)
  }

  test("token60 kernel equals the SQL conv(substr(md5,1,15)) formulation") {
    check(Prop.forAll(wordGen) { t =>
      val sql = Seq(Tuple1(t)).toDF("t")
        .select(TextFunctions.token60(col("t"))).head().getLong(0)
      val native = graft.functions.expressions.SimHashOps
        .token60(t.getBytes("UTF-8"))
      sql == native
    })
  }

  test("packing: per-stream offsets tile the token stream exactly") {
    check(Prop.forAll(Gen.chooseNum(1L, 64L), Gen.chooseNum(1, 6)) {
      (budget, streams) =>
        val df = (1L to 120L).map(i => (i, (i % 9 + 1).toInt))
          .toDF("id", "tok")
        val rows = graft.operators.Packing
          .packOffsets(df, "id", col("tok"), budget, streams)
          .collect()
          .map(r => (r.getInt(2), r.getLong(0), r.getLong(1), r.getLong(3)))
        rows.groupBy(_._1).forall { case (_, g) =>
          val sorted = g.sortBy(_._2)
          // offsets are the exclusive prefix sums of tokens in id order
          sorted.map(_._3).scanLeft(0L)(_ + _).init
            .sameElements(sorted.map(_._4))
        }
    })
  }

  test("decontamination is monotone in the benchmark set") {
    // growing the benchmark can only grow each doc's contamination
    check(Prop.forAll(Gen.chooseNum(2, 10)) { n =>
      val corpus = (1L to 8L).map(i =>
        (i, (0 until 12).map(j => s"w${(i + j) % 15}").mkString(" ")))
        .toDF("doc_id", "text")
      def contam(benchIds: Seq[Long]) = {
        val bench = (1L to 8L).filter(benchIds.contains).map(i =>
          (i + 100L, (0 until 12).map(j => s"w${(i + j) % 15}").mkString(" ")))
          .toDF("doc_id", "text")
        graft.operators.Decontam.overlap(corpus, bench, "doc_id", "text", 3)
          .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      }
      val small = contam(Seq(1L))
      val large = contam(Seq(1L, n.toLong.min(8L)))
      small.forall { case (id, c) => large.getOrElse(id, 0L) >= c }
    })
  }

  test("aucExact equals brute-force pair counting with tie credit") {
    val rowGen = for {
      u <- Gen.chooseNum(-20L, 20L)
      y <- Gen.oneOf(true, false)
    } yield (u, y)
    val dataGen = Gen.chooseNum(2, 60)
      .flatMap(n => Gen.listOfN(n, rowGen))
      .suchThat(r => r.exists(_._2) && r.exists(!_._2))
    check(Prop.forAll(dataGen) { rows =>
      val pos = rows.filter(_._2).map(_._1)
      val neg = rows.filterNot(_._2).map(_._1)
      val wins = (for (p <- pos; q <- neg) yield
        if (p > q) 1.0 else if (p == q) 0.5 else 0.0).sum
      val expect = graft.functions.Rounding
        .roundTo(wins / (pos.size.toDouble * neg.size), 9)
      val got = graft.operators.MlEval
        .aucExact(rows.toDF("u", "y"), "u", "y", buckets = 4)
        .head().getDouble(2)
      got == expect
    })
  }
}
