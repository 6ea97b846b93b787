package graft

import java.nio.file.Files

import graft.engine.Ols
import graft.operators.Exec
import graft.sources.PairSource

class SourcesSpec extends SparkSpec {

  test("PairSource reads x-y pairs and drops malformed lines") {
    val dir = Files.createTempDirectory("pairs")
    val f = dir.resolve("data.txt")
    Files.writeString(f,
      "1.0 3.0\n2.0 5.0\n3.0 7.0\nnot numbers\n4.0 9.0\n")
    val df = PairSource.readPairs(spark, f.toString)
    assert(df.count() == 4) // malformed line dropped, all valid rows kept
    val w = Ols.fitLinearExact(df, "x", "y") // y = 2x + 1
    assert(math.abs(w.w1 - 2.0) < 1e-9 && math.abs(w.w0 - 1.0) < 1e-9)
  }

  test("PairSource reads q65's staged directory through a file:// URI") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Exec.scratchTempDir("pairs-uri").toString
    try {
      // q65's staging: one "key region" text line for each of 25 keys,
      // written as one part file
      (0 until 25).map(k => s"$k ${k % 5}").toDF("value")
        .coalesce(1).write.mode("overwrite").text(dir)
      val agg = PairSource.readPairs(spark, s"file://$dir")
        .agg(count(lit(1)), sum("x"), avg("y")).head()
      assert((agg.getLong(0), agg.getDouble(1), agg.getDouble(2)) ==
        ((25L, 300.0, 2.0)))
    } finally Exec.deleteRecursively(dir)
  }

  test("q45 approx_count_distinct stays within 5% of exact") {
    val rows = SparkEntry.queries("q45_approx_distinct")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(2),
        s"approx fell outside 5% of exact for ${r.getString(0)}")
    }
  }

  test("partitionBy lake layout: writes hive dirs, scans prune partitions") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("lake").toString
    val docs = Seq((1L, "hello", "en"), (2L, "bonjour", "fr"),
        (3L, "hola", "es"), (4L, "world", "en"))
      .toDF("doc_id", "text", "lang")
    // the data-lake layout for 100 TB corpora: directory-partitioned
    // parquet so a per-language read never touches other languages
    docs.write.partitionBy("lang").mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir).filter(col("lang") === "en")
    assert(back.select("doc_id").collect().map(_.getLong(0)).toSet
      == Set(1L, 4L))
    // the partition filter must be applied at PLANNING time (directory
    // pruning), not as a data filter after scanning everything
    val scan = back.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scan.isDefined)
    assert(scan.get.partitionFilters.nonEmpty,
      "lang filter did not reach the partition pruning layer")
    // only the lang=en directory's files survive pruning
    val files = scan.get.relation.location.listFiles(
      scan.get.partitionFilters, Nil).flatMap(_.files)
    assert(files.nonEmpty)
    assert(files.forall(_.getPath.toString.contains("lang=en")))
  }

  test("ORC source: filter pushdown and column pruning reach the scan") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("orc").toString
    Seq((1L, "a", 10.0), (2L, "b", -5.0), (3L, "c", 7.5))
      .toDF("k", "name", "bal")
      .write.mode("overwrite").orc(dir)
    val q = spark.read.orc(dir)
      .filter(col("bal") > 0).select("k", "bal")
    assert(q.collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    val scan = q.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scan.isDefined, "expected a file scan for the ORC read")
    // the bal predicate must reach the ORC reader (row-group skipping
    // at scale), and the unused 'name' column must not be read
    assert(scan.get.metadata("PushedFilters").contains("GreaterThan(bal"),
      s"filter not pushed: ${scan.get.metadata("PushedFilters")}")
    assert(scan.get.requiredSchema.fieldNames.toSet == Set("k", "bal"),
      s"projection not pruned: ${scan.get.requiredSchema.fieldNames.toSeq}")
  }

  test("sizedForWrite bounds output files to ~rowsPerFile (small-files hygiene)") {
    import spark.implicits._
    // a skewed 37-partition layout with 10k rows must land as exactly
    // ceil(10000/2500) = 4 even files, not 37 shards
    val df = (1L to 10000L).toDF("id").repartition(37)
    val dir = java.nio.file.Files.createTempDirectory("graft_sized").toString
    graft.operators.Lake.sizedForWrite(df, rowsPerFile = 2500)
      .write.mode("overwrite").parquet(dir)
    val files = new java.io.File(dir).listFiles
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(files.length == 4, s"expected 4 files, got ${files.length}")
    // knownRows skips the count job and yields the same layout
    assert(graft.operators.Lake.sizedForWrite(df, 2500, knownRows = Some(10000L))
      .rdd.getNumPartitions == 4)
  }

  test("Avro source round-trips rows, nulls and all, one file per partition") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = true),
      StructField("score", DoubleType, nullable = true),
      StructField("flag", BooleanType, nullable = true)))
    val rows = Seq(
      org.apache.spark.sql.Row(1L, "alpha", 1.5, true),
      org.apache.spark.sql.Row(2L, null, 2.5, false),
      org.apache.spark.sql.Row(3L, "gamma", null, null),
      org.apache.spark.sql.Row(4L, "delta", -0.25, true))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), schema)
    val dir = java.nio.file.Files.createTempDirectory("graft_avro").toString
    graft.sources.AvroSource.write(df, dir)
    // one container file per input partition, all genuinely avro
    val files = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".avro")).sortBy(_.getName)
    assert(files.length == 3, s"expected 3 part files, got ${files.length}")
    files.foreach { f =>
      val magic = java.nio.file.Files.readAllBytes(f.toPath).take(4)
      assert(magic.sameElements(Array[Byte]('O', 'b', 'j', 1)),
        s"${f.getName} lacks the avro container magic")
    }
    val back = graft.sources.AvroSource.read(spark, dir, schema)
    assert(back.schema == schema)
    assert(back.collect().toSet == rows.toSet)
    // column-pruned reader schema resolves against the writer schema
    val pruned = StructType(Seq(
      StructField("name", StringType, nullable = true),
      StructField("id", LongType, nullable = false)))
    val prunedBack = graft.sources.AvroSource.read(spark, dir, pruned)
    assert(prunedBack.collect().toSet ==
      rows.map(r => org.apache.spark.sql.Row(r.get(1), r.get(0))).toSet)
    // unsupported column types are rejected eagerly, not written wrong
    intercept[IllegalArgumentException] {
      graft.sources.AvroSource.write(
        Seq((1L, Array(1.0f))).toDF("id", "emb"), dir + "_bad")
    }
  }

  test("compact merges a fragmented table without losing a row") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_compact")
      .toString + "/t"
    (1L to 5000L).map(i => (i, s"row$i")).toDF("id", "tag")
      .repartition(40).write.parquet(dir)
    val before = graft.operators.Lake.tableStats(spark, dir)
    assert(before.nFiles == 40)
    val (b, a, rows) = graft.operators.Lake.compact(spark, dir, 1000L)
    assert((b, a, rows) == (40, 5, 5000L))
    // data intact, no temp/old residue left behind
    val back = spark.read.parquet(dir)
    assert(back.count() == 5000)
    assert(back.agg(org.apache.spark.sql.functions.sum("id"))
      .head.getLong(0) == 5000L * 5001 / 2)
    val parent = new java.io.File(dir).getParentFile.listFiles.map(_.getName)
    assert(!parent.exists(_.contains("compact-")),
      s"residue: ${parent.toSeq}")
    assert(graft.operators.Lake.tableStats(spark, dir).nFiles == 5)
  }
}
