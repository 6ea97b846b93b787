package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All reads go through `spark.read.parquet` so Catalyst's vectorized
  * parquet reader, predicate pushdown and column pruning apply
  * automatically — the engine never materializes a table eagerly.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Fail once, before any query runs, naming every [[all]] table path
    * missing under `dir` (resolved through Hadoop, like [[isDirectory]]). */
  def requireAll(s: SparkSession, dir: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)
    val missing = all.map(n => s"$dir/$n.parquet").filterNot(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
    require(missing.isEmpty, s"table dir $dir lacks ${missing.mkString(", ")}")
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  /** `events.ts` has shipped in three parquet generations, and this
    * loader normalizes all of them to a session-TZ TIMESTAMP:
    *  - TIMESTAMP(NANOS): Spark has no native type; sessions set
    *    `spark.sql.legacy.parquet.nanosAsLong=true` so it scans as a
    *    nanosecond Long, truncated here to microseconds (integer DIV —
    *    the values exceed double precision) exactly like DuckDB's
    *    ns→us conversion.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): scans as
    *    TIMESTAMP_NTZ; every entry point runs with
    *    `spark.sql.session.timeZone=UTC`, so the cast to TIMESTAMP is
    *    value-exact and `unix_micros`/window arithmetic behave
    *    identically to the legacy path.
    *  - TIMESTAMP(MICROS, adjusted): already TimestampType, pass-through.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Layout probe for the dual `events.parquet` shape (single file in
    * driver testdata vs a directory of part files in synthesized scale
    * dirs). Goes through the Hadoop FileSystem resolved from the path
    * itself, so URI-scheme data dirs (hdfs://, s3a://) probe correctly
    * — `java.io.File(...).isDirectory` silently returns false for
    * those and the caller's glob-on-parent branch would stream nothing.
    */
  def isDirectory(s: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    try fs.getFileStatus(p).isDirectory
    catch { case _: java.io.FileNotFoundException => false }
  }
}
