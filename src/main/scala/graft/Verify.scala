package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
import graft.Harness.esc
import graft.operators.Exec
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated name prefixes (dev loop only —
    // the driver always runs the full set with 2 args)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(',').toSeq) else None
    def selected(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    val spark = Harness.session(Harness.envCpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach {
      case (name, fn) =>
        dump(spark, name, fn(spark, sfDir), outDir)
        Exec.drain(spark)
    }
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s""""${esc(k)}": "${esc(v)}"""" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Write one query's result to `<outDir>/<name>` as a single parquet
    * file. A query that throws instead leaves an EMPTY result dir (no
    * parquet) holding `_ERROR.txt` with the exception text, so the
    * oracle compare records an `err` row for it — a thrown query must
    * never read as "absent". */
  def dump(spark: SparkSession, name: String, build: => DataFrame,
           outDir: String): Unit = {
    spark.sparkContext.setJobDescription(s"verify: $name")
    try build.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    // Throwable, not NonFatal: any failure is recorded as the query's result
    catch { case e: Throwable =>
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
      try {
        Exec.deleteRecursively(s"$outDir/$name")
        val dir = Files.createDirectories(Paths.get(s"$outDir/$name"))
        Files.writeString(dir.resolve("_ERROR.txt"),
          s"${e.getClass.getName}: ${e.getMessage}\n")
      } catch { case NonFatal(e2) => Exec.suppressed(s"Verify $name sentinel", e2) }
    }
  }
}
