package graft

import org.apache.spark.sql.SparkSession

/** The one session set-up shared by the mains (Bench, Verify, TimeOne,
  * Explain), the test session and the scale rehearsal. Every query run
  * of a main is one [[graft.operators.Exec.boundary]].
  *
  * AQE is left at Spark's defaults, including
  * `coalescePartitions.parallelismFirst=true`. PINNED NEGATIVE RESULT:
  * `false` (post-shuffle width from bytes alone, 64 MiB advisory) was
  * 18% slower on a same-epoch interleaved ABAB `TimeOne` over the 12
  * biggest movers (local[32], sf0.1; q235 ×1.85, q248 ×1.62): queries
  * with real compute after a KB-sized exchange collapse to 1–2
  * partitions and serialize. An earlier sweep "win" was epoch drift.
  */
object Harness {

  /** Local core count for the mains: `SPARK_GRAFT_CPUS`, default 4. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** A `local[cpus]` session with one shuffle partition per core, UTC
    * session time, parquet nanosecond timestamps read as longs (the
    * `events.ts` column; `Tables.events` converts them) and no UI. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Escape `s` for use inside a JSON string literal: quote, backslash
    * and EVERY control character below 0x20 — a tab or CR left raw
    * makes a strict `json.load` of the output fail. */
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
}
