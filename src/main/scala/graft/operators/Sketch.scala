package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.token60

/** Count-Min sketch — fixed-memory approximate frequency counting
  * (Cormode & Muthukrishnan), the point-query companion to the
  * membership Bloom filter ([[Bloom]]) and the top-k Misra-Gries
  * sketch ([[Frequent]]): estimate the count of ANY key from a
  * `depth × width` grid of counters, with one-sided error (estimates
  * never undercount; overcount ≤ εN with probability 1−δ for
  * width = ⌈e/ε⌉, depth = ⌈ln 1/δ⌉).
  *
  * Scale posture (100 TB): the sketch is a typed `Aggregator` whose
  * buffer is a flat `depth·width` long array — map-side partials
  * absorb each partition's items locally and the shuffle carries ONE
  * buffer per partition regardless of key cardinality (the same
  * bounded-state shape as [[Frequent.MisraGriesAgg]]). Probing is a
  * broadcast of the finished (small, constant-size) sketch row against
  * the probe keys — no corpus re-scan per query.
  *
  * Hashing mirrors [[Bloom]]: the shared 60-bit md5 kernel
  * ([[token60]]) + Kirsch–Mitzenmacher double hashing
  * `pos_i = (h mod width + i·(1 + h mod (width−1))) mod width`, so
  * every counter cell — and therefore every estimate, collisions
  * included — reproduces exactly in the DuckDB oracle.
  */
object Sketch {

  /** Finished sketch as an encoder-friendly product (flattens to one
    * `sketch: array<bigint>` column under `toColumn`). */
  case class CMS(sketch: Array[Long])

  /** Flat CMS buffer: row i of the grid occupies
    * `[i·width, (i+1)·width)`. */
  class CountMinAgg(depth: Int, width: Int)
      extends Aggregator[Long, Array[Long], CMS] {
    require(depth >= 1 && width >= 2,
      "CMS needs depth >= 1 and width >= 2 (double hashing mods by width-1)")

    override def zero: Array[Long] = new Array[Long](depth * width)

    override def reduce(buf: Array[Long], h: Long): Array[Long] = {
      var i = 0
      while (i < depth) {
        buf(i * width + Sketch.cell(h, i, width)) += 1L
        i += 1
      }
      buf
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }

    override def finish(buf: Array[Long]): CMS = CMS(buf)
    override def bufferEncoder: Encoder[Array[Long]] =
      Encoders.kryo[Array[Long]]
    override def outputEncoder: Encoder[CMS] = Encoders.product[CMS]
  }

  /** Counter cell of hash `h` in grid row `i` (Kirsch–Mitzenmacher;
    * `h` is the non-negative 60-bit kernel so the mods stay positive).
    */
  private[operators] def cell(h: Long, i: Int, width: Int): Int =
    (((h % width) + i * (1 + h % (width - 1))) % width).toInt

  /** Column form of [[cell]] — identical arithmetic, for probing. */
  private def cellCol(h: Column, i: Int, width: Int): Column =
    (h % width + lit(i) * (lit(1) + h % (width - 1))) % width

  /** Build the sketch over `items(keyCol)` (strings; hashed through the
    * shared md5 kernel): a ONE-ROW DataFrame `(sketch: array<bigint>)`.
    */
  def countMin(items: DataFrame, keyCol: String, depth: Int,
               width: Int): DataFrame = {
    import items.sparkSession.implicits._
    val agg = new CountMinAgg(depth, width)
    items.select(token60(col(keyCol)).as("h")).as[Long]
      .select(agg.toColumn.name("sketch"))
      .toDF()
  }

  /** Point-query estimates: for each probe key, the minimum counter
    * across the grid rows — `(<keyCol>, cms_est)`. The one-row sketch
    * side broadcasts; estimates never undercount the true frequency.
    */
  def estimate(sketch: DataFrame, probes: DataFrame, keyCol: String,
               depth: Int, width: Int): DataFrame = {
    val h = token60(col(keyCol))
    val est = least((0 until depth).map(i =>
      element_at(col("sketch"), cellCol(h, i, width).cast("int") +
        lit(i * width) + 1)): _*)
    probes.crossJoin(broadcast(sketch))
      .select(col(keyCol), est.as("cms_est"))
  }

  /** HLL register table `(bucket, mreg)` — the sketch's mergeable
    * state, exposed separately because a `groupBy(bucket).max` is also
    * a valid STREAMING aggregation (complete/update mode, state bounded
    * at 2^p rows regardless of stream cardinality): a live
    * distinct-count monitor maintains exactly this table and reads
    * [[hllEstimate]]'s arithmetic off it whenever asked.
    */
  def hllRegisters(items: DataFrame, keyCol: String, p: Int): DataFrame =
    registers(items, keyCol, p)

  /** Per-group HLL register tables `(grp, bucket, mreg)` — the
    * pre-aggregation form that makes distinct-counting a ROLLUP
    * operation at 100 TB: each ingest unit (day, source, partition)
    * keeps its own 2^p-row register table, and any coarser-grained
    * distinct count is a register-max merge over those tables
    * ([[hllRollup]]), never a rescan of the raw keys. Same md5 kernel
    * and exact integer rank arithmetic as [[hllRegisters]].
    */
  def hllRegistersBy(items: DataFrame, keyCol: String, groupCol: String,
                     p: Int): DataFrame =
    registers(items, keyCol, p, col(groupCol).as("grp"))

  /** The one register builder: `(group…, bucket, mreg)` grouped by the
    * `group` columns (none for a single table) and the bucket. */
  private def registers(items: DataFrame, keyCol: String, p: Int,
                        group: Column*): DataFrame = {
    require(p >= 4 && p <= 16, "p in [4,16]: m = 2^p registers")
    val maxRank = 60 - p + 1
    val h = token60(col(keyCol))
    val w = shiftright(h, p)
    val rank = when(w === 0, lit(maxRank))
      .otherwise(lit(maxRank) - length(bin(w)))
    val ranked = items.select(
      group :+ pmod(h, lit(1L << p)).as("bucket") :+ rank.as("r"): _*)
    ranked.groupBy(ranked.columns.init.map(col).toSeq: _*)
      .agg(max(col("r")).as("mreg"))
  }

  /** Merge finer-grained register tables ([[hllRegistersBy]] output)
    * into coarser groups by register MAX — HLL's mergeability is
    * EXACT: max-merged daily registers are bit-identical to registers
    * built from the union of the days' keys — and evaluate the
    * estimate per merged group. `toGroup` maps the `grp` column to the
    * coarser key (e.g. day → epoch-week). Returns one row per merged
    * group: `(grp, m, used, zeros, sum_scaled, hll_estimate)` with
    * q133's exact integer-scaled harmonic sum and linear-counting
    * fallback.
    */
  def hllRollup(regs: DataFrame, toGroup: Column, p: Int): DataFrame =
    estimate(regs.groupBy(toGroup.as("grp"), col("bucket"))
      .agg(max(col("mreg")).as("mreg")), p, col("grp"))

  /** Deterministic HyperLogLog distinct-count estimate (Flajolet et
    * al.) — unlike Spark's engine-internal `approx_count_distinct`
    * (whose registers are unreachable and whose hash is
    * implementation-defined), this sketch runs on the shared 60-bit
    * md5 kernel with EXACT integer register arithmetic, so an oracle
    * replays every register and the estimate value-checks bit-for-bit
    * across engines — the same "reproduce the sketch, collisions and
    * all" contract as [[countMin]].
    *
    * `bucket = h mod 2^p`; `rank` = leading-zero count of the
    * remaining `60−p` bits + 1, computed via binary-string length
    * (exact — a float `log2` could land a boundary value in the wrong
    * register). The register table is a `2^p`-group MAX aggregation —
    * map-side combined, shuffle size `2^p` per partition, the same
    * bounded-state shape as the other sketches, and registers merge
    * across partitions/engines by plain MAX (mergeability is what
    * makes HLL a 100 TB operator). The harmonic mean runs on the
    * integer-scaled sum `Σ 2^(maxRank − M_j)` (≤ 2^p·2^maxRank <
    * 2^63 for p ≥ 4) — double summation of `2^(−M)` terms would be
    * order-sensitive past 53 mantissa bits; integers are not.
    * Small-range linear counting applies below `2.5·m` when empty
    * registers remain.
    *
    * One row: `(m, used, zeros, sum_scaled, hll_estimate)`.
    */
  def hllEstimate(items: DataFrame, keyCol: String, p: Int): DataFrame =
    estimate(hllRegisters(items, keyCol, p), p)

  /** The one estimator over register rows `(group…, bucket, mreg)`: one
    * row per group, or a single row when no `group` column is given. */
  private def estimate(regs: DataFrame, p: Int, group: Column*): DataFrame = {
    require(p >= 4 && p <= 16, "p in [4,16]: m = 2^p registers")
    val m = 1 << p
    val maxRank = 60 - p + 1
    val scaledTerm = call_function("shiftleft", lit(1L),
      lit(maxRank) - col("mreg"))
    // Flajolet et al.'s bias constants: the asymptotic alpha_m =
    // 0.7213/(1+1.079/m) only holds for m >= 128; the small register
    // counts have their own tabulated constants (alpha_16/32/64),
    // without which p in [4,6] carries a few-percent systematic bias
    // on top of the documented standard error.
    val alpha = lit(m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m.toDouble)
    })
    val twoMax = math.pow(2.0, maxRank) // 2^maxRank ≤ 2^56: exact double
    regs.groupBy(group: _*)
      .agg(count(lit(1)).as("used"), sum(scaledTerm).as("sum_present"))
      .select(group ++ Seq(lit(m).as("m"), col("used"),
        (lit(m.toLong) - col("used")).as("zeros"),
        (col("sum_present") +
          (lit(m.toLong) - col("used")) * lit(1L << maxRank))
          .as("sum_scaled")): _*)
      .withColumn("raw",
        alpha * lit(m.toDouble * m) * lit(twoMax) /
          col("sum_scaled").cast("double"))
      .withColumn("hll_estimate",
        graft.functions.Rounding.roundTo(
          when(col("raw") <= lit(2.5 * m) && col("zeros") > 0,
            lit(m.toDouble) *
              log(lit(m.toDouble) / col("zeros").cast("double")))
            .otherwise(col("raw")), 4))
      .drop("raw")
  }
}
