package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
// cross-engine deterministic rounding shadows functions.round
import graft.functions.Rounding.{roundTo => round}

import graft.functions.TextFunctions._

/** Data-quality profiling for pipeline gates (the step before any
  * 100 TB ingest is allowed to proceed): row count, per-column null
  * counts, and arbitrary named rule-violation counts — all in ONE
  * aggregation pass over the table. Rules are plain `Column`
  * predicates, so they stay codegen'd and pushdown-friendly; nothing
  * is collected but the single profile row.
  */
object Quality {

  /** One-pass profile: `n_rows`, `nulls_<col>` per requested column,
    * then one violation count per named rule (predicate TRUE = the row
    * violates). Null predicate results do not count as violations —
    * express nullability concerns via `nullCols`.
    */
  def profile(df: DataFrame, nullCols: Seq[String],
              rules: Seq[(String, Column)]): DataFrame = {
    // rule names become output columns verbatim — collisions (duplicate
    // rule names, or a rule named 'n_rows'/'nulls_<col>') would yield a
    // silently ambiguous profile row
    val reserved = Set("n_rows") ++ nullCols.map(c => s"nulls_$c")
    val names = rules.map(_._1)
    require(names.distinct.length == names.length,
      s"duplicate rule names: ${names.diff(names.distinct).distinct.mkString(", ")}")
    val clash = names.filter(reserved)
    require(clash.isEmpty,
      s"rule names collide with generated profile columns: ${clash.mkString(", ")}")
    val aggs: Seq[Column] =
      Seq(count(lit(1)).as("n_rows")) ++
        nullCols.map(c =>
          sum(when(col(c).isNull, 1).otherwise(0)).cast("long")
            .as(s"nulls_$c")) ++
        rules.map { case (name, pred) =>
          sum(when(pred, 1).otherwise(0)).cast("long").as(name)
        }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Gopher-style rule-based document filter (the published
    * repetition/length/lexical heuristics family): per document, the
    * measured signals, one boolean per rule, and the composite `keep`.
    * Rules compare against the ROUNDED signals so the decisions mirror
    * bit-exactly in the SQL oracle (an unrounded boundary comparison
    * could flip on the 16th decimal between engines).
    *
    * Everything runs inside the scan projection — per-row cost is
    * flat, no shuffle, no UDFs; at 100 TB this is a map-only pass
    * fused into the parquet scan. (One caveat: the stopword count is
    * an interpreted higher-order `filter` — the shared
    * [[graft.functions.TextFunctions.stopwordCount]] definition — not
    * codegen'd; the rest is.)
    */
  def gopherFlags(df: DataFrame, idCol: String, textCol: String,
                  minWords: Int = 40, maxWords: Int = 50000,
                  minMwl: Double = 4.0, maxMwl: Double = 10.0,
                  maxRep: Double = 0.55, minStop: Int = 2): DataFrame = {
    val w = words(col(textCol))
    df.select(col(idCol),
        size(w).cast("long").as("n_words"),
        round(meanWordLen(w), 4).as("mean_word_len"),
        round(repetitionRatio(w), 4).as("rep_ratio"),
        stopwordCount(w).cast("long").as("n_stopwords"))
      .withColumn("r_words",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("r_mwl",
        col("mean_word_len") >= minMwl && col("mean_word_len") <= maxMwl)
      .withColumn("r_rep", col("rep_ratio") <= maxRep)
      .withColumn("r_stop", col("n_stopwords") >= minStop)
      .withColumn("keep",
        col("r_words") && col("r_mwl") && col("r_rep") && col("r_stop"))
  }

  /** Per-document character-level Shannon entropy (bits/char) — the
    * classic gibberish/compression-artifact quality signal: natural
    * prose sits near 4–4.5 bits, base64 blobs and key-mash near 6,
    * single-character spam near 0. Computed as
    * `log2(n) − (Σ c·log2(c))/n` over per-character counts `c`.
    *
    * Scale posture: the per-character explode feeds a (doc, char)
    * aggregation whose map-side combine collapses each partition to at
    * most |alphabet| rows per document — the shuffle carries character
    * HISTOGRAMS, not characters. Null/empty text is excluded (no
    * distribution to measure).
    */
  def charEntropy(docs: DataFrame, idCol: String,
                  textCol: String): DataFrame = {
    val counts = docs
      .filter(col(textCol).isNotNull && length(col(textCol)) > 0)
      .select(col(idCol), explode(split(col(textCol), "")).as("ch"))
      // Spark's split keeps a trailing '' element (Java regex split
      // with limit -1); a real character is never '', so dropping the
      // empties makes the histogram engine-independent
      .filter(col("ch") =!= "")
      .groupBy(col(idCol), col("ch"))
      .agg(count(lit(1)).cast("double").as("c"))
    counts.groupBy(col(idCol))
      .agg(sum(col("c")).as("n"),
        sum(col("c") * log2(col("c"))).as("s"))
      .select(col(idCol), col("n").cast("long").as("n_chars_split"),
        round(log2(col("n")) - col("s") / col("n"), 4).as("entropy"))
  }

  /** Join-key skew diagnosis — the report to run BEFORE shuffling
    * 100 TB on a key: per-key counts reduced to the `topN` heaviest
    * keys with each key's share of all rows and its skew factor
    * (count / mean-count-per-key). A skew factor in the hundreds says
    * this key needs salting ([[Skew.saltedJoin]]) or AQE skew
    * handling; ~1 says the key distributes fine.
    *
    * One hash aggregation on the key (map-side combined), a one-row
    * global aggregate of that key table, and a top-N — nothing else
    * touches the corpus.
    */
  def skewReport(df: DataFrame, keyCol: String, topN: Int): DataFrame = {
    require(topN >= 1, "topN must be >= 1")
    val counts = df.groupBy(col(keyCol).cast("string").as("key"))
      .agg(count(lit(1)).as("cnt"))
    val stats = counts.agg(sum(col("cnt")).as("total"),
      count(lit(1)).cast("double").as("n_keys"))
    counts.crossJoin(broadcast(stats))
      .select(col("key"), col("cnt"),
        round(col("cnt").cast("double") / col("total").cast("double"), 6)
          .as("share"),
        round(col("cnt").cast("double") /
          (col("total").cast("double") / col("n_keys")), 4)
          .as("skew_factor"))
      .orderBy(col("cnt").desc, col("key"))
      .limit(topN)
  }

  /** Vocabulary-coverage / OOV scoring: how much of each document a
    * fixed top-`topK` corpus vocabulary explains — high OOV rate flags
    * gibberish, boilerplate hashes, and wrong-language text, and the
    * same number sizes tokenizer vocab decisions. Returns
    * `(<idCol>, n_tokens, n_oov, oov_rate)` (rate 4-decimal).
    *
    * The vocabulary is the top `topK` tokens by (count desc, token) —
    * a total order, so the boundary is deterministic on any engine.
    * Scale posture: one corpus token aggregation builds the vocab;
    * the vocab is a K-row broadcast joined to the token stream
    * map-side (left join + null flag, no shuffle of the corpus beyond
    * the per-doc count aggregation).
    */
  def vocabCoverage(docs: DataFrame, idCol: String, textCol: String,
                    topK: Int): DataFrame = {
    require(topK >= 1, "topK must be >= 1")
    import graft.functions.TextFunctions.words
    val toks = docs.select(col(idCol).as("id"),
      explode(words(col(textCol))).as("w"))
    val vocab = toks.groupBy("w").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w"))
      .limit(topK)
      .select(col("w"), lit(true).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("id").as(idCol), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens").cast("double"),
          4).as("oov_rate"))
  }

  /** Self-join size forecast: predict `|df ⋈ df|` on `keyCol` — the
    * number a planner needs BEFORE committing a 100 TB shuffle that
    * might explode quadratically on hot keys. One row:
    * `(exact_pairs, est_pairs, rel_err, n_rows, n_keys, max_key_cnt)`
    * where `exact_pairs = Σ_k f(k)²` from the full per-key count table
    * and `est_pairs` extrapolates the same sum from a deterministic
    * 1-in-`sampleMod` KEY sample (the shared md5 kernel on the key, so
    * the sample — and therefore the estimate — is identical on any
    * engine or partitioning). Sampling keys, not rows, is what makes
    * the estimator unbiased for Σf²: every sampled key contributes its
    * exact f(k)², scaled by the sampling rate.
    *
    * At scale the exact branch is the expensive one (it is the
    * verification here); the estimator's cost is a scan of the sampled
    * keys only — push `hashBucket(key) = 0` into the scan and the
    * count table shrinks by `sampleMod`×.
    */
  def selfJoinForecast(df: DataFrame, keyCol: String,
                       sampleMod: Int = 10,
                       salt: String = "sjf"): DataFrame = {
    require(sampleMod >= 1, "sampleMod must be >= 1")
    val counts = df.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("cnt"))
    val sampled = Sampling.hashBucket(col("key"), salt, sampleMod) === 0
    counts.agg(
        sum(col("cnt") * col("cnt")).as("exact_pairs"),
        (sum(when(sampled, col("cnt") * col("cnt")).otherwise(0L))
          * sampleMod).as("est_pairs"),
        sum(col("cnt")).as("n_rows"),
        count(lit(1)).as("n_keys"),
        max(col("cnt")).as("max_key_cnt"))
      .select(col("exact_pairs"), col("est_pairs"),
        round((col("est_pairs") - col("exact_pairs")).cast("double")
          / col("exact_pairs").cast("double"), 4).as("rel_err"),
        col("n_rows"), col("n_keys"), col("max_key_cnt"))
  }

  /** Equi-depth histogram: `k` bins holding (near-)equal row counts,
    * reported as `(bin, n_rows, lo, hi)` with the observed value range
    * per bin. Bin boundaries are the exact interpolated `i/k` quantiles
    * (one aggregation — the same `percentile` ↔ `quantile_cont`
    * contract [[winsorize]] relies on); a value lands in
    * `bin = #{boundaries strictly below it}`, so ties sitting exactly
    * on a boundary go to the lower bin in every engine. Equi-WIDTH
    * histograms (q87's shape) starve on skew — one hot bin, many empty
    * ones; equi-depth is what optimizers and drift monitors keep.
    *
    * Scale posture: one quantile aggregation produces a k-sized
    * boundary array that travels as a literal-sized broadcast; bin
    * assignment is a codegen'd map-only fold over that array; then one
    * k-group aggregation. No corpus sort, no window. (At extreme scale
    * swap the exact quantile for `approx_percentile` — the bin
    * assignment and contract are unchanged.)
    */
  def equiDepthHistogram(df: DataFrame, valCol: String,
                         k: Int): DataFrame = {
    require(k >= 2, "an equi-depth histogram needs at least 2 bins")
    val fracs = (1 until k).map(_.toDouble / k)
    val bounds = df.agg(
      expr(s"percentile($valCol, array(${fracs.mkString(",")}))")
        .as("bounds"))
    val x = col(valCol).cast("double")
    df.filter(x.isNotNull)
      .crossJoin(broadcast(bounds))
      .select(aggregate(col("bounds"), lit(0),
        (acc, b) => acc + when(x > b, 1).otherwise(0)).as("bin"), x.as("x"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_rows"), min(col("x")).as("lo"),
        max(col("x")).as("hi"))
  }

  /** Population-stability-index drift report: how far a value's
    * distribution in `cur` has drifted from the `ref` baseline —
    * the monitor every production feature/scoring pipeline runs before
    * trusting this week's data. Bins are the REFERENCE's equi-depth
    * quantile boundaries (same boundary contract as
    * [[equiDepthHistogram]]); each bin contributes
    * `(p_cur − p_ref) · ln(p_cur/p_ref)` and the shares are
    * Laplace-smoothed (`(n + 0.5)/(N + 0.5k)`) so a bin either period
    * never hits stays finite instead of blowing the index up. All `k`
    * bins are reported: ties in the reference can collapse quantile
    * boundaries and leave bins with ZERO reference rows — current rows
    * landing there are precisely the drift the monitor exists to catch,
    * so they must not fall out of the report.
    * Output: `(bin, n_ref, n_cur, p_ref, p_cur, psi_term)` — the
    * headline PSI is the sum of `psi_term` (rule of thumb: < 0.1
    * stable, > 0.25 action).
    *
    * Scale posture: one quantile aggregation on the reference, then
    * each side is one map-only bin fold + one k-group aggregation —
    * the two scans never join row-to-row, only the k-row bin tables
    * meet.
    */
  def psiDrift(ref: DataFrame, cur: DataFrame, valCol: String,
               k: Int): DataFrame = {
    require(k >= 2, "PSI needs at least 2 bins")
    val fracs = (1 until k).map(_.toDouble / k)
    val bounds = ref.agg(
      expr(s"percentile($valCol, array(${fracs.mkString(",")}))")
        .as("bounds"))
    def binned(df: DataFrame): DataFrame = {
      val x = col(valCol).cast("double")
      df.filter(x.isNotNull)
        .crossJoin(broadcast(bounds))
        .select(aggregate(col("bounds"), lit(0),
          (acc, b) => acc + when(x > b, 1).otherwise(0)).as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("n"))
    }
    val r = binned(ref).select(col("bin"), col("n").as("n_ref"))
    val c = binned(cur).select(col("bin"), col("n").as("n_cur"))
    // anchor on the full bin range 0..k-1, NOT on the ref bins: under
    // heavy ties the reference's quantile boundaries collapse and some
    // bins hold zero ref rows — current-period rows landing there are
    // exactly the drift PSI must see, and Laplace smoothing keeps their
    // term finite. A bin absent from either side joins as zero.
    val bins = ref.sparkSession.range(k)
      .select(col("id").cast("int").as("bin"))
    val joined = bins
      .join(r, Seq("bin"), "left").join(c, Seq("bin"), "left")
      .withColumn("n_ref", coalesce(col("n_ref"), lit(0L)))
      .withColumn("n_cur", coalesce(col("n_cur"), lit(0L)))
    val totals = joined.agg(sum(col("n_ref")).as("tr"),
      sum(col("n_cur")).as("tc"))
    val pr = (col("n_ref") + 0.5) / (col("tr") + lit(0.5 * k))
    val pc = (col("n_cur") + 0.5) / (col("tc") + lit(0.5 * k))
    joined.crossJoin(broadcast(totals))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        round(pr, 6).as("p_ref"), round(pc, 6).as("p_cur"),
        round((pc - pr) * log(pc / pr), 6).as("psi_term"))
  }

  /** EXACT two-sample Kolmogorov–Smirnov statistic — the
    * distribution-free companion to [[psiDrift]]: `KS = max over x of
    * |F_ref(x) − F_cur(x)|`, evaluated at every distinct value of
    * either sample (the max is always attained at a sample point).
    * PSI bins first and answers "how much drift"; KS answers "is the
    * whole CDF the same shape" with no binning choice to defend.
    *
    * Scale shape — the naive formulation is a global window cumsum,
    * i.e. a single-partition sort of all distinct values. This
    * implementation is the two-level prefix sum instead (the
    * reference's partial-then-meta reduce shape, kernel.cu:148-174):
    * values RANGE-BUCKET by `buckets` quantile boundaries (broadcast
    * k-row array), the cumsum window runs PER BUCKET in parallel, and
    * bucket offsets come from a `buckets`-row exclusive prefix — the
    * only single-partition step is over `buckets` rows.
    *
    * Exactness: the decision quantity `|cum_ref·n_cur − cum_cur·n_ref|`
    * is computed in DECIMAL(38,0) — exact at any corpus size (doubles
    * lose integer exactness past 2^53, and an ulp at the max flips the
    * argmax tie cross-engine); ties on the max break to the smallest
    * value. Nulls are excluded from both samples.
    *
    * Returns one row: `(n_ref, n_cur, ks_stat, ks_at)` — the statistic
    * (6 decimals) and the value attaining it.
    */
  def ksDrift(ref: DataFrame, cur: DataFrame, valCol: String,
              buckets: Int = 32): DataFrame = {
    require(buckets >= 1, "need at least one range bucket")
    val x = col(valCol).cast("double")
    def side(df: DataFrame, n: String): DataFrame =
      df.filter(x.isNotNull).select(x.as("v"))
        .groupBy("v").agg(count(lit(1)).as(n))
    val vals = side(ref, "nr").withColumn("nc", lit(0L))
      .unionByName(side(cur, "nc").withColumn("nr", lit(0L)))
      .groupBy("v").agg(sum("nr").as("nr"), sum("nc").as("nc"))
    // range buckets from value-table quantiles: ANY monotone bucketing
    // is correct (buckets only exist for parallelism); quantiles keep
    // them balanced
    val fracs = (1 until buckets).map(_.toDouble / buckets)
    val boundsDf =
      if (buckets == 1) vals.agg(array().cast("array<double>").as("bounds"))
      else vals.agg(expr(
        s"percentile(v, array(${fracs.mkString(",")}))").as("bounds"))
    val bucketed = vals.crossJoin(broadcast(boundsDf))
      .select(col("v"), col("nr"), col("nc"),
        aggregate(col("bounds"), lit(0),
          (acc, b) => acc + when(col("v") > b, 1).otherwise(0)).as("bk"))
    val inBucket = Window.partitionBy("bk").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withLocal = bucketed
      .withColumn("lcr", sum("nr").over(inBucket))
      .withColumn("lcc", sum("nc").over(inBucket))
    // exclusive bucket-offset prefix: `buckets` rows, single partition
    // by construction
    val offW = Window.orderBy("bk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy("bk")
      .agg(sum("nr").as("tnr"), sum("nc").as("tnc"))
      .withColumn("onr", coalesce(sum("tnr").over(offW), lit(0L)))
      .withColumn("onc", coalesce(sum("tnc").over(offW), lit(0L)))
      .select("bk", "onr", "onc")
    val totals = vals.agg(sum("nr").as("tr"), sum("nc").as("tc"))
    val dec = "decimal(38,0)"
    val cum = withLocal.join(broadcast(offsets), "bk")
      .crossJoin(broadcast(totals))
      .withColumn("diff",
        abs((col("lcr") + col("onr")).cast(dec) * col("tc").cast(dec) -
            (col("lcc") + col("onc")).cast(dec) * col("tr").cast(dec)))
    cum
      .agg(max(struct(col("diff"), (-col("v")).as("nv"))).as("m"),
        first(col("tr")).as("n_ref"), first(col("tc")).as("n_cur"))
      .select(col("n_ref"), col("n_cur"),
        round(col("m.diff").cast("double") /
          (col("n_ref").cast("double") * col("n_cur").cast("double")), 6)
          .as("ks_stat"),
        (-col("m.nv")).as("ks_at"))
  }

  /** Per-group robust outlier statistics via the median absolute
    * deviation: `(group, n, med, mad, n_outliers)` where an outlier is
    * a row with `|x − med| > c · 1.4826 · mad` (1.4826 scales MAD to
    * the stddev of a normal, so `c` reads in "robust sigmas"). The
    * mean/stddev z-score this replaces is itself dragged by the
    * outliers it is meant to find; the median/MAD pair has a 50%
    * breakdown point. The outlier test multiplies instead of dividing,
    * so an all-identical group (mad = 0) flags nothing rather than
    * tripping on a zero divisor.
    *
    * Two grouped exact-quantile aggregations (group-count-sized
    * results, broadcast back) + a map-only flag pass — no corpus sort,
    * no window.
    */
  def madOutliers(df: DataFrame, valCol: String, groupCol: String,
                  c: Double = 3.0): DataFrame = {
    require(c > 0, "the outlier cutoff must be positive")
    val x = col(valCol).cast("double")
    val med = df.groupBy(groupCol)
      .agg(expr(s"percentile($valCol, 0.5)").as("med"))
    val dev = df.join(broadcast(med), groupCol)
      .withColumn("dev", abs(x - col("med")))
    val mad = dev.groupBy(groupCol)
      .agg(expr("percentile(dev, 0.5)").as("mad"))
    dev.join(broadcast(mad), groupCol)
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n"),
        round(first(col("med")), 4).as("med"),
        round(first(col("mad")), 4).as("mad"),
        sum(when(col("dev") > lit(c * 1.4826) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
  }

  /** Per-group winsorization (quantile clipping — the standard
    * outlier-robust normalization before statistics or thresholding):
    * clamp `valCol` into its group's `[lo, hi]` exact interpolated
    * quantiles. The quantile table is one aggregation (one row per
    * group) and re-attaches as a broadcast, so the clamp itself is a
    * map-only second pass — no corpus-wide sort, no window. Returns
    * the input plus a `win_<valCol>` column.
    */
  def winsorize(df: DataFrame, valCol: String, groupCol: String,
                lo: Double = 0.05, hi: Double = 0.95): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo <= hi,
      "quantile bounds must satisfy 0 <= lo <= hi <= 1")
    val q = df.groupBy(groupCol).agg(
      expr(s"percentile($valCol, $lo)").as("_qlo"),
      expr(s"percentile($valCol, $hi)").as("_qhi"))
    df.join(broadcast(q), groupCol)
      .withColumn(s"win_$valCol",
        greatest(col("_qlo"), least(col("_qhi"), col(valCol).cast("double"))))
      .drop("_qlo", "_qhi")
  }

  /** Exact WEIGHTED quantiles — the "typical value by mass, not by
    * row" statistic (median price dollar-weighted, median doc length
    * token-weighted): for each p/q fraction, the smallest value whose
    * cumulative integer weight reaches ceil(p·W/q). Fractions are
    * RATIONAL pairs so the target rank is exact integer arithmetic
    * ((p·W + q − 1) DIV q) — an FP `ceil(0.9·W)` is off by one
    * whenever the exact product is integral. Distribution shape is
    * q158's: per-VALUE weight sums, two-level bucketed prefix
    * (per-bucket windows + a `buckets`-row offset prefix — no global
    * sort, no corpus-sized single-partition state), then each
    * fraction picks its answer with one min-struct aggregation over
    * the qualifying suffix. Weights must be non-negative integers;
    * rows with null value or weight ≤ 0 are excluded.
    *
    * Returns one row per fraction: `(frac_label, target_rank, value)`.
    */
  def weightedQuantiles(df: DataFrame, valCol: String, wCol: String,
                        fracs: Seq[(String, Int, Int)],
                        buckets: Int = 32): DataFrame = {
    require(buckets >= 1, "need at least one range bucket")
    require(fracs.nonEmpty, "need at least one fraction")
    fracs.foreach { case (_, p, q) =>
      require(p >= 0 && q > 0 && p <= q, s"bad fraction $p/$q") }
    val x = col(valCol).cast("long")
    val vals = df
      .filter(x.isNotNull && col(wCol).cast("long") > 0)
      .select(x.as("v"), col(wCol).cast("long").as("w"))
      .groupBy("v").agg(sum(col("w")).as("wv"))
    // bucket bounds are PARALLELISM ONLY — any monotone bucketing gives
    // identical prefix sums — so approx_percentile (fixed GK-sketch
    // state) is the right tool: exact `percentile` here would buffer
    // the whole distinct-value multiset in one task, the very shape
    // the q240 de-buffering purged
    val bFracs = (1 until buckets).map(_.toDouble / buckets)
    val boundsDf =
      if (buckets == 1) vals.agg(array().cast("array<double>").as("bounds"))
      else vals.agg(expr(
        s"cast(approx_percentile(v, array(${bFracs.mkString(",")}), 1000)" +
          " as array<double>)").as("bounds"))
    val bucketed = vals.crossJoin(broadcast(boundsDf))
      .select(col("v"), col("wv"),
        aggregate(col("bounds"), lit(0),
          (acc, b) => acc + when(col("v").cast("double") > b, 1)
            .otherwise(0)).as("bk"))
    val inBucket = Window.partitionBy("bk").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offW = Window.orderBy("bk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy("bk").agg(sum("wv").as("tw"))
      .withColumn("ow", coalesce(sum("tw").over(offW), lit(0L)))
      .select("bk", "ow")
    val totals = vals.agg(sum("wv").as("tw"))
    val dec = "decimal(38,0)"
    val cum = bucketed
      .withColumn("lcw", sum("wv").over(inBucket))
      .join(broadcast(offsets), "bk")
      .select(col("v"), (col("lcw") + col("ow")).cast(dec).as("cw"))
    val sp = df.sparkSession
    import sp.implicits._
    val fracsDf = fracs.map { case (l, p, q) => (l, p.toLong, q.toLong) }
      .toDF("frac", "p", "q")
    // floor-division target rank: Spark's decimal→decimal(38,0) CAST
    // rounds half-up, so an explicit floor keeps DIV semantics
    cum.crossJoin(broadcast(totals)).crossJoin(broadcast(fracsDf))
      .withColumn("target",
        floor((col("p").cast(dec) * col("tw").cast(dec) +
          col("q").cast(dec) - lit(1).cast(dec)) / col("q").cast(dec)))
      .filter(col("cw") >= col("target"))
      .groupBy("frac")
      .agg(min(col("target")).cast("long").as("target_rank"),
        min(col("v")).as("value"))
      .orderBy("frac")
  }

  /** PER-GROUP exact rank quantiles — the equi-depth-boundary kernel
    * for melted multi-feature frames: for each group g and rational
    * fraction p/q, the smallest value whose within-group rank reaches
    * max(1, ceil(p·n_g/q)) (exact integer target, (p·n+q−1) DIV q).
    * Same distribution shape as [[graft.operators.MlEval.aucExactBy]]:
    * per-(group, value) counts, per-(group, bucket) windows + a
    * groups×buckets offset prefix windowed per group — ONE pass over
    * the distinct-value table, no iterative re-scans, no corpus-sized
    * single-partition state (this replaced q240's 28-task narrowing
    * solve, which re-scanned the corpus with a tasks-wide explode per
    * round: 17.8 → ~2 s warm at sf0.1). DOUBLE values (quantile of a
    * measure column); returns `(g, qi, value)` with qi the 0-based
    * fraction index.
    */
  def groupedRankQuantiles(df: DataFrame, gCol: String, vCol: String,
                           fracs: Seq[(Int, Int)], buckets: Int = 32)
      : DataFrame = {
    val vals = df
      .filter(col(vCol).isNotNull)
      .select(col(gCol).as("g"), col(vCol).cast("double").as("v"))
      .groupBy("g", "v").agg(count(lit(1)).as("nv"))
    groupedRankQuantilesFromCounts(vals, fracs, buckets)
  }

  /** Counts-table entry point for [[groupedRankQuantiles]]: `valsIn`
    * carries one row per (group `g`, DOUBLE value `v`) with its
    * multiplicity `nv` — callers that already hold a per-value count
    * table (q240 bins from the same table) skip the corpus pass. The
    * count table feeds bounds, bucketing, offsets AND totals, so it
    * is cached here (value-cardinality-sized — the safe side of
    * the persist-vs-recompute line; the 4×-corpus melt is not) and
    * released before returning: the groups×fracs result is kept as
    * an eager checkpoint, so no cached partitions outlive the call.
    */
  def groupedRankQuantilesFromCounts(valsIn: DataFrame,
                                     fracs: Seq[(Int, Int)],
                                     buckets: Int = 32): DataFrame = Exec.scope { sc =>
    require(buckets >= 1 && fracs.nonEmpty, "need buckets and fractions")
    fracs.foreach { case (p, q) =>
      require(p >= 0 && q > 0 && p <= q, s"bad fraction $p/$q") }
    val vals = sc.cache(valsIn)
    val bFracs = (1 until buckets).map(_.toDouble / buckets)
    val boundsDf =
      if (buckets == 1) vals.agg(array().cast("array<double>").as("bounds"))
      else vals.agg(expr(
        s"cast(approx_percentile(v, array(${bFracs.mkString(",")}), 1000)" +
          " as array<double>)").as("bounds"))
    val bucketed = vals.crossJoin(broadcast(boundsDf))
      .select(col("g"), col("v"), col("nv"),
        aggregate(col("bounds"), lit(0),
          (acc, b) => acc + when(col("v") > b, 1).otherwise(0)).as("bk"))
    val inBucket = Window.partitionBy("g", "bk").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offW = Window.partitionBy("g").orderBy("bk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy("g", "bk").agg(sum("nv").as("tn"))
      .withColumn("ob", coalesce(sum("tn").over(offW), lit(0L)))
      .select("g", "bk", "ob")
    val totals = vals.groupBy("g").agg(sum("nv").as("tw"))
    val sp = valsIn.sparkSession
    import sp.implicits._
    val fracsDf = fracs.zipWithIndex
      .map { case ((p, q), i) => (i, p.toLong, q.toLong) }
      .toDF("qi", "p", "q")
    // target ranks resolve on the groups×fracs table FIRST (tiny), in
    // exact LONG `(p·tw + q − 1) DIV q` — counts are LONGs so p·tw
    // fits far past any corpus (p ≤ q ≤ fracs denominator; the
    // DECIMAL(38,0) path lives in weightedQuantiles where weights are
    // unbounded); the corpus-sized stage below then runs pure LONG
    // codegen instead of per-row decimal math
    val targets = totals.crossJoin(broadcast(fracsDf))
      .select(col("g"), col("qi"), greatest(lit(1L),
        expr("(p * tw + q - 1) div q")).as("target"))
    sc.keep(bucketed
      .withColumn("lcw", sum("nv").over(inBucket))
      .join(offsets, Seq("g", "bk"))
      .select(col("g"), col("v"), (col("lcw") + col("ob")).as("cw"))
      .join(broadcast(targets), Seq("g"))
      .filter(col("cw") >= col("target"))
      .groupBy("g", "qi")
      .agg(min(col("v")).as("value")))
  }
}
