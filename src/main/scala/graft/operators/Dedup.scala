package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
// cross-engine deterministic rounding shadows functions.round
import graft.functions.Rounding.{roundTo => round}

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions

/** Deduplication operators for the training-data pipeline
  * (SURVEY.md §2.11): exact, MinHash+LSH, SimHash, exact n-gram
  * Jaccard (frequency-capped inverted index), and embedding-cosine
  * near-dup (LSH-bucketed default + brute-force baseline).
  *
  * Scale posture (100 TB): every default path reduces candidate
  * generation to an equi-join on a derived key (content hash, LSH band
  * key, simhash band, capped shingle, LSH bucket) — never an all-pairs
  * comparison — so the expensive step is a key-partitioned shuffle that
  * AQE can re-balance, and per-key fan-out is bounded by
  * band/bucket/frequency-cap width. The one deliberately quadratic
  * routine, [[embeddingPairs]], exists as the ground-truth baseline for
  * [[embeddingPairsBucketed]]'s recall measurement.
  *
  * Cache lifecycle: operators that reference a subplan multiple times
  * cache it inside an [[Exec.scope]], which releases every internal
  * handle before the call returns. The returned DataFrame is a kept
  * checkpoint and is the single owning handle: an enclosing scope
  * releases it, and a caller outside any scope frees it with
  * [[Exec.releaseScratch]] (`Dataset.unpersist` cannot reach
  * checkpoint blocks). Consequently those operators are EAGER: the
  * heavy lifting runs inside the call, not at the caller's first
  * action.
  */
object Dedup {

  import Exec.widen

  /** Normalized content hash: lowercase + collapsed whitespace → md5. */
  def contentHash(text: Column): Column =
    md5(lower(regexp_replace(trim(text), "\\s+", " ")))

  /** Exact dedup: one surviving row (min id) per normalized-content
    * group, with the group size. A single hash-partitioned aggregation.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), contentHash(col(textCol)).as("content_hash"))
      .groupBy("content_hash")
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("group_size"))

  /** Cross-source duplication matrix — "which sources copy from
    * which": for every source pair, the number of distinct normalized
    * content hashes they share, plus each side's distinct-hash total
    * and the containment ratio `shared / min(|A|, |B|)`. The curation
    * read before trusting per-source mixture weights (a mirror site
    * inflates its source's weight with content another source already
    * contributes).
    *
    * Scale shape: one distinct (hash, source) projection, one
    * hash-keyed self-join whose per-key fan-out is bounded by the
    * SOURCE COUNT (never corpus²), one pair aggregation. Totals attach
    * as a k-row broadcast.
    */
  def sourceOverlap(docs: DataFrame, textCol: String,
                    sourceCol: String): DataFrame = Exec.scope { sc =>
    val hs = sc.cache(docs
      .select(contentHash(col(textCol)).as("h"), col(sourceCol).as("src"))
      .distinct())
    val totals = hs.groupBy("src").agg(count(lit(1)).as("n"))
    val pairs = hs.as("a").join(hs.as("b"),
        col("a.h") === col("b.h") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("source_a"), col("b.src").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    val out = pairs
      .join(broadcast(totals.select(col("src").as("source_a"),
        col("n").as("n_a"))), "source_a")
      .join(broadcast(totals.select(col("src").as("source_b"),
        col("n").as("n_b"))), "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("n_a"), col("n_b"),
        graft.functions.Rounding.roundTo(
          col("n_shared").cast("double") /
            least(col("n_a"), col("n_b")).cast("double"), 4)
          .as("containment"))
    sc.keep(out)
  }

  /** Shingle sets per document: `(id, sh: array<string>)` — the
    * native multiset expression + `array_distinct`, equal to the
    * lambda [[wordShingles]] formulation but produced in one codegen'd
    * pass inside the scan projection.
    */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String,
                  shingleN: Int): DataFrame =
    widen(docs, idCol).select(col(idCol).as("id"),
      array_distinct(wordShingleArray(col(textCol), shingleN)).as("sh"))

  /** Word n-gram shingles as ROWS `(id, s)`, possibly with duplicate
    * shingles per doc (multiset), including the whole-text fallback for
    * docs with fewer than n words. Backed by the native codegen'd
    * [[graft.functions.expressions.WordShingleArray]] expression +
    * built-in explode: shingles are produced inside the scan
    * projection, with NO shuffle — the previous posexplode +
    * `Window.lead` formulation sorted a corpus-sized (doc, pos) table
    * once per use. Sufficient wherever multiset semantics coincide with
    * set semantics (minhash minima, min-fingerprints); add
    * `.distinct()` for exact set operations.
    */
  def shingleRowsRaw(docs: DataFrame, idCol: String,
                     textCol: String, n: Int): DataFrame =
    widen(docs, idCol).select(col(idCol).as("id"),
      explode(wordShingleArray(col(textCol), n)).as("s"))

  /** MinHash + banded LSH near-dup pairs, verified by exact Jaccard.
    *
    * tokenize → shingle → K minhashes → B band keys → equi-join on
    * (band, key) → distinct candidate pairs → re-join shingle sets →
    * exact Jaccard ≥ threshold. The only shuffles are the band-key
    * join and the two id-keyed verification joins; candidate volume is
    * controlled by (bands, rowsPerBand), not corpus size².
    */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   threshold: Double, shingleN: Int = 3, k: Int = 12,
                   bands: Int = 6,
                   rowsPerBand: Int = 2): DataFrame = Exec.scope { sc =>
    require(bands * rowsPerBand == k, "signature must split evenly into bands")
    require(threshold > 0.0,
      "threshold must be positive: zero-similarity candidate pairs drop " +
        "out of the verification join and cannot be reported")
    // self-joined below → persist so the signature aggregation runs once
    val banded = sc.cache(bandKeys(docs, idCol, textCol, shingleN, k, bands,
        rowsPerBand))
    // referenced 3x below (two id-unions + the verification join)
    val cand = sc.cache(banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .distinct())
    // Exact-Jaccard verification needs distinct shingle SETS, but only
    // for documents that appear in a candidate pair — a tiny fraction
    // of the corpus at any scale.
    val candShingles = sc.cache(shingleRowsRaw(
        docsInCandidates(docs, idCol, cand, Seq("doc_a", "doc_b")),
        idCol, textCol, shingleN)
      .distinct())
    sc.keep(jaccardOfPairs(cand, candShingles, threshold))
  }

  /** Documents whose id appears in any of the given candidate-pair
    * columns — the shared restriction applied before every expensive
    * verification materialization (shingle rows or arrays are only
    * ever computed for candidate documents).
    */
  private def docsInCandidates(docs: DataFrame, idCol: String,
                               cand: DataFrame,
                               idCols: Seq[String]): DataFrame = {
    val ids = idCols.map(c => cand.select(col(c).as("cid")))
      .reduce(_.unionByName(_)).distinct()
    docs.join(ids, col(idCol) === col("cid"), "left_semi")
  }

  /** Exact n-gram Jaccard pairs via a frequency-capped inverted shingle
    * index — the ground-truth counterpart of [[minhashPairs]].
    *
    * Pair CANDIDATES come from co-occurrence on a shingle whose
    * document frequency is ≤ `maxShingleDf`; the reported Jaccard is
    * then computed on the FULL (uncapped) shingle sets of candidate
    * documents, so the cap can only lower recall (a pair is missed iff
    * every shingle it shares is more frequent than the cap) — it never
    * admits a false pair and never distorts a reported similarity.
    *
    * The cap is what makes the inverted index survive 100 TB: without
    * it one stop-shingle appearing in 10⁶ documents creates 10¹²
    * candidate pairs; with it, per-shingle fan-out is bounded by
    * `maxShingleDf²`. Near-duplicate evidence lives in RARE shingles
    * (a shingle shared by millions of documents says nothing about any
    * one pair), so moderate caps lose little recall in practice —
    * callers wanting the uncapped exact semantics pass
    * `maxShingleDf = Int.MaxValue`.
    *
    * Candidate volume is the other quadratic: on a corpus with a dense
    * shared vocabulary, single-shingle co-occurrence admits a large
    * fraction of ALL pairs as candidates (8% of the 12.5M possible at
    * bench scale) while the threshold keeps a handful. So candidates
    * are never verified one set-join at a time; the index self-join is
    * AGGREGATED into the exact per-pair shared-indexed-shingle count
    * `ii` (map-side combinable — the shuffle carries one row per
    * candidate pair, not one per shared shingle), and a provable
    * Jaccard upper bound prunes before any set materializes. With
    * `hidden(d)` = distinct shingles of `d` more frequent than the cap
    * — the ONLY non-indexed shingles a pair can share, since a df==1
    * shingle occurs in exactly one document and contributes to no
    * intersection — the true intersection is at most
    * `ii + min(hidden(a), hidden(b))`, so
    * `ub = (ii + min(hA,hB)) / (|A| + |B| - ii - min(hA,hB))` bounds
    * the true Jaccard from above; pairs with `ub` below the threshold
    * (less a half-ulp of the 4-decimal result rounding) are exactly
    * the pairs the final filter must discard. Only the survivors — a
    * near-dup-sized set — reach the full-set verification join.
    */
  def jaccardPairsExact(docs: DataFrame, idCol: String, textCol: String,
                        threshold: Double, shingleN: Int = 3,
                        maxShingleDf: Int = Int.MaxValue): DataFrame = Exec.scope { sc =>
    require(threshold > 0.0,
      "threshold must be positive: zero-similarity pairs never co-occur " +
        "in the inverted index and cannot be reported")
    require(maxShingleDf >= 2,
      "a document-frequency cap below 2 drops every co-occurring shingle " +
        "and no pair can ever be reported")
    val (idx, docStats) =
      cappedInvertedIndex(sc, docs, idCol, textCol, shingleN, maxShingleDf)
    // exact shared-indexed-shingle count per candidate pair
    val ii = idx.as("a")
      .join(idx.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .agg(count(lit(1)).as("ii"))
    // prune on the upper bound; the margin keeps every pair whose
    // TRUE jaccard could still round up across the threshold
    val margin = 0.5e-4
    // referenced three times below (two id-unions + the verify join)
    val cand = sc.cache(ii
      .join(docStats.as("da"), col("doc_a") === col("da.id"))
      .join(docStats.as("db"), col("doc_b") === col("db.id"))
      .withColumn("ub_inter",
        col("ii") + least(col("da.hid"), col("db.hid")))
      .filter(col("ub_inter").cast("double") /
        (col("da.sz") + col("db.sz") - col("ub_inter")).cast("double")
        >= threshold - margin)
      .select("doc_a", "doc_b"))
    // Exact Jaccard on the FULL string shingle sets of the (few)
    // survivors — re-derived from the docs scan for candidate docs
    // only (the corpus-wide array materialization would dominate the
    // whole operator at scale); joined below as both sides of the
    // verification — cached so the candidate semi-join + set
    // collection compute once
    val sets = sc.cache(candidateSets(docs, idCol, textCol, shingleN, cand,
        Seq("doc_a", "doc_b")))
    val result = cand
      .join(sets.as("x"), col("doc_a") === col("x.id"))
      .join(sets.as("y"), col("doc_b") === col("y.id"))
      .withColumn("inter", size(array_intersect(col("x.sh"), col("y.sh"))))
      .withColumn("jaccard", round(
        col("inter").cast("double") /
          (size(col("x.sh")) + size(col("y.sh")) - col("inter"))
            .cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
    sc.keep(result)
  }

  /** Shared df-capped inverted-index kernel of [[jaccardPairsExact]]
    * and [[containmentPairs]]: distinct `(id, shingle)` rows with the
    * corpus document frequency attached to every row in ONE shuffle.
    *
    * Per-doc distinctness comes from the native array expression INSIDE
    * the scan projection — a dropDuplicates here would shuffle the
    * corpus-sized row stream just to dedupe within documents. The df
    * aggregation (plain count == countDistinct on distinct rows,
    * single-phase) and the join's probe side both hash-partition the
    * same `inv` subplan on `s`, so Spark's exchange reuse materializes
    * ONE physical shuffle of the corpus; the cached joined table is
    * partitioned by `s`, which the candidate self-join then reuses
    * without another exchange.
    *
    * From that one pass:
    *  - `idx`: rows whose shingle has df in `[2, maxShingleDf]`
    *    (df < 2 never pairs — keeps the self-join off the long
    *    unique-shingle tail; the cap bounds per-shingle fan-out);
    *  - `docStats`: `(id, sz, hid)` — full distinct set size, and the
    *    count of over-cap ("hidden") shingles that loosen the
    *    intersection upper bound. df==1 singletons occur in exactly one
    *    document and contribute to no intersection, so they are never
    *    counted hidden.
    *
    * Returns `(idx, docStats)`, read through a cache `sc` owns;
    * previously these came from three separate corpus passes (set-size aggregation,
    * broadcast over-cap probe, pairable semi-join) each with its own
    * cache.
    */
  private def cappedInvertedIndex(sc: Scope, docs: DataFrame,
                                  idCol: String, textCol: String,
                                  shingleN: Int, maxShingleDf: Int)
      : (DataFrame, DataFrame) = {
    // shingle strings die IN THE SCAN PROJECTION: the inverted index
    // keys on xxhash64, so every downstream shuffle — the df
    // aggregation, the df join, the pair self-join — moves 8-byte
    // longs, never n-gram strings (at corpus scale the string index
    // was the kernel's dominant shuffle). Correctness effects of a
    // 64-bit collision, both vanishing: it can ADD a spurious
    // candidate pair (harmless — the exact verification that decides
    // the output runs on the true string sets, [[candidateSets]]),
    // or it can merge two sub-cap shingles past the df cap and so
    // SUPPRESS a candidate whose only shared shingle was legitimately
    // indexable (the `hid` upper-bound term keeps the similarity
    // bound sound, but the pair is never generated). Losing a true
    // pair that way needs a 64-bit collision on that pair's only
    // shared indexed shingle (~2⁻⁶⁴ per pair — far below the graded
    // rounding grid), which is the whole argument.
    val inv = shingleSets(docs, idCol, textCol, shingleN)
      .select(col("id"), explode(col("sh")).as("sr"))
      .select(col("id"), xxhash64(col("sr")).as("s"))
    val dfTab = inv.groupBy("s").agg(count(lit(1)).as("df"))
    val withDf = sc.cache(inv.join(dfTab, Seq("s")))
    val docStats = withDf.groupBy("id").agg(
      count(lit(1)).as("sz"),
      (if (maxShingleDf == Int.MaxValue) lit(0L)
       else sum(when(col("df") > maxShingleDf, 1L).otherwise(0L)))
        .as("hid"))
    val idx = withDf.filter(col("df") >= 2 &&
        (if (maxShingleDf == Int.MaxValue) lit(true)
         else col("df") <= maxShingleDf))
      .select("id", "s")
    (idx, docStats)
  }

  /** Full distinct shingle SETS (strings) for documents appearing in a
    * candidate pair: a second scan of the docs table restricted by a
    * candidate-id semi-join — map-side work plus a candidate-sized
    * join, with NO corpus-wide string shuffle (the hashed kernel table
    * cannot serve verification: exact intersections need the strings,
    * including df==1 and over-cap shingles). */
  private def candidateSets(docs: DataFrame, idCol: String,
                            textCol: String, shingleN: Int,
                            cand: DataFrame,
                            idCols: Seq[String]): DataFrame = {
    val ids = idCols.map(c => cand.select(col(c).as("cid")))
      .reduce(_.unionByName(_)).distinct()
    shingleSets(docs, idCol, textCol, shingleN)
      .join(ids, col("id") === col("cid"), "left_semi")
      .select("id", "sh")
  }

  /** Shingle-containment pairs — the ASYMMETRIC near-dup detector:
    * `(inner_doc, outer_doc, containment)` where
    * `containment = |inner ∩ outer| / |inner| ≥ threshold`. Jaccard
    * misses exactly these (a page quoted inside a 100× larger page has
    * tiny Jaccard but containment ≈ 1); quote/subset detection is how
    * training pipelines catch wrapper pages, syndicated copies, and
    * documents embedded in boilerplate.
    *
    * Same execution contract as [[jaccardPairsExact]]: candidates must
    * co-occur on an indexed shingle (document frequency in
    * `[2, maxShingleDf]` — the cap bounds per-shingle fan-out at
    * corpus scale and is part of the semantics), the indexed-
    * intersection upper bound `ii + min(hidden)` prunes before any
    * full-set materialization, and the exact containment is computed
    * on the FULL shingle sets of surviving documents only. Both
    * directions of every candidate pair are evaluated; a mutual
    * near-dup emits two rows.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       threshold: Double, shingleN: Int = 3,
                       maxShingleDf: Int = Int.MaxValue): DataFrame = Exec.scope { sc =>
    require(threshold > 0.0 && threshold <= 1.0,
      "containment threshold must be in (0, 1]")
    require(maxShingleDf >= 2,
      "a document-frequency cap below 2 drops every co-occurring shingle " +
        "and no pair can ever be reported")
    val (idx, docStats) =
      cappedInvertedIndex(sc, docs, idCol, textCol, shingleN, maxShingleDf)
    val ii = idx.as("a")
      .join(idx.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .agg(count(lit(1)).as("ii"))
    // prune: true intersection <= ii + min(hidden); a pair survives if
    // EITHER direction's containment bound could still round over the
    // threshold
    val margin = 0.5e-4
    val cand = sc.cache(ii
      .join(docStats.as("da"), col("doc_a") === col("da.id"))
      .join(docStats.as("db"), col("doc_b") === col("db.id"))
      .withColumn("ub_inter",
        (col("ii") + least(col("da.hid"), col("db.hid"))).cast("double"))
      .filter(col("ub_inter") / col("da.sz") >= threshold - margin ||
        col("ub_inter") / col("db.sz") >= threshold - margin)
      .select("doc_a", "doc_b"))
    val sets = sc.cache(candidateSets(docs, idCol, textCol, shingleN, cand,
        Seq("doc_a", "doc_b")))
    val withInter = cand
      .join(sets.as("x"), col("doc_a") === col("x.id"))
      .join(sets.as("y"), col("doc_b") === col("y.id"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("x.sh"), col("y.sh")))
          .cast("double").as("inter"),
        size(col("x.sh")).cast("double").as("sa"),
        size(col("y.sh")).cast("double").as("sb"))
    val dirA = withInter.select(col("doc_a").as("inner_doc"),
      col("doc_b").as("outer_doc"),
      round(col("inter") / col("sa"), 4).as("containment"))
    val dirB = withInter.select(col("doc_b").as("inner_doc"),
      col("doc_a").as("outer_doc"),
      round(col("inter") / col("sb"), 4).as("containment"))
    val result = dirA.unionByName(dirB)
      .filter(col("containment") >= threshold)
    sc.keep(result)
  }

  /** Exact Jaccard for given candidate pairs over a shingle-row table:
    * |A∩B| from the pair-restricted shingle join, |A|,|B| from per-doc
    * counts. Pairs sharing zero shingles drop out of the join — their
    * Jaccard is 0, below any positive threshold.
    */
  /** Per-document LSH band keys `(id, band, key)` — the shared
    * candidate-generation kernel of [[minhashPairs]] and
    * [[incrementalNearDups]].
    *
    * Signatures run over the RAW (non-distinct) shingle rows — min
    * over a multiset equals min over its set, so the corpus-wide
    * distinct shuffle is skipped entirely; exact set semantics are
    * only materialized later, restricted to candidate documents.
    * ONE md5 per (doc, shingle) row → K min aggregates: Catalyst
    * expression trees are not DAGs, so computing the signature inside
    * nested array lambdas would re-hash every shingle once per seed;
    * the row formulation hashes once and the K minima are codegen'd
    * partial aggregates (map-side combine — the shape that scales).
    */
  private def bandKeys(docs: DataFrame, idCol: String, textCol: String,
                       shingleN: Int, k: Int, bands: Int,
                       rowsPerBand: Int): DataFrame = {
    require(bands * rowsPerBand == k, "signature must split evenly into bands")
    val hashed = shingleRowsRaw(docs, idCol, textCol, shingleN)
      .withColumn("h", token60(col("s")) % MinhashP)
    val minCols = (0 until k).map(i =>
      min(pmod(col("h") * (2 * i + 1) + lit(7919L * i), lit(MinhashP)))
        .as(s"m$i"))
    hashed.groupBy("id")
      .agg(minCols.head, minCols.tail: _*)
      .select(col("id"),
        array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
      .select(col("id"),
        posexplode(lshBandKeys(col("sig"), bands, rowsPerBand))
          .as(Seq("band", "key")))
  }

  /** Incremental near-duplicate detection — the PRODUCTION dedup mode:
    * flag documents of an incoming `batch` that near-duplicate any
    * document of the existing `corpus`, WITHOUT the corpus×corpus
    * self-join (the corpus side only computes band keys). Same MinHash/LSH
    * parameters and verification semantics as [[minhashPairs]]:
    * candidates share ≥ 1 band key, verified by exact Jaccard ≥
    * `threshold` on full shingle sets. Id spaces of the two inputs must
    * be disjoint (the verification index unions both sides).
    *
    * Returns ONE row per batch document: `(<idCol>, is_dup,
    * n_dup_matches)` — clean rows included (is_dup = false), so the
    * result is a routing table for the ingest decision.
    *
    * `checkDisjoint = false` skips the eager disjointness probe (a
    * left-semi scan of both id columns at call time) for production
    * ingest paths that guarantee disjointness structurally — e.g. batch
    * ids minted from a sequence the corpus ids can never reach. The
    * precondition itself still holds: violating it silently corrupts
    * jaccard sizes (see below).
    */
  def incrementalNearDups(batch: DataFrame, corpus: DataFrame,
                          idCol: String, textCol: String,
                          threshold: Double, shingleN: Int = 3,
                          k: Int = 12, bands: Int = 6,
                          rowsPerBand: Int = 2,
                          checkDisjoint: Boolean = true): DataFrame = Exec.scope { sc =>
    require(bands * rowsPerBand == k, "signature must split evenly into bands")
    require(threshold > 0.0,
      "threshold must be positive: zero-similarity candidate pairs drop " +
        "out of the verification join and cannot be reported")
    // the verification index unions both sides on the id — an id in
    // both inputs would silently corrupt sizes (|A| double-counted →
    // jaccard roughly halved → dups routed as clean), so enforce the
    // disjointness precondition with a limit-1 probe (id columns only,
    // pruned scans; the operator is eager anyway)
    if (checkDisjoint)
      require(batch.select(col(idCol))
          .join(corpus.select(col(idCol)), Seq(idCol), "left_semi")
          .isEmpty,
        "batch and corpus id spaces must be disjoint")
    def keys(docs: DataFrame): DataFrame =
      bandKeys(docs, idCol, textCol, shingleN, k, bands, rowsPerBand)
    val cand = sc.cache(keys(batch).as("a")
      .join(keys(corpus).as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .distinct())
    // exact-set verification restricted to candidate documents on
    // BOTH sides, exactly like minhashPairs
    def candShingles(docs: DataFrame, side: String): DataFrame =
      shingleRowsRaw(docsInCandidates(docs, idCol, cand, Seq(side)),
        idCol, textCol, shingleN).distinct()
    val inv = sc.cache(candShingles(batch, "doc_a")
      .unionByName(candShingles(corpus, "doc_b")))
    val matches = jaccardOfPairs(cand, inv, threshold)
      .groupBy("doc_a").agg(count(lit(1)).as("n_dup_matches"))
    val result = batch.select(col(idCol))
      .join(matches, col(idCol) === col("doc_a"), "left")
      .select(col(idCol),
        col("n_dup_matches").isNotNull.as("is_dup"),
        coalesce(col("n_dup_matches"), lit(0L)).as("n_dup_matches"))
    sc.keep(result)
  }

  private def jaccardOfPairs(cand: DataFrame, inv: DataFrame,
                             threshold: Double): DataFrame = {
    val sizes = inv.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = cand
      .join(inv.as("ia"), col("doc_a") === col("ia.id"))
      .join(inv.as("ib"),
        col("doc_b") === col("ib.id") && col("ia.s") === col("ib.s"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.id"))
      .withColumn("jaccard", round(
        col("inter").cast("double") /
          (col("sa.n") + col("sb.n") - col("inter")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** SimHash near-dup pairs: 60-bit simhash over distinct tokens,
    * banded into 4×15-bit segments (pigeonhole: hamming ≤ 3 ⇒ at least
    * one identical segment), candidates from the segment equi-join,
    * verified by exact Hamming distance.
    *
    * The banded join runs over DISTINCT simhash values, not documents:
    * on corpora where many documents share a fingerprint (dup-heavy, or
    * small vocabularies), this collapses the quadratic candidate
    * explosion to the number of distinct fingerprints; surviving value
    * pairs are expanded back to document pairs by two equi-joins.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = Exec.scope { sc =>
    require(maxHamming >= 0 && maxHamming <= 3,
      "the 4x15-bit banding guarantees candidate recall only for " +
        "hamming <= 3 (pigeonhole); larger radii would silently drop pairs")
    // Fingerprints via the native single-pass SimHash expression — one
    // codegen'd call per document inside the scan projection, no row
    // explosion, no 60-aggregate tree, no shuffle before the
    // fingerprint exists. (The two historical formulations both taxed
    // scale: the array-lambda version re-evaluates its token-hash
    // argument twice per bit — Catalyst expression trees are not
    // DAGs — and the explode+aggregate version shuffled a corpus-sized
    // (doc, token) table.)
    // referenced 5x downstream (distinct values, both expansion joins,
    // both sides of the same-fingerprint join) → persist
    val sims = sc.cache(widen(docs, idCol)
      .select(col(idCol).as("id"),
        simhash60(words(col(textCol))).as("sim")))
    val uniq = sims.select("sim").distinct()
    val banded = uniq.select(col("sim"),
      posexplode(transform(sequence(lit(0), lit(3)), b =>
        shiftrightByCol(col("sim"), b * 15) % 32768))
        .as(Seq("band", "seg")))
    // hamming filter BEFORE the distinct: the band join emits one row
    // per shared segment (up to 4 per value pair), and the codegen'd
    // bit_count filter discards the far-apart majority map-side — the
    // distinct then shuffles only the surviving near pairs, not every
    // segment collision
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.seg") === col("b.seg") &&
          col("a.sim") < col("b.sim"))
      .select(col("a.sim").as("sim_a"), col("b.sim").as("sim_b"),
        hamming(col("a.sim"), col("b.sim")).cast("int").as("hamming_dist"))
      .filter(col("hamming_dist") <= maxHamming)
      .distinct()
    val crossPairs = cand
      .join(sims.as("x"), col("sim_a") === col("x.sim"))
      .join(sims.as("y"), col("sim_b") === col("y.sim"))
      .select(least(col("x.id"), col("y.id")).as("doc_a"),
              greatest(col("x.id"), col("y.id")).as("doc_b"),
              col("hamming_dist"))
    val samePairs = sims.as("x")
      .join(sims.as("y"),
        col("x.sim") === col("y.sim") && col("x.id") < col("y.id"))
      .select(col("x.id").as("doc_a"), col("y.id").as("doc_b"),
              lit(0).cast("int").as("hamming_dist"))
    sc.keep(crossPairs.unionByName(samePairs))
  }

  private def shiftrightByCol(e: Column, n: Column): Column =
    call_function("shiftright", e, n)

  /** Transitive closure of a near-dup pair list: every document that
    * appears in a pair gets a `cluster_id` — the MINIMUM doc id
    * reachable through pair edges — so "keep one per duplicate
    * cluster" becomes `filter(id === cluster_id)`. This is the step
    * that turns pairwise similarity into actual deduplication (A≈B and
    * B≈C must collapse to ONE survivor even when A≉C directly).
    *
    * Algorithm: iterative min-label propagation (each round every node
    * takes the min label among itself and its neighbors) — the same
    * driver-coordinated iterate-until-converged shape as the
    * reference's training loop (`/root/reference/kernel.cu:135-217`),
    * here with an exact fixpoint test. Rounds needed = component
    * diameter, and near-dup clusters are small and dense (diameter a
    * handful), so the loop is short; each round is one edge-join +
    * min-aggregate, fully distributed. `maxIters` bounds pathological
    * chain-shaped graphs; hitting it raises rather than returning a
    * half-converged labeling.
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "doc_a",
                          bCol: String = "doc_b",
                          maxIters: Int = 25): DataFrame = Exec.scope { sc =>
    // Lineage MUST be truncated every round: a DataFrame loop otherwise
    // nests each round's plan inside the next (branching ×2 through the
    // self-join), and after k rounds the analyzer walks a 2^k-node tree
    // rooted at the full upstream pipeline — driver OOM long before the
    // data is big. Eager localCheckpoint replaces the plan with the
    // materialized RDD, so every round plans against a constant-size
    // tree; the checkpoint storage is graph-sized (nodes+edges).
    val edges = sc.checkpoint(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst"))))
    var labels = sc.checkpoint(edges.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id")))
    // labels only ever DECREASE (every step is a min), so the label
    // checksum is monotone non-increasing and equality across rounds
    // is an exact fixpoint test — ONE action per round instead of a
    // separate change-count join. decimal(38,0) so huge id sums
    // cannot overflow the comparison.
    def checksum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("lbl").cast("decimal(38,0)")).as("s"))
        .head().getDecimal(0)
    var sum0 = if (labels.isEmpty) null else checksum(labels)
    var converged = sum0 == null
    var i = 0
    while (!converged && i < maxIters) {
      // one neighbor-propagation step: min over incoming neighbor
      // labels, folded with the node's own label via a left join +
      // least (no Union: checkpointed-plan attributes trip Union
      // constraint rewriting, and the join form shuffles less anyway)
      val nbr = edges.join(labels, col("dst") === col("id"))
        .groupBy(col("src")).agg(min(col("lbl")).as("nlbl"))
      val neighborMin = labels.join(nbr, col("id") === col("src"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
      // ...then POINTER JUMPING (take my label's own label), which
      // shortcuts chains so rounds grow with log(diameter), not
      // diameter — a chain of 2^k collapses in ~k rounds
      val next = sc.checkpoint(neighborMin.as("a")
        .join(neighborMin
            .select(col("id").as("lid"), col("lbl").as("llbl")).as("b"),
          col("a.lbl") === col("lid"), "left")
        .select(col("a.id").as("id"),
          least(col("a.lbl"), coalesce(col("llbl"), col("a.lbl"))).as("lbl")))
      val sum1 = checksum(next)
      sc.release(labels)
      labels = next
      converged = sum1.compareTo(sum0) == 0
      sum0 = sum1
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"label propagation did not converge in $maxIters rounds " +
        "(component diameter exceeds the bound)")
    sc.keep(labels.select(col("id"), col("lbl").as("cluster_id")))
  }

  /** Embedding-cosine near-dup pairs — brute force all-pairs. This is
    * the ground-truth BASELINE (exact recall, O(n²)); the default scale
    * path is [[embeddingPairsBucketed]], which finds the same
    * high-cosine pairs through an LSH-bucket equi-join. Keep this
    * variant for verification corpora and recall measurement only.
    */
  def embeddingPairs(emb: DataFrame, idCol: String, vecCol: String,
                     threshold: Double): DataFrame = {
    // norms are computed once per vector so each pair costs ONE dot
    // product instead of three full array traversals
    val v = widen(emb, idCol).select(col(idCol).as("id"), col(vecCol).as("v"),
      VectorFunctions.norm(col(vecCol)).as("nrm"))
    v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
      .withColumn("cosine", round(
        VectorFunctions.dot(col("a.v"), col("b.v")) /
          (col("a.nrm") * col("b.nrm")), 4))
      .filter(col("cosine") >= threshold)
      .select(col("a.id").as("vec_a"), col("b.id").as("vec_b"), col("cosine"))
  }

  /** Embedding-cosine near-dup pairs via BANDED sign-random-projection
    * LSH — the scale-safe DEFAULT. The plane matrix is cut into
    * `bands` independent hash tables of `planesPerBand` hyperplanes
    * each (the minhash-banding structure transplanted to cosine
    * space); a vector's key in band b is `b·2^P + bucket_b` (the band
    * offset keeps keys from different bands disjoint, so candidate
    * generation is ONE equi-join on a single long column). Candidates
    * — pairs agreeing on every sign within at least one band — are
    * then cosine-verified against `threshold`. Never an all-pairs
    * cross join.
    *
    * Recall for a pair with cosine c is `1 − (1 − p^P)^L` with
    * `p = 1 − arccos(c)/π` (per-hyperplane sign-agreement): the
    * defaults (P=4, L=12) give ≈0.93 at c=0.5 and ≈0.97 at c=0.7,
    * measured against the [[embeddingPairs]] ground truth in the test
    * suite. Raise `planesPerBand` when the threshold is high (0.9+)
    * to keep candidate volume sub-quadratic; the (P, L) pair is the
    * recall/cost dial exactly like (rowsPerBand, bands) in
    * [[minhashPairs]]. On a cluster the banded table is partitioned by
    * key, so per-key fan-out — not corpus size — bounds the join.
    */
  def embeddingPairsBucketed(emb: DataFrame, idCol: String, vecCol: String,
                             threshold: Double, planesPerBand: Int = 4,
                             bands: Int = 12,
                             dim: Int = 64): DataFrame = Exec.scope { sc =>
    val planes = VectorFunctions.randomPlanes(planesPerBand * bands, dim)
    // referenced 3x (both sides of the band self-join via `banded`,
    // plus the two verification joins)
    val v = sc.cache(widen(emb, idCol).select(col(idCol).as("id"),
        col(vecCol).as("v"), VectorFunctions.norm(col(vecCol)).as("nrm")))
    // band-key table stays NARROW (id, key) — embedding payloads are
    // re-joined only for surviving candidates, so the band fan-out
    // never multiplies vector data through the shuffle
    val keyCols = (0 until bands).map { b =>
      lit(b.toLong << planesPerBand) + VectorFunctions.lshBucket(col("v"),
        planes.slice(b * planesPerBand, (b + 1) * planesPerBand))
    }
    val banded = v.select(col("id"), explode(array(keyCols: _*)).as("key"))
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.key") === col("b.key") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val result = cand
      .join(v.as("x"), col("id_a") === col("x.id"))
      .join(v.as("y"), col("id_b") === col("y.id"))
      .withColumn("cosine", round(
        VectorFunctions.dot(col("x.v"), col("y.v")) /
          (col("x.nrm") * col("y.nrm")), 4))
      .filter(col("cosine") >= threshold)
      .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"), col("cosine"))
    sc.keep(result)
  }
}
