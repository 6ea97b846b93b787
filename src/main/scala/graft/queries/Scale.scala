package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
// cross-engine deterministic rounding shadows functions.round
import graft.functions.Rounding.{roundTo => round}

import graft.Tables
import graft.functions.TextFunctions.words
import graft.operators.{Bloom, Frequent, KMeans, Spans}

/** Round-4 scale operators: corpus-level exact span dedup, bounded-
  * memory heavy hitters, iterative k-means, and Bloom-filter
  * decontamination. Oracle discipline matches [[Pipeline]] /
  * [[Curation]] (shared md5 hash kernel, shared rounding kernel,
  * integer casts, unique-key ordering).
  */
object Scale {
  // ---------------------------------------------------------------- q88
  /** Corpus-level exact span dedup ([[Spans.dropRepeatedSpans]]): the
    * corpus has no natural verbatim boilerplate, so the query
    * deterministically PREPENDS a 20-word license header (= exactly two
    * stride-aligned 10-word spans) to every third document — the
    * operator must drop precisely those spans from every affected
    * document and fingerprint the surviving text. Injection, like
    * q77's PII, keeps the oracle non-vacuous. */
  private val boiler =
    "this dataset is released under the creative commons attribution " +
      "license please retain this header when redistributing copies of " +
      "the corpus"

  private def q88(s: SparkSession, d: String): DataFrame = {
    val injected = Tables.documents(s, d)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit(boiler + " "), col("text")))
          .otherwise(col("text")).as("text"))
    Spans.dropRepeatedSpans(injected, "doc_id", "text",
        block = 10, maxOcc = 1)
      .orderBy("doc_id")
  }

  private val q88Sql =
    s"""WITH inj AS (SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN '$boiler ' || text
                ELSE text END AS text
         FROM documents),
       ws AS (SELECT doc_id, regexp_split_to_array(trim(text),'\\s+') AS w
              FROM inj),
       blk AS (SELECT doc_id, i AS blk,
                 array_to_string(w[(i*10+1):(i*10+10)], ' ') AS btxt
               FROM (SELECT doc_id, w,
                       unnest(range(0, (len(w)+9)//10)) AS i
                     FROM ws) t),
       bh AS (SELECT doc_id, blk, btxt,
                ('0x' || substr(md5(btxt),1,15))::BIGINT AS bh
              FROM blk),
       freq AS (SELECT bh, count(*) AS occ FROM bh GROUP BY bh),
       mk AS (SELECT b.doc_id, b.blk, b.btxt, f.occ <= 1 AS keep
              FROM bh b JOIN freq f USING (bh))
       SELECT doc_id, count(*) AS n_blocks,
         CAST(count(*) FILTER (keep) AS BIGINT) AS n_kept,
         md5(coalesce(string_agg(btxt, ' ' ORDER BY blk) FILTER (keep),
           '')) AS clean_fp
       FROM mk GROUP BY doc_id ORDER BY doc_id"""

  // ---------------------------------------------------------------- q89
  /** Bounded-memory heavy hitters ([[Frequent.MisraGriesAgg]]): top-20
    * corpus tokens from the Misra-Gries sketch, run in its exactness
    * regime (capacity ≥ corpus vocabulary) so the full value oracle is
    * the exact frequency table; the N/(capacity+1) error bound under
    * capacity pressure is property-tested in FrequentSpec. */
  private def q89(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select(explode(words(col("text"))).as("tok")).as[String]
    // the typed aggregate's product output flattens into (keys, counts)
    val sketch = toks.select(
      new Frequent.MisraGriesAgg(4096).toColumn.name("sk"))
    sketch.toDF()
      .select(posexplode(arrays_zip(col("keys"), col("counts")))
        .as(Seq("i", "kc")))
      .select((col("i") + 1).cast("int").as("rank"),
        col("kc.keys").as("word"), col("kc.counts").as("freq"))
      .filter(col("rank") <= 20)
      .orderBy("rank")
  }

  private val q89Sql =
    """WITH toks AS (SELECT unnest(regexp_split_to_array(trim(text),'\s+'))
           AS w FROM documents),
       f AS (SELECT w, count(*) AS freq FROM toks GROUP BY w)
       SELECT CAST(row_number() OVER (ORDER BY freq DESC, w) AS INT) AS rank,
         w AS word, CAST(freq AS BIGINT) AS freq
       FROM f ORDER BY freq DESC, w LIMIT 20"""

  // ---------------------------------------------------------------- q90
  /** Iterative k-means ([[KMeans.lloyd]]): 2 Lloyd rounds, k = 8, from
    * deterministic lowest-id seeds, with the quantized-distance /
    * quantized-centroid reproducibility semantics documented on the
    * operator. The oracle unrolls both rounds plus the final assignment
    * as CTEs — every centroid coordinate, every assignment, and every
    * cluster's inertia is value-checked. */
  private def q90(s: SparkSession, d: String): DataFrame =
    KMeans.lloyd(Tables.embeddings(s, d), "vec_id", "embedding",
        k = 8, iters = 2)
      .orderBy("cid")

  private def kmRound(in: String, cIn: String, a: String, b: String,
                      cOut: String): String =
    s"""$a AS (SELECT vec_id, v, cid,
           round(greatest(0, list_dot_product(v,v) + list_dot_product(cv,cv)
             - 2*list_dot_product(v,cv)), 6) AS d2
         FROM $in CROSS JOIN $cIn),
       $b AS (SELECT vec_id, v, cid, d2 FROM (
           SELECT *, row_number() OVER (PARTITION BY vec_id
             ORDER BY d2, cid) AS rn FROM $a) WHERE rn = 1),
       $cOut AS (SELECT cid, list(m ORDER BY pos) AS cv FROM (
           SELECT cid, pos, round(avg(v[pos+1]), 6) AS m
           FROM $b, range(0, 64) t(pos) GROUP BY cid, pos)
         GROUP BY cid)"""

  private val q90Sql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
                AS cid,
              list_transform(v, x -> round(x, 6)) AS cv
         FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)),
       ${kmRound("e", "c0", "a1", "b1", "c1")},
       ${kmRound("e", "c1", "a2", "b2", "c2")},
       af AS (SELECT vec_id, cid,
           round(greatest(0, list_dot_product(v,v) + list_dot_product(cv,cv)
             - 2*list_dot_product(v,cv)), 6) AS d2
         FROM e CROSS JOIN c2),
       bf AS (SELECT vec_id, cid, d2 FROM (
           SELECT *, row_number() OVER (PARTITION BY vec_id
             ORDER BY d2, cid) AS rn FROM af) WHERE rn = 1)
       SELECT cid, count(*) AS n_members, round(sum(d2), 4) AS inertia
       FROM bf GROUP BY cid ORDER BY cid"""

  // --------------------------------------------------------------- q156
  /** Product quantization ([[graft.operators.Pq.codebookStats]]):
    * 64-dim embeddings split into m=4 subspaces of 16 dims, one Lloyd
    * round per subspace codebook (k=4, test-sized; production k=256 is
    * the same plan), all subspaces trained in ONE distributed job. The
    * oracle unrolls seeding, the round, and the final encode per
    * subspace as CTEs — every codebook coordinate, every code
    * assignment and every subspace's quantization error is
    * value-checked. */
  private def q156(s: SparkSession, d: String): DataFrame =
    graft.operators.Pq.codebookStats(Tables.embeddings(s, d), "vec_id",
        "embedding", dim = 64, m = 4, k = 4, iters = 1)
      .orderBy("sub", "cid")

  private def pqRound(in: String, cIn: String, a: String, b: String,
                      cOut: String): String =
    s"""$a AS (SELECT $in.vec_id, $in.s, $in.sv, $cIn.cid,
           round(greatest(0, list_dot_product(sv,sv)
             + list_dot_product(cv,cv)
             - 2*list_dot_product(sv,cv)), 6) AS d2
         FROM $in JOIN $cIn ON $in.s = $cIn.s),
       $b AS (SELECT vec_id, s, sv, cid, d2 FROM (
           SELECT *, row_number() OVER (PARTITION BY vec_id, s
             ORDER BY d2, cid) AS rn FROM $a) WHERE rn = 1),
       $cOut AS (SELECT s, cid, list(m ORDER BY pos) AS cv FROM (
           SELECT s, cid, pos, round(avg(sv[pos+1]), 6) AS m
           FROM $b, range(0, 16) t(pos) GROUP BY s, cid, pos)
         GROUP BY s, cid)"""

  private val q156Sql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
           FROM embeddings WHERE len(embedding) = 64),
       subv AS (SELECT vec_id, s, list_slice(v, s*16+1, s*16+16) AS sv
           FROM e, range(0, 4) t(s)),
       c0 AS (SELECT s, CAST(row_number() OVER (PARTITION BY s
               ORDER BY vec_id) - 1 AS INT) AS cid,
             list_transform(sv, x -> round(x, 6)) AS cv
           FROM subv WHERE vec_id IN
             (SELECT vec_id FROM e ORDER BY vec_id LIMIT 4)),
       ${pqRound("subv", "c0", "a1", "b1", "c1")},
       af AS (SELECT subv.vec_id, subv.s, subv.sv, c1.cid,
           round(greatest(0, list_dot_product(sv,sv)
             + list_dot_product(cv,cv)
             - 2*list_dot_product(sv,cv)), 6) AS d2
         FROM subv JOIN c1 ON subv.s = c1.s),
       bf AS (SELECT vec_id, s, cid, d2 FROM (
           SELECT *, row_number() OVER (PARTITION BY vec_id, s
             ORDER BY d2, cid) AS rn FROM af) WHERE rn = 1)
       SELECT CAST(s AS INT) AS sub, cid, count(*) AS n_vectors,
         round(sum(d2), 4) AS inertia
       FROM bf GROUP BY s, cid ORDER BY sub, cid"""

  // --------------------------------------------------------------- q157
  /** ADC search over PQ codes ([[graft.operators.Pq.adcTopK]]): the
    * q156 codebook encodes the corpus into m=4 small-int codes per
    * vector; each query (the 3 lowest ids) builds its m·k lookup table
    * of subspace distances and corpus vectors rank by the SUM of
    * looked-up entries — approximate nearest neighbors without
    * touching a corpus vector after encode. Micro-unit integer
    * distances make the ranking engine-exact; the oracle replays
    * codebook, codes, LUT and ranking in SQL. */
  private def q157(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    graft.operators.Pq.adcTopK(emb, emb.filter(col("vec_id") < 3),
        "vec_id", "embedding", dim = 64, m = 4, k = 4, iters = 1,
        topK = 5)
      .orderBy("query_id", "rank")
  }

  private val q157Sql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
           FROM embeddings WHERE len(embedding) = 64),
       subv AS (SELECT vec_id, s, list_slice(v, s*16+1, s*16+16) AS sv
           FROM e, range(0, 4) t(s)),
       c0 AS (SELECT s, CAST(row_number() OVER (PARTITION BY s
               ORDER BY vec_id) - 1 AS INT) AS cid,
             list_transform(sv, x -> round(x, 6)) AS cv
           FROM subv WHERE vec_id IN
             (SELECT vec_id FROM e ORDER BY vec_id LIMIT 4)),
       ${pqRound("subv", "c0", "a1", "b1", "c1")},
       af AS (SELECT subv.vec_id, subv.s, c1.cid,
           round(greatest(0, list_dot_product(sv,sv)
             + list_dot_product(cv,cv)
             - 2*list_dot_product(sv,cv)), 6) AS d2
         FROM subv JOIN c1 ON subv.s = c1.s),
       codes AS (SELECT vec_id, s, cid FROM (
           SELECT *, row_number() OVER (PARTITION BY vec_id, s
             ORDER BY d2, cid) AS rn FROM af) WHERE rn = 1),
       qsub AS (SELECT vec_id AS qid, s, sv AS qsv FROM subv
           WHERE vec_id < 3),
       lut AS (SELECT qid, qsub.s, cid,
           CAST(floor(round(greatest(0, list_dot_product(qsv,qsv)
             + list_dot_product(cv,cv)
             - 2*list_dot_product(qsv,cv)), 6) * 1000000 + 0.5) AS BIGINT)
             AS qd2i
         FROM qsub JOIN c1 ON qsub.s = c1.s),
       adc AS (SELECT qid, vec_id, sum(qd2i) AS di
         FROM codes JOIN lut ON codes.s = lut.s AND codes.cid = lut.cid
         WHERE vec_id != qid GROUP BY qid, vec_id)
       SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id,
         round(di / 1000000.0, 6) AS adc_d2
       FROM (SELECT qid AS query_id, vec_id AS neighbor_id, di,
               row_number() OVER (PARTITION BY qid ORDER BY di, vec_id)
                 AS rn FROM adc) r
       WHERE rn <= 5 ORDER BY query_id, rank"""

  // ---------------------------------------------------------------- q91
  /** Bloom-filter decontamination screening ([[Bloom.sketch]] +
    * [[Bloom.screen]]): same benchmark split as q73, but the benchmark
    * n-gram set travels as a fixed-size broadcast bitmap and the corpus
    * pass is map-only. The oracle replays the double-hashing bit math
    * set-theoretically, so every bloom false positive is part of the
    * value check — both engines must agree bit-for-bit. */
  private def q91(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val bench = docs.filter(pmod(col("doc_id"), lit(20)) === 0)
    val corpus = docs.filter(pmod(col("doc_id"), lit(20)) =!= 0)
    Bloom.screen(corpus, Bloom.sketch(bench, "doc_id", "text", n = 3),
        "doc_id", "text", n = 3)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  private val q91Sql = Pipeline.shingleCte +
    """,
       bh AS (SELECT DISTINCT ('0x' || substr(md5(s),1,15))::BIGINT AS h
         FROM (SELECT unnest(sh) AS s FROM sh WHERE doc_id % 20 = 0) t),
       pos AS (SELECT DISTINCT
           (h % 1048576 + i * (1 + h % 1048575)) % 1048576 AS p
         FROM bh, range(0, 3) t(i)),
       ch AS (SELECT doc_id, ('0x' || substr(md5(s),1,15))::BIGINT AS h
         FROM (SELECT doc_id, unnest(sh) AS s FROM sh
               WHERE doc_id % 20 <> 0) t),
       probe AS (SELECT doc_id, h,
           (h % 1048576 + i * (1 + h % 1048575)) % 1048576 AS p
         FROM ch, range(0, 3) t(i)),
       hits AS (SELECT doc_id, h, bool_and(pos.p IS NOT NULL) AS hit
         FROM probe LEFT JOIN pos ON probe.p = pos.p
         GROUP BY doc_id, h),
       rep AS (SELECT doc_id, count(*) AS n_ngrams,
           CAST(count(*) FILTER (hit) AS BIGINT) AS n_flagged
         FROM hits GROUP BY doc_id)
       SELECT doc_id, n_ngrams, n_flagged,
         round(n_flagged::DOUBLE / n_ngrams, 4) AS flag_ratio
       FROM rep WHERE n_flagged > 0 ORDER BY doc_id"""

  // ---------------------------------------------------------------- q92
  /** PageRank ([[Graph.pagerank]]) over the customer↔supplier bipartite
    * trade graph (distinct order-line pairs, symmetrized so the walk
    * has no dangling sinks): 2 damped rounds, top 30 nodes. The oracle
    * unrolls both rounds; the per-round rank quantization (operator
    * contract) is what makes the comparison exact. Nodes travel as
    * LONGS through the per-round joins (even = customer, odd =
    * supplier) and map to the display names only at the end — the hot
    * path shuffles and compares 8-byte keys, not strings. */
  private def q92(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey").cast("long") * 2).as("cn"),
        (col("l_suppkey").cast("long") * 2 + 1).as("sn"))
      .distinct()
    val edges = pairs.select(col("cn").as("src"), col("sn").as("dst"))
      .unionByName(pairs.select(col("sn").as("src"), col("cn").as("dst")))
    graft.operators.Graph.pagerank(edges, damping = 0.85, iters = 2,
      undirected = true)
      .select(
        when(pmod(col("node"), lit(2L)) === 0,
          concat(lit("c"), (col("node") / 2).cast("long")))
          .otherwise(concat(lit("s"), ((col("node") - 1) / 2).cast("long")))
          .as("node"),
        col("rank"))
      .orderBy(col("rank").desc, col("node"))
      .limit(30)
  }

  private def prRound(rIn: String, rOut: String): String =
    s"""$rOut AS (SELECT n.node,
           round((1 - 0.85) / nn.n + 0.85 * coalesce(m.mass, 0), 9) AS rank
         FROM nodes n CROSS JOIN nn
         LEFT JOIN (SELECT w.dst, sum(r.rank * w.w) AS mass
                    FROM $rIn r JOIN wed w ON r.node = w.src
                    GROUP BY w.dst) m ON n.node = m.dst)"""

  private val q92Sql =
    s"""WITH ed0 AS (SELECT DISTINCT 'c' || o_custkey::VARCHAR AS cn,
           's' || l_suppkey::VARCHAR AS sn
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       ed AS (SELECT cn AS src, sn AS dst FROM ed0
              UNION ALL SELECT sn, cn FROM ed0),
       nodes AS (SELECT src AS node FROM ed
                 UNION SELECT dst FROM ed),
       nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
       deg AS (SELECT src, count(*) AS deg FROM ed GROUP BY src),
       wed AS (SELECT e.src, e.dst, 1.0::DOUBLE / d.deg AS w
               FROM ed e JOIN deg d USING (src)),
       r0 AS (SELECT node, round(1.0::DOUBLE / nn.n, 9) AS rank
              FROM nodes, nn),
       ${prRound("r0", "r1")},
       ${prRound("r1", "r2")}
       SELECT node, rank FROM r2 ORDER BY rank DESC, node LIMIT 30"""

  // ---------------------------------------------------------------- q93
  /** One-pass covariance matrix of the embedding corpus
    * ([[Linalg.covariance]], the distributed moment computation under
    * PCA/whitening): all 2080 upper-triangle entries value-checked.
    * q271's integer power iteration is the eigensolve on top of this
    * matrix, driver-side O(d²); the corpus never feeds anything bigger
    * than these moments. */
  private def q93(s: SparkSession, d: String): DataFrame =
    // + 0.0 collapses signed zeros: a near-zero covariance entry
    // rounds to ±0.0 with a sign set by parallel partial-sum order
    // (the q299 flake class) — normalized identically in the oracle
    graft.operators.Linalg.covariance(Tables.embeddings(s, d), "embedding")
      .withColumn("cov", col("cov") + lit(0.0))
      .orderBy("i", "j")

  private val q93Sql =
    """WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
       el AS (SELECT v, unnest(range(0, len(v))) AS i FROM e),
       m AS (SELECT i, avg(v[i+1]) AS m FROM el GROUP BY i),
       p AS (SELECT i, j, sum(v[i+1] * v[j+1]) AS sp, count(*) AS cnt
             FROM (SELECT v, i, unnest(range(i, len(v))) AS j FROM el) t
             GROUP BY i, j)
       SELECT CAST(p.i AS INT) AS i, CAST(p.j AS INT) AS j,
         round(sp / cnt - mi.m * mj.m, 6) + 0.0 AS cov
       FROM p JOIN m mi ON p.i = mi.i JOIN m mj ON p.j = mj.i
       ORDER BY i, j"""

  // --------------------------------------------------------------- q271
  /** PCA top component, ORACLE-GRADED END TO END — q93 grades the
    * covariance moments ([[Linalg.covariance]]) and this query grades
    * the engine's eigensolve: 12 rounds of power iteration run
    * ENTIRELY in integer arithmetic on the 1e-6-unit quantized
    * covariance (the iterate lives on a 1e-12 grid, each round renormalizes by
    * max|w| with integer round-half-up `(2·|w|·10¹² + mw) DIV (2·mw)`
    * times the sign — floor-vs-truncate division never sees a
    * negative), so the DuckDB oracle can UNROLL the identical 12
    * rounds over the same quantized matrix and every loading matches
    * exactly. λ₁ is the Rayleigh quotient of the final iterate and
    * evr = λ₁/trace — both ONE fixed-shape FP division of exact
    * integer sums. We grade the 12-round ITERATE (deterministic), not
    * the limit; at this eigengap it agrees with convergence to ~1e-4.
    *
    * Scale: the corpus feeds ONE moment aggregation (q93's kernel,
    * d(d+1)/2 partials); the iteration is driver-side O(d²·12) on the
    * collected 64×64 matrix — the reference's reduce-to-driver
    * pattern, never corpus-sized. */
  private def q271(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val rows = graft.operators.Linalg
      .covariance(Tables.embeddings(s, d), "embedding")
      .collect() // d(d+1)/2 rows — the sanctioned d² collect
    val dim = rows.iterator.map(_.getInt(1)).max + 1
    val covu = Array.ofDim[Long](dim, dim)
    rows.foreach { r =>
      val u = math.floor(r.getDouble(2) * 1e6 + 0.5).toLong
      covu(r.getInt(0))(r.getInt(1)) = u
      covu(r.getInt(1))(r.getInt(0)) = u
    }
    val unit = BigInt(1000000000000L)
    var v = Array.fill(dim)(unit)
    for (_ <- 1 to 12) {
      val w = Array.tabulate(dim)(i =>
        (0 until dim).map(j => BigInt(covu(i)(j)) * v(j)).sum)
      val mw = w.map(_.abs).max
      if (mw.signum > 0) // zero matrix: iterate stays at the ones start
        v = w.map(x => (x.abs * unit * 2 + mw) / (mw * 2) * x.signum)
    }
    val top = (0 until dim).maxBy(i => (v(i).abs, BigInt(-i)))
    if (v(top).signum < 0) v = v.map(x => -x)
    val vCv = (for (i <- 0 until dim; j <- 0 until dim)
      yield v(i) * BigInt(covu(i)(j)) * v(j)).sum
    val vv = v.map(x => x * x).sum
    val trace = (0 until dim).map(i => covu(i)(i)).sum
    val lam = (vCv.toDouble / vv.toDouble) / 1e6
    val evr = lam / (trace.toDouble / 1e6)
    def q6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    (0 until dim).map(i => (i, q6(v(i).toDouble / 1e12), q6(lam), q6(evr)))
      .toDF("i", "loading", "lambda1", "evr")
  }

  private val q271Sql = {
    val iters = (1 to 12).map { k =>
      s"""w$k AS MATERIALIZED (SELECT f.i, sum(f.cu * v.vu) AS w
           FROM fm f JOIN v${k - 1} v ON v.i = f.j GROUP BY f.i),
       m$k AS MATERIALIZED (SELECT max(abs(w)) AS mw FROM w$k),
       v$k AS MATERIALIZED (SELECT w.i,
             (CASE WHEN w.w < 0 THEN -1 ELSE 1 END) *
             ((2 * abs(w.w) * 1000000000000::HUGEINT + m.mw)
              // (2 * m.mw)) AS vu
           FROM w$k w, m$k m)"""
    }.mkString(",\n       ")
    s"""WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
       el AS (SELECT v, unnest(range(0, len(v))) AS i FROM e),
       mm AS (SELECT i, avg(v[i+1]) AS m FROM el GROUP BY i),
       p AS (SELECT i, j, sum(v[i+1] * v[j+1]) AS sp, count(*) AS cnt
             FROM (SELECT v, i, unnest(range(i, len(v))) AS j FROM el) t
             GROUP BY i, j),
       cq AS MATERIALIZED (SELECT p.i, p.j,
           CAST(floor((sp / cnt - mi.m * mj.m) * 1e6 + 0.5) AS BIGINT)
             AS cu
         FROM p JOIN mm mi ON p.i = mi.i JOIN mm mj ON p.j = mj.i),
       fm AS MATERIALIZED (SELECT i, j, cu FROM cq
              UNION ALL SELECT j, i, cu FROM cq WHERE i != j),
       v0 AS MATERIALIZED (SELECT DISTINCT i, 1000000000000::HUGEINT
              AS vu FROM cq),
       $iters,
       sgn AS (SELECT CASE WHEN (SELECT vu FROM v12
                 ORDER BY abs(vu) DESC, i ASC LIMIT 1) < 0
               THEN -1 ELSE 1 END AS sg),
       vf AS (SELECT i, vu * sg AS vu FROM v12, sgn),
       num AS (SELECT sum(a.vu * f.cu * b.vu) AS vcv
               FROM fm f JOIN vf a ON a.i = f.i JOIN vf b ON b.i = f.j),
       den AS (SELECT sum(vu * vu) AS vv FROM vf),
       tr AS (SELECT CAST(sum(cu) AS BIGINT) AS trace FROM cq
              WHERE i = j)
       SELECT CAST(vf.i AS INT) AS i,
         floor((vf.vu::DOUBLE / 1e12) * 1e6 + 0.5) / 1e6 AS loading,
         floor(((num.vcv::DOUBLE / den.vv::DOUBLE) / 1e6) * 1e6 + 0.5)
           / 1e6 AS lambda1,
         floor((((num.vcv::DOUBLE / den.vv::DOUBLE) / 1e6)
                / (tr.trace::DOUBLE / 1e6)) * 1e6 + 0.5) / 1e6 AS evr
       FROM vf, num, den, tr ORDER BY i"""
  }

  // ---------------------------------------------------------------- q94
  /** Per-group top-k via the bounded-heap aggregator
    * ([[TopK.topKPerGroup]]): top 3 orders per customer by value. Same
    * result set as the q10-style window formulation, but the shuffle
    * carries ≤ k rows per (group, partition) instead of every order —
    * TopKSpec asserts the map-side partial aggregation in the plan and
    * exact agreement with the window. */
  private def q94(s: SparkSession, d: String): DataFrame =
    graft.operators.TopK.topKPerGroup(Tables.orders(s, d),
        "o_custkey", "o_orderkey", "o_totalprice", k = 3)
      .orderBy("o_custkey", "rk")

  private val q94Sql =
    """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INT) AS rk
       FROM (SELECT o_custkey, CAST(o_orderkey AS BIGINT) AS o_orderkey,
               o_totalprice::DOUBLE AS o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey) AS rn
             FROM orders) t
       WHERE rn <= 3 ORDER BY o_custkey, rk"""

  // ---------------------------------------------------------------- q95
  /** Winsorized per-source statistics ([[Quality.winsorize]]): clamp
    * document lengths into each source's exact [p05, p95] band, then
    * report the outlier-robust mean/stddev per source. Quantiles
    * compute once per group and broadcast; the clamp is map-only. */
  private def q95(s: SparkSession, d: String): DataFrame =
    graft.operators.Quality.winsorize(
        Tables.documents(s, d).select(col("source"), col("n_chars")),
        "n_chars", "source")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("win_n_chars")), 4).as("win_mean"),
        round(stddev_samp(col("win_n_chars")), 4).as("win_sd"))
      .orderBy("source")

  private val q95Sql =
    """WITH q AS (SELECT source,
           quantile_cont(n_chars, 0.05) AS qlo,
           quantile_cont(n_chars, 0.95) AS qhi
         FROM documents GROUP BY source),
       w AS (SELECT d.source,
           greatest(q.qlo, least(q.qhi, d.n_chars::DOUBLE)) AS wx
         FROM documents d JOIN q USING (source))
       SELECT source, count(*) AS n_docs,
         round(avg(wx), 4) AS win_mean,
         round(stddev_samp(wx), 4) AS win_sd
       FROM w GROUP BY source ORDER BY source"""

  // ---------------------------------------------------------------- q96
  /** Embedding near-dup CLUSTERS: q53's banded sign-LSH pair list fed
    * through [[graft.operators.Dedup.connectedComponents]] — operator
    * composition closing the embedding-dedup story the same way q71
    * closes the minhash one (pairs → transitive closure → one survivor
    * per cluster). Oracle: q53's generated-plane CTE chain + the same
    * recursive reachability closure as q71's. */
  private def q96(s: SparkSession, d: String): DataFrame =
    // the scope frees the pair list; the kept components are handed on
    graft.operators.Exec.scope { sc =>
      sc.keep(graft.operators.Dedup.connectedComponents(
          graft.operators.Dedup.embeddingPairsBucketed(
            Tables.embeddings(s, d), "vec_id", "embedding", threshold = 0.45),
          aCol = "vec_a", bCol = "vec_b"))
        .orderBy("id")
    }

  private val q96Sql =
    s"""WITH RECURSIVE ${Pipeline.q53PairsCte},
       edges AS (SELECT vec_a AS a, vec_b AS b FROM ep
                 UNION ALL SELECT vec_b, vec_a FROM ep),
       nodes AS (SELECT DISTINCT a AS id FROM edges),
       reach AS (SELECT id, id AS r FROM nodes
                 UNION
                 SELECT e.a, reach.r FROM edges e
                 JOIN reach ON e.b = reach.id)
       SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
       ORDER BY id"""

  // ----------------------------------------------------------------

  val entries: Seq[Query] = Seq(
    Query("q88_span_dedup", q88, q88Sql),
    Query("q89_heavy_hitters", q89, q89Sql),
    Query("q90_kmeans", q90, q90Sql),
    Query("q156_pq_codebook", q156, q156Sql),
    Query("q157_pq_adc", q157, q157Sql),
    Query("q91_bloom_decontam", q91, q91Sql),
    Query("q92_pagerank", q92, q92Sql),
    Query("q93_embedding_cov", q93, q93Sql),
    Query("q271_pca_power", q271, q271Sql),
    Query("q94_topk_agg", q94, q94Sql),
    Query("q95_winsorize", q95, q95Sql),
    Query("q96_embedding_clusters", q96, q96Sql))
}
