package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Rounding.{roundTo => round}

/** Iterative graph analytics on edge tables — PageRank as the second
  * iterate-until-convergence workload next to [[KMeans]] (the
  * reference's whole premise, kernel.cu:190-215, is this loop shape:
  * re-scan a dataset per round, reduce, update a small state, repeat).
  *
  * Execution shape per iteration (what survives a 100 TB edge set):
  *  - the edge table is the big side; it is hash-partitioned ONCE on
  *    `src` and persisted — every iteration's rank⋈edge join reuses
  *    that layout, so each round costs one shuffle of the RANK table
  *    (N rows, ≪ edges) plus one aggregation keyed by `dst`;
  *  - out-degrees are folded into the persisted edge table up front
  *    (`weight = 1/outdeg(src)`), not recomputed per round;
  *  - ranks are QUANTIZED each round (shared rounding kernel, 9
  *    decimals) — same reproducibility contract as [[KMeans]]: the
  *    result is a pure function of the graph, independent of
  *    partitioning, join order, or engine.
  *
  * No GraphX, no RDDs: the loop is plain DataFrame joins, so Catalyst
  * handles pushdown/AQE per round and the plan stays inspectable.
  */
object Graph {

  /** `iters` rounds of damped PageRank over a directed edge table
    * (columns `src`, `dst`; parallel edges should be pre-deduped —
    * each surviving row carries one unit of adjacency). Nodes are the
    * union of both endpoint sets; nodes with no OUT-edges contribute
    * no redistributed mass (standard dangling-sink behavior: their
    * rank drains into the (1−d) teleport term only — callers wanting
    * strict mass conservation should symmetrize their edges first).
    * Pass `undirected = true` when the input IS symmetrized: the src
    * set then equals the node set, which drops the edge-sized
    * endpoint-union pass from the node build (the result is
    * identical). Returns `(node, rank)` quantized to 9 decimals.
    */
  def pagerank(edges: DataFrame, damping: Double = 0.85,
               iters: Int = 2,
               undirected: Boolean = false): DataFrame = Exec.scope { sc =>
    require(iters >= 0, "iters must be >= 0")
    require(damping > 0 && damping < 1, "damping must be in (0, 1)")
    // the edge table is PINNED to hash(src) ONCE, up front: the
    // out-degree aggregation, the weighted-edge join, and every
    // iteration's rank⋈edge join all consume that one layout, so the
    // build shuffles the (corpus-sized) edge table exactly once and
    // the only per-round exchanges move the contrib table (N rows,
    // ≪ edges). The hash-based agg+join degree fold deliberately beats
    // a window over the same layout — the window's per-partition SORT
    // of the full edge set costs more than the two cache scans. Pins
    // are EXPLICIT repartitions, which AQE never coalesces — a
    // distinct's own exchange it does coalesce, the partition-count
    // mismatch that re-shuffled the node table every round and cost
    // q92 its 10×-scale ratio in the round-7 rehearsal.
    val e = sc.cache(Exec.pin(edges.select(col("src"), col("dst")), "src"))
    // 1/outdeg folded into the edge table once — per-round cost is the
    // small rank table's shuffle, not a degree recompute; both the
    // aggregation and the join run exchange-free on e's pinned layout,
    // and `weighted` INHERITS hash(src) through them (no re-pin)
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val weighted = sc.cache(e.join(outdeg, "src")
      .select(col("src"), col("dst"),
        (lit(1.0) / col("deg")).as("w")))
    // node set: a symmetrized graph's src set IS the node set, so the
    // undirected path re-reads the (node-sized, already-distinct)
    // out-degree srcs — no edge-sized endpoint union, no distinct
    // shuffle. The directed path unions both endpoint sets.
    val nodes = sc.cache(
      if (undirected) Exec.pin(outdeg.select(col("src").as("node")), "node")
      else Exec.pin(e.select(col("src").as("node"))
          .unionByName(e.select(col("dst").as("node"))), "node")
        .distinct())

    val nRow = nodes.count().toDouble // materializes the caches below it
    val init = nodes.withColumn("rank", round(lit(1.0 / nRow), 9))
    val ranks = (1 to iters).foldLeft(init) { (r, _) =>
      val contrib = r.join(weighted, col("node") === col("src"))
        .groupBy("dst").agg(sum(col("rank") * col("w")).as("mass"))
      nodes.join(contrib, col("node") === col("dst"), "left")
        .select(col("node"),
          round(lit((1 - damping) / nRow) +
            lit(damping) * coalesce(col("mass"), lit(0.0)), 9).as("rank"))
    }
    sc.keep(ranks)
  }

  /** Personalized PageRank: [[pagerank]] with the teleport mass
    * concentrated on a SOURCE set instead of spread uniformly —
    * "importance as seen from these nodes", the standard seed-expansion
    * / recommendation primitive (rank mass diffuses outward from the
    * seeds through the damped walk). Ranks start AT the teleport
    * distribution and each round applies
    * `r' = (1−d)·p + d·W·r` with `p = 1/|S|` on sources, 0 elsewhere.
    *
    * Execution shape is pagerank's: edge weights folded once, per-round
    * shuffle = the rank table, ranks quantized (9 dp) each round so the
    * result is partition- and engine-independent. The teleport vector
    * persists once (node-cardinality, referenced every round).
    */
  def personalizedPagerank(edges: DataFrame, sources: DataFrame,
                           srcCol: String, damping: Double = 0.85,
                           iters: Int = 2): DataFrame = Exec.scope { sc =>
    require(iters >= 0, "iters must be >= 0")
    require(damping > 0 && damping < 1, "damping must be in (0, 1)")
    // same one-pin layout discipline as [[pagerank]]: e pinned to
    // hash(src) once; outdeg/weighted inherit it exchange-free; nodes
    // pinned before its distinct; per-round exchanges move only the
    // rank/contrib tables, never nodes or edges
    val e = sc.cache(Exec.pin(edges.select(col("src"), col("dst")), "src"))
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val weighted = sc.cache(e.join(outdeg, "src")
      .select(col("src"), col("dst"), (lit(1.0) / col("deg")).as("w")))
    val nodes = sc.cache(Exec.pin(e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node"))), "node")
      .distinct())
    val srcs = sources.select(col(srcCol).as("node")).distinct()
    val nS = srcs.count().toDouble
    require(nS > 0, "source set must be non-empty")
    val tele = sc.cache(nodes
      .join(srcs.withColumn("t", lit(true)), Seq("node"), "left")
      .select(col("node"),
        when(col("t").isNotNull, lit(1.0 / nS)).otherwise(lit(0.0)).as("p")))
    val init = tele.select(col("node"), round(col("p"), 9).as("rank"))
    val ranks = (1 to iters).foldLeft(init) { (r, _) =>
      val contrib = r.join(weighted, col("node") === col("src"))
        .groupBy("dst").agg(sum(col("rank") * col("w")).as("mass"))
      tele.join(contrib, tele("node") === col("dst"), "left")
        .select(tele("node"),
          round(lit(1 - damping) * col("p") +
            lit(damping) * coalesce(col("mass"), lit(0.0)), 9).as("rank"))
    }
    sc.keep(ranks)
  }

  /** HITS (hubs & authorities) over a directed/bipartite edge table
    * `(a → b)`: `iters` rounds of the mutual-reinforcement recurrence —
    * `auth(b) = Σ_edges hub(a)`, `hub(a) = Σ_edges auth(b)` — each
    * half-step L1-normalized (Kleinberg's formulation uses L2; L1 keeps
    * every score a probability-like mass whose oracle replay needs no
    * sqrt) and carried as 1e9-scaled LONG units between half-rounds,
    * so every sum is an exact integer add: the result is a pure
    * function of the graph, independent of partitioning, join order,
    * or engine BY CONSTRUCTION (the [[pagerank]] 9-dp quantization
    * relies on the grid absorbing FP reordering; here no FP sum
    * exists to reorder).
    *
    * Execution shape per iteration: the edge table persists TWICE —
    * once hash-partitioned on each endpoint, so BOTH half-rounds join
    * a (node-cardinality) score table against a co-partitioned edge
    * copy and shuffle only scores, never edges. Every half-round's
    * score table is `localCheckpoint`ed (the [[labelPropagation]]
    * discipline) before the next consumes it: the L1 total is a
    * one-row aggregate over the SAME truncated scores it then
    * normalizes, so neither execution nor — critically — Catalyst
    * ANALYSIS ever re-walks prior rounds (the normalize step
    * references its input twice, so an untruncated lineage doubles
    * per half-round: by iteration two the driver spends multiple
    * seconds per job just analyzing a 16×-duplicated tree, dwarfing
    * the task time).
    * Returns `(node, side, score)` with side ∈ ('hub', 'auth'); the
    * two endpoint columns must share a data type (hub and auth score
    * tables union into the one result frame).
    */
  def hits(edges: DataFrame, aCol: String, bCol: String,
           iters: Int = 2): DataFrame = Exec.scope { sc =>
    require(iters >= 1, "iters must be >= 1")
    // both edge copies are PINNED to their half-round join key:
    // distinct() leaves the table hash(a,b)-partitioned, which matches
    // NEITHER join — without the explicit hash(a) pin the hub→auth
    // half-round re-shuffles the edge table every iteration
    val e = sc.cache(Exec.pin(
        edges.select(col(aCol).as("a"), col(bCol).as("b")), "a")
      .distinct())
    val eByB = sc.cache(Exec.pin(e, "b"))
    val hubs0 = e.select(col("a").as("node")).distinct()
    val nHubs = hubs0.count().toDouble // materializes the edge cache too
    // scores live as 1e9-scaled LONG units ("u") between half-rounds:
    // the per-group and L1-total sums are then exact integer adds —
    // order-independent BY CONSTRUCTION, not merely because 1e-9
    // quantization usually absorbs FP reordering error. The one FP op
    // per half-round is the normalize divide, a pure function of two
    // integers (identical in any engine); its result re-enters the
    // integer grid immediately.
    def l1norm(raw: DataFrame): DataFrame = {
      val r = sc.checkpoint(raw)
      val total = r.agg(sum("u").as("tot"))
      val normed = sc.checkpoint(r.crossJoin(broadcast(total))
        .select(col("node"),
          round(col("u").cast("double") * 1e9 / col("tot").cast("double"),
            0).cast("long").as("u")))
      // normed is self-contained — the raw half-round checkpoint is dead
      sc.release(r)
      normed
    }
    val init = sc.checkpoint(hubs0
      .withColumn("u", round(lit(1e9 / nHubs), 0).cast("long")))
    val (hub, auth) = (1 to iters).foldLeft(
        (init, init.limit(0))) { case ((h, a), _) =>
      val a2 = l1norm(h.join(e, col("node") === col("a"))
        .groupBy(col("b")).agg(sum("u").as("u"))
        .select(col("b").as("node"), col("u")))
      val h2 = l1norm(a2.join(eByB, col("node") === col("b"))
        .groupBy(col("a")).agg(sum("u").as("u"))
        .select(col("a").as("node"), col("u")))
      sc.release(h, a)
      (h2, a2)
    }
    val out = hub.withColumn("side", lit("hub"))
      .unionByName(auth.withColumn("side", lit("auth")))
      .select(col("node"), col("side"),
        round(col("u").cast("double") / 1e9, 9).as("score"))
    sc.keep(out)
  }

  /** Synchronous label propagation (community detection): `rounds`
    * sweeps where every node simultaneously adopts the most frequent
    * label among its NEIGHBORS' current labels, ties broken by the
    * minimum label; labels start as node ids. Returns
    * `(node, community)` — the label after the final sweep.
    *
    * Async LPA (update in visit order) is the textbook fast variant
    * but its result depends on traversal order — unreproducible across
    * partitionings, let alone engines. The synchronous sweep with a
    * total tie-break is a pure function of (graph, rounds): an oracle
    * can unroll it round by round. Unlike
    * [[Dedup.connectedComponents]]' min-propagation (which converges
    * to connected components), frequency voting respects edge DENSITY
    * — two cliques joined by one bridge edge keep distinct labels.
    *
    * Per round: one edge⋈label join (the rank table is the small
    * side), a (node, label) count aggregation, and a per-node argmax
    * window over label-cardinality rows. Lineage is checkpoint-
    * truncated per round like the other iterative operators.
    */
  def labelPropagation(edges: DataFrame, aCol: String, bCol: String,
                       rounds: Int): DataFrame = Exec.scope { sc =>
    require(rounds >= 1, "rounds must be >= 1")
    val e = sc.checkpoint(edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(
        edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct())
    var labels = sc.checkpoint(e.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("node").orderBy(col("c").desc, col("lbl").asc)
    (1 to rounds).foreach { _ =>
      val votes = e.join(labels.select(col("node").as("dst_n"),
            col("lbl")), col("dst") === col("dst_n"))
        .groupBy(col("src").as("node"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      val next = sc.checkpoint(votes
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("node"), col("lbl")))
      sc.release(labels)
      labels = next
    }
    sc.keep(labels.select(col("node"), col("lbl").as("community")))
  }

  /** Deterministic negative edge sampling — the non-edges a link-
    * prediction or graph-contrastive trainer needs next to its
    * positives. Candidates come from HASH-BUCKET ADJACENCY: nodes are
    * salted-hashed into buckets, sorted by (hash, id) within each
    * bucket, and consecutive nodes pair up; real edges are then
    * anti-joined away. Pairing hash-neighbors is as good as uniform
    * for sampling non-edges (the hash order is independent of the
    * graph) while staying fully distributed: per-bucket windows, ~1
    * candidate per node, no global sort, no rejection loop — and, like
    * every sampler here, a pure function of (nodes, salt), so an
    * oracle reproduces it exactly. Returns `(u, v)` canonical
    * (`u < v`) candidate non-edges.
    */
  def negativeSample(edges: DataFrame, aCol: String, bCol: String,
                     buckets: Int,
                     salt: String = "neg"): DataFrame = Exec.scope { sc =>
    require(buckets >= 1, "buckets must be >= 1")
    // the edge input feeds both endpoint projections AND the anti-join
    // — persist a canonical projection of it (a derived plan, so
    // releasing it cannot drop a cache the CALLER registered on the
    // same input) or the upstream edge build re-executes three times
    val canon = sc.cache(edges.select(
        least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v")))
    val nodes = canon.select(col("u").as("node"))
      .unionByName(canon.select(col("v").as("node")))
      .distinct()
      .withColumn("h", graft.functions.TextFunctions.token60(
        concat(lit(salt), col("node").cast("string"))))
      .withColumn("b", pmod(col("h"), lit(buckets.toLong)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("b").orderBy(col("h").asc, col("node").asc)
    val cand = nodes
      .withColumn("nxt", lead(col("node"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(least(col("node"), col("nxt")).as("u"),
        greatest(col("node"), col("nxt")).as("v"))
    sc.keep(cand.join(canon, Seq("u", "v"), "left_anti"))
  }

  /** Per-node triangle counts over an undirected edge table: `(node,
    * n_triangles)` for every node in at least one triangle.
    *
    * Algorithm: degree-ordered orientation — each undirected edge is
    * directed from its lower-(degree, id) endpoint to the higher, then
    * triangles are wedge (u→v, v→w) closures checked against the
    * oriented edge (u→w). Under ANY total-order orientation each
    * triangle is found exactly once (at its minimal vertex), so the
    * triangle SET is orientation-independent — an oracle may use plain
    * id order and must agree. Degree ordering is what survives scale:
    * wedge fan-out per vertex is its OUT-degree, and orienting
    * low→high caps out-degrees near the arboricity (Σ outdeg² stays
    * civilized on power-law graphs where a hub's id-ordered out-degree
    * would be its full degree). Ties break by id, keeping the order
    * total and the result deterministic.
    *
    * Shape: one degree aggregation, one orientation join, a wedge
    * self-join on the shared middle vertex, and the closing edge
    * equi-join — every step a key-partitioned shuffle AQE can
    * rebalance; nothing all-pairs.
    */
  def triangleCounts(edges: DataFrame, aCol: String,
                     bCol: String): DataFrame = Exec.scope { sc =>
    // canonical undirected edge set: (u < v), self-loops dropped
    val und = sc.cache(edges.select(
        least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())
    val deg = und.select(col("u").as("node"))
      .unionByName(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient from lower (deg, id) to higher — the degree table joins
    // onto both endpoints un-hinted (it is node-cardinality, unbounded
    // at scale; AQE broadcasts it when it actually fits)
    val du = deg.select(col("node").as("u"), col("deg").as("du"))
    val dv = deg.select(col("node").as("v"), col("deg").as("dv"))
    val oriented = sc.cache(und.join(du, "u").join(dv, "v")
      .select(
        when(col("du") < col("dv") ||
             (col("du") === col("dv") && col("u") < col("v")),
          col("u")).otherwise(col("v")).as("s"),
        when(col("du") < col("dv") ||
             (col("du") === col("dv") && col("u") < col("v")),
          col("v")).otherwise(col("u")).as("t")))
    val tri = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.t") === col("e2.s"))
      .join(oriented.as("e3"),
        col("e1.s") === col("e3.s") && col("e2.t") === col("e3.t"))
      .select(col("e1.s").as("a"), col("e1.t").as("b"),
        col("e2.t").as("c"))
    val counts = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    sc.keep(counts)
  }

  /** k-hop BFS distances from a source set over an UNDIRECTED edge
    * table: `(node, dist)` for every node within `hops` of a source
    * (dist = length of the shortest path, sources at 0). The
    * neighborhood-growth primitive behind "how far does contamination
    * / influence / linkage spread in k steps".
    *
    * Execution shape: the symmetrized edge table partitions once by
    * source endpoint and persists; each round joins ONLY the previous
    * FRONTIER (rows at dist = h−1, shrinking, never the accumulated
    * table) against it, dedups candidate reaches (a frontier-sized
    * aggregation), then ANTI-JOINS them against the known distance
    * table — a node's first discovery hop IS its shortest distance, so
    * no re-aggregation of the accumulated table ever happens; the
    * accumulated result only grows by lazy union. Per-round shuffle is
    * frontier + one anti-join probe, never edges, and `localCheckpoint`
    * every few hops truncates the union/join lineage so deep BFS
    * doesn't re-execute prior rounds (the [[labelPropagation]]
    * discipline). Exactly `hops` rounds: bounded work, no convergence
    * test (the k-hop question is the bounded one; full SSSP is
    * [[connectedComponents]]-style iteration to fixpoint).
    * Deterministic by construction — distances are pure min-plus
    * functions of the graph, no tie-breaks needed.
    */
  def bfsHops(edges: DataFrame, aCol: String, bCol: String,
              sources: DataFrame, srcCol: String,
              hops: Int): DataFrame = Exec.scope { sc =>
    require(hops >= 0, "hops must be non-negative")
    // pin-then-distinct is deliberate, and distinct-then-pin (so the
    // persisted table carries HashPartitioning(s) and the hop joins
    // need no exchange on the big side) is a measured 13x
    // PESSIMIZATION (r13: sf0.1 5.2 s -> 67.8 s): the per-hop
    // exchange on `und` is load-bearing — it is the query-stage
    // boundary AQE uses to convert each frontier join to a runtime
    // BROADCAST of the tiny frontier, and the ReusedExchange node that
    // memoizes the edge shuffle across this loop's recomputed
    // subplans. An exchange-free und side instead plans sort-merge,
    // re-sorting the full edge table once per hop per recomputed
    // subplan with nothing reusable.
    val und = sc.cache(Exec.pin(edges
        .select(col(aCol).as("s"), col(bCol).as("d"))
        .unionByName(edges.select(col(bCol).as("s"), col(aCol).as("d"))),
        "s")
      .distinct())
    val init = sources.select(col(srcCol).as("node")).distinct()
      .withColumn("dist", lit(0))
    val dist = (1 to hops).foldLeft(init) { (acc, h) =>
      val frontier = acc.filter(col("dist") === h - 1)
      val reached = frontier
        .join(und, frontier("node") === und("s"))
        .select(col("d").as("node")).distinct()
        .join(acc, Seq("node"), "left_anti")
        .withColumn("dist", lit(h))
      val next = acc.unionByName(reached)
      if (h % 3 == 0 && h < hops) sc.checkpoint(next) else next
    }
    sc.keep(dist)
  }

  /** Adamic-Adar link prediction: for every NON-edge pair (a, b) with
    * at least one shared neighbor, `score = Σ_w 1/ln(deg(w))` over the
    * shared neighbors w — the classic "which links are missing"
    * ranking (hubs contribute little, tight mutual friends a lot).
    * Returns the `topK` candidates as
    * `(a, b, common_neighbors, score_q, score)`.
    *
    * Scale posture: candidate generation is a wedge self-join on the
    * shared middle vertex, whose cost is Σ deg(w)² — unbounded on
    * power-law graphs. `maxMidDegree` excludes hub middles BEFORE the
    * join (sound for ranking: a degree-10⁶ hub adds only 1/ln(10⁶) ≈
    * 0.07 per pair while generating 10¹² candidates), capping the join
    * at ≤ cap·2|E| wedge rows, every step key-partitioned.
    *
    * Determinism: each middle's weight is quantized to
    * `round(2^24/ln(deg))` as a LONG (shared rounding kernel), so the
    * per-pair sum is integer-exact in any order and `score_q` gives a
    * total ORDER BY rank an oracle reproduces bit-for-bit; `score` is
    * the human-readable unscaled value.
    */
  def adamicAdar(edges: DataFrame, aCol: String, bCol: String,
                 maxMidDegree: Int = 64,
                 topK: Int = 25): DataFrame = Exec.scope { sc =>
    require(maxMidDegree >= 2, "maxMidDegree must be at least 2")
    val scale = (1L << 24).toDouble
    val und = sc.cache(edges.select(
        least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())
    val adj = und.select(col("u").as("s"), col("v").as("d"))
      .unionByName(und.select(col("v").as("s"), col("u").as("d")))
    val deg = adj.groupBy(col("s").as("node"))
      .agg(count(lit(1)).as("dg"))
    // hub middles dropped BEFORE the wedge join; deg >= 2 is implied
    // (a middle with one neighbor forms no pair) but made explicit so
    // ln(1) = 0 can never reach the division
    val mid = adj.join(deg, adj("s") === deg("node"))
      .filter(col("dg").between(2, maxMidDegree))
      .select(col("s"), col("d"),
        round(lit(scale) / log(col("dg").cast("double")), 0)
          .cast("long").as("wq"))
    val cand = mid.as("n1")
      .join(mid.as("n2"),
        col("n1.s") === col("n2.s") && col("n1.d") < col("n2.d"))
      .groupBy(col("n1.d").as("a"), col("n2.d").as("b"))
      .agg(count(lit(1)).as("common_neighbors"),
        sum(col("n1.wq")).as("score_q"))
    val nonEdge = cand.join(und,
      cand("a") === und("u") && cand("b") === und("v"), "left_anti")
    val out = nonEdge
      .select(col("a"), col("b"), col("common_neighbors"), col("score_q"),
        round(col("score_q").cast("double") / lit(scale), 4).as("score"))
      .orderBy(col("score_q").desc, col("a"), col("b"))
      .limit(topK)
    sc.keep(out)
  }
}
