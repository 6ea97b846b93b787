package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerUnpersistRDD}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.functions._
import org.apache.spark.storage.RDDBlockId

import graft.operators.{Exec, Graph, Linalg}

/** PageRank and the distributed-moments/driver-eigensolve PCA split. */
class GraphLinalgSpec extends SparkSpec {
  import spark.implicits._

  /** The most RDDs holding blocks at once while `body` runs: an RDD
    * joins the live set with its first stored block and leaves it when
    * it is unpersisted. */
  private def peakLiveRdds(body: => Unit): Int = {
    val sc = spark.sparkContext
    val live = mutable.Set.empty[Int]
    var peak = 0
    val listener = new SparkListener {
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
        e.blockUpdatedInfo.blockId match {
          case RDDBlockId(id, _) if e.blockUpdatedInfo.storageLevel.isValid =>
            live += id
            peak = math.max(peak, live.size)
          case _ =>
        }
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = live -= e.rddId
    }
    sc.addSparkListener(listener)
    try { body; GraftSqlBridge.drainListenerBus(sc) }
    finally sc.removeSparkListener(listener)
    peak
  }

  // an iterative loop that stops releasing its dead generation holds
  // one more RDD per round: at these round counts well over the bound
  test("iterative graph loops keep a bounded number of generations live") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (4L, 6L))
      .toDF("a", "b")
    val lpa = peakLiveRdds {
      val out = Graph.labelPropagation(edges, "a", "b", rounds = 6)
      assert(out.count() == 6)
      Exec.releaseScratch(out)
    }
    val hits = peakLiveRdds {
      val out = Graph.hits(edges, "a", "b", iters = 4)
      assert(out.count() == 10)
      Exec.releaseScratch(out)
    }
    assert(lpa <= 3, s"label propagation peaked at $lpa live RDDs")
    assert(hits <= 7, s"hits peaked at $hits live RDDs")
  }

  test("pagerank on a 2-cycle is uniform and conserves mass") {
    val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val r = Graph.pagerank(edges, damping = 0.85, iters = 3)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(math.abs(r("a") - 0.5) < 1e-9)
    assert(math.abs(r("b") - 0.5) < 1e-9)
  }

  test("pagerank concentrates rank on the hub of a star") {
    // leaves l1..l4 <-> hub: symmetrized star; hub collects damped mass
    val leaves = (1 to 4).map(i => s"l$i")
    val edges = (leaves.map(_ -> "hub") ++ leaves.map("hub" -> _))
      .toDF("src", "dst")
    val r = Graph.pagerank(edges, damping = 0.85, iters = 5)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r("hub") > 0.4 && leaves.forall(l => r(l) < r("hub")))
    // symmetrized graph: total mass conserved (teleport + redistribution)
    assert(math.abs(r.values.sum - 1.0) < 1e-6)
  }

  test("pagerank dangling sinks drain mass but ranks stay finite and ordered") {
    // c -> sink: sink has no out-edges; its mass drains (documented)
    val edges = Seq(("a", "b"), ("b", "a"), ("a", "sink")).toDF("src", "dst")
    val r = Graph.pagerank(edges, damping = 0.85, iters = 3)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r.values.forall(v => v > 0 && v < 1))
    assert(r.values.sum < 1.0 + 1e-9) // mass only leaks, never appears
  }

  test("pagerank is partition-layout independent (quantized contract)") {
    val pairs = Tables.orders(spark, "/root/testdata/sf0.001")
      .join(Tables.lineitem(spark, "/root/testdata/sf0.001"),
        col("o_orderkey") === col("l_orderkey"))
      .select(concat(lit("c"), col("o_custkey")).as("src"),
        concat(lit("s"), col("l_suppkey")).as("dst"))
      .distinct()
    val a = Graph.pagerank(pairs, iters = 2)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toSet
    val b = Graph.pagerank(pairs.repartition(17), iters = 2)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toSet
    assert(a == b && a.nonEmpty)
  }

  test("covariance matches the hand-computed matrix on tiny vectors") {
    val df = Seq(
      Tuple1(Array(1.0f, 0.0f)),
      Tuple1(Array(3.0f, 2.0f)),
      Tuple1(Array(5.0f, 4.0f))).toDF("embedding")
    // means (3, 2); population covs: var0 = 8/3, var1 = 8/3, cov = 8/3
    val out = Linalg.covariance(df, "embedding")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val exp = graft.functions.Rounding.roundTo(8.0 / 3.0, 6)
    assert(out((0, 0)) == exp && out((1, 1)) == exp && out((0, 1)) == exp)
  }

  test("q271 integer power iteration recovers a known dominant axis exactly") {
    // cov = diag(2.5, 0.01, 0, 0): loading e0 = 1, the rest decay to
    // the 1e-12 grid's zero; lambda = 2.5, evr = 2.5/2.51
    val emb = Seq(
      (1L, Array(1.0f, 0.1f, 0f, 0f)), (2L, Array(2.0f, -0.1f, 0f, 0f)),
      (3L, Array(-1.0f, 0.1f, 0f, 0f)), (4L, Array(-2.0f, -0.1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pca_fixture").toString
    emb.write.parquet(s"$dir/embeddings.parquet")
    val rows = SparkEntry.queries("q271_pca_power")(spark, dir)
      .collect().map(r => r.getInt(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(rows(0)._1 == 1.0, rows.toString)
    assert(rows(1)._1 == 0.0 && rows(2)._1 == 0.0 && rows(3)._1 == 0.0)
    assert(rows(0)._2 == 2.5, s"lambda ${rows(0)._2}")
    assert(rows(0)._3 == math.floor(2.5 / 2.51 * 1e6 + 0.5) / 1e6)
  }

  test("bfsHops: shortest distances on a chain with a shortcut") {
    // 1-2-3-4-5 chain plus shortcut 1-4: dist(4)=1, dist(3)=2 both ways,
    // dist(5)=2 via the shortcut; 9 is disconnected
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L),
      (9L, 10L)).toDF("a", "b")
    val src = Seq(1L).toDF("node")
    val got = graft.operators.Graph
      .bfsHops(edges, "a", "b", src, "node", hops = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 2L -> 1, 4L -> 1, 3L -> 2, 5L -> 2))
  }

  test("bfsHops: hops=0 is just the sources; undirected reach") {
    val edges = Seq((1L, 2L)).toDF("a", "b")
    val src = Seq(2L).toDF("node")
    assert(graft.operators.Graph
      .bfsHops(edges, "a", "b", src, "node", hops = 0)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq == Seq((2L, 0)))
    // edge direction must not matter: 2 reaches 1
    val one = graft.operators.Graph
      .bfsHops(edges, "a", "b", src, "node", hops = 1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(one == Map(2L -> 0, 1L -> 1))
  }

  test("bfsHops: deep chain crosses localCheckpoint boundaries; cycles don't regress") {
    // 12-node chain 1-2-…-12 driven 10 hops (checkpoints land at h=3,6,9)
    // plus a 3-cycle 1-2, 2-20, 20-1: re-reaching an already-known node
    // via a longer path must be anti-joined away, never re-aggregated
    val chain = (1L until 12L).map(i => (i, i + 1))
    val edges = (chain ++ Seq((2L, 20L), (20L, 1L))).toDF("a", "b")
    val src = Seq(1L).toDF("node")
    val got = graft.operators.Graph
      .bfsHops(edges, "a", "b", src, "node", hops = 10)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val want = (1L to 11L).map(i => i -> (i - 1).toInt).toMap + (20L -> 1)
    assert(got == want)
  }

  test("bfsHops plan: no aggregation re-folds the accumulated distance table") {
    // the anti-join rewrite leaves NO Aggregate in the logical plan at
    // all (dedup is per-round distinct over frontier-sized joins,
    // expressed as Deduplicate; the union only ever concatenates) — the
    // pre-rewrite shape re-aggregated the full accumulated table every
    // hop, which showed up as one Aggregate-over-Union per round
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val src = Seq(1L).toDF("node")
    val dist = graft.operators.Graph.bfsHops(edges, "a", "b", src, "node", 2)
    val aggs = dist.queryExecution.analyzed.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    assert(aggs.isEmpty,
      s"accumulated-table aggregation reappeared:\n${dist.queryExecution.analyzed}")
  }

  test("hits: L1-normalized sides, mutual reinforcement ranks the heavy hub first") {
    // hub 1 touches {10,11,12}, hub 2 touches {10}: 10 is the strongest
    // authority (both hubs), 1 the strongest hub (most authorities);
    // endpoint columns must share a type (the hub/auth score tables
    // union into one frame)
    val edges = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L))
      .toDF("c", "p")
    val r = Graph.hits(edges, "c", "p", iters = 2)
      .collect().map(x => (x.getString(1), x.getLong(0)) -> x.getDouble(2))
      .toMap
    val hubSum = r.collect { case (("hub", _), v) => v }.sum
    val authSum = r.collect { case (("auth", _), v) => v }.sum
    assert(math.abs(hubSum - 1.0) < 1e-6 && math.abs(authSum - 1.0) < 1e-6)
    assert(r(("hub", 1L)) > r(("hub", 2L)))
    assert(r(("auth", 10L)) > r(("auth", 11L)))
    assert(r(("auth", 11L)) == r(("auth", 12L))) // symmetric authorities tie
  }

  test("personalizedPagerank: mass diffuses from the seed on a 2-cycle") {
    // a↔b, seed {a}: r0 = (1, 0); r1 = (0.15, 0.85);
    // r2 = (0.15 + 0.85², 0.85·0.15) = (0.8725, 0.1275)
    val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val seeds = Seq("a").toDF("node")
    val r = Graph.personalizedPagerank(edges, seeds, "node", iters = 2)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r("a") == 0.8725 && r("b") == 0.1275)
    // zero rounds returns the teleport distribution itself
    val r0 = Graph.personalizedPagerank(edges, seeds, "node", iters = 0)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r0 == Map("a" -> 1.0, "b" -> 0.0))
  }

  test("adamicAdar: 4-cycle diagonals score 2/ln2; edges are excluded") {
    // square 1-2-3-4-1: the only non-edges are the diagonals (1,3) and
    // (2,4), each with two shared degree-2 neighbors
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("a", "b")
    val got = Graph.adamicAdar(edges, "a", "b").collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    val wq = math.floor((1L << 24).toDouble / math.log(2.0) + 0.5).toLong
    assert(got == Map((1L, 3L) -> ((2L, 2 * wq)), (2L, 4L) -> ((2L, 2 * wq))))
  }

  test("adamicAdar: hub middles beyond the degree cap contribute nothing") {
    // star center 0 neighbors 1..5 (deg 5) plus the pendant edge 1-2's
    // alternative path; cap=4 removes the hub so no candidates remain
    val star = (1L to 5L).map(i => (0L, i)).toDF("a", "b")
    assert(Graph.adamicAdar(star, "a", "b", maxMidDegree = 4).count() == 0L)
    // with the cap admitting the hub, all C(5,2) leaf pairs appear
    assert(Graph.adamicAdar(star, "a", "b", maxMidDegree = 5,
      topK = 100).count() == 10L)
  }
}
