package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, pmod}

import graft.{Kernels, SparkEntry, Tables}
import graft.engine.{IterativeTrainer, Ols}
import graft.functions.Rounding.roundTo

/** What a request sees: the session, the data directory, the parquet
  * directory its result goes to, the run's seed, and the span wrapper
  * for calls inside the request. */
final case class Env(spark: SparkSession, data: String, out: String, seed: Long,
                     span: Spans)

/** One closed-loop request. `kind` is `query` (a registry entry whose
  * result is written to `Env.out` and graded by its DuckDB oracle),
  * `store` (a direct `Kernels.*` build with no result) or `trainer`
  * (the direct `IterativeTrainer.fit`, graded by an EMA unroll). */
final case class Request(name: String, kind: String, body: Env => Unit)

/** A named workload. A pass runs `prepare`, then each phase in turn.
  * The cold pass (0) keeps the declared order, so that which request
  * pays the JVM's first JIT and codegen costs never depends on the seed;
  * every later pass shuffles each phase by the seed and the pass. */
final case class Workload(name: String, prepare: SparkSession => Unit,
                          phases: Seq[Seq[Request]]) {
  def requests: Seq[Request] = phases.flatten

  def order(seed: Long, pass: Int): Seq[Request] =
    if (pass == 0) requests
    else phases.zipWithIndex.flatMap { case (rs, i) =>
      new scala.util.Random(seed * 1000003L + pass * 31L + i).shuffle(rs)
    }
}

/** The seeded batch split of the iterative workload: a lineitem row
  * belongs to batch `((l_orderkey * a + b) mod p) mod k`, and the
  * batches are fed in index order. Every seed feeds every row exactly
  * once, so the total work never depends on the seed. The oracle side
  * (`perfbench/run.py`) derives the same split from the same seed. */
final case class Split(a: Long, b: Long, p: Long, k: Int)

object Split {
  def apply(seed: Long): Split = Split(1 + Math.floorMod(seed, 997L),
    Math.floorMod(seed * 31, 1009L), 1009L, 4)
}

object Workloads {
  def query(name: String): Request = {
    require(SparkEntry.queries.contains(name), s"unknown query $name")
    Request(name, "query", e =>
      SparkEntry.queries(name)(e.spark, e.data).write.mode("overwrite").parquet(e.out))
  }

  private def store(name: String)(build: (SparkSession, String) => Any): Request =
    Request(s"kernels.$name", "store", e => build(e.spark, e.data))

  val trainer: Request = Request("trainer_ema", "trainer", { e =>
    val split = Split(e.seed)
    val li = Tables.lineitem(e.spark, e.data)
    val batches = (0 until split.k).iterator.map { i =>
      li.filter(pmod(col("l_orderkey") * split.a + split.b, lit(split.p)) % split.k === i)
    }
    val fit = IterativeTrainer.fit(batches, "l_quantity", "l_extendedprice",
      alpha = 0.2, fitOne = (df, x, y) =>
        e.span("engine.round")(Ols.fitLinearExact(df, x, y)))
    e.spark.createDataFrame(Seq((roundTo(fit.weights.w0, 6),
        roundTo(fit.weights.w1, 6), fit.iters.toLong)))
      .toDF("w0", "w1", "iters").write.mode("overwrite").parquet(e.out)
  })

  val relationalWarm: Workload = Workload("relational_warm", _ => (), Seq(Seq(
    "q01_pricing_summary", "q03_top_revenue_orders", "q10_window_topk",
    "q13_rollup", "q22_event_windows").map(query)))

  /** Each pass models a new corpus snapshot: the memo is dropped, every
    * document store is built once through its public call, then the
    * consumers read the stores and write their results. */
  val curationCold: Workload = Workload("curation_cold", _ => Kernels.clear(), Seq(
    Seq(store("docContentHash")(Kernels.docContentHash),
      store("gopherSignals")(Kernels.gopherSignals),
      store("bm25TopRanked")(graft.queries.Evals.bm25TopRanked)),
    Seq("q35_dedup_exact", "q74_gopher_rules", "q235_retrieval_eval",
      "q248_ndcg").map(query)))

  val iterativeStream: Workload = Workload("iterative_stream", _ => (), Seq(
    trainer +: Seq("q207_kcore", "q231_streaming_tws").map(query)))

  val all: Seq[Workload] = Seq(relationalWarm, curationCold, iterativeStream)

  /** Names of the document stores curation_cold builds directly. */
  val storeNames: Seq[String] =
    curationCold.requests.filter(_.kind == "store").map(_.name.stripPrefix("kernels."))
}
