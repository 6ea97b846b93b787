package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}

import graft.operators.Exec

/** The lifetime rules of [[Exec.scope]]: what a scope releases on exit,
  * what it hands over, and the invariants it enforces. */
class ScopeSpec extends SparkSpec {

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def rddId(df: DataFrame): Int = GraftSqlBridge.rootCheckpointRdd(df).get.id
  private def frame(n: Long): DataFrame = spark.range(0, n).selectExpr("id", "id * 3 AS v")

  test("cached and checkpointed handles are released on normal exit and on throw") {
    val before = persisted
    var inside = Set.empty[Int]
    Exec.scope { sc =>
      val c = sc.cache(frame(500))
      c.count()
      val k = sc.checkpoint(frame(700))
      inside = persisted -- before
      assert(inside.contains(rddId(k)) && inside.size == 2)
    }
    assert((persisted -- before).isEmpty)

    val boom = intercept[IllegalArgumentException] {
      Exec.scope { sc =>
        sc.cache(frame(500)).count()
        sc.checkpoint(frame(700))
        assert((persisted -- before).size == 2)
        throw new IllegalArgumentException("body failed")
      }
    }
    assert(boom.getMessage == "body failed")
    assert((persisted -- before).isEmpty)
  }

  test("a kept result survives its scope as a root checkpoint; a nested one moves to the outer scope") {
    val before = persisted
    val out = Exec.scope { sc =>
      val c = sc.cache(frame(300))
      sc.keep(c.filter("v % 2 = 0"))
    }
    val id = rddId(out)
    assert(persisted -- before == Set(id))
    assert(out.count() == 150)
    Exec.releaseScratch(out)
    assert((persisted -- before).isEmpty)

    var innerId = -1
    val outerKept = Exec.scope { outer =>
      val inner = Exec.scope(sc => sc.keep(frame(40)))
      innerId = rddId(inner)
      assert(persisted.contains(innerId))
      outer.keep(inner.filter("id < 5"))
    }
    // the outer scope released the inner result; only its own kept frame is left
    assert(persisted -- before == Set(rddId(outerKept)))
    assert(outerKept.count() == 5)
    Exec.releaseScratch(outerKept)
  }

  test("keep of an existing checkpoint handle returns the same RDD and never releases it") {
    val handle = frame(100).localCheckpoint(true)
    try {
      val kept = Exec.scope { sc =>
        val k = sc.keep(handle)
        sc.release(k) // not this scope's: a no-op
        k
      }
      assert(rddId(kept) == rddId(handle))
      assert(persisted.contains(rddId(handle)))
      assert(handle.count() == 100)
    } finally Exec.releaseScratch(handle)
  }

  test("a frame over a plain RDD is no checkpoint handle: keep materializes it") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val rows = spark.sparkContext.parallelize(1L to 10L).map(Row(_))
    val lazyRdd = spark.createDataFrame(rows, StructType(Seq(StructField("id", LongType))))
    assert(GraftSqlBridge.rootCheckpointRdd(lazyRdd).isEmpty)
    val kept = Exec.scope(sc => sc.keep(lazyRdd))
    assert(persisted.contains(rddId(kept)))
    assert(kept.count() == 10)
    Exec.releaseScratch(kept)
  }

  test("a Kernels memo frame passed through a scope stays persisted") {
    Kernels.clear()
    try {
      val memo = Kernels.cached(spark, "scope-spec")(_ => frame(50))
      val id = rddId(memo)
      assert(Kernels.liveRddIds == Set(id))
      Exec.scope { sc =>
        val same = sc.checkpoint(memo)
        sc.keep(same)
        sc.release(memo, same)
        memo.filter("id > 10")
      }
      assert(persisted.contains(id))
      assert(memo.count() == 50)
    } finally Kernels.clear()
  }

  test("under planOnly the result is unmaterialized and nothing is released") {
    val before = persisted
    val out = planOnly {
      Exec.scope { sc =>
        val k = sc.checkpoint(frame(80))
        val c = sc.cache(frame(60))
        c.count()
        sc.release(k)
        sc.keep(k.join(c, "id"))
      }
    }
    assert(GraftSqlBridge.rootCheckpointRdd(out).isEmpty)
    assert((persisted -- before).size == 2)
    assert(out.count() == 60)
    Exec.drain(spark)
  }

  test("a tempDir is deleted after a throwing body and the original exception propagates") {
    var dir: String = null
    val boom = intercept[IllegalStateException] {
      Exec.scope { sc =>
        dir = sc.tempDir("scope-spec")
        Files.writeString(Paths.get(dir, "part.txt"), "x")
        throw new IllegalStateException("stream failed")
      }
    }
    assert(boom.getMessage == "stream failed")
    assert(dir != null && !Files.exists(Paths.get(dir)))
  }

  test("returning an un-kept frame over the scope's own checkpoint fails at exit") {
    val before = persisted
    val e = intercept[IllegalStateException] {
      Exec.scope { sc =>
        sc.checkpoint(frame(90)).filter("id < 10")
      }
    }
    assert(e.getMessage.contains("keep the result"))
    assert((persisted -- before).isEmpty)
  }
}
