package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Query

/** The query registry ([[SparkEntry]] over [[Query.registry]]): one
  * entry per name, each with its oracle, and a repeated name or `qNN`
  * prefix rejected before any query runs. */
class RegistrySpec extends AnyFunSuite {

  private def q(name: String) = Query(name, (_, _) => null, "SELECT 1")

  test("every registered query is named qNN_words and has an oracle") {
    val bad = SparkEntry.queries.keys.filterNot(_.matches("q\\d{2,3}_[a-z0-9_]+"))
    assert(bad.isEmpty, bad.mkString(","))
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("a repeated query name fails the registry, naming both entries") {
    val e = intercept[IllegalArgumentException] {
      Query.registry("A" -> Seq(q("q01_a"), q("q02_b")), "B" -> Seq(q("q02_b")))
    }
    assert(e.getMessage.contains("query name q02_b"), e.getMessage)
    assert(e.getMessage.contains("A/q02_b and B/q02_b"), e.getMessage)
  }

  test("a repeated qNN prefix fails the registry, naming both entries") {
    val e = intercept[IllegalArgumentException] {
      Query.registry("A" -> Seq(q("q07_left"), q("q70_other")),
        "B" -> Seq(q("q07_right")))
    }
    assert(e.getMessage.contains("query prefix q07"), e.getMessage)
    assert(e.getMessage.contains("A/q07_left and B/q07_right"), e.getMessage)
    assert(Query.registry("A" -> Seq(q("q07_left"), q("q70_other")))
      .map(_.name) == Seq("q07_left", "q70_other"))
  }

  // Source scan: a query's name is written once, in its Query entry;
  // a `"qNN_name" -> …` pair would be a second, parallel name map
  test("query names are written once: no name map in main, one type Q") {
    val walk = Files.walk(Paths.get("src/main"))
    val srcs = try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p.toString -> Files.readString(p)).toMap
    finally walk.close()
    val pair = "\"q\\d{2,3}_[a-z0-9_]+\"\\s*->".r
    assert(srcs.filter(kv => pair.findFirstIn(kv._2).isDefined).keySet.isEmpty)
    assert(srcs.map(kv => kv._1 -> "type Q =".r.findAllMatchIn(kv._2).size)
      .filter(_._2 > 0) == Map("src/main/scala/graft/queries/Query.scala" -> 1))
  }
}
