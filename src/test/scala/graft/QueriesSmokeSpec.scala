package graft

/** Every registered query must build and execute at sf0.001 — catches
  * runtime regressions in queries whose oracle the driver checks only
  * at round boundaries, and in the rows-only queries it never
  * value-checks.
  */
class QueriesSmokeSpec extends SparkSpec {

  test("all SparkEntry queries execute at sf0.001") {
    // store name -> the registry queries whose run built it
    val consumers = scala.collection.mutable.Map.empty[String, Set[String]]
    val failures = try SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        // an empty memo before each query: what is live after the run
        // is exactly what this query built
        Kernels.clear()
        // noop write so every projected column actually evaluates
        // (count() would let Catalyst prune computed columns away)
        try {
          val run = graft.operators.Exec.boundary(spark, name) {
            fn(spark, "/root/testdata/sf0.001")
              .write.format("noop").mode("overwrite").save()
          }
          Kernels.storeNames.foreach(st =>
            consumers(st) = consumers.getOrElse(st, Set.empty) + name)
          // leak invariant: once the run's scope has freed the kept
          // result, only Kernels memo stores may stay persisted
          if (run.leaked.isEmpty) None
          else Some(s"$name: left persisted RDDs ${run.leaked.map(_.id).mkString(", ")}")
        } catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
    } finally Kernels.clear()
    assert(failures.isEmpty, failures.mkString("\n"))
    // the store guard rail: a memo that serves one query only hides
    // that query's own build from its timed runs
    assert(consumers.nonEmpty, "no query built a Kernels store")
    val single = consumers.filter(_._2.size < 2)
    assert(single.isEmpty, "Kernels stores with fewer than 2 registry " +
      s"consumers: ${single.toSeq.sortBy(_._1).mkString("; ")}")
  }

  test("every oracle key has a matching query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracleSql without queries: $orphans")
  }

  // SURVEY §8 is the judge's authoritative inventory; a query landed
  // without its coverage-map row (the round-8 q241 slip) makes the
  // inventory silently incomplete. Pin the doc to the registry.
  test("SURVEY.md mentions every registered query (coverage-map truth)") {
    val survey = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("SURVEY.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    val missing = SparkEntry.queries.keySet.filterNot { name =>
      // rows may cite either the full name or the qNN prefix
      survey.contains(name) || survey.contains(name.takeWhile(_ != '_'))
    }
    assert(missing.isEmpty,
      s"queries missing from SURVEY.md coverage map: ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // Round-11 postmortem: the only two driver hash-fails in the whole
  // 351-query registry (q303, q341) were exactly the only two queries
  // whose OUTPUT schema contained DecimalType — the driver's hasher
  // canonicalizes DECIMAL differently from the local DuckDB replica,
  // and the local gate structurally cannot see it. Exact integers must
  // ship as LONG (or STRING if they could ever exceed 63 bits);
  // DECIMAL is fine in intermediates but must never reach the sink.
  test("no registry query's output schema contains DecimalType") {
    import org.apache.spark.sql.types.DecimalType
    def hasDecimal(dt: org.apache.spark.sql.types.DataType): Boolean =
      dt match {
        case _: DecimalType => true
        case a: org.apache.spark.sql.types.ArrayType =>
          hasDecimal(a.elementType)
        case m: org.apache.spark.sql.types.MapType =>
          hasDecimal(m.keyType) || hasDecimal(m.valueType)
        case s: org.apache.spark.sql.types.StructType =>
          s.fields.exists(f => hasDecimal(f.dataType))
        case _ => false
      }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val bad = fn(spark, "/root/testdata/sf0.001").schema.fields
          .filter(f => hasDecimal(f.dataType))
        if (bad.isEmpty) None
        else Some(s"$name: ${bad.map(_.name).mkString(",")}")
    }
    assert(offenders.isEmpty,
      "DECIMAL output columns fail the driver hash gate " +
        "(round-11 q303/q341 class) — cast exact integers to LONG: " +
        offenders.mkString("; "))
  }
}
