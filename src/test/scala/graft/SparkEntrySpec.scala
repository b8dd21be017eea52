package graft

/** Driver-contract guards: every declared query must at least execute
  * on the smallest dataset, and the oracle map may not name queries
  * that don't exist (the driver joins them by key). */
class SparkEntrySpec extends SparkSpec {

  test("entry() smoke: returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries keys") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle entries without a query: $orphans")
  }

  test("every declared query executes at sf0.001 (bench-only paths included)") {
    val failures = Catalog.builds(Catalog.Tag.Bench).flatMap {
      case (name, fn) =>
        try { fn(spark, sfDir).count(); None }
        catch { case e: Throwable => Some(s"$name: ${e.getMessage.linesIterator.next()}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("bench-only names never shadow oracle-gated queries") {
    val overlap = SparkEntry.benchExtras.keySet intersect SparkEntry.queries.keySet
    assert(overlap.isEmpty, s"benchExtras shadowing queries: $overlap")
  }

  test("oracle coverage: every query has an oracle") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty, s"queries without an oracle: $noOracle")
  }
}
