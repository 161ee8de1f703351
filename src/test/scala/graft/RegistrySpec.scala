package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry-wide smoke: every registered query runs at sf0.001 and
  * returns a deterministic row count across two executions. Catches a
  * broken query before the driver's full DuckDB gate does. */
class RegistrySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = "/root/testdata/sf0.001"

  test("every registered query has an oracle (allow-list empty since round 7)") {
    // q100/q110 emit overlap-with-exact-top-k recall counts (pinned
    // deterministic index output, Dev pins); q63/q94 emit error-bound
    // booleans beside DuckDB-recomputed exact values. Nothing is
    // rows-only any more — keep it that way.
    val noOracle = SparkEntry.registry.filter(_.oracle.isEmpty).map(_.name)
    assert(noOracle.isEmpty,
      s"unexpected rows-only queries: $noOracle")
  }

  test("registry names are unique") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size == names.size)
  }

  SparkEntry.registry.foreach { q =>
    test(s"${q.name} runs and is deterministic at sf0.001") {
      val n1 = q.run(spark, d).count()
      val n2 = q.run(spark, d).count()
      assert(n1 == n2)
      assert(n1 >= 0)
    }
  }

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
