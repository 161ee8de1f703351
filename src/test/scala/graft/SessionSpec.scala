package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver contract of [[Session.local]], checked on the shared test
  * session it builds: the confs Verify and Bench results depend on. */
class SessionSpec extends AnyFunSuite {
  test("Session.local installs the extensions and the driver confs") {
    val s = TestSpark.spark
    // a graft SQL function resolves only when GraftExtensions is installed
    assert(s.sql("SELECT dot_product(array(1.0F, 2.0F), array(3.0F, 4.0F))")
      .head().getDouble(0) == 11.0)
    assert(s.sparkContext.master == "local[4]")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(s.conf.get("spark.sql.codegen.cache.maxEntries") == "2000")
    assert(s.conf.get("spark.ui.enabled") == "false")
  }
}
