package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (session startup is
  * seconds; suites share it and never stop it — the JVM exit cleans up).
  * Built by the same factory as the mains, so the tests run under the
  * confs Verify and Bench use. */
object TestSpark {
  lazy val spark: SparkSession = Session.local(4)
}
