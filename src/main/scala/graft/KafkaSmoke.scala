package graft

import org.apache.spark.sql.SparkSession

/** One-command smoke check for the S4 Kafka ingest path — the single
  * code path this build environment cannot integration-test (no
  * broker, no spark-sql-kafka connector jar; see README). The moment
  * an environment HAS both, this main proves the wiring end-to-end:
  *
  * {{{
  * spark-submit --packages \
  *   org.apache.spark:spark-sql-kafka-0-10_2.13:4.1.2 \
  *   --class graft.KafkaSmoke graft.jar broker:9092 cve json
  * }}}
  *
  * It builds [[graft.sources.Sources.kafkaCves]] (the exact stream a
  * production ingest starts from), drains whatever the topic currently
  * holds with Trigger.AvailableNow into an in-memory sink, and prints
  * one JSON line with the row count. Without the connector jar it
  * exits 2 with the precise missing-artifact message instead of a raw
  * stack trace, so the failure mode is a clean preflight diagnostic
  * rather than an unexercised path discovered in production.
  *
  * Unlike every other main it keeps its own session builder rather
  * than [[Session.local]]: under `spark-submit` the master comes from
  * `MASTER` (a real cluster), and local cores only as the fallback.
  */
object KafkaSmoke {
  def main(args: Array[String]): Unit = {
    val bootstrap = if (args.length > 0) args(0) else "localhost:9092"
    val topic = if (args.length > 1) args(1) else "cve"
    val spark = SparkSession.builder()
      .master(sys.env.get("MASTER").getOrElse(
        s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      // fails at load() when the connector can't resolve — before any
      // broker contact, so it doubles as a dependency preflight
      val stream = graft.sources.Sources.kafkaCves(spark, bootstrap, topic)
      val q = stream.writeStream
        .format("memory").queryName("kafka_smoke")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val n = spark.sql("SELECT count(*) FROM kafka_smoke")
        .collect()(0).getLong(0)
      println(s"""{"kafka_smoke":"ok","bootstrap":"$bootstrap","topic":"$topic","rows":$n}""")
    } catch {
      case e: Throwable
          if Option(e.getMessage).exists(m =>
            m.contains("Failed to find data source: kafka") ||
              m.contains("kafka") && m.contains("provider")) =>
        System.err.println(
          s"""{"kafka_smoke":"missing_connector","fix":"add org.apache.spark:spark-sql-kafka-0-10_2.13:${spark.version} to --packages (not bundled: this build ships no external connectors)","detail":"${Option(e.getMessage).getOrElse("").linesIterator.next()}"}""")
        spark.stop()
        sys.exit(2)
    }
    spark.stop()
  }
}
