package graft

import org.apache.spark.sql.SparkSession

/** The one local-session recipe: every `main` except
  * [[KafkaSmoke]] (which runs under `spark-submit` with `MASTER`) and
  * the test suite build their session here, so the confs cannot drift
  * apart between the correctness dump, the benchmark and the tests. */
object Session {
  /** `local[cpus]` with the engine's extensions, one shuffle partition
    * per core, UTC, nanosecond parquet timestamps read as longs (the
    * layout `Tables.events` normalizes), a janino class cache large
    * enough for every registered query's codegen stages (the default
    * 100 entries thrash across a full pass, adding seconds of
    * recompilation), no UI and WARN logging. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The core count a `main` runs with: `SPARK_GRAFT_CPUS`, default 4. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
}
