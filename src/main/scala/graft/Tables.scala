package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Each loader is a bare `spark.read.parquet` so Catalyst keeps full
  * pushdown freedom: filters and projections written downstream reach the
  * parquet scan (PushedFilters / ReadSchema), and partition-count follows
  * `spark.sql.files.maxPartitionBytes` — at 100 TB the same call fans out
  * to thousands of input splits with no code change here.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Rebalance a scan across the cluster BEFORE heavy per-row compute
    * (per-token md5, JSON parse, shingle set ops) — and only when the
    * scan under-parallelizes. Parquet splits at row-group granularity,
    * so a small single-row-group file is ONE task no matter what
    * `maxPartitionBytes` says, serializing everything until the first
    * exchange. When per-row compute dominates scan bytes (md5-per-token
    * is ~50x the I/O), a round-robin shuffle of the raw rows is always
    * worth it on an under-parallel scan; on production multi-row-group
    * files the partition check makes this a no-op, so no extra shuffle
    * ships at scale. Apply AFTER scan-level filters — pushdown first,
    * then spread the survivors. */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // Post-SHUFFLE inputs are already spread across `shuffle.partitions`
    // — and probing `.rdd` on a plan with shuffles would eagerly run
    // those stages under AQE (then run them again at action time).
    // Broadcast exchanges prove nothing about the probe side's
    // partitioning (a broadcast join keeps its stream side's single
    // scan partition), so only ShuffleExchangeLike short-circuits;
    // plans without one are probed — `.rdd` there is pure planning
    // plus at worst a (small by definition) broadcast build.
    val hasShuffle = df.queryExecution.sparkPlan.find {
      case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
        true
      case _ => false
    }.isDefined
    if (hasShuffle) df
    else {
      // memoize the probe per (session, plan, target): the same table
      // scan is spread from many call sites, and each .rdd probe
      // replans it. Keyed on the session's UUID — unique per session
      // for the life of the JVM, unlike an identity hash, which can be
      // reused after GC and hand a fresh session a stale decision —
      // so a new session (fresh file listing) never inherits one;
      // within ONE session a same-path parquet rewrite (`Dev replicate`,
      // then a query pass) must call [[invalidateSpreadCache]] — Spark's own
      // FileIndex cache has the same same-session staleness, so the
      // writer already knows to refresh. Bounded: cleared wholesale
      // past 4096 entries (each is a few bytes; the bound only guards
      // a pathological plan churn).
      val key = (org.apache.spark.sql.GraftSqlBridge.sessionKey(df.sparkSession),
        df.queryExecution.logical.semanticHash(), target)
      if (spreadProbeCache.size > 4096) spreadProbeCache.clear()
      val under = spreadProbeCache.computeIfAbsent(key,
        _ => df.rdd.getNumPartitions < target)
      if (under) df.repartition(target) else df
    }
  }

  /** Drop memoized spread-probe decisions — call after rewriting
    * parquet at a path that was already probed in this session. */
  def invalidateSpreadCache(): Unit = {
    spreadProbeCache.clear()
    countCache.clear()
    // the SQL-surface view cache has the identical same-session
    // staleness contract — one invalidation point for both
    Sql.invalidateViewCache()
  }

  private val spreadProbeCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, Int), java.lang.Boolean]()

  /** Memoized `df.count()` for STALENESS-MARKER counts only (the
    * `rows=N` component of build-once artifact markers): every
    * ensure* wrapper counts its INPUT dataset to detect a
    * regenerated corpus, and on the cache-HIT path that count job was
    * the only work left — dozens of ensure-backed queries each paid a
    * parquet count of the same immutable input per run. Keyed like
    * [[spread]]'s probe memo ((session UUID, plan hash) — a fresh
    * session never inherits an entry) and cleared by
    * [[invalidateSpreadCache]] under the same same-session rewrite
    * contract. Use ONLY for counts over the read-only input dataset;
    * counts that verify a just-written table must stay live. */
  def memoCount(df: DataFrame): Long = {
    val key = (org.apache.spark.sql.GraftSqlBridge.sessionKey(df.sparkSession),
      df.queryExecution.logical.semanticHash())
    if (countCache.size > 4096) countCache.clear()
    countCache.computeIfAbsent(key, _ => df.count())
  }

  private val countCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), java.lang.Long]()

  /** Normalize `events.ts` to session-zoned TimestampType across the
    * generator's two historical physical layouts: TIMESTAMP(NANOS)
    * (rejected by Spark's vectorized reader — sessions set
    * `spark.sql.legacy.parquet.nanosAsLong`, this loader converts the
    * raw nanos) and TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as
    * TIMESTAMP_NTZ, which `unix_micros`/window arithmetic reject).
    * All sessions pin `spark.sql.session.timeZone=UTC`, so the
    * NTZ->timestamp cast is wall-clock-preserving and matches DuckDB's
    * naive-TIMESTAMP reading of the same files. */
  private def eventsWithTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // `div`, not `/`: double division of ~1e18 nanos sits past the
        // 53-bit mantissa and can flip the microsecond by one; integral
        // division is exact (and matches DuckDB's native TIMESTAMP_NS
        // -> epoch_us semantics)
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = eventsWithTs(table(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
