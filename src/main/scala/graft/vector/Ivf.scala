package graft.vector

import graft.expressions.VectorExpressions.dotF
import graft.functions.VectorFunctions.l2Norm
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The serving path both persisted IVF indexes share, cosine
  * [[VectorIndex]] and squared-L2 [[IvfPq]]: the coarse stage that
  * picks each query's buckets, the probe head that brings the picks to
  * the driver once, and the artifacts kept beside an index at `path`
  * (`<path>.centroids`, `<path>.tombstones`). The two indexes differ
  * only in their [[Metric]] and in the tail that scores the probed rows.
  *
  * Query contract, for every probe and for [[PQ.search]]: query ids are
  * unique and every `q_emb` is non-null. It is checked on rows the probe
  * collects anyway ([[uniqueQueries]]) and broken batches throw
  * IllegalArgumentException. A probe sees only the rows its coarse
  * budget keeps, so a duplicate is caught whenever the budget keeps two
  * picks of the query (the default `minProbe = 2` always does). */
private[vector] object Ivf {

  /** How an index scores a (query, centroid) pair over the columns
    * (q_emb, q_nrm, c_emb, c_nrm) and which pairs its margin rule admits
    * beyond the `minProbe` floor. The rule is one adaptive candidate
    * bound (CASS, SIGMOD 2020): a query deep inside one cell probes
    * few buckets, a query near a cell boundary spills into every
    * competitive neighbour. */
  sealed trait Metric {
    def score: Column
    def nearestFirst(s: Column): Column
    def best(s: Column): Column
    def admits(s: Column, best: Column, slack: Double): Column
  }

  /** Cosine similarity, -2 for a zero norm. A centroid is admitted
    * within `slack` of the best RELATIVE to how decisive the best is,
    * `sim >= best - slack * (1 - best)`: on unit vectors exactly the L2
    * rule below. */
  object Cosine extends Metric {
    def score: Column =
      when(col("q_nrm") === 0.0 || col("c_nrm") === 0.0, lit(-2.0))
        .otherwise(dotF(col("c_emb"), col("q_emb"))
          / (col("c_nrm") * col("q_nrm")))
    def nearestFirst(s: Column): Column = s.desc
    def best(s: Column): Column = max(s)
    def admits(s: Column, best: Column, slack: Double): Column =
      s >= best - lit(slack) * (lit(1.0) - best)
  }

  /** Squared L2, the IVF-PQ build metric: `d2 <= (1 + slack) * best`
    * (FAISS's multiprobe epsilon). */
  object L2 extends Metric {
    def score: Column = PQ.l2sq(col("q_emb"), col("c_emb"))
    def nearestFirst(s: Column): Column = s.asc
    def best(s: Column): Column = min(s)
    def admits(s: Column, best: Column, slack: Double): Column =
      s <= (lit(1.0) + lit(slack)) * best
  }

  /** A per-query probe budget: the `min` nearest cells always, then
    * up to `max` cells the margin rule admits under `slack`. A fixed
    * nProbe is `Budget(_, nProbe, nProbe)`. */
  final case class Budget(slack: Double, min: Int, max: Int)

  /** The coarse stage over candidate (query, cell) `pairs`: score,
    * rank nearest-first per query (ties to the lower `id`), keep the
    * budget. Returns (query_id, q_emb, q_nrm, id). */
  private def pick(pairs: DataFrame, metric: Metric, id: String,
      b: Budget): DataFrame = {
    val perQuery = Window.partitionBy(col("query_id"))
    pairs
      .select(col("query_id"), col("q_emb"), col("q_nrm"), col(id),
        metric.score.as("score"))
      .withColumn("rk", row_number().over(
        perQuery.orderBy(metric.nearestFirst(col("score")), col(id))))
      .withColumn("best", metric.best(col("score")).over(perQuery))
      .filter(col("rk") <= lit(b.min) || (col("rk") <= lit(b.max) &&
        metric.admits(col("score"), col("best"), b.slack)))
      .select(col("query_id"), col("q_emb"), col("q_nrm"), col(id))
  }

  /** One-level coarse stage: every query against every cell of
    * `cents` (cent_id, c_emb, c_nrm), a tiny broadcast cross product.
    * Returns (query_id, q_emb, q_nrm, id), `id` naming the cell. */
  def coarse(metric: Metric, cents: DataFrame, queries: DataFrame,
      b: Budget, id: String = "cent_id"): DataFrame =
    pick(queries.withColumn("q_nrm", l2Norm(col("q_emb")))
      .crossJoin(broadcast(cents.withColumnRenamed("cent_id", id))),
      metric, id, b)

  /** Two-level coarse stage: queries score the super-centroids first
    * and keep the super-cells budget `l1` admits; only those cells'
    * centroids score at level 2 (the admissions broadcast against the
    * centroid table keyed by super-cell), under budget `b`. */
  def twoLevel(metric: Metric, cents: DataFrame, superCents: DataFrame,
      centToSuper: DataFrame, queries: DataFrame, b: Budget,
      l1: Budget): DataFrame = {
    val admitted = coarse(metric, superCents, queries, l1, "super_id")
    pick(cents.join(centToSuper, "cent_id")
      .join(broadcast(admitted), "super_id"), metric, "cent_id", b)
  }

  /** A probe's coarse picks on the driver: `picks` (query_id, q_emb,
    * q_nrm, bucket) and `queries` (query_id, q_emb) as local relations,
    * `rows` the query rows, and `index` the scan of the picked buckets
    * with tombstoned rows masked. */
  final case class Head(picks: DataFrame, queries: DataFrame,
      rows: Seq[Row], index: DataFrame)

  /** The probe head of both indexes. The picks are collected ONCE: the
    * coarse frame has two consumers (the bucket list, and the scan
    * join that broadcasts it), so re-shipping the collected rows runs
    * the coarse cross join and windows once. Re-shipping does not save
    * the broadcast's own job: on Spark 4.1.2 a broadcast join against a
    * 5-row `createDataFrame(java.util.List)` frame started 2 jobs, as
    * many as against a `parallelize` frame, where the bare scan started
    * 1. `bucket IN (...)` is a partition filter, so the scan is pruned at
    * planning time. */
  def head(spark: SparkSession, path: String, picked: DataFrame,
      who: String): Head = {
    val pb = picked.withColumnRenamed("cent_id", "bucket")
    val pbRows = pb.collect().toSeq
    val rows = uniqueQueries(pbRows, who)(_.getAs[Int]("bucket"))
    val buckets = pbRows.map(_.getAs[Int]("bucket")).distinct
    Head(local(spark, pbRows, pb.schema),
      local(spark, rows,
        StructType(Seq(pb.schema("query_id"), pb.schema("q_emb")))),
      rows,
      dropTombstoned(spark, path, spark.read.parquet(path)
        .filter(col("bucket").isin(buckets: _*))))
  }

  /** The distinct (query_id, q_emb) of collected rows that lead with
    * those two fields. Throws IllegalArgumentException for a null
    * q_emb, for an id seen with a second embedding, and for an id seen
    * twice under the same `key` (a duplicated query row surfaces as a
    * repeated (query_id, bucket) pick). */
  def uniqueQueries(rows: Seq[Row], who: String)(key: Row => Any)
      : Seq[Row] = {
    val seen = scala.collection.mutable.LinkedHashMap.empty[Any, Row]
    val keys = scala.collection.mutable.HashSet.empty[(Any, Any)]
    rows.foreach { r =>
      val id = r.get(0)
      require(!r.isNullAt(1), s"$who: query_id $id has a null q_emb")
      require(keys.add((id, key(r))) &&
        seen.get(id).forall(_.get(1) == r.get(1)),
        s"$who: query_id $id appears in more than one query row — " +
          "query ids must be unique")
      seen.getOrElseUpdate(id, Row(id, r.get(1)))
    }
    seen.values.toSeq
  }

  /** Driver rows as a LocalRelation. */
  def local(spark: SparkSession, rows: Seq[Row],
      schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  def centroidsPath(path: String): String = s"$path.centroids"

  private def tombstonesPath(path: String) = s"$path.tombstones"

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  def tombstonesOf(spark: SparkSession, path: String)
      : Option[DataFrame] = {
    val p = new Path(tombstonesPath(path))
    if (fsOf(spark, p).exists(p)) Some(spark.read.parquet(p.toString))
    else None
  }

  /** Drop every tombstone: a rebuild or a compaction supersedes them. */
  def clearTombstones(spark: SparkSession, path: String): Unit = {
    val p = new Path(tombstonesPath(path))
    fsOf(spark, p).delete(p, true)
    ()
  }

  /** Append tombstones for the non-null `keys` ((vec_id) frame), with
    * generation `cut` when the index orders its rows by generation. */
  def tombstone(path: String, keys: DataFrame, cut: Option[Long]): Unit = {
    val ks = keys.select(col("vec_id")).filter(col("vec_id").isNotNull)
      .distinct()
    cut.fold(ks)(c => ks.withColumn("cut", lit(c)))
      .repartition(1)
      .write.mode("append").parquet(tombstonesPath(path))
  }

  /** Mask tombstoned rows out of an index frame: a row dies when a
    * tombstone names its key, with a cut above the row's `gen` when the
    * tombstones carry cuts ([[IvfPq]]). The tombstones broadcast (they
    * are bounded by deletes, never by index size); with none the frame
    * passes through with no plan overhead. */
  def dropTombstoned(spark: SparkSession, path: String,
      df: DataFrame): DataFrame =
    tombstonesOf(spark, path).fold(df) { t =>
      if (!t.columns.contains("cut"))
        df.join(broadcast(t.select(col("vec_id"))), Seq("vec_id"),
          "left_anti")
      else df.join(
        broadcast(t.select(col("vec_id").as("_t_vid"),
          col("cut").as("_t_cut"))),
        df("vec_id") === col("_t_vid") && df("gen") < col("_t_cut"),
        "left_anti")
    }
}
