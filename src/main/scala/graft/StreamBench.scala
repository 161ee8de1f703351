package graft

import graft.streaming.Streams
import org.apache.spark.sql.functions._

/** Streaming throughput probe: drain a file-sourced CVE JSON stream
  * through the W3 dual-sink writer (parse -> corrupt-split -> raw +
  * silver + DLQ parquet appends) and report rows/s. The W-family's
  * performance evidence to go with StreamingSpec's correctness
  * evidence — see STREAMBENCH.md for recorded figures.
  *
  * The record stream is generated from a representative CVE template
  * (ids/scores/dates varied per row, ~2% corrupt rows for the DLQ
  * path) and split across files so AvailableNow forms several
  * micro-batches, exercising real per-batch overhead.
  */
object StreamBench {

  /** (late/early mean ratio, least-squares slope ms/batch, curve JSON)
    * over per-batch seconds keyed by batchId — batch 0 excluded from
    * the statistics (cold-session cost). */
  private def curveStats(batchSec: java.util.concurrent.ConcurrentSkipListMap[Long, Double])
      : (Double, Double, String) = {
    import scala.jdk.CollectionConverters._
    val curve = batchSec.entrySet().asScala.toSeq
      .map(e => e.getKey -> e.getValue)
    val steady = curve.drop(1).map(_._2)
    val half = steady.length / 2
    val ratio =
      if (half > 0) (steady.drop(half).sum / (steady.length - half)) /
        (steady.take(half).sum / half)
      else Double.NaN
    val slopeMs = if (steady.length > 2) {
      val n = steady.length
      val xm = (n - 1) / 2.0
      val ym = steady.sum / n
      val cov = steady.zipWithIndex
        .map { case (y, i) => (i - xm) * (y - ym) }.sum
      val vx = (0 until n).map(i => (i - xm) * (i - xm)).sum
      cov / vx * 1000.0
    } else Double.NaN
    (ratio, slopeMs,
      curve.map { case (b, s) => f"""[$b,$s%.2f]""" }.mkString(","))
  }

  /** Progress listener capturing per-batch triggerExecution seconds
    * for the named query (name matched — set before start(), so batch
    * 0 can't race; durationMs lookup null-guarded — Spark swallows
    * listener exceptions). */
  private def batchListener(queryName: String,
      into: java.util.concurrent.ConcurrentSkipListMap[Long, Double])
      : org.apache.spark.sql.streaming.StreamingQueryListener =
    new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.name == queryName && e.progress.numInputRows > 0)
          Option(e.progress.durationMs.get("triggerExecution")).foreach(
            ms => into.put(e.progress.batchId, ms.toDouble / 1e3))
    }

  def main(args: Array[String]): Unit = {
    val rows = sys.env.getOrElse("SPARK_GRAFT_STREAM_ROWS", "200000").toLong
    val files = 20
    val spark = Session.local(Session.envCpus)

    val tmp = java.nio.file.Files.createTempDirectory("graft-streambench")
      .toString
    // one JSON doc per line; every 50th row is corrupt (DLQ path)
    spark.range(rows).select(
      when(col("id") % 50 === 0, lit("""{"broken"""))
        .otherwise(format_string(
          """{"cveMetadata":{"cveId":"CVE-2024-%d","datePublished":"2024-01-01T00:00:00.000Z","dateUpdated":"2024-01-02T00:00:00.000Z"},"containers":{"cna":{"title":"t%d","descriptions":[{"value":"desc %d"}],"metrics":[{"cvssV3_1":{"baseScore":%d.1,"baseSeverity":"MEDIUM"}}],"problemTypes":[{"descriptions":[{"cweId":"CWE-%d"}]}]}}}""",
          col("id"), col("id"), col("id"), col("id") % 9,
          col("id") % 1000)).as("value"))
      .repartition(files)
      .write.mode("overwrite").text(s"$tmp/landing")

    val source = spark.readStream
      .option("maxFilesPerTrigger", math.max(files / 5, 1).toString)
      .text(s"$tmp/landing")
    val parsed = Streams.parseCve(source)
    val t0 = System.nanoTime()
    val q = Streams.dualSinkWriter(parsed, s"$tmp/raw", s"$tmp/meta",
      s"$tmp/dlq", s"$tmp/ckpt").trigger(Streams.drainTrigger).start()
    q.awaitTermination()
    val sec = (System.nanoTime() - t0) / 1e9
    val out = spark.read.parquet(s"$tmp/raw").count() +
      spark.read.parquet(s"$tmp/dlq").count()
    require(out == rows, s"sink row mismatch: $out != $rows")
    println(f"""{"metric":"stream_rows_per_sec","value":${rows / sec}%.0f,"unit":"rows/sec","rows":$rows,"seconds":$sec%.2f,"batches":${files / math.max(files / 5, 1)}}""")

    // near-dup admission sink: document-shaped stream (unique ids,
    // ~10% of rows NEAR-duplicate an earlier doc's text — every text
    // is distinct, so the in-batch exact-dedup stage passes them all
    // through and the LSH candidate + Jaccard-verify path does the
    // work being measured) through nearDupSinkWriter, per-batch
    // against the growing persisted band table.
    val ndRows = sys.env.getOrElse("SPARK_GRAFT_ND_ROWS", "240000").toLong
    // one ~4k-doc file per trigger (batch count scales with the row
    // override), so the run doubles as the STEADY-STATE COST CURVE:
    // per-batch wall time as the persisted band table grows. The
    // 100 TB claim for the admission sink is "signature pass + one
    // full band-table scan (+ one doc_id-only pruned scan) per batch";
    // a superlinear per-batch trend here would falsify it. At 60+
    // batches the linear band-scan term is MEASURABLE (the round-6
    // 24k-doc run was flat because fixed per-batch overhead
    // dominated): the late/early ratio should sit above 1 by roughly
    // the scan term's share and the curve should grow linearly, not
    // worse. SPARK_GRAFT_ND_ROWS=800000 -> the 200-batch long run.
    val ndFiles = math.max(1, (ndRows / 4000).toInt)
    spark.range(ndRows).select(
      col("id").as("doc_id"),
      when(col("id") % 10 === 3,
        format_string("shared near duplicate content block with mostly " +
          "common tokens repeated across the whole corpus run for " +
          "benchmarking the admission path group %d copy %d",
          col("id") % 100, col("id")))
        .otherwise(format_string("unique document %d with its own " +
          "distinct token mixture variant%d body text", col("id"),
          col("id"))).as("text"))
      .repartition(ndFiles)
      .write.mode("overwrite").parquet(s"$tmp/nd_landing")
    val ndSource = spark.readStream
      .option("maxFilesPerTrigger", "1")
      .schema("doc_id LONG, text STRING")
      .parquet(s"$tmp/nd_landing")
    // per-batch timings via the progress listener (batchId ->
    // triggerExecution ms); events are async, drained after stop.
    // The listener matches on the query NAME — set before start(), so
    // no progress event can fire before the key exists (an id-based
    // match assigned after start() raced and could drop batch 0) —
    // and the durationMs lookup is null-guarded: Spark swallows
    // listener exceptions, so an NPE would silently lose the point.
    val ndQueryName = "graft-streambench-neardup"
    val batchSec =
      new java.util.concurrent.ConcurrentSkipListMap[Long, Double]()
    val listener = batchListener(ndQueryName, batchSec)
    spark.streams.addListener(listener)
    val t1 = System.nanoTime()
    // SPARK_GRAFT_ND_COMPACT_EVERY > 0 exercises the maintenance
    // cadence under the same probe: compaction cost lands inside the
    // batches that run it, so the curve shows both the reset and its
    // price (spikes at the cadence, flat growth between).
    val ndCompactEvery =
      sys.env.getOrElse("SPARK_GRAFT_ND_COMPACT_EVERY", "0").toInt
    val nq = Streams.nearDupSinkWriter(ndSource, s"$tmp/nd_out",
      s"$tmp/nd_bands", s"$tmp/nd_ckpt", minJaccard = 0.5,
      compactEvery = ndCompactEvery)
      .queryName(ndQueryName)
      .trigger(Streams.drainTrigger).start()
    nq.awaitTermination()
    val ndSec = (System.nanoTime() - t1) / 1e9
    spark.streams.removeListener(listener)
    val admitted = spark.read.parquet(s"$tmp/nd_out").count()
    println(f"""{"metric":"neardup_stream_rows_per_sec","value":${ndRows / ndSec}%.0f,"unit":"rows/sec","rows":$ndRows,"admitted":$admitted,"seconds":$ndSec%.2f,"batches":${batchSec.size}}""")
    // the curve line: batch-index -> seconds, first/second-half mean
    // ratio, and the least-squares slope — the measured per-batch
    // growth, i.e. the linear band-scan term the cost model predicts
    val (ratio, slopeMs, curveJson) = curveStats(batchSec)
    println(f"""{"metric":"neardup_batch_curve","unit":"sec/batch","late_vs_early":$ratio%.2f,"slope_ms_per_batch":$slopeMs%.1f,"curve":[$curveJson]}""")

    // exactly-once CMS sink: same document stream shape, through
    // cmsSinkWriter. The claim under test is the OPPOSITE of the
    // admission sink's: the counter table is fixed-size (d x w rows),
    // so per-batch cost must NOT grow with batches — slope ~ 0, no
    // compaction cadence needed. (The admission sinks' measured linear
    // term comes from rescanning tables that GROW; this table never
    // does.)
    val cmsRows = sys.env.getOrElse("SPARK_GRAFT_CMS_ROWS", "200000").toLong
    val cmsFiles = math.max(1, (cmsRows / 4000).toInt)
    spark.range(cmsRows).select(
      col("id").as("doc_id"),
      format_string("document %d body with a shared hot banner line " +
        "plus its own variant%d tail tokens", col("id"), col("id"))
        .as("text"))
      .repartition(cmsFiles)
      .write.mode("overwrite").parquet(s"$tmp/cms_landing")
    val cmsSource = spark.readStream
      .option("maxFilesPerTrigger", "1")
      .schema("doc_id LONG, text STRING")
      .parquet(s"$tmp/cms_landing")
    val cmsQueryName = "graft-streambench-cms"
    val cmsBatchSec =
      new java.util.concurrent.ConcurrentSkipListMap[Long, Double]()
    val cmsListener = batchListener(cmsQueryName, cmsBatchSec)
    spark.streams.addListener(cmsListener)
    val t2 = System.nanoTime()
    val cq = Streams.cmsSinkWriter(cmsSource, s"$tmp/cms_counters",
      s"$tmp/cms_ckpt")
      .queryName(cmsQueryName)
      .trigger(Streams.drainTrigger).start()
    cq.awaitTermination()
    val cmsSec = (System.nanoTime() - t2) / 1e9
    spark.streams.removeListener(cmsListener)
    val (cmsRatio, cmsSlopeMs, cmsCurveJson) = curveStats(cmsBatchSec)
    val nCounters = spark.read.parquet(s"$tmp/cms_counters").count()
    println(f"""{"metric":"cms_stream_rows_per_sec","value":${cmsRows / cmsSec}%.0f,"unit":"rows/sec","rows":$cmsRows,"counter_rows":$nCounters,"seconds":$cmsSec%.2f,"batches":${cmsBatchSec.size}}""")
    println(f"""{"metric":"cms_batch_curve","unit":"sec/batch","late_vs_early":$cmsRatio%.2f,"slope_ms_per_batch":$cmsSlopeMs%.1f,"curve":[$cmsCurveJson]}""")

    // exactly-once manifest-table ingest: the cheapest sink mechanism
    // (append IS the commit; watermark rides the rename; no per-batch
    // table scan, no state rewrite). Expected shape: near-flat, with
    // a small linear term from the copy-on-write manifest (each
    // commit re-lists all prior dirs) that vacuumEvery's version-count
    // bound does NOT reset — dir-count growth is offline compaction's
    // job, measured here as the honest slope.
    val mfRows = sys.env.getOrElse("SPARK_GRAFT_MF_ROWS", "200000").toLong
    val mfFiles = math.max(1, (mfRows / 4000).toInt)
    spark.range(mfRows).select(
      col("id").as("doc_id"),
      format_string("manifest ingest doc %d body text", col("id"))
        .as("text"))
      .repartition(mfFiles)
      .write.mode("overwrite").parquet(s"$tmp/mf_landing")
    val mfSource = spark.readStream
      .option("maxFilesPerTrigger", "1")
      .schema("doc_id LONG, text STRING")
      .parquet(s"$tmp/mf_landing")
    val mfQueryName = "graft-streambench-manifest"
    val mfBatchSec =
      new java.util.concurrent.ConcurrentSkipListMap[Long, Double]()
    val mfListener = batchListener(mfQueryName, mfBatchSec)
    spark.streams.addListener(mfListener)
    val t3 = System.nanoTime()
    val mq = Streams.manifestSinkWriter(mfSource, s"$tmp/mf_table",
      s"$tmp/mf_ckpt", statsCols = Seq("doc_id"), vacuumEvery = 10)
      .queryName(mfQueryName)
      .trigger(Streams.drainTrigger).start()
    mq.awaitTermination()
    val mfSec = (System.nanoTime() - t3) / 1e9
    spark.streams.removeListener(mfListener)
    val (mfRatio, mfSlopeMs, mfCurveJson) = curveStats(mfBatchSec)
    val mfCount = graft.sinks.ManifestTable.read(spark, s"$tmp/mf_table")
      .count()
    require(mfCount == mfRows, s"manifest sink row mismatch: $mfCount")
    println(f"""{"metric":"manifest_stream_rows_per_sec","value":${mfRows / mfSec}%.0f,"unit":"rows/sec","rows":$mfRows,"seconds":$mfSec%.2f,"batches":${mfBatchSec.size}}""")
    println(f"""{"metric":"manifest_batch_curve","unit":"sec/batch","late_vs_early":$mfRatio%.2f,"slope_ms_per_batch":$mfSlopeMs%.1f,"curve":[$mfCurveJson]}""")

    // PARTITIONED manifest ingest: the same stream through the format
    // sink with .partitionBy — each batch lands one pure dir per
    // language (5x the dir count, one partitionBy-staged write + one
    // grouped restat per batch). Expected shape: the same near-flat
    // curve as the flat sink with a constant-factor offset; the
    // payoff is that the table is dropPartitions-ready from batch 0.
    val mpQueryName = "graft-streambench-manifest-part"
    val mpBatchSec =
      new java.util.concurrent.ConcurrentSkipListMap[Long, Double]()
    val mpListener = batchListener(mpQueryName, mpBatchSec)
    spark.streams.addListener(mpListener)
    val t4 = System.nanoTime()
    val mpq = mfSource
      .withColumn("lang", concat(lit("l"),
        pmod(col("doc_id"), lit(5)).cast("string")))
      .writeStream.format("graft-manifest")
      .option("checkpointLocation", s"$tmp/mfp_ckpt")
      .option("statsCols", "doc_id")
      .option("vacuumEvery", "10")
      .partitionBy("lang")
      .queryName(mpQueryName)
      .trigger(Streams.drainTrigger).start(s"$tmp/mfp_table")
    mpq.awaitTermination()
    val mpSec = (System.nanoTime() - t4) / 1e9
    spark.streams.removeListener(mpListener)
    val (mpRatio, mpSlopeMs, mpCurveJson) = curveStats(mpBatchSec)
    val mpCount = graft.sinks.ManifestTable
      .read(spark, s"$tmp/mfp_table").count()
    require(mpCount == mfRows,
      s"partitioned manifest sink row mismatch: $mpCount")
    val mpV = graft.sinks.ManifestTable
      .latestVersion(spark, s"$tmp/mfp_table").get
    require(graft.sinks.ManifestTable
      .entriesOf(spark, s"$tmp/mfp_table", mpV)
      .filter(_.files.exists(_.nonEmpty))
      .forall(_.partition.contains("lang")),
      "partitioned manifest sink produced a partition-blind dir")
    println(f"""{"metric":"manifest_part_stream_rows_per_sec","value":${mfRows / mpSec}%.0f,"unit":"rows/sec","rows":$mfRows,"seconds":$mpSec%.2f,"batches":${mpBatchSec.size}}""")
    println(f"""{"metric":"manifest_part_batch_curve","unit":"sec/batch","late_vs_early":$mpRatio%.2f,"slope_ms_per_batch":$mpSlopeMs%.1f,"curve":[$mpCurveJson]}""")

    // CDC-APPLY follower: the manifest table built above — ~50 append
    // commits — gains 3 in-place updates and 3 range deletes, then
    // its CHANGE FEED drains (rate-limited to 10 versions/trigger)
    // into a replica via applyChangesSinkWriter. Expected shape:
    // bootstrap batch ∝ table size, every later batch ∝ the versions
    // it covers (append steps emit without diffing; the 6 mutation
    // steps diff only their touched dirs). The convergence assert is
    // the point: the replica equals the source EXACTLY after the
    // drain, deletes and updates included.
    (1 to 3).foreach { i =>
      graft.sinks.ManifestTable.updateRange(spark, s"$tmp/mf_table",
        "doc_id", i * 1000L, i * 1000L + 499L,
        Seq("text" -> concat(col("text"), lit(" (rev)"))))
      graft.sinks.ManifestTable.deleteRange(spark, s"$tmp/mf_table",
        "doc_id", i * 10000L, i * 10000L + 999L)
    }
    val cdcQueryName = "graft-streambench-cdc-apply"
    val cdcBatchSec =
      new java.util.concurrent.ConcurrentSkipListMap[Long, Double]()
    val cdcListener = batchListener(cdcQueryName, cdcBatchSec)
    spark.streams.addListener(cdcListener)
    val t5 = System.nanoTime()
    // NOTE: a rate-limited V1 source must drain via
    // processAllAvailable, not Trigger.AvailableNow — the engine's
    // AvailableNow wrapper snapshots ONE getOffset as the final
    // target, which under a version cap is the first CAPPED offset
    // (documented on [[Streams.applyChangesSinkWriter]])
    val cdcq = Streams.applyChangesSinkWriter(
      spark.readStream.format("graft-manifest")
        .option("readChangeFeed", "true")
        .option("maxVersionsPerTrigger", "10")
        .load(s"$tmp/mf_table"),
      s"$tmp/mf_follower", "doc_id", s"$tmp/cdc_ckpt",
      statsCols = Seq("doc_id"))
      .queryName(cdcQueryName)
      .start()
    cdcq.processAllAvailable()
    cdcq.stop()
    val cdcSec = (System.nanoTime() - t5) / 1e9
    spark.streams.removeListener(cdcListener)
    val src = graft.sinks.ManifestTable.read(spark, s"$tmp/mf_table")
    val dst = graft.sinks.ManifestTable.read(spark, s"$tmp/mf_follower")
    require(dst.exceptAll(src).isEmpty && src.exceptAll(dst).isEmpty,
      "CDC follower diverged from the source")
    val liveRows = src.count()
    val (cdcRatio, cdcSlopeMs, cdcCurveJson) = curveStats(cdcBatchSec)
    println(f"""{"metric":"cdc_apply_rows_per_sec","value":${liveRows / cdcSec}%.0f,"unit":"rows/sec","rows":$liveRows,"seconds":$cdcSec%.2f,"batches":${cdcBatchSec.size}}""")
    println(f"""{"metric":"cdc_apply_batch_curve","unit":"sec/batch","late_vs_early":$cdcRatio%.2f,"slope_ms_per_batch":$cdcSlopeMs%.1f,"curve":[$cdcCurveJson]}""")
    spark.stop()
  }
}
