package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files

class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("pipeline curates, dedups, and indexes the corpus end-to-end") {
    val tmp = Files.createTempDirectory("graft-pipe").toString
    val (nCorpus, nIndex) = Pipeline.run(spark,
      "/root/testdata/sf0.001/documents.parquet",
      s"$tmp/corpus", s"$tmp/index")
    assert(nCorpus > 0 && nCorpus == nIndex)
    val corpus = spark.read.parquet(s"$tmp/corpus")
    assert(corpus.agg(min("quality")).head().getDouble(0) >= 0.3)
    val index = spark.read.parquet(s"$tmp/index")
    assert(index.schema("embedding").dataType.simpleString
      == "array<double>")
    // every index vector is unit-norm (or all-zero for empty text)
    val norms = index.select(
      sqrt(graft.functions.VectorFunctions.dotProduct(
        col("embedding"), col("embedding"))).as("n"))
      .collect().map(_.getDouble(0))
    assert(norms.forall(n => math.abs(n - 1.0) < 1e-9 || n == 0.0))
  }

  test("curate emits observe metrics collectable by a listener") {
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.apache.spark.sql.execution.QueryExecution
    @volatile var seen: Option[(Long, Double)] = None
    @volatile var seenFull: Option[Long] = None
    val listener = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution,
          duration: Long): Unit = {
        qe.observedMetrics.get("graft.curate").foreach { row =>
          seen = Some((row.getAs[Long]("rows_kept"),
            row.getAs[Double]("mean_quality")))
        }
        qe.observedMetrics.get("graft.curate_full").foreach { row =>
          seenFull = Some(row.getAs[Long]("rows_kept"))
        }
      }
      override def onFailure(fn: String, qe: QueryExecution,
          error: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val curated = Pipeline.curate(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
      val n = curated.count()
      // poll briefly: listener fires asynchronously after the action
      val deadline = System.nanoTime() + 10e9.toLong
      while (seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(seen.isDefined, "observe metrics never arrived")
      assert(seen.get._1 == n)
      assert(seen.get._2 >= 0.3 && seen.get._2 <= 1.0)
      // the registered composed chain ends in a global sort, whose
      // range exchange samples its input in a separate pass: the
      // metric must still count each returned row once
      val full = SparkEntry.queries("q112_curate_full")(spark,
        "/root/testdata/sf0.001").collect()
      val deadline2 = System.nanoTime() + 10e9.toLong
      while (seenFull.isEmpty && System.nanoTime() < deadline2)
        Thread.sleep(50)
      assert(full.nonEmpty)
      assert(seenFull.contains(full.length.toLong),
        s"graft.curate_full rows_kept $seenFull for ${full.length} rows")
    } finally spark.listenerManager.unregister(listener)
  }

  test("curate drops exact duplicates keeping the lowest doc_id") {
    val tmp = Files.createTempDirectory("graft-pipe2").toString
    Seq(
      (10L, "some duplicated text here and more of it", "en", "s1"),
      (11L, "some  DUPLICATED text here and more of it", "en", "s2"),
      (12L, "a completely different document body text", "en", "s3"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$tmp/docs")
    val curated = Pipeline.curate(
      spark.read.parquet(s"$tmp/docs"), minQuality = 0.0)
    val ids = curated.select("doc_id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(10L, 12L))
  }

  test("exact near-dup curation collapses a chain to one representative") {
    val tmp = Files.createTempDirectory("graft-pipe3").toString
    // a-b and b-c are near-dups (one token changed); a-c differs by two
    // tokens and may miss candidacy — components must still group all
    // three, keeping only doc 20
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    Seq(
      (20L, base, "en", "s1"),
      (21L, base.replace("kappa", "lambda"), "en", "s2"),
      (22L, base.replace("kappa", "lambda").replace("alpha", "omega"),
        "en", "s3"),
      (23L, "an entirely unrelated piece of text goes here now", "en", "s4"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$tmp/docs")
    val kept = Pipeline.curateNearDupExact(
      spark.read.parquet(s"$tmp/docs"), minQuality = 0.0, minJaccard = 0.3)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(20L, 23L))
  }

  test("curateFull chains dedup, trim, near-dup, and rebalance") {
    val tmp = Files.createTempDirectory("graft-pipe4").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // 60 filler docs in one source force a real p1/p99 spread and a
    // sub-n sqrt quota for s1; the near-dup pair and the outlier sit
    // in their own sources
    val filler = (100L until 160L).map(i =>
      (i, s"filler document number $i with some ordinary words " +
        ("pad " * (i % 7).toInt).trim, "en", "s1"))
    val special = Seq(
      (20L, base, "en", "s2"),
      (21L, base.replace("kappa", "lambda"), "en", "s2"), // near-dup of 20
      (30L, ("verylong " * 400).trim, "en", "s3"))        // length outlier
    (filler ++ special).toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$tmp/docs")
    val out = Pipeline.curateFull(spark.read.parquet(s"$tmp/docs"),
      minQuality = 0.0, minJaccard = 0.3)
    val kept = out.select("doc_id").as[Long].collect().toSet
    assert(!kept.contains(21L), "near-dup of doc 20 must be dropped")
    assert(!kept.contains(30L), "p99 length outlier must be dropped")
    assert(kept.contains(20L), "cluster representative survives")
    // s1 (60 docs) is rebalanced to its sqrt quota: floor(sqrt(n)*4)
    val s1 = out.filter(col("source") === "s1").count()
    assert(s1 <= math.floor(math.sqrt(60.0) * 4).toLong)
    assert(s1 > 0)
    // output schema carries the telemetry columns
    assert(out.columns.toSet == Set("doc_id", "text", "lang", "source",
      "quality", "n_tokens"))
  }

  test("incremental curation converges to the one-shot batch computation") {
    import graft.functions.TextFunctions._
    // docs with exact duplicates ACROSS batches (same text at ids in
    // different thirds) and some below the quality floor
    val texts = Seq(
      "the cat sat on the mat and looked for food in the garden",
      "a quick brown fox jumped over the lazy dog in the morning",
      "!!! ### $$$", // fails the quality floor
      "the rain in spain stays mainly on the plain for a season")
    val docs = (0L until 12L).map(i =>
      (i, texts((i % 4).toInt), "en", s"s${i % 2}"))
      .toDF("doc_id", "text", "lang", "source")
    // one-shot semantics: quality floor, then lowest-id per fp
    val passing = docs
      .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("text"),
        qualityScoreOf(col("text"), col("toks")).as("quality"))
      .filter(col("quality") >= 0.3)
      .withColumn("fp", fingerprint(col("text")))
    val oneShot = passing.groupBy("fp").agg(min("doc_id").as("doc_id"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    // incremental: three ascending batches, state = accumulated output
    var acc: Option[org.apache.spark.sql.DataFrame] = None
    Seq(0L until 4L, 4L until 8L, 8L until 12L).foreach { r =>
      val batch = docs.filter(col("doc_id") >= r.head &&
        col("doc_id") <= r.last)
      val step = Pipeline.curateIncrement(batch, acc, minQuality = 0.3)
        .localCheckpoint()
      acc = Some(acc.map(_.unionByName(step)).getOrElse(step))
    }
    val incremental =
      acc.get.select("doc_id").as[Long].collect().sorted.toSeq
    assert(incremental == oneShot && oneShot.nonEmpty)
    // the dup of an earlier batch's winner was dropped by the fp
    // anti-join, not re-admitted
    assert(incremental.count(_ >= 4L) == 0,
      "later batches repeat earlier texts — nothing new to admit")
  }

  test("curateIncrement admits ONE row per fingerprint even under duplicate doc_ids") {
    // a batch that violates the doc_id-uniqueness expectation (e.g. a
    // replayed partial write): the winner pick must not fan out — a
    // doc_id-equality join back would admit BOTH copies of id 1
    val batch = Seq(
      (1L, "the cat sat on the mat and looked for food", "en", "s"),
      (1L, "the cat sat on the mat and looked for food", "en", "s"),
      (2L, "a quick brown fox jumped over the lazy dog", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val out = Pipeline.curateIncrement(batch, None, minQuality = 0.0)
    val rows = out.select("doc_id").as[Long].collect().sorted.toSeq
    assert(rows == Seq(1L, 2L),
      s"expected one winner per fingerprint, got $rows")
    // and each admitted fingerprint appears exactly once
    assert(out.select("fp").distinct().count() == out.count())
  }
}
