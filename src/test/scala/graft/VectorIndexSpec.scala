package graft

import graft.layout.Layout
import graft.vector.VectorIndex
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class VectorIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = "/root/testdata/sf0.001"

  private lazy val corpus = Tables.embeddings(spark, d)

  test("IVF build partitions the index by bucket; probe prunes partitions") {
    val tmp = Files.createTempDirectory("graft-ivf").toString
    val cents = VectorIndex.centroids(corpus, 8).cache()
    assert(cents.count() == 8)
    VectorIndex.build(corpus, cents, s"$tmp/index")
    // every corpus vector landed in exactly one bucket
    val idx = spark.read.parquet(s"$tmp/index")
    assert(idx.count() == corpus.count())
    assert(idx.select("bucket").distinct().count() <= 8)
    // probing with nProbe=2 scans only the probed buckets' partitions
    val queries = corpus.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val res = VectorIndex.probe(spark, s"$tmp/index", cents, queries,
      k = 5, nProbe = 2)
    val rows = res.collect()
    assert(rows.nonEmpty)
    // self-hit: each query's own vector is in its probed partition set
    // (its own bucket is its nearest centroid's bucket by construction),
    // so rank-1 is itself with sim ~ 1
    val top = rows.filter(_.getInt(1) == 1)
    assert(top.forall(r => math.abs(r.getDouble(3) - 1.0) < 1e-9))
    // pruning is visible in the scan: PartitionFilters on bucket
    val scan = spark.read.parquet(s"$tmp/index")
      .filter(col("bucket").isin(0, 1))
    assert(Layout.scanFilters(scan).contains("PartitionFilters: ["))
  }

  private def recallAtK(cents: org.apache.spark.sql.DataFrame,
      nProbe: Int, k: Int): Double = {
    import graft.functions.VectorFunctions._
    val tmp = Files.createTempDirectory("graft-ivf-recall").toString
    VectorIndex.build(corpus, cents, s"$tmp/index")
    val queries = corpus.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val ivf = VectorIndex.probe(spark, s"$tmp/index", cents, queries,
      k = k, nProbe = nProbe)
      .select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))
    val brute = corpus.crossJoin(broadcast(queries))
      .select(col("query_id"), col("vec_id"),
        cosine(col("q_emb"), col("embedding")).as("sim"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val per = brute.map { case (q, truth) =>
      ivf.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    per.sum / per.size
  }

  test("k-means centroids: recall at fixed nProbe beats the stride seeds") {
    val seeds = VectorIndex.centroids(corpus, 8).cache()
    val refined = VectorIndex.kmeansCentroids(corpus, 8, iters = 2)
    val strideRecall = recallAtK(seeds, nProbe = 2, k = 10)
    val kmeansRecall = recallAtK(refined, nProbe = 2, k = 10)
    info(f"stride recall@10=$strideRecall%.3f kmeans recall@10=$kmeansRecall%.3f")
    assert(kmeansRecall >= strideRecall)
    // collapse guard, not a tuning target: 500 vectors / 8 buckets /
    // nProbe 2 puts seed-dependent recall in the 0.45-0.55 band
    // (hash-stride seeds: 0.475); a degenerate build reads ~0.0-0.2
    assert(kmeansRecall >= 0.45)
  }

  test("SERVING GRADE: k-means++ centroids + adaptive multi-probe " +
      "pin recall@10 >= 0.9") {
    import graft.functions.VectorFunctions._
    val tmp = Files.createTempDirectory("graft-ivf-serve").toString
    val cents = VectorIndex.kmeansPpCentroids(corpus, 8, iters = 4)
      .cache()
    assert(cents.count() == 8)
    VectorIndex.build(corpus, cents, s"$tmp/index")
    val queries = corpus.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val res = VectorIndex.probeAdaptive(spark, s"$tmp/index", cents,
      queries, k = 10, slack = 0.5, minProbe = 2).cache()
    val got = res.select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet)
      .toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))
    val brute = corpus.crossJoin(broadcast(queries))
      .select(col("query_id"), col("vec_id"),
        cosine(col("q_emb"), col("embedding")).as("sim"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
      .select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet)
      .toMap
    val per = brute.map { case (q, t) =>
      got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }
    val recall = per.sum / per.size
    // the measured serving cost: average buckets probed per query —
    // the scan fraction the recall is bought at (8 = brute force).
    // Recomputed here with the probe's own selection rule.
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
    val avgProbed = queries.crossJoin(broadcast(cents))
      .select(col("query_id"), col("cent_id"),
        cosine(col("q_emb"), col("c_emb")).as("csim"))
      .withColumn("best", max(col("csim")).over(wb))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("csim").desc, col("cent_id"))))
      .filter(col("rk") <= 2 ||
        col("csim") >= col("best") - lit(0.5) * (lit(1.0) - col("best")))
      .groupBy("query_id").count()
      .agg(avg("count")).head().getDouble(0)
    info(f"serving recall@10=$recall%.3f at avg $avgProbed%.1f/8 " +
      f"buckets probed (slack=0.5, minProbe=2, kmpp iters=4) over " +
      f"${brute.size} queries")
    assert(avgProbed < 8.0, "adaptive probe must not always read " +
      "the whole index on this corpus")
    assert(recall >= 0.9,
      f"serving-grade recall pin violated: $recall%.3f < 0.9")
    // the fixed-nProbe baseline the adaptive probe replaces: strictly
    // worse at the same centroids (the boundary queries it misses)
    val fixedRecall = {
      val fx = VectorIndex.probe(spark, s"$tmp/index", cents, queries,
        k = 10, nProbe = 2)
        .select("query_id", "vec_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet)
        .toMap
      val p = brute.map { case (q, t) =>
        fx.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }
      p.sum / p.size
    }
    info(f"fixed nProbe=2 recall@10=$fixedRecall%.3f at the same centroids")
    assert(recall >= fixedRecall)
  }

  test("k-means++ build is deterministic; adaptive probe at max slack " +
      "equals brute force") {
    import graft.functions.VectorFunctions._
    val a = VectorIndex.kmeansPpCentroids(corpus, 8, iters = 2)
      .orderBy("cent_id").collect().map(_.getSeq[Float](1)).toSeq
    val b = VectorIndex.kmeansPpCentroids(corpus, 8, iters = 2)
      .orderBy("cent_id").collect().map(_.getSeq[Float](1)).toSeq
    assert(a === b)
    val tmp = Files.createTempDirectory("graft-ivf-limit2").toString
    val cents = VectorIndex.kmeansPpCentroids(corpus, 4, iters = 1).cache()
    VectorIndex.build(corpus, cents, s"$tmp/index")
    val queries = corpus.filter(col("vec_id") === 7)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val adaptive = VectorIndex.probeAdaptive(spark, s"$tmp/index", cents,
      queries, k = 10, slack = 1e9, minProbe = 1)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))
    val brute = corpus.crossJoin(broadcast(queries))
      .select(col("query_id"), col("vec_id"),
        cosine(col("q_emb"), col("embedding")).as("sim"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(adaptive == brute,
      "slack -> infinity must degrade to brute force")
  }

  test("k-means build is deterministic across runs") {
    val a = VectorIndex.kmeansCentroids(corpus, 8, iters = 2)
      .orderBy("cent_id").collect().map(_.getSeq[Float](1)).toSeq
    val b = VectorIndex.kmeansCentroids(corpus, 8, iters = 2)
      .orderBy("cent_id").collect().map(_.getSeq[Float](1)).toSeq
    assert(a === b)
  }

  test("probe with nProbe = #centroids equals brute force") {
    val tmp = Files.createTempDirectory("graft-ivf2").toString
    val cents = VectorIndex.centroids(corpus, 4).cache()
    VectorIndex.build(corpus, cents, s"$tmp/index")
    val queries = corpus.filter(col("vec_id") === 7)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val ivf = VectorIndex.probe(spark, s"$tmp/index", cents, queries,
      k = 10, nProbe = 4)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val brute = {
      val q = queries
      import graft.functions.VectorFunctions._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("vec_id"))
      corpus.crossJoin(broadcast(q))
        .select(col("query_id"), col("vec_id"),
          cosine(col("q_emb"), col("embedding")).as("sim"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
    }
    assert(ivf == brute)
  }

  test("two-level adaptive probe: full level-1 admission equals the " +
    "single-level probe EXACTLY; pruned level 1 keeps serving recall") {
    import graft.functions.VectorFunctions._
    val tmp = Files.createTempDirectory("graft-ivf-2l").toString
    val path = s"$tmp/index"
    val cents = VectorIndex.kmeansPpCentroids(corpus, 8, iters = 4)
      .localCheckpoint()
    VectorIndex.build(corpus, cents, path)
    val (sc, centToSuper) = VectorIndex.superCentroids(cents, 3)
    assert(sc.count() == 3 && centToSuper.count() == 8)
    val queries = corpus.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    def frame(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rk").collect().toSeq
    // l1Slack wide enough to admit every super-cell: the two-level
    // probe IS the single-level probe, frame-for-frame
    val full = frame(VectorIndex.probeAdaptive2(spark, path, cents,
      sc, centToSuper, queries, k = 10, slack = 0.5, minProbe = 2,
      l1Slack = 1e9, l1MinProbe = 3))
    val single = frame(VectorIndex.probeAdaptive(spark, path, cents,
      queries, k = 10, slack = 0.5, minProbe = 2))
    assert(full == single,
      "full level-1 admission must reduce to the single-level probe")
    // pruned level 1: recall vs brute-force cosine keeps the serving
    // floor (the double-quantization loss is what l1Slack buys back)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    val truth = corpus.crossJoin(broadcast(queries))
      .select(col("query_id"), col("vec_id"),
        cosine(col("q_emb"), col("embedding")).as("sim"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
      .select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap
    val got = VectorIndex.probeAdaptive2(spark, path, cents,
      sc, centToSuper, queries, k = 10, slack = 0.5, minProbe = 2,
      l1Slack = 1.0, l1MinProbe = 1)
      .select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap
    val recall = truth.map { case (q, t) =>
      got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }.sum / truth.size
    info(f"two-level pruned recall@10=$recall%.3f (3 supers / 8 cells)")
    // measured 0.925 — the same value as the single-level serving
    // pin: at this shape the pruned level 1 loses nothing
    assert(recall >= 0.9,
      "level-1 pruning must not collapse serving recall")
  }

  test("delete masks keys from the very next probe; a rebuild clears " +
    "stale tombstones") {
    val tmp = Files.createTempDirectory("graft-ivf-del").toString
    val path = s"$tmp/index"
    val cents = VectorIndex.centroids(corpus, 4).cache()
    VectorIndex.build(corpus, cents, path)
    val queries = corpus.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val dead = corpus.filter(col("vec_id") % 5 === 1).select("vec_id")
    val deadIds = dead.collect().map(_.getLong(0)).toSet
    VectorIndex.delete(spark, path, dead)
    val res = VectorIndex.probeAdaptive(spark, path, cents, queries,
      k = 10, slack = 0.5, minProbe = 2).collect()
    assert(res.nonEmpty &&
      !res.exists(r => deadIds(r.getLong(2))),
      "a deleted key must never surface from a probe")
    // surviving self-hits stay rank-1 (queries are % 25 == 0, alive)
    assert(res.filter(_.getInt(1) == 1).forall(r =>
      math.abs(r.getDouble(3) - 1.0) < 1e-9))
    // full top-k still fills from survivors
    assert(res.count(_.getLong(0) == res.head.getLong(0)) == 10)
    // a REBUILD supersedes the deletes: stale tombstones must not
    // mask freshly built rows
    VectorIndex.build(corpus, cents, path)
    val back = VectorIndex.probe(spark, path, cents,
      corpus.filter(col("vec_id") === (deadIds.min))
        .select(col("vec_id").as("query_id"),
          col("embedding").as("q_emb")),
      k = 1, nProbe = 2).collect()
    assert(back.length == 1 && back.head.getLong(2) == deadIds.min,
      "rebuild must clear stale tombstones")
  }

  test("every probe rejects a duplicated query id and a null query " +
    "embedding") {
    val tmp = Files.createTempDirectory("graft-ivf-contract").toString
    val path = s"$tmp/index"
    val cents = VectorIndex.centroids(corpus, 4).localCheckpoint()
    VectorIndex.build(corpus, cents, path)
    val (sc, centToSuper) = VectorIndex.superCentroids(cents, 2)
    val queries = corpus.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val qs = queries.limit(3).collect().toSeq
    // budgets above the cell counts keep every coarse pick, so each
    // offending row reaches the probe head
    val probes: Seq[org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame] = Seq(
      q => VectorIndex.probe(spark, path, cents, q, k = 5, nProbe = 8),
      q => VectorIndex.probeAdaptive(spark, path, cents, q, k = 5,
        minProbe = 8),
      q => VectorIndex.probeAdaptive2(spark, path, cents, sc,
        centToSuper, q, k = 5, minProbe = 8, l1MinProbe = 8))
    def frame(rows: Seq[org.apache.spark.sql.Row]) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*),
        queries.schema)
    val dupId = org.apache.spark.sql.Row(qs(0).get(0), qs(1).get(1))
    val nullEmb = org.apache.spark.sql.Row(-1L, null)
    for (probe <- probes) {
      assert(probe(frame(qs)).collect().length == 15) // well-formed
      // the same id with a second embedding, the same row twice (once
      // served each neighbour twice), a null embedding (once served
      // k rows with a null sim)
      for (bad <- Seq(dupId, qs(0), nullEmb))
        intercept[IllegalArgumentException](
          probe(frame(qs :+ bad)).collect())
    }
  }
}
