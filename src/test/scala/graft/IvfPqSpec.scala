package graft

import graft.vector.{IvfPq, PQ, VectorIndex}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The composed IVF-PQ index: coarse partition pruning x compressed-
  * domain ADC x exact re-rank. Recall gates are generous floors on the
  * deterministic build, not tuning targets. */
class IvfPqSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = "/root/testdata/sf0.001"
  private val M = 4

  private lazy val corpus = Tables.embeddings(spark, d)

  private def queries = corpus.filter(col("vec_id") % 25 === 0)
    .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))

  /** Exact L2 top-k per query — ground truth for recall. */
  private def bruteL2(k: Int): Map[Long, Seq[Long]] = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("dist"), col("vec_id"))
    corpus.crossJoin(broadcast(queries))
      .select(col("query_id"), col("vec_id"),
        aggregate(zip_with(col("embedding"), col("q_emb"),
          (x, y) => (x - y) * (x - y)), lit(0.0), (a, v) => a + v)
          .as("dist"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSeq)
      .toMap
  }

  test("build writes one bucket-partitioned index + codebooks; " +
    "probe stays exact-distance and recalls well") {
    val tmp = Files.createTempDirectory("graft-ivfpq").toString
    val cents = VectorIndex.kmeansCentroids(corpus, 8, iters = 2).cache()
    IvfPq.build(corpus, cents, m = M, k = 16, s"$tmp/index")
    val idx = spark.read.parquet(s"$tmp/index")
    assert(idx.count() == corpus.count())
    assert(idx.select("bucket").distinct().count() <= 8)
    // every row carries raw embedding AND m codes (and nothing dead)
    assert(idx.schema.fieldNames.sorted.toSeq ==
      Seq("bucket", "codes", "embedding", "gen", "vec_id"))
    assert(idx.select(size(col("codes"))).distinct()
      .collect().map(_.getInt(0)).toSeq == Seq(M))

    val truth = bruteL2(10)
    def recallAt(nProbe: Int, shortlist: Int): Double = {
      val res = IvfPq.probe(spark, s"$tmp/index", cents, queries,
        m = M, topK = 10, nProbe = nProbe, shortlist = shortlist).cache()
      val got = res.select("query_id", "vec_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet)
        .toMap
      assert(got.keySet == truth.keySet, "every query must return rows")
      // returned distances are EXACT squared L2 (re-rank contract):
      // each query's rank-1 self-hit has distance exactly 0
      val self = res.filter(col("rk") === 1).collect()
      assert(self.forall(r => r.getLong(0) == r.getLong(2)
        && r.getDouble(3) == 0.0))
      truth.map { case (q, t) =>
        got(q).intersect(t.toSet).size.toDouble / t.size }.sum / truth.size
    }
    // the ADC stage's scan column-prunes the raw embedding away: the
    // probe plan must contain a codes scan whose ReadSchema has no
    // embedding column (the compressed-domain I/O contract)
    val plan = IvfPq.probe(spark, s"$tmp/index", cents, queries,
      m = M, topK = 10, nProbe = 3, shortlist = 40)
      .queryExecution.executedPlan.toString
    val readSchemas = plan.linesIterator
      .filter(_.contains("ReadSchema")).toSeq
    assert(readSchemas.exists(l =>
      l.contains("codes") && !l.contains("embedding")),
      s"no codes-only scan in:\n${readSchemas.mkString("\n")}")

    // tight knobs: a deterministic floor (the test corpus clusters by
    // DIRECTION (its label structure), not by L2 offset, so coarse
    // L2 buckets split true neighbor sets — recall ~ probed fraction)
    val tight = recallAt(nProbe = 3, shortlist = 40)
    // widened knobs: the 100 TB contract — nProbe/shortlist trade
    // scan cost for recall, with brute force as the limit
    val wide = recallAt(nProbe = 6, shortlist = 100)
    info(f"ivf-pq recall@10: tight(3/8,40)=$tight%.3f wide(6/8,100)=$wide%.3f")
    assert(tight >= 0.40)
    assert(wide >= tight)
    assert(wide >= 0.70)
  }

  test("SERVING GRADE: k-means++ centroids + adaptive multi-probe + " +
      "finer PQ + wide re-ranked shortlist pin recall@10 >= 0.9") {
    // the serving config differs from the floor tests on all three
    // knobs, each attacking a different loss term: k-means++ coarse
    // cells (cell-boundary loss), adaptive multi-probe (fixed-budget
    // loss), m=8 subspaces + shortlist 15x topK (ADC quantization
    // loss — with M=4 the compressed ordering drops true neighbors
    // past the cut, and no coarse knob can recover them)
    val tmp = Files.createTempDirectory("graft-ivfpq-serve").toString
    val mServe = 8
    val cents = VectorIndex.kmeansPpCentroids(corpus, 8, iters = 4)
      .cache()
    IvfPq.build(corpus, cents, m = mServe, k = 16, s"$tmp/index")
    val truth = bruteL2(10)
    val res = IvfPq.probeAdaptive(spark, s"$tmp/index", cents, queries,
      m = mServe, topK = 10, shortlist = 150, slack = 0.5, minProbe = 2)
      .cache()
    val got = res.select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet)
      .toMap
    val per = truth.map { case (q, t) =>
      got.getOrElse(q, Set.empty).intersect(t.toSet).size.toDouble / t.size }
    val recall = per.sum / per.size
    // returned distances stay EXACT under the adaptive coarse stage
    val self = res.filter(col("rk") === 1).collect()
    assert(self.forall(r => r.getLong(0) == r.getLong(2)
      && r.getDouble(3) == 0.0))
    info(f"ivf-pq serving recall@10=$recall%.3f (slack=0.5, " +
      f"minProbe=2, m=8, shortlist=150, kmpp iters=4)")
    assert(recall >= 0.9,
      f"serving-grade recall pin violated: $recall%.3f < 0.9")
  }

  test("adaptive probe composes with the filtered-search hook: " +
      "eligible-only results, never under-filled") {
    val tmp = Files.createTempDirectory("graft-ivfpq-af").toString
    val cents = VectorIndex.kmeansPpCentroids(corpus, 8, iters = 2)
      .cache()
    IvfPq.build(corpus, cents, m = M, k = 16, s"$tmp/index")
    val n = corpus.count().toInt
    // eligible: every third vector — selective enough that a
    // post-filtered fixed shortlist would under-fill
    val allowed = corpus.filter(col("vec_id") % 3 === 0)
      .select("vec_id")
    val res = IvfPq.probeAdaptive(spark, s"$tmp/index", cents, queries,
      m = M, topK = 10, shortlist = 60, slack = 1e9, minProbe = 1,
      allowed = Some(allowed)).cache()
    val rows = res.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(2) % 3 == 0),
      "every returned neighbor must be in the allowed set")
    // slack -> inf probes everything, so each query fills all 10
    // ranks from the eligible candidates (pre-ADC filtering)
    val perQ = rows.groupBy(_.getLong(0)).view.mapValues(_.length)
    assert(perQ.values.forall(_ == 10),
      s"filtered adaptive probe under-filled: ${perQ.toMap}")
  }

  test("probe rejects a duplicated query id and a null query embedding") {
    val tmp = Files.createTempDirectory("graft-ivfpq-contract").toString
    val cents = VectorIndex.kmeansCentroids(corpus, 4, iters = 1).cache()
    IvfPq.build(corpus, cents, m = M, k = 8, s"$tmp/index")
    val qs = queries.limit(3).collect()
    def run(rows: Seq[org.apache.spark.sql.Row]): Unit =
      IvfPq.probe(spark, s"$tmp/index", cents,
        spark.createDataFrame(java.util.Arrays.asList(rows: _*),
          queries.schema),
        m = M, topK = 5, nProbe = 8, shortlist = 20).collect()
    run(qs.toSeq) // the well-formed batch probes fine
    // nProbe above the centroid count keeps every coarse pick, so each
    // offending row reaches the driver: the same id with a second
    // embedding, the same row twice, a null embedding
    val dupId = org.apache.spark.sql.Row(qs(0).get(0), qs(1).get(1))
    intercept[IllegalArgumentException](run(qs.toSeq :+ dupId))
    intercept[IllegalArgumentException](run(qs.toSeq :+ qs(0)))
    val nullEmb = org.apache.spark.sql.Row(-1L, null)
    intercept[IllegalArgumentException](run(qs.toSeq :+ nullEmb))
  }

  test("widening nProbe+shortlist to the limit recovers brute force") {
    val tmp = Files.createTempDirectory("graft-ivfpq-limit").toString
    val cents = VectorIndex.centroids(corpus, 4).cache()
    IvfPq.build(corpus, cents, m = M, k = 16, s"$tmp/index")
    val n = corpus.count().toInt
    val got = IvfPq.probe(spark, s"$tmp/index", cents, queries,
      m = M, topK = 10, nProbe = 4, shortlist = n)
      .orderBy("query_id", "rk")
      .select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSeq)
      .toMap
    assert(got == bruteL2(10),
      "nProbe=all + shortlist=corpus must equal exact search")
  }

  test("filtered probe: allowed set cuts candidates pre-ADC, never under-fills") {
    val tmp = Files.createTempDirectory("graft-ivfpq-filt").toString
    val cents = VectorIndex.centroids(corpus, 4).cache()
    IvfPq.build(corpus, cents, m = M, k = 16, s"$tmp/index")
    val n = corpus.count().toInt
    val allowed = corpus.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id"))
    // widened to the limit, the FILTERED probe must equal exact
    // search over the FILTERED corpus — the strongest form of "the
    // filter composes with the index, not with the output"
    val got = IvfPq.probe(spark, s"$tmp/index", cents, queries,
      m = M, topK = 10, nProbe = 4, shortlist = n,
      allowed = Some(allowed))
      .select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSeq)
      .toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("dist"), col("vec_id"))
    val truth = corpus.filter(col("vec_id") % 2 === 0)
      .crossJoin(broadcast(queries))
      .select(col("query_id"), col("vec_id"),
        aggregate(zip_with(col("embedding"), col("q_emb"),
          (x, y) => (x - y) * (x - y)), lit(0.0), (a, v) => a + v)
          .as("dist"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
      .select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSeq)
      .toMap
    assert(got == truth,
      "filtered probe at the limit must equal filtered exact search")
    // every returned id passes the filter, and k is FILLED (the
    // under-fill post-filtering a fixed shortlist would risk)
    assert(got.values.forall(ids => ids.size == 10 &&
      ids.forall(_ % 2 == 0)))
    // a SELECTIVE filter at tight shortlist still fills k from
    // eligible rows only — the pre-ADC cut is what guarantees it
    val tight = IvfPq.probe(spark, s"$tmp/index", cents, queries,
      m = M, topK = 5, nProbe = 4, shortlist = 8,
      allowed = Some(allowed))
      .select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSeq)
    assert(tight.values.forall(ids => ids.size == 5 &&
      ids.forall(_ % 2 == 0)))
  }

  test("codebooks persist next to the index and rebuild bit-identical") {
    val tmp = Files.createTempDirectory("graft-ivfpq-det").toString
    val cents = VectorIndex.centroids(corpus, 4).cache()
    IvfPq.build(corpus, cents, m = M, k = 16, s"$tmp/index")
    val a = spark.read.parquet(s"$tmp/index.codebooks")
      .orderBy("sub", "cid").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2)))
    IvfPq.build(corpus, cents, m = M, k = 16, s"$tmp/index")
    val b = spark.read.parquet(s"$tmp/index.codebooks")
      .orderBy("sub", "cid").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2)))
    assert(a.toSeq == b.toSeq)
  }

  test("ensureBuilt builds once, reuses on matching params, rebuilds on change") {
    val tmp = Files.createTempDirectory("graft-ivfpq-ensure").toString
    val path = s"$tmp/index"
    val (c1, ran1) = IvfPq.ensureBuilt(spark, corpus,
      m = M, k = 16, nCentroids = 4, kmIters = 2, path)
    assert(ran1)
    assert(c1.count() > 0)
    // cache hit: no rebuild, centroids read from disk
    val (c2, ran2) = IvfPq.ensureBuilt(spark, corpus,
      m = M, k = 16, nCentroids = 4, kmIters = 2, path)
    assert(!ran2)
    assert(c2.collect().map(_.getInt(0)).sorted.toSeq ==
      c1.collect().map(_.getInt(0)).sorted.toSeq)
    // param change: marker mismatch forces a rebuild
    val (_, ran3) = IvfPq.ensureBuilt(spark, corpus,
      m = M, k = 8, nCentroids = 4, kmIters = 2, path)
    assert(ran3)
    // interrupted build (marker missing): rebuilds even with artifacts
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$path.params"))
    val (_, ran4) = IvfPq.ensureBuilt(spark, corpus,
      m = M, k = 8, nCentroids = 4, kmIters = 2, path)
    assert(ran4)
  }

  test("ensureBuilt rebuilds on a stale algorithm version or changed corpus") {
    val tmp = Files.createTempDirectory("graft-ivfpq-stale").toString
    val path = s"$tmp/index"
    val (_, ran1) = IvfPq.ensureBuilt(spark, corpus,
      m = M, k = 16, nCentroids = 4, kmIters = 2, path)
    assert(ran1)
    // identical knobs + corpus, but a marker stamped by a PREVIOUS
    // algorithm version: the exact silent-stale-serving case the
    // version field exists for — must rebuild, not reuse
    val markerPath = java.nio.file.Paths.get(s"$path.params")
    val current = java.nio.file.Files.readString(markerPath)
    assert(current.startsWith(
      s"algo=${graft.vector.AnnVersion.AlgoVersion} "))
    java.nio.file.Files.writeString(markerPath,
      current.replaceFirst("algo=\\d+", "algo=0"))
    val (_, ran2) = IvfPq.ensureBuilt(spark, corpus,
      m = M, k = 16, nCentroids = 4, kmIters = 2, path)
    assert(ran2, "old-version marker must force a rebuild")
    // same knobs, same path, DIFFERENT corpus (row-count fingerprint):
    // a regenerated dataset at the same location must rebuild too
    val (_, ran3) = IvfPq.ensureBuilt(spark,
      corpus.filter(col("vec_id") % 2 === 0),
      m = M, k = 16, nCentroids = 4, kmIters = 2, path)
    assert(ran3, "changed corpus fingerprint must force a rebuild")
  }

  // ---- incremental append: frozen-quantizer delta maintenance ----

  // the q117 shape: 80% base build, 20% delta append, every query id
  // inside the delta (queries are % 25 == 0, hence % 5 == 0)
  private def baseDelta = (corpus.filter(col("vec_id") % 5 =!= 0),
    corpus.filter(col("vec_id") % 5 === 0))

  test("append equals a rebuild under the same frozen quantizers") {
    val tmp = Files.createTempDirectory("graft-ivfpq-append").toString
    val (base, delta) = baseDelta
    val cents = VectorIndex.kmeansCentroids(base, 4, iters = 2)
      .localCheckpoint()
    val cb = PQ.trainCodebooks(base, M, 16).localCheckpoint()
    IvfPq.buildWith(base, cents, cb, M, s"$tmp/appended")
    IvfPq.append(spark, s"$tmp/appended", delta)
    IvfPq.buildWith(corpus, cents, cb, M, s"$tmp/rebuilt")
    // same rows, same buckets, same codes — file layout and the
    // append-era gen stamp (1 vs the rebuild's 0) are the ONLY
    // differences, and probes observe neither
    def content(p: String) = spark.read.parquet(p)
      .select("vec_id", "embedding", "codes", "bucket")
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq,
        r.getSeq[Int](2).toSeq, r.getInt(3)))
    assert(content(s"$tmp/appended").toSeq ==
      content(s"$tmp/rebuilt").toSeq)
    // and the probes agree frame-for-frame
    def probeOf(p: String) = IvfPq.probe(spark, p, cents, queries,
      m = M, topK = 10, nProbe = 3, shortlist = 40)
      .orderBy("query_id", "rk").collect().toSeq
    assert(probeOf(s"$tmp/appended") == probeOf(s"$tmp/rebuilt"))
  }

  test("appended rows are served: delta queries keep exact self-hits " +
    "and recall holds") {
    val tmp = Files.createTempDirectory("graft-ivfpq-append-r").toString
    val (base, delta) = baseDelta
    val path = s"$tmp/index"
    IvfPq.ensureBuilt(spark, base, m = M, k = 16, nCentroids = 4,
      kmIters = 2, path)
    IvfPq.append(spark, path, delta)
    val cents = IvfPq.centroidsOf(spark, path)
    val res = IvfPq.probe(spark, path, cents, queries,
      m = M, topK = 10, nProbe = 4, shortlist = 100).cache()
    // every query vector lives in the APPENDED delta — rank-1 must be
    // its exact zero-distance self-hit, which only exists if the
    // append actually landed in the served index
    val self = res.filter(col("rk") === 1).collect()
    assert(self.nonEmpty && self.forall(r =>
      r.getLong(0) == r.getLong(2) && r.getDouble(3) == 0.0))
    val truth = bruteL2(10)
    val got = res.select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet)
      .toMap
    val recall = truth.map { case (q, t) =>
      got(q).intersect(t.toSet).size.toDouble / t.size }.sum / truth.size
    info(f"appended-index recall@10 (4/4 probes)=$recall%.3f")
    // generous floor, not a tuning target: quantizers trained on the
    // 80% base only (the drift the rebuild cadence bounds), and this
    // corpus clusters by DIRECTION while PQ ranks by L2 — measured
    // ~0.60 at shortlist=100; collapse (an unserved delta, a broken
    // append) reads ~0.0-0.2
    assert(recall >= 0.50, "frozen-quantizer append must not collapse recall")
  }

  test("ensureAppended appends once, skips when done, refuses unknown " +
    "markers") {
    val tmp = Files.createTempDirectory("graft-ivfpq-ensure-app").toString
    val (base, delta) = baseDelta
    val path = s"$tmp/index"
    val baseExpect = IvfPq.expectOf(M, 16, 4, 2, base.count())
    // no base build yet: appending onto nothing must fail loudly
    assertThrows[IllegalArgumentException] {
      IvfPq.ensureAppended(spark, path, delta, baseExpect)
    }
    IvfPq.ensureBuilt(spark, base, m = M, k = 16, nCentroids = 4,
      kmIters = 2, path)
    assert(IvfPq.ensureAppended(spark, path, delta, baseExpect))
    val afterCount = spark.read.parquet(path).count()
    assert(afterCount == corpus.count())
    // idempotent: the post-append marker short-circuits the re-run
    assert(!IvfPq.ensureAppended(spark, path, delta, baseExpect))
    assert(spark.read.parquet(path).count() == afterCount,
      "a second ensureAppended must not duplicate the delta")
    // ensureBuilt against the BASE corpus no longer matches the
    // post-append marker: it rebuilds base-only (the rebuild cadence)
    val (_, rebuilt) = IvfPq.ensureBuilt(spark, base, m = M, k = 16,
      nCentroids = 4, kmIters = 2, path)
    assert(rebuilt)
    assert(spark.read.parquet(path).count() == base.count())
  }

  test("compact collapses accumulated per-bucket files; content, " +
    "probes, and the cache marker are untouched") {
    val tmp = Files.createTempDirectory("graft-ivfpq-compact").toString
    val (base, delta) = baseDelta
    val path = s"$tmp/index"
    val expect = IvfPq.expectOf(M, 16, 4, 2, base.count())
    IvfPq.ensureBuilt(spark, base, m = M, k = 16, nCentroids = 4,
      kmIters = 2, path)
    // two raw appends — the continuous-ingest shape that fragments
    // bucket directories (one file per touched bucket per append)
    val (d1, d2) = (delta.filter(col("vec_id") % 2 === 0),
      delta.filter(col("vec_id") % 2 =!= 0))
    IvfPq.append(spark, path, d1)
    IvfPq.append(spark, path, d2)
    def dataFiles(p: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(p))
    }
    def content() = spark.read.parquet(path)
      .select("vec_id", "embedding", "codes", "gen", "bucket")
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq,
        r.getSeq[Int](2).toSeq, r.getLong(3), r.getInt(4))).toSeq
    def probe() = {
      val cents = IvfPq.centroidsOf(spark, path)
      IvfPq.probe(spark, path, cents, queries, m = M, topK = 10,
        nProbe = 3, shortlist = 40).orderBy("query_id", "rk")
        .collect().toSeq
    }
    val (filesBefore, contentBefore, probeBefore) =
      (dataFiles(path), content(), probe())
    val nBuckets = spark.read.parquet(path)
      .select("bucket").distinct().count().toInt
    assert(filesBefore > nBuckets,
      s"appends should fragment: $filesBefore files, $nBuckets buckets")
    IvfPq.compact(spark, path)
    assert(dataFiles(path) <= nBuckets,
      s"compact: ${dataFiles(path)} files for $nBuckets buckets")
    assert(content() == contentBefore)
    assert(probe() == probeBefore)
    // layout maintenance never touches the reuse contract: the marker
    // still names the completed base build
    assert(graft.vector.ArtifactCache.hit(path, expect))
    // and the swap left no residue
    assert(!new java.io.File(s"$path.compacting").exists())
    assert(!new java.io.File(s"$path.precompact").exists())
  }

  test("delete masks keys from the very next probe; survivors keep " +
    "recall; a deleted key re-inserts and serves again") {
    val tmp = Files.createTempDirectory("graft-ivfpq-del").toString
    val path = s"$tmp/index"
    IvfPq.ensureBuilt(spark, corpus, m = M, k = 16, nCentroids = 4,
      kmIters = 2, path)
    val cents = IvfPq.centroidsOf(spark, path)
    // GDPR-delete a fifth of the corpus (queries are % 25 == 0, so
    // every query's self-hit survives)
    val dead = corpus.filter(col("vec_id") % 5 === 1).select("vec_id")
    val deadIds = dead.collect().map(_.getLong(0)).toSet
    assert(deadIds.nonEmpty)
    IvfPq.delete(spark, path, dead)
    val res = IvfPq.probe(spark, path, cents, queries,
      m = M, topK = 10, nProbe = 4, shortlist = 100).cache()
    val returned = res.select("vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(returned.intersect(deadIds).isEmpty,
      "a deleted key must never surface from a probe")
    // self-hits stay exact rank-1
    val self = res.filter(col("rk") === 1).collect()
    assert(self.nonEmpty && self.forall(r =>
      r.getLong(0) == r.getLong(2) && r.getDouble(3) == 0.0))
    // recall vs the SURVIVOR ground truth — the floor must hold on
    // what is still live, not just "returns something"
    val alive = corpus.filter(col("vec_id") % 5 =!= 1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("dist"), col("vec_id"))
    val truth = alive.crossJoin(broadcast(queries))
      .select(col("query_id"), col("vec_id"),
        aggregate(zip_with(col("embedding"), col("q_emb"),
          (x, y) => (x - y) * (x - y)), lit(0.0), (a, v) => a + v)
          .as("dist"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
      .select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet)
      .toMap
    val got = res.select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet)
      .toMap
    val recall = truth.map { case (q, t) =>
      got(q).intersect(t).size.toDouble / t.size }.sum / truth.size
    info(f"post-delete survivor recall@10=$recall%.3f")
    assert(recall >= 0.50,
      "delete must not collapse recall on the survivors")
    // live view accounting + idempotence
    val liveN = corpus.count() - deadIds.size
    assert(IvfPq.live(spark, path).count() == liveN)
    IvfPq.delete(spark, path, dead.limit(3))
    assert(IvfPq.live(spark, path).count() == liveN,
      "re-deleting dead keys must change nothing")
    // a deleted key re-inserted serves again (generation ordering:
    // the new row sits at the tombstone cut)
    val backId = deadIds.min
    IvfPq.append(spark, path,
      corpus.filter(col("vec_id") === backId))
    assert(IvfPq.live(spark, path).count() == liveN + 1)
    val q1 = corpus.filter(col("vec_id") === backId)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val hit = IvfPq.probe(spark, path, cents, q1, m = M, topK = 1,
      nProbe = 4, shortlist = 20).collect()
    assert(hit.length == 1 && hit.head.getLong(2) == backId &&
      hit.head.getDouble(3) == 0.0,
      "a re-inserted key must serve as its own exact nearest neighbor")
  }

  test("a replayed delete+append unit converges to one live copy — " +
    "the follower's crash discipline") {
    val tmp = Files.createTempDirectory("graft-ivfpq-replay").toString
    val path = s"$tmp/index"
    IvfPq.ensureBuilt(spark, corpus, m = M, k = 16, nCentroids = 4,
      kmIters = 2, path)
    val k0 = 25L // a query id: easy to probe for
    val newEmb = corpus.filter(col("vec_id") === k0)
      .select(col("vec_id"),
        transform(col("embedding"), x => x + lit(0.25f)).as("embedding"))
      .localCheckpoint()
    def upsertBatch(): Unit = {
      IvfPq.delete(spark, path,
        newEmb.select("vec_id"))
      IvfPq.append(spark, path, newEmb)
    }
    upsertBatch() // the batch
    upsertBatch() // its crash-replay
    val liveK = IvfPq.live(spark, path)
      .filter(col("vec_id") === k0).collect()
    assert(liveK.length == 1,
      s"replay must converge to ONE live copy, got ${liveK.length}")
    assert(liveK.head.getSeq[Float](
        liveK.head.fieldIndex("embedding")).toSeq ==
      newEmb.head().getSeq[Float](1).toSeq,
      "the live copy must be the upserted embedding")
    // and the probe returns the key exactly once, at the NEW position
    val cents = IvfPq.centroidsOf(spark, path)
    val q1 = newEmb
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val hits = IvfPq.probe(spark, path, cents, q1, m = M, topK = 3,
      nProbe = 4, shortlist = 20).collect()
    assert(hits.count(_.getLong(2) == k0) == 1 &&
      hits.head.getLong(2) == k0 && hits.head.getDouble(3) == 0.0)
  }

  test("compact materializes tombstones: dead rows physically drop, " +
    "the tombstone set clears, probes are identical") {
    val tmp = Files.createTempDirectory("graft-ivfpq-delcomp").toString
    val path = s"$tmp/index"
    IvfPq.ensureBuilt(spark, corpus, m = M, k = 16, nCentroids = 4,
      kmIters = 2, path)
    val dead = corpus.filter(col("vec_id") % 7 === 2).select("vec_id")
    val nDead = dead.count()
    IvfPq.delete(spark, path, dead)
    val cents = IvfPq.centroidsOf(spark, path)
    def probe() = IvfPq.probe(spark, path, cents, queries, m = M,
      topK = 10, nProbe = 4, shortlist = 100)
      .orderBy("query_id", "rk").collect().toSeq
    val before = probe()
    assert(spark.read.parquet(path).count() == corpus.count(),
      "pre-compact, dead rows are only MASKED")
    assert(new java.io.File(s"$path.tombstones").exists())
    IvfPq.compact(spark, path)
    assert(spark.read.parquet(path).count() == corpus.count() - nDead,
      "compact must physically drop tombstoned rows")
    assert(!new java.io.File(s"$path.tombstones").exists(),
      "compact must clear the materialized tombstones")
    assert(probe() == before,
      "probes must be frame-identical across the materialization")
  }

  test("two-level adaptive probe (L2): full level-1 admission equals " +
    "the single-level probe EXACTLY; pruned level 1 keeps recall") {
    val tmp = Files.createTempDirectory("graft-ivfpq-2l").toString
    val path = s"$tmp/index"
    IvfPq.ensureBuilt(spark, corpus, m = M, k = 16, nCentroids = 8,
      kmIters = 2, path)
    val cents = IvfPq.centroidsOf(spark, path).localCheckpoint()
    val (sc, centToSuper) = VectorIndex.superCentroids(cents, 3)
    def frame(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rk").collect().toSeq
    val full = frame(IvfPq.probeAdaptive2(spark, path, cents, sc,
      centToSuper, queries, m = M, topK = 10, shortlist = 100,
      slack = 0.5, minProbe = 2, l1Slack = 1e9, l1MinProbe = 3))
    val single = frame(IvfPq.probeAdaptive(spark, path, cents,
      queries, m = M, topK = 10, shortlist = 100,
      slack = 0.5, minProbe = 2))
    assert(full == single,
      "full level-1 admission must reduce to the single-level probe")
    val truth = bruteL2(10)
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("query_id", "vec_id").collect()
        .groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getLong(1)).toSet).toMap
      truth.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t.toSet).size.toDouble /
          t.size
      }.sum / truth.size
    }
    // the pin isolates what LEVEL-1 PRUNING costs at the same
    // quantizer and knobs — absolute recall at this small shape is a
    // property of the m=4 codes and 8 stride-seeded cells (the
    // serving-grade floor lives in the kmpp/m=8 test above)
    val rOne = recallOf(IvfPq.probeAdaptive(spark, path, cents,
      queries, m = M, topK = 10, shortlist = 100,
      slack = 0.5, minProbe = 2))
    val rTwo = recallOf(IvfPq.probeAdaptive2(spark, path, cents, sc,
      centToSuper, queries, m = M, topK = 10, shortlist = 100,
      slack = 0.5, minProbe = 2, l1Slack = 1.0, l1MinProbe = 1))
    info(f"IVF-PQ two-level pruned recall@10=$rTwo%.3f vs " +
      f"single-level $rOne%.3f")
    assert(rTwo >= rOne - 0.05,
      f"level-1 pruning cost ${rOne - rTwo}%.3f recall — above budget")
  }

  test("follower compactEvery: the cadence materializes tombstones " +
    "and defragments while the stream keeps following") {
    import spark.implicits._
    import graft.sinks.ManifestTable
    val tmp = Files.createTempDirectory("graft-ann-fcomp").toString
    val src = s"$tmp/src"; val idx = s"$tmp/index"
    def vec(i: Long): Seq[Float] =
      Seq(i.toFloat, (i % 5).toFloat, (i % 3).toFloat, 1.0f)
    ManifestTable.append(spark,
      (0L until 20L).map(i => (i, vec(i))).toDF("vec_id", "embedding"),
      src, statsCols = Seq("vec_id"))
    val base = ManifestTable.read(spark, src)
    IvfPq.build(base,
      VectorIndex.kmeansCentroids(base, 2, iters = 2).localCheckpoint(),
      m = 2, k = 4, idx)
    val q = graft.streaming.Streams.annIndexChangesFollower(
      spark.readStream.format("graft-manifest")
        .option("readChangeFeed", "true").load(src),
      idx, s"$tmp/ckpt", compactEvery = 2).start()
    q.processAllAvailable() // batch 0: bootstrap no-op
    ManifestTable.deleteKeys(spark, Seq(3L, 7L).toDF("vec_id"),
      src, "vec_id")
    q.processAllAvailable() // batch 1: tombstones written
    assert(new java.io.File(s"$idx.tombstones").exists(),
      "the delete batch must write index tombstones")
    ManifestTable.append(spark,
      Seq((100L, vec(100L))).toDF("vec_id", "embedding"), src,
      statsCols = Seq("vec_id"))
    q.processAllAvailable() // batch 2: append + the compact cadence
    q.stop()
    assert(!new java.io.File(s"$idx.tombstones").exists(),
      "the cadence compact must materialize and clear tombstones")
    val live = IvfPq.live(spark, idx).select("vec_id").collect()
      .map(_.getLong(0)).toSet
    val want = ((0L until 20L).toSet -- Set(3L, 7L)) + 100L
    assert(live == want, s"diverged after cadence compact: $live")
    assert(spark.read.parquet(idx).count() == want.size,
      "dead rows must be physically gone after the cadence compact")
  }

  test("drift report: a fresh build is healthy; out-of-distribution " +
    "appends fire the thresholds; rebuild resets them") {
    val tmp = Files.createTempDirectory("graft-ivfpq-drift").toString
    val path = s"$tmp/index"
    IvfPq.ensureBuilt(spark, corpus, m = M, k = 16, nCentroids = 16,
      kmIters = 2, path)
    val d0 = IvfPq.driftReport(spark, path)
    assert(d0.rows == corpus.count() && d0.appendedFraction == 0.0 &&
      !d0.rebuildRecommended && d0.reasons.isEmpty,
      s"a fresh build must read healthy, got $d0")
    // append an out-of-distribution clone of the corpus: every
    // shifted vector points in (nearly) one direction, so the frozen
    // quantizer piles them into one hot cell AND their residuals dwarf
    // the training rows' — both drift signals, plus the appended
    // fraction
    val shifted = corpus.select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"),
        x => x * lit(0.1f) + lit(5.0f)).as("embedding"))
    IvfPq.append(spark, path, shifted)
    val d1 = IvfPq.driftReport(spark, path, appendedMax = 0.4)
    assert(d1.rows == 2 * corpus.count())
    assert(math.abs(d1.appendedFraction - 0.5) < 0.01)
    assert(d1.rebuildRecommended && d1.reasons.nonEmpty,
      s"out-of-distribution appends must fire, got $d1")
    assert(d1.maxCellFraction > 4.0 / d1.cells,
      s"the shifted clone must create a hot cell, got $d1")
    assert(d1.meanResidualAppended > 1.5 * d1.meanResidualBase,
      s"shifted rows must fit the frozen quantizer worse, got $d1")
    // the recommended fix: re-train both quantizers over the live
    // rows — the drift signals reset (rows are all gen-0 again, and
    // the new cells actually model both regions)
    val (rows, cells) = IvfPq.rebuild(spark, path, m = M, k = 16,
      nCentroids = 16, kmIters = 2)
    assert(rows == 2 * corpus.count() && cells == 16)
    val d2 = IvfPq.driftReport(spark, path, appendedMax = 0.4)
    assert(d2.appendedFraction == 0.0 &&
      !d2.reasons.exists(_.contains("appended")),
      s"a rebuild must reset the append-era signals, got $d2")
    // and the rebuilt index serves both regions exactly
    val cents = IvfPq.centroidsOf(spark, path)
    val q = spark.read.parquet(path)
      .filter(col("vec_id") === 1000025L)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val hit = IvfPq.probe(spark, path, cents, q, m = M, topK = 1,
      nProbe = 4, shortlist = 20).collect()
    assert(hit.length == 1 && hit.head.getLong(2) == 1000025L &&
      hit.head.getDouble(3) == 0.0)
  }

  test("ANN CDC follower: the index follows its corpus table through " +
    "inserts, updates, and deletes; a restart converges") {
    import spark.implicits._
    import graft.sinks.ManifestTable
    val tmp = Files.createTempDirectory("graft-ann-follow").toString
    val src = s"$tmp/src"; val idx = s"$tmp/index"
    val ckpt = s"$tmp/ckpt"
    def vec(i: Long): Seq[Float] =
      Seq(i.toFloat, (i % 7).toFloat, (i % 3).toFloat, 1.0f)
    ManifestTable.append(spark,
      (0L until 30L).map(i => (i, vec(i))).toDF("vec_id", "embedding"),
      src, statsCols = Seq("vec_id"))
    // the index is built from the table's CURRENT snapshot; the
    // follower keeps it consistent from here on
    val base = ManifestTable.read(spark, src)
    val cents = VectorIndex.kmeansCentroids(base, 2, iters = 2)
      .localCheckpoint()
    IvfPq.build(base, cents, m = 2, k = 4, idx)
    def follow() = graft.streaming.Streams.annIndexChangesFollower(
      spark.readStream.format("graft-manifest")
        .option("readChangeFeed", "true").load(src),
      idx, ckpt).start()
    def liveState() = IvfPq.live(spark, idx)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq)).toSet
    def srcState() = ManifestTable.read(spark, src).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq)).toSet
    val q = follow()
    q.processAllAvailable()
    assert(liveState() == srcState(),
      "bootstrap over an already-indexed corpus must be a no-op")
    // upstream: fresh inserts, a GDPR delete, an in-place re-embed
    ManifestTable.append(spark,
      Seq((100L, vec(100L)), (101L, vec(101L)))
        .toDF("vec_id", "embedding"), src, statsCols = Seq("vec_id"))
    ManifestTable.deleteKeys(spark, Seq(3L, 7L).toDF("vec_id"),
      src, "vec_id")
    // (array() of non-null literals keeps containsNull=false, the
    // exact-type contract updateRange enforces on SET expressions)
    ManifestTable.updateRange(spark, src, "vec_id", 5L, 5L,
      Seq("embedding" -> array(
        lit(15.0f), lit(15.0f), lit(12.0f), lit(11.0f))))
    q.processAllAvailable()
    q.stop()
    assert(liveState() == srcState(),
      s"follower diverged after mutations")
    // deleted keys never surface; the re-embedded key serves at its
    // NEW position (probe its new embedding: exact zero-dist self-hit)
    val cents2 = IvfPq.centroidsOf(spark, idx)
    val qNew = ManifestTable.read(spark, src)
      .filter(col("vec_id") === 5L)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val hit = IvfPq.probe(spark, idx, cents2, qNew, m = 2, topK = 3,
      nProbe = 2, shortlist = 10).collect()
    assert(hit.head.getLong(2) == 5L && hit.head.getDouble(3) == 0.0,
      "the re-embedded key must serve from its new embedding")
    assert(!hit.map(_.getLong(2)).contains(3L))
    // restart: mutations applied while stopped arrive exactly once
    ManifestTable.deleteKeys(spark, Seq(100L).toDF("vec_id"),
      src, "vec_id")
    ManifestTable.append(spark,
      Seq((102L, vec(102L))).toDF("vec_id", "embedding"), src,
      statsCols = Seq("vec_id"))
    val q2 = follow()
    q2.processAllAvailable()
    q2.stop()
    assert(liveState() == srcState(),
      s"follower diverged after restart")
    // a non-change-feed input is rejected at construction, loudly
    val ex = intercept[IllegalArgumentException] {
      graft.streaming.Streams.annIndexChangesFollower(
        spark.readStream.format("graft-manifest").load(src),
        idx, s"$tmp/ckpt2")
    }
    assert(ex.getMessage.contains("readChangeFeed"))
  }
}
