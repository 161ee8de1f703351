package graft

import graft.vector.PQ
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Product-quantization checks: codebook/code shape, bit-exact
  * reproducibility (decimal-exact means, deterministic seeds), and
  * retrieval quality floors. Every PQ stage is deterministic, so the
  * recall assertions pin fixed values with margin, not flaky noise. */
class PQSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = "/root/testdata/sf0.01"
  private val M = 8
  private val K = 16

  private def corpus = Tables.embeddings(spark, d)
    .select(col("vec_id"), col("embedding"))

  private def l2sq(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)

  private lazy val cb = PQ.trainCodebooks(corpus, M, K, iters = 2)
  private lazy val codes = PQ.encode(corpus, cb, M).localCheckpoint()
  private lazy val queries = corpus.filter(col("vec_id") % 100 === 0)
    .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
  private lazy val exactTop10 = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist"), col("vec_id"))
    corpus.crossJoin(broadcast(queries))
      .select(col("query_id"), col("vec_id"),
        l2sq(col("embedding"), col("q_emb")).as("dist"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
      .select(col("query_id"), col("vec_id")).localCheckpoint()
  }

  private def recallAt10(found: org.apache.spark.sql.DataFrame): Double =
    found.select(col("query_id"), col("vec_id"))
      .join(exactTop10, Seq("query_id", "vec_id"))
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
      .agg(avg(col("hits") / 10.0)).collect()(0).getDouble(0)

  test("codebooks have m*k cells; codes are length-m and in range") {
    assert(cb.count() === (M * K).toLong)
    val bad = codes.filter(size(col("codes")) =!= M ||
      exists(col("codes"), c => c < 0 || c >= K)).count()
    assert(bad === 0L)
    assert(codes.count() === corpus.count())
  }

  test("training is bit-identical across runs") {
    val cb2 = PQ.trainCodebooks(corpus, M, K, iters = 2)
    val diff = cb.as("a").join(cb2.as("b"),
        col("a.sub") === col("b.sub") && col("a.cid") === col("b.cid"))
      .filter(col("a.c_sub") =!= col("b.c_sub")).count()
    assert(diff === 0L)
  }

  test("ADC recall@10 clears its deterministic floor") {
    val r = recallAt10(PQ.search(codes, cb, queries, M, 10))
    // measured 0.34 with this (deterministic) config; random picks
    // score 10/500 = 0.02
    assert(r >= 0.3, s"ADC recall@10 = $r")
  }

  test("shortlist + exact re-rank recovers most compressed-domain loss") {
    val r = recallAt10(
      PQ.searchRerank(codes, cb, queries, corpus, M, 100, 10))
    // measured 0.88 with this (deterministic) config
    assert(r >= 0.8, s"re-ranked recall@10 = $r")
  }

  test("search's ADC distances are bit-equal to the composed-builtins " +
    "recomputation") {
    // the distance tables recomputed distributed from composed
    // builtins: per-subspace zip_with squared L2 against the
    // codebooks, assembled in (sub, cid) order
    val subs = spark.range(M).select(col("id").cast("int").as("sub"))
    val ds = (size(col("q_emb")) / lit(M)).cast("int")
    val dts = queries.crossJoin(subs)
      .select(col("query_id"), col("sub"),
        slice(col("q_emb"), col("sub") * ds + 1, ds).as("sv"))
      .join(cb, "sub")
      .select(col("query_id"), col("sub"), col("cid"),
        l2sq(col("sv"), col("c_sub")).as("d"))
      .groupBy("query_id", "sub")
      .agg(sort_array(collect_list(struct(col("cid"), col("d")))).as("cd"))
      .select(col("query_id"), struct(col("sub"),
        transform(col("cd"), x => x.getField("d")).as("dt")).as("sdt"))
      .groupBy("query_id")
      .agg(sort_array(collect_list(col("sdt"))).as("sd"))
      .select(col("query_id"),
        transform(col("sd"), x => x.getField("dt")).as("dts"))
    // ...and the element_at fold over each returned row's codes
    val rows = PQ.search(codes, cb, queries, M, 10)
      .join(codes, "vec_id").join(dts, "query_id")
      .select(col("adc"),
        aggregate(sequence(lit(0), lit(M - 1)), lit(0.0), (acc, j) =>
          acc + element_at(element_at(col("dts"), j + 1),
            element_at(col("codes"), j + 1) + 1)).as("re"))
      .collect()
    assert(rows.length.toLong == queries.count() * 10)
    val bits = java.lang.Double.doubleToLongBits _
    assert(rows.forall(r => bits(r.getDouble(0)) == bits(r.getDouble(1))),
      "driver-side distance tables must score exactly like the composed form")
  }

  test("search and searchRerank reject a duplicated query id and a " +
    "null query embedding") {
    val qs = queries.limit(3).collect().toSeq
    def frame(rows: Seq[org.apache.spark.sql.Row]) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*),
        queries.schema)
    val runs: Seq[org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame] = Seq(
      q => PQ.search(codes, cb, q, M, 10),
      q => PQ.searchRerank(codes, cb, q, corpus, M, 100, 10))
    val dupId = org.apache.spark.sql.Row(qs(0).get(0), qs(1).get(1))
    val nullEmb = org.apache.spark.sql.Row(-1L, null)
    for (run <- runs) {
      assert(run(frame(qs)).count() == 30L) // the well-formed batch
      for (bad <- Seq(dupId, qs(0), nullEmb))
        intercept[IllegalArgumentException](run(frame(qs :+ bad)).collect())
    }
  }

  test("ensureCodebooks: cached read ≡ fresh training; versioned reuse") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-pq-ensure").toString
    val path = s"$tmp/codebooks"
    val (cached1, ran1) =
      PQ.ensureCodebooks(spark, corpus, M, K, iters = 2, path)
    assert(ran1)
    // the parquet round-trip must be bit-identical to in-query
    // training — that equivalence is what lets q100 serve from the
    // cache with its oracle pins unchanged
    val diff = cached1.as("a").join(cb.as("b"),
        col("a.sub") === col("b.sub") && col("a.cid") === col("b.cid"))
      .filter(col("a.c_sub") =!= col("b.c_sub")).count()
    assert(diff === 0L)
    assert(cached1.count() === (M * K).toLong)
    val (_, ran2) =
      PQ.ensureCodebooks(spark, corpus, M, K, iters = 2, path)
    assert(!ran2, "matching marker must reuse")
    // stale algorithm version in the marker forces retraining
    val markerPath = java.nio.file.Paths.get(s"$path.params")
    java.nio.file.Files.writeString(markerPath,
      java.nio.file.Files.readString(markerPath)
        .replaceFirst("algo=\\d+", "algo=0"))
    val (_, ran3) =
      PQ.ensureCodebooks(spark, corpus, M, K, iters = 2, path)
    assert(ran3, "old-version marker must force retraining")
  }
}
