package graft.vector

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Product quantization: the memory-bound ANN scale path. Vectors are
  * split into `m` subvectors; each subspace gets its own `k`-centroid
  * codebook (Lloyd's, deterministic); a vector is stored as `m` small
  * integer codes (m=4, k=16 -> 16 bits per vector instead of 64
  * floats). Queries score candidates with ASYMMETRIC DISTANCE
  * COMPUTATION: one m x k distance table per query, then each
  * candidate costs m table lookups instead of a d-wide dot product —
  * and the corpus the scoring pass reads is the CODES table, ~128x
  * smaller than the raw embeddings, which is what makes exhaustive
  * re-ranking affordable when the raw vectors no longer fit hot
  * storage.
  *
  * Distances are squared L2 (the standard PQ metric). Training
  * follows [[VectorIndex.kmeansCentroids]]'s reproducibility contract:
  * stride-sampled seeds, decimal-exact per-dimension means, so
  * codebooks are bit-identical across runs and partitionings.
  *
  * Scale shape: training/encode assignment is a broadcast of the m*k
  * codebook rows against the exploded (vec_id, sub) frame — one
  * window argmin per pass, no pairwise corpus join anywhere; ADC
  * staging computes each query's distance table BEFORE the candidate
  * pass, so the per-candidate cost is m `element_at` lookups.
  */
object PQ {

  /** Squared L2 between two float-array columns: the native codegen
    * expression ([[graft.expressions.FloatL2DistSq]]) — one primitive
    * loop, no zipped intermediate array. Bit-identical to the composed
    * fold it replaced ([[l2sqComposed]]; the per-element arithmetic
    * stays FLOAT on float inputs, only the accumulation is Double,
    * exactly like the composed form — VectorFunctionsSpec pins the
    * bit-equality on both element types). */
  private[vector] def l2sq(a: Column, b: Column): Column =
    graft.expressions.VectorExpressions.l2sqF(a, b)

  /** The composed-builtins squared L2 (kept as the reference
    * implementation; [[l2sq]] is the fast path). */
  private[vector] def l2sqComposed(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)

  /** (vec_id, sub, sv): each vector exploded into its m subvectors.
    * explode_outer + isNotNull per the engine-wide generate rule
    * (a non-outer generate re-runs the slice array in inferred scan
    * filters). */
  private def subvectors(vecs: DataFrame, vecCol: String, m: Int)
      : DataFrame = {
    // uniform dim, divisible by m by contract; explicit integral div
    // (a bare `/` on Columns is double division)
    val ds = (size(col(vecCol)) / lit(m)).cast("int")
    vecs
      .select(col("*"),
        explode_outer(transform(sequence(lit(0), lit(m - 1)), j =>
          struct(j.cast("int").as("sub"),
            slice(col(vecCol), j * ds + 1, ds).as("sv")))).as("s"))
      .filter(col("s").isNotNull)
      .select(col("vec_id"), col("s.sub").as("sub"), col("s.sv").as("sv"))
  }

  /** Per-(vec, sub) nearest codebook entry: (vec_id, sub, cid).
    * One broadcast of the m*k codebook, one AGGREGATED argmin:
    * `min(struct(d, cid))` is lexicographically the window
    * `orderBy(d, cid) ... rk = 1` row this replaced (same null-first
    * and NaN-largest ordering), but the partial aggregate collapses
    * the k candidates per (vec, sub) MAP-SIDE — the exchange carries
    * one row per subvector instead of k, and no per-partition sort
    * (guide §2.3: aggregate before you shuffle). */
  private def assign(sv: DataFrame, codebooks: DataFrame): DataFrame =
    sv.join(broadcast(codebooks), Seq("sub"))
      .select(col("vec_id"), col("sub"), col("cid"),
        l2sq(col("sv"), col("c_sub")).as("d"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(struct(col("d"), col("cid"))).as("best"))
      .select(col("vec_id"), col("sub"), col("best.cid").as("cid"))

  /** Codebook-training sample cap: Lloyd's rounds run over at most
    * this many vectors, selected by a deterministic hash stride —
    * the standard PQ practice (codebooks are k-means cell centers; a
    * bounded sample pins them as well as the full corpus, and training
    * on 100 TB of raw vectors would re-scan the corpus per iteration
    * for no recall gain). The full corpus still pays exactly one pass
    * at ENCODE time. 64 * k (k=16 -> 1024) comfortably exceeds the
    * ~10-40 samples-per-centroid rule of thumb. */
  def trainCap(k: Int): Long = 64L * k

  /** Train per-subspace codebooks: (sub, cid, c_sub) — m*k rows.
    * Seeds are the subvectors of a deterministic vec_id-stride sample
    * (the [[VectorIndex.centroids]] pattern, sliced per subspace);
    * `iters` Lloyd's rounds with decimal-exact means follow. Empty
    * cells keep their previous centroid. */
  def trainCodebooks(corpus: DataFrame, m: Int, k: Int,
      iters: Int = 2): DataFrame = {
    val total = corpus.count()
    // hash-stride seeds for the same reason as the train sample below
    // (and [[VectorIndex.centroids]]): a raw-id stride over a corpus
    // whose ids share a factor with it can empty the seed set —
    // training would then degenerate to empty codebooks. 2k expected
    // hits, first k by id order.
    val stride = math.max(total / math.max(2L * k, 1L), 1L)
    val seeds = corpus
      .filter(pmod(xxhash64(col("vec_id")), lit(stride)) === 0)
      .orderBy(col("vec_id")).limit(k)
      .withColumn("cid",
        (row_number().over(Window.orderBy(col("vec_id"))) - 1).cast("int"))
    var cb = subvectors(seeds, "embedding", m)
      .join(seeds.select(col("vec_id"), col("cid")), "vec_id")
      .select(col("sub"), col("cid"), col("sv").as("c_sub"))
      .localCheckpoint()
    val sampleStride = math.max(total / trainCap(k), 1L)
    // Stride over a HASH of vec_id, not the raw id: a sparse or offset
    // id space (ids all ≡ 7 mod stride, say) would make a raw-id stride
    // silently under-sample — or empty the training set entirely,
    // degrading centroids to their seeds. xxhash64 is deterministic, so
    // the sample (and the learned codebooks) stay reproducible.
    val trainSet =
      if (sampleStride <= 1L) corpus
      else corpus.filter(
        pmod(xxhash64(col("vec_id")), lit(sampleStride)) === 0)
    val sv = subvectors(trainSet, "embedding", m).localCheckpoint()
    var it = 0
    while (it < iters) {
      val means = assign(sv, cb)
        .join(sv, Seq("vec_id", "sub"))
        .select(col("sub"), col("cid"),
          posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy(col("sub"), col("cid"), col("pos"))
        .agg(avg(col("x").cast(DecimalType(38, 12))).as("mu"))
        .groupBy(col("sub"), col("cid"))
        .agg(sort_array(collect_list(struct(col("pos"), col("mu"))))
          .as("pm"))
        .select(col("sub"), col("cid"),
          transform(col("pm"), p => p.getField("mu").cast("float"))
            .as("m_sub"))
      cb = cb.join(means, Seq("sub", "cid"), "left")
        .select(col("sub"), col("cid"),
          coalesce(col("m_sub"), col("c_sub")).as("c_sub"))
        .localCheckpoint()
      it += 1
    }
    cb
  }

  /** Build-once wrapper for the codebooks alone — the [[IvfPq
    * .ensureBuilt]] contract applied to the plain-PQ serving path
    * (q100's shape): train + persist at `path` unless a marker from a
    * completed identical build exists, return the persisted codebooks
    * plus whether training ran. Codebooks are deterministic
    * bit-identical per (dataset, params) and floats round-trip parquet
    * exactly, so a cached read scores identically to an in-query
    * train. The marker folds in [[AnnVersion.AlgoVersion]] and the
    * corpus row count — same staleness guarantees as the full index. */
  def ensureCodebooks(spark: org.apache.spark.sql.SparkSession,
      corpus: DataFrame, m: Int, k: Int, iters: Int, path: String)
      : (DataFrame, Boolean) = {
    val expect = s"algo=${AnnVersion.AlgoVersion} m=$m k=$k " +
      s"iters=$iters rows=${graft.Tables.memoCount(corpus)}"
    val hit = ArtifactCache.hit(path, expect)
    if (!hit) {
      trainCodebooks(corpus, m, k, iters).write.mode("overwrite")
        .parquet(path)
      ArtifactCache.stamp(path, expect)
    }
    (spark.read.parquet(path), !hit)
  }

  /** Encode the corpus: (vec_id, codes array<int> of length m). */
  def encode(corpus: DataFrame, codebooks: DataFrame, m: Int): DataFrame =
    assign(subvectors(corpus, "embedding", m), codebooks)
      .groupBy(col("vec_id"))
      .agg(sort_array(collect_list(struct(col("sub"), col("cid"))))
        .as("sc"))
      .select(col("vec_id"),
        transform(col("sc"), s => s.getField("cid")).as("codes"))

  /** ADC top-k: for each (query_id, q_emb) query, rank the coded
    * corpus by approximate squared L2 and keep the k best.
    * Output: (query_id, rk, vec_id, adc) — `adc` is the approximate
    * distance (useful for re-ranking the short list exactly).
    *
    * The per-query distance table `dts` (m arrays of k distances) is
    * staged on the query side BEFORE the candidate pass, so each
    * (query, candidate) pair costs m element_at lookups — never a
    * d-wide arithmetic pass. */
  def search(codes: DataFrame, codebooks: DataFrame, queries: DataFrame,
      m: Int, topK: Int): DataFrame = {
    val dt = distanceTables(queries, codebooks, m)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc"), col("vec_id"))
    codes.crossJoin(broadcast(dt))
      .select(col("query_id"), col("vec_id"),
        adcOf(col("codes"), col("dts"), m).as("adc"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("query_id"), col("rk"), col("vec_id"), col("adc"))
  }

  /** Per-query ADC distance tables: (query_id, dts) where dts is m
    * arrays of k subspace distances — staged once per query, broadcast
    * to the candidate pass ([[search]], [[IvfPq.probe]]). */
  private[vector] def distanceTables(queries: DataFrame,
      codebooks: DataFrame, m: Int): DataFrame =
    subvectors(queries.withColumnRenamed("query_id", "vec_id"),
      "q_emb", m)
      .withColumnRenamed("vec_id", "query_id")
      .join(broadcast(codebooks), Seq("sub"))
      .select(col("query_id"), col("sub"), col("cid"),
        l2sq(col("sv"), col("c_sub")).as("d"))
      .groupBy(col("query_id"), col("sub"))
      .agg(sort_array(collect_list(struct(col("cid"), col("d"))))
        .as("cd"))
      .select(col("query_id"), col("sub"),
        transform(col("cd"), x => x.getField("d")).as("dt"))
      .groupBy(col("query_id"))
      .agg(sort_array(collect_list(struct(col("sub"), col("dt"))))
        .as("sd"))
      .select(col("query_id"),
        transform(col("sd"), x => x.getField("dt")).as("dts"))

  /** [[distanceTables]] computed ON THE DRIVER over already-collected
    * query rows and codebook rows — what [[IvfPq.probeFrom]] stages
    * after its coarse-stage collect, so the distance tables broadcast
    * from a LocalRelation instead of re-running the queries subtree
    * through two aggregation exchanges as a separate broadcast-build
    * job (guide §2.4: the frame was bounded and collected anyway).
    *
    * Bit-identity with the distributed form, piece by piece:
    * subvector slicing uses the same `ds = dim / m` integral bounds
    * (a non-divisible tail is dropped by both); each subspace
    * distance runs the same float-subtract/float-square/Double-
    * accumulate loop as [[graft.expressions.FloatL2DistSq]] (null
    * elements 0, shorter-prefix fold); the (cid, d) entries sort by
    * the same (cid, then d) struct order `sort_array` uses (cids are
    * unique per sub, so the tie-break never fires); subs sort
    * ascending exactly like the outer `sort_array`; a sub absent
    * from the codebooks is absent from `dts` (inner join). The one
    * caller, [[IvfPq.probeFrom]], requires unique query ids with
    * non-null q_emb before calling, so neither a null embedding nor
    * a duplicated query row (which the distributed form would pair
    * with every codebook row twice) reaches this function. */
  private[vector] def distanceTableRows(
      qRows: Seq[org.apache.spark.sql.Row],
      cbRows: Seq[org.apache.spark.sql.Row], m: Int,
      qFloat: Boolean, cbFloat: Boolean): Seq[org.apache.spark.sql.Row] = {
    val bySub: Map[Int, Seq[(Int, scala.collection.Seq[Any])]] =
      cbRows.map(r => (r.getInt(0), (r.getInt(1),
        r.get(2).asInstanceOf[scala.collection.Seq[Any]])))
        .groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    val subs = bySub.keysIterator.filter(j => j >= 0 && j < m)
      .toSeq.sorted
    qRows.map { r =>
      val e = r.getAs[scala.collection.Seq[Any]](1)
      val ds = e.length / m
      val dts: Seq[Seq[Double]] = subs.map { j =>
        val sv = e.slice(j * ds, j * ds + ds)
        bySub(j)
          .map { case (cid, cSub) =>
            (cid, l2sqLocal(sv, cSub, qFloat, cbFloat)) }
          .sortBy(identity)
          .map(_._2)
      }
      org.apache.spark.sql.Row(r.get(0), dts)
    }
  }

  /** [[graft.expressions.FloatL2DistSq]]'s exact arithmetic on
    * driver-side collected array values: float per-element ops when
    * both sides are float arrays, double otherwise; Double
    * accumulation left-to-right; null element = 0; fold over the
    * shorter prefix. */
  private def l2sqLocal(a: scala.collection.Seq[Any],
      b: scala.collection.Seq[Any], aFloat: Boolean,
      bFloat: Boolean): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0
    var i = 0
    if (aFloat && bFloat) {
      while (i < n) {
        val x = a(i) match { case null => 0.0f
          case v => v.asInstanceOf[Float] }
        val y = b(i) match { case null => 0.0f
          case v => v.asInstanceOf[Float] }
        val d = x - y
        acc += (d * d).toDouble
        i += 1
      }
    } else {
      def dbl(v: Any, f: Boolean): Double = v match {
        case null => 0.0
        case _ => if (f) v.asInstanceOf[Float].toDouble
          else v.asInstanceOf[Double]
      }
      while (i < n) {
        val d = dbl(a(i), aFloat) - dbl(b(i), bFloat)
        acc += d * d
        i += 1
      }
    }
    acc
  }

  /** Approximate squared L2 of a coded vector against a staged
    * distance-table column: m table lookups, no d-wide arithmetic —
    * the native codegen loop ([[graft.expressions.AdcLookup]]; the
    * composed `aggregate(sequence(...))` form it replaced allocated
    * the index array and three interpreted `element_at`s per
    * CANDIDATE, the ADC stage's per-row hot path). Fold order and
    * null-on-invalid-subscript semantics are unchanged
    * ([[adcOfComposed]] kept as the reference; PQSpec pins the
    * bit-equality). */
  private[vector] def adcOf(codes: Column, dts: Column, m: Int): Column =
    graft.expressions.VectorExpressions.adcF(codes, dts, m)

  /** The composed-builtins ADC fold (reference implementation;
    * [[adcOf]] is the fast path). */
  private[vector] def adcOfComposed(codes: Column, dts: Column,
      m: Int): Column =
    aggregate(sequence(lit(0), lit(m - 1)), lit(0.0), (acc, j) =>
      acc + element_at(element_at(dts, j.cast("int") + 1),
        element_at(codes, j.cast("int") + 1) + 1))

  /** The standard PQ serving pipeline: ADC over the compressed corpus
    * builds a `shortlist`-sized candidate set per query, then ONLY
    * those candidates fetch their raw vectors (a vec_id equi join —
    * the corpus is never scanned at full width) for an exact squared-
    * L2 re-rank to `topK`. Compressed-domain recall losses mostly
    * affect ordering WITHIN the shortlist, so re-ranking recovers most
    * of them at shortlist/corpus fraction of the exact cost.
    * Output: (query_id, rk, vec_id, dist). */
  def searchRerank(codes: DataFrame, codebooks: DataFrame,
      queries: DataFrame, corpus: DataFrame, m: Int, shortlist: Int,
      topK: Int): DataFrame = {
    val cand = search(codes, codebooks, queries, m, shortlist)
      .select(col("query_id"), col("vec_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist"), col("vec_id"))
    cand
      .join(corpus.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col("vec_id"),
        l2sq(col("embedding"), col("q_emb")).as("dist"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("query_id"), col("rk"), col("vec_id"), col("dist"))
  }
}
