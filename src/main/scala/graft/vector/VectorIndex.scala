package graft.vector

import graft.expressions.VectorExpressions.dotF
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted IVF (inverted-file) vector index: the build-once /
  * probe-many ANN layout (the Spark-native replacement for the
  * reference's Pinecone index, `/root/reference/consumer/consumer.py:58-67`).
  *
  * BUILD: assign every corpus vector to its nearest coarse centroid
  * (one broadcast pass over the corpus) and write the assignments
  * PARTITIONED BY bucket — each centroid's posting list is its own
  * parquet directory.
  *
  * PROBE: a query scores only its nProbe nearest centroids' partitions;
  * the bucket filter prunes at PLANNING time (PartitionFilters), so a
  * 100 TB index with 10k centroids reads ~nProbe/10k of the data per
  * query batch. Exactness degrades gracefully: nProbe = #centroids is
  * brute force.
  */
object VectorIndex {

  /** Coarse SEED centroids: deterministic sample of the corpus (stride
    * over vec_id). Use directly for a sampling-based index, or refine
    * with [[kmeansCentroids]] (Lloyd's) for better recall at fixed
    * nProbe. The stride filter runs fully parallel and pushes to
    * the scan; only the ~n selected rows pass through the
    * (single-partition, size-n) ranking window — never the corpus, so
    * the build has no global-order bottleneck at scale.
    * Returns (cent_id, c_emb, c_nrm). */
  def centroids(corpus: DataFrame, n: Int): DataFrame = {
    val total = corpus.count()
    // Stride over a HASH of vec_id, not the raw id: a corpus whose id
    // set shares a factor with the stride (e.g. an 80% base split
    // excluding ids ≡ 0 mod 5, stride a multiple of 5) has ZERO rows
    // at `vec_id % stride == 0` — the seed set silently empties and
    // every downstream build degenerates. xxhash64 is deterministic,
    // so seeds stay reproducible; stride targets 2n expected hits so
    // hash variance almost surely leaves ≥ n to pick from.
    val stride = math.max(total / math.max(2L * n, 1L), 1L)
    val sampled = corpus
      .filter(pmod(xxhash64(col("vec_id")), lit(stride)) === 0)
      .orderBy(col("vec_id")).limit(n)
    val w = Window.orderBy(col("vec_id")) // over <= n rows only
    sampled
      .withColumn("cent_id", (row_number().over(w) - 1).cast("int"))
      .select(col("cent_id"), col("embedding").as("c_emb"),
        l2Norm(col("embedding")).as("c_nrm"))
  }

  /** Nearest-centroid (cosine) assignment of every corpus vector:
    * (vec_id, embedding, nrm, bucket). One broadcast of the centroids,
    * one corpus pass, one per-vec_id window to pick the argmax. */
  private def assignBuckets(corpus: DataFrame, cents: DataFrame): DataFrame = {
    val scored = corpus
      .withColumn("nrm", l2Norm(col("embedding")))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cent_id"),
        when(col("nrm") === 0.0 || col("c_nrm") === 0.0, lit(-2.0))
          .otherwise(dotF(col("c_emb"), col("embedding"))
            / (col("c_nrm") * col("nrm"))).as("csim"))
    // AGGREGATED argmax: max(struct(csim, -cent_id, ...)) is
    // lexicographically the window `orderBy(csim desc, cent_id) rk=1`
    // row this replaced (NaN still sorts largest, ties still break to
    // the lowest cent_id; (csim, cent_id) pairs are unique so the
    // trailing payload fields are never compared). The partial
    // aggregate collapses the C candidate rows per vector MAP-SIDE —
    // the exchange carries ONE row per vector instead of C copies of
    // its full embedding, and no per-partition sort (guide §2.3).
    scored.groupBy(col("vec_id"))
      .agg(max(struct(col("csim"), (-col("cent_id")).as("nc"),
        col("cent_id").as("cent_id"), col("embedding").as("embedding"),
        col("nrm").as("nrm"))).as("best"))
      .select(col("vec_id"), col("best.embedding").as("embedding"),
        col("best.nrm").as("nrm"), col("best.cent_id").as("bucket"))
  }

  /** Lloyd's k-means refinement of the stride seeds: `iters` fixed
    * iterations of assign -> exact per-dimension mean -> recenter.
    * Empty clusters keep their previous centroid.
    *
    * The per-dimension means accumulate as DECIMAL sums over a
    * posexplode — decimal addition is exact, hence order-independent,
    * so the refined centroids are bit-identical across runs and
    * partitionings (float/double sums would depend on shuffle arrival
    * order). The explode shuffles (bucket, pos, x) — dim x corpus rows
    * — which is the deliberate price of a reproducible one-time build;
    * assignment passes stay one broadcast + one window each.
    * Returns (cent_id, c_emb, c_nrm), same schema as [[centroids]]. */
  def kmeansCentroids(corpus: DataFrame, n: Int, iters: Int = 2): DataFrame =
    lloydRefine(corpus, centroids(corpus, n).localCheckpoint(), iters)

  /** k-means++ (D²-weighted) SEEDS over a bounded deterministic
    * sample, Lloyd-refined distributed — the serving-grade centroid
    * build: stride seeds land where the id hash happens to, k-means++
    * spreads seeds proportionally to residual distance, so coarse
    * cells track the corpus's direction clusters and a fixed probe
    * budget recovers far more of the true neighbor set (recall@10
    * 0.45-0.65 -> >=0.9 on the test corpus at the same index shape;
    * see VectorIndexSpec's serving-grade pin).
    *
    * Scale contract: the D² scan is inherently sequential (each seed
    * conditions the next draw), so seeding runs DRIVER-SIDE over a
    * deterministic hash-stride sample of <= `sampleCap` vectors —
    * exactly how production coarse quantizers train (FAISS trains on
    * a bounded sample; the corpus itself is never collected).
    * Memory: sampleCap x dim x 4 bytes (8192 x 1024-d = 32 MB). The
    * refinement passes stay fully distributed ([[lloydRefine]]), and
    * everything is deterministic (fixed-seed RNG over a
    * deterministically-ordered sample), so rebuilds stay
    * bit-identical like the stride path's.
    * Returns (cent_id, c_emb, c_nrm), same schema as [[centroids]]. */
  def kmeansPpCentroids(corpus: DataFrame, n: Int, iters: Int = 4,
      sampleCap: Int = 8192, seed: Long = 42L): DataFrame = {
    val spark = corpus.sparkSession
    val total = corpus.count()
    val stride = math.max(total / math.max(2L * sampleCap, 1L), 1L)
    val sample = corpus
      .filter(pmod(xxhash64(col("vec_id")), lit(stride)) === 0)
      .orderBy(col("vec_id")).limit(sampleCap)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.length >= n,
      s"kmeansPpCentroids: sample of ${sample.length} vectors cannot " +
        s"seed $n centroids — corpus too small for this centroid count")
    // unit-normalize once so D² is (1 - cosine), clipped at 0
    val unit = sample.map { v =>
      val nrm = math.sqrt(v.map(x => x.toDouble * x).sum)
      if (nrm == 0.0) v.map(_.toDouble) else v.map(_ / nrm)
    }
    val rng = new scala.util.Random(seed)
    val seedIdx = scala.collection.mutable.ArrayBuffer(
      rng.nextInt(unit.length))
    val d2 = Array.fill(unit.length)(Double.MaxValue)
    def relax(c: Array[Double]): Unit = {
      var i = 0
      while (i < unit.length) {
        var dot = 0.0
        var j = 0
        while (j < c.length) { dot += c(j) * unit(i)(j); j += 1 }
        d2(i) = math.min(d2(i), math.max(1.0 - dot, 0.0))
        i += 1
      }
    }
    relax(unit(seedIdx.head))
    while (seedIdx.size < n) {
      val totalW = d2.sum
      val next =
        if (totalW <= 0.0) {
          // the sample has < n distinct directions: every residual is
          // 0 — fall back to the next unseeded index (deterministic;
          // one always exists because sample.length >= n, and it is
          // never an already-seeded one)
          (0 until unit.length).find(!seedIdx.contains(_)).get
        } else {
          // D²-weighted draw over the POSITIVE residuals only: a
          // zero-residual index is already seeded (or coincides with
          // a seed's direction) and must never be drawn — including
          // by the terminal fall-off, where floating-point rounding
          // of totalW can leave r >= the true remaining mass
          var r = rng.nextDouble() * totalW
          var i = 0
          var pick = -1
          while (i < unit.length && pick < 0) {
            if (d2(i) > 0.0) {
              if (r < d2(i)) pick = i else r -= d2(i)
            }
            i += 1
          }
          if (pick < 0)
            pick = (unit.length - 1 to 0 by -1).find(d2(_) > 0.0).get
          pick
        }
      seedIdx += next
      relax(unit(next))
    }
    val rows = seedIdx.toSeq.zipWithIndex.map { case (si, ci) =>
      (ci, sample(si).toSeq)
    }
    import spark.implicits._
    val seeds = rows.toDF("cent_id", "c_emb")
      .select(col("cent_id"), col("c_emb").cast("array<float>").as("c_emb"))
      .withColumn("c_nrm", l2Norm(col("c_emb")))
    lloydRefine(corpus, seeds.localCheckpoint(), iters)
  }

  /** The shared Lloyd loop ([[kmeansCentroids]]'s doc describes the
    * decimal-exact mean discipline); seeds must be materialized. */
  private def lloydRefine(corpus: DataFrame, seeds: DataFrame,
      iters: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    var cents = seeds
    var it = 0
    while (it < iters) {
      val means = assignBuckets(corpus, cents)
        .select(col("bucket"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("bucket"), col("pos"))
        .agg(avg(col("x").cast(DecimalType(38, 12))).as("m"))
        .groupBy(col("bucket"))
        .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("bucket").as("cent_id"),
          transform(col("pm"), p => p.getField("m").cast("float")).as("m_emb"))
      cents = cents.join(means, Seq("cent_id"), "left")
        .select(col("cent_id"),
          coalesce(col("m_emb"), col("c_emb")).as("c_emb"))
        .withColumn("c_nrm", l2Norm(col("c_emb")))
        .localCheckpoint()
      it += 1
    }
    cents
  }

  /** Assign each corpus vector to its nearest centroid (cosine), write
    * the index partitioned by bucket and persist `cents` beside it
    * ([[centroidsOf]]), so a probe-only consumer needs no rebuild of
    * the k-means. A rebuild supersedes every prior delete: stale
    * tombstones would wrongly mask freshly built rows. */
  def build(corpus: DataFrame, cents: DataFrame, path: String): Unit = {
    assignBuckets(corpus, cents)
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    Ivf.clearTombstones(corpus.sparkSession, path)
    cents.write.mode("overwrite").parquet(Ivf.centroidsPath(path))
  }

  /** The persisted centroids of an index built at `path`. */
  def centroidsOf(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(Ivf.centroidsPath(path))

  /** DELETE `keys` ((vec_id) frame) from the persisted cosine index:
    * one tombstone write, zero index files touched — deleted keys
    * stop surfacing from the very next probe. This index has no
    * append path (content = build-time corpus), so the tombstone is
    * a plain key set with no generation ordering ([[IvfPq.delete]]
    * carries one because IVF-PQ keys can be re-inserted); re-serving
    * a deleted key means rebuilding. Idempotent. */
  def delete(spark: SparkSession, indexPath: String,
      keys: DataFrame): Unit =
    Ivf.tombstone(indexPath, keys, cut = None)

  /** The cosine tail over the shared probe head: per-query top-k by
    * cosine over the probed buckets' rows. */
  private def topK(spark: SparkSession, indexPath: String,
      picked: DataFrame, k: Int): DataFrame = {
    val h = Ivf.head(spark, indexPath, picked, "VectorIndex.probe")
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    h.index.join(broadcast(h.picks), "bucket")
      .select(col("query_id"), col("vec_id"),
        when(col("nrm") === 0.0 || col("q_nrm") === 0.0,
          lit(null).cast("double"))
          .otherwise(dotF(col("q_emb"), col("embedding"))
            / (col("q_nrm") * col("nrm"))).as("sim"))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("vec_id"), col("sim"))
  }

  /** Probe: top-k cosine neighbors for each query, scanning only each
    * query's nProbe nearest buckets. Queries: (query_id, q_emb) under
    * the [[Ivf]] query contract. Output: (query_id, rk, vec_id, sim). */
  def probe(spark: SparkSession, indexPath: String, cents: DataFrame,
      queries: DataFrame, k: Int, nProbe: Int): DataFrame =
    probeAdaptive(spark, indexPath, cents, queries, k,
      minProbe = nProbe, maxProbe = nProbe)

  /** Level-1 quantizer over a CENTROID SET — the two-level coarse
    * stage's build half ([[probeAdaptive2]]): cluster the centroids
    * themselves into `nSuper` SUPER-CELLS (k-means over the centroid
    * frame, same deterministic machinery as the corpus build) and
    * record each centroid's super-cell. Returns (superCents with the
    * [[centroids]] schema, centToSuper: (cent_id, super_id)).
    * Built once beside the index; ~sqrt(C) super-cells keeps both
    * levels' scored sets balanced. */
  def superCentroids(cents: DataFrame, nSuper: Int,
      iters: Int = 2): (DataFrame, DataFrame) = {
    val asCorpus = cents.select(
      col("cent_id").cast("long").as("vec_id"),
      col("c_emb").as("embedding"))
    val sc = kmeansCentroids(asCorpus, nSuper, iters).localCheckpoint()
    val mapping = assignBuckets(asCorpus, sc)
      .select(col("vec_id").cast("int").as("cent_id"),
        col("bucket").as("super_id"))
    (sc, mapping)
  }

  /** TWO-LEVEL [[probeAdaptive]] — for indexes whose CENTROID SET is
    * itself too large to broadcast-score per query: a 10⁹–10¹⁰-vector
    * corpus wants 10⁵–10⁶ cells, where the queries × centroids cross
    * product stops being a "tiny broadcast". Each query scores the
    * SUPER-centroids first (a genuinely tiny broadcast, ~sqrt(C)
    * rows), admits the competitive super-cells by the SAME margin
    * rule under `l1Slack`, and only the admitted super-cells'
    * centroids are scored at level 2 — a broadcast join of the
    * (query, super) admissions against the centroid table keyed by
    * super-cell, so per-query level-2 work tracks the admitted
    * FRACTION, never C. The level-2 margin rule then picks buckets
    * exactly like [[probeAdaptive]] and the scan tail is shared.
    *
    * Approximation contract: a centroid can be competitive while its
    * super-cell is not (the double-quantization boundary) — `l1Slack`
    * is the knob that buys that loss back, and it should sit ABOVE
    * the level-2 slack (level-1 distances carry both quantization
    * errors). `l1Slack` large enough to admit every super-cell makes
    * this EXACTLY [[probeAdaptive]] (spec-pinned); the ann2l100 probe
    * pins recall at a 10k-cell serving shape with the level-1 prune
    * fraction logged. */
  def probeAdaptive2(spark: SparkSession, indexPath: String,
      cents: DataFrame, superCents: DataFrame, centToSuper: DataFrame,
      queries: DataFrame, k: Int,
      slack: Double = 0.5, minProbe: Int = 2,
      maxProbe: Int = Int.MaxValue,
      l1Slack: Double = 1.0, l1MinProbe: Int = 2,
      l1MaxProbe: Int = Int.MaxValue): DataFrame =
    topK(spark, indexPath,
      Ivf.twoLevel(Ivf.Cosine, cents, superCents, centToSuper, queries,
        Ivf.Budget(slack, minProbe, maxProbe),
        Ivf.Budget(l1Slack, l1MinProbe, l1MaxProbe)), k)

  /** MULTI-PROBE with a per-query budget derived from the centroid
    * distances themselves — the serving-grade default: a query deep
    * inside one cluster probes few buckets, a query near a cell
    * boundary (where fixed-nProbe recall dies) spills into every
    * competitive neighbor cell. A centroid is probed when its
    * similarity sits within `slack` of the best, RELATIVE to how
    * decisive the best is: `csim >= best - slack * (1 - best)` — the
    * margin collapses as best -> 1 (decisive assignment) and widens
    * for diffuse queries; on unit vectors this is exactly the L2 rule
    * `d2 <= (1 + slack) * best_d2` (FAISS's multiprobe epsilon).
    * `minProbe`/`maxProbe` bound the budget both ways; maxProbe =
    * #centroids with slack -> infinity degrades to brute force.
    * Measured on the test corpus (VectorIndexSpec): recall@10 >= 0.9
    * at an average ~5.6/8 buckets probed vs 0.45-0.65 at fixed
    * nProbe=2 — the knob trades scan fraction for recall per-query
    * instead of fleet-wide. */
  def probeAdaptive(spark: SparkSession, indexPath: String,
      cents: DataFrame, queries: DataFrame, k: Int,
      slack: Double = 0.5, minProbe: Int = 2,
      maxProbe: Int = Int.MaxValue): DataFrame =
    topK(spark, indexPath, Ivf.coarse(Ivf.Cosine, cents, queries,
      Ivf.Budget(slack, minProbe, maxProbe)), k)
}
