package graft.vector

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-PQ: the composed ANN index for corpora where even one probed
  * posting list is too wide to scan at full vector width — the
  * standard large-scale serving configuration (coarse inverted file
  * for pruning x product quantization for compressed-domain scoring,
  * as delegated by the reference to its managed ANN service,
  * `/root/reference/consumer/consumer.py:58-67`).
  *
  * BUILD: coarse-assign every vector to its nearest centroid by
  * squared L2 — the SAME metric the PQ distances and re-rank use
  * (one broadcast pass) — PQ-encode it
  * ([[PQ.encode]] — a global codebook; residual encoding is a known
  * refinement, deliberately not taken: a per-bucket residual codebook
  * couples the two quantizers and the recall gap is recovered by the
  * exact re-rank stage), and write ONE index partitioned by bucket:
  * each row carries (vec_id, embedding, codes). Codebooks persist
  * next to the index.
  *
  * PROBE, three stages, each strictly narrower:
  *  1. coarse: nProbe nearest centroids per query (tiny broadcast
  *     cross product) -> planning-time PARTITION PRUNING of the index
  *     scan, ~nProbe/#centroids of the data read;
  *  2. ADC: compressed-domain scoring of the probed rows — the scan
  *     COLUMN-PRUNES to (bucket, vec_id, codes), never reading the
  *     raw vectors (the ~128x I/O reduction PQ exists for); m table
  *     lookups per candidate against per-query distance tables staged
  *     once ([[PQ.distanceTables]]) -> `shortlist` candidates/query;
  *  3. exact: squared-L2 re-rank — the (queries x shortlist)-sized id
  *     set broadcasts back against the SAME pruned partitions, so raw
  *     embeddings are read only for shortlisted rows and the index
  *     never shuffles.
  *
  * At 100 TB: stage 1 bounds I/O, stage 2 bounds arithmetic, stage 3
  * bounds how much approximation error survives — each independently
  * tunable (nProbe, shortlist) with brute force as the limit.
  */
/** Version of the persisted ANN index algorithms (coarse IVF
  * assignment, PQ codebook training/encode, probe staging). Bump on
  * ANY behavioral edit to [[PQ]]/[[IvfPq]]/[[VectorIndex]]: the
  * constant is folded into every persisted-artifact cache marker
  * ([[IvfPq.ensureBuilt]], [[PQ.ensureCodebooks]]), so artifacts built
  * by a previous algorithm miss the marker check and rebuild instead
  * of being served silently. `graft.Dev pins` prints it beside the
  * regenerated oracle pins, so the pinned retrieval lists and the
  * marker version move together. */
object AnnVersion {
  // v3: hash-stride k-means/codebook SEED selection
  // v4: generation-tombstone delete propagation (index rows carry a
  //     `gen` column, probes mask tombstoned rows) + k-means++ seed
  //     draw can no longer duplicate a seed on FP rounding
  val AlgoVersion = 4
}

/** Shared marker protocol for build-once persisted artifacts: a
  * `.params` file written AFTER a completed build holds the exact
  * parameter string the artifacts were built under (algorithm version,
  * knobs, corpus fingerprint). Reuse requires an exact match; an
  * interrupted build (no marker) or ANY drift rebuilds. */
private[graft] object ArtifactCache {
  def hit(path: String, expect: String): Boolean = {
    val marker = new java.io.File(s"$path.params")
    marker.exists() && {
      val src = scala.io.Source.fromFile(marker)
      try src.mkString == expect finally src.close()
    }
  }
  def stamp(path: String, expect: String): Unit =
    java.nio.file.Files.writeString(
      new java.io.File(s"$path.params").toPath, expect)
}

object IvfPq {

  private def codebooksPath(path: String) = s"$path.codebooks"
  private def centroidsPath(path: String) = s"$path.centroids"
  private def tombstonesPath(path: String) = s"$path.tombstones"

  // ---- DELETE PROPAGATION: generation-ordered keyed tombstones.
  //
  // The reference's delegated vector store keeps index and records
  // consistent by construction (one upsert/delete surface,
  // /root/reference/consumer/consumer.py:111-125); a persisted
  // parquet index has to earn the same property. The design is the
  // Lucene/segment one, adapted to bucket-partitioned parquet:
  //
  //  * every index row carries a GENERATION (`gen`): 0 at build,
  //    monotonically higher for appends;
  //  * a delete writes (vec_id, cut) tombstone rows, cut = one past
  //    the current max row generation — "kill every row of this key
  //    that exists NOW";
  //  * probes mask rows with `gen < cut` for their key (a broadcast
  //    anti-join on the candidates scan, BEFORE the ADC shortlist, so
  //    top-k never under-fills with dead rows);
  //  * appends stamp `gen` = the max tombstone cut, so a key
  //    re-inserted AFTER its delete serves again (its new row sits at
  //    or above every existing cut).
  //
  // The ordering is what makes delete-then-append an idempotent
  // UPSERT unit (the CDC follower's replay discipline,
  // [[graft.streaming.Streams.annIndexChangesFollower]]): a replayed
  // batch re-tombstones at a cut above the crashed attempt's append
  // and re-appends above that cut — exactly one live copy survives,
  // whatever the crash point. [[compact]] materializes tombstones
  // (dead rows physically dropped, tombstone set cleared), so the
  // mask stays broadcast-sized under any delete volume. ----

  private def tombstonesOf(spark: SparkSession,
      path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(tombstonesPath(path))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) Some(spark.read.parquet(p.toString)) else None
  }

  private def clearTombstones(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(tombstonesPath(path))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(p, true)
    ()
  }

  /** Mask tombstoned rows out of an index frame: a row dies when a
    * tombstone names its key with a cut above its generation. The
    * tombstone set broadcasts (it is bounded by deletes since the
    * last [[compact]], never by index size); with no tombstones the
    * frame passes through with ZERO plan overhead — the steady-state
    * read path is unchanged. */
  private def dropTombstoned(spark: SparkSession, path: String,
      df: DataFrame): DataFrame =
    tombstonesOf(spark, path).fold(df) { t =>
      df.join(
        broadcast(t.select(col("vec_id").as("_t_vid"),
          col("cut").as("_t_cut"))),
        df("vec_id") === col("_t_vid") && df("gen") < col("_t_cut"),
        "left_anti")
    }

  /** The LIVE index at `path`: tombstone-masked rows. What every
    * consumer that treats the index as the source of truth must read
    * (the streaming sink's duplicate-id anti-join — a deleted key
    * must be re-insertable). */
  def live(spark: SparkSession, path: String): DataFrame =
    dropTombstoned(spark, path, spark.read.parquet(path))

  /** DELETE `keys` ((vec_id) frame) from the persisted index: one
    * tombstone write, zero index files touched — the GDPR/retention
    * path ([[graft.sinks.ManifestTable.deleteKeys]]'s shape) for the
    * serving artifact. Deleted keys stop surfacing from the very next
    * probe; physical removal happens at the next [[compact]].
    * Idempotent (re-deleting an already-dead key adds a tombstone row
    * that masks nothing new). Returns the cut generation. */
  def delete(spark: SparkSession, path: String, keys: DataFrame): Long = {
    val maxGenRow = spark.read.parquet(path)
      .agg(max(col("gen"))).head()
    val cut = (if (maxGenRow.isNullAt(0)) 0L
      else maxGenRow.getLong(0)) + 1L
    keys.select(col("vec_id")).filter(col("vec_id").isNotNull)
      .distinct()
      .withColumn("cut", lit(cut))
      .repartition(1)
      .write.mode("append").parquet(tombstonesPath(path))
    cut
  }

  /** Nearest-centroid assignment by SQUARED L2 — the IVF-PQ coarse
    * quantizer must use the same metric as the PQ distances and the
    * re-rank, or the pruning contract breaks: with [[VectorIndex]]'s
    * cosine buckets, widening nProbe converges on the COSINE answer
    * set while stages 2-3 rank by L2, so recall against the true L2
    * neighbors plateaus below 1 no matter the knobs. One centroid
    * broadcast, one corpus pass, one per-vector argmin window. */
  private def l2AssignBuckets(corpus: DataFrame,
      cents: DataFrame): DataFrame =
    // AGGREGATED argmin: min(struct(d2, cent_id, embedding)) is
    // lexicographically the window `orderBy(d2, cent_id) rk=1` row
    // this replaced ((d2, cent_id) unique, so the embedding payload is
    // never compared); the partial aggregate collapses the C candidate
    // rows per vector MAP-SIDE, so the exchange carries one row per
    // vector instead of C copies of its embedding (guide §2.3).
    corpus
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("cent_id"),
        PQ.l2sq(col("embedding"), col("c_emb")).as("d2"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cent_id").as("cent_id"),
        col("embedding").as("embedding"))).as("best"))
      .select(col("vec_id"), col("best.embedding").as("embedding"),
        col("best.cent_id").as("bucket"))

  /** Build the partitioned IVF-PQ index at `path`. `cents` are the
    * coarse centroids ((cent_id, c_emb, c_nrm) — use
    * [[VectorIndex.kmeansCentroids]]); `m` subspaces x `k` codes per
    * codebook. Deterministic end-to-end (stride seeds, decimal-exact
    * means), so rebuilds are bit-identical. */
  def build(corpus: DataFrame, cents: DataFrame, m: Int, k: Int,
      path: String): Unit =
    buildWith(corpus, cents, PQ.trainCodebooks(corpus, m, k), m, path)

  /** [[build]] with the codebooks supplied instead of trained — the
    * quantizer-frozen write path shared by the full build and
    * [[append]]'s rebuild-equivalence contract: an appended index must
    * be bit-equal in content to `buildWith(base ∪ delta)` under the
    * SAME centroids and codebooks, which is only a testable statement
    * if a build can run under fixed codebooks. */
  def buildWith(corpus: DataFrame, cents: DataFrame, cb: DataFrame,
      m: Int, path: String): Unit = {
    // loud beats silent: an empty quantizer (a degenerate seed
    // sample, a bad read) would otherwise write an EMPTY index that
    // every probe happily serves zero rows from
    require(!cents.isEmpty, "no coarse centroids — refusing to build")
    require(!cb.isEmpty, "empty PQ codebooks — refusing to build")
    l2AssignBuckets(corpus, cents)
      .join(PQ.encode(corpus, cb, m), "vec_id")
      .withColumn("gen", lit(0L))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    // a rebuild starts a fresh generation space — tombstones from the
    // overwritten index would wrongly mask freshly built rows
    clearTombstones(corpus.sparkSession, path)
    cb.write.mode("overwrite").parquet(codebooksPath(path))
    // centroids persist with the index: a PROBE-only consumer (the
    // serving path) must not need the build-time k-means rerun
    cents.write.mode("overwrite").parquet(centroidsPath(path))
  }

  /** Incrementally extend a persisted index with `delta` rows
    * ((vec_id, embedding), ids disjoint from the indexed set by
    * caller contract) WITHOUT retraining: the delta is coarse-assigned
    * and PQ-encoded against the index's own persisted centroids and
    * codebooks — both quantizers stay frozen — and appended
    * partition-wise, so existing index files are never rewritten and
    * the continuous-ingest path (the reference upserts every consumed
    * embedding into its ANN service,
    * `/root/reference/consumer/consumer.py:58-67`) costs one
    * delta-sized pass instead of a corpus-sized rebuild.
    *
    * Equivalence: probe(appended) ≡ probe(buildWith(base ∪ delta,
    * same cents, same cb)) — frozen quantizers make bucket assignment
    * and codes per-row functions, so the appended index differs from
    * that rebuild only in file layout, which probe ordering never
    * observes (explicit vec_id tiebreaks). Spec-pinned in IvfPqSpec.
    *
    * At scale: each append adds ≤1 file per touched bucket; recall
    * drifts only as far as frozen centroids misfit the delta's
    * distribution, so the operational cadence is many cheap appends
    * between scheduled full rebuilds (which re-train both quantizers)
    * — rebuild cost amortizes over the append window. Idempotence is
    * the caller's job: this is the raw write (an ingest checkpoint
    * gives at-most-once per delta); the build-once query path wraps it
    * with [[ensureAppended]]'s marker protocol. */
  def append(spark: SparkSession, path: String, delta: DataFrame)
      : Unit = {
    val cb = spark.read.parquet(codebooksPath(path)).localCheckpoint()
    val cents = spark.read.parquet(centroidsPath(path))
    // m is a property of the persisted codebooks, not a knob the
    // caller can get wrong: (sub, cid, c_sub) holds m distinct subs
    val mRow = cb.agg(max(col("sub"))).head()
    require(!mRow.isNullAt(0),
      s"empty codebooks at ${codebooksPath(path)} — not a built index")
    val m = mRow.getInt(0) + 1
    // appended rows stamp gen = the max tombstone cut (at least 1):
    // they sit at or above every existing cut, so a key re-inserted
    // after its delete serves again while the delete keeps masking
    // the OLD rows. The floor of 1 keeps appended rows DISTINGUISHABLE
    // from build-time rows (gen 0) — [[driftReport]]'s appended-era
    // signal — without disturbing the ordering: tombstone cuts are
    // always maxRowGen + 1, strictly above any stamped gen.
    val gen = math.max(tombstonesOf(spark, path)
      .map { t =>
        val r = t.agg(max(col("cut"))).head()
        if (r.isNullAt(0)) 0L else r.getLong(0)
      }.getOrElse(0L), 1L)
    l2AssignBuckets(delta, cents)
      .join(PQ.encode(delta, cb, m), "vec_id")
      .withColumn("gen", lit(gen))
      // one file per TOUCHED bucket per append, not one per (input
      // partition x bucket): under continuous ingest (the streaming
      // sink appends every micro-batch) an unrepartitioned write
      // multiplies file count by the batch's partitioning, and every
      // later probe/anti-join pays the listing. Deltas are
      // batch-sized, so one task per bucket is the right parallelism
      // here (the full build keeps its parallel write).
      .repartition(col("bucket"))
      .write.mode("append").partitionBy("bucket").parquet(path)
  }

  /** Build-once wrapper for [[append]] on an [[ensureBuilt]]-managed
    * index: appends `delta` exactly once per completed base build.
    * `baseExpect` is the marker [[ensureBuilt]] stamped (returned by
    * [[expectOf]] for the base corpus); after the append the marker
    * becomes `"$baseExpect appended=N"`, so a re-run skips (returns
    * false), a later [[ensureBuilt]] against the BASE corpus misses
    * and rebuilds base-only, and an algorithm bump invalidates
    * everything through [[AnnVersion.AlgoVersion]] as usual. A marker
    * matching neither state fails loudly — appending onto an unknown
    * artifact would corrupt it silently. One append generation per
    * build by design: continuous multi-delta ingest uses the raw
    * [[append]] under its own ingest checkpoint. */
  def ensureAppended(spark: SparkSession, path: String,
      delta: DataFrame, baseExpect: String): Boolean = {
    val after = s"$baseExpect appended=${graft.Tables.memoCount(delta)}"
    if (ArtifactCache.hit(path, after)) false
    else {
      require(ArtifactCache.hit(path, baseExpect),
        s"no completed base build at $path for marker '$baseExpect' — " +
          "run ensureBuilt on the base corpus first")
      append(spark, path, delta)
      ArtifactCache.stamp(path, after)
      true
    }
  }

  /** Compact the index's bucket partitions back to one file per
    * bucket. Continuous ingest ([[append]] per micro-batch via
    * `Streams.annIndexSinkWriter`) adds a file per touched bucket per
    * batch, so a long-lived index accumulates O(batches) small files
    * and every probe, anti-join, and append pays the listing and
    * per-file reader setup. Compaction is pure layout maintenance:
    * rows, codes, and bucket assignments are untouched (content is
    * deterministic — rewritten buckets sort by vec_id), so probes
    * before and after are frame-identical (spec-pinned), and the
    * sibling artifacts (centroids, codebooks, `.params` marker) are
    * not involved at all.
    *
    * Crash-safe against losing the index via the shared swap protocol
    * ([[graft.sinks.Maintenance.writeAndSwap]] — one implementation
    * for both compactors): the compacted copy is fully written to a
    * sibling temp dir first, then swapped in by two renames, and a
    * crash between them is repaired by `recoverPrecompact` before any
    * later swap or sink read touches the path. Like all maintenance
    * here it assumes a quiet window: don't run concurrent probes
    * against the path mid-swap, and on object stores without atomic
    * rename schedule it accordingly. */
  def compact(spark: SparkSession, path: String): Unit = {
    graft.sinks.Maintenance.writeAndSwap(spark, path) { tmp =>
      // MATERIALIZE tombstones: dead rows are physically dropped
      // here, which is what keeps the probe-time tombstone mask
      // broadcast-sized under any cumulative delete volume. Probes
      // are frame-identical across the swap because they only ever
      // see the live view. Surviving rows keep their generations.
      live(spark, path)
        .repartition(col("bucket"))
        .sortWithinPartitions(col("vec_id"))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(tmp)
    }
    // clear AFTER the swap: a crash between leaves stale tombstones
    // that mask nothing (their dead rows are gone; survivors sit at
    // gen >= cut or under other keys) — harmless, cleared next time
    clearTombstones(spark, path)
  }

  /** Quantizer-DRIFT report for a persisted index — the "WHEN do I
    * rebuild?" answer [[append]]'s frozen-quantizer contract leaves
    * open: appends keep recall above a floor, but nothing tells an
    * operator when accumulated appends have degraded the quantizer
    * past its training distribution. Three cheap signals:
    *
    *  - `appendedFraction` — rows at gen > 0 / total: how much of
    *    the index the quantizers were never trained on;
    *  - `maxCellFraction` vs `1/cells` — occupancy skew: frozen
    *    coarse cells pile new data into whichever cells it happens
    *    to resemble, and a hot cell degrades both probe cost (the
    *    cell scans large) and recall (its ADC shortlist saturates);
    *  - `meanResidualAppended` vs `meanResidualBase` — the mean L2
    *    distance of (a bounded deterministic sample of) rows to
    *    their own centroid, appended vs base: appended rows fitting
    *    WORSE than the training rows is drift by definition.
    *
    * Cost: one column-pruned (bucket, gen) scan for the counts + one
    * embedding pass over a hash-stride sample (~`sampleTarget` rows)
    * for the residuals — never a full-width index scan.
    * `rebuildRecommended` composes the three thresholds; `reasons`
    * says which fired (empty = healthy). Rebuild with
    * [[ensureBuilt]] after dropping the marker, or
    * `CALL g.system.rebuild_index`. */
  final case class DriftReport(rows: Long, cells: Long,
      appendedFraction: Double, maxCellFraction: Double,
      meanResidualBase: Double, meanResidualAppended: Double,
      rebuildRecommended: Boolean, reasons: Seq[String])

  def driftReport(spark: SparkSession, path: String,
      appendedMax: Double = 0.5, hotCellFactor: Double = 4.0,
      residualFactor: Double = 1.5,
      sampleTarget: Long = 100000L): DriftReport = {
    val occ = live(spark, path).select(col("bucket"), col("gen"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("gen") > 0L, 1L).otherwise(0L)).as("app"))
      .agg(sum(col("n")), max(col("n")), count(lit(1)),
        sum(col("app"))).head()
    val rows = if (occ.isNullAt(0)) 0L else occ.getLong(0)
    if (rows == 0L) return DriftReport(0L, 0L, 0.0, 0.0, 0.0, 0.0,
      rebuildRecommended = false, Seq.empty)
    val maxCell = occ.getLong(1)
    val cells = occ.getLong(2)
    val appended = occ.getLong(3)
    val appendedFraction = appended.toDouble / rows
    val maxCellFraction = maxCell.toDouble / rows
    // residuals over a deterministic hash-stride sample: mean L2
    // distance of each sampled row to ITS OWN centroid, split by era
    val stride = math.max(rows / math.max(sampleTarget, 1L), 1L)
    val cents = centroidsOf(spark, path)
      .select(col("cent_id").as("bucket"), col("c_emb"))
    val res = live(spark, path)
      .filter(pmod(xxhash64(col("vec_id")), lit(stride)) === 0)
      .join(broadcast(cents), "bucket")
      .select((col("gen") > 0L).as("app"),
        PQ.l2sq(col("embedding"), col("c_emb")).as("r2"))
      .groupBy(col("app"))
      .agg(avg(sqrt(col("r2"))).as("mr"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    val mrBase = res.getOrElse(false, 0.0)
    val mrApp = res.getOrElse(true, 0.0)
    val checks: Seq[(Boolean, String)] = Seq(
      (appendedFraction > appendedMax,
        f"appended fraction $appendedFraction%.2f > $appendedMax%.2f" +
          " — most of the index postdates quantizer training"),
      (cells > 0 && maxCellFraction > hotCellFactor / cells,
        f"hot cell holds $maxCellFraction%.3f of rows (> " +
          f"$hotCellFactor%.1fx uniform) — occupancy skewed"),
      (mrBase > 0.0 && mrApp > residualFactor * mrBase,
        f"appended mean residual $mrApp%.4f > $residualFactor%.1fx " +
          f"base $mrBase%.4f — appends fit the quantizer worse"))
    val reasons = checks.collect { case (true, msg) => msg }
    DriftReport(rows, cells, appendedFraction, maxCellFraction,
      mrBase, mrApp, reasons.nonEmpty, reasons)
  }

  /** FULL REBUILD from the index's own LIVE rows — what a fired
    * [[driftReport]] recommends: re-train both quantizers (k-means++
    * coarse + fresh PQ codebooks) over everything currently served
    * (tombstoned rows excluded — a rebuild is also when deletes
    * physically leave), overwrite the artifact set, and stamp the
    * [[ensureBuilt]] marker so later ensure calls at these params
    * reuse it. Returns (rows rebuilt over, cells). */
  def rebuild(spark: SparkSession, path: String, m: Int, k: Int,
      nCentroids: Int, kmIters: Int = 4): (Long, Long) = {
    val corpus = live(spark, path)
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    val rows = corpus.count()
    require(rows > 0, s"IvfPq.rebuild: no live rows at $path")
    val cents = VectorIndex.kmeansPpCentroids(corpus, nCentroids,
      iters = kmIters).localCheckpoint()
    build(corpus, cents, m, k, path)
    ArtifactCache.stamp(path, expectOf(m, k, nCentroids, kmIters, rows))
    (rows, nCentroids.toLong)
  }

  /** The persisted centroids of an index at `path` — the probe-side
    * artifact read, for consumers that manage the build themselves. */
  def centroidsOf(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(centroidsPath(path))

  /** The [[ensureBuilt]] cache-marker string for these build params —
    * exposed so append-aware callers can name the base-build state
    * ([[ensureAppended]]) without duplicating the format. */
  def expectOf(m: Int, k: Int, nCentroids: Int, kmIters: Int,
      rows: Long): String =
    s"algo=${AnnVersion.AlgoVersion} m=$m k=$k " +
      s"cents=$nCentroids iters=$kmIters rows=$rows"

  /** Build-once wrapper for the serving path: (re)builds the full
    * artifact set (index + codebooks + centroids) at `path` unless a
    * param-marker from a completed identical build is present, and
    * returns the PERSISTED centroids plus whether a build ran. The
    * marker is written LAST, so an interrupted build rebuilds. The
    * index is deterministic per (dataset, params) — spec-pinned
    * bit-identical rebuilds — which is what makes reuse sound. The
    * marker folds in [[AnnVersion.AlgoVersion]] (an algorithm edit
    * invalidates every cached artifact — no manual /tmp hygiene) and
    * the corpus row count (a regenerated/regrown dataset at the same
    * path invalidates too; the count is a parquet metadata-only job,
    * the one corpus evaluation a cache hit pays). */
  def ensureBuilt(spark: SparkSession, corpus: DataFrame, m: Int,
      k: Int, nCentroids: Int, kmIters: Int, path: String)
      : (DataFrame, Boolean) = {
    val expect = expectOf(m, k, nCentroids, kmIters,
      graft.Tables.memoCount(corpus))
    val hit = ArtifactCache.hit(path, expect)
    if (!hit) {
      val cents = VectorIndex.kmeansCentroids(corpus, nCentroids,
        iters = kmIters).localCheckpoint()
      build(corpus, cents, m, k, path)
      ArtifactCache.stamp(path, expect)
    }
    (spark.read.parquet(centroidsPath(path)), !hit)
  }

  /** Probe: top-k exact-re-ranked neighbors per (query_id, q_emb)
    * query, reading only each query's nProbe nearest buckets and
    * ADC-scoring only those rows. Output: (query_id, rk, vec_id,
    * dist) — squared L2, exact for every returned row. Every probe
    * requires unique query ids with non-null embeddings and throws
    * IllegalArgumentException otherwise.
    *
    * `allowed` is the FILTERED-search hook (the `filter=` every
    * production vector store grew): a one-column `vec_id` frame of
    * eligible ids, applied as a broadcast semi-join on the CODES scan
    * — before the ADC shortlist, so the shortlist fills entirely with
    * eligible candidates and top-k never under-fills the way
    * post-filtering a fixed shortlist does (with a selective filter,
    * post-filter can return < k rows while eligible neighbors sit
    * just past the shortlist cut). Sized for selective filters: the
    * id set broadcasts; a barely-selective filter costs more as a
    * broadcast than it prunes — apply it to the OUTPUT instead. */
  def probe(spark: SparkSession, path: String, cents: DataFrame,
      queries: DataFrame, m: Int, topK: Int, nProbe: Int,
      shortlist: Int, allowed: Option[DataFrame] = None): DataFrame =
    probeFrom(spark, path,
      coarseRanks(cents, queries).filter(col("rk") <= nProbe),
      m, topK, shortlist, allowed)

  /** [[probe]] with the coarse budget derived PER QUERY from the
    * centroid distances (see [[VectorIndex.probeAdaptive]] — this is
    * the same rule in the L2 metric this index builds under): probe
    * every centroid with `d2 <= (1 + slack) * best_d2`, bounded by
    * [minProbe, maxProbe]. A boundary query — the case fixed-nProbe
    * recall dies on — spills into each competitive cell; a decisive
    * query stays at minProbe. Pair with a shortlist sized ~10x topK:
    * the exact re-rank then erases the ADC quantization error for
    * every returned row (IvfPqSpec pins the serving-grade recall). */
  def probeAdaptive(spark: SparkSession, path: String, cents: DataFrame,
      queries: DataFrame, m: Int, topK: Int, shortlist: Int,
      slack: Double = 0.5, minProbe: Int = 2,
      maxProbe: Int = Int.MaxValue,
      allowed: Option[DataFrame] = None): DataFrame = {
    val wBest = Window.partitionBy(col("query_id"))
    val picked = coarseRanks(cents, queries)
      .withColumn("best", min(col("d2")).over(wBest))
      .filter(col("rk") <= lit(minProbe) ||
        (col("rk") <= lit(maxProbe) &&
          col("d2") <= (lit(1.0) + lit(slack)) * col("best")))
    probeFrom(spark, path, picked, m, topK, shortlist, allowed)
  }

  /** TWO-LEVEL [[probeAdaptive]] — [[VectorIndex.probeAdaptive2]]'s
    * L2 twin for the compressed-domain serving config, where the
    * 10⁵–10⁶-cell regime actually lives: queries score the
    * SUPER-centroids first (tiny broadcast, squared L2), admit the
    * competitive super-cells under `l1Slack` (`d2 <= (1 + l1Slack) *
    * best_d2` — set it ABOVE `slack`, level-1 distances carry both
    * quantization errors), and only the admitted super-cells'
    * centroids score at level 2 (a broadcast join of the admissions
    * against the centroid table keyed by super-cell). The picked
    * buckets then ride the SAME three-stage tail (partition-pruned
    * scan, codes-only ADC, exact re-rank). Build the level-1
    * artifacts once with [[VectorIndex.superCentroids]] (the
    * grouping is a clustering of the centroid set — its quality
    * affects pruning efficiency only; admission and every returned
    * distance stay L2). `l1Slack` large enough to admit every
    * super-cell makes this EXACTLY [[probeAdaptive]] (spec-pinned);
    * two-level quantization's contract is multi-scale structure in
    * the corpus (see the ann2l100 probe). */
  def probeAdaptive2(spark: SparkSession, path: String,
      cents: DataFrame, superCents: DataFrame, centToSuper: DataFrame,
      queries: DataFrame, m: Int, topK: Int, shortlist: Int,
      slack: Double = 0.5, minProbe: Int = 2,
      maxProbe: Int = Int.MaxValue,
      l1Slack: Double = 1.0, l1MinProbe: Int = 2,
      l1MaxProbe: Int = Int.MaxValue,
      allowed: Option[DataFrame] = None): DataFrame = {
    val wq1 = Window.partitionBy(col("query_id"))
      .orderBy(col("d2"), col("super_id"))
    val wBest1 = Window.partitionBy(col("query_id"))
    val admitted = queries.crossJoin(broadcast(superCents))
      .select(col("query_id"), col("q_emb"),
        col("cent_id").as("super_id"),
        PQ.l2sq(col("q_emb"), col("c_emb")).as("d2"))
      .withColumn("rk", row_number().over(wq1))
      .withColumn("best", min(col("d2")).over(wBest1))
      .filter(col("rk") <= lit(l1MinProbe) ||
        (col("rk") <= lit(l1MaxProbe) &&
          col("d2") <= (lit(1.0) + lit(l1Slack)) * col("best")))
      .select(col("query_id"), col("q_emb"), col("super_id"))
    val centsS = cents.join(centToSuper, "cent_id")
    val wq2 = Window.partitionBy(col("query_id"))
      .orderBy(col("d2"), col("cent_id"))
    val wBest2 = Window.partitionBy(col("query_id"))
    val picked = centsS.join(broadcast(admitted), "super_id")
      .select(col("query_id"), col("q_emb"), col("cent_id"),
        PQ.l2sq(col("q_emb"), col("c_emb")).as("d2"))
      .withColumn("rk", row_number().over(wq2))
      .withColumn("best", min(col("d2")).over(wBest2))
      .filter(col("rk") <= lit(minProbe) ||
        (col("rk") <= lit(maxProbe) &&
          col("d2") <= (lit(1.0) + lit(slack)) * col("best")))
    // probeFrom materializes the derived probe-bucket frame once for
    // its two consumers — a second checkpoint here would store the
    // same rows twice
    probeFrom(spark, path, picked, m, topK, shortlist, allowed)
  }

  /** Stage 1 scoring shared by both probes: per-query centroid
    * distances with nearest-first rank (tiny broadcast cross
    * product, squared L2 — the build-side assignment metric). */
  private def coarseRanks(cents: DataFrame,
      queries: DataFrame): DataFrame = {
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("d2"), col("cent_id"))
    queries.crossJoin(broadcast(cents))
      .select(col("query_id"), col("q_emb"), col("cent_id"),
        PQ.l2sq(col("q_emb"), col("c_emb")).as("d2"))
      .withColumn("rk", row_number().over(wq))
  }

  /** Stages 2-3 over an already-picked (query_id, q_emb, cent_id
    * [, ...]) bucket frame. */
  private def probeFrom(spark: SparkSession, path: String,
      picked: DataFrame, m: Int, topK: Int,
      shortlist: Int, allowed: Option[DataFrame]): DataFrame = {
    // ONE execution of the coarse stage ([[VectorIndex.scanTopK]]'s
    // rationale): both consumers — the pruning bucket list and the
    // ADC join, which broadcasts (= collects) the frame anyway —
    // are served from a single collect, re-shipped as a local
    // relation; the queries x centroids cross join + windows run once.
    // LocalRelation (not parallelize) so the downstream broadcast
    // builds from driver memory without a one-task staging job.
    val pbFrame = picked
      .select(col("query_id"), col("q_emb"), col("cent_id").as("bucket"))
    val pbRows = pbFrame.collect()
    val probeBuckets = spark.createDataFrame(
      java.util.Arrays.asList(pbRows: _*), pbFrame.schema)
    // bucket IN (...) is a partition filter: planning-time pruning —
    // the probed-bucket id set is bounded by queries x nProbe
    val buckets = pbRows.map(_.getAs[Int]("bucket")).distinct
    // the queries relation, re-shipped from the SAME collect: every
    // query row survives the coarse stage (rank 1 always passes the
    // probe budget), so the distinct collected pairs ARE the queries
    // frame — the distance-table staging and the re-rank broadcast
    // below build from this LocalRelation instead of re-running the
    // queries subtree as two more sequential broadcast-build jobs
    // (§2.4). The caller contract — unique query ids, each with a
    // non-null q_emb — is checked here, on rows already collected
    // (a duplicated query row surfaces as a repeated (query_id,
    // bucket) pick): the driver-side distance tables keep one row per
    // id, where the distributed form would pair every duplicate.
    val qSchema = org.apache.spark.sql.types.StructType(
      Seq(pbFrame.schema("query_id"), pbFrame.schema("q_emb")))
    val qRows = {
      val seen = scala.collection.mutable.LinkedHashMap
        .empty[Any, org.apache.spark.sql.Row]
      val picks = scala.collection.mutable.HashSet.empty[(Any, Int)]
      pbRows.foreach { r =>
        val id = r.get(0)
        require(!r.isNullAt(1), s"IvfPq.probe: query_id $id has a null q_emb")
        require(picks.add((id, r.getInt(2))) &&
          seen.get(id).forall(_.get(1) == r.get(1)),
          s"IvfPq.probe: query_id $id appears in more than one query " +
            "row — query ids must be unique")
        seen.getOrElseUpdate(id, org.apache.spark.sql.Row(id, r.get(1)))
      }
      seen.values.toSeq
    }
    val queriesLocal = spark.createDataFrame(
      java.util.Arrays.asList(qRows: _*), qSchema)
    // tombstone mask on the pruned scan: deleted keys drop BEFORE the
    // ADC shortlist (like `allowed`), so top-k never under-fills with
    // dead rows; with no tombstones this is the bare scan
    def prunedIndex = dropTombstoned(spark, path,
      spark.read.parquet(path)
        .filter(col("bucket").isin(buckets.toSeq: _*)))
    // stage 2 — ADC shortlist within each query's own probed buckets.
    // Only (bucket, vec_id, codes, gen) are selected, so the parquet
    // scan column-prunes the wide embedding away (ReadSchema) — the
    // scoring pass reads the codes table, not the corpus.
    // Distance tables are computed on the driver from the collected
    // queries and the (m*k)-row codebooks ([[PQ.distanceTableRows]] —
    // float-identical to the distributed staging) so they too
    // broadcast from a LocalRelation.
    val cbDf = spark.read.parquet(codebooksPath(path))
      .select(col("sub"), col("cid"), col("c_sub"))
    def isFloatArr(f: org.apache.spark.sql.types.StructField): Boolean =
      f.dataType match {
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, _) => true
        case _ => false
      }
    val dtRows = PQ.distanceTableRows(qRows, cbDf.collect(), m,
      qFloat = isFloatArr(qSchema("q_emb")),
      cbFloat = isFloatArr(cbDf.schema("c_sub")))
    val dtSchema = org.apache.spark.sql.types.StructType(Seq(
      qSchema("query_id"),
      org.apache.spark.sql.types.StructField("dts",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)))))
    val dt = spark.createDataFrame(
      java.util.Arrays.asList(dtRows: _*), dtSchema)
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc"), col("vec_id"), col("gen"))
    val candidates = prunedIndex
      .select(col("bucket"), col("vec_id"), col("codes"), col("gen"))
    // the filter cuts candidates BEFORE ADC scoring: distance math
    // runs only on eligible rows, and everything downstream
    // (shortlist, re-rank) inherits eligibility by construction
    val eligible = allowed.fold(candidates)(a =>
      candidates.join(broadcast(a.select(col("vec_id"))),
        Seq("vec_id"), "left_semi"))
    val shortlisted = eligible
      .join(broadcast(probeBuckets.select(col("query_id"), col("bucket"))),
        "bucket")
      .join(broadcast(dt), "query_id")
      .select(col("query_id"), col("vec_id"), col("gen"),
        PQ.adcOf(col("codes"), col("dts"), m).as("adc"))
      .withColumn("rk", row_number().over(wAdc))
      .filter(col("rk") <= shortlist)
      .select(col("query_id"), col("vec_id"), col("gen"))
    // stage 3 — exact re-rank: the shortlist id set (queries x
    // shortlist rows) BROADCASTS against the same pruned partitions,
    // so raw embeddings are read only where a shortlisted row lives
    // and the index side never shuffles. The join carries `gen` so a
    // transiently-duplicated key (a crash window between a replayed
    // delete and its re-append) pairs each shortlist row with ITS OWN
    // embedding; the per-(query, key) dedup below then keeps one.
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("dist"), col("vec_id"))
    val wDup = Window.partitionBy(col("query_id"), col("vec_id"))
      .orderBy(col("dist"), col("gen").desc)
    prunedIndex
      .select(col("vec_id"), col("gen"), col("embedding"))
      .join(broadcast(shortlisted), Seq("vec_id", "gen"))
      .join(broadcast(queriesLocal), "query_id")
      .select(col("query_id"), col("vec_id"), col("gen"),
        PQ.l2sq(col("embedding"), col("q_emb")).as("dist"))
      .withColumn("dup", row_number().over(wDup))
      .filter(col("dup") === 1)
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= topK)
      .select(col("query_id"), col("rk"), col("vec_id"), col("dist"))
  }
}
