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
  *     once on the driver ([[PQ.adcTables]]) -> `shortlist`
  *     candidates/query;
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
  * constant is folded into every persisted-artifact recipe
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

object IvfPq {

  private def codebooksPath(path: String) = s"$path.codebooks"

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

  /** The LIVE index at `path`: tombstone-masked rows. What every
    * consumer that treats the index as the source of truth must read
    * (the streaming sink's duplicate-id anti-join — a deleted key
    * must be re-insertable). */
  def live(spark: SparkSession, path: String): DataFrame =
    Ivf.dropTombstoned(spark, path, spark.read.parquet(path))

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
    Ivf.tombstone(path, keys, Some(cut))
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
    Ivf.clearTombstones(corpus.sparkSession, path)
    cb.write.mode("overwrite").parquet(codebooksPath(path))
    // centroids persist with the index: a PROBE-only consumer (the
    // serving path) must not need the build-time k-means rerun
    cents.write.mode("overwrite").parquet(Ivf.centroidsPath(path))
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
    val cents = centroidsOf(spark, path)
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
    val gen = math.max(Ivf.tombstonesOf(spark, path)
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
    * becomes `baseExpect` plus the delta's fingerprint, so a re-run
    * skips (returns false), a later [[ensureBuilt]] against the BASE
    * corpus misses and rebuilds base-only, and an algorithm bump
    * invalidates everything through [[AnnVersion.AlgoVersion]] as usual.
    * A marker matching neither state fails loudly — appending onto an
    * unknown artifact would corrupt it silently. The marker is dropped
    * before the append, so a crash mid-append leaves an index no ensure
    * call reuses. This extends an artifact in place, so it uses the
    * [[graft.Artifacts]] marker primitives rather than `ensure`, which
    * wipes before building. One append generation per build by design:
    * continuous multi-delta ingest uses the raw [[append]] under its own
    * ingest checkpoint. */
  def ensureAppended(spark: SparkSession, path: String,
      delta: DataFrame, baseExpect: String): Boolean = {
    val after = graft.Artifacts.key(delta, s"$baseExpect appended")
    if (graft.Artifacts.hit(spark, path, after)) false
    else {
      require(graft.Artifacts.hit(spark, path, baseExpect),
        s"no completed base build at $path for marker '$baseExpect' — " +
          "run ensureBuilt on the base corpus first")
      graft.Artifacts.clear(spark, path)
      append(spark, path, delta)
      graft.Artifacts.stamp(spark, path, after)
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
    Ivf.clearTombstones(spark, path)
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
    * physically leave) and overwrite the artifact set. The corpus is
    * the index's own checkpointed rows, which have no input files, so
    * the rebuilt index carries no reusable marker: a later
    * [[ensureBuilt]] builds from its own corpus. Returns (rows rebuilt
    * over, cells). */
  def rebuild(spark: SparkSession, path: String, m: Int, k: Int,
      nCentroids: Int, kmIters: Int = 4): (Long, Long) = {
    val corpus = live(spark, path)
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    val rows = corpus.count()
    require(rows > 0, s"IvfPq.rebuild: no live rows at $path")
    graft.Artifacts.ensure(spark, path, corpus,
        recipeOf(m, k, nCentroids, kmIters)) {
      build(corpus, VectorIndex.kmeansPpCentroids(corpus, nCentroids,
        iters = kmIters).localCheckpoint(), m, k, path)
    }
    (rows, nCentroids.toLong)
  }

  /** The persisted centroids of an index at `path` — the probe-side
    * artifact read, for consumers that manage the build themselves. */
  def centroidsOf(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(Ivf.centroidsPath(path))

  /** The build knobs of an [[ensureBuilt]] index, as its recipe. */
  private[graft] def recipeOf(m: Int, k: Int, nCentroids: Int,
      kmIters: Int): String =
    s"algo=${AnnVersion.AlgoVersion} m=$m k=$k " +
      s"cents=$nCentroids iters=$kmIters"

  /** The marker [[ensureBuilt]] writes for `corpus` under these build
    * params — exposed so append-aware callers can name the base-build
    * state ([[ensureAppended]]) without duplicating the format. */
  def expectOf(corpus: DataFrame, m: Int, k: Int, nCentroids: Int,
      kmIters: Int): String =
    graft.Artifacts.key(corpus, recipeOf(m, k, nCentroids, kmIters))

  /** Build-once wrapper for the serving path: (re)builds the full
    * artifact set (index + codebooks + centroids) at `path` unless the
    * [[graft.Artifacts]] marker of a completed build from the same
    * corpus files, plan and params is present, and returns the
    * PERSISTED centroids plus whether a build ran. The index is
    * deterministic per (dataset, params) — spec-pinned bit-identical
    * rebuilds — which is what makes reuse sound. The marker folds in
    * [[AnnVersion.AlgoVersion]], so an algorithm edit invalidates every
    * cached artifact. */
  def ensureBuilt(spark: SparkSession, corpus: DataFrame, m: Int,
      k: Int, nCentroids: Int, kmIters: Int, path: String)
      : (DataFrame, Boolean) = {
    val built = graft.Artifacts.ensure(spark, path, corpus,
        recipeOf(m, k, nCentroids, kmIters)) {
      build(corpus, VectorIndex.kmeansCentroids(corpus, nCentroids,
        iters = kmIters).localCheckpoint(), m, k, path)
    }
    (centroidsOf(spark, path), built)
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
    probeAdaptive(spark, path, cents, queries, m, topK, shortlist,
      minProbe = nProbe, maxProbe = nProbe, allowed = allowed)

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
      allowed: Option[DataFrame] = None): DataFrame =
    adcTopK(spark, path, Ivf.coarse(Ivf.L2, cents, queries,
      Ivf.Budget(slack, minProbe, maxProbe)), m, topK, shortlist, allowed)

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
      allowed: Option[DataFrame] = None): DataFrame =
    adcTopK(spark, path,
      Ivf.twoLevel(Ivf.L2, cents, superCents, centToSuper, queries,
        Ivf.Budget(slack, minProbe, maxProbe),
        Ivf.Budget(l1Slack, l1MinProbe, l1MaxProbe)),
      m, topK, shortlist, allowed)

  /** Stages 2-3 over the coarse picks, through the shared probe head
    * ([[Ivf.head]]).
    *
    * Query-batch bound: the picks are collected and the ADC distance
    * tables are computed on the driver, single-threaded. The tables
    * hold queries x m x k doubles (8 bytes each raw, a few times that
    * boxed in Rows), the picks hold queries x probed buckets x dim
    * floats, and the compute is queries x k x dim float operations. At
    * q110's m = 8, k = 16 a 10,000-query batch is 1.28 M doubles
    * (about 10 MB raw). Keep queries x m x k below about 10^7 per call
    * (about 80 MB raw; at k = 256 that is about 5,000 queries with
    * m = 8) and split larger batches across calls. */
  private def adcTopK(spark: SparkSession, path: String,
      picked: DataFrame, m: Int, topK: Int,
      shortlist: Int, allowed: Option[DataFrame]): DataFrame = {
    val h = Ivf.head(spark, path, picked, "IvfPq.probe")
    // stage 2 — ADC shortlist within each query's own probed buckets.
    // Only (bucket, vec_id, codes, gen) are selected, so the parquet
    // scan column-prunes the wide embedding away (ReadSchema) — the
    // scoring pass reads the codes table, not the corpus. The tombstone
    // mask (in h.index) drops deleted keys BEFORE the shortlist, so
    // top-k never under-fills with dead rows.
    val dt = PQ.adcTables(h.queries, h.rows,
      spark.read.parquet(codebooksPath(path)), m)
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc"), col("vec_id"), col("gen"))
    val candidates = h.index
      .select(col("bucket"), col("vec_id"), col("codes"), col("gen"))
    // the filter cuts candidates BEFORE ADC scoring: distance math
    // runs only on eligible rows, and everything downstream
    // (shortlist, re-rank) inherits eligibility by construction
    val eligible = allowed.fold(candidates)(a =>
      candidates.join(broadcast(a.select(col("vec_id"))),
        Seq("vec_id"), "left_semi"))
    val shortlisted = eligible
      .join(broadcast(h.picks.select(col("query_id"), col("bucket"))),
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
    h.index
      .select(col("vec_id"), col("gen"), col("embedding"))
      .join(broadcast(shortlisted), Seq("vec_id", "gen"))
      .join(broadcast(h.queries), "query_id")
      .select(col("query_id"), col("vec_id"), col("gen"),
        PQ.l2sq(col("embedding"), col("q_emb")).as("dist"))
      .withColumn("dup", row_number().over(wDup))
      .filter(col("dup") === 1)
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= topK)
      .select(col("query_id"), col("rk"), col("vec_id"), col("dist"))
  }
}
