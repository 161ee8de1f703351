package graft.operators

import graft.{GraftQuery, Tables}
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity operators (SURVEY.md §2.8): the reference delegates
  * these to Pinecone (cosine index, `consumer/consumer.py:58-67`) and
  * pgvector (`chatbot_pg/main.py:30-41`); here they are native Spark
  * plans over the `embeddings` table (`vec_id, embedding: array<float>,
  * label`).
  *
  * Scale notes (100 TB):
  *  - KNN is corpus-side-parallel: the query set is tiny and explicitly
  *    `broadcast()`, so the crossJoin is a BroadcastNestedLoopJoin that
  *    streams the corpus once — no corpus shuffle, no corpus sort;
  *  - per-query top-k uses a window keyed by query_id. At 1000 executors
  *    the single shuffle moves only (n_queries × corpus) *scored* rows
  *    already thresholded/projected down to (query_id, vec_id, sim);
  *  - the IVF variant (q24) is the scale path: corpus is bucketed by
  *    nearest coarse centroid ONCE, and each query probes only its
  *    bucket — an equi-join on bucket id replaces the full cross
  *    product, so work drops by the bucket fan-out factor.
  *
  * Oracle determinism: Spark folds dot products left-to-right in Double
  * ([[graft.functions.VectorFunctions.dotProduct]]); the DuckDB mirror
  * uses `list_inner_product(CAST(.. AS DOUBLE[]), ..)` which folds the
  * same way. Both sides then `round(.., 6)` so a last-ULP disagreement
  * cannot flip the hash.
  */
object VectorQueries {

  private val K = 8
  private val NQ = 5 // number of probe queries (vec_id < NQ)

  /** cosine(a,b) mirrored in DuckDB SQL over DOUBLE[] casts. */
  private def cosSql(a: String, b: String): String =
    s"""list_inner_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[])) /
       |    (sqrt(list_inner_product(CAST($a AS DOUBLE[]), CAST($a AS DOUBLE[])))
       |     * sqrt(list_inner_product(CAST($b AS DOUBLE[]), CAST($b AS DOUBLE[]))))""".stripMargin

  /** Probe set: the first NQ vectors, relabeled (query_id, q_emb), with
    * the query norm staged once per probe. */
  private def probes(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .filter(col("vec_id") < NQ)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        l2Norm(col("embedding")).as("q_nrm"))

  /** Cosine from a staged-norm pair: same IEEE-754 ops as cosine() (the
    * norms are just computed once per ROW instead of once per PAIR — at
    * corpus scale that's O(d) per corpus row instead of O(d) per
    * (query × corpus) pair). */
  private def stagedCosine(a: Column, b: Column, na: Column,
      nb: Column): Column =
    when(na === 0.0 || nb === 0.0, lit(null).cast("double"))
      .otherwise(dotProduct(a, b) / (na * nb))

  /** Brute-force scored corpus: one row per (query, corpus vector).
    * Corpus-side norms are staged in one projection before the join. */
  private def scored(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .withColumn("nrm", l2Norm(col("embedding")))
      .crossJoin(broadcast(probes(s, d)))
      .select(col("query_id"), col("vec_id"),
        stagedCosine(col("q_emb"), col("embedding"), col("q_nrm"),
          col("nrm")).as("sim"))

  /** The flagship plan (SURVEY.md §3.2): top-k cosine retrieval joined
    * back to document metadata — the Spark-native equivalent of Pinecone
    * similarity_search + the pg point-lookup join
    * (`chatbot_pg/main.py:77-96`). */
  def flagship(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    val topk = scored(s, d)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= K)
    // broadcast the TOP-K frame, never the metadata table: the top-k
    // side is bounded by construction (NQ x K rows, whatever the
    // corpus), while document metadata grows WITH the corpus — at
    // 100 TB the metadata side is a fact table and broadcasting it
    // would ship the corpus to every executor. PlanSpec pins the
    // build side.
    broadcast(topk)
      .join(Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source")),
        col("vec_id") === col("doc_id"))
      .select(col("query_id"), col("rk"), col("vec_id"), col("lang"),
        col("source"), round(col("sim"), 6).as("sim"))
      .orderBy("query_id", "rk")
  }

  val all: Seq[GraftQuery] = Seq(

    // ---- V2/V3/T1: brute-force KNN, per-query top-k window ----
    GraftQuery("q20_cosine_knn",
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
         |            FROM embeddings WHERE vec_id < $NQ),
         |s AS (SELECT q.query_id, e.vec_id,
         |        ${cosSql("q.q_emb", "e.embedding")} AS sim
         |      FROM embeddings e CROSS JOIN q),
         |r AS (SELECT query_id, vec_id, sim,
         |        ROW_NUMBER() OVER (PARTITION BY query_id
         |          ORDER BY sim DESC, vec_id) AS rk
         |      FROM s)
         |SELECT query_id, CAST(rk AS INTEGER) AS rk, vec_id, round(sim, 6) AS sim
         |FROM r WHERE rk <= $K
         |ORDER BY query_id, rk""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("vec_id"))
      scored(s, d)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= K)
        .select(col("query_id"), col("rk"), col("vec_id"),
          round(col("sim"), 6).as("sim"))
        .orderBy("query_id", "rk")
    },

    // ---- V4/F3: score-thresholded search (k=8, threshold pattern of
    //      chatbot/main.py:66-70, score filter main.py:116) ----
    GraftQuery("q21_threshold_search",
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
         |            FROM embeddings WHERE vec_id < $NQ),
         |s AS (SELECT q.query_id, e.vec_id,
         |        ${cosSql("q.q_emb", "e.embedding")} AS sim
         |      FROM embeddings e CROSS JOIN q)
         |SELECT query_id, vec_id, round(sim, 6) AS sim
         |FROM s WHERE sim >= 0.2 AND query_id <> vec_id
         |ORDER BY query_id, vec_id""".stripMargin) { (s, d) =>
      scored(s, d)
        .filter(col("sim") >= 0.2 && col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id"),
          round(col("sim"), 6).as("sim"))
        .orderBy("query_id", "vec_id")
    },

    // ---- V1: deterministic featurization (embedding stand-in) ----
    // Checks the hashing-TF featurizer end-to-end on real text: norm of
    // the vector and its top bucket are scalar-checkable in DuckDB.
    GraftQuery("q22_featurize_buckets",
      """WITH t AS (
        |  SELECT doc_id,
        |    list_transform(
        |      list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''),
        |      t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 16) AS buckets
        |  FROM documents WHERE doc_id < 100)
        |SELECT doc_id,
        |  CAST(len(buckets) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(buckets, b -> b = 0)) AS BIGINT) AS bucket0,
        |  CAST(len(list_filter(buckets, b -> b = 7)) AS BIGINT) AS bucket7
        |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.spread(Tables.documents(s, d)
        .filter(col("doc_id") < 100))
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokens(col("text")).as("toks"))
        .withColumn("buckets", transform(col("toks"), t =>
          conv(substring(md5(t), 1, 8), 16, 10).cast("long") % 16))
        .select(col("doc_id"),
          size(col("buckets")).cast("long").as("n_tokens"),
          size(filter(col("buckets"), b => b === 0L)).cast("long")
            .as("bucket0"),
          size(filter(col("buckets"), b => b === 7L)).cast("long")
            .as("bucket7"))
        .orderBy("doc_id")
    },

    // ---- centroid-style agg: per-label vector statistics ----
    GraftQuery("q23_label_vector_stats",
      """SELECT label,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(round(sqrt(list_inner_product(
        |    CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))), 9)
        |    AS DECIMAL(30,9))) AS DOUBLE) AS sum_norm
        |FROM embeddings
        |GROUP BY label
        |ORDER BY label""".stripMargin) { (s, d) =>
      Tables.embeddings(s, d)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          sum(round(l2Norm(col("embedding")), 9).cast("decimal(30,9)"))
            .cast("double").as("sum_norm"))
        .orderBy("label")
    },

    // ---- the chatbot's two-stage fallback retrieval (§3.2): primary =
    //      thresholded top-k (self-hits excluded); queries with NO
    //      primary hit re-search unthresholded at k=3. One scored pass
    //      feeds both stages; the fallback applies only to the anti-set. ----
    GraftQuery("q26_fallback_search",
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
         |            FROM embeddings WHERE vec_id < $NQ),
         |s AS (SELECT q.query_id, e.vec_id,
         |        ${cosSql("q.q_emb", "e.embedding")} AS sim
         |      FROM embeddings e CROSS JOIN q
         |      WHERE q.query_id <> e.vec_id),
         |prim AS (SELECT query_id, vec_id, sim,
         |           ROW_NUMBER() OVER (PARTITION BY query_id
         |             ORDER BY sim DESC, vec_id) AS rk
         |         FROM s WHERE sim >= 0.38),
         |primk AS (SELECT * FROM prim WHERE rk <= $K),
         |nohit AS (SELECT DISTINCT query_id FROM q
         |          EXCEPT SELECT DISTINCT query_id FROM primk),
         |fb AS (SELECT s.query_id, s.vec_id, s.sim,
         |         ROW_NUMBER() OVER (PARTITION BY s.query_id
         |           ORDER BY s.sim DESC, s.vec_id) AS rk
         |       FROM s JOIN nohit ON s.query_id = nohit.query_id)
         |SELECT query_id, CAST(rk AS INTEGER) AS rk, vec_id,
         |  round(sim, 6) AS sim, stage
         |FROM (SELECT query_id, rk, vec_id, sim, 'primary' AS stage
         |        FROM primk
         |      UNION ALL
         |      SELECT query_id, rk, vec_id, sim, 'fallback' AS stage
         |        FROM fb WHERE rk <= 3) u
         |ORDER BY query_id, rk""".stripMargin) { (s, d) =>
      val base = scored(s, d)
        .filter(col("query_id") =!= col("vec_id"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("vec_id"))
      val primary = base.filter(col("sim") >= 0.38)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= K)
      val noHit = Tables.embeddings(s, d).filter(col("vec_id") < NQ)
        .select(col("vec_id").as("query_id"))
        .join(primary.select("query_id").distinct(),
          Seq("query_id"), "left_anti")
      val fallback = base.join(broadcast(noHit), "query_id")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
      primary.withColumn("stage", lit("primary"))
        .unionByName(fallback.withColumn("stage", lit("fallback")))
        .select(col("query_id"), col("rk"), col("vec_id"),
          round(col("sim"), 6).as("sim"), col("stage"))
        .orderBy("query_id", "rk")
    },

    // ---- custom typed Aggregator: per-label centroid (map-side
    //      combined; only (sum, count) buffers shuffle) ----
    GraftQuery("q25_label_centroid",
      """WITH u AS (SELECT label,
        |    unnest(embedding) AS e,
        |    unnest(range(1, len(embedding) + 1)) AS i
        |  FROM embeddings),
        |c AS (SELECT label, i, SUM(CAST(e AS DOUBLE)) / COUNT(*) AS m
        |      FROM u GROUP BY label, i),
        |n AS (SELECT label, round(sqrt(SUM(m * m)), 6) AS centroid_norm
        |      FROM c GROUP BY label),
        |k AS (SELECT label, COUNT(*) AS n_vecs FROM embeddings GROUP BY label)
        |SELECT k.label, k.n_vecs, n.centroid_norm
        |FROM k JOIN n ON k.label = n.label
        |ORDER BY k.label""".stripMargin) { (s, d) =>
      Tables.embeddings(s, d)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          graft.functions.VectorAggregators.centroid(col("embedding"))
            .as("cent"))
        .select(col("label"), col("n_vecs"),
          round(l2Norm(col("cent")), 6).as("centroid_norm"))
        .orderBy("label")
    },

    // ---- IVF-style bucketed ANN: the 100 TB scale path ----
    // Corpus is assigned to its nearest of NQ coarse "centroids" (the
    // probe vectors double as centroids here); each query then scans ONLY
    // its bucket — an equi-join replaces the cross product. Recall is
    // partial by construction (this is ANN); the oracle mirrors the same
    // bucketing so results still hash-match exactly.
    GraftQuery("q24_ivf_bucketed_ann",
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
         |            FROM embeddings WHERE vec_id < $NQ),
         |scoredc AS (
         |  SELECT e.vec_id, e.embedding, q.query_id AS cent_id,
         |    ${cosSql("q.q_emb", "e.embedding")} AS csim
         |  FROM embeddings e CROSS JOIN q),
         |assign AS (
         |  SELECT vec_id, embedding, cent_id AS bucket FROM (
         |    SELECT vec_id, embedding, cent_id,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id
         |        ORDER BY csim DESC, cent_id) AS ark
         |    FROM scoredc) z WHERE ark = 1),
         |s AS (SELECT a.bucket AS query_id, a.vec_id,
         |        ${cosSql("q.q_emb", "a.embedding")} AS sim
         |      FROM assign a JOIN q ON a.bucket = q.query_id),
         |r AS (SELECT query_id, vec_id, sim,
         |        ROW_NUMBER() OVER (PARTITION BY query_id
         |          ORDER BY sim DESC, vec_id) AS rk FROM s)
         |SELECT query_id, CAST(rk AS INTEGER) AS rk, vec_id, round(sim, 6) AS sim
         |FROM r WHERE rk <= $K
         |ORDER BY query_id, rk""".stripMargin) { (s, d) =>
      val cents = probes(s, d)
        .select(col("query_id").as("cent_id"), col("q_emb").as("c_emb"),
          col("q_nrm").as("c_nrm"))
      // assign: nearest centroid per corpus vector (broadcast) via an
      // AGGREGATED argmax — max(struct(csim, -cent_id, payload...)) is
      // lexicographically the `orderBy(csim desc, cent_id) rk=1`
      // window row it replaced (null csim smallest = desc-nulls-last,
      // NaN largest = desc-first, ties to the lowest cent_id; the
      // payload fields are never compared since (csim, cent_id) pairs
      // are unique). The partial aggregate collapses the NQ candidate
      // rows per vector map-side, so the exchange carries one row per
      // vector instead of NQ copies of its embedding (§2.3).
      val assigned = Tables.embeddings(s, d)
        .withColumn("nrm", l2Norm(col("embedding")))
        .crossJoin(broadcast(cents))
        .select(col("vec_id"), col("embedding"), col("nrm"), col("cent_id"),
          stagedCosine(col("c_emb"), col("embedding"), col("c_nrm"),
            col("nrm")).as("csim"))
        .groupBy(col("vec_id"))
        .agg(max(struct(col("csim"), (-col("cent_id")).as("nc"),
          col("cent_id").as("cent_id"), col("embedding").as("embedding"),
          col("nrm").as("nrm"))).as("best"))
        .select(col("vec_id"), col("best.embedding").as("embedding"),
          col("best.nrm").as("nrm"), col("best.cent_id").as("bucket"))
      // probe: each query joins only its own bucket
      val wTop = Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("vec_id"))
      assigned
        .join(broadcast(probes(s, d)), col("bucket") === col("query_id"))
        .select(col("query_id"), col("vec_id"),
          stagedCosine(col("q_emb"), col("embedding"), col("q_nrm"),
            col("nrm")).as("sim"))
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= K)
        .select(col("query_id"), col("rk"), col("vec_id"),
          round(col("sim"), 6).as("sim"))
        .orderBy("query_id", "rk")
    },

    // ---- random-hyperplane LSH ANN (the second bucketed scale path,
    //      complementing IVF): sign-of-dot against NP fixed hyperplanes
    //      -> 2^NP buckets; within-bucket pairs only, cosine-verified.
    //      The signs are computed in INTEGER arithmetic (embeddings
    //      quantized to 1e-6, integer-mixed hyperplane weights), so the
    //      bucket assignment is order-independent and bit-identical in
    //      both engines — a float dot's last-ULP could flip a sign and
    //      desync the bucketing. ----
    GraftQuery("q27_lsh_ann_pairs", lshAnnSql) { (s, d) =>
      val e = Tables.spread(Tables.embeddings(s, d))
        .select(col("vec_id"), col("embedding"),
          transform(col("embedding"), x =>
            round(x.cast("double") * 1000000.0).cast("long")).as("qv"))
      val bucket = (0 until LSH_PLANES).map { j =>
        val (a, b) = graft.functions.TextFunctions.minhashParams(j)
        val sdot = aggregate(
          transform(col("qv"), (x, k) =>
            x * ((lit(a) * (k + 1) + lit(b)) % lit(LSH_P) - lit(LSH_HALF))),
          lit(0L), (acc, x) => acc + x)
        when(sdot > 0, lit(1 << j)).otherwise(lit(0))
      }.reduce((a, b) => a + b)
      val s2 = e.select(col("vec_id"), col("embedding"),
        bucket.as("bucket"),
        l2Norm(col("embedding")).as("nrm"))
      s2.as("a")
        .join(s2.as("b"),
          col("a.bucket") === col("b.bucket") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          stagedCosine(col("a.embedding"), col("b.embedding"),
            col("a.nrm"), col("b.nrm")).as("sim"))
        .filter(col("sim") >= 0.3)
        .select(col("vec_a"), col("vec_b"), round(col("sim"), 6).as("sim"))
        .orderBy("vec_a", "vec_b")
    },

    // ---- int8 scalar quantization round-trip: per-vector (min, max)
    //      affine quantization to 0..255, dequantize, report the
    //      reconstruction error — the storage-compression op a 100 TB
    //      embedding table runs before serving. Scalar outputs only
    //      (checksum + error), so the driver's hash compare applies. ----
    GraftQuery("q70_int8_quantization", int8Sql) { (s, d) =>
      val e = withInt8Quantization(
        Tables.spread(Tables.embeddings(s, d))
          .select(col("vec_id"),
            transform(col("embedding"), _.cast("double")).as("ev")))
        .withColumn("err", zip_with(col("ev"), col("qv"), (x, q) =>
          abs(x - (col("mn") + q.cast("double") * col("scale")))))
      e.select(col("vec_id"),
        round(col("mn"), 6).as("mn"),
        round(col("mx"), 6).as("mx"),
        aggregate(col("qv"), lit(0L), (acc, x) => acc + x).as("q_checksum"),
        round(array_max(col("err")), 6).as("max_err"))
        .orderBy("vec_id")
    },

    // ---- product quantization ANN: train per-subspace codebooks
    //      (Lloyd's, deterministic), encode the corpus to m-byte codes
    //      (~32x smaller than raw vectors), ADC-score a shortlist with
    //      per-query distance tables, exact re-rank of only the
    //      shortlist. Codebooks are k-means artifacts — not ANSI-SQL-
    //      expressible — so the HASH-MATCHED statement is the RECALL:
    //      the query emits |ANN top-10 ∩ exact top-10| per query
    //      (exact side brute-forced in-plan), and the DuckDB oracle
    //      independently recomputes the exact top-10 and overlaps it
    //      with the PINNED retrieved ids of the deterministic index at
    //      sf0.01 (regenerate: `graft.Dev pins`). A
    //      recall regression in the PQ path changes the counts and
    //      reddens the row; PQSpec keeps the quantitative floors
    //      (ADC 0.34 / re-ranked 0.88 at this config) and the
    //      self-contained in-query training demo. Codebooks come from
    //      the versioned train-once cache ([[ensureQ100Codebooks]]) —
    //      the amortized offline artifact a serving deployment uses;
    //      deterministic training makes cached ≡ in-query. ----
    GraftQuery("q100_pq_ann", annRecallSql(PINS_Q100)) { (s, d) =>
      import graft.vector.PQ
      val corpus = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      val m = 8
      val (cb, _) = ensureQ100Codebooks(s, d)
      val codes = PQ.encode(corpus, cb, m)
      val queries = corpus.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      recallVsExact(
        PQ.searchRerank(codes, cb, queries, corpus, m,
          shortlist = 100, topK = 10),
        corpus, queries, 10)
    },

    // ---- composed IVF-PQ index, end-to-end through the PERSISTED
    //      path: k-means coarse centroids -> build (bucket-partitioned
    //      parquet index + codebooks on disk) -> probe (planning-time
    //      partition pruning x codes-only ADC x exact re-rank). This is
    //      the configuration a 100 TB deployment actually serves, so it
    //      must be visible to the driver's per-round correctness
    //      artifact, not only to IvfPqSpec. Hash-matched like q100: the
    //      emitted rows are per-query overlap-with-exact-top-10 counts,
    //      the oracle recomputes the exact side and overlaps the pinned
    //      sf0.01 index output (`graft.Dev pins`). IvfPqSpec keeps the
    //      recall floors, the codes-only ReadSchema, brute-force
    //      convergence at wide knobs, and bit-identical rebuilds.
    //      Deterministic: stride seeds + decimal-exact means, and the
    //      build overwrites, so re-runs are idempotent. ----
    GraftQuery("q110_ivf_pq_ann", annRecallSql(PINS_Q110)) { (s, d) =>
      import graft.vector.IvfPq
      val corpus = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      // build-once: the first run per (dataset, params) builds and
      // persists index + codebooks + centroids; every later run — the
      // bench's timed passes, after its explicit pre-build — is the
      // pure SERVING path (probe over the persisted artifacts)
      val (cents, _) = ensureQ110Index(s, d)
      val queries = corpus.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      recallVsExact(
        IvfPq.probe(s, q110IndexPath(d), cents, queries,
          m = Q110_M, topK = 10, nProbe = 6, shortlist = 100),
        corpus, queries, 10)
    },

    // ---- incremental index maintenance: the persisted IVF-PQ index
    //      built on 80% of the corpus, the remaining 20% APPENDED with
    //      both quantizers frozen ([[graft.vector.IvfPq.append]]) —
    //      the continuous-ingest shape (the reference upserts every
    //      consumed embedding into its ANN service rather than
    //      rebuilding it). The probe then serves the FULL corpus:
    //      every query id is itself in the appended delta, so a
    //      mis-appended index would immediately lose the rank-1
    //      self-hits. Hash-matched like q110 — per-query
    //      overlap-with-exact-top-10 over the whole corpus, pins from
    //      the deterministic build+append (`graft.Dev pins`).
    //      IvfPqSpec pins the equivalence probe(appended) ≡
    //      probe(rebuild under the same frozen quantizers) and the
    //      ensure-marker idempotence. ----
    // ---- SERVING-GRADE ANN: the configuration that closes the gap
    //      to the reference's managed high-recall index (its chatbot
    //      retrieves k=8 with a 0.7 threshold and assumes the index
    //      actually finds the neighbors,
    //      /root/reference/chatbot/main.py:66-70). Three upgrades over
    //      the q24/q110 floors, each attacking a different recall-loss
    //      term: k-means++ (D²-weighted) coarse seeding over a bounded
    //      deterministic sample (cell-boundary loss — stride seeds
    //      land wherever the id hash does), adaptive multi-probe with
    //      the per-query budget derived from centroid margins
    //      (fixed-nProbe loss on boundary queries), and 4 Lloyd
    //      iterations. Pinned at recall@10 >= 0.9 (VectorIndexSpec,
    //      measured ~0.93 at avg 5.8/8 buckets probed vs 0.45-0.65 at
    //      fixed nProbe=2). Hash-matched like q110: per-query
    //      overlap-with-exact-top-10 counts, pins from the
    //      deterministic build (`graft.Dev pins`). ----
    GraftQuery("q170_ann_serving", annRecallSql(PINS_Q170)) { (s, d) =>
      val corpus = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      val (cents, _) = ensureQ170Index(s, d)
      val queries = corpus.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      recallVsExact(
        graft.vector.VectorIndex.probeAdaptive(s, q170IndexPath(d),
          cents, queries, k = 10, slack = Q170_SLACK,
          minProbe = Q170_MIN_PROBE),
        corpus, queries, 10)
    },

    // ---- SERVING-GRADE IVF-PQ (q171): the same adaptive multi-probe
    //      coarse stage as q170, composed with the compressed-domain
    //      pipeline — per-query probe budget from centroid L2 margins
    //      (d2 <= (1+slack)*best_d2), ADC shortlist 15x topK, exact
    //      re-rank. Runs against q110's PERSISTED index (same
    //      artifacts, different probe policy), so the row isolates
    //      what the adaptive stage buys at fixed index cost. Pinned
    //      recall floor in IvfPqSpec (0.915 at m=8). ----
    GraftQuery("q171_ivf_pq_adaptive", annRecallSql(PINS_Q171)) { (s, d) =>
      import graft.vector.IvfPq
      val corpus = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      val (cents, _) = ensureQ110Index(s, d)
      val queries = corpus.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      recallVsExact(
        IvfPq.probeAdaptive(s, q110IndexPath(d), cents, queries,
          m = Q110_M, topK = 10, shortlist = 150,
          slack = Q170_SLACK, minProbe = Q170_MIN_PROBE),
        corpus, queries, 10)
    },

    // ---- DELETE PROPAGATION (q173): the consistency loop between a
    //      corpus and its persisted serving index. The corpus has
    //      first-class GDPR/retention deletes (deleteKeys,
    //      dropPartitions, the CDC feed); this row pins that a delete
    //      REACHES the index — one keyed tombstone write, zero index
    //      files touched ([[graft.vector.IvfPq.delete]]), deleted
    //      keys gone from the very next probe, physical removal at
    //      compact. The reference gets this by construction from its
    //      delegated store's single upsert/delete surface
    //      (/root/reference/consumer/consumer.py:111-125). The
    //      builder REQUIRES zero deleted ids in the retrieval (loud,
    //      not just oracle-red), and the recall statement runs
    //      against the SURVIVOR corpus — the floor must hold on what
    //      is still live. Streaming form: `Streams
    //      .annIndexChangesFollower` (IvfPqSpec pins convergence,
    //      replay, restart). ----
    GraftQuery("q173_ann_delete",
      annRecallSql(PINS_Q173, "WHERE vec_id % 10 <> 3")) { (s, d) =>
      import graft.vector.IvfPq
      val corpus = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      val (cents, _) = ensureQ173Index(s, d)
      val queries = corpus.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      val ann = IvfPq.probeAdaptive(s, q173IndexPath(d), cents, queries,
        m = Q110_M, topK = 10, shortlist = 150,
        slack = Q170_SLACK, minProbe = Q170_MIN_PROBE)
        .localCheckpoint()
      // build-time pin: a deleted key surfacing is a consistency
      // bug, not a recall regression — fail the build, loudly
      val leaked = ann.filter(col("vec_id") % 10 === 3).count()
      require(leaked == 0L,
        s"q173: $leaked deleted vec_ids surfaced from the probed " +
          "index — delete propagation is broken")
      recallVsExact(ann,
        corpus.filter(col("vec_id") % 10 =!= 3), queries, 10)
    },

    // ---- TWO-LEVEL coarse quantization (q175): the serving shape
    //      for 10⁵–10⁶-cell indexes, where the queries×centroids
    //      broadcast product stops being tiny — queries admit
    //      super-cells first (margin rule over ~sqrt(C) rows), then
    //      score only the admitted super-cells' centroids through a
    //      broadcast join. Runs PRUNED (l1 margin at slack 1.0)
    //      against q170's persisted index with a 3-super level-1
    //      quantizer built from its persisted centroids, so the row
    //      pins the two-level retrieval itself, not the full-admit
    //      degenerate case. Scale evidence: ann2l100 (10k cells,
    //      recall 1.000 at 2.2% of centroids scored per query). ----
    GraftQuery("q175_ann_two_level", annRecallSql(PINS_Q175)) { (s, d) =>
      val corpus = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      val (cents, _) = ensureQ170Index(s, d)
      // level-1 quantizer from the build-once persisted artifacts —
      // the probe path no longer re-clusters the centroid set per run
      val (sc, centToSuper, _) = ensureQ175Super(s, d)
      val queries = corpus.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      recallVsExact(
        graft.vector.VectorIndex.probeAdaptive2(s, q170IndexPath(d),
          cents, sc, centToSuper, queries, k = 10,
          slack = Q170_SLACK, minProbe = Q170_MIN_PROBE,
          l1Slack = 1.0, l1MinProbe = 1),
        corpus, queries, 10)
    },

    GraftQuery("q117_ivf_append_ann", annRecallSql(PINS_Q117)) { (s, d) =>
      import graft.vector.IvfPq
      val corpus = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      val (cents, _) = ensureQ117Index(s, d)
      val queries = corpus.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      recallVsExact(
        IvfPq.probe(s, q117IndexPath(d), cents, queries,
          m = Q110_M, topK = 10, nProbe = 6, shortlist = 100),
        corpus, queries, 10)
    },

    // ---- metadata-FILTERED vector search: top-k cosine among only
    //      the corpus vectors whose joined document metadata passes a
    //      predicate (lang = 'en') — the production retrieval shape
    //      every vector store grew a `filter=` parameter for
    //      (Pinecone metadata filters; the reference's chatbots would
    //      need it the day they scope retrieval to a product). The
    //      plan applies the filter BEFORE any distance math: a
    //      broadcast semi-join prunes the corpus scan, so the
    //      O(N·d) dot-product work runs only on survivors — at 100 TB
    //      the selectivity of the filter is a multiplier on the whole
    //      scan, which is why pre-filtering beats post-filtering
    //      top-k (post-filter also under-fills k when the filter is
    //      selective; pre-filter never does). ----
    GraftQuery("q144_filtered_knn",
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
         |            FROM embeddings WHERE vec_id < $NQ),
         |c AS (SELECT e.vec_id, e.embedding
         |      FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
         |      WHERE d.lang = 'en'),
         |s AS (SELECT q.query_id, c.vec_id,
         |        ${cosSql("q.q_emb", "c.embedding")} AS sim
         |      FROM c CROSS JOIN q),
         |r AS (SELECT query_id, vec_id, sim,
         |        ROW_NUMBER() OVER (PARTITION BY query_id
         |          ORDER BY sim DESC, vec_id) AS rk
         |      FROM s)
         |SELECT query_id, CAST(rk AS INTEGER) AS rk, vec_id,
         |  round(sim, 6) AS sim
         |FROM r WHERE rk <= $K
         |ORDER BY query_id, rk""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("vec_id"))
      val keep = Tables.documents(s, d)
        .filter(col("lang") === "en").select(col("doc_id"))
      Tables.embeddings(s, d)
        .join(broadcast(keep), col("vec_id") === col("doc_id"),
          "left_semi")
        .withColumn("nrm", l2Norm(col("embedding")))
        .crossJoin(broadcast(probes(s, d)))
        .select(col("query_id"), col("vec_id"),
          stagedCosine(col("q_emb"), col("embedding"), col("q_nrm"),
            col("nrm")).as("sim"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= K)
        .select(col("query_id"), col("rk"), col("vec_id"),
          round(col("sim"), 6).as("sim"))
        .orderBy("query_id", "rk")
    },
  )

  // q110 persisted-index knobs + dataset-keyed path, shared with the
  // bench's pre-build (which times the build separately so the timed
  // query measures serving cost only)
  private val Q110_M = 8
  private val Q110_K = 16
  private val Q110_CENTS = 8
  private val Q110_ITERS = 2

  /** Collision-resistant /tmp key for a dataset dir: 16 hex chars of
    * SHA-256. (32-bit String.hashCode invited a silent cross-dataset
    * collision: identical knobs + colliding paths would pass the
    * params-marker check and serve the wrong dataset's artifacts.) */
  private def datasetKey(d: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(d.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  def q110IndexPath(d: String): String =
    s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft-q110-${datasetKey(d)}/index"

  def q100CodebooksPath(d: String): String =
    s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft-q100-${datasetKey(d)}/codebooks"

  /** Build the q110 IVF-PQ artifacts for dataset `d` unless already
    * present; returns (persisted centroids, whether a build ran). */
  def ensureQ110Index(s: SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, Boolean) =
    graft.vector.IvfPq.ensureBuilt(s,
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
      Q110_M, Q110_K, Q110_CENTS, Q110_ITERS, q110IndexPath(d))

  def q117IndexPath(d: String): String =
    s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft-q117-${datasetKey(d)}/index"

  // q170 serving-grade knobs: k-means++ seeding, 4 Lloyd iterations,
  // adaptive multi-probe at slack 0.5 over a minProbe-2 floor — the
  // measured recall@10 >= 0.9 operating point (VectorIndexSpec)
  private val Q170_CENTS = 8
  private val Q170_ITERS = 4
  private[graft] val Q170_SLACK = 0.5
  private[graft] val Q170_MIN_PROBE = 2

  def q170IndexPath(d: String): String =
    s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft-q170-${datasetKey(d)}/index"

  /** Build-once serving-grade cosine IVF artifacts (k-means++
    * centroids + bucket-partitioned index) for dataset `d`; returns
    * (persisted centroids, whether a build ran). Same marker protocol
    * as [[ensureQ110Index]] ([[graft.vector.ArtifactCache]]). */
  def ensureQ170Index(s: SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, Boolean) = {
    import graft.vector.{AnnVersion, ArtifactCache, VectorIndex}
    val corpus = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
    val path = q170IndexPath(d)
    val expect = s"algo=${AnnVersion.AlgoVersion} serving " +
      s"cents=$Q170_CENTS iters=$Q170_ITERS rows=${Tables.memoCount(corpus)}"
    val hit = ArtifactCache.hit(path, expect)
    if (!hit) {
      val cents = VectorIndex.kmeansPpCentroids(corpus, Q170_CENTS,
        iters = Q170_ITERS).localCheckpoint()
      VectorIndex.build(corpus, cents, path)
      cents.write.mode("overwrite").parquet(s"$path.centroids")
      ArtifactCache.stamp(path, expect)
    }
    (s.read.parquet(s"$path.centroids"), !hit)
  }

  /** q175's level-1 quantizer knob: 3 super-cells over the 8 q170
    * centroids (~sqrt(C) — the [[graft.vector.VectorIndex
    * .superCentroids]] sizing rule at this toy cell count). */
  private val Q175_SUPERS = 3

  /** Build-once q175 LEVEL-1 artifacts (super-centroids + the
    * centroid -> super-cell mapping), persisted BESIDE the q170 index
    * they quantize: the level-1 quantizer is a build-side artifact
    * exactly like the index's own centroids ("built once beside the
    * index" — [[graft.vector.VectorIndex.superCentroids]]), so
    * re-clustering it on every probe run was paying the k-means
    * build (two Lloyd rounds of jobs) inside the serving path.
    * Deterministic build + exact float/double parquet round-trip make
    * cached ≡ in-query, the same argument as every other ensure*.
    * Returns (superCents, centToSuper, whether a build ran). */
  def ensureQ175Super(s: SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        Boolean) = {
    import graft.vector.{AnnVersion, ArtifactCache, VectorIndex}
    val (cents, _) = ensureQ170Index(s, d)
    val path = q170IndexPath(d)
    val superPath = s"$path.super$Q175_SUPERS"
    val corpus = Tables.embeddings(s, d).select(col("vec_id"))
    val expect = s"algo=${AnnVersion.AlgoVersion} serving " +
      s"cents=$Q170_CENTS iters=$Q170_ITERS rows=${Tables.memoCount(corpus)} " +
      s"supers=$Q175_SUPERS"
    val hit = ArtifactCache.hit(superPath, expect)
    if (!hit) {
      val (sc, mapping) = VectorIndex.superCentroids(cents, Q175_SUPERS)
      sc.write.mode("overwrite").parquet(superPath)
      mapping.write.mode("overwrite").parquet(s"$superPath.map")
      ArtifactCache.stamp(superPath, expect)
    }
    (s.read.parquet(superPath), s.read.parquet(s"$superPath.map"), !hit)
  }

  /** q117's base/delta split of the embeddings corpus: the 80% the
    * index is BUILT on vs the 20% APPENDED afterwards. Every query id
    * (vec_id % 100 == 0) lands in the delta, so the probe exercises
    * appended rows by construction. */
  private def q117Split(s: SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val corpus = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
    (corpus.filter(col("vec_id") % 5 =!= 0),
      corpus.filter(col("vec_id") % 5 === 0))
  }

  /** Build-once q117 artifacts: IVF-PQ index over the base 80%
    * (q110's knobs), then the 20% delta appended exactly once under
    * [[graft.vector.IvfPq.ensureAppended]]'s marker protocol; returns
    * (persisted centroids, whether any build/append work ran). */
  def ensureQ117Index(s: SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, Boolean) = {
    import graft.vector.IvfPq
    val (base, delta) = q117Split(s, d)
    val path = q117IndexPath(d)
    val baseExpect = IvfPq.expectOf(Q110_M, Q110_K, Q110_CENTS,
      Q110_ITERS, Tables.memoCount(base))
    // build-once on base unless the append already completed (the
    // post-append marker no longer matches the base expect by design)
    val built =
      if (graft.vector.ArtifactCache.hit(path,
          s"$baseExpect appended=${Tables.memoCount(delta)}")) false
      else IvfPq.ensureBuilt(s, base, Q110_M, Q110_K, Q110_CENTS,
        Q110_ITERS, path)._2
    val appended = IvfPq.ensureAppended(s, path, delta, baseExpect)
    (IvfPq.centroidsOf(s, path), built || appended)
  }

  def q173IndexPath(d: String): String =
    s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft-q173-${datasetKey(d)}/index"

  /** Build-once q173 artifacts: the full-corpus IVF-PQ index (q110's
    * knobs) at a DEDICATED path, with every `vec_id % 10 == 3` key
    * then DELETED through the index-side tombstone
    * ([[graft.vector.IvfPq.delete]]) — exactly once, under the same
    * marker protocol as [[graft.vector.IvfPq.ensureAppended]] (the
    * post-delete marker no longer matches the base expect, so a
    * re-run skips and a crash between build and stamp re-deletes
    * idempotently). Returns (persisted centroids, whether work ran). */
  def ensureQ173Index(s: SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, Boolean) = {
    import graft.vector.{ArtifactCache, IvfPq}
    val corpus = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
    val path = q173IndexPath(d)
    val dead = corpus.filter(col("vec_id") % 10 === 3).select("vec_id")
    val after = s"${IvfPq.expectOf(Q110_M, Q110_K, Q110_CENTS,
      Q110_ITERS, Tables.memoCount(corpus))} deleted=${Tables.memoCount(dead)}"
    if (ArtifactCache.hit(path, after))
      (IvfPq.centroidsOf(s, path), false)
    else {
      IvfPq.ensureBuilt(s, corpus, Q110_M, Q110_K, Q110_CENTS,
        Q110_ITERS, path)
      IvfPq.delete(s, path, dead)
      ArtifactCache.stamp(path, after)
      (IvfPq.centroidsOf(s, path), true)
    }
  }

  /** Train-once q100 PQ codebooks for dataset `d` (amortized offline
    * artifact, like the q110 index); returns (persisted codebooks,
    * whether training ran). */
  def ensureQ100Codebooks(s: SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, Boolean) =
    graft.vector.PQ.ensureCodebooks(s,
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
      m = 8, k = 16, iters = 2, q100CodebooksPath(d))

  /** |ANN top-k ∩ exact top-k| per query — the cross-engine-checkable
    * recall statement for the ANN paths (the index artifacts themselves
    * are not SQL-expressible, their retrieval quality is). The exact
    * side ranks by SQUARED L2 — the metric both ANN paths rank by
    * (the IvfPqSpec/PQSpec bruteL2 ground truth), NOT q20's cosine —
    * with the q20 plan shape: corpus streamed once against broadcast
    * queries, per-query partial+final window top-k. Subtractions run
    * in DOUBLE (explicit cast) so the fold matches DuckDB's
    * double-list arithmetic bit-for-bit. Queries with zero overlap
    * still emit a row (left join, 0). */
  private def recallVsExact(ann: DataFrame, corpus: DataFrame,
      queries: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist"), col("vec_id"))
    // codegen'd squared-L2 ([[graft.functions.VectorFunctions
    // .l2DistanceSq]] — double-cast, so per-element arithmetic is
    // DOUBLE exactly like the composed fold this replaced); this is
    // the (queries × corpus) brute-force branch every ANN recall row
    // pays, the single hottest interpreted loop the bench had
    val exact = corpus
      .crossJoin(broadcast(queries))
      .select(col("query_id"), col("vec_id"),
        graft.functions.VectorFunctions.l2DistanceSq(
          col("embedding"), col("q_emb")).as("dist"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id"))
    queries.select(col("query_id"))
      .join(ann.select(col("query_id"), col("vec_id"))
        .join(exact, Seq("query_id", "vec_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("n")),
        Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n"), lit(0L)).as(s"n_in_exact$k"))
      .orderBy("query_id")
  }

  /** Oracle for the ANN recall queries: DuckDB recomputes the exact
    * brute-force SQUARED-L2 top-10 (genuinely — the metric the ANN
    * paths rank by, folded left-to-right over DOUBLE[] casts exactly
    * like the Spark side) and overlaps it with the PINNED
    * (query_id, vec_id) retrieval of the deterministic index at
    * sf0.01. The pins are index OUTPUT, not oracle logic —
    * bit-identical rebuilds are spec-pinned, so a pin mismatch means
    * the index or probe changed. Regenerate with
    * `sbt "runMain graft.Dev pins <sf0.01 dir>"`. */
  private def annRecallSql(pins: String,
      corpusWhere: String = ""): String =
    s"""WITH q AS (SELECT vec_id AS query_id,
       |             CAST(embedding AS DOUBLE[]) AS qv
       |            FROM embeddings WHERE vec_id % 100 = 0),
       |s AS (SELECT q.query_id, e.vec_id,
       |        list_sum(list_transform(
       |          range(1, len(e.ev) + 1),
       |          i -> (e.ev[i] - q.qv[i]) * (e.ev[i] - q.qv[i]))) AS dist
       |      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev
       |            FROM embeddings $corpusWhere) e CROSS JOIN q),
       |r AS (SELECT query_id, vec_id,
       |        ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY dist, vec_id) AS rk
       |      FROM s),
       |exact AS (SELECT query_id, vec_id FROM r WHERE rk <= 10),
       |ann(query_id, vec_id) AS (VALUES $pins),
       |o AS (SELECT ann.query_id, COUNT(*) AS n
       |      FROM ann JOIN exact USING (query_id, vec_id)
       |      GROUP BY ann.query_id)
       |SELECT q.query_id, CAST(COALESCE(o.n, 0) AS BIGINT) AS n_in_exact10
       |FROM q LEFT JOIN o USING (query_id)
       |ORDER BY query_id""".stripMargin

  /** sf0.01 retrieved ids of the two deterministic ANN indexes
    * (`graft.Dev pins` regenerates both lists). */
  private def PINS_Q100: String =
    "(0,0),(0,190),(0,323),(0,334),(0,365),(0,387),(0,388),(0,423)," +
    "(0,464),(0,483),(100,24),(100,45),(100,100),(100,202)," +
    "(100,234),(100,279),(100,360),(100,384),(100,398),(100,478)," +
    "(200,32),(200,58),(200,143),(200,189),(200,200),(200,204)," +
    "(200,348),(200,378),(200,409),(200,410),(300,27),(300,53)," +
    "(300,196),(300,245),(300,300),(300,305),(300,338),(300,446)," +
    "(300,464),(300,477),(400,57),(400,92),(400,94),(400,182)," +
    "(400,329),(400,358),(400,400),(400,443),(400,451),(400,475)"

  private def PINS_Q110: String =
    "(0,0),(0,190),(0,257),(0,323),(0,334),(0,365),(0,387),(0,388)," +
    "(0,423),(0,483),(100,45),(100,100),(100,202),(100,234)," +
    "(100,279),(100,360),(100,384),(100,395),(100,398),(100,478)," +
    "(200,32),(200,58),(200,143),(200,189),(200,200),(200,204)," +
    "(200,348),(200,378),(200,409),(200,410),(300,27),(300,51)," +
    "(300,53),(300,196),(300,300),(300,305),(300,338),(300,446)," +
    "(300,464),(300,477),(400,57),(400,92),(400,94),(400,182)," +
    "(400,329),(400,400),(400,443),(400,451),(400,475),(400,485)"

  private def PINS_Q117: String =
    "(0,0),(0,73),(0,323),(0,334),(0,344),(0,387),(0,388),(0,423)," +
    "(0,464),(0,498),(100,24),(100,45),(100,100),(100,202)," +
    "(100,234),(100,360),(100,384),(100,395),(100,398),(100,480)," +
    "(200,32),(200,103),(200,143),(200,189),(200,200),(200,204)," +
    "(200,348),(200,378),(200,386),(200,409),(300,27),(300,53)," +
    "(300,196),(300,245),(300,300),(300,305),(300,318),(300,446)," +
    "(300,464),(300,477),(400,29),(400,57),(400,94),(400,182)," +
    "(400,400),(400,415),(400,443),(400,451),(400,475),(400,485)"

  private def PINS_Q171: String =
    "(0,0),(0,7),(0,73),(0,190),(0,334),(0,365),(0,387),(0,388)," +
    "(0,423),(0,464),(100,45),(100,100),(100,202),(100,234)," +
    "(100,279),(100,360),(100,384),(100,395),(100,398),(100,478)," +
    "(200,32),(200,58),(200,143),(200,200),(200,204),(200,348)," +
    "(200,378),(200,386),(200,409),(200,410),(300,27),(300,53)," +
    "(300,196),(300,245),(300,300),(300,305),(300,318),(300,446)," +
    "(300,464),(300,477),(400,92),(400,94),(400,182),(400,329)," +
    "(400,358),(400,400),(400,443),(400,451),(400,475),(400,485)"

  private def PINS_Q170: String =
    "(0,0),(0,7),(0,73),(0,190),(0,320),(0,334),(0,365),(0,387)," +
    "(0,423),(0,464),(100,24),(100,33),(100,45),(100,100),(100,202)," +
    "(100,234),(100,360),(100,384),(100,478),(100,480),(200,32)," +
    "(200,58),(200,135),(200,143),(200,200),(200,204),(200,348)," +
    "(200,386),(200,409),(200,410),(300,1),(300,27),(300,51)," +
    "(300,53),(300,60),(300,196),(300,253),(300,300),(300,464)," +
    "(300,477),(400,92),(400,94),(400,182),(400,358),(400,400)," +
    "(400,415),(400,443),(400,451),(400,475),(400,485)"

  // at sf0.01's 8-cell / 3-super shape the PRUNED two-level probe
  // retrieves identically to the single-level serving probe (zero
  // level-1 loss — the same equality VectorIndexSpec measures); the
  // list is kept as its own constant so a future divergence is
  // visible at regeneration, not silently absorbed
  private def PINS_Q175: String =
    "(0,0),(0,7),(0,73),(0,190),(0,320),(0,334),(0,365),(0,387)," +
    "(0,423),(0,464),(100,24),(100,33),(100,45),(100,100),(100,202)," +
    "(100,234),(100,360),(100,384),(100,478),(100,480),(200,32)," +
    "(200,58),(200,135),(200,143),(200,200),(200,204),(200,348)," +
    "(200,386),(200,409),(200,410),(300,1),(300,27),(300,51)," +
    "(300,53),(300,60),(300,196),(300,253),(300,300),(300,464)," +
    "(300,477),(400,92),(400,94),(400,182),(400,358),(400,400)," +
    "(400,415),(400,443),(400,451),(400,475),(400,485)"

  private def PINS_Q173: String =
    "(0,0),(0,7),(0,190),(0,334),(0,344),(0,365),(0,387),(0,388)," +
    "(0,464),(0,498),(100,45),(100,100),(100,202),(100,234)," +
    "(100,279),(100,360),(100,384),(100,395),(100,398),(100,478)," +
    "(200,32),(200,58),(200,189),(200,200),(200,204),(200,348)," +
    "(200,378),(200,386),(200,409),(200,410),(300,27),(300,196)," +
    "(300,245),(300,300),(300,305),(300,318),(300,338),(300,446)," +
    "(300,464),(300,477),(400,92),(400,94),(400,182),(400,329)," +
    "(400,358),(400,400),(400,451),(400,475),(400,485),(400,490)"

  // random-hyperplane LSH constants: weights from the same integer-mix
  // family as the minhash parameters; P odd prime > 2^32, HALF centers
  // the weights on zero. defs, not vals: `all` above evaluates during
  // object init, before trailing vals would be assigned.
  private def LSH_PLANES = 8
  private def LSH_P = graft.functions.TextFunctions.MinhashP
  private def LSH_HALF = (LSH_P - 1) / 2

  private def lshAnnSql: String = {
    val signs = (0 until LSH_PLANES).map { j =>
      val (a, b) = graft.functions.TextFunctions.minhashParams(j)
      s"""CASE WHEN list_sum(list_transform(range(1, len(qv) + 1),
         |  i -> qv[i] * ((($a * i + $b) % $LSH_P) - $LSH_HALF))) > 0
         |  THEN ${1 << j} ELSE 0 END""".stripMargin
    }.mkString(" + ")
    s"""WITH e AS (SELECT vec_id, embedding,
       |    list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |s AS (SELECT vec_id, embedding, $signs AS bucket FROM e),
       |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |        ${cosSql("a.embedding", "b.embedding")} AS sim
       |      FROM s a JOIN s b
       |        ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b, round(sim, 6) AS sim
       |FROM p WHERE sim >= 0.3
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  private def int8Sql: String =
    """WITH e AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
      |  FROM embeddings),
      |m AS (SELECT vec_id, ev, list_min(ev) AS mn, list_max(ev) AS mx,
      |        (list_max(ev) - list_min(ev)) / 255.0 AS scale
      |      FROM e),
      |q AS (SELECT vec_id, ev, mn, mx, scale,
      |        list_transform(ev, x -> CASE WHEN scale = 0 THEN 0
      |          ELSE CAST(round((x - mn) / scale) AS BIGINT) END) AS qv
      |      FROM m)
      |SELECT vec_id, round(mn, 6) AS mn, round(mx, 6) AS mx,
      |  CAST(list_sum(qv) AS BIGINT) AS q_checksum,
      |  round(list_max(list_transform(range(1, len(ev) + 1),
      |    i -> abs(ev[i] - (mn + CAST(qv[i] AS DOUBLE) * scale)))), 6)
      |    AS max_err
      |FROM q ORDER BY vec_id""".stripMargin
}
