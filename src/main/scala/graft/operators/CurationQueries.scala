package graft.operators

import graft.{GraftQuery, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between ingest and export: snapshot diffing (the engine-side
  * generalization of the reference's delta-zip ingest,
  * `/root/reference/download.py:17-28` — each delta IS a snapshot diff),
  * temperature-based source rebalancing, tokenizer-training pair counts,
  * percentile outlier trimming, URL canonicalization + dedup, and
  * keyed upsert/merge (the reference's per-record Pinecone upsert
  * semantics, `/root/reference/consumer/consumer.py:111-125`, re-expressed
  * as one set-oriented join).
  *
  * Every query follows the registry conventions (GraftQuery scaladoc):
  * aliased columns, unique-key ORDER BY, deterministic arithmetic only
  * (sqrt/floor/division are IEEE-exact cross-engine; no libm
  * transcendentals), md5 for all synthetic randomness.
  */
object CurationQueries {

  /** DuckDB mirror of TextFunctions.tokens. */
  private val toksSql =
    """list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')"""

  /** DuckDB mirror of TextFunctions.fingerprint over a text expression. */
  private def fpSql(text: String): String =
    s"""md5(regexp_replace(lower(trim($text)), '\\s+', ' ', 'g'))"""

  /** DuckDB oracle for k BPE merge rounds (q109), unrolled into
    * chained CTEs. Words encode as `' s1  s2 ... sn '` — every symbol
    * wrapped in single spaces, so adjacent symbols meet at a DOUBLE
    * space (symbols come from whitespace-split tokens and can never
    * contain a space themselves). Under that encoding, SQL's
    * non-overlapping left-to-right `replace(enc, ' l  r ', ' lr ')`
    * is EXACTLY the trainer's greedy fold: each match consumes one
    * boundary space on each side and the wrap re-establishes it, so
    * an overlapping run like `a a a a` merges to `aa aa` in one call
    * (match, resume after the consumed boundary, match again) — the
    * same non-overlapping scan [[graft.text.Bpe]] applies. Each round
    * is: re-split symbols on the double space, count freq-weighted
    * adjacent pairs (the q103 statistic), pick the (count desc, left,
    * right) argmax via scalar subqueries, rewrite. Selection compares
    * strings in binary collation on both engines, so ties break
    * identically. */
  private def bpeCtes(k: Int): String = {
    def round(i: Int): String =
      s"""p$i AS (
         |  SELECT pr.l AS lft, pr.r AS rgt,
         |    CAST(SUM(freq) AS BIGINT) AS wcount
         |  FROM (SELECT freq, unnest(list_transform(range(1, len(syms)),
         |          j -> {'l': syms[j], 'r': syms[j+1]})) AS pr
         |        FROM (SELECT freq, string_split(trim(enc, ' '), '  ')
         |                AS syms FROM s${i - 1}))
         |  GROUP BY pr.l, pr.r),
         |b$i AS (SELECT lft, rgt, wcount FROM p$i
         |        ORDER BY wcount DESC, lft, rgt LIMIT 1),
         |s$i AS (SELECT freq, replace(enc,
         |          ' ' || (SELECT lft FROM b$i) || '  ' ||
         |            (SELECT rgt FROM b$i) || ' ',
         |          ' ' || (SELECT lft FROM b$i) ||
         |            (SELECT rgt FROM b$i) || ' ') AS enc
         |        FROM s${i - 1})""".stripMargin
    s"""v AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest($toksSql) AS word FROM documents)
       |  GROUP BY word),
       |s0 AS (SELECT freq,
       |    ' ' || array_to_string(regexp_extract_all(word, '.'), '  ')
       |      || ' ' AS enc
       |  FROM v),
       |${(1 to k).map(round).mkString(",\n")}""".stripMargin
  }

  private def bpeMergesSql(k: Int): String = {
    val ranks = (1 to k).map(i =>
        s"""SELECT ${i - 1} AS rank, lft AS "left", rgt AS "right",
           |  wcount FROM b$i""".stripMargin)
      .mkString(" UNION ALL ")
    // plain concat, NOT an outer stripMargin: the embedded CTE block is
    // already margin-stripped, and re-stripping would eat one pipe of
    // any `||` that lands at a line start (turning concat into bitwise
    // or in the oracle)
    s"WITH ${bpeCtes(k)}\nSELECT * FROM ($ranks)\nORDER BY rank"
  }

  /** DuckDB oracle for the BPE ENCODE step (q111): apply the k learned
    * merges (the s$k frame of [[bpeCtes]] is the vocab already rewritten
    * through all k rounds), then count corpus occurrences per subword —
    * freq-weighted symbol counts over the encoded vocab. */
  private def bpeSegmentSql(k: Int): String =
    s"WITH ${bpeCtes(k)}\n" +
      s"""SELECT sym AS subword, CAST(SUM(freq) AS BIGINT) AS n
         |FROM (SELECT freq, unnest(string_split(trim(enc, ' '), '  '))
         |        AS sym FROM s$k)
         |GROUP BY sym
         |ORDER BY subword""".stripMargin

  val all: Seq[GraftQuery] = Seq(

    // ---- corpus snapshot diff: classify every doc across two corpus
    //      versions as added / removed / changed by content fingerprint
    //      — the delta-ingest audit (the reference consumes delta zips,
    //      download.py:17; this is the engine-side "what changed"
    //      readout a pipeline keys incremental work on). Two scans +
    //      ONE doc_id-keyed full-outer sort-merge join; both sides
    //      shuffle-partition on the same uniform key, so at 100 TB the
    //      diff is two parquet passes + one co-partitioned merge, no
    //      driver state. Snapshots are synthesized from `documents`
    //      (v1 drops doc_id%11=3, v2 drops %11=7 and revises %5=0). ----
    GraftQuery("q101_snapshot_diff",
      s"""WITH v1 AS (SELECT doc_id, ${fpSql("text")} AS fp
         |  FROM documents WHERE doc_id % 11 <> 3),
         |v2 AS (SELECT doc_id, ${fpSql(
             "CASE WHEN doc_id % 5 = 0 THEN text || ' (rev 2)' ELSE text END")} AS fp
         |  FROM documents WHERE doc_id % 11 <> 7),
         |d AS (SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
         |        CASE WHEN a.doc_id IS NULL THEN 'added'
         |             WHEN b.doc_id IS NULL THEN 'removed'
         |             WHEN a.fp <> b.fp THEN 'changed'
         |             ELSE 'unchanged' END AS status
         |      FROM v1 a FULL JOIN v2 b ON a.doc_id = b.doc_id)
         |SELECT doc_id, status FROM d
         |WHERE status <> 'unchanged'
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.spread(Tables.documents(s, d))
      val v1 = docs.filter(col("doc_id") % 11 =!= 3)
        .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      val v2 = docs.filter(col("doc_id") % 11 =!= 7)
        .select(col("doc_id"), fingerprint(
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" (rev 2)")))
            .otherwise(col("text"))).as("fp"))
      v1.as("a").join(v2.as("b"),
          col("a.doc_id") === col("b.doc_id"), "full_outer")
        .select(coalesce(col("a.doc_id"), col("b.doc_id")).as("doc_id"),
          when(col("a.doc_id").isNull, "added")
            .when(col("b.doc_id").isNull, "removed")
            .when(col("a.fp") =!= col("b.fp"), "changed")
            .otherwise("unchanged").as("status"))
        .filter(col("status") =!= "unchanged")
        .orderBy("doc_id")
    },

    // ---- temperature-based source rebalancing: per-source keep quota
    //      sqrt(n)*4 (alpha=0.5 "temperature" flattening — over-
    //      represented sources are damped toward uniform, the mixture
    //      step every multi-source pretraining corpus runs). Quotas are
    //      per-source independent (no cross-source normalization —
    //      normalizing needs a sum of doubles whose addition order is
    //      nondeterministic under parallel agg; floor(sqrt(n)*4) is
    //      bit-exact everywhere). Membership = the quota lowest md5-
    //      ranked docs per source: stable under corpus growth only
    //      within a source's unchanged prefix — unlike q75's rate
    //      sampling this targets a SIZE, which is the point. One count
    //      agg (broadcast back) + one per-source window shuffle. ----
    GraftQuery("q102_temperature_resample",
      """WITH c AS (SELECT source, COUNT(*) AS n FROM documents
        |           GROUP BY source),
        |q AS (SELECT source,
        |        least(n, CAST(floor(sqrt(CAST(n AS DOUBLE)) * 4)
        |          AS BIGINT)) AS quota
        |      FROM c),
        |r AS (SELECT doc_id, source, row_number() OVER (
        |        PARTITION BY source
        |        ORDER BY md5('resamp#' || CAST(doc_id AS VARCHAR)), doc_id)
        |        AS rk
        |      FROM documents)
        |SELECT r.doc_id, r.source
        |FROM r JOIN q ON r.source = q.source
        |WHERE r.rk <= q.quota
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val quota = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n"))
        .select(col("source"),
          least(col("n"),
            floor(sqrt(col("n").cast("double")) * 4).cast("long"))
            .as("quota"))
      val w = Window.partitionBy(col("source"))
        .orderBy(md5(concat(lit("resamp#"), col("doc_id").cast("string"))),
          col("doc_id"))
      docs.select(col("doc_id"), col("source"))
        .withColumn("rk", row_number().over(w))
        .join(broadcast(quota), "source")
        .filter(col("rk") <= col("quota"))
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    },

    // ---- BPE merge discovery (one iteration): adjacent token-pair
    //      frequencies, global top-20 — the inner statistic of
    //      byte-pair-encoding tokenizer training (each BPE round merges
    //      the most frequent adjacent pair; the engine-side cost is
    //      exactly this count). Pair fan-out is a pure per-row
    //      expression (slice + transform, no shuffle), then one
    //      uniform-key count agg; top-20 is a distributed
    //      TakeOrderedAndProject with a deterministic (cnt, pair)
    //      tie-break — never a single-partition sort of the full pair
    //      vocabulary. ----
    GraftQuery("q103_bpe_pair_counts",
      s"""WITH t AS (SELECT $toksSql AS toks FROM documents),
         |p AS (SELECT unnest(list_transform(range(1, len(toks)),
         |        i -> toks[i] || ' ' || toks[i + 1])) AS pair
         |      FROM t)
         |SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt
         |FROM p GROUP BY pair
         |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin) { (s, d) =>
      // slice length is clamped at 0 so docs with <2 tokens contribute
      // an empty pair array; explode_outer + null-drop avoids the
      // inferred-filter double tokenize (see Boilerplate)
      val toks = col("toks")
      Tables.spread(Tables.documents(s, d))
        .select(tokens(col("text")).as("toks"))
        .select(explode_outer(transform(
          slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
          (x, i) => concat_ws(" ", x, element_at(toks, i + 2))))
          .as("pair"))
        .filter(col("pair").isNotNull)
        .groupBy(col("pair"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(20)
    },

    // ---- percentile outlier trim: drop docs whose token count falls
    //      outside [p1, p99] of the corpus distribution — the length-
    //      outlier filter (truncated boilerplate at one end, run-on
    //      concatenations at the other). Exact percentiles here (the
    //      q68 form, matching DuckDB quantile_cont); the 100 TB path
    //      swaps in the mergeable percentile_approx sketch (q94) with
    //      no other plan change. Two passes over the token counts —
    //      inherent to the uncorrelated scalar-subquery shape (q73):
    //      the thresholds must exist before the filter can run. ----
    GraftQuery("q104_length_outlier_trim",
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len($toksSql) AS BIGINT) AS n_tokens FROM documents),
         |s AS (SELECT quantile_cont(n_tokens, 0.01) AS lo,
         |             quantile_cont(n_tokens, 0.99) AS hi FROM t)
         |SELECT t.doc_id, t.n_tokens FROM t, s
         |WHERE t.n_tokens >= s.lo AND t.n_tokens <= s.hi
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      def counts = Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), tokenCountOf(tokens(col("text"))).as("n_tokens"))
      // ONE exact-percentile buffer (array form): two scalar
      // percentile aggregates over the same column would each build
      // their own per-group value-counts map (see q68's note);
      // interpolation per quantile is bit-identical either way
      val stats = counts.agg(
        expr("percentile(n_tokens, array(0.01D, 0.99D))").as("lohi"))
        .select(element_at(col("lohi"), 1).as("lo"),
          element_at(col("lohi"), 2).as("hi"))
      counts.crossJoin(broadcast(stats))
        .filter(col("n_tokens") >= col("lo") && col("n_tokens") <= col("hi"))
        .select(col("doc_id"), col("n_tokens"))
        .orderBy("doc_id")
    },

    // ---- URL canonicalization + dedup: normalize scheme/host case,
    //      strip default ports, tracking params, fragments, and
    //      trailing slashes, then keep the earliest doc per canonical
    //      URL — the crawl-side dedup that runs BEFORE any content
    //      pass (two crawls of one page differ only in their query-
    //      string noise). The corpus has no URLs, so they're
    //      synthesized with deterministic mess (the q39/q90 pattern);
    //      the regexp canonicalizer is the operator under test. Pure
    //      scan-side expressions + one canonical-key agg shuffle. ----
    GraftQuery("q105_url_canonical_dedup",
      """WITH t AS (SELECT doc_id,
        |    printf('HTTPS://Host%d.Example.COM:443/p%d/?utm_source=s%d&id=%d#frag',
        |      doc_id % 7, doc_id % 5, doc_id, doc_id % 4) AS url
        |  FROM documents),
        |c AS (SELECT doc_id,
        |        'https://' ||
        |        lower(regexp_extract(url, '^[A-Za-z]+://([^/:?#]+)', 1)) ||
        |        rtrim(regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1),
        |          '/') ||
        |        '?id=' || regexp_extract(url, '[?&]id=([0-9]+)', 1)
        |          AS canonical
        |      FROM t)
        |SELECT canonical, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(MIN(doc_id) AS BIGINT) AS keeper
        |FROM c GROUP BY canonical
        |ORDER BY canonical""".stripMargin) { (s, d) =>
      Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), format_string(
          "HTTPS://Host%d.Example.COM:443/p%d/?utm_source=s%d&id=%d#frag",
          col("doc_id") % 7, col("doc_id") % 5, col("doc_id"),
          col("doc_id") % 4).as("url"))
        .select(col("doc_id"), concat(lit("https://"),
          lower(regexp_extract(col("url"), "^[A-Za-z]+://([^/:?#]+)", 1)),
          rtrim(regexp_extract(col("url"), "^[A-Za-z]+://[^/?#]+([^?#]*)", 1),
            "/"),
          lit("?id="), regexp_extract(col("url"), "[?&]id=([0-9]+)", 1))
          .as("canonical"))
        .groupBy(col("canonical"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).cast("long").as("keeper"))
        .orderBy("canonical")
    },

    // ---- keyed upsert / MERGE: fold an incoming batch into the corpus
    //      by doc_id — insert new keys, update changed content, keep
    //      the rest; per-row action recorded. The set-oriented form of
    //      the reference's per-record upsert loop
    //      (consumer/consumer.py:111-125): ONE full-outer sort-merge
    //      join on the key replaces N point writes, and writing the
    //      result back (partitioned, mode=overwrite) completes
    //      copy-on-write MERGE semantics without a table format.
    //      Batch ids are offset by 1<<40 for inserts (high-bit
    //      namespace — can never collide with corpus ids at any
    //      replication scale). noop-vs-update is decided by content
    //      fingerprint, not blind overwrite. ----
    GraftQuery("q106_upsert_merge",
      s"""WITH b AS (
         |  SELECT doc_id, CASE WHEN doc_id % 12 = 1 THEN text || ' rev2'
         |           ELSE text END AS text
         |  FROM documents WHERE doc_id % 6 = 1
         |  UNION ALL
         |  SELECT doc_id + 1099511627776 AS doc_id, text
         |  FROM documents WHERE doc_id % 6 = 2),
         |m AS (SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
         |        CASE WHEN c.doc_id IS NULL THEN 'insert'
         |             WHEN b.doc_id IS NULL THEN 'keep'
         |             WHEN ${fpSql("b.text")} <> ${fpSql("c.text")}
         |               THEN 'update'
         |             ELSE 'noop' END AS action,
         |        ${fpSql("COALESCE(b.text, c.text)")} AS fp
         |      FROM documents c FULL JOIN b ON c.doc_id = b.doc_id)
         |SELECT doc_id, action, fp FROM m
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.spread(Tables.documents(s, d))
      val batch = docs.filter(col("doc_id") % 6 === 1)
        .select(col("doc_id"),
          when(col("doc_id") % 12 === 1, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 6 === 2)
          .select((col("doc_id") + (1L << 40)).as("doc_id"), col("text")))
      docs.as("c").join(batch.as("b"),
          col("c.doc_id") === col("b.doc_id"), "full_outer")
        .select(coalesce(col("b.doc_id"), col("c.doc_id")).as("doc_id"),
          when(col("c.doc_id").isNull, "insert")
            .when(col("b.doc_id").isNull, "keep")
            .when(fingerprint(col("b.text")) =!= fingerprint(col("c.text")),
              "update")
            .otherwise("noop").as("action"),
          fingerprint(coalesce(col("b.text"), col("c.text"))).as("fp"))
        .orderBy("doc_id")
    },

    // ---- BPE tokenizer training (full loop): learn 4 merges from
    //      the corpus via graft.text.Bpe — the corpus pays ONE pass
    //      (the word-frequency vocab shuffle); the merge loop is
    //      driver-local over the bounded vocab frame. Oracle: the k
    //      rounds unroll into chained CTEs ([[bpeMergesSql]]) — pair
    //      counts, argmax via scalar subqueries, and the greedy
    //      left-to-right rewrite expressed as a single replace() over
    //      a double-delimited symbol encoding. BpeSpec additionally
    //      pins the classic merge sequence and the local ≡ distributed
    //      equivalence. ----
    GraftQuery("q109_bpe_merges", bpeMergesSql(4)) { (s, d) =>
      import s.implicits._
      graft.text.Bpe.train(Tables.documents(s, d), k = 4)
        .map(m => (m.rank, m.left, m.right, m.count))
        .toDF("rank", "left", "right", "wcount")
        .orderBy("rank")
    },

    // ---- BPE ENCODE with the trained tokenizer: apply the learned
    //      merge table to the corpus vocabulary and report corpus
    //      subword counts, freq-weighted. The serving-side half of
    //      tokenizer training: train once (q109), encode every corpus
    //      snapshot after. Scale shape: `segmentCorpus` — distinct
    //      vocab words encode ONCE via the in-memory greedy folds
    //      (mapPartitions; Bpe.segment's 4-deep column-fold variant is
    //      fold-≡-join pinned in BpeSpec but costs O(len²) array
    //      copies per word per merge — 160 s vs 11 s at 500k docs) and
    //      corpus counts arrive via the same one-pass word-frequency
    //      table as q109, so the 100 TB corpus is never re-walked per
    //      merge and the merge table never appears in the plan. The
    //      vocab is computed ONCE and localCheckpoint'ed: train
    //      collects it, encode joins against it (skipping the
    //      redundant distinct — groupBy output is distinct by
    //      construction), so the whole train-then-apply composition
    //      scans documents.parquet exactly once (PLANS.md q111). ----
    GraftQuery("q111_bpe_segment", bpeSegmentSql(4)) { (s, d) =>
      val docs = Tables.documents(s, d)
      val v = graft.text.Bpe.vocab(docs).localCheckpoint()
      val merges = graft.text.Bpe.trainOnVocab(v, k = 4)
      graft.text.Bpe.segmentCorpus(v, merges, assumeDistinctWords = true)
        .select(explode(col("syms")).as("subword"), col("freq"))
        .groupBy(col("subword"))
        .agg(sum(col("freq")).as("n"))
        .orderBy("subword")
    },

    // ---- token-distribution drift between snapshots: the data-
    //      quality monitor a pipeline runs on every corpus update —
    //      per-token counts in each version, symmetric chi-square-
    //      style statistic (n1-n2)^2/(n1+n2) per token, top drifted
    //      tokens reported. All-integer numerators/denominators with
    //      ONE IEEE division per token (no libm), so exact cross-
    //      engine. Shape: two explode passes + two uniform count
    //      shuffles + one full-outer vocab join (vocab-sized, tiny
    //      relative to the corpus) + distributed top-25. Snapshots
    //      synthesized as in q101 — the " (rev 2)" tokens surface as
    //      the drift signal. ----
    GraftQuery("q108_token_drift",
      s"""WITH d1 AS (SELECT $toksSql AS toks FROM documents
         |            WHERE doc_id % 11 <> 3),
         |c1 AS (SELECT unnest(toks) AS tok FROM d1),
         |g1 AS (SELECT tok, COUNT(*) AS n1 FROM c1 GROUP BY tok),
         |d2 AS (SELECT list_filter(string_split_regex(lower(
         |          CASE WHEN doc_id % 5 = 0 THEN text || ' (rev 2)'
         |               ELSE text END), '\\s+'), x -> x <> '') AS toks
         |        FROM documents WHERE doc_id % 11 <> 7),
         |c2 AS (SELECT unnest(toks) AS tok FROM d2),
         |g2 AS (SELECT tok, COUNT(*) AS n2 FROM c2 GROUP BY tok),
         |j AS (SELECT COALESCE(g1.tok, g2.tok) AS tok,
         |        COALESCE(n1, 0) AS n1, COALESCE(n2, 0) AS n2
         |      FROM g1 FULL JOIN g2 ON g1.tok = g2.tok)
         |SELECT tok, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
         |  CAST((n1 - n2) * (n1 - n2) AS DOUBLE) / (n1 + n2) AS drift
         |FROM j
         |ORDER BY drift DESC, tok LIMIT 25""".stripMargin) { (s, d) =>
      val docs = Tables.spread(Tables.documents(s, d))
      def tokCounts(df: org.apache.spark.sql.DataFrame, alias: String) =
        df.select(explode_outer(col("toks")).as("tok"))
          .filter(col("tok").isNotNull)
          .groupBy(col("tok")).agg(count(lit(1)).as(alias))
      val g1 = tokCounts(docs.filter(col("doc_id") % 11 =!= 3)
        .select(tokens(col("text")).as("toks")), "n1")
      val g2 = tokCounts(docs.filter(col("doc_id") % 11 =!= 7)
        .select(tokens(
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" (rev 2)")))
            .otherwise(col("text"))).as("toks")), "n2")
      g1.join(g2, Seq("tok"), "full_outer")
        .select(col("tok"),
          coalesce(col("n1"), lit(0L)).as("n1"),
          coalesce(col("n2"), lit(0L)).as("n2"))
        .select(col("tok"), col("n1"), col("n2"),
          (((col("n1") - col("n2")) * (col("n1") - col("n2")))
            .cast("double") / (col("n1") + col("n2"))).as("drift"))
        .orderBy(col("drift").desc, col("tok"))
        .limit(25)
    },

    // ---- repeated-span detection: 8-token spans (stride 1) whose
    //      fingerprint occurs in MORE THAN ONE document — the n-gram-
    //      granular form of exact-substring dedup (suffix-array
    //      ExactSubstr in the training-data-dedup literature; a
    //      distributed suffix array is impractical, but span-hash
    //      counting reaches the same repeated regions at n-gram
    //      resolution). Fan-out is per-row expressions (the q38/q87
    //      hash chain — deterministic integer mixes, exact cross-
    //      engine); then ONE uniform span-hash count shuffle. The
    //      n_docs>1 filter makes output proportional to actual
    //      repetition, not corpus size. ----
    GraftQuery("q107_repeated_spans", {
      val p = graft.functions.TextFunctions.MinhashP
      val w = (0 until 8).map(graft.functions.TextFunctions.shingleWeight)
      val terms = (0 until 8)
        .map(j => s"((th[i + $j] * ${w(j)}) % $p)").mkString(" + ")
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |h AS (SELECT doc_id, ${DedupQueries.thSql} AS th FROM t),
         |g AS (SELECT doc_id, unnest(
         |        CASE WHEN len(th) < 8 THEN []::BIGINT[]
         |          ELSE list_transform(range(1, len(th) - 6),
         |            i -> ($terms) % $p) END) AS h
         |      FROM h)
         |SELECT h AS span_h,
         |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(COUNT(*) AS BIGINT) AS n_occ,
         |  CAST(MIN(doc_id) AS BIGINT) AS first_doc
         |FROM g GROUP BY h
         |HAVING COUNT(DISTINCT doc_id) > 1
         |ORDER BY span_h""".stripMargin
    }) { (s, d) =>
      Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), tokenHashesOfText(col("text")).as("th"))
        .select(col("doc_id"),
          explode_outer(shingleHashesOf(col("th"), 8)).as("h"))
        .filter(col("h").isNotNull)
        .groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).cast("long").as("n_docs"),
          count(lit(1)).as("n_occ"),
          min(col("doc_id")).cast("long").as("first_doc"))
        .filter(col("n_docs") > 1)
        .select(col("h").as("span_h"), col("n_docs"), col("n_occ"),
          col("first_doc"))
        .orderBy("span_h")
    },

    // ---- the COMPOSED curation chain (Pipeline.curateFull): exact
    //      dedup + quality floor -> p1/p99 token-length trim -> LSH-
    //      verified near-dup connected components with lowest-id
    //      survivor -> sqrt-quota source rebalance. Every stage is
    //      individually oracled (q40/q31/q104/q46/q48/q84/q102); this
    //      row checks the COMPOSITION a pipeline actually ships —
    //      stage order, the frames each stage feeds the next, and the
    //      end-to-end membership — by chaining the same DuckDB CTEs. ----
    GraftQuery("q112_curate_full", curateFullSql) { (s, d) =>
      graft.Pipeline.curateFull(Tables.documents(s, d))
        .select(col("doc_id"), col("lang"), col("source"),
          round(col("quality"), 6).as("quality"), col("n_tokens"))
        .orderBy("doc_id")
        // per-run telemetry (rows and tokens kept) for any
        // QueryExecutionListener — observed ABOVE the sort: the range
        // exchange samples its input in a separate pass over the same
        // subtree, so a metric observed below it counts every row twice
        .observe("graft.curate_full",
          count(lit(1)).as("rows_kept"),
          sum(col("n_tokens")).as("tokens_kept"))
    },

    // ---- Gopher-style repetition gate (Rae et al. 2021 §A1.1): flag
    //      documents whose text is internally repetitive — (a) the
    //      single most frequent word bigram covers too much of the
    //      doc, (b) too many bigram occurrences are repeats of an
    //      earlier one, (c) the type-token ratio is too low (tiny
    //      effective vocabulary). All three thresholds are evaluated
    //      in INTEGER cross-multiplied form (maxc*20 > tot is
    //      "top-bigram fraction > 1/20") — zero float comparisons, so
    //      the gate is bit-identical cross-engine. Per-lang integer
    //      roll-up. Scale shape: bigram counting shuffles on
    //      (doc_id, bigram) then doc_id — both high-cardinality keys
    //      that partition uniformly; the diversity signal (c) is pure
    //      scan-side array math, no shuffle at all. ----
    GraftQuery("q145_repetition_gate",
      """WITH toks AS (SELECT doc_id, lang,
        |    string_split_regex(trim(text), '\s+') AS t FROM documents),
        |big AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS bg
        |        FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i)),
        |bc AS (SELECT doc_id, bg, COUNT(*) AS c FROM big GROUP BY 1, 2),
        |per AS (SELECT doc_id, MAX(c) AS maxc, SUM(c) AS tot,
        |          COUNT(*) AS d FROM bc GROUP BY doc_id),
        |m AS (SELECT k.doc_id, k.lang, len(k.t) AS n,
        |        len(list_distinct(k.t)) AS nd, p.maxc, p.tot, p.d
        |      FROM toks k LEFT JOIN per p ON k.doc_id = p.doc_id)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN tot IS NOT NULL AND maxc * 20 > tot
        |    THEN 1 ELSE 0 END) AS BIGINT) AS top2_flagged,
        |  CAST(SUM(CASE WHEN tot IS NOT NULL AND (tot - d) * 25 > tot
        |    THEN 1 ELSE 0 END) AS BIGINT) AS dupbg_flagged,
        |  CAST(SUM(CASE WHEN nd * 5 < n * 2 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS lowdiv_flagged,
        |  CAST(SUM(CASE WHEN NOT (tot IS NOT NULL AND maxc * 20 > tot)
        |    AND NOT (tot IS NOT NULL AND (tot - d) * 25 > tot)
        |    AND NOT (nd * 5 < n * 2) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS kept
        |FROM m GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      val toks = Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), col("lang"),
          split(trim(col("text")), "\\s+").as("t"))
      // bigrams as zip_with over two offset slices: size-1 pairs, no
      // posexplode fan-out before the count shuffle needs one
      val m1 = greatest(size(col("t")) - 1, lit(0))
      val big = toks.select(col("doc_id"),
        explode(zip_with(
          slice(col("t"), lit(1), m1), slice(col("t"), lit(2), m1),
          (a, b) => concat(a, lit(" "), b))).as("bg"))
      val per = big.groupBy(col("doc_id"), col("bg"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(max(col("c")).as("maxc"), sum(col("c")).as("tot"),
          count(lit(1)).as("d"))
      val flagged = toks
        .select(col("doc_id"), col("lang"), size(col("t")).as("n"),
          size(array_distinct(col("t"))).as("nd"))
        .join(per, Seq("doc_id"), "left")
      val top2 = col("tot").isNotNull && col("maxc") * 20 > col("tot")
      val dupbg = col("tot").isNotNull &&
        (col("tot") - col("d")) * 25 > col("tot")
      val lowdiv = col("nd") * 5 < col("n") * 2
      flagged.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(top2, 1).otherwise(0)).cast("long").as("top2_flagged"),
          sum(when(dupbg, 1).otherwise(0)).cast("long")
            .as("dupbg_flagged"),
          sum(when(lowdiv, 1).otherwise(0)).cast("long")
            .as("lowdiv_flagged"),
          sum(when(!top2 && !dupbg && !lowdiv, 1).otherwise(0))
            .cast("long").as("kept"))
        .orderBy("lang")
    },
  )

  /** DuckDB oracle for the composed curateFull chain: the q40
    * fingerprint-dedup, q31 quality, q104 trim, q48 components (over
    * the TRIMMED relation at θ=0.8 — DedupQueries.componentsCteSql
    * parameterized), and q102 quota CTEs chained end-to-end. Built by
    * plain concatenation around the pre-stripped components block
    * (an outer stripMargin would eat line-leading `||` pipes). */
  private def curateFullSql: String = {
    val head =
      s"""WITH RECURSIVE
         |fp0 AS (SELECT doc_id, text, lang, source, ${fpSql("text")} AS fp
         |        FROM documents),
         |keepd AS (SELECT MIN(doc_id) AS doc_id FROM fp0 GROUP BY fp),
         |cur0 AS (SELECT f.doc_id, f.text, f.lang, f.source, $toksSql AS toks
         |         FROM fp0 f JOIN keepd k ON f.doc_id = k.doc_id),
         |curd AS (SELECT doc_id, text, lang, source,
         |           ${TextQueries.qualitySql("toks", "text")} AS quality,
         |           CAST(len(toks) AS BIGINT) AS n_tokens
         |         FROM cur0),
         |cq AS (SELECT * FROM curd WHERE quality >= 0.3),
         |st AS (SELECT quantile_cont(n_tokens, 0.01) AS lo,
         |              quantile_cont(n_tokens, 0.99) AS hi FROM cq),
         |trimmed AS (SELECT c.doc_id, c.text, c.lang, c.source, c.quality,
         |              c.n_tokens
         |            FROM cq c, st
         |            WHERE c.n_tokens >= st.lo AND c.n_tokens <= st.hi),""".stripMargin
    val tail =
      """,
        |dropd AS (SELECT doc_id FROM comp WHERE doc_id <> comp),
        |ded AS (SELECT t2.* FROM trimmed t2 LEFT JOIN dropd dr
        |          ON t2.doc_id = dr.doc_id
        |        WHERE dr.doc_id IS NULL),
        |qc AS (SELECT source, COUNT(*) AS n FROM ded GROUP BY source),
        |qq AS (SELECT source, least(n, CAST(floor(sqrt(CAST(n AS DOUBLE)) * 4)
        |         AS BIGINT)) AS quota FROM qc),
        |rr AS (SELECT doc_id, lang, source, quality, n_tokens,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY md5('resamp#' || CAST(doc_id AS VARCHAR)), doc_id)
        |           AS rk
        |       FROM ded)
        |SELECT rr.doc_id, rr.lang, rr.source,
        |  round(rr.quality, 6) AS quality, rr.n_tokens
        |FROM rr JOIN qq ON rr.source = qq.source
        |WHERE rr.rk <= qq.quota
        |ORDER BY doc_id""".stripMargin
    head + "\n" +
      DedupQueries.componentsCteSql("trimmed", "0.8") + tail
  }
}
