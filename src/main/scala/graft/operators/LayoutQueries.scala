package graft.operators

import graft.{GraftQuery, Tables}
import graft.layout.{Layout, RuntimeFilters}
import graft.operators.Relational.{decSum, decSumSql}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout + runtime-filter queries (SURVEY.md §4): the three
  * techniques that decide how much data a 100 TB query TOUCHES —
  * Bloom-prefiltered joins (cut the shuffle), Hive-partitioned layout
  * (cut the scan at planning time), bucketed co-located joins (pay the
  * join shuffle once, at layout time). Each is oracle-checked against
  * the equivalent plain query: the layout/filter changes WHERE work
  * happens, never the answer.
  *
  * The partitioned/bucketed layouts are amortized offline artifacts
  * (the q110-index pattern): built once per dataset under /tmp through
  * [[graft.Artifacts.ensure]], reused by every subsequent query run
  * until the dataset's input files change.
  */
object LayoutQueries {

  /** Bumped on any layout-building change — stale /tmp layouts then
    * auto-invalidate (same contract as [[graft.vector.AnnVersion]]). */
  private val LayoutVersion = 11 // r13: + per-dir exact column sums (metadata-only SUM)

  private def layoutRoot(d: String): String = graft.Artifacts.dir(d, "layout")

  /** One build-once layout fixture: `build` writes it at
    * `<layoutRoot>/name` from the dataset's `table`, whose parquet
    * files are the fingerprinted input; returns the path. The recipe
    * folds in [[LayoutVersion]], so code changes and a rewritten table
    * both invalidate. */
  private def fixture(s: SparkSession, d: String, name: String,
      recipe: String, table: String)(build: String => Unit): String = {
    val path = s"${layoutRoot(d)}/$name"
    graft.Artifacts.ensure(s, path, Seq(s"$d/$table.parquet"),
      s"layout=$LayoutVersion $recipe")(build(path))
    path
  }

  /** Orders partitioned by `o_year=year(o_orderdate)` — the 100 TB
    * layout for a date-organized fact table. Built once per dataset. */
  def ensurePartitionedOrders(s: SparkSession, d: String): String =
    fixture(s, d, "orders_by_year", "part=o_year", "orders") { path =>
      Layout.writePartitioned(Tables.orders(s, d), path, "o_year",
        year(col("o_orderdate")))
    }

  /** Scale-derived bucket count for the recurring-join layout: one
    * bucket per `targetBucketBytes` of the dataset's orders table,
    * rounded up to a power of two (power-of-two counts divide evenly
    * under AQE coalescing and keep bucket-id arithmetic cheap),
    * floored at 8 so test-scale data still exercises a genuinely
    * multi-bucket layout. At 100 TB this is THE layout knob — buckets
    * ≈ tableBytes / 128 MB keeps each bucket one task-sized read and
    * the exchange-free join property holds at ANY count as long as
    * both sides use the same one (spec-pinned at 64 on sf0.1). */
  def bucketCountFor(s: SparkSession, d: String,
      targetBucketBytes: Long = 128L << 20): Int = {
    val p = new org.apache.hadoop.fs.Path(s"$d/orders.parquet")
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    val bytes = fs.getContentSummary(p).getLength
    val n = math.max(8L,
      (bytes + targetBucketBytes - 1) / targetBucketBytes).toInt
    val pow = Integer.highestOneBit(n)
    if (pow == n) n else pow << 1
  }

  /** Orders + customer as bucketed-and-sorted tables on the join key
    * (`buckets` buckets — scale-derived by default, external data
    * under /tmp): recurring custkey joins then plan as sort-merge with
    * NO exchange on either side. Both sides MUST share the count (a
    * mismatch reintroduces the shuffle); the table/path names carry it
    * so differently-bucketed layouts of one dataset coexist. The names
    * also carry a [[graft.Artifacts.key]] of both input tables' files,
    * so a rewrite of orders or customer, within one session too, names
    * (and writes) a fresh pair. The catalog entry is per-session
    * (in-memory catalog), so a fresh JVM re-registers by rewriting —
    * cheap at test scale; in production the table lives in a
    * persistent metastore and is written once. */
  def ensureBucketedPair(s: SparkSession, d: String,
      buckets: Int = 0): (String, String) = {
    val b = if (buckets > 0) buckets else bucketCountFor(s, d)
    val key = s"${b}_" + graft.Artifacts.shortKey(graft.Artifacts.key(s,
      Seq(s"$d/orders.parquet", s"$d/customer.parquet"),
      s"layout=$LayoutVersion buckets=$b"))
    val ordersTbl = s"graft_orders_bk_$key"
    val custTbl = s"graft_customer_bk_$key"
    if (!s.catalog.tableExists(ordersTbl))
      Tables.orders(s, d).write.mode("overwrite")
        .bucketBy(b, "o_custkey").sortBy("o_custkey")
        .option("path", s"${layoutRoot(d)}/orders_bk_$b")
        .format("parquet").saveAsTable(ordersTbl)
    if (!s.catalog.tableExists(custTbl))
      Tables.customer(s, d).write.mode("overwrite")
        .bucketBy(b, "c_custkey").sortBy("c_custkey")
        .option("path", s"${layoutRoot(d)}/customer_bk_$b")
        .format("parquet").saveAsTable(custTbl)
    (ordersTbl, custTbl)
  }

  /** Lineitem range-sorted by `l_shipdate` into 16 files — the
    * min/max (zone-map) layout for the fine-grained time axis where
    * Hive partitioning would explode directories. Built once per
    * dataset behind the usual marker. */
  def ensureSortedLineitem(s: SparkSession, d: String): String =
    fixture(s, d, "lineitem_by_shipdate", "sort=l_shipdate files=16",
        "lineitem") { path =>
      Layout.writeRangeSorted(Tables.lineitem(s, d), path, 16, "l_shipdate")
    }

  /** Lineitem Z-ordered on (l_partkey, l_suppkey) into 64 files — the
    * two-hot-column layout: each file tiles ~1/8 of BOTH key ranges,
    * so footer min/max skips most row groups for a selective predicate
    * on EITHER column (a single-axis sort prunes only its lead
    * column — contrasted in ZOrderSpec). Built once per dataset behind
    * the usual marker. */
  def ensureZOrderedLineitem(s: SparkSession, d: String): String =
    fixture(s, d, "lineitem_zorder", "zorder=l_partkey,l_suppkey files=64",
        "lineitem") { path =>
      Layout.writeZOrdered(Tables.lineitem(s, d), path, 64, "l_partkey",
        "l_suppkey")
    }

  /** Documents posting table (term → doc_id) for keyword search —
    * built once per dataset behind the usual marker. 16 range slices:
    * at test scale that is plenty for the footer-pruning contract; at
    * 100 TB the count scales like any range layout (slices ≈ posting
    * bytes / 128 MB). */
  def ensurePostings(s: SparkSession, d: String): String =
    fixture(s, d, "doc_postings", "postings=term,doc_id files=16", "documents") { path =>
      graft.text.InvertedIndex.build(Tables.documents(s, d), path, 16)
    }

  /** Scored posting table (term, doc_id, dl, tf + `_stats`) for
    * ranked keyword search — built once per dataset behind the usual
    * marker. */
  def ensureScoredPostings(s: SparkSession, d: String): String =
    fixture(s, d, "doc_postings_scored", "scored_postings files=16", "documents") { path =>
      graft.text.InvertedIndex.buildScored(Tables.documents(s, d), path, 16)
    }

  /** Positional posting table (term, doc_id, positions) for phrase
    * search — built once per dataset behind the usual marker. */
  def ensurePositionalPostings(s: SparkSession, d: String): String =
    fixture(s, d, "doc_postings_positional", "positional_postings files=16", "documents") { path =>
      graft.text.InvertedIndex.buildPositional(Tables.documents(s, d), path, 16)
    }

  /** Documents as a [[graft.sinks.ManifestTable]] — the
    * incremental-ingest shape, versions v1–v4 time-travelable. Built
    * once per dataset behind the usual marker. */
  def ensureManifestDocs(s: SparkSession, d: String): String =
    fixture(s, d, "docs_manifest", "manifest=4ranged-total+stats3",
        "documents") { path =>
      val docs = Tables.documents(s, d)
      val n = docs.count()
      // four RANGE-disjoint appends with doc_id + lang stats recorded —
      // the shape a time-ordered ingest naturally produces, which is
      // what makes q128's manifest-level dir pruning non-vacuous (and,
      // with the per-dir row counts + null counts every append records,
      // lets q139's whole-table COUNT/COUNT(col)/MIN/MAX answer from
      // the manifest alone)
      val q = math.max(n / 4, 1)
      (0 until 4).foreach { i =>
        // commit 1 is open-below and commit 4 open-above, so EVERY
        // doc_id lands in exactly one commit — the manifest table
        // must equal the source table whatever the id domain
        val loOk = if (i == 0) lit(true) else col("doc_id") >= i * q
        val hiOk = if (i == 3) lit(true) else col("doc_id") < (i + 1) * q
        graft.sinks.ManifestTable.append(s,
          docs.filter(loOk && hiOk), path,
          statsCols = Seq("doc_id", "lang"))
      }
    }

  /** Events as a HIDDEN-PARTITIONED manifest table — `days(ts)`
    * transform, three id-ranged commits (the natural arrival shape:
    * each commit holds many days), so the partitioned append routes
    * every (commit, day) to its own partition-pure dir whose entry
    * records the derived day in the manifest. */
  def ensurePartitionedEvents(s: SparkSession, d: String): String =
    // -utc: rebuilt once after days() switched to UTC epoch
    // arithmetic (values identical under the UTC session, but the
    // artifact should provably come from the current derivation)
    fixture(s, d, "events_part_days", "manifest=days-part-utc",
        "events") { path =>
      val ev = Tables.events(s, d)
      val n = ev.count()
      val q = math.max(n / 3, 1)
      (0 until 3).foreach { i =>
        val loOk = if (i == 0) lit(true) else col("event_id") >= i * q
        val hiOk = if (i == 2) lit(true) else col("event_id") < (i + 1) * q
        graft.sinks.ManifestTable.append(s, ev.filter(loOk && hiOk),
          path, statsCols = Seq("event_id"),
          partitionSpec =
            Seq(graft.sinks.PartitionTransform.PDays("ts")))
      }
    }

  /** Documents as a lang-identity-partitioned manifest table with the
    * 'de' partition DROPPED metadata-only — the ALTER TABLE ... DROP
    * PARTITION retention shape: the drop commits a new manifest
    * without the matching entries, zero rows moved (the dropped dirs
    * physically remain for older snapshots until vacuum). */
  def ensureDroppedLangDocs(s: SparkSession, d: String): String =
    fixture(s, d, "docs_part_dropped", "manifest=lang-part-drop",
        "documents") { path =>
      val docs = Tables.documents(s, d)
      val n = docs.count()
      val q = math.max(n / 2, 1)
      Seq(col("doc_id") < q, col("doc_id") >= q).foreach { f =>
        graft.sinks.ManifestTable.append(s, docs.filter(f), path,
          statsCols = Seq("doc_id"),
          partitionSpec =
            Seq(graft.sinks.PartitionTransform.PIdentity("lang")))
      }
      val (_, dropped) = graft.sinks.ManifestTable.dropPartitions(s,
        path, Map("lang" -> "de"))
      require(dropped == 2, // one 'de' dir per commit
        s"ensureDroppedLangDocs: expected to drop 2 dirs, got $dropped")
    }

  /** Documents built through the WRITE-AUDIT-PUBLISH gate: even ids
    * appended directly; odd ids staged twice — a poisoned candidate
    * (lang nulled) the audit catches and abandons, then a clean one
    * that publishes. The final table must equal the plain source:
    * the rejected candidate left no trace, the published one landed
    * whole. */
  def ensureWapDocs(s: SparkSession, d: String): String =
    fixture(s, d, "docs_wap", "manifest=wap", "documents") { path =>
      val docs = Tables.documents(s, d)
      val M = graft.sinks.ManifestTable
      M.append(s, docs.filter(col("doc_id") % 2 === 0), path,
        statsCols = Seq("doc_id"))
      val rest = docs.filter(col("doc_id") % 2 =!= 0)
      // candidate 1: poisoned — the audit read rejects it
      M.stageAppend(s, rest.withColumn("lang",
        lit(null).cast("string")), path, "suspect",
        statsCols = Seq("doc_id"))
      val nNull = M.readStaged(s, path, "suspect")
        .filter(col("lang").isNull).count()
      require(nNull > 0, "ensureWapDocs: audit expected null langs")
      M.abandonStaged(s, path, "suspect")
      // candidate 2: clean — the audit passes, publish commits it
      M.stageAppend(s, rest, path, "clean", statsCols = Seq("doc_id"))
      require(M.readStaged(s, path, "clean")
        .filter(col("lang").isNull).count() == 0,
        "ensureWapDocs: clean candidate failed its audit")
      M.publish(s, path, "clean")
    }

  /** Documents as a manifest table clustered BY LANGUAGE — one commit
    * per lang, each recording string bounds on `lang` (plus long
    * bounds on `doc_id`): the categorical-pruning layout a
    * language-routed ingest naturally produces, where `WHERE lang =
    * 'es'` in plain SQL prunes to exactly one commit dir from the
    * manifest alone. Built once per dataset behind the usual
    * marker. */
  def ensureManifestDocsByLang(s: SparkSession, d: String): String =
    // strstats2: per-dir null counts recorded — what proves each dir
    // single-group in `lang` for q140's metadata-only GROUP BY
    fixture(s, d, "docs_manifest_bylang", "manifest=bylang+strstats2",
        "documents") { path =>
      val docs = Tables.documents(s, d)
      val n = docs.count()
      import s.implicits._
      val langs = docs.select(col("lang")).distinct()
        .as[String].collect().sorted
      langs.foreach { l =>
        graft.sinks.ManifestTable.append(s,
          docs.filter(col("lang") === l), path,
          statsCols = Seq("lang", "doc_id"))
      }
      // a null-lang slice would be silently lost above — assert the
      // clustering covered every row (documents.lang is non-null in
      // this dataset; a real router would add an explicit null commit)
      require(graft.sinks.ManifestTable.read(s, path).count() == n,
        "ensureManifestDocsByLang: lang clustering dropped rows")
    }

  /** The q127 manifest layout after one [[graft.sinks.ManifestTable.merge]]
    * upsert batch: every doc_id ≡ 3 (mod 10) re-ingested with a
    * corrected n_chars (replaces in place), every doc_id ≡ 0 (mod 25)
    * re-keyed high as a fresh insert. Built once per dataset behind
    * the usual marker — exercises the copy-on-write upsert the
    * reference's keyed re-ingest (q106's MERGE shape) needs once the
    * corpus lives in a manifest table. */
  def ensureMergedManifest(s: SparkSession, d: String): String =
    fixture(s, d, "docs_manifest_merged", "manifest=4ranged+merge",
        "documents") { path =>
      val docs = Tables.documents(s, d)
      val n = docs.count()
      val q = math.max(n / 4, 1)
      (0 until 4).foreach { i =>
        val loOk = if (i == 0) lit(true) else col("doc_id") >= i * q
        val hiOk = if (i == 3) lit(true) else col("doc_id") < (i + 1) * q
        graft.sinks.ManifestTable.append(s,
          docs.filter(loOk && hiOk), path, statsCols = Seq("doc_id"))
      }
      val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
      val updates = docs.filter(pmod(col("doc_id"), lit(10)) === 3)
        .withColumn("n_chars", col("n_chars") + 1000)
        .select(cols.map(col): _*)
      val inserts = docs.filter(pmod(col("doc_id"), lit(25)) === 0)
        .withColumn("doc_id", col("doc_id") + (1L << 40))
        .select(cols.map(col): _*)
      graft.sinks.ManifestTable.merge(s,
        updates.unionByName(inserts), path, "doc_id")
    }

  /** Documents ingested interleaved (4 commits by doc_id mod 4) WITH
    * per-dir Bloom filters on doc_id: min/max stats are useless here
    * (every commit's range spans the whole domain), but each commit's
    * KEY SET is small — so a point lookup (`doc_id = x`, `IN (...)`)
    * prunes to the dirs whose filters might contain the key. Built
    * once per dataset behind the usual marker. */
  def ensureBloomManifest(s: SparkSession, d: String): String =
    fixture(s, d, "docs_manifest_bloom", "manifest=mod4+bloom",
        "documents") { path =>
      val docs = Tables.documents(s, d)
      (0 until 4).foreach { i =>
        graft.sinks.ManifestTable.append(s,
          docs.filter(pmod(col("doc_id"), lit(4)) === i), path,
          statsCols = Seq("doc_id"), bloomCols = Seq("doc_id"))
      }
    }

  /** Documents keyed by a STRING id (`doc_key = 'doc-' || doc_id` —
    * the reference's hottest lookup shape is by CVE-id string,
    * /root/reference/chatbot_pg/main.py:89), ingested interleaved
    * (4 commits by doc_id mod 4) WITH per-dir string-keyed Bloom
    * filters on `doc_key`: the recorded string BOUNDS all span nearly
    * the whole key domain (useless), so the string Bloom filter is
    * the only prune a `WHERE doc_key = '…'` lookup gets. Built once
    * per dataset behind the usual marker. */
  def ensureStrBloomManifest(s: SparkSession, d: String): String =
    fixture(s, d, "docs_manifest_strbloom", "manifest=mod4+strbloom",
        "documents") { path =>
      val docs = Tables.documents(s, d)
        .withColumn("doc_key",
          concat(lit("doc-"), col("doc_id").cast("string")))
      (0 until 4).foreach { i =>
        graft.sinks.ManifestTable.append(s,
          docs.filter(pmod(col("doc_id"), lit(4)) === i), path,
          statsCols = Seq("doc_key"), bloomCols = Seq("doc_key"))
      }
    }

  /** The STRING-keyed twin of [[ensureMergedManifest]]: documents
    * keyed by `doc_key = 'doc-' || doc_id` (the reference upserts by
    * string cveId — `consumer/consumer.py:111-125`), ingested as 4
    * lexicographically-contiguous commits (grouped by the key's first
    * digit, so the recorded STRING bounds give merge's envelope
    * something to prune), then one `ManifestTable.merge` by the
    * string key: corrected n_chars for doc_id ≡ 3 (mod 10), fresh
    * `zzz-`-keyed inserts (past every existing bound) for
    * doc_id ≡ 0 (mod 25). Built once per dataset behind the usual
    * marker. */
  def ensureStrMergedManifest(s: SparkSession, d: String): String =
    fixture(s, d, "docs_manifest_strmerged", "manifest=strranged+merge",
        "documents") { path =>
      val docs = Tables.documents(s, d)
        .select(concat(lit("doc-"), col("doc_id").cast("string"))
            .as("doc_key"),
          col("lang"), col("n_chars"), col("doc_id"))
      val n = docs.count()
      val digit = substring(col("doc_key"), 5, 1).cast("int")
      val groups = Seq((0, 2), (3, 4), (5, 6), (7, 9))
      groups.foreach { case (lo, hi) =>
        graft.sinks.ManifestTable.append(s,
          docs.filter(digit >= lo && digit <= hi).drop("doc_id"),
          path, statsCols = Seq("doc_key"))
      }
      require(graft.sinks.ManifestTable.read(s, path).count() == n,
        "ensureStrMergedManifest: digit grouping dropped rows")
      val cols = Seq("doc_key", "lang", "n_chars")
      val updates = docs.filter(pmod(col("doc_id"), lit(10)) === 3)
        .withColumn("n_chars", col("n_chars") + 1000)
        .select(cols.map(col): _*)
      val inserts = docs.filter(pmod(col("doc_id"), lit(25)) === 0)
        .withColumn("doc_key",
          concat(lit("zzz-"), col("doc_id").cast("string")))
        .select(cols.map(col): _*)
      graft.sinks.ManifestTable.merge(s,
        updates.unionByName(inserts), path, "doc_key")
    }

  /** A documents-derived manifest table whose every MUTATION happens
    * through SQL statements (ManifestSqlRules): three `INSERT INTO`
    * range slices on top of a seeded first commit (the CREATE-TABLE-AS
    * stand-in — INSERT needs a committed schema to resolve against),
    * one `MERGE INTO … UPDATE SET * / INSERT *` upsert batch, one
    * `DELETE FROM … WHERE BETWEEN` range delete. This is how the
    * reference's users mutate their one real table — typed SQL, not a
    * programmatic API (INSERT at /root/reference/processor.py:55-62).
    * Built once per dataset behind the usual marker. */
  def ensureSqlDmlManifest(s: SparkSession, d: String): String =
    fixture(s, d, "docs_manifest_sqldml", "manifest=sqldml",
        "documents") { path =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val n = docs.count()
      val q = math.max(n / 4, 1)
      // seed commit (CTAS stand-in) through the same format's write
      // half; every mutation AFTER this line is a SQL statement
      docs.filter(col("doc_id") < q).write.format("graft-manifest")
        .option("statsCols", "doc_id").mode("append").save(path)
      graft.Sql.registerViews(s, d)
      s.read.format("graft-manifest").load(path)
        .createOrReplaceTempView("graft_sqldml_target")
      Seq(
        s"""INSERT INTO graft_sqldml_target
           |SELECT doc_id, lang, n_chars FROM documents
           |WHERE doc_id >= $q AND doc_id < ${2 * q}""".stripMargin,
        s"""INSERT INTO graft_sqldml_target
           |SELECT doc_id, lang, n_chars FROM documents
           |WHERE doc_id >= ${2 * q} AND doc_id < ${3 * q}""".stripMargin,
        s"""INSERT INTO graft_sqldml_target
           |SELECT doc_id, lang, n_chars FROM documents
           |WHERE doc_id >= ${3 * q}""".stripMargin,
        """CREATE OR REPLACE TEMPORARY VIEW graft_sqldml_updates AS
          |SELECT doc_id, lang, n_chars + 1000 AS n_chars
          |FROM documents WHERE doc_id % 10 = 3
          |UNION ALL
          |SELECT doc_id + 1099511627776 AS doc_id, lang, n_chars
          |FROM documents WHERE doc_id % 25 = 0""".stripMargin,
        """MERGE INTO graft_sqldml_target t
          |USING graft_sqldml_updates u ON t.doc_id = u.doc_id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin,
        "DELETE FROM graft_sqldml_target WHERE doc_id BETWEEN 100 AND 200"
      ).foreach(s.sql(_).collect())
    }

  /** A documents-derived manifest table mutated by the SQL UPDATE
    * family (ManifestSqlRules → ManifestTable.updateRange /
    * updateKeys / updateAll): the reference's per-row mutation loop
    * (consumer/consumer.py:111-125) generalizes to `UPDATE t SET col
    * = expr WHERE …` typed as warehouse SQL. Seeded as 4
    * doc_id-range-sliced commits so the ranged statement's dir
    * pruning has real prey, with lang bounds + Blooms so the
    * string-keyed statement prunes too; then one integral-range
    * UPDATE (in-place patch of overlapping dirs only), one
    * string-IN UPDATE, one whole-table UPDATE. Built once per
    * dataset behind the usual marker. */
  def ensureSqlUpdatedManifest(s: SparkSession, d: String): String =
    fixture(s, d, "docs_manifest_sqlupd", "manifest=sqlupd",
        "documents") { path =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val n = docs.count()
      val q = math.max(n / 4, 1)
      (0L until 4L).foreach { i =>
        val lo = i * q
        val slice = docs.filter(col("doc_id") >= lo &&
          (if (i == 3) lit(true) else col("doc_id") < lo + q))
        graft.sinks.ManifestTable.append(s, slice, path,
          statsCols = Seq("doc_id", "lang"), bloomCols = Seq("lang"))
      }
      require(graft.sinks.ManifestTable.read(s, path).count() == n,
        "ensureSqlUpdatedManifest: range slicing dropped rows")
      s.read.format("graft-manifest").load(path)
        .createOrReplaceTempView("graft_sqlupd_target")
      Seq(
        """UPDATE graft_sqlupd_target SET n_chars = n_chars + 7
          |WHERE doc_id BETWEEN 100 AND 299""".stripMargin,
        """UPDATE graft_sqlupd_target SET n_chars = n_chars * 2
          |WHERE lang IN ('de', 'fr')""".stripMargin,
        "UPDATE graft_sqlupd_target SET n_chars = n_chars + 1"
      ).foreach(s.sql(_).collect())
    }

  /** A documents-derived manifest table mutated by the COLUMN-WISE
    * SQL MERGE (ManifestSqlRules → ManifestTable.mergeUpdate): the
    * delta-carrying upsert — matched rows are PATCHED in place (only
    * the SET column changes; the target's other columns and its dirs'
    * physical clustering survive), unmatched source rows insert as
    * one batch dir. The source deliberately carries a DIFFERENT lang
    * ('xx') for matched keys: the oracle pins that matched rows keep
    * their ORIGINAL lang — the proof this is a patch, not a
    * whole-row replace. Built once per dataset behind the usual
    * marker. */
  def ensureSqlMergeUpdatedManifest(s: SparkSession, d: String): String =
    fixture(s, d, "docs_manifest_sqlmupd", "manifest=sqlmupd",
        "documents") { path =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val n = docs.count()
      val q = math.max(n / 4, 1)
      (0L until 4L).foreach { i =>
        val lo = i * q
        val slice = docs.filter(col("doc_id") >= lo &&
          (if (i == 3) lit(true) else col("doc_id") < lo + q))
        graft.sinks.ManifestTable.append(s, slice, path,
          statsCols = Seq("doc_id"))
      }
      require(graft.sinks.ManifestTable.read(s, path).count() == n,
        "ensureSqlMergeUpdatedManifest: range slicing dropped rows")
      graft.Sql.registerViews(s, d)
      s.read.format("graft-manifest").load(path)
        .createOrReplaceTempView("graft_sqlmupd_target")
      s.sql(
        """CREATE OR REPLACE TEMPORARY VIEW graft_sqlmupd_updates AS
          |SELECT doc_id, 'xx' AS lang, n_chars + 1000 AS n_chars
          |FROM documents WHERE doc_id % 10 = 3
          |UNION ALL
          |SELECT doc_id + 1099511627776 AS doc_id, lang, n_chars
          |FROM documents WHERE doc_id % 25 = 0""".stripMargin)
      s.sql(
        """MERGE INTO graft_sqlmupd_target t
          |USING graft_sqlmupd_updates u ON t.doc_id = u.doc_id
          |WHEN MATCHED THEN UPDATE SET n_chars = u.n_chars
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    }

  /** A documents-derived manifest table mutated by the FULL
    * ordered-clause SQL MERGE (ManifestSqlRules.generalMerge →
    * ManifestTable.mergeClauses): conditioned DELETE, fall-through
    * conditioned + unconditional UPDATE, conditioned INSERT *, and a
    * conditioned NOT MATCHED BY SOURCE UPDATE — the
    * retire-stale-records statement a migrating warehouse user types
    * first (the reference's delta re-ingest supersedes records,
    * /root/reference/download.py:17-35). Seeded as 4 range-sliced
    * commits so the key prune has prey. Built once per dataset
    * behind the usual marker. */
  def ensureMergeClausesManifest(s: SparkSession, d: String): String =
    fixture(s, d, "docs_manifest_mclauses", "manifest=mclauses",
        "documents") { path =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val n = docs.count()
      val q = math.max(n / 4, 1)
      (0L until 4L).foreach { i =>
        val lo = i * q
        val slice = docs.filter(col("doc_id") >= lo &&
          (if (i == 3) lit(true) else col("doc_id") < lo + q))
        graft.sinks.ManifestTable.append(s, slice, path,
          statsCols = Seq("doc_id"))
      }
      require(graft.sinks.ManifestTable.read(s, path).count() == n,
        "ensureMergeClausesManifest: range slicing dropped rows")
      s.read.format("graft-manifest").load(path)
        .createOrReplaceTempView("graft_mclauses_target")
      docs.createOrReplaceTempView("graft_mclauses_docs")
      s.sql(
        """CREATE OR REPLACE TEMPORARY VIEW graft_mclauses_updates AS
          |SELECT doc_id, 'xx' AS lang,
          |  CASE WHEN doc_id % 20 = 7 THEN -1 ELSE 1000 END AS n_chars
          |FROM graft_mclauses_docs
          |WHERE doc_id % 10 = 3 OR doc_id % 20 = 7
          |UNION ALL
          |SELECT doc_id + 1099511627776 AS doc_id, lang, n_chars
          |FROM graft_mclauses_docs WHERE doc_id % 25 = 0""".stripMargin)
      s.sql(
        """MERGE INTO graft_mclauses_target t
          |USING graft_mclauses_updates u ON t.doc_id = u.doc_id
          |WHEN MATCHED AND u.n_chars < 0 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET n_chars = t.n_chars + u.n_chars
          |WHEN NOT MATCHED AND u.n_chars % 2 = 0 THEN INSERT *
          |WHEN NOT MATCHED BY SOURCE AND t.doc_id % 50 = 49
          |  THEN UPDATE SET n_chars = 0""".stripMargin).collect()
    }

  /** A manifest table mutated by the GENERAL-predicate SQL DML pair —
    * the statements a migrating Delta/Iceberg user writes first:
    * `DELETE … WHERE lang = 'de' AND n_chars > k` (mixed string +
    * integral conjuncts no exact fast path denotes) and an `UPDATE …
    * WHERE … OR …` (routes with zero pruning extracted — still
    * exact). Both route [[graft.sinks.ManifestTable.deleteWhere]] /
    * `updateWhere`: the predicate runs verbatim in the staged
    * rewrite, dirs prune by the scan's own conjunct probe. Built
    * once per dataset behind the usual marker. */
  def ensureGeneralDmlManifest(s: SparkSession, d: String): String =
    fixture(s, d, "docs_manifest_gendml", "manifest=gendml",
        "documents") { path =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val n = docs.count()
      val q = math.max(n / 4, 1)
      (0L until 4L).foreach { i =>
        val lo = i * q
        val slice = docs.filter(col("doc_id") >= lo &&
          (if (i == 3) lit(true) else col("doc_id") < lo + q))
        graft.sinks.ManifestTable.append(s, slice, path,
          statsCols = Seq("doc_id", "lang", "n_chars"),
          bloomCols = Seq("lang"))
      }
      require(graft.sinks.ManifestTable.read(s, path).count() == n,
        "ensureGeneralDmlManifest: range slicing dropped rows")
      s.read.format("graft-manifest").load(path)
        .createOrReplaceTempView("graft_gendml_target")
      s.sql(
        "DELETE FROM graft_gendml_target " +
          "WHERE lang = 'de' AND n_chars > 600")
      s.sql(
        "UPDATE graft_gendml_target SET n_chars = n_chars + 11 " +
          "WHERE lang = 'en' AND (n_chars < 300 OR n_chars > 900)")
    }

  /** A manifest table upserted through a PARTIAL-COLUMN-INSERT SQL
    * MERGE — `WHEN NOT MATCHED THEN INSERT (cols) VALUES (…)` with
    * the nullable `lang` column omitted (explicit typed NULL) and
    * TWO ordered insert clauses whose values differ (the fired
    * clause decides each row's columns). The source carries only
    * (doc_id, n_chars) — partial-insert statements don't need a
    * table-width source. Built once per dataset behind the usual
    * marker. */
  def ensurePartialInsertMergedManifest(s: SparkSession, d: String)
      : String =
    fixture(s, d, "docs_manifest_pins", "manifest=pins", "documents") { path =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val n = docs.count()
      val q = math.max(n / 4, 1)
      (0L until 4L).foreach { i =>
        val lo = i * q
        val slice = docs.filter(col("doc_id") >= lo &&
          (if (i == 3) lit(true) else col("doc_id") < lo + q))
        graft.sinks.ManifestTable.append(s, slice, path,
          statsCols = Seq("doc_id"))
      }
      require(graft.sinks.ManifestTable.read(s, path).count() == n,
        "ensurePartialInsertMergedManifest: range slicing dropped rows")
      s.read.format("graft-manifest").load(path)
        .createOrReplaceTempView("graft_pins_target")
      docs.createOrReplaceTempView("graft_pins_docs")
      s.sql(
        """CREATE OR REPLACE TEMPORARY VIEW graft_pins_updates AS
          |SELECT doc_id, n_chars FROM graft_pins_docs
          |WHERE doc_id % 10 = 3
          |UNION ALL
          |SELECT doc_id + 1099511627776 AS doc_id, n_chars
          |FROM graft_pins_docs WHERE doc_id % 25 = 0""".stripMargin)
      s.sql(
        """MERGE INTO graft_pins_target t
          |USING graft_pins_updates u ON t.doc_id = u.doc_id
          |WHEN MATCHED THEN UPDATE SET n_chars = t.n_chars + u.n_chars
          |WHEN NOT MATCHED AND u.n_chars % 2 = 0
          |  THEN INSERT (doc_id, n_chars) VALUES (u.doc_id, u.n_chars * 2)
          |WHEN NOT MATCHED THEN INSERT (doc_id, n_chars)
          |  VALUES (u.doc_id, 0)""".stripMargin).collect()
    }

  /** A manifest table whose n_chars column was INT for its first two
    * commits, WIDENED to BIGINT as one metadata commit
    * ([[graft.sinks.ManifestTable.widenColumnType]]), then appended
    * with beyond-int values and patched by a general-predicate
    * UPDATE straddling both eras — the int32 files read widened at
    * scan, zero data movement at the widen itself. Built once per
    * dataset behind the usual marker. */
  def ensureWidenedManifest(s: SparkSession, d: String): String =
    fixture(s, d, "docs_manifest_widen", "manifest=widen",
        "documents") { path =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val n = docs.count()
      // two INT-era dirs (doc lengths fit int — the cast is exact)
      Seq(0L, 2L).foreach { r =>
        graft.sinks.ManifestTable.append(s,
          docs.filter(col("doc_id") % 4 === r)
            .withColumn("n_chars", col("n_chars").cast("int")),
          path, statsCols = Seq("doc_id", "n_chars"))
      }
      graft.sinks.ManifestTable.widenColumnType(s, path, "n_chars",
        org.apache.spark.sql.types.LongType)
      // post-widen dir: beyond-int values
      graft.sinks.ManifestTable.append(s,
        docs.filter(col("doc_id") % 2 === 1)
          .withColumn("n_chars", col("n_chars") + lit(8589934592L)),
        path, statsCols = Seq("doc_id", "n_chars"))
      require(graft.sinks.ManifestTable.read(s, path).count() == n,
        "ensureWidenedManifest: parity slicing dropped rows")
      s.read.format("graft-manifest").load(path)
        .createOrReplaceTempView("graft_widen_target")
      // a modular predicate: routes the GENERAL update path over
      // dirs from both physical eras in one staged rewrite
      s.sql(
        "UPDATE graft_widen_target SET n_chars = n_chars + 5 " +
          "WHERE doc_id % 10 = 3")
    }

  /** A NESTED-schema manifest table — documents re-shaped as
    * (doc_id, meta STRUCT<lang, n_chars>) with `statsCols` on the
    * DOTTED leaf paths (`meta.lang`, `meta.n_chars`) — the raw
    * CVE-shaped table's pruning story without a flattening pass:
    * per-dir leaf min/max/null stats record under the dotted key and
    * pushed nested-field conjuncts prune dirs through the same
    * FileIndex probe as top-level filters. Sliced into 4 n_chars
    * RANGES so the nested range filter has genuinely disjoint dirs
    * to skip. Built once per dataset behind the usual marker. */
  def ensureNestedStatsManifest(s: SparkSession, d: String): String =
    fixture(s, d, "docs_manifest_nested", "manifest=nested",
        "documents") { path =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          struct(col("lang"), col("n_chars")).as("meta"))
      val n = docs.count()
      // quartile slices on the LEAF value: nested-range-disjoint dirs
      val qs = docs.select(col("meta.n_chars").as("nc"))
        .stat.approxQuantile("nc", Array(0.25, 0.5, 0.75), 0.001)
        .map(_.toLong)
      val cuts = (Long.MinValue +: qs) :+ Long.MaxValue
      cuts.sliding(2).foreach { case Array(lo, hi) =>
        val slice = docs.filter(col("meta.n_chars") > lo &&
          col("meta.n_chars") <= hi)
        if (!slice.isEmpty)
          graft.sinks.ManifestTable.append(s, slice, path,
            statsCols = Seq("doc_id", "meta.lang", "meta.n_chars"))
      }
      require(graft.sinks.ManifestTable.read(s, path).count() == n,
        "ensureNestedStatsManifest: quantile slicing dropped rows")
    }

  /** A manifest table grown through a BRANCH lifecycle: main holds
    * the doc_id%3==0 slice; a branch forks, stages TWO commits (the
    * %3==1 slice verbatim, the %3==2 slice with n_chars+1000) that
    * main never sees, and fast-forwards as ONE atomic commit. The
    * cache marker stamps only after the fast-forward, so the built
    * artifact IS the post-fast-forward table. Built once per dataset
    * behind the usual marker. */
  def ensureBranchedManifest(s: SparkSession, d: String): String =
    fixture(s, d, "docs_manifest_branch", "manifest=branch",
        "documents") { path =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val n = docs.count()
      graft.sinks.ManifestTable.append(s,
        docs.filter(col("doc_id") % 3 === 0), path,
        statsCols = Seq("doc_id"))
      graft.sinks.ManifestTable.createBranch(s, path, "ingest")
      graft.sinks.ManifestTable.appendToBranch(s,
        docs.filter(col("doc_id") % 3 === 1), path, "ingest",
        statsCols = Seq("doc_id"))
      graft.sinks.ManifestTable.appendToBranch(s,
        docs.filter(col("doc_id") % 3 === 2)
          .withColumn("n_chars", col("n_chars") + lit(1000L)),
        path, "ingest", statsCols = Seq("doc_id"))
      // the audit: main oblivious, branch whole — enforced here so a
      // leaked branch commit fails the BUILD, not just the oracle
      require(graft.sinks.ManifestTable.read(s, path).count() ==
        docs.filter(col("doc_id") % 3 === 0).count(),
        "ensureBranchedManifest: a branch commit leaked into main")
      require(graft.sinks.ManifestTable
        .readBranch(s, path, "ingest").count() == n,
        "ensureBranchedManifest: the branch audit read lost rows")
      graft.sinks.ManifestTable.fastForwardBranch(s, path, "ingest")
    }

  /** A NESTED-schema manifest table whose LEAF `meta.n_chars` was
    * renamed to `meta.chars` as one field-id metadata commit: rows
    * committed BEFORE the rename resolve the leaf INSIDE its struct
    * by nested parquet field id, rows appended after land under the
    * new shape. Built once per dataset behind the usual marker. */
  def ensureNestedRenamedManifest(s: SparkSession, d: String): String =
    fixture(s, d, "docs_manifest_nrename", "manifest=nrename",
        "documents") { path =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val n = docs.count()
      graft.sinks.ManifestTable.append(s,
        docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"),
            struct(col("lang"), col("n_chars")).as("meta")),
        path, statsCols = Seq("doc_id", "meta.lang", "meta.n_chars"))
      graft.sinks.ManifestTable.renameColumn(s, path,
        "meta.n_chars", "chars")
      graft.sinks.ManifestTable.append(s,
        docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"),
            struct(col("lang"),
              col("n_chars").as("chars")).as("meta")),
        path, statsCols = Seq("doc_id", "meta.lang", "meta.chars"))
      require(graft.sinks.ManifestTable.read(s, path).count() == n,
        "ensureNestedRenamedManifest: parity slicing dropped rows")
    }

  /** A NESTED-schema manifest table patched by a NESTED-field SQL
    * UPDATE — `SET meta.n_chars = meta.n_chars + 7 WHERE doc_id % 10
    * = 3` folds onto the top-level struct through Column.withField
    * (in-place leaf patch; NULL parents stay NULL), routed by the
    * general-predicate update path. Built once per dataset behind
    * the usual marker. */
  def ensureNestedUpdatedManifest(s: SparkSession, d: String): String =
    fixture(s, d, "docs_manifest_nupd", "manifest=nupd", "documents") { path =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          struct(col("lang"), col("n_chars")).as("meta"))
      Seq(0L, 1L).foreach { r =>
        graft.sinks.ManifestTable.append(s,
          docs.filter(col("doc_id") % 2 === r), path,
          statsCols = Seq("doc_id", "meta.n_chars"))
      }
      s.read.format("graft-manifest").load(path)
        .createOrReplaceTempView("graft_nupd_target")
      s.sql(
        "UPDATE graft_nupd_target " +
          "SET meta.n_chars = meta.n_chars + 7 WHERE doc_id % 10 = 3")
    }

  /** A manifest table grown through a branch lifecycle WITH
    * MID-BRANCH DML — the audit-fix workflow: main holds the
    * doc_id%3==0 slice; a branch stages the %3==1 and %3==2 slices,
    * the audit finds bad rows and FIXES the staged batch in place
    * (`deleteFromBranch` drops staged 'de' rows, `updateBranch`
    * bumps staged odd n_chars by 1000 — base rows untouched by
    * both), then fast-forwards. Main obliviousness and base physical
    * identity are REQUIRED mid-build. Built once per dataset behind
    * the usual marker. */
  def ensureBranchDmlManifest(s: SparkSession, d: String): String =
    fixture(s, d, "docs_manifest_brdml", "manifest=brdml",
        "documents") { path =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      graft.sinks.ManifestTable.append(s,
        docs.filter(col("doc_id") % 3 === 0), path,
        statsCols = Seq("doc_id", "lang", "n_chars"))
      val baseFiles = graft.sinks.ManifestTable.read(s, path)
        .inputFiles.toSet
      graft.sinks.ManifestTable.createBranch(s, path, "fix")
      Seq(1, 2).foreach(r =>
        graft.sinks.ManifestTable.appendToBranch(s,
          docs.filter(col("doc_id") % 3 === r), path, "fix",
          statsCols = Seq("doc_id", "lang", "n_chars")))
      // the audit's fixes, scoped to the STAGED rows only
      graft.sinks.ManifestTable.deleteFromBranch(s, path, "fix",
        col("lang") === "de")
      graft.sinks.ManifestTable.updateBranch(s, path, "fix",
        pmod(col("n_chars"), lit(2)) === 1,
        Seq("n_chars" -> (col("n_chars") + lit(1000L))))
      require(graft.sinks.ManifestTable.read(s, path).inputFiles.toSet
        == baseFiles,
        "ensureBranchDmlManifest: branch DML touched main's dirs")
      graft.sinks.ManifestTable.fastForwardBranch(s, path, "fix")
    }

  /** A manifest table grown through the STREAM-WAP loop — streaming
    * ingest staged on a branch with the exactly-once batchId
    * discipline, audited (one staged-scope fix), fast-forwarded, and
    * the loop run a SECOND window to prove the re-opened branch's
    * watermark carries through main. Replay skips are REQUIRED
    * mid-build (a batch re-staged after its publish would be the
    * exactly-once contract breaking, not an oracle nuance), as is
    * main's physical obliviousness while a window stages. The
    * builder drives [[graft.sinks.ManifestTable
    * .appendToBranchIfFresh]] — the exact per-batch body of
    * [[graft.streaming.Streams.branchSinkWriter]]; the foreachBatch
    * wrapper itself is ManifestStreamSpec's job. Built once per
    * dataset behind the usual marker. */
  def ensureStreamWapManifest(s: SparkSession, d: String): String =
    fixture(s, d, "docs_manifest_swap", "manifest=swap", "documents") { path =>
      import graft.sinks.ManifestTable
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      ManifestTable.append(s, docs.filter(col("doc_id") % 4 === 0),
        path, statsCols = Seq("doc_id", "lang"))
      val baseFiles = ManifestTable.read(s, path).inputFiles.toSet
      def slice(r: Int) = docs.filter(col("doc_id") % 4 === r)
      // window 1: batches 0 and 1 stage; a replay of batch 0 must
      // skip on the branch's own tag watermark
      require(ManifestTable.appendToBranchIfFresh(s, slice(1), path,
        "ingest", batchId = 0L, statsCols = Seq("doc_id", "lang")))
      require(ManifestTable.appendToBranchIfFresh(s, slice(2), path,
        "ingest", batchId = 1L, statsCols = Seq("doc_id", "lang")))
      require(!ManifestTable.appendToBranchIfFresh(s, slice(1), path,
        "ingest", batchId = 0L),
        "ensureStreamWapManifest: a replayed batch must skip")
      require(ManifestTable.read(s, path).inputFiles.toSet == baseFiles,
        "ensureStreamWapManifest: staging touched main's dirs")
      // the audit's fix, scoped to the STAGED rows, then the publish
      ManifestTable.deleteFromBranch(s, path, "ingest",
        col("lang") === "de")
      ManifestTable.fastForwardBranch(s, path, "ingest")
      // window 2: the branch re-opens; freshness now flows through
      // MAIN's watermark (batch 1 must skip, batch 2 must stage)
      require(!ManifestTable.appendToBranchIfFresh(s, slice(2), path,
        "ingest", batchId = 1L),
        "ensureStreamWapManifest: a post-publish replay must skip " +
          "through main's folded watermark")
      require(ManifestTable.appendToBranchIfFresh(s, slice(3), path,
        "ingest", batchId = 2L, statsCols = Seq("doc_id", "lang")))
      ManifestTable.fastForwardBranch(s, path, "ingest")
    }

  /** A manifest table mutated by a SUBQUERY-predicate SQL DELETE —
    * `DELETE … WHERE key IN (SELECT key … WHERE lang = 'en' AND
    * n_chars % 7 = 3)`: the uncorrelated subquery MATERIALIZES at
    * rule time and its string point set routes MERGE-ON-READ through
    * deleteKeys (one tombstone write, zero data files rewritten —
    * enforced here so a routing regression fails the BUILD, not just
    * the oracle). Built once per dataset behind the usual marker. */
  def ensureSubqueryDeletedManifest(s: SparkSession, d: String)
      : String =
    fixture(s, d, "docs_manifest_sqdel", "manifest=sqdel",
        "documents") { path =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          concat(lit("d"), col("doc_id")).as("key"),
          col("lang"), col("n_chars"))
      Seq(0L, 1L).foreach { r =>
        graft.sinks.ManifestTable.append(s,
          docs.filter(col("doc_id") % 2 === r), path,
          statsCols = Seq("doc_id"), bloomCols = Seq("key"))
      }
      val before = graft.sinks.ManifestTable.entriesOf(s, path,
        graft.sinks.ManifestTable.latestVersion(s, path).get)
      s.read.format("graft-manifest").load(path)
        .createOrReplaceTempView("graft_sqdel_target")
      s.sql("DELETE FROM graft_sqdel_target WHERE key IN " +
        "(SELECT key FROM graft_sqdel_target " +
        "WHERE lang = 'en' AND n_chars % 7 = 3)")
      val v = graft.sinks.ManifestTable.latestVersion(s, path).get
      require(graft.sinks.ManifestTable.commitInfoOf(s, path, v)
        .exists(_._1 == "deleteKeys"),
        "ensureSubqueryDeletedManifest: the IN-subquery delete must " +
          "route merge-on-read (deleteKeys)")
      val after = graft.sinks.ManifestTable.entriesOf(s, path, v)
      require(after.map(e => e.dir -> e.files).toMap ==
        before.map(e => e.dir -> e.files).toMap,
        "ensureSubqueryDeletedManifest: merge-on-read must rewrite " +
          "zero data files")
    }

  /** A manifest table mutated by an OVER-CAP `IN (subquery)` DELETE:
    * the key set exceeds the inline-literal cap (lowered via the
    * session conf during the build — testdata cannot produce 100k
    * keys), so the statement AUTO-ROUTES through the DataFrame-valued
    * merge-on-read delete instead of refusing: same deleteKeys
    * commit, zero data files rewritten, the key set never collected.
    * The routing and the zero-rewrite bill are enforced at build
    * time. Built once per dataset behind the usual marker. */
  def ensureSubqueryJoinDeletedManifest(s: SparkSession, d: String)
      : String =
    fixture(s, d, "docs_manifest_sqjdel", "manifest=sqjdel",
        "documents") { path =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          concat(lit("d"), col("doc_id")).as("key"),
          col("lang"), col("n_chars"))
      Seq(0L, 1L).foreach { r =>
        graft.sinks.ManifestTable.append(s,
          docs.filter(col("doc_id") % 2 === r), path,
          statsCols = Seq("doc_id"), bloomCols = Seq("key"))
      }
      val before = graft.sinks.ManifestTable.entriesOf(s, path,
        graft.sinks.ManifestTable.latestVersion(s, path).get)
      s.read.format("graft-manifest").load(path)
        .createOrReplaceTempView("graft_sqjdel_target")
      val capK = "spark.graft.dml.maxInlineSubqueryKeys"
      val old = s.conf.getOption(capK)
      s.conf.set(capK, "10")
      // the key set must actually exceed the lowered cap, or the
      // INLINE route (which also lands on deleteKeys for string
      // points) would satisfy the requires below without the
      // auto-route ever firing
      require(docs.filter(col("lang") === "en" &&
        pmod(col("n_chars"), lit(5)) === 2).count() > 10,
        "ensureSubqueryJoinDeletedManifest: key set under the cap — " +
          "the over-cap route would not fire")
      try s.sql("DELETE FROM graft_sqjdel_target WHERE key IN " +
        "(SELECT key FROM graft_sqjdel_target " +
        "WHERE lang = 'en' AND n_chars % 5 = 2)")
      finally old match {
        case Some(v) => s.conf.set(capK, v)
        case None => s.conf.unset(capK)
      }
      val v = graft.sinks.ManifestTable.latestVersion(s, path).get
      require(graft.sinks.ManifestTable.commitInfoOf(s, path, v)
        .exists(_._1 == "deleteKeys"),
        "ensureSubqueryJoinDeletedManifest: the over-cap IN-subquery " +
          "delete must auto-route merge-on-read (deleteKeys)")
      val after = graft.sinks.ManifestTable.entriesOf(s, path, v)
      require(after.map(e => e.dir -> e.files).toMap ==
        before.map(e => e.dir -> e.files).toMap,
        "ensureSubqueryJoinDeletedManifest: the join route must " +
          "rewrite zero data files")
    }

  /** A manifest table mutated by an OVER-CAP `IN (subquery) AND
    * <residual>` DELETE — the route with residual conjuncts beside
    * the membership test: the key frame stays distributed, the
    * residual runs verbatim in the staged rewrite, and only rows
    * matching BOTH delete ([[ManifestTable.deleteKeysFrameWhere]]).
    * Routing is enforced at build time via the commit op, and a
    * member row failing the residual is REQUIRED to survive (the
    * exact bug a membership-only route would introduce). Built once
    * per dataset. */
  def ensureSubqueryResidualDeletedManifest(s: SparkSession, d: String)
      : String =
    fixture(s, d, "docs_manifest_sqresdel", "manifest=sqresdel",
        "documents") { path =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          concat(lit("d"), col("doc_id")).as("key"),
          col("lang"), col("n_chars"))
      Seq(0L, 1L).foreach { r =>
        graft.sinks.ManifestTable.append(s,
          docs.filter(col("doc_id") % 2 === r), path,
          statsCols = Seq("doc_id"), bloomCols = Seq("key"))
      }
      s.read.format("graft-manifest").load(path)
        .createOrReplaceTempView("graft_sqresdel_target")
      val capK = "spark.graft.dml.maxInlineSubqueryKeys"
      val old = s.conf.getOption(capK)
      s.conf.set(capK, "10")
      // the SUBQUERY's key set (n_chars % 5 = 2, any lang) must
      // exceed the lowered cap, and the residual (lang = 'en') must
      // genuinely narrow it — otherwise the pins below pin nothing
      require(docs.filter(pmod(col("n_chars"), lit(5)) === 2)
          .count() > 10,
        "ensureSubqueryResidualDeletedManifest: key set under the " +
          "cap — the over-cap route would not fire")
      require(docs.filter(pmod(col("n_chars"), lit(5)) === 2 &&
          col("lang") =!= "en").count() > 0,
        "ensureSubqueryResidualDeletedManifest: no member row fails " +
          "the residual — survival would be vacuous")
      try s.sql("DELETE FROM graft_sqresdel_target WHERE key IN " +
        "(SELECT key FROM graft_sqresdel_target " +
        "WHERE n_chars % 5 = 2) AND lang = 'en'")
      finally old match {
        case Some(v) => s.conf.set(capK, v)
        case None => s.conf.unset(capK)
      }
      val v = graft.sinks.ManifestTable.latestVersion(s, path).get
      require(graft.sinks.ManifestTable.commitInfoOf(s, path, v)
        .exists(_._1 == "deleteKeysFrameWhere"),
        "ensureSubqueryResidualDeletedManifest: the over-cap " +
          "IN-subquery + residual delete must route the frame-keyed " +
          "copy-on-write path (deleteKeysFrameWhere)")
      // membership without the residual must SURVIVE
      val survivors = graft.sinks.ManifestTable.read(s, path)
      require(survivors.filter(pmod(col("n_chars"), lit(5)) === 2 &&
          col("lang") =!= "en").count() > 0,
        "ensureSubqueryResidualDeletedManifest: member rows failing " +
          "the residual were deleted — the residual gate is broken")
      require(survivors.filter(pmod(col("n_chars"), lit(5)) === 2 &&
          col("lang") === "en").count() == 0,
        "ensureSubqueryResidualDeletedManifest: rows matching BOTH " +
          "must be gone")
    }

  /** A manifest table mutated by an OVER-CAP `IN (subquery)` UPDATE:
    * the DELETE route's copy-on-write twin ([[ManifestTable
    * .updateKeysFrame]]) — the key set stays a distributed frame,
    * only key-overlapping dirs rewrite, and the routing is enforced
    * at build time via the commit op. Built once per dataset. */
  def ensureSubqueryUpdatedManifest(s: SparkSession, d: String)
      : String =
    fixture(s, d, "docs_manifest_squpd", "manifest=squpd",
        "documents") { path =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          concat(lit("d"), col("doc_id")).as("key"),
          col("lang"), col("n_chars"))
      Seq(0L, 1L).foreach { r =>
        graft.sinks.ManifestTable.append(s,
          docs.filter(col("doc_id") % 2 === r), path,
          statsCols = Seq("doc_id"), bloomCols = Seq("key"))
      }
      s.read.format("graft-manifest").load(path)
        .createOrReplaceTempView("graft_squpd_target")
      val capK = "spark.graft.dml.maxInlineSubqueryKeys"
      val old = s.conf.getOption(capK)
      s.conf.set(capK, "10")
      require(docs.filter(col("lang") === "en" &&
        pmod(col("n_chars"), lit(3)) === 1).count() > 10,
        "ensureSubqueryUpdatedManifest: key set under the cap — " +
          "the over-cap route would not fire")
      try s.sql("UPDATE graft_squpd_target " +
        "SET n_chars = n_chars + 100000 WHERE key IN " +
        "(SELECT key FROM graft_squpd_target " +
        "WHERE lang = 'en' AND n_chars % 3 = 1)")
      finally old match {
        case Some(v) => s.conf.set(capK, v)
        case None => s.conf.unset(capK)
      }
      val v = graft.sinks.ManifestTable.latestVersion(s, path).get
      require(graft.sinks.ManifestTable.commitInfoOf(s, path, v)
        .exists(_._1 == "updateKeysFrame"),
        "ensureSubqueryUpdatedManifest: the over-cap IN-subquery " +
          "update must route through updateKeysFrame")
    }

  /** A manifest table keyed by a COMPOSITE business key — (grp, sub)
    * = (doc_id div 1000, doc_id mod 1000) — upserted through the SQL
    * MERGE's conjunctive `ON t.grp = u.grp AND t.sub = u.sub`:
    * matched rows PATCHED in place (the source carries lang='xx' for
    * them; the oracle keeps the target's lang — the patch proof,
    * q152's trap on two key columns), unmatched source rows appended.
    * Dir pruning runs conjunctively on both key columns'
    * recorded stats ([[graft.sinks.ManifestTable]]
    * dirsHitByKeysMulti). Built once per dataset behind the usual
    * marker. */
  def ensureCompositeKeyMergedManifest(s: SparkSession, d: String)
      : String =
    fixture(s, d, "docs_manifest_ckey", "manifest=ckey", "documents") { path =>
      val base = Tables.documents(s, d)
        .select(col("doc_id"),
          floor(col("doc_id") / 1000).cast("long").as("grp"),
          pmod(col("doc_id"), lit(1000)).cast("long").as("sub"),
          col("lang"), col("n_chars"))
      val n = base.count()
      val q = math.max(n / 4, 1)
      (0L until 4L).foreach { i =>
        val lo = i * q
        val slice = base.filter(col("doc_id") >= lo &&
          (if (i == 3) lit(true) else col("doc_id") < lo + q))
          .drop("doc_id")
        graft.sinks.ManifestTable.append(s, slice, path,
          statsCols = Seq("grp", "sub"))
      }
      require(graft.sinks.ManifestTable.read(s, path).count() == n,
        "ensureCompositeKeyMergedManifest: range slicing dropped rows")
      s.read.format("graft-manifest").load(path)
        .createOrReplaceTempView("graft_ckey_target")
      base.createOrReplaceTempView("graft_ckey_base")
      s.sql(
        """CREATE OR REPLACE TEMPORARY VIEW graft_ckey_updates AS
          |SELECT grp, sub, 'xx' AS lang, n_chars + 1000 AS n_chars
          |FROM graft_ckey_base WHERE doc_id % 10 = 3
          |UNION ALL
          |SELECT grp + 1000000 AS grp, sub, lang, n_chars
          |FROM graft_ckey_base WHERE doc_id % 25 = 0""".stripMargin)
      s.sql(
        """MERGE INTO graft_ckey_target t USING graft_ckey_updates u
          |ON t.grp = u.grp AND t.sub = u.sub
          |WHEN MATCHED THEN UPDATE SET n_chars = u.n_chars
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    }

  /** A documents-derived manifest table read ACROSS a column rename
    * (ManifestTable.renameColumn — one metadata commit on the
    * field-id mapping): half the rows committed under the OLD name
    * (their files resolve the renamed column BY parquet field id),
    * half appended under the new name after the rename, and an
    * in-place ranged UPDATE straddling both eras proves the staged
    * rewrite works on a mapped table. Built once per dataset behind
    * the usual marker. */
  def ensureRenamedColumnManifest(s: SparkSession, d: String): String =
    fixture(s, d, "docs_manifest_cmap", "manifest=cmap", "documents") { path =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val n = docs.count()
      val h = math.max(n / 2, 1)
      graft.sinks.ManifestTable.append(s,
        docs.filter(col("doc_id") < h), path,
        statsCols = Seq("doc_id", "n_chars"))
      graft.sinks.ManifestTable.renameColumn(s, path, "n_chars", "chars")
      graft.sinks.ManifestTable.append(s,
        docs.filter(col("doc_id") >= h)
          .withColumnRenamed("n_chars", "chars"), path,
        statsCols = Seq("doc_id", "chars"))
      graft.sinks.ManifestTable.updateRange(s, path, "doc_id",
        100L, 199L, Seq("chars" -> (col("chars") + 7)))
      require(graft.sinks.ManifestTable.read(s, path).count() == n,
        "ensureRenamedColumnManifest: rows lost across the rename")
    }

  /** A manifest table whose ENTIRE lifecycle — CREATE, every INSERT,
    * UPDATE, DELETE, and the final read — happens through the
    * catalog NAME (`graftcat.db.docs`), never a path or temp view:
    * the way the reference's users address their one table
    * (`cve.CVE_RECORDS`, /root/reference/chatbot_pg/main.py:89). The
    * GraftCatalog is registered on the session here (idempotent);
    * the managed table lands under the catalog's warehouse. Built
    * once per dataset behind the usual marker. */
  def ensureCatalogTable(s: SparkSession, d: String): String = {
    val wh = s"${layoutRoot(d)}/catalog_wh"
    s.conf.set("spark.sql.catalog.graftcat",
      "graft.catalog.GraftCatalog")
    s.conf.set("spark.sql.catalog.graftcat.warehouse", wh)
    fixture(s, d, "catalog_wh/db/docs", "manifest=catalog",
        "documents") { _ =>
      // the whole warehouse goes: the namespace lives beside the table
      val whPath = new org.apache.hadoop.fs.Path(wh)
      whPath.getFileSystem(s.sessionState.newHadoopConf()).delete(whPath, true)
      graft.Sql.registerViews(s, d)
      val q = math.max(Tables.documents(s, d).count() / 2, 1)
      Seq(
        "CREATE NAMESPACE graftcat.db",
        """CREATE TABLE graftcat.db.docs
          |(doc_id BIGINT, lang STRING, n_chars BIGINT)
          |USING `graft-manifest`
          |TBLPROPERTIES ('statsCols'='doc_id')""".stripMargin,
        s"""INSERT INTO graftcat.db.docs
           |SELECT doc_id, lang, n_chars FROM documents
           |WHERE doc_id < $q""".stripMargin,
        s"""INSERT INTO graftcat.db.docs
           |SELECT doc_id, lang, n_chars FROM documents
           |WHERE doc_id >= $q""".stripMargin,
        """UPDATE graftcat.db.docs SET n_chars = n_chars + 5
          |WHERE doc_id BETWEEN 50 AND 149""".stripMargin,
        "DELETE FROM graftcat.db.docs WHERE doc_id BETWEEN 300 AND 349"
      ).foreach(s.sql(_).collect())
    }
  }

  /** A catalog table maintained ENTIRELY through SQL — DML by name
    * plus the stored-procedure cadence ops (`CALL graftcat.system.
    * compact/cluster/rewrite_deletes`) — proving maintenance changes
    * the LAYOUT, never the answer: 4 small INSERTs bin-pack, the
    * clustered rewrite re-orders, a merge-on-read DELETE's tombstone
    * materializes, and the final content still equals the plain
    * recomputation. Shares q153's per-dataset warehouse. Built once
    * per dataset behind the usual marker. */
  def ensureMaintainedCatalogTable(s: SparkSession, d: String): String = {
    val wh = s"${layoutRoot(d)}/catalog_wh"
    s.conf.set("spark.sql.catalog.graftcat",
      "graft.catalog.GraftCatalog")
    s.conf.set("spark.sql.catalog.graftcat.warehouse", wh)
    fixture(s, d, "catalog_wh/db/maint", "manifest=maintcat",
        "documents") { path =>
      // scoped delete: ONLY this table's ref beside its dir (the
      // warehouse is shared with q153's table)
      val ref = new org.apache.hadoop.fs.Path(s"$wh/db/maint.graftref")
      ref.getFileSystem(s.sessionState.newHadoopConf()).delete(ref, false)
      graft.Sql.registerViews(s, d)
      val q = math.max(Tables.documents(s, d).count() / 4, 1)
      (Seq("CREATE NAMESPACE IF NOT EXISTS graftcat.db",
        """CREATE TABLE graftcat.db.maint
          |(doc_id BIGINT, lang STRING, n_chars BIGINT)
          |USING `graft-manifest`
          |TBLPROPERTIES ('statsCols'='doc_id',
          |  'bloomCols'='lang')""".stripMargin) ++
        (0L until 4L).map(i =>
          s"""INSERT INTO graftcat.db.maint
             |SELECT doc_id, lang, n_chars FROM documents
             |WHERE doc_id >= ${i * q} AND
             |  ${if (i == 3) "TRUE" else s"doc_id < ${(i + 1) * q}"}"""
            .stripMargin) ++ Seq(
        """UPDATE graftcat.db.maint SET n_chars = n_chars + 3
          |WHERE doc_id BETWEEN 200 AND 399""".stripMargin,
        "CALL graftcat.system.compact('db.maint')",
        "CALL graftcat.system.cluster('db.maint', 'doc_id', 4)",
        "DELETE FROM graftcat.db.maint WHERE lang = 'de'",
        "CALL graftcat.system.rewrite_deletes('db.maint')"
      )).foreach(s.sql(_).collect())
      // the cadence ops must leave ZERO pending tombstones and a
      // clustered layout — the builder is the op-level assertion
      val v = graft.sinks.ManifestTable.latestVersion(s, path).get
      require(graft.sinks.ManifestTable.entriesOf(s, path, v)
        .forall(_.dv.isEmpty),
        "ensureMaintainedCatalogTable: rewrite_deletes left tombstones")
    }
  }

  /** A documents-derived manifest table with a KNOWN mutation
    * history — two range-sliced appends (v1: doc_id < 250, v2: the
    * rest), one in-place UPDATE (n_chars + 7 for doc_id 100–199,
    * v3), one copy-on-write range DELETE (doc_id 300–349, v4) — the
    * fixture the change-data-feed query reads end-to-end. Built
    * once per dataset behind the usual marker. */
  def ensureChangeFeedTable(s: SparkSession, d: String): String =
    fixture(s, d, "docs_manifest_cdf", "manifest=cdf", "documents") { path =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      graft.sinks.ManifestTable.append(s,
        docs.filter(col("doc_id") < 250), path,
        statsCols = Seq("doc_id"))
      graft.sinks.ManifestTable.append(s,
        docs.filter(col("doc_id") >= 250), path,
        statsCols = Seq("doc_id"))
      graft.sinks.ManifestTable.updateRange(s, path, "doc_id",
        100L, 199L, Seq("n_chars" -> (col("n_chars") + 7)))
      graft.sinks.ManifestTable.deleteRange(s, path, "doc_id",
        300L, 349L)
    }

  /** A manifest table guarded by a CHECK constraint: seeded with the
    * first half of documents, `ALTER TABLE ADD CONSTRAINT`-style
    * `addConstraint("n_chars_pos", "n_chars > 0")`, then fed the
    * second half TWICE — once corrupted (n_chars negated for
    * doc_id ≡ 0 mod 7; the whole batch is REFUSED at the write
    * boundary and the table must be left untouched) and once repaired
    * (violators dropped; lands). The builder fails loudly if the
    * violating append is ever admitted — the cached artifact embodies
    * the gate working. Built once per dataset behind the usual
    * marker. */
  def ensureConstrainedManifest(s: SparkSession, d: String): String =
    fixture(s, d, "docs_manifest_checked", "manifest=check",
        "documents") { path =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val n = docs.count()
      val h = math.max(n / 2, 1)
      graft.sinks.ManifestTable.append(s,
        docs.filter(col("doc_id") < h), path,
        statsCols = Seq("doc_id"))
      graft.sinks.ManifestTable.addConstraint(s, path,
        "n_chars_pos", "n_chars > 0")
      val second = docs.filter(col("doc_id") >= h)
      val corrupted = second.withColumn("n_chars",
        when(pmod(col("doc_id"), lit(7)) === 0, -col("n_chars"))
          .otherwise(col("n_chars")))
      val admitted =
        try { graft.sinks.ManifestTable.append(s, corrupted, path); true }
        catch { case e: IllegalArgumentException
            if e.getMessage.contains("n_chars_pos") => false }
      require(!admitted, "ensureConstrainedManifest: the violating " +
        "batch was admitted — CHECK enforcement is broken")
      require(graft.sinks.ManifestTable.latestVersion(s, path)
        .contains(2L), "ensureConstrainedManifest: a refused append " +
        "must leave the table version untouched")
      graft.sinks.ManifestTable.append(s,
        second.filter(pmod(col("doc_id"), lit(7)) =!= 0), path)
    }

  /** The Bloom-manifest layout after a MERGE-ON-READ delete cycle
    * ([[graft.sinks.ManifestTable.deleteKeys]]): every doc_id ≡ 3
    * (mod 7) equality-deleted via ONE tombstone write — zero data
    * dirs rewritten, builder-asserted — then the low-id slice of
    * those keys RE-INSERTED as a fresh commit (the per-dir scoping
    * case: a tombstone must never reach past its own dirs onto later
    * ingest). Built once per dataset behind the usual marker. */
  def ensureDvManifest(s: SparkSession, d: String): String =
    fixture(s, d, "docs_manifest_dv", "manifest=mod4+dv", "documents") { path =>
      val docs = Tables.documents(s, d)
      (0 until 4).foreach { i =>
        graft.sinks.ManifestTable.append(s,
          docs.filter(pmod(col("doc_id"), lit(4)) === i), path,
          statsCols = Seq("doc_id", "lang"), bloomCols = Seq("doc_id"))
      }
      val dirsBefore = graft.sinks.ManifestTable
        .entriesOf(s, path, 4L).map(_.dir).toSet
      graft.sinks.ManifestTable.deleteKeys(s,
        docs.filter(pmod(col("doc_id"), lit(7)) === 3).select("doc_id"),
        path, "doc_id")
      // the merge-on-read contract, asserted at build time: the
      // delete moved METADATA only — same data dirs, new version
      require(graft.sinks.ManifestTable.entriesOf(s, path, 5L)
        .map(_.dir).toSet == dirsBefore,
        "ensureDvManifest: deleteKeys rewrote data dirs")
      graft.sinks.ManifestTable.append(s,
        docs.filter(pmod(col("doc_id"), lit(7)) === 3 &&
          col("doc_id") < 20), path)
    }

  /** A manifest table that survived a BAD DEPLOY: two good commits,
    * one corrupting overwrite, one
    * [[graft.sinks.ManifestTable.restore]] back to the good snapshot
    * (data-movement-free: the rollback manifest references the
    * original dirs — builder-asserted), then one post-rollback append
    * proving the table keeps living. Built once per dataset behind
    * the usual marker. */
  def ensureRestoredManifest(s: SparkSession, d: String): String =
    fixture(s, d, "docs_manifest_restored", "manifest=restore",
        "documents") { path =>
      val docs = Tables.documents(s, d)
      val n = docs.count()
      val h = math.max(n / 2, 1)
      graft.sinks.ManifestTable.append(s,
        docs.filter(col("doc_id") < h), path, statsCols = Seq("doc_id"))
      graft.sinks.ManifestTable.append(s,
        docs.filter(col("doc_id") >= h), path)
      val good = 2L
      val goodDirs = graft.sinks.ManifestTable
        .entriesOf(s, path, good).map(_.dir).toSet
      // the bad deploy: an overwrite that zeroes the corpus text stats
      graft.sinks.ManifestTable.overwrite(s,
        docs.withColumn("n_chars", lit(-1L)), path)
      val v = graft.sinks.ManifestTable.restore(s, path, good)
      require(graft.sinks.ManifestTable.entriesOf(s, path, v)
        .map(_.dir).toSet == goodDirs,
        "ensureRestoredManifest: restore must reference the original " +
          "dirs, not copy them")
      graft.sinks.ManifestTable.append(s,
        docs.filter(pmod(col("doc_id"), lit(10)) === 0)
          .withColumn("doc_id", col("doc_id") + (1L << 41)), path)
    }

  /** Documents ingested ARRIVAL-ORDERED (4 commits by doc_id mod 4 —
    * every commit spans the full id range, so manifest range pruning
    * is vacuous), then rewritten by
    * [[graft.sinks.ManifestTable.cluster]] into 4 range-disjoint
    * dirs: the OPTIMIZE maintenance shape that retrofits prunability
    * onto a table whose ingest order didn't provide it. Built once
    * per dataset behind the usual marker. */
  def ensureClusteredManifest(s: SparkSession, d: String): String =
    fixture(s, d, "docs_manifest_clustered", "manifest=mod4+cluster4",
        "documents") { path =>
      val docs = Tables.documents(s, d)
      (0 until 4).foreach { i =>
        graft.sinks.ManifestTable.append(s,
          docs.filter(pmod(col("doc_id"), lit(4)) === i), path,
          statsCols = Seq("doc_id"))
      }
      graft.sinks.ManifestTable.cluster(s, path, "doc_id", 4)
    }

  /** Documents ingested arrival-ordered (4 commits by doc_id mod 4 —
    * both doc_id AND n_chars stats vacuous), then rewritten by
    * [[graft.sinks.ManifestTable.clusterZ]] into 16 Z-ordered dirs on
    * (doc_id, n_chars): each dir tiles a near-square patch of the 2-D
    * key space, so a range predicate on EITHER column prunes dirs
    * from the manifest alone — the OPTIMIZE ZORDER BY maintenance
    * shape for a table with two independent hot filter columns, where
    * single-axis clustering serves only its lead column. Built once
    * per dataset behind the usual marker. */
  def ensureZClusteredManifest(s: SparkSession, d: String): String =
    fixture(s, d, "docs_manifest_zclustered", "manifest=mod4+zcluster16",
        "documents") { path =>
      val docs = Tables.documents(s, d)
      (0 until 4).foreach { i =>
        graft.sinks.ManifestTable.append(s,
          docs.filter(pmod(col("doc_id"), lit(4)) === i), path,
          statsCols = Seq("doc_id", "n_chars"))
      }
      graft.sinks.ManifestTable.clusterZ(s, path, "doc_id", "n_chars", 16)
    }

  /** A curated corpus built INCREMENTALLY with manifest tables as the
    * pipeline's spine (q131): documents land as three ascending-range
    * commits in a `landing` manifest table; after each commit an
    * incremental curator consumes exactly the new rows via
    * [[graft.sinks.ManifestTable.readSince]], runs
    * [[graft.Pipeline.curateIncrement]] against the `curated` table's
    * own fp column (no separate state), and appends the survivors as
    * a new curated commit. The landing table is COMPACTED mid-run —
    * provenance makes the rewrite invisible to the drained consumer,
    * which is precisely the contract that lets table maintenance and
    * incremental consumers coexist at 100 TB. Built once per dataset
    * behind the usual marker. */
  def ensureCuratedManifest(s: SparkSession, d: String): String =
    fixture(s, d, "curated_mf", "curated=3batches+midcompact",
        "documents") { root =>
      import graft.sinks.ManifestTable
      val docs = Tables.documents(s, d)
      val n = docs.count()
      val landing = s"$root/landing"
      val curated = s"$root/curated"
      val q = math.max(n / 3, 1)
      var ckpt = 0L // the curator's landing-version checkpoint
      (0 until 3).foreach { i =>
        val loOk = if (i == 0) lit(true) else col("doc_id") >= i * q
        val hiOk = if (i == 2) lit(true) else col("doc_id") < (i + 1) * q
        ManifestTable.append(s, docs.filter(loOk && hiOk), landing,
          statsCols = Seq("doc_id"))
        // consume EXACTLY the new rows; admission state is the curated
        // table itself (its fp column — column-pruned probe)
        val fresh = ManifestTable.readSince(s, landing, ckpt)
        val state = ManifestTable.latestVersion(s, curated)
          .map(_ => ManifestTable.read(s, curated))
        ManifestTable.append(s,
          graft.Pipeline.curateIncrement(fresh, state), curated,
          statsCols = Seq("doc_id"))
        ckpt = ManifestTable.latestVersion(s, landing).get
        // mid-run maintenance: the drained consumer must not notice
        if (i == 1) ManifestTable.compact(s, landing)
      }
    }

  /** The q113 plan, exposed for the PlanSpec pin (bloom probe inside
    * the scan stage, semi join after). */
  def bloomPrefilterJoin(s: SparkSession, d: String): DataFrame = {
    val dim = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    // size the filter from the dim's REAL cardinality (a metadata-cheap
    // count of the small side — the same side a broadcast join would
    // collect whole); fpp 0.01 bounds the false-positive tail the
    // exact semi-join below removes
    val nKeys = math.max(dim.count(), 1L)
    val bloom = RuntimeFilters.bloomBytes(dim, "c_custkey", nKeys, 0.01)
    Tables.orders(s, d)
      .filter(RuntimeFilters.mightContain(col("o_custkey"), bloom))
      .join(dim.withColumnRenamed("c_custkey", "o_custkey"),
        Seq("o_custkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        round(decSum(col("o_totalprice"), 2), 2).as("total"))
      .orderBy("o_orderpriority")
  }

  /** The q119 plan: the SAME semantics as q113, but written as a PLAIN
    * semi-join — the Bloom probe is inserted by the optimizer
    * ([[graft.plans.InjectBloomPrefilter]], installed via
    * [[graft.GraftExtensions]]), not by hand. Runs in a child session
    * (shared SparkContext, own SQLConf) with the rule's size gates
    * opened so it fires at test scale — at 100 TB the DEFAULT gates
    * (app ≥ 64 MB, dim ≤ 256 MB, ratio ≥ 8) fire on every fact ⋈ dim
    * join that matters, with no per-query conf at all. Broadcast is
    * disabled because that is the regime the rule exists for: at scale
    * neither side broadcasts and the probe cuts the big side's shuffle.
    * Exposed for the BloomInjectSpec plan pin. */
  def autoBloomJoin(s: SparkSession, d: String): DataFrame = {
    val s2 = s.newSession()
    // newSession starts from the BUILDER's options, not the parent's
    // runtime conf — mirror the codegen-mode knobs so the
    // CodegenOnlySpec sweep's compile-under-codegen guarantee covers
    // this query's child session too
    Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode",
      "spark.sql.codegen.fallback")
      .foreach(k => s.conf.getOption(k).foreach(s2.conf.set(k, _)))
    s2.conf.set("spark.graft.bloomJoin.applicationSideMinBytes", "1")
    s2.conf.set("spark.graft.bloomJoin.minSizeRatio", "1")
    // both thresholds: the static one gates planning (and the rule's
    // own broadcast exemption); AQE's separate adaptive threshold
    // would otherwise convert the join back to broadcast at runtime
    // and silently erase the shuffle the probe exists to cut
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val dim = Tables.customer(s2, d)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    Tables.orders(s2, d)
      .join(dim, col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        round(decSum(col("o_totalprice"), 2), 2).as("total"))
      .orderBy("o_orderpriority")
  }

  val all: Seq[GraftQuery] = Seq(

    // ---- Bloom runtime join filter: probe the dim-key Bloom filter in
    //      orders' scan stage, exact semi-join the survivors. The
    //      filter only moves the cut pre-shuffle — the oracle is the
    //      plain semi-join, which the composed result must equal
    //      exactly (false positives die in the join, false negatives
    //      cannot exist). ----
    GraftQuery("q113_bloom_prefilter_join",
      s"""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
         |  round(${decSumSql("o_totalprice", 2)}, 2) AS total
         |FROM orders o
         |WHERE EXISTS (SELECT 1 FROM customer c
         |              WHERE c.c_custkey = o.o_custkey
         |                AND c.c_mktsegment = 'BUILDING')
         |GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin)(bloomPrefilterJoin),

    // ---- The same cut, applied AUTOMATICALLY by the optimizer: a
    //      plain semi-join that InjectBloomPrefilter rewrites into
    //      bloom-probe-then-exact-join (plan-pinned in BloomInjectSpec).
    //      Same oracle as q113: injection must never change the answer. ----
    GraftQuery("q119_auto_bloom_join",
      s"""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
         |  round(${decSumSql("o_totalprice", 2)}, 2) AS total
         |FROM orders o
         |WHERE EXISTS (SELECT 1 FROM customer c
         |              WHERE c.c_custkey = o.o_custkey
         |                AND c.c_mktsegment = 'BUILDING')
         |GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin)(autoBloomJoin),

    // ---- Static partition pruning: the same orders rows laid out as
    //      o_year=YYYY directories; a two-year filter reads two
    //      directories at planning time (PartitionFilters, pinned in
    //      LayoutSpec) — on a 20-year 100 TB table, a 90% scan cut
    //      before any I/O. Oracle recomputes from the UNPARTITIONED
    //      parquet: the layout must not change the answer. ----
    GraftQuery("q114_partition_pruned_scan",
      s"""SELECT CAST(strftime(o_orderdate, '%Y') AS INTEGER) AS o_year,
         |  o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
         |  round(${decSumSql("o_totalprice", 2)}, 2) AS total
         |FROM orders
         |WHERE CAST(strftime(o_orderdate, '%Y') AS INTEGER) BETWEEN 1996 AND 1997
         |GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val path = ensurePartitionedOrders(s, d)
      s.read.parquet(path)
        .filter(col("o_year").between(1996, 1997))
        .groupBy(col("o_year").cast("int").as("o_year"),
          col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(decSum(col("o_totalprice"), 2), 2).as("total"))
        .orderBy("o_year", "o_orderpriority")
    },

    // ---- Bucketed co-located join: both sides pre-bucketed on the
    //      join key, so the recurring join runs with no exchange
    //      (pinned in LayoutSpec with broadcast disabled — at 100 TB
    //      neither side broadcasts and this IS the plan). Oracle is
    //      the plain parquet join. ----
    GraftQuery("q115_bucketed_colocated_join",
      s"""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
         |  round(${decSumSql("o_totalprice", 2)}, 2) AS total
         |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         |GROUP BY c_mktsegment
         |ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      val (ordersTbl, custTbl) = ensureBucketedPair(s, d)
      s.table(ordersTbl)
        .join(s.table(custTbl),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          round(decSum(col("o_totalprice"), 2), 2).as("total"))
        .orderBy("c_mktsegment")
    },

    // ---- Min/max (zone-map) row-group pruning: the same lineitem
    //      rows range-sorted by l_shipdate, so a one-quarter predicate
    //      decodes ~1-2 of 16 row groups (footer stats skip the rest —
    //      asserted from the footers themselves in LayoutSpec, where a
    //      shuffled same-file-count copy overlaps ALL groups). On a
    //      100 TB / multi-year table this is the scan cut for
    //      predicates too fine for directory partitioning. Oracle
    //      recomputes from the UNSORTED parquet: layout never changes
    //      the answer. ----
    GraftQuery("q118_sorted_minmax_scan",
      s"""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
         |  ${decSumSql("l_quantity", 2)} AS sum_qty,
         |  round(${decSumSql("l_extendedprice", 2)}, 2) AS sum_price
         |FROM lineitem
         |WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01' AND TIMESTAMP '1997-03-31'
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val path = ensureSortedLineitem(s, d)
      s.read.parquet(path)
        .filter(col("l_shipdate").between(
          lit("1997-01-01").cast("timestamp"),
          lit("1997-03-31").cast("timestamp")))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          decSum(col("l_quantity"), 2).as("sum_qty"),
          round(decSum(col("l_extendedprice"), 2), 2).as("sum_price"))
        .orderBy("l_returnflag")
    },

    // ---- Z-order (Morton) 2-D clustering: the same lineitem rows
    //      tiled on (l_partkey, l_suppkey), so a selective range on
    //      EITHER column skips most row groups from footer stats — the
    //      layout q118's single-axis sort cannot give the second hot
    //      column (ZOrderSpec pins the per-axis overlap fractions from
    //      the footers, against a single-sorted control). Oracle
    //      recomputes from the UNCLUSTERED parquet: layout never
    //      changes the answer. ----
    GraftQuery("q121_zorder_two_col_scan",
      s"""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
         |  ${decSumSql("l_quantity", 2)} AS sum_qty,
         |  round(${decSumSql("l_extendedprice", 2)}, 2) AS sum_price
         |FROM lineitem
         |WHERE l_partkey BETWEEN 100 AND 220 OR l_suppkey BETWEEN 10 AND 15
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val path = ensureZOrderedLineitem(s, d)
      s.read.parquet(path)
        .filter(col("l_partkey").between(100, 220) ||
          col("l_suppkey").between(10, 15))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          decSum(col("l_quantity"), 2).as("sum_qty"),
          round(decSum(col("l_extendedprice"), 2), 2).as("sum_price"))
        .orderBy("l_returnflag")
    },

    // ---- Inverted-index keyword search: conjunctive term query
    //      answered from the posting table (pushed term predicate +
    //      key semi-join back to the corpus) instead of a full corpus
    //      text scan — the layout lever for text predicates, same
    //      pay-once shape as the ANN indexes. Oracle recomputes the
    //      token-set membership directly on the text: the index must
    //      return EXACTLY the scan's answer. ----
    GraftQuery("q122_inverted_keyword_search",
      """SELECT doc_id, lang, source, n_chars
        |FROM documents
        |WHERE list_contains(list_filter(string_split_regex(lower(text),
        |        '\s+'), x -> x <> ''), 'dup')
        |  AND list_contains(list_filter(string_split_regex(lower(text),
        |        '\s+'), x -> x <> ''), 'vector')
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val path = ensurePostings(s, d)
      graft.text.InvertedIndex.search(s, path, Tables.documents(s, d),
          Seq("dup", "vector"))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    },

    // ---- BM25-shaped ranked keyword search off the scored posting
    //      table: disjunctive two-term query, rational (libm-free) idf
    //      so every score is a fixed expression tree over exact
    //      integers and the oracle's recomputed doubles are
    //      bit-identical. The oracle rebuilds tf/dl/df/N/T from the
    //      raw text — the index path must produce EXACTLY the scan's
    //      ranking. ----
    GraftQuery("q124_bm25_ranked_search",
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '') AS toks FROM documents),
        |d AS (SELECT doc_id, toks, len(toks) AS dl FROM t
        |      WHERE len(toks) > 0),
        |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |          CAST(SUM(dl) AS BIGINT) AS tot FROM d),
        |p AS (SELECT doc_id, dl, term, tf FROM (
        |    SELECT doc_id, dl, 'dup' AS term,
        |      CAST(len(list_filter(toks, x -> x = 'dup')) AS BIGINT) AS tf
        |    FROM d
        |    UNION ALL
        |    SELECT doc_id, dl, 'vector' AS term,
        |      CAST(len(list_filter(toks, x -> x = 'vector')) AS BIGINT) AS tf
        |    FROM d)
        |  WHERE tf > 0),
        |f AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
        |      FROM p GROUP BY term),
        |sc AS (SELECT p.doc_id,
        |    SUM(((s.n - f.df + 0.5) / (f.df + 0.5)) *
        |        ((p.tf * 2.2) /
        |         (p.tf + 1.2 * (0.25 + 0.75 * (p.dl * s.n / s.tot)))))
        |      AS score
        |  FROM p JOIN f ON p.term = f.term CROSS JOIN stats s
        |  GROUP BY p.doc_id)
        |SELECT doc_id, round(score, 6) AS score FROM sc
        |ORDER BY round(score, 6) DESC, doc_id
        |LIMIT 15""".stripMargin) { (s, d) =>
      val path = ensureScoredPostings(s, d)
      graft.text.InvertedIndex.rankedSearch(s, path,
        Seq("dup", "vector"), k = 15)
    },

    // ---- exact-phrase search off the positional posting table: the
    //      ORDER-sensitive query the set-membership index cannot
    //      answer. Index path: per-term posting slices joined on
    //      doc_id, adjacency verified with array lambdas, key
    //      semi-join back — corpus text never read. Oracle recomputes
    //      phrase containment on the space-joined token list
    //      (padded, so matches are exact token sequences, never
    //      substring accidents). ----
    GraftQuery("q125_phrase_search",
      """SELECT doc_id, lang, n_chars
        |FROM documents
        |WHERE contains(
        |  ' ' || array_to_string(list_filter(string_split_regex(
        |    lower(text), '\s+'), x -> x <> ''), ' ') || ' ',
        |  ' big order scan ')
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val path = ensurePositionalPostings(s, d)
      graft.text.InvertedIndex.phraseSearch(s, path,
          Tables.documents(s, d), Seq("big", "order", "scan"))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    },

    // ---- hybrid retrieval: reciprocal-rank fusion of the BM25 text
    //      ranking (q124's scored postings) and the cosine embedding
    //      ranking (q20's convention, query = vec_id 7) — the modern
    //      two-tower retrieval composition, as one oracle-checked
    //      query. RRF works on RANKS (integers), so fusion is the
    //      rational 1/(60+r) sum — deterministic cross-engine like
    //      q124's rational idf; both engines rank with the identical
    //      (rounded score, id) total order before fusing. Docs missing
    //      from one ranking contribute only the other term
    //      (full-outer + coalesce). Scale shape: each ranker is its
    //      own bounded top-N (posting slices / broadcast-probe KNN);
    //      fusion joins two ≤N-row frames. ----
    GraftQuery("q126_hybrid_rrf", {
      val cosSql =
        """list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(q.q_emb AS DOUBLE[])) /
          |      (sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
          |       * sqrt(list_inner_product(CAST(q.q_emb AS DOUBLE[]), CAST(q.q_emb AS DOUBLE[]))))""".stripMargin
      s"""WITH t AS (SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '\\s+'),
         |      x -> x <> '') AS toks FROM documents),
         |d AS (SELECT doc_id, toks, len(toks) AS dl FROM t
         |      WHERE len(toks) > 0),
         |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |          CAST(SUM(dl) AS BIGINT) AS tot FROM d),
         |p AS (SELECT doc_id, dl, term, tf FROM (
         |    SELECT doc_id, dl, 'dup' AS term,
         |      CAST(len(list_filter(toks, x -> x = 'dup')) AS BIGINT) AS tf
         |    FROM d
         |    UNION ALL
         |    SELECT doc_id, dl, 'vector' AS term,
         |      CAST(len(list_filter(toks, x -> x = 'vector')) AS BIGINT) AS tf
         |    FROM d)
         |  WHERE tf > 0),
         |f AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
         |      FROM p GROUP BY term),
         |sc AS (SELECT p.doc_id,
         |    round(SUM(((s.n - f.df + 0.5) / (f.df + 0.5)) *
         |        ((p.tf * 2.2) /
         |         (p.tf + 1.2 * (0.25 + 0.75 * (p.dl * s.n / s.tot))))), 6)
         |      AS score
         |  FROM p JOIN f ON p.term = f.term CROSS JOIN stats s
         |  GROUP BY p.doc_id),
         |bm AS (SELECT doc_id, row_number() OVER
         |        (ORDER BY score DESC, doc_id) AS r_t
         |      FROM (SELECT doc_id, score FROM sc
         |            ORDER BY score DESC, doc_id LIMIT 100)),
         |q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 7),
         |cs AS (SELECT e.vec_id AS doc_id, $cosSql AS sim
         |       FROM embeddings e CROSS JOIN q),
         |cv AS (SELECT doc_id, row_number() OVER
         |        (ORDER BY round(sim, 6) DESC, doc_id) AS r_v
         |      FROM (SELECT doc_id, round(sim, 6) AS sim FROM cs
         |            ORDER BY round(sim, 6) DESC, doc_id LIMIT 100)),
         |fused AS (SELECT COALESCE(bm.doc_id, cv.doc_id) AS doc_id,
         |    round(COALESCE(1.0 / (60 + bm.r_t), 0.0) +
         |          COALESCE(1.0 / (60 + cv.r_v), 0.0), 9) AS rrf
         |  FROM bm FULL OUTER JOIN cv ON bm.doc_id = cv.doc_id)
         |SELECT doc_id, rrf FROM fused
         |ORDER BY rrf DESC, doc_id
         |LIMIT 20""".stripMargin
    }) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val N = 100
      // both windows run over LIMITed <=N-row frames — bounded by
      // construction, not a corpus-wide global window
      val bm = graft.text.InvertedIndex
        .rankedSearch(s, ensureScoredPostings(s, d),
          Seq("dup", "vector"), N)
        .withColumn("r_t", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id"))))
        .select(col("doc_id"), col("r_t"))
      val qv = Tables.embeddings(s, d).filter(col("vec_id") === 7)
        .select(col("embedding").as("q_emb"))
      val cv = Tables.embeddings(s, d).crossJoin(broadcast(qv))
        .select(col("vec_id").as("doc_id"),
          round(graft.functions.VectorFunctions
            .cosine(col("embedding"), col("q_emb")), 6).as("sim"))
        .orderBy(col("sim").desc, col("doc_id")).limit(N)
        .withColumn("r_v", row_number().over(
          Window.orderBy(col("sim").desc, col("doc_id"))))
        .select(col("doc_id"), col("r_v"))
      bm.join(cv, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          round(coalesce(lit(1.0) / (lit(60) + col("r_t")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("r_v")), lit(0.0)), 9)
            .as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(20)
    },

    // ---- manifest-table snapshot read: documents ingested as four
    //      manifest commits — the query reads the LATEST snapshot via
    //      the manifest's file list (one small metadata read, no
    //      data-root listing: the metadata shape a 100 TB table
    //      needs; ManifestTableSpec pins atomic commits, isolation,
    //      time travel, vacuum). The versioned layout must never
    //      change the answer: the oracle recomputes from the plain
    //      documents table. ----
    GraftQuery("q127_manifest_snapshot_read",
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin) { (s, d) =>
      val path = ensureManifestDocs(s, d)
      graft.sinks.ManifestTable.read(s, path)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).as("chars"))
        .orderBy("lang")
    },

    // ---- manifest-stats dir pruning: the same snapshot queried with
    //      a selective doc_id range — readPruned consults the
    //      manifest's per-commit min/max and plans against ONLY the
    //      overlapping data dirs (1 of 4 here), before any file is
    //      listed or opened; the row filter still applies on top.
    //      Pruning must never change the answer: the oracle is the
    //      plain filtered aggregate. ----
    GraftQuery("q128_manifest_pruned_scan",
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents
        |WHERE doc_id BETWEEN 10 AND 60
        |GROUP BY lang
        |ORDER BY lang""".stripMargin) { (s, d) =>
      val path = ensureManifestDocs(s, d)
      graft.sinks.ManifestTable.readPruned(s, path, "doc_id", 10L, 60L)
        .filter(col("doc_id").between(10, 60))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).as("chars"))
        .orderBy("lang")
    },

    // ---- incremental consumption (CDC read): everything committed
    //      AFTER snapshot v1 — two manifest reads resolve the new
    //      dirs, no data listing, no content diff. The artifact's
    //      commit 1 holds doc_id < max(n/4, 1) by construction, so
    //      the oracle recomputes "since v1" as that range's
    //      complement on the plain table (DuckDB // is integer
    //      division, matching the builder's). ----
    GraftQuery("q129_manifest_read_since",
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents
        |WHERE doc_id >= GREATEST(
        |  (SELECT COUNT(*) FROM documents) // 4, 1)
        |GROUP BY lang
        |ORDER BY lang""".stripMargin) { (s, d) =>
      val path = ensureManifestDocs(s, d)
      graft.sinks.ManifestTable.readSince(s, path, sinceVersion = 1L)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).as("chars"))
        .orderBy("lang")
    },
    // ---- manifest table through the SQL surface: the same pruned
    //      scan as q128, but written as PLAIN SQL against the
    //      `graft-manifest` data source — no hand-carried bounds.
    //      Filter pushdown hands the WHERE conjuncts to the
    //      ManifestFileIndex, which prunes commit dirs from the
    //      manifest stats before any file is opened (ManifestSqlSpec
    //      pins numFiles = one dir's worth + PushedFilters reaching
    //      the parquet reader). This is how the reference's users
    //      consume their one real table — SQL with automatic pruning
    //      (/root/reference/processor.py:55-58), not a programmatic
    //      read API. ----
    GraftQuery("q130_manifest_sql_pushdown",
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents
        |WHERE doc_id BETWEEN 10 AND 60
        |GROUP BY lang
        |ORDER BY lang""".stripMargin) { (s, d) =>
      val path = ensureManifestDocs(s, d)
      s.read.format("graft-manifest").load(path)
        .createOrReplaceTempView("documents_manifest")
      s.sql(
        """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
          |  CAST(SUM(n_chars) AS BIGINT) AS chars
          |FROM documents_manifest
          |WHERE doc_id BETWEEN 10 AND 60
          |GROUP BY lang
          |ORDER BY lang""".stripMargin)
    },

    // ---- incremental curation with manifest tables as the spine:
    //      three landing commits, each consumed exactly-once via
    //      readSince (with a mid-run landing compaction the
    //      provenance chain makes invisible), each batch curated by
    //      Pipeline.curateIncrement against the curated table's own
    //      fp column and appended as a curated commit. The oracle is
    //      the ONE-SHOT batch recomputation in SQL: quality floor,
    //      then lowest-id winner per fingerprint — the incremental
    //      path must converge to it exactly. ----
    GraftQuery("q131_incremental_curation_manifest",
      s"""WITH t AS (SELECT doc_id, lang, text,
         |    ${TextQueries.toksSql} AS toks FROM documents),
         |q AS (SELECT doc_id, lang, text,
         |  ${TextQueries.qualitySql("toks", "text")} AS quality FROM t),
         |p AS (SELECT doc_id, lang, quality,
         |    MIN(doc_id) OVER (PARTITION BY
         |      md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')))
         |      AS keep
         |  FROM q WHERE quality >= 0.5)
         |SELECT doc_id, lang, round(quality, 6) AS quality
         |FROM p WHERE doc_id = keep
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val root = ensureCuratedManifest(s, d)
      graft.sinks.ManifestTable.read(s, s"$root/curated")
        .select(col("doc_id"), col("lang"),
          round(col("quality"), 6).as("quality"))
        .orderBy("doc_id")
    },

    // ---- categorical (string-stats) manifest pruning through SQL:
    //      documents clustered one-commit-per-lang, queried with
    //      WHERE lang = 'es' — the pushed equality becomes a string
    //      bound the ManifestFileIndex checks against each commit's
    //      recorded lang min/max (ASCII-guarded: a non-ASCII bound
    //      never prunes), so the scan plans exactly one dir of five
    //      (ManifestSqlSpec pins numFiles). The layout must never
    //      change the answer: the oracle is the plain filtered
    //      aggregate. ----
    GraftQuery("q132_manifest_categorical_pruning",
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents
        |WHERE lang = 'es'
        |GROUP BY source
        |ORDER BY source""".stripMargin) { (s, d) =>
      val path = ensureManifestDocsByLang(s, d)
      s.read.format("graft-manifest").load(path)
        .createOrReplaceTempView("documents_manifest_bylang")
      s.sql(
        """SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
          |  CAST(SUM(n_chars) AS BIGINT) AS chars
          |FROM documents_manifest_bylang
          |WHERE lang = 'es'
          |GROUP BY source
          |ORDER BY source""".stripMargin)
    },

    // ---- copy-on-write MERGE on the manifest table: an upsert batch
    //      (corrected n_chars for doc_id ≡ 3 mod 10, fresh high-keyed
    //      inserts for doc_id ≡ 0 mod 25) applied via
    //      ManifestTable.merge — only dirs an update key actually
    //      HITS are rewritten (two-stage prune: manifest envelope,
    //      then one aggregate pass over the batch), the batch lands
    //      as one appended dir, all atomically as one version. The
    //      oracle recomputes the post-merge table from scratch in
    //      SQL: upserts win per key, everything else unchanged. ----
    GraftQuery("q133_manifest_merge_upsert",
      """WITH upd AS (
        |  SELECT doc_id, n_chars + 1000 AS n_chars
        |  FROM documents WHERE doc_id % 10 = 3
        |  UNION ALL
        |  SELECT doc_id + 1099511627776 AS doc_id, n_chars
        |  FROM documents WHERE doc_id % 25 = 0),
        |m AS (
        |  SELECT doc_id, n_chars FROM upd
        |  UNION ALL
        |  SELECT d.doc_id, d.n_chars FROM documents d
        |  WHERE NOT EXISTS (SELECT 1 FROM upd u
        |                    WHERE u.doc_id = d.doc_id))
        |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
        |FROM m ORDER BY doc_id""".stripMargin) { (s, d) =>
      val path = ensureMergedManifest(s, d)
      graft.sinks.ManifestTable.read(s, path)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
        .orderBy("doc_id")
    },

    // ---- OPTIMIZE-style clustered rewrite: documents ingested
    //      arrival-ordered (commits by doc_id mod 4 — range pruning
    //      vacuous), then ManifestTable.cluster rewrites them into 4
    //      range-disjoint re-statted dirs, so the same SQL range
    //      query now prunes to one dir (ManifestSqlSpec pins the
    //      before/after numFiles). The rewrite must never change the
    //      answer: the oracle is the plain filtered aggregate. ----
    GraftQuery("q134_manifest_clustered_rewrite",
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents
        |WHERE doc_id BETWEEN 20 AND 80
        |GROUP BY lang
        |ORDER BY lang""".stripMargin) { (s, d) =>
      val path = ensureClusteredManifest(s, d)
      s.read.format("graft-manifest").load(path)
        .createOrReplaceTempView("documents_manifest_clustered")
      s.sql(
        """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
          |  CAST(SUM(n_chars) AS BIGINT) AS chars
          |FROM documents_manifest_clustered
          |WHERE doc_id BETWEEN 20 AND 80
          |GROUP BY lang
          |ORDER BY lang""".stripMargin)
    },

    // ---- manifest Bloom point-lookup pruning: the table is
    //      interleaved (commits by doc_id mod 4 — every dir's min/max
    //      spans the whole domain, range stats prune NOTHING), but
    //      each commit carries a per-dir Bloom filter on doc_id, so
    //      an IN point set prunes to the dirs that might hold the
    //      keys (ManifestSqlSpec pins numFiles; one-sided: false
    //      positives cost a dir read, false negatives impossible).
    //      The filters must never change the answer: the oracle is
    //      the plain IN query. ----
    GraftQuery("q135_manifest_bloom_point_lookup",
      """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents
        |WHERE doc_id IN (42, 137, 301)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val path = ensureBloomManifest(s, d)
      s.read.format("graft-manifest").load(path)
        .createOrReplaceTempView("documents_manifest_bloom")
      s.sql(
        """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
          |FROM documents_manifest_bloom
          |WHERE doc_id IN (42, 137, 301)
          |ORDER BY doc_id""".stripMargin)
    },

    // ---- STRING-keyed manifest Bloom point lookup: the reference's
    //      hottest query is `WHERE id = '<cve-id>'` on a string key —
    //      on an interleaved ingest, string BOUNDS span the whole
    //      domain, so the per-dir string Bloom filter is the only
    //      prune (ManifestSqlSpec pins numFiles; a type-mixed probe
    //      can never false-negative because integral and string
    //      filters live in disjoint maps). The filters must never
    //      change the answer: the oracle recomputes the same lookup
    //      on the derived key from the plain table. ----
    GraftQuery("q136_manifest_string_bloom_lookup",
      """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents
        |WHERE 'doc-' || CAST(doc_id AS VARCHAR)
        |  IN ('doc-42', 'doc-137', 'doc-301')
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val path = ensureStrBloomManifest(s, d)
      s.read.format("graft-manifest").load(path)
        .createOrReplaceTempView("documents_manifest_strbloom")
      s.sql(
        """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
          |FROM documents_manifest_strbloom
          |WHERE doc_key IN ('doc-42', 'doc-137', 'doc-301')
          |ORDER BY doc_id""".stripMargin)
    },

    // ---- SQL DML end-to-end: a manifest table built and mutated by
    //      SQL statements alone (3× INSERT INTO, one MERGE INTO
    //      whole-row upsert, one ranged DELETE FROM) on top of a
    //      seeded first commit. The injected resolution rules route
    //      each statement to the corresponding manifest primitive —
    //      never Spark's raw-file insert path (ManifestDmlSpec pins
    //      the data root stays debris-free). The oracle recomputes
    //      the final state from scratch in SQL: inserts cover every
    //      row once, upserts win per key, the deleted range is gone. ----
    GraftQuery("q137_manifest_sql_dml",
      """WITH base AS (SELECT doc_id, lang, n_chars FROM documents),
        |upd AS (
        |  SELECT doc_id, lang, n_chars + 1000 AS n_chars
        |  FROM base WHERE doc_id % 10 = 3
        |  UNION ALL
        |  SELECT doc_id + 1099511627776 AS doc_id, lang, n_chars
        |  FROM base WHERE doc_id % 25 = 0),
        |m AS (
        |  SELECT doc_id, lang, n_chars FROM upd
        |  UNION ALL
        |  SELECT b.doc_id, b.lang, b.n_chars FROM base b
        |  WHERE NOT EXISTS (SELECT 1 FROM upd u
        |                    WHERE u.doc_id = b.doc_id)),
        |f AS (SELECT * FROM m WHERE doc_id NOT BETWEEN 100 AND 200)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM f GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      val path = ensureSqlDmlManifest(s, d)
      s.read.format("graft-manifest").load(path)
        .createOrReplaceTempView("documents_manifest_sqldml")
      s.sql(
        """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
          |  CAST(SUM(n_chars) AS BIGINT) AS chars
          |FROM documents_manifest_sqldml
          |GROUP BY lang
          |ORDER BY lang""".stripMargin)
    },

    // ---- OPTIMIZE ZORDER BY at manifest-dir granularity: the table
    //      is Z-cluster-rewritten on (doc_id, n_chars), so this
    //      SECOND-axis range query (n_chars — the column a
    //      single-axis doc_id cluster could never prune) plans a
    //      strict subset of dirs from the manifest stats alone
    //      (ManifestSqlSpec pins numFiles on BOTH axes). The rewrite
    //      must never change the answer: the oracle is the plain
    //      filtered aggregate. ----
    GraftQuery("q138_manifest_zorder_cluster",
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM documents
        |WHERE n_chars BETWEEN 200 AND 250
        |GROUP BY lang
        |ORDER BY lang""".stripMargin) { (s, d) =>
      val path = ensureZClusteredManifest(s, d)
      s.read.format("graft-manifest").load(path)
        .createOrReplaceTempView("documents_manifest_zclustered")
      s.sql(
        """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
          |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
          |FROM documents_manifest_zclustered
          |WHERE n_chars BETWEEN 200 AND 250
          |GROUP BY lang
          |ORDER BY lang""".stripMargin)
    },

    // ---- Metadata-only aggregates: a whole-table, filterless
    //      COUNT(*)/MIN/MAX over the manifest table is answered from
    //      the manifest's recorded per-dir row counts and min/max
    //      stats (graft.plans.ManifestMetadataAggs) — the executed
    //      plan is a LocalTableScan reading ZERO data files
    //      (ManifestMetadataAggSpec pins it). At 100 TB this is the
    //      difference between a table health check costing one
    //      manifest read and a full scan; string bounds fold in
    //      UTF8String binary order, bit-exact with a scan's MIN/MAX.
    //      The oracle recomputes all five from the plain table. ----
    GraftQuery("q139_manifest_metadata_agg",
      """SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(lang) AS BIGINT) AS n_lang,
        |  MIN(doc_id) AS id_lo, MAX(doc_id) AS id_hi,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
        |  MIN(lang) AS lang_lo, MAX(lang) AS lang_hi
        |FROM documents""".stripMargin) { (s, d) =>
      val path = ensureManifestDocs(s, d)
      s.read.format("graft-manifest").load(path)
        .createOrReplaceTempView("documents_manifest_meta")
      s.sql(
        """SELECT CAST(COUNT(*) AS BIGINT) AS n,
          |  CAST(COUNT(lang) AS BIGINT) AS n_lang,
          |  MIN(doc_id) AS id_lo, MAX(doc_id) AS id_hi,
          |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
          |  MIN(lang) AS lang_lo, MAX(lang) AS lang_hi
          |FROM documents_manifest_meta""".stripMargin)
    },

    // ---- GROUPED metadata-only aggregate: GROUP BY lang over the
    //      one-commit-per-language manifest layout, where the
    //      recorded per-dir bounds (min == max) plus null counts
    //      prove every dir single-group — so the per-language
    //      COUNT/MIN/MAX an operator runs hourly over a group-routed
    //      table is answered from the manifest alone, one
    //      LocalTableScan row per language, ZERO data files
    //      (ManifestMetadataAggSpec pins the plan; a single mixed
    //      dir disqualifies and falls back to the scan). The oracle
    //      recomputes the same GROUP BY from the plain table. ----
    GraftQuery("q140_manifest_grouped_metadata_agg",
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        |  MIN(doc_id) AS id_lo, MAX(doc_id) AS id_hi,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) {
      (s, d) =>
      val path = ensureManifestDocsByLang(s, d)
      s.read.format("graft-manifest").load(path)
        .createOrReplaceTempView("documents_manifest_bylang_meta")
      s.sql(
        """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
          |  MIN(doc_id) AS id_lo, MAX(doc_id) AS id_hi,
          |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
          |FROM documents_manifest_bylang_meta
          |GROUP BY lang ORDER BY lang""".stripMargin)
    },

    // ---- CHECK-constraint write gate: the table is seeded with the
    //      first half of documents, constrained with
    //      addConstraint("n_chars_pos", "n_chars > 0"), then fed the
    //      second half corrupted (n_chars negated for doc_id ≡ 0 mod
    //      7) — the whole batch is REFUSED at the write boundary
    //      (builder asserts the version is untouched) — and finally
    //      repaired (violators dropped), which lands. The oracle
    //      recomputes the admitted content from scratch: first half
    //      entire, second half minus the violating ids — i.e. the
    //      constraint held, rejected nothing it shouldn't have, and
    //      committed nothing it should have refused. ----
    GraftQuery("q141_manifest_constraint_gate",
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents
        |WHERE doc_id < (SELECT COUNT(*) // 2 FROM documents)
        |   OR doc_id % 7 <> 0
        |GROUP BY lang
        |ORDER BY lang""".stripMargin) { (s, d) =>
      val path = ensureConstrainedManifest(s, d)
      s.read.format("graft-manifest").load(path)
        .createOrReplaceTempView("documents_manifest_checked")
      s.sql(
        """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
          |  CAST(SUM(n_chars) AS BIGINT) AS chars
          |FROM documents_manifest_checked
          |GROUP BY lang
          |ORDER BY lang""".stripMargin)
    },

    // ---- merge-on-read deletion vectors: every doc_id ≡ 3 (mod 7)
    //      equality-deleted via ONE tombstone write (zero data dirs
    //      rewritten — builder-asserted), the low-id slice of those
    //      keys then re-ingested as a fresh commit. The SQL read is
    //      rewritten at resolution time into per-tombstone-group
    //      scans + broadcast anti-joins (ManifestApplyDeletes); the
    //      oracle recomputes the survivors from scratch: everything
    //      outside the deleted keys, plus the re-inserts — which only
    //      match if tombstone scoping is exactly per-dir. ----
    GraftQuery("q142_manifest_deletion_vectors",
      """WITH kept AS (
        |  SELECT lang, n_chars FROM documents WHERE doc_id % 7 <> 3
        |  UNION ALL
        |  SELECT lang, n_chars FROM documents
        |  WHERE doc_id % 7 = 3 AND doc_id < 20)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM kept
        |GROUP BY lang
        |ORDER BY lang""".stripMargin) { (s, d) =>
      val path = ensureDvManifest(s, d)
      s.read.format("graft-manifest").load(path)
        .createOrReplaceTempView("documents_manifest_dv")
      s.sql(
        """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
          |  CAST(SUM(n_chars) AS BIGINT) AS chars
          |FROM documents_manifest_dv
          |GROUP BY lang
          |ORDER BY lang""".stripMargin)
    },

    // ---- RESTORE (rollback): the table took a corrupting overwrite,
    //      was rolled back to the last good snapshot with zero data
    //      movement (the restore manifest references the original
    //      dirs — builder-asserted), and kept ingesting afterwards.
    //      The oracle recomputes what the table must now hold from
    //      scratch: the original corpus plus the post-rollback batch,
    //      with NO trace of the corrupting overwrite — a rollback
    //      that leaked even one bad row would hash-mismatch. ----
    GraftQuery("q143_manifest_restore",
      """WITH t AS (
        |  SELECT doc_id, lang, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2199023255552 AS doc_id, lang, n_chars
        |  FROM documents WHERE doc_id % 10 = 0)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars,
        |  CAST(MAX(doc_id) AS BIGINT) AS max_id
        |FROM t
        |GROUP BY lang
        |ORDER BY lang""".stripMargin) { (s, d) =>
      val path = ensureRestoredManifest(s, d)
      s.read.format("graft-manifest").load(path)
        .createOrReplaceTempView("documents_manifest_restored")
      s.sql(
        """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
          |  CAST(SUM(n_chars) AS BIGINT) AS chars,
          |  CAST(MAX(doc_id) AS BIGINT) AS max_id
          |FROM documents_manifest_restored
          |GROUP BY lang
          |ORDER BY lang""".stripMargin)
    },

    // ---- HIDDEN PARTITIONING, read side: events land in a
    //      days(ts)-partitioned manifest table (the user's schema
    //      never grows a day column — the transform derives it at
    //      write time, the manifest records it per dir), and the
    //      earliest day's slice is resolved from MANIFEST METADATA
    //      alone: the target day comes from the entries' recorded
    //      partition values and readPartitions plans exactly the
    //      matching pure dirs — at 30 days x 3 commits, 3 of 90 dirs,
    //      zero data files opened elsewhere. The oracle recomputes
    //      the same day slice from the plain events table. ----
    GraftQuery("q146_manifest_partition_pruned_read",
      s"""WITH days AS (SELECT strftime(ts, '%Y-%m-%d') AS day,
         |    event_type, value FROM events)
         |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         |  ${decSumSql("value", 2)} AS sum_value
         |FROM days WHERE day = (SELECT MIN(day) FROM days)
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin) { (s, d) =>
      val path = ensurePartitionedEvents(s, d)
      val v = graft.sinks.ManifestTable.latestVersion(s, path).get
      // metadata-sized: the day list is the entries' partition values
      val day = graft.sinks.ManifestTable.entriesOf(s, path, v)
        .flatMap(_.partition.get("ts_day")).min
      graft.sinks.ManifestTable.readPartitions(s, path,
          Map("ts_day" -> day))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          decSum(col("value"), 2).as("sum_value"))
        .orderBy("event_type")
    },

    // ---- METADATA-ONLY partition drop (ALTER TABLE ... DROP
    //      PARTITION): a lang-partitioned documents table had its
    //      'de' partition dropped by committing a manifest WITHOUT
    //      those entries — zero rows read or written at drop time,
    //      whatever the partition's size; vacuum reaps the dirs
    //      later. The oracle recomputes the post-drop content from
    //      the plain table. ----
    GraftQuery("q147_manifest_drop_partitions",
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents WHERE lang <> 'de'
        |GROUP BY lang
        |ORDER BY lang""".stripMargin) { (s, d) =>
      val path = ensureDroppedLangDocs(s, d)
      s.read.format("graft-manifest").load(path)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).cast("long").as("chars"))
        .orderBy("lang")
    },

    // ---- WRITE-AUDIT-PUBLISH: the documents table was built through
    //      the WAP gate — half appended directly, the other half
    //      staged TWICE: a poisoned candidate (lang nulled) that the
    //      audit read caught and abandoned without a trace, then a
    //      clean candidate that passed and was published as one
    //      atomic, zero-data-movement commit. The oracle recomputes
    //      the whole table from the plain source: base + published
    //      candidate and NOTHING of the rejected one — exactness of
    //      the gate, not just of the happy path. ----
    GraftQuery("q148_manifest_wap_publish",
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars,
        |  CAST(MAX(doc_id) AS BIGINT) AS max_id
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin) { (s, d) =>
      val path = ensureWapDocs(s, d)
      s.read.format("graft-manifest").load(path)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).cast("long").as("chars"),
          max(col("doc_id")).cast("long").as("max_id"))
        .orderBy("lang")
    },

    // ---- Hidden partitioning through PLAIN SQL: the user filters
    //      `ts`; the FileIndex derives the implied days(ts) bounds
    //      and prunes whole partition dirs from the manifest before
    //      any file is opened — the Iceberg pitch, on the same
    //      days-partitioned events table q146 reads
    //      programmatically. ManifestPartitionSpec pins numFiles for
    //      every transform; here the oracle pins the ANSWER against
    //      the plain table. ----
    GraftQuery("q149_manifest_sql_hidden_partitioning",
      s"""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         |  ${decSumSql("value", 2)} AS sum_value
         |FROM events
         |WHERE ts >= TIMESTAMP '2024-01-25 00:00:00'
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin) { (s, d) =>
      val path = ensurePartitionedEvents(s, d)
      s.read.format("graft-manifest").load(path)
        .filter(col("ts") >=
          lit("2024-01-25 00:00:00").cast("timestamp"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          decSum(col("value"), 2).as("sum_value"))
        .orderBy("event_type")
    },

    // ---- STRING-keyed copy-on-write MERGE: the reference's real
    //      upsert key is a string (per-cveId upsert loop,
    //      consumer/consumer.py:111-125) — an upsert batch applied by
    //      `doc_key` against a string-range-clustered manifest table:
    //      envelope + exact-hit pruning run on the recorded STRING
    //      bounds (UTF8-binary-exact in-Spark probes, ASCII-guarded
    //      manifest envelope), only hit dirs rewrite, the batch lands
    //      as one appended dir. ManifestTableSpec pins dir identity
    //      and Bloom narrowing; the oracle recomputes the post-merge
    //      table from scratch: upserts win per key. ----
    GraftQuery("q150_manifest_string_merge",
      """WITH base AS (
        |  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS doc_key,
        |    lang, n_chars, doc_id FROM documents),
        |upd AS (
        |  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS doc_key,
        |    lang, n_chars + 1000 AS n_chars
        |  FROM documents WHERE doc_id % 10 = 3
        |  UNION ALL
        |  SELECT 'zzz-' || CAST(doc_id AS VARCHAR) AS doc_key,
        |    lang, n_chars
        |  FROM documents WHERE doc_id % 25 = 0),
        |m AS (
        |  SELECT doc_key, lang, n_chars FROM upd
        |  UNION ALL
        |  SELECT b.doc_key, b.lang, b.n_chars FROM base b
        |  WHERE NOT EXISTS (SELECT 1 FROM upd u
        |                    WHERE u.doc_key = b.doc_key))
        |SELECT doc_key, lang, CAST(n_chars AS BIGINT) AS n_chars
        |FROM m ORDER BY doc_key""".stripMargin) { (s, d) =>
      val path = ensureStrMergedManifest(s, d)
      graft.sinks.ManifestTable.read(s, path)
        .select(col("doc_key"), col("lang"),
          col("n_chars").cast("long").as("n_chars"))
        .orderBy("doc_key")
    },

    // ---- SQL UPDATE family end-to-end (q151): a manifest table
    //      mutated by three UPDATE statements — integral range
    //      (routes updateRange: only stat-overlapping dirs rewrite,
    //      in place), string IN (routes updateKeys: bounds + Bloom
    //      pruned), and whole-table (updateAll). The oracle
    //      recomputes the same three patches as nested CASE
    //      expressions over the plain table — row-for-row, so a
    //      mis-patched row, a resurrected value, or a dropped row all
    //      hash-mismatch. ----
    GraftQuery("q151_manifest_sql_update",
      """WITH s1 AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id BETWEEN 100 AND 299
        |      THEN n_chars + 7 ELSE n_chars END AS n_chars
        |  FROM documents),
        |s2 AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN lang IN ('de', 'fr')
        |      THEN n_chars * 2 ELSE n_chars END AS n_chars
        |  FROM s1)
        |SELECT doc_id, lang, CAST(n_chars + 1 AS BIGINT) AS n_chars
        |FROM s2 ORDER BY doc_id""".stripMargin) { (s, d) =>
      val path = ensureSqlUpdatedManifest(s, d)
      graft.sinks.ManifestTable.read(s, path)
        .select(col("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"))
        .orderBy("doc_id")
    },

    // ---- COLUMN-WISE SQL MERGE end-to-end (q152): `WHEN MATCHED
    //      THEN UPDATE SET n_chars = u.n_chars WHEN NOT MATCHED THEN
    //      INSERT *` routes ManifestTable.mergeUpdate — matched rows
    //      PATCHED in place, unmatched source rows appended as one
    //      dir. The source carries lang='xx' for matched keys; the
    //      oracle keeps the TARGET's lang for them (COALESCE only on
    //      n_chars), so a whole-row replace masquerading as a patch
    //      hash-mismatches immediately. ----
    GraftQuery("q152_manifest_sql_merge_update",
      """WITH upd AS (
        |  SELECT doc_id, 'xx' AS lang, n_chars + 1000 AS n_chars
        |  FROM documents WHERE doc_id % 10 = 3
        |  UNION ALL
        |  SELECT doc_id + 1099511627776 AS doc_id, lang, n_chars
        |  FROM documents WHERE doc_id % 25 = 0),
        |m AS (
        |  SELECT b.doc_id, b.lang,
        |    COALESCE(u.n_chars, b.n_chars) AS n_chars
        |  FROM documents b LEFT JOIN upd u ON u.doc_id = b.doc_id
        |  UNION ALL
        |  SELECT u.doc_id, u.lang, u.n_chars FROM upd u
        |  WHERE NOT EXISTS (SELECT 1 FROM documents b
        |                    WHERE b.doc_id = u.doc_id))
        |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |FROM m ORDER BY doc_id""".stripMargin) { (s, d) =>
      val path = ensureSqlMergeUpdatedManifest(s, d)
      graft.sinks.ManifestTable.read(s, path)
        .select(col("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"))
        .orderBy("doc_id")
    },

    // ---- Catalog front door end-to-end (q153): CREATE TABLE /
    //      INSERT / UPDATE / DELETE / SELECT all through the NAME
    //      `graftcat.db.docs` (graft.catalog.GraftCatalog +
    //      ManifestCatalogRules) — zero temp views, zero paths in
    //      user statements. The swap rule bridges every named
    //      reference onto the same V1 manifest relation the
    //      path-addressed queries use, so stats pruning and the DML
    //      routing are byte-identical; the oracle recomputes the
    //      final state from the plain table. ----
    GraftQuery("q153_manifest_catalog_sql",
      """WITH s1 AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id BETWEEN 50 AND 149
        |      THEN n_chars + 5 ELSE n_chars END AS n_chars
        |  FROM documents),
        |f AS (SELECT * FROM s1 WHERE doc_id NOT BETWEEN 300 AND 349)
        |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |FROM f ORDER BY doc_id""".stripMargin) { (s, d) =>
      ensureCatalogTable(s, d)
      s.sql(
        """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
          |FROM graftcat.db.docs ORDER BY doc_id""".stripMargin)
    },

    // ---- Change-data-feed end-to-end (q154): the full delete/insert
    //      normal-form history of a table that appended, updated in
    //      place, and range-deleted (ManifestTable.readChanges — the
    //      read the streaming `readChangeFeed` option serves
    //      per-batch). The oracle recomputes every change row from
    //      the plain table: appends as version-attributed inserts,
    //      the update as its delete-preimage/insert-postimage pair,
    //      the delete as delete rows — so a feed that missed a row,
    //      duplicated one, or mis-attributed a version
    //      hash-mismatches. ----
    GraftQuery("q154_manifest_change_feed",
      """WITH ins AS (
        |  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
        |    'insert' AS _change_type,
        |    CAST(CASE WHEN doc_id < 250 THEN 1 ELSE 2 END AS BIGINT)
        |      AS _commit_version
        |  FROM documents),
        |upd_pre AS (
        |  SELECT doc_id, lang, CAST(n_chars AS BIGINT),
        |    'delete', CAST(3 AS BIGINT)
        |  FROM documents WHERE doc_id BETWEEN 100 AND 199),
        |upd_post AS (
        |  SELECT doc_id, lang, CAST(n_chars + 7 AS BIGINT),
        |    'insert', CAST(3 AS BIGINT)
        |  FROM documents WHERE doc_id BETWEEN 100 AND 199),
        |del AS (
        |  SELECT doc_id, lang, CAST(n_chars AS BIGINT),
        |    'delete', CAST(4 AS BIGINT)
        |  FROM documents WHERE doc_id BETWEEN 300 AND 349)
        |SELECT * FROM (
        |  SELECT * FROM ins UNION ALL SELECT * FROM upd_pre
        |  UNION ALL SELECT * FROM upd_post UNION ALL SELECT * FROM del)
        |ORDER BY doc_id, _commit_version, _change_type""".stripMargin) {
      (s, d) =>
      val path = ensureChangeFeedTable(s, d)
      val until =
        graft.sinks.ManifestTable.latestVersion(s, path).get
      graft.sinks.ManifestTable.readChanges(s, path, 0L, until)
        .select(col("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"),
          col("_change_type"), col("_commit_version"))
        .orderBy("doc_id", "_commit_version", "_change_type")
    },

    // ---- FULL ordered-clause SQL MERGE end-to-end (q155): one
    //      statement carrying a conditioned DELETE, a fall-through
    //      unconditional UPDATE, a conditioned INSERT *, and a
    //      conditioned NOT MATCHED BY SOURCE UPDATE — the
    //      retire-stale-records shape. The oracle recomputes all four
    //      clauses from scratch over the plain table (first-true-wins
    //      is exercised by the DELETE-beats-UPDATE rows), so a
    //      mis-ordered clause, a leaked delete-marker row, an insert
    //      that ignored its condition, or a by-source patch applied
    //      to a matched row all hash-mismatch. ----
    GraftQuery("q155_manifest_merge_clauses",
      """WITH u AS (
        |  SELECT doc_id, 'xx' AS lang,
        |    CASE WHEN doc_id % 20 = 7 THEN -1 ELSE 1000 END AS n_chars
        |  FROM documents WHERE doc_id % 10 = 3 OR doc_id % 20 = 7
        |  UNION ALL
        |  SELECT doc_id + 1099511627776 AS doc_id, lang, n_chars
        |  FROM documents WHERE doc_id % 25 = 0),
        |kept AS (
        |  SELECT b.doc_id, b.lang,
        |    CASE WHEN u.doc_id IS NOT NULL AND u.n_chars >= 0
        |           THEN b.n_chars + u.n_chars
        |         WHEN u.doc_id IS NULL AND b.doc_id % 50 = 49 THEN 0
        |         ELSE b.n_chars END AS n_chars
        |  FROM documents b LEFT JOIN u ON u.doc_id = b.doc_id
        |  WHERE NOT (u.doc_id IS NOT NULL AND u.n_chars < 0)),
        |ins AS (
        |  SELECT u.doc_id, u.lang, u.n_chars FROM u
        |  WHERE u.n_chars % 2 = 0 AND NOT EXISTS
        |    (SELECT 1 FROM documents b WHERE b.doc_id = u.doc_id))
        |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |FROM (SELECT * FROM kept UNION ALL SELECT * FROM ins)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val path = ensureMergeClausesManifest(s, d)
      graft.sinks.ManifestTable.read(s, path)
        .select(col("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"))
        .orderBy("doc_id")
    },

    // ---- COMPOSITE-KEY SQL MERGE end-to-end (q156): the upsert a
    //      two-column business key needs — `ON t.grp = u.grp AND
    //      t.sub = u.sub` routes the general engine with conjunctive
    //      two-column dir pruning; matched rows are PATCHED (the
    //      source's lang='xx' must NOT land — q152's trap), unmatched
    //      source rows append. The oracle recomputes the post-merge
    //      table from the plain documents table. ----
    GraftQuery("q156_manifest_composite_key_merge",
      """WITH base AS (
        |  SELECT doc_id, doc_id // 1000 AS grp, doc_id % 1000 AS sub,
        |    lang, n_chars
        |  FROM documents),
        |u AS (
        |  SELECT grp, sub, 'xx' AS lang, n_chars + 1000 AS n_chars
        |  FROM base WHERE doc_id % 10 = 3
        |  UNION ALL
        |  SELECT grp + 1000000 AS grp, sub, lang, n_chars
        |  FROM base WHERE doc_id % 25 = 0),
        |m AS (
        |  SELECT b.grp, b.sub, b.lang,
        |    COALESCE(u.n_chars, b.n_chars) AS n_chars
        |  FROM base b LEFT JOIN u ON u.grp = b.grp AND u.sub = b.sub
        |  UNION ALL
        |  SELECT u.grp, u.sub, u.lang, u.n_chars FROM u
        |  WHERE NOT EXISTS (SELECT 1 FROM base b
        |                    WHERE b.grp = u.grp AND b.sub = u.sub))
        |SELECT grp, sub, lang, CAST(n_chars AS BIGINT) AS n_chars
        |FROM m ORDER BY grp, sub""".stripMargin) { (s, d) =>
      val path = ensureCompositeKeyMergedManifest(s, d)
      graft.sinks.ManifestTable.read(s, path)
        .select(col("grp"), col("sub"), col("lang"),
          col("n_chars").cast("long").as("n_chars"))
        .orderBy("grp", "sub")
    },

    // ---- COLUMN RENAME end-to-end (q157): n_chars renamed to
    //      `chars` as one field-id metadata commit — rows committed
    //      BEFORE the rename resolve the column in their old files
    //      by parquet field id, rows appended after land under the
    //      new name, and an in-place UPDATE straddles both eras. The
    //      oracle recomputes the whole table from scratch under the
    //      new name: a null-filled old row (a by-name read), a
    //      mis-patched row, or a lost row all hash-mismatch. ----
    GraftQuery("q157_manifest_column_rename",
      """SELECT doc_id, lang,
        |  CAST(CASE WHEN doc_id BETWEEN 100 AND 199
        |    THEN n_chars + 7 ELSE n_chars END AS BIGINT) AS chars
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val path = ensureRenamedColumnManifest(s, d)
      graft.sinks.ManifestTable.read(s, path)
        .select(col("doc_id"), col("lang"),
          col("chars").cast("long").as("chars"))
        .orderBy("doc_id")
    },

    // ---- SQL maintenance lifecycle end-to-end (q158): the cadence
    //      ops reachable from pure SQL — `CALL graftcat.system.
    //      compact/cluster/rewrite_deletes` between DML statements,
    //      all by name. Maintenance changes the LAYOUT only: the
    //      oracle recomputes the content from the plain table, so a
    //      compaction that lost a row, a clustered rewrite that
    //      duplicated one, or a tombstone materialization that
    //      resurrected a deleted row all hash-mismatch. ----
    GraftQuery("q158_manifest_sql_maintenance",
      """SELECT doc_id, lang,
        |  CAST(CASE WHEN doc_id BETWEEN 200 AND 399
        |    THEN n_chars + 3 ELSE n_chars END AS BIGINT) AS n_chars
        |FROM documents WHERE lang <> 'de'
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      ensureMaintainedCatalogTable(s, d)
      s.sql(
        """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
          |FROM graftcat.db.maint ORDER BY doc_id""".stripMargin)
    },

    // ---- GENERAL-predicate SQL DML end-to-end (q159): the first
    //      statements a migrating Delta/Iceberg user writes —
    //      `DELETE WHERE lang = 'de' AND n_chars > 600` (mixed
    //      conjuncts no exact fast path denotes) and an UPDATE with
    //      an OR predicate (zero pruning extracted — still exact).
    //      The oracle recomputes both mutations from scratch over
    //      the plain table with the exact SQL semantics (TRUE rows
    //      deleted, NULL/FALSE survive — COALESCE(…, FALSE) pins the
    //      null contract), so a delete that dropped a null-predicate
    //      row, an update applied outside its predicate, or a
    //      mis-pruned dir all hash-mismatch. ----
    GraftQuery("q159_manifest_general_dml",
      """WITH kept AS (
        |  SELECT * FROM documents
        |  WHERE NOT COALESCE(lang = 'de' AND n_chars > 600, FALSE)),
        |u AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN COALESCE(lang = 'en'
        |        AND (n_chars < 300 OR n_chars > 900), FALSE)
        |      THEN n_chars + 11 ELSE n_chars END AS n_chars
        |  FROM kept)
        |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |FROM u ORDER BY doc_id""".stripMargin) { (s, d) =>
      val path = ensureGeneralDmlManifest(s, d)
      graft.sinks.ManifestTable.read(s, path)
        .select(col("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"))
        .orderBy("doc_id")
    },

    // ---- PARTIAL-COLUMN-INSERT SQL MERGE end-to-end (q160): `WHEN
    //      NOT MATCHED THEN INSERT (cols) VALUES (…)` with the
    //      nullable lang column omitted — inserted rows carry an
    //      explicit typed NULL there — and TWO ordered insert
    //      clauses whose values differ, so the fired clause decides
    //      each row's columns. The oracle recomputes the post-merge
    //      table from scratch: a null that leaked into a matched
    //      row, a second-clause value under a first-clause
    //      condition, or a lost lang all hash-mismatch. ----
    GraftQuery("q160_manifest_partial_insert_merge",
      """WITH u AS (
        |  SELECT doc_id, n_chars FROM documents WHERE doc_id % 10 = 3
        |  UNION ALL
        |  SELECT doc_id + 1099511627776 AS doc_id, n_chars
        |  FROM documents WHERE doc_id % 25 = 0),
        |m AS (
        |  SELECT b.doc_id, b.lang,
        |    b.n_chars + COALESCE(u.n_chars, 0) AS n_chars
        |  FROM documents b LEFT JOIN u ON u.doc_id = b.doc_id),
        |ins AS (
        |  SELECT u.doc_id, CAST(NULL AS VARCHAR) AS lang,
        |    CASE WHEN u.n_chars % 2 = 0 THEN u.n_chars * 2
        |      ELSE 0 END AS n_chars
        |  FROM u WHERE NOT EXISTS
        |    (SELECT 1 FROM documents b WHERE b.doc_id = u.doc_id))
        |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |FROM (SELECT * FROM m UNION ALL SELECT * FROM ins)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val path = ensurePartialInsertMergedManifest(s, d)
      graft.sinks.ManifestTable.read(s, path)
        .select(col("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"))
        .orderBy("doc_id")
    },

    // ---- ALTER COLUMN TYPE widening end-to-end (q161): n_chars was
    //      INT for the table's first two commits, widened to BIGINT
    //      as ONE metadata commit (zero data movement — the int32
    //      files read widened at scan), then appended with
    //      beyond-int values and patched by a general-predicate
    //      UPDATE straddling both physical eras. The oracle
    //      recomputes the whole table from scratch at BIGINT: a
    //      truncated wide value, a lost pre-widen row, or an update
    //      that missed one era all hash-mismatch. ----
    GraftQuery("q161_manifest_type_widening",
      """WITH base AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 2 = 0 THEN CAST(n_chars AS BIGINT)
        |      ELSE CAST(n_chars AS BIGINT) + 8589934592 END AS n_chars
        |  FROM documents),
        |u AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 10 = 3 THEN n_chars + 5
        |      ELSE n_chars END AS n_chars
        |  FROM base)
        |SELECT doc_id, lang, n_chars FROM u ORDER BY doc_id"""
        .stripMargin) { (s, d) =>
      val path = ensureWidenedManifest(s, d)
      graft.sinks.ManifestTable.read(s, path)
        .select(col("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"))
        .orderBy("doc_id")
    },

    // ---- NESTED-path stats end-to-end (q162): a nested-schema
    //      manifest table (doc_id, meta STRUCT<lang, n_chars>) with
    //      statsCols on the DOTTED leaf paths, range-sliced on the
    //      leaf so pushed nested conjuncts genuinely prune
    //      (ManifestNestedStatsSpec pins numFiles; here the oracle
    //      pins exactness). The oracle recomputes the filtered
    //      projection from the FLAT table: a false-pruned dir (rows
    //      missing) or a mis-resolved leaf path hash-mismatches. ----
    GraftQuery("q162_manifest_nested_stats",
      """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents
        |WHERE n_chars <= 600 AND lang IN ('de', 'fr')
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val path = ensureNestedStatsManifest(s, d)
      graft.sinks.ManifestTable.read(s, path)
        .filter(col("meta.n_chars") <= 600L &&
          col("meta.lang").isin("de", "fr"))
        .select(col("doc_id"), col("meta.lang").as("lang"),
          col("meta.n_chars").cast("long").as("n_chars"))
        .orderBy("doc_id")
    },

    // ---- Snapshot-BRANCH lifecycle end-to-end (q163): main holds
    //      one slice, a branch stages two audited commits main never
    //      sees (the build REQUIRES main-obliviousness before the
    //      fast-forward), then fast-forwards as ONE atomic commit.
    //      The oracle recomputes the post-fast-forward content from
    //      the plain table: a leaked branch row, a lost commit, or a
    //      double-published slice all hash-mismatch. ----
    GraftQuery("q163_manifest_branch_fast_forward",
      """SELECT doc_id, lang,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN n_chars + 1000
        |    ELSE n_chars END AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val path = ensureBranchedManifest(s, d)
      graft.sinks.ManifestTable.read(s, path)
        .select(col("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"))
        .orderBy("doc_id")
    },

    // ---- NESTED column rename end-to-end (q164): the leaf
    //      `meta.n_chars` renamed to `meta.chars` as one field-id
    //      metadata commit — rows committed BEFORE the rename resolve
    //      the leaf inside its struct by NESTED parquet field id,
    //      rows appended after land under the new shape. The oracle
    //      recomputes the whole table from the flat source under the
    //      new name: a null-filled pre-rename row (a by-name read) or
    //      a lost era hash-mismatches. ----
    GraftQuery("q164_manifest_nested_rename",
      """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS chars
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val path = ensureNestedRenamedManifest(s, d)
      graft.sinks.ManifestTable.read(s, path)
        .select(col("doc_id"), col("meta.lang").as("lang"),
          col("meta.chars").cast("long").as("chars"))
        .orderBy("doc_id")
    },

    // ---- NESTED-field SQL UPDATE end-to-end (q165): `SET
    //      meta.n_chars = meta.n_chars + 7 WHERE doc_id % 10 = 3` —
    //      the leaf patches IN PLACE through Column.withField folded
    //      onto the top-level struct (NULL parents stay NULL), the
    //      WHERE routes the general-predicate path. The oracle
    //      recomputes the patched table from the flat source: a leaf
    //      applied outside its predicate, a sibling field disturbed,
    //      or a lost row all hash-mismatch. ----
    GraftQuery("q165_manifest_nested_update",
      """SELECT doc_id, lang,
        |  CAST(CASE WHEN doc_id % 10 = 3 THEN n_chars + 7
        |    ELSE n_chars END AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val path = ensureNestedUpdatedManifest(s, d)
      graft.sinks.ManifestTable.read(s, path)
        .select(col("doc_id"), col("meta.lang").as("lang"),
          col("meta.n_chars").cast("long").as("n_chars"))
        .orderBy("doc_id")
    },

    // ---- SUBQUERY-predicate SQL DELETE end-to-end (q166):
    //      `WHERE key IN (SELECT …)` materializes the uncorrelated
    //      subquery at rule time and routes its string point set
    //      MERGE-ON-READ (deleteKeys: one tombstone, zero data files
    //      rewritten — the builder enforces the routing; here the
    //      oracle recomputes the surviving set from scratch: a key
    //      deleted outside the subquery's own selection, a surviving
    //      tombstoned row, or a lost row all hash-mismatch). ----
    // ---- Branch-scoped DML end-to-end (q167): the audit-fix
    //      workflow — a branch stages two slices, a mid-branch
    //      DELETE drops the staged 'de' rows and a mid-branch UPDATE
    //      bumps staged odd n_chars, base rows untouched by both,
    //      then ONE fast-forward publishes the FIXED content. The
    //      oracle recomputes the post-fast-forward table from
    //      scratch: a fix leaking onto base rows, a missed staged
    //      row, or a lost/duplicated slice all hash-mismatch. ----
    GraftQuery("q167_manifest_branch_dml",
      """SELECT doc_id, lang,
        |  CAST(CASE WHEN doc_id % 3 <> 0 AND n_chars % 2 = 1
        |    THEN n_chars + 1000 ELSE n_chars END AS BIGINT) AS n_chars
        |FROM documents
        |WHERE doc_id % 3 = 0
        |   OR NOT COALESCE(lang = 'de', FALSE)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val path = ensureBranchDmlManifest(s, d)
      graft.sinks.ManifestTable.read(s, path)
        .select(col("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"))
        .orderBy("doc_id")
    },

    // ---- STREAM-WAP end-to-end (q168): streaming ingest staged on
    //      a branch (exactly-once batchId discipline, replay skips
    //      enforced at build — including the post-publish replay
    //      whose watermark lives in MAIN), one staged-scope audit
    //      fix, two fast-forward windows. The oracle recomputes the
    //      published table from scratch: a replayed batch staging
    //      twice, a fix leaking onto base rows, or a lost window all
    //      hash-mismatch. ----
    GraftQuery("q168_manifest_stream_wap",
      """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents
        |WHERE doc_id % 4 IN (0, 3)
        |   OR NOT COALESCE(lang = 'de', FALSE)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val path = ensureStreamWapManifest(s, d)
      graft.sinks.ManifestTable.read(s, path)
        .select(col("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"))
        .orderBy("doc_id")
    },

    // ---- OVER-CAP IN-subquery DELETE end-to-end (q169): the key
    //      set exceeds the inline-literal cap, so the statement
    //      auto-routes through the DataFrame-valued merge-on-read
    //      delete (zero data files rewritten, keys never collected —
    //      both enforced at build). The oracle recomputes the
    //      surviving set from scratch like q166's. ----
    GraftQuery("q169_manifest_subquery_join_delete",
      """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents
        |WHERE NOT COALESCE(lang = 'en' AND n_chars % 5 = 2, FALSE)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val path = ensureSubqueryJoinDeletedManifest(s, d)
      graft.sinks.ManifestTable.read(s, path)
        .select(col("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"))
        .orderBy("doc_id")
    },

    // ---- OVER-CAP IN-subquery UPDATE end-to-end (q172): the
    //      DELETE route's copy-on-write twin — the oracle recomputes
    //      the patched table from scratch (a patch leaking onto
    //      non-member rows, a missed member, or NULL-key damage all
    //      hash-mismatch). ----
    GraftQuery("q172_manifest_subquery_update",
      """SELECT doc_id, lang,
        |  CAST(CASE WHEN COALESCE(lang = 'en' AND n_chars % 3 = 1,
        |                          FALSE)
        |    THEN n_chars + 100000 ELSE n_chars END AS BIGINT)
        |    AS n_chars
        |FROM documents
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val path = ensureSubqueryUpdatedManifest(s, d)
      graft.sinks.ManifestTable.read(s, path)
        .select(col("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"))
        .orderBy("doc_id")
    },

    // ---- OVER-CAP IN-subquery DELETE with RESIDUAL conjuncts
    //      (q174): `WHERE key IN (SELECT …) AND lang = 'en'` past the
    //      cap routes the frame-keyed copy-on-write delete instead of
    //      refusing — membership is a distributed key-frame join, the
    //      residual runs verbatim in the rewrite, and only rows
    //      matching BOTH go. The oracle recomputes the surviving set
    //      from scratch; the builder REQUIRES the route (commit op)
    //      and that member rows failing the residual SURVIVE. ----
    GraftQuery("q174_manifest_subquery_residual_delete",
      """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents
        |WHERE NOT COALESCE(n_chars % 5 = 2 AND lang = 'en', FALSE)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val path = ensureSubqueryResidualDeletedManifest(s, d)
      graft.sinks.ManifestTable.read(s, path)
        .select(col("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"))
        .orderBy("doc_id")
    },

    GraftQuery("q166_manifest_subquery_delete",
      """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents
        |WHERE NOT COALESCE(lang = 'en' AND n_chars % 7 = 3, FALSE)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val path = ensureSubqueryDeletedManifest(s, d)
      graft.sinks.ManifestTable.read(s, path)
        .select(col("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"))
        .orderBy("doc_id")
    },
  )
}
