package graft

import graft.sinks.ManifestTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Row-level change-data-feed (`ManifestTable.readChanges` +
  * the streaming `readChangeFeed` option): delete/insert normal
  * form, exact through every mutation shape, maintenance-invisible,
  * cost scoped to touched dirs, loud on vacuumed gaps.
  */
class ManifestChangesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def changes(t: String, since: Long, until: Long)
      : Seq[(Long, Long, String, Long)] =
    ManifestTable.readChanges(spark, t, since, until)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getString(2), r.getLong(3))).sorted.toSeq

  test("readChanges: append, in-place update, range delete, overwrite") {
    val t = s"${Files.createTempDirectory("graft-cdf")}/t"
    ManifestTable.append(spark,
      Seq((1L, 10L), (2L, 10L)).toDF("id", "n"), t,
      statsCols = Seq("id"))                                      // v1
    ManifestTable.append(spark, Seq((3L, 10L)).toDF("id", "n"), t,
      statsCols = Seq("id"))                                      // v2
    // appends: pure inserts at their commit version
    assert(changes(t, 0L, 2L) == Seq((1L, 10L, "insert", 1L),
      (2L, 10L, "insert", 1L), (3L, 10L, "insert", 2L)))
    // in-place UPDATE: delete-preimage + insert-postimage at v3 —
    // only the changed ROW appears, not the rest of its dir
    ManifestTable.updateRange(spark, t, "id", 2L, 2L,
      Seq("n" -> lit(99L)))                                       // v3
    assert(changes(t, 2L, 3L) == Seq((2L, 10L, "delete", 3L),
      (2L, 99L, "insert", 3L)))
    // copy-on-write range DELETE: deletes only
    ManifestTable.deleteRange(spark, t, "id", 3L, 3L)             // v4
    assert(changes(t, 3L, 4L) == Seq((3L, 10L, "delete", 4L)))
    // a WINDOW spanning several versions unions the steps
    assert(changes(t, 2L, 4L) == Seq((2L, 10L, "delete", 3L),
      (2L, 99L, "insert", 3L), (3L, 10L, "delete", 4L)))
    // OVERWRITE: everything old deletes, everything new inserts
    ManifestTable.overwrite(spark,
      Seq((7L, 1L)).toDF("id", "n"), t)                           // v5
    assert(changes(t, 4L, 5L) == Seq((1L, 10L, "delete", 5L),
      (2L, 99L, "delete", 5L), (7L, 1L, "insert", 5L)))
  }

  test("readChanges: user columns named _sign and _d feed unchanged") {
    Seq("_sign", "_d").foreach { c =>
      val t = s"${Files.createTempDirectory("graft-cdfr")}/t"
      ManifestTable.append(spark,
        Seq((1L, 5L), (2L, 5L)).toDF("id", c), t,
        statsCols = Seq("id"))                                    // v1
      ManifestTable.updateRange(spark, t, "id", 2L, 2L,
        Seq(c -> lit(-7L)))                                       // v2
      assert(changes(t, 0L, 2L) == Seq((1L, 5L, "insert", 1L),
        (2L, -7L, "insert", 2L), (2L, 5L, "delete", 2L),
        (2L, 5L, "insert", 1L)).sorted, s"column $c")
    }
  }

  test("readChanges: maintenance is invisible; deleteKeys and dropPartitions feed") {
    val t = s"${Files.createTempDirectory("graft-cdfm")}/t"
    ManifestTable.append(spark,
      Seq(("a", 1L), ("b", 2L)).toDF("k", "n"), t,
      statsCols = Seq("k"))                                       // v1
    ManifestTable.append(spark, Seq(("c", 3L)).toDF("k", "n"), t,
      statsCols = Seq("k"))                                       // v2
    // COMPACT rewrites dirs to identical rows: ZERO changes
    ManifestTable.compact(spark, t)                               // v3
    assert(ManifestTable.readChanges(spark, t, 2L, 3L).count() == 0,
      "maintenance must emit no changes")
    // deleteKeys is MERGE-ON-READ — no dir changes, only pending
    // tombstones: the dv diff still feeds the delete
    ManifestTable.deleteKeys(spark, Seq("b").toDF("k"), t, "k")   // v4
    val dvStep = ManifestTable.readChanges(spark, t, 3L, 4L)
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getString(2))).toSeq
    assert(dvStep == Seq(("b", 2L, "delete")))
    // ...and the later rewrite that MATERIALIZES the tombstone emits
    // nothing (the rows were already reported deleted)
    ManifestTable.rewriteDeletes(spark, t)                        // v5
    assert(ManifestTable.readChanges(spark, t, 4L, 5L).count() == 0,
      "materializing an already-fed tombstone must emit no changes")
    // dropPartitions: metadata-only, but the feed reads the dropped
    // dir's rows from the previous snapshot
    val tp = s"${Files.createTempDirectory("graft-cdfp")}/t"
    ManifestTable.append(spark,
      Seq((1L, "en"), (2L, "de")).toDF("id", "lang"), tp,
      partitionSpec =
        Seq(graft.sinks.PartitionTransform.PIdentity("lang")))    // v1
    ManifestTable.dropPartitions(spark, tp, Map("lang" -> "de"))  // v2
    val dropped = ManifestTable.readChanges(spark, tp, 1L, 2L)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getString(2))).toSeq
    assert(dropped == Seq((2L, "de", "delete")))
  }

  test("graft_changes / graft_history table functions: the SQL front door") {
    val t = s"${Files.createTempDirectory("graft-cdftvf")}/t"
    ManifestTable.append(spark, Seq((1L, 10L), (2L, 10L))
      .toDF("id", "n"), t, statsCols = Seq("id"))           // v1
    ManifestTable.deleteRange(spark, t, "id", 2L, 2L)        // v2
    val got = spark.sql(
      s"SELECT id, n, _change_type, _commit_version " +
        s"FROM graft_changes('$t', 1) ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSeq
    assert(got == Seq((2L, 10L, "delete", 2L)), s"got $got")
    // explicit until; and the feed composes with ordinary SQL
    val n = spark.sql(
      s"SELECT COUNT(*) FROM graft_changes('$t', 0, 1)").collect()
      .head.getLong(0)
    assert(n == 2L, "bootstrap window must hold the two inserts")
    // history: one row per retained snapshot with the op recorded
    val hist = spark.sql(
      s"SELECT version, operation FROM graft_history('$t') " +
        "ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(hist.map(_._1) == Seq(1L, 2L) &&
      hist.last._2 == "deleteRange", s"got $hist")
    // detail: the one-row table summary, by SQL
    val det = spark.sql(s"SELECT * FROM graft_detail('$t')").collect()
    assert(det.length == 1 &&
      det.head.getAs[Long]("version") == 2L, s"got ${det.toSeq}")
    // non-constant arguments are loud at analysis
    val ex = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_changes(CAST(rand() AS STRING), 0)")
        .collect()
    }
    assert(ex.getMessage.contains("constant"))
  }

  test("readChanges is loud on gaps and bad versions") {
    val t = s"${Files.createTempDirectory("graft-cdfv")}/t"
    (1 to 4).foreach(i =>
      ManifestTable.append(spark, Seq(i.toLong).toDF("id"), t))
    def msg(f: => Any): String = intercept[Exception](f).getMessage
    assert(msg(ManifestTable.readChanges(spark, t, 1L, 9L))
      .contains("not a committed snapshot"))
    assert(msg(ManifestTable.readChanges(spark, t, 7L, 4L))
      .contains("not a committed snapshot"))
    // vacuum the early versions: a checkpoint before the horizon
    // names the re-bootstrap contract
    ManifestTable.vacuum(spark, t, keepVersions = 2)
    assert(msg(ManifestTable.readChanges(spark, t, 1L, 4L))
      .contains("re-bootstrap"))
    // bootstrap after vacuum: earliest retained snapshot as inserts,
    // then the diff steps
    val boot = changes0(t)
    assert(boot.map(_._1).sorted == Seq(1L, 2L, 3L, 4L))
    assert(boot.forall(_._2 == "insert"))
  }

  private def changes0(t: String): Seq[(Long, String)] = {
    val until = ManifestTable.latestVersion(spark, t).get
    ManifestTable.readChanges(spark, t, 0L, until)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
  }

  test("CDC apply: a follower converges to the source through updates and deletes") {
    val tmp = Files.createTempDirectory("graft-cdcapply").toString
    val src = s"$tmp/src"; val dst = s"$tmp/dst"; val ckpt = s"$tmp/ckpt"
    ManifestTable.append(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"), src,
      statsCols = Seq("id"))
    def state(t: String): Seq[(Long, String)] =
      ManifestTable.read(spark, t).collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    def follow() = graft.streaming.Streams.applyChangesSinkWriter(
      spark.readStream.format("graft-manifest")
        .option("readChangeFeed", "true").load(src),
      dst, "id", ckpt, statsCols = Seq("id")).start()
    val q = follow()
    q.processAllAvailable()
    assert(state(dst) == state(src), "bootstrap must mirror the source")
    // an in-place update, a delete, and a fresh append upstream —
    // the follower nets to exactly the source's live rows
    ManifestTable.updateRange(spark, src, "id", 2L, 2L,
      Seq("s" -> lit("B")))
    ManifestTable.deleteRange(spark, src, "id", 1L, 1L)
    ManifestTable.append(spark, Seq((5L, "e")).toDF("id", "s"), src,
      statsCols = Seq("id"))
    q.processAllAvailable()
    q.stop()
    assert(state(dst) == Seq((2L, "B"), (5L, "e")) &&
      state(dst) == state(src), s"follower diverged: ${state(dst)}")
    // restart: mutations applied while stopped arrive exactly once
    ManifestTable.deleteRange(spark, src, "id", 5L, 5L)
    ManifestTable.updateRange(spark, src, "id", 2L, 2L,
      Seq("s" -> lit("B2")))
    val q2 = follow()
    q2.processAllAvailable()
    q2.stop()
    assert(state(dst) == Seq((2L, "B2")) && state(dst) == state(src),
      s"restart diverged: ${state(dst)}")
    // a non-change-feed input is rejected at construction, loudly
    val ex = intercept[IllegalArgumentException] {
      graft.streaming.Streams.applyChangesSinkWriter(
        spark.readStream.format("graft-manifest").load(src),
        dst, "id", s"$tmp/ckpt2")
    }
    assert(ex.getMessage.contains("readChangeFeed"))
  }

  test("CDC apply converges under rate-limited batches on a vacuumed source") {
    val tmp = Files.createTempDirectory("graft-cdcrate").toString
    val src = s"$tmp/src"; val dst = s"$tmp/dst"
    (0 until 6).foreach { i =>
      ManifestTable.append(spark,
        (i * 10 until (i + 1) * 10).map(x => (x.toLong, s"t$x"))
          .toDF("id", "s"), src, statsCols = Seq("id"))
    }
    // sparse version numbers below the suffix + multi-version batches
    ManifestTable.vacuum(spark, src, keepVersions = 3)
    ManifestTable.updateRange(spark, src, "id", 5L, 14L,
      Seq("s" -> concat(col("s"), lit("!"))))
    ManifestTable.deleteRange(spark, src, "id", 30L, 34L)
    val q = graft.streaming.Streams.applyChangesSinkWriter(
      spark.readStream.format("graft-manifest")
        .option("readChangeFeed", "true")
        .option("maxVersionsPerTrigger", "2").load(src),
      dst, "id", s"$tmp/ckpt", statsCols = Seq("id")).start()
    q.processAllAvailable()
    q.stop()
    val s0 = ManifestTable.read(spark, src)
    val d0 = ManifestTable.read(spark, dst)
    assert(d0.exceptAll(s0).isEmpty && s0.exceptAll(d0).isEmpty,
      s"diverged: src=${s0.count()} dst=${d0.count()}")
  }

  test("streaming readChangeFeed drains append→delete→append exactly once") {
    val tmp = Files.createTempDirectory("graft-cdfstream").toString
    val t = s"$tmp/table"
    val ckpt = s"$tmp/ckpt"
    ManifestTable.append(spark, Seq((1L, "a"), (2L, "b"))
      .toDF("id", "s"), t, statsCols = Seq("id"))                 // v1
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, String, String, Long)]()
    def start() = spark.readStream.format("graft-manifest")
      .option("readChangeFeed", "true").load(t)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => rows.add((r.getLong(0), r.getString(1),
          r.getString(2), r.getLong(3))))
        ()
      }.start()
    val q = start()
    q.processAllAvailable()
    // bootstrap batch: the existing table as inserts
    assert(rows.toArray.toSeq.asInstanceOf[Seq[(Long, String, String,
      Long)]].sorted == Seq((1L, "a", "insert", 1L),
      (2L, "b", "insert", 1L)))
    // a DELETE mid-stream — the append-only source would fail here;
    // the change feed delivers the delete row
    ManifestTable.deleteRange(spark, t, "id", 2L, 2L)             // v2
    q.processAllAvailable()
    // a fresh append after the delete
    ManifestTable.append(spark, Seq((5L, "e")).toDF("id", "s"), t,
      statsCols = Seq("id"))                                      // v3
    q.processAllAvailable()
    q.stop()
    val got = rows.toArray.toSeq.asInstanceOf[Seq[(Long, String,
      String, Long)]].sorted
    assert(got == Seq((1L, "a", "insert", 1L), (2L, "b", "delete", 2L),
      (2L, "b", "insert", 1L), (5L, "e", "insert", 3L)),
      s"got $got")
    // restart: the checkpoint resumes past everything drained —
    // only a post-restart commit arrives, exactly once
    ManifestTable.deleteRange(spark, t, "id", 1L, 1L)             // v4
    rows.clear()
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    assert(rows.toArray.toSeq == Seq((1L, "a", "delete", 4L)),
      s"restart must deliver only the new delete, got ${rows.toArray.toSeq}")
  }

  test("a deep catch-up collapses its union width without changing the feed") {
    val t = s"${Files.createTempDirectory("graft-cdfdeep")}/t"
    ManifestTable.append(spark,
      (0L until 60L).map(i => (i, 100L)).toDF("id", "n"), t,
      statsCols = Seq("id"))
    // 25 stepped versions x (delete-preimage + insert-postimage
    // frames) + the bootstrap frame crosses ChangeUnionWidth (48):
    // the feed must collapse via localCheckpoint mid-accumulation
    // and still be row-exact
    (1L to 25L).foreach(i =>
      ManifestTable.updateRange(spark, t, "id", i, i,
        Seq("n" -> (col("n") + i))))
    val v = ManifestTable.latestVersion(spark, t).get
    assert(v == 26L)
    val ch = ManifestTable.readChanges(spark, t, 0L, v)
    assert(ch.count() == 60 + 2 * 25, "bootstrap + one pre/post pair " +
      "per stepped version")
    // NET the feed (last change per id wins) and compare against the
    // live table — a collapse that lost, duplicated, or reordered a
    // frame diverges here
    val w = org.apache.spark.sql.expressions.Window.partitionBy("id")
      .orderBy(col("_commit_version").desc,
        when(col("_change_type") === "insert", 1).otherwise(0).desc)
    val net = ch.withColumn("_rn",
        org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("_rn") === 1 && col("_change_type") === "insert")
      .select("id", "n").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val live = ManifestTable.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(net == live, s"netted feed diverged from the table")
    assert(live.take(3) == Seq((0L, 100L), (1L, 101L), (2L, 102L)))
  }

  test("a lagged follower recovers with one rebootstrap call") {
    val tmp = Files.createTempDirectory("graft-cdclag").toString
    val src = s"$tmp/src"; val dst = s"$tmp/dst"; val ckpt = s"$tmp/ckpt"
    ManifestTable.append(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"), src,
      statsCols = Seq("id"))
    def state(t: String): Seq[(Long, String)] =
      ManifestTable.read(spark, t).collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    def follow() = graft.streaming.Streams.applyChangesSinkWriter(
      spark.readStream.format("graft-manifest")
        .option("readChangeFeed", "true").load(src),
      dst, "id", ckpt, statsCols = Seq("id")).start()
    val q = follow()
    q.processAllAvailable(); q.stop()
    assert(state(dst) == state(src))
    // the follower sleeps while the source advances AND vacuums its
    // replay window away: the checkpointed offset's successors are gone
    (3L to 6L).foreach(i => ManifestTable.append(spark,
      Seq((i, s"v$i")).toDF("id", "s"), src, statsCols = Seq("id")))
    ManifestTable.deleteRange(spark, src, "id", 1L, 1L)
    ManifestTable.vacuum(spark, src, keepVersions = 1)
    // restart fails LOUDLY (never silently skips the gap)
    val q2 = follow()
    val ex = intercept[Exception] {
      q2.processAllAvailable()
    }
    def msgs(e: Throwable): Seq[String] =
      Option(e).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(ex).exists(m => m.contains("vacuumed") ||
      m.contains("re-bootstrap")), s"got ${msgs(ex)}")
    if (q2.isActive) q2.stop()
    // the documented one-call fix: wipe the DERIVED state (replica +
    // checkpoint) and re-bootstrap from the source's current snapshot
    val q3 = graft.streaming.Streams.rebootstrapChangesFollower(spark,
      src, dst, "id", ckpt, statsCols = Seq("id")).start()
    q3.processAllAvailable()
    // ... and it keeps FOLLOWING after the bootstrap
    ManifestTable.append(spark, Seq((9L, "i")).toDF("id", "s"), src,
      statsCols = Seq("id"))
    q3.processAllAvailable(); q3.stop()
    assert(state(dst) == state(src) && state(dst).map(_._1) ==
      Seq(2L, 3L, 4L, 5L, 6L, 9L), s"got ${state(dst)}")
    // the source-protection guard
    val ex2 = intercept[IllegalArgumentException] {
      graft.streaming.Streams.rebootstrapChangesFollower(spark,
        src, src, "id", s"$tmp/ckpt2")
    }
    assert(ex2.getMessage.contains("refusing"))
    // … and it is a PREFIX guard, not string equality: a replica or
    // checkpoint NESTED UNDER the source dir would delete source
    // data on the way to the "derived" artifact
    val ex3 = intercept[IllegalArgumentException] {
      graft.streaming.Streams.rebootstrapChangesFollower(spark,
        src, s"$src/replica", "id", s"$tmp/ckpt3")
    }
    assert(ex3.getMessage.contains("overlaps"), ex3.getMessage)
    val ex4 = intercept[IllegalArgumentException] {
      graft.streaming.Streams.rebootstrapChangesFollower(spark,
        src, s"$tmp/dst4", "id", s"$src/ckpt")
    }
    assert(ex4.getMessage.contains("overlaps"), ex4.getMessage)
    // a delete target ABOVE the source is refused too (it would take
    // the source down from the parent)
    val ex5 = intercept[IllegalArgumentException] {
      graft.streaming.Streams.rebootstrapChangesFollower(spark,
        src, tmp, "id", s"$tmp/ckpt5")
    }
    assert(ex5.getMessage.contains("overlaps"), ex5.getMessage)
    // source data fully intact after every refusal
    assert(ManifestTable.read(spark, src).count() == 6)
  }

  test("branch DML supersedes feed as their FIXED content: readSince " +
      "and readChanges deliver the published rows exactly once") {
    val t = s"${Files.createTempDirectory("graft-cdf-br")}/t"
    ManifestTable.append(spark,
      Seq((1L, 10L), (2L, 10L)).toDF("id", "n"), t,
      statsCols = Seq("id"))                                      // v1
    val v1 = ManifestTable.latestVersion(spark, t).get
    // a branch stages two commits; the audit fixes the STAGED rows
    // in place (supersede-pointer rewrites of staged dirs), then the
    // fast-forward publishes the fixed content at ONE version
    ManifestTable.createBranch(spark, t, "fix")
    ManifestTable.appendToBranch(spark,
      Seq((10L, 1L), (11L, 2L)).toDF("id", "n"), t, "fix",
      statsCols = Seq("id"))
    ManifestTable.appendToBranch(spark,
      Seq((12L, 3L)).toDF("id", "n"), t, "fix",
      statsCols = Seq("id"))
    ManifestTable.deleteFromBranch(spark, t, "fix", col("id") === 11L)
    ManifestTable.updateBranch(spark, t, "fix", col("id") === 12L,
      Seq("n" -> lit(300L)))
    val v2 = ManifestTable.fastForwardBranch(spark, t, "fix")
    // a consumer checkpointed BEFORE the branch sees exactly the
    // FIXED rows, once, at the publish version — never the staged
    // pre-fix content and never a duplicate from the superseded dirs
    assert(ManifestTable.readSince(spark, t, v1)
      .select("id", "n").as[(Long, Long)].collect().sorted.toSeq ==
      Seq((10L, 1L), (12L, 300L)),
      "readSince must deliver the fixed rows exactly once")
    assert(changes(t, v1, v2) == Seq((10L, 1L, "insert", v2),
      (12L, 300L, "insert", v2)),
      "the change feed must show the publish as inserts of the " +
        "FIXED content only")
    // a consumer checkpointed AT the publish sees nothing new
    assert(ManifestTable.readSince(spark, t, v2).isEmpty)
  }
}
