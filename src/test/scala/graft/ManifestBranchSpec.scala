package graft

import graft.sinks.ManifestTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Snapshot BRANCHES — WAP generalized to multi-commit
  * audit-then-fast-forward (the Iceberg branch contract): a branch
  * forks from a committed snapshot, accumulates staged appends main
  * never sees, reads whole for the audit, then fast-forwards onto
  * main as ONE atomic commit or is abandoned without a trace. Tags
  * stay immutable; vacuum pins branch bases and branch dirs.
  */
class ManifestBranchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(p: String): String =
    s"${Files.createTempDirectory(p)}/t"

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("id").as[Long].collect().sorted.toSeq

  private def msgs(e: Throwable): Seq[String] =
    Option(e).toSeq.flatMap(x =>
      Option(x.getMessage).toSeq ++ msgs(x.getCause))

  test("lifecycle: branch -> N commits -> audit -> fast-forward") {
    val t = tmp("graft-br1")
    ManifestTable.append(spark, Seq(1L, 2L).toDF("id"), t,
      statsCols = Seq("id"))
    val base = ManifestTable.createBranch(spark, t, "audit")
    assert(base == 1L)
    assert(ManifestTable.branchNames(spark, t) == Seq("audit"))
    // two branch commits; main stays oblivious throughout
    assert(ManifestTable.appendToBranch(spark,
      Seq(10L, 11L).toDF("id"), t, "audit", statsCols = Seq("id")) == 1)
    assert(ManifestTable.appendToBranch(spark,
      Seq(12L).toDF("id"), t, "audit", statsCols = Seq("id")) == 2)
    assert(ids(ManifestTable.read(spark, t)) == Seq(1L, 2L),
      "main readers must never see branch commits")
    assert(ManifestTable.latestVersion(spark, t).contains(1L))
    // the audit reads the branch WHOLE: base + both commits
    assert(ids(ManifestTable.readBranch(spark, t, "audit")) ==
      Seq(1L, 2L, 10L, 11L, 12L))
    // fast-forward: ONE atomic commit, zero data moves, branch gone
    val v = ManifestTable.fastForwardBranch(spark, t, "audit")
    assert(v == 2L)
    assert(ids(ManifestTable.read(spark, t)) ==
      Seq(1L, 2L, 10L, 11L, 12L))
    assert(ManifestTable.branchNames(spark, t).isEmpty)
    // the branch dirs' recorded stats arrived with them
    val newest = ManifestTable.entriesOf(spark, t, v)
      .filter(e => e.statMin.get("id").exists(_ >= 10L))
    assert(newest.nonEmpty, "branch entries must carry their stats")
  }

  test("abandon: the reject path leaves main untouched; vacuum reaps") {
    val t = tmp("graft-br2")
    ManifestTable.append(spark, Seq(1L).toDF("id"), t)
    ManifestTable.createBranch(spark, t, "bad")
    ManifestTable.appendToBranch(spark, Seq(99L).toDF("id"), t, "bad")
    // while the branch lives, vacuum must NOT reap its dirs
    val r0 = ManifestTable.vacuumDetailed(spark, t, keepVersions = 1)
    assert(ids(ManifestTable.readBranch(spark, t, "bad")) ==
      Seq(1L, 99L), s"vacuum reaped a live branch's dirs ($r0)")
    ManifestTable.abandonBranch(spark, t, "bad")
    val r = ManifestTable.vacuumDetailed(spark, t, keepVersions = 1)
    assert(r.dirsReaped >= 1, "abandoned branch dirs must reap")
    assert(ids(ManifestTable.read(spark, t)) == Seq(1L))
  }

  test("vacuum pins the branch base while the branch lives") {
    val t = tmp("graft-br3")
    ManifestTable.append(spark, Seq(1L).toDF("id"), t) // v1
    ManifestTable.createBranch(spark, t, "slow")       // base = v1
    ManifestTable.appendToBranch(spark, Seq(50L).toDF("id"), t, "slow")
    // main advances past the base...
    ManifestTable.append(spark, Seq(2L).toDF("id"), t) // v2
    ManifestTable.append(spark, Seq(3L).toDF("id"), t) // v3
    // ...and a keep-1 vacuum must still pin v1 (the branch's base)
    ManifestTable.vacuumDetailed(spark, t, keepVersions = 1)
    assert(ManifestTable.versions(spark, t).contains(1L),
      "the branch base manifest must survive vacuum")
    assert(ids(ManifestTable.readBranch(spark, t, "slow")) ==
      Seq(1L, 50L), "the branch must stay readable after vacuum")
    // fast-forward onto the ADVANCED main: appends commute — every
    // row lands, validated against the table as it is now
    val v = ManifestTable.fastForwardBranch(spark, t, "slow")
    assert(ids(ManifestTable.readVersion(spark, t, v)) ==
      Seq(1L, 2L, 3L, 50L))
  }

  test("fast-forward is idempotent across the commit/consume crash window") {
    val t = tmp("graft-br4")
    ManifestTable.append(spark, Seq(1L).toDF("id"), t)
    ManifestTable.createBranch(spark, t, "c")
    ManifestTable.appendToBranch(spark, Seq(2L, 3L).toDF("id"), t, "c")
    val bd = s"$t/branches/c"
    val copy = s"$t/.branch-copy"
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val conf = spark.sessionState.newHadoopConf()
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(bd), fs,
      new org.apache.hadoop.fs.Path(copy), false, conf)
    val v = ManifestTable.fastForwardBranch(spark, t, "c")
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(copy), fs,
      new org.apache.hadoop.fs.Path(bd), false, conf)
    fs.delete(new org.apache.hadoop.fs.Path(copy), true)
    // ... even when a compact rewrote the published dirs out of the
    // latest snapshot between crash and retry (history attempt id
    // proves it, like publish's)
    ManifestTable.compact(spark, t)
    val w = ManifestTable.fastForwardBranch(spark, t, "c")
    assert(w == v, s"retry re-published (returned $w, expected $v)")
    assert(ids(ManifestTable.read(spark, t)) == Seq(1L, 2L, 3L),
      "branch rows duplicated by the retry")
    assert(ManifestTable.branchNames(spark, t).isEmpty)
  }

  test("graft_branch TVF serves the audit read in SQL, by path or name") {
    val t = tmp("graft-br-tvf")
    ManifestTable.append(spark, Seq(1L).toDF("id"), t,
      statsCols = Seq("id"))
    ManifestTable.createBranch(spark, t, "aud")
    ManifestTable.appendToBranch(spark, Seq(7L, 8L).toDF("id"), t,
      "aud", statsCols = Seq("id"))
    val got = spark.sql(
      s"SELECT id FROM graft_branch('$t', 'aud') ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 7L, 8L), s"got $got")
    // composes with plain SQL — the audit query a gate job runs
    assert(spark.sql(
      s"SELECT COUNT(*) FROM graft_branch('$t', 'aud') WHERE id > 5")
      .head.getLong(0) == 2L)
    // loud on an unknown branch
    val ex = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_branch('$t', 'nope')").collect()
    }
    def msgs(e: Throwable): Seq[String] =
      Option(e).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(ex).exists(_.contains("no branch")), s"${msgs(ex)}")
  }

  test("the change feed sees a fast-forward as ordinary inserts at ONE version") {
    val t = tmp("graft-br-cdf")
    ManifestTable.append(spark, Seq(1L).toDF("id"), t,
      statsCols = Seq("id"))
    ManifestTable.createBranch(spark, t, "b")
    ManifestTable.appendToBranch(spark, Seq(2L).toDF("id"), t, "b",
      statsCols = Seq("id"))
    ManifestTable.appendToBranch(spark, Seq(3L).toDF("id"), t, "b",
      statsCols = Seq("id"))
    val v = ManifestTable.fastForwardBranch(spark, t, "b")
    val ch = ManifestTable.readChanges(spark, t, 0L, v)
      .select("id", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    // branch staging itself is INVISIBLE to the feed; the
    // fast-forward lands both commits' rows as inserts at one version
    assert(ch == Seq((1L, "insert", 1L), (2L, "insert", v),
      (3L, "insert", v)), s"got $ch")
  }

  test("schema evolution on a branch commit; loud shapes") {
    val t = tmp("graft-br5")
    ManifestTable.append(spark, Seq(1L).toDF("id"), t)
    ManifestTable.createBranch(spark, t, "ev")
    ManifestTable.appendToBranch(spark,
      Seq((9L, "x")).toDF("id", "s"), t, "ev")
    // the audit read fills the base's missing column with null
    val audit = ManifestTable.readBranch(spark, t, "ev")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
    assert(audit == Seq((1L, None), (9L, Some("x"))))
    // fast-forward refuses the evolution unless asked, then evolves
    val exEv = intercept[Exception] {
      ManifestTable.fastForwardBranch(spark, t, "ev")
    }
    assert(msgs(exEv).exists(_.contains("evolve")), s"${msgs(exEv)}")
    val v = ManifestTable.fastForwardBranch(spark, t, "ev",
      evolveSchema = true)
    assert(ManifestTable.readVersion(spark, t, v).columns.toSeq ==
      Seq("id", "s"))
    // loud: duplicate branch, tag-name collision, missing branch
    ManifestTable.createBranch(spark, t, "dup")
    val ex1 = intercept[Exception] {
      ManifestTable.createBranch(spark, t, "dup")
    }
    assert(msgs(ex1).exists(_.contains("already")))
    ManifestTable.abandonBranch(spark, t, "dup")
    ManifestTable.createTag(spark, t, "pin", v)
    val ex2 = intercept[Exception] {
      ManifestTable.createBranch(spark, t, "pin")
    }
    assert(msgs(ex2).exists(_.contains("TAG")))
    // ... and the symmetric refusal: a tag may not take a live
    // branch's name either
    ManifestTable.createBranch(spark, t, "live")
    val ex2b = intercept[Exception] {
      ManifestTable.createTag(spark, t, "live", v)
    }
    assert(msgs(ex2b).exists(_.contains("BRANCH")))
    ManifestTable.abandonBranch(spark, t, "live")
    val ex3 = intercept[Exception] {
      ManifestTable.appendToBranch(spark, Seq(1L).toDF("id"), t, "nope")
    }
    assert(msgs(ex3).exists(_.contains("no branch")))
  }

  test("branch append on a COLUMN-MAPPED table stamps field ids — " +
      "the table stays readable after fast-forward") {
    val t = tmp("graft-br-map")
    ManifestTable.append(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"), t)
    // any rename flips the table to id-based (column-mapped) reads;
    // every data file must carry parquet field ids from here on
    ManifestTable.renameColumn(spark, t, "s", "label")
    ManifestTable.createBranch(spark, t, "audit")
    ManifestTable.appendToBranch(spark,
      Seq((10L, "c")).toDF("id", "label"), t, "audit")
    // the audit read resolves branch dirs on the mapped table too
    assert(ids(ManifestTable.readBranch(spark, t, "audit")) ==
      Seq(1L, 2L, 10L))
    ManifestTable.fastForwardBranch(spark, t, "audit")
    val out = ManifestTable.read(spark, t)
    assert(out.columns.toSeq == Seq("id", "label"))
    assert(ids(out) == Seq(1L, 2L, 10L))
    assert(out.select("label").as[String].collect().sorted.toSeq ==
      Seq("a", "b", "c"),
      "branch files must resolve by field id after fast-forward")
    // and a post-fast-forward rename still resolves the branch dirs
    ManifestTable.renameColumn(spark, t, "label", "tag2")
    assert(ManifestTable.read(spark, t)
      .select("tag2").as[String].collect().sorted.toSeq ==
      Seq("a", "b", "c"))
  }

  test("staged WAP candidate on a mapped table stamps ids; publish " +
      "keeps the table readable") {
    val t = tmp("graft-wap-map")
    ManifestTable.append(spark,
      Seq((1L, "a")).toDF("id", "s"), t)
    ManifestTable.renameColumn(spark, t, "s", "label")
    ManifestTable.stageAppend(spark,
      Seq((2L, "b")).toDF("id", "label"), t, "cand")
    assert(ids(ManifestTable.readStaged(spark, t, "cand")) == Seq(2L))
    ManifestTable.publish(spark, t, "cand")
    assert(ManifestTable.read(spark, t)
      .select("label").as[String].collect().sorted.toSeq ==
      Seq("a", "b"))
  }

  test("mergeToBranch plans without an unsupported broadcast hint") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val t = tmp("graft-brhint")
    ManifestTable.append(spark, Seq((1L, "ok")).toDF("id", "st"), t,
      statsCols = Seq("id"))
    ManifestTable.createBranch(spark, t, "fix")
    ManifestTable.appendToBranch(spark, Seq((10L, "ok")).toDF("id", "st"),
      t, "fix", statsCols = Seq("id"))
    // Spark reports a hint it drops through this logger, at WARN
    val hintLogger = "org.apache.spark.sql.catalyst.analysis.HintErrorLogger"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val probe = new AbstractAppender("graft-hint-probe", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName == hintLogger)
          seen.add(e.getMessage.getFormattedMessage)
    }
    probe.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration.getLoggerConfig(hintLogger)
    cfg.addAppender(probe, null, null)
    ctx.updateLoggers()
    try {
      val (touched, appended) = ManifestTable.mergeToBranch(spark,
        Seq((10L, "ok2"), (20L, "new")).toDF("id", "st"), t, "fix", "id")
      assert(touched >= 1 && appended == 1L)
      assert(ids(ManifestTable.readBranch(spark, t, "fix")) ==
        Seq(1L, 10L, 20L))
      import scala.jdk.CollectionConverters._
      assert(seen.isEmpty, seen.asScala.mkString("\n"))
    } finally {
      cfg.removeAppender(probe.getName)
      ctx.updateLoggers()
      probe.stop()
    }
  }

  test("branch-scoped DML: mid-branch DELETE/UPDATE/MERGE fix the " +
      "staged batch; main and base stay physically untouched") {
    val t = tmp("graft-brdml")
    ManifestTable.append(spark,
      Seq((1L, "ok", 10L), (2L, "ok", 20L)).toDF("id", "st", "n"), t,
      statsCols = Seq("id"))
    val baseFiles = ManifestTable.read(spark, t).inputFiles.toSet
    ManifestTable.createBranch(spark, t, "fix")
    ManifestTable.appendToBranch(spark,
      Seq((10L, "ok", 100L), (11L, "bad", 110L)).toDF("id", "st", "n"),
      t, "fix", statsCols = Seq("id"))
    ManifestTable.appendToBranch(spark,
      Seq((12L, "bad", 120L), (13L, "ok", 130L)).toDF("id", "st", "n"),
      t, "fix", statsCols = Seq("id"))
    // the audit finds bad rows in BOTH commits → fix, not abandon
    val deleted = ManifestTable.deleteFromBranch(spark, t, "fix",
      col("st") === "bad")
    assert(deleted == 2, s"both commits' dirs rewrite, got $deleted")
    assert(ids(ManifestTable.readBranch(spark, t, "fix")) ==
      Seq(1L, 2L, 10L, 13L))
    // patch a surviving staged row in place
    val patched = ManifestTable.updateBranch(spark, t, "fix",
      col("id") === 13L, Seq("n" -> lit(999L)))
    assert(patched >= 1)
    // upsert: key 10 patches column-wise, key 20 appends; a BASE key
    // is refused loudly (the base is shared with main)
    val (mTouched, mAppended) = ManifestTable.mergeToBranch(spark,
      Seq((10L, "ok2", 101L), (20L, "new", 200L)).toDF("id", "st", "n"),
      t, "fix", "id")
    assert(mTouched >= 1 && mAppended == 1L)
    val exBase = intercept[Exception] {
      ManifestTable.mergeToBranch(spark,
        Seq((1L, "nope", 0L)).toDF("id", "st", "n"), t, "fix", "id")
    }
    assert(msgs(exBase).exists(_.contains("BASE")),
      s"got ${msgs(exBase)}")
    // main never saw any of it
    assert(ids(ManifestTable.read(spark, t)) == Seq(1L, 2L))
    assert(ManifestTable.read(spark, t).inputFiles.toSet == baseFiles,
      "branch DML must not rewrite base/main dirs")
    // fast-forward publishes the FIXED content as one atomic commit
    ManifestTable.fastForwardBranch(spark, t, "fix")
    val out = ManifestTable.read(spark, t)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(out == Seq((1L, "ok", 10L), (2L, "ok", 20L),
      (10L, "ok2", 101L), (13L, "ok", 999L), (20L, "new", 200L)),
      s"got $out")
    // the superseded dirs are orphans vacuum reaps; the live content
    // survives a full-history vacuum
    ManifestTable.vacuum(spark, t, keepVersions = 1)
    assert(ids(ManifestTable.read(spark, t)) ==
      Seq(1L, 2L, 10L, 13L, 20L))
  }

  test("compactBranch consolidates N staged commits into one; " +
      "appends and DML keep working; fast-forward publishes the same") {
    val t = tmp("graft-brcompact")
    ManifestTable.append(spark, Seq((1L, 10L)).toDF("id", "n"), t,
      statsCols = Seq("id"))
    ManifestTable.createBranch(spark, t, "long")
    // a drip of tiny staged commits, one evolving the schema
    (0 until 4).foreach(i => ManifestTable.appendToBranch(spark,
      Seq((10L + i, 100L + i)).toDF("id", "n"), t, "long",
      statsCols = Seq("id")))
    ManifestTable.appendToBranch(spark,
      Seq((20L, 200L, "x")).toDF("id", "n", "s"), t, "long",
      statsCols = Seq("id"))
    val beforeRows = ManifestTable.readBranch(spark, t, "long")
      .collect().map(_.toSeq).toSet
    val (cb, ca) = ManifestTable.compactBranch(spark, t, "long")
    assert(cb == 5 && ca == 1, s"got ($cb, $ca)")
    // same audit content (unevolved commits' missing column = NULL)
    assert(ManifestTable.readBranch(spark, t, "long")
      .collect().map(_.toSeq).toSet == beforeRows)
    // appends and branch DML still work on the consolidated set
    ManifestTable.appendToBranch(spark,
      Seq((30L, 300L, "y")).toDF("id", "n", "s"), t, "long",
      statsCols = Seq("id"))
    locally {
      import org.apache.spark.sql.catalyst.expressions.{
        AttributeReference, EqualTo, Literal}
      import org.apache.spark.sql.types.LongType
      assert(ManifestTable.deleteFromBranch(spark, t, "long",
        col("id") === 11L, Seq(EqualTo(
          AttributeReference("id", LongType)(), Literal(11L)))) == 1,
        "the stats-disjoint appended dir must not rewrite")
    }
    // a SECOND compaction chains through the set pointer
    val (cb2, ca2) = ManifestTable.compactBranch(spark, t, "long")
    assert(cb2 == 2 && ca2 == 1)
    ManifestTable.fastForwardBranch(spark, t, "long",
      evolveSchema = true)
    assert(ids(ManifestTable.read(spark, t)) ==
      Seq(1L, 10L, 12L, 13L, 20L, 30L))
    // superseded sets' dirs are orphans; content survives vacuum
    ManifestTable.vacuum(spark, t, keepVersions = 1)
    assert(ids(ManifestTable.read(spark, t)) ==
      Seq(1L, 10L, 12L, 13L, 20L, 30L))
  }

  test("vacuum during a live branch with superseded commits: active " +
      "dirs kept, superseded dirs reaped, audit read intact") {
    val t = tmp("graft-brvac")
    ManifestTable.append(spark, Seq(1L).toDF("id"), t,
      statsCols = Seq("id"))
    ManifestTable.createBranch(spark, t, "b")
    ManifestTable.appendToBranch(spark,
      Seq(10L, 11L).toDF("id"), t, "b", statsCols = Seq("id"))
    // supersede the commit via branch DML, then churn main so vacuum
    // has versions to drop
    ManifestTable.deleteFromBranch(spark, t, "b", col("id") === 11L)
    ManifestTable.append(spark, Seq(2L).toDF("id"), t,
      statsCols = Seq("id"))
    val dataDirs = () => new java.io.File(s"$t/data").listFiles()
      .count(_.isDirectory)
    val before = dataDirs()
    ManifestTable.vacuum(spark, t, keepVersions = 1)
    assert(dataDirs() < before,
      "the superseded branch commit's old dir must reap while the " +
        "branch lives")
    // the ACTIVE (superseded-to) entries survived: the audit read
    // (pinned base + fixed staged rows) and the fast-forward (onto
    // the LATEST main) still serve the fixed content
    assert(ids(ManifestTable.readBranch(spark, t, "b")) ==
      Seq(1L, 10L))
    ManifestTable.fastForwardBranch(spark, t, "b")
    assert(ids(ManifestTable.read(spark, t)) == Seq(1L, 2L, 10L))
  }

  test("branch DML prunes by the staged dirs' recorded stats") {
    val t = tmp("graft-brdml-prune")
    ManifestTable.append(spark, Seq(1L).toDF("id"), t,
      statsCols = Seq("id"))
    ManifestTable.createBranch(spark, t, "b")
    // two branch commits with DISJOINT id ranges
    ManifestTable.appendToBranch(spark,
      (100L until 110L).toDF("id"), t, "b", statsCols = Seq("id"))
    ManifestTable.appendToBranch(spark,
      (200L until 210L).toDF("id"), t, "b", statsCols = Seq("id"))
    import org.apache.spark.sql.catalyst.expressions.{
      AttributeReference, GreaterThanOrEqual, Literal}
    import org.apache.spark.sql.types.LongType
    val conj = Seq(GreaterThanOrEqual(
      AttributeReference("id", LongType)(), Literal(200L)))
    val touched = ManifestTable.deleteFromBranch(spark, t, "b",
      col("id") >= 200L, conj)
    assert(touched == 1,
      s"the range-disjoint first commit must not rewrite: $touched")
    assert(ids(ManifestTable.readBranch(spark, t, "b")) ==
      (1L +: (100L until 110L)).sorted)
  }

  test("publish fails LOUDLY when a concurrent evolution shifts a " +
      "staged fresh column's id assignment") {
    val t = tmp("graft-wap-iddrift")
    ManifestTable.append(spark, Seq((1L, "a")).toDF("id", "s"), t)
    // make the table mapped so ids govern reads
    ManifestTable.renameColumn(spark, t, "s", "label")
    // stage a candidate that ADDS a fresh column: its files carry the
    // id assigned against the table as of NOW
    ManifestTable.stageAppend(spark,
      Seq((2L, "b", 7.5)).toDF("id", "label", "score"), t, "cand")
    // a concurrent main-table evolution takes the next id for a
    // DIFFERENT column — the staged assignment is now stale
    ManifestTable.append(spark,
      Seq((3L, "c", 42L)).toDF("id", "label", "extra"), t,
      evolveSchema = true)
    val ex = intercept[Exception] {
      ManifestTable.publish(spark, t, "cand", evolveSchema = true)
    }
    assert(msgs(ex).exists(_.contains("field-id assignment changed")),
      s"expected the id-drift guard, got: ${msgs(ex).mkString(" | ")}")
    // the reject path still works; main is intact
    ManifestTable.abandonStaged(spark, t, "cand")
    assert(ids(ManifestTable.read(spark, t)) == Seq(1L, 3L))
  }

  test("two branch commits each adding a DIFFERENT fresh column get " +
      "distinct field ids — multi-commit additive evolution publishes") {
    val t = tmp("graft-br-2col")
    ManifestTable.append(spark, Seq((1L, "a")).toDF("id", "s"), t)
    // column-map the table so reads resolve strictly by field id —
    // a duplicate assignment would brick the read, not just warn
    ManifestTable.renameColumn(spark, t, "s", "label")
    ManifestTable.createBranch(spark, t, "ev2")
    // commit 1 adds colA; commit 2 adds colB — before the
    // branch-aware floor both stamped floor+1 and the fast-forward's
    // duplicate-id guard refused the branch even single-writer
    ManifestTable.appendToBranch(spark,
      Seq((10L, "x", 7L)).toDF("id", "label", "colA"), t, "ev2")
    ManifestTable.appendToBranch(spark,
      Seq((11L, "y", 3.5)).toDF("id", "label", "colB"), t, "ev2")
    // and a THIRD commit re-using colA must ADOPT commit 1's id
    ManifestTable.appendToBranch(spark,
      Seq((12L, "z", 8L)).toDF("id", "label", "colA"), t, "ev2")
    val v = ManifestTable.fastForwardBranch(spark, t, "ev2",
      evolveSchema = true)
    val out = ManifestTable.readVersion(spark, t, v).orderBy("id")
    assert(out.columns.toSeq == Seq("id", "label", "colA", "colB"))
    assert(out.select("id").as[Long].collect().toSeq ==
      Seq(1L, 10L, 11L, 12L))
    assert(out.select("colA").as[Option[Long]].collect().toSeq ==
      Seq(None, Some(7L), None, Some(8L)),
      "commit 3's colA files must resolve under commit 1's field id")
    assert(out.select("colB").as[Option[Double]].collect().toSeq ==
      Seq(None, None, Some(3.5), None))
    // the published ids are injective (the guard the old stamping
    // tripped): rename one fresh column and re-read — id-based
    // resolution must keep the columns apart
    ManifestTable.renameColumn(spark, t, "colA", "renamedA")
    val out2 = ManifestTable.read(spark, t).orderBy("id")
    assert(out2.select("renamedA").as[Option[Long]].collect().toSeq ==
      Seq(None, Some(7L), None, Some(8L)))
    assert(out2.select("colB").as[Option[Double]].collect().toSeq ==
      Seq(None, None, Some(3.5), None))
  }

  test("compactBranch consolidates a multi-commit EVOLVED branch and " +
      "the fast-forward still publishes") {
    val t = tmp("graft-br-2col-c")
    ManifestTable.append(spark, Seq((1L, "a")).toDF("id", "s"), t)
    ManifestTable.renameColumn(spark, t, "s", "label")
    ManifestTable.createBranch(spark, t, "ev3")
    ManifestTable.appendToBranch(spark,
      Seq((10L, "x", 7L)).toDF("id", "label", "colA"), t, "ev3")
    ManifestTable.appendToBranch(spark,
      Seq((11L, "y", 3.5)).toDF("id", "label", "colB"), t, "ev3")
    assert(ManifestTable.compactBranch(spark, t, "ev3") == (2, 1))
    val v = ManifestTable.fastForwardBranch(spark, t, "ev3",
      evolveSchema = true)
    val out = ManifestTable.readVersion(spark, t, v).orderBy("id")
    assert(out.select("colA").as[Option[Long]].collect().toSeq ==
      Seq(None, Some(7L), None))
    assert(out.select("colB").as[Option[Double]].collect().toSeq ==
      Seq(None, None, Some(3.5)))
  }

  test("publish and fast-forward refuse a RETIRED column name, like " +
      "append's evolution path") {
    val t = tmp("graft-ret")
    ManifestTable.append(spark, Seq((1L, "a")).toDF("id", "s"), t)
    ManifestTable.renameColumn(spark, t, "s", "label") // retires 's'
    // WAP candidate resurrecting the retired name: loud at publish
    ManifestTable.stageAppend(spark,
      Seq((2L, "b", "oops")).toDF("id", "label", "s"), t, "cand")
    val ex1 = intercept[Exception] {
      ManifestTable.publish(spark, t, "cand", evolveSchema = true)
    }
    assert(msgs(ex1).exists(_.contains("RETIRED")), s"got ${msgs(ex1)}")
    ManifestTable.abandonStaged(spark, t, "cand")
    // branch commit resurrecting the retired name: loud at
    // fast-forward
    ManifestTable.createBranch(spark, t, "ret")
    ManifestTable.appendToBranch(spark,
      Seq((3L, "c", "oops")).toDF("id", "label", "s"), t, "ret")
    val ex2 = intercept[Exception] {
      ManifestTable.fastForwardBranch(spark, t, "ret",
        evolveSchema = true)
    }
    assert(msgs(ex2).exists(_.contains("RETIRED")), s"got ${msgs(ex2)}")
    ManifestTable.abandonBranch(spark, t, "ret")
    assert(ids(ManifestTable.read(spark, t)) == Seq(1L),
      "main must be untouched by both refusals")
  }

  test("a commit staged AFTER the audit capture survives the " +
      "fast-forward's consume — salvaged, publishes next cycle") {
    val t = tmp("graft-race")
    ManifestTable.append(spark, Seq(1L).toDF("id"), t) // v1
    ManifestTable.createBranch(spark, t, "w")
    ManifestTable.appendToBranch(spark, Seq(10L).toDF("id"), t, "w")
    // the auditor captures its window...
    val window = ManifestTable.branchCommitNames(spark, t, "w")
    assert(window == Seq("c0001"))
    // ...and the sink stages ANOTHER batch before the publish lands
    ManifestTable.appendToBranch(spark, Seq(20L).toDF("id"), t, "w")
    // the audit read pinned to the window sees only the audited rows
    assert(ids(ManifestTable.readBranch(spark, t, "w",
      Some(window))) == Seq(1L, 10L))
    val v = ManifestTable.fastForwardBranch(spark, t, "w",
      onlyCommits = Some(window))
    // ONLY the audited window published; the late batch is neither
    // published (unaudited!) nor destroyed — it waits, staged, on a
    // re-created branch based at the published snapshot
    assert(ids(ManifestTable.readVersion(spark, t, v)) == Seq(1L, 10L))
    assert(ManifestTable.branchNames(spark, t) == Seq("w"),
      "the late-staged commit's branch must survive the consume")
    assert(ManifestTable.branchBase(spark, t, "w") == v)
    assert(ids(ManifestTable.readBranch(spark, t, "w")) ==
      Seq(1L, 10L, 20L))
    // the next audit cycle publishes it
    val v2 = ManifestTable.fastForwardBranch(spark, t, "w")
    assert(ids(ManifestTable.readVersion(spark, t, v2)) ==
      Seq(1L, 10L, 20L))
    assert(ManifestTable.branchNames(spark, t).isEmpty)
  }

  test("a branch fix that EMPTIES a staged streaming batch keeps its " +
      "replay watermark, before and after the publish") {
    val t = tmp("graft-wmkeep")
    ManifestTable.append(spark, Seq(1L).toDF("id"), t) // v1, tag -1
    assert(ManifestTable.appendToBranchIfFresh(spark,
      Seq(5L).toDF("id"), t, "s", batchId = 7L))
    // the audit rejects every row of the batch and fixes in place
    ManifestTable.deleteFromBranch(spark, t, "s", lit(true))
    assert(ids(ManifestTable.readBranch(spark, t, "s")) == Seq(1L),
      "the fix must remove the staged rows")
    // PRE-publish replay of the emptied batch: still skipped — the
    // tag rides a file-less watermark-only entry
    assert(!ManifestTable.appendToBranchIfFresh(spark,
      Seq(5L).toDF("id"), t, "s", batchId = 7L),
      "replay of an emptied batch must stay skipped (pre-publish)")
    val v = ManifestTable.fastForwardBranch(spark, t, "s")
    assert(ids(ManifestTable.readVersion(spark, t, v)) == Seq(1L),
      "publishing the emptied window must add no rows")
    assert(ManifestTable.latestTag(spark, t) == 7L,
      "the emptied batch's tag must fold into main's watermark")
    // POST-publish replay: skipped through main's folded watermark
    assert(!ManifestTable.appendToBranchIfFresh(spark,
      Seq(5L).toDF("id"), t, "s", batchId = 7L),
      "replay of an emptied batch must stay skipped (post-publish)")
    // genuinely new data proceeds
    assert(ManifestTable.appendToBranchIfFresh(spark,
      Seq(8L).toDF("id"), t, "s", batchId = 8L))
    ManifestTable.abandonBranch(spark, t, "s")
  }

  test("compactBranch of all-empty TAGGED commits keeps the " +
      "watermark as one file-less commit") {
    val t = tmp("graft-wmcompact")
    ManifestTable.append(spark, Seq(1L).toDF("id"), t)
    assert(ManifestTable.appendToBranchIfFresh(spark,
      Seq(5L).toDF("id"), t, "s", batchId = 1L))
    assert(ManifestTable.appendToBranchIfFresh(spark,
      Seq(6L).toDF("id"), t, "s", batchId = 2L))
    ManifestTable.deleteFromBranch(spark, t, "s", lit(true))
    val (before, after) = ManifestTable.compactBranch(spark, t, "s")
    assert((before, after) == (2, 1),
      "all-empty TAGGED commits must consolidate to ONE watermark " +
        s"commit, got ($before, $after)")
    assert(!ManifestTable.appendToBranchIfFresh(spark,
      Seq(5L).toDF("id"), t, "s", batchId = 2L),
      "the compacted watermark must keep skipping replays")
    val v = ManifestTable.fastForwardBranch(spark, t, "s")
    assert(ids(ManifestTable.readVersion(spark, t, v)) == Seq(1L))
    assert(ManifestTable.latestTag(spark, t) == 2L)
  }
}
