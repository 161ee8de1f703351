package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** The staging/ref half of [[ManifestTable]], split out for size:
  * write-audit-publish (WAP) candidates, snapshot BRANCHES
  * (multi-commit WAP with fast-forward), and branch-scoped DML.
  * A self-typed trait on the object — one table format, one
  * namespace, two files. */
private[sinks] trait ManifestStagingOps { self: ManifestTable.type =>

  // ---- Write-audit-publish (WAP): stage an append as an INVISIBLE
  //      candidate, audit it with real reads, then publish it as an
  //      atomic commit — or abandon it without a trace. The quality
  //      gate every production ingest wants (Iceberg's
  //      stage-and-cherry-pick flow): bad data is caught while it is
  //      still nobody's problem. ----

  /** Stage-time field-id stamping for the DEFERRED-validation
    * writers ([[stageAppend]], [[appendToBranch]]): their data files
    * must carry parquet field ids exactly like the append funnel's —
    * on a column-mapped table (any prior rename/drop) the id-carrying
    * read schema refuses files without ids, so an unstamped staged
    * dir would make EVERY read of the table fail after its
    * publish/fast-forward. Batch columns the table knows (same type,
    * or value-preserving widening — cast by [[alignToTable]]) adopt
    * the table field wholesale, nested ids included; fresh columns
    * get ids above the colmap floor, exactly the assignment the
    * publish-time commit re-derives (the publish/fast-forward loops
    * VERIFY that — a concurrent evolution that shifts the assignment
    * fails loudly instead of silently divorcing the files' ids from
    * the committed schema's). A batch column whose type MISMATCHES
    * the table's stays bare — the publish-time compatibility gate
    * rejects that candidate loudly before any read could misresolve.
    *
    * `priorStaged` carries the EARLIER staged commits' sidecar
    * schemas when stamping into a BRANCH: a column an earlier branch
    * commit added is ADOPTED with the id that commit stamped (the
    * fast-forward folds commits in order, so both commits' files
    * must agree), and a genuinely fresh column assigns ABOVE every
    * id the branch already used — without this, two branch commits
    * each adding a different new column would both stamp floor+1
    * against main's unchanged schema, and the fast-forward's
    * duplicate-id guard would (correctly but uselessly) refuse the
    * whole branch even with a single writer.
    * Returns the stamped frame and the id-carrying staged schema
    * (persisted as the candidate's schema sidecar). */
  private def stampForStaging(spark: SparkSession, path: String,
      prev: Option[Long], df: DataFrame,
      priorStaged: Seq[StructType] = Nil): (DataFrame, StructType) = {
    val table = prev.flatMap(pv => schemaOf(spark, path, pv))
    // fold earlier staged commits' fresh columns over the table's —
    // first occurrence wins, so a table column's id always beats a
    // staged twin's and chained commits see a stable assignment
    val effTable = priorStaged.foldLeft(
      table.getOrElse(StructType(Nil))) { (acc, ps) =>
      val have = acc.fieldNames.toSet
      StructType(acc.fields ++ ps.fields.filterNot(f => have(f.name)))
    }
    val floor0 = prev.map(colmapOf(spark, path, _)._2).getOrElse(0L)
    val floor = priorStaged
      .map(s => allFieldIds(s).values.foldLeft(0L)(math.max))
      .foldLeft(floor0)(math.max)
    val byName = effTable.fields.map(f => f.name -> f).toMap
    val merged = StructType(df.schema.fields.map { f =>
      byName.get(f.name) match {
        case Some(tf) if tf.dataType.catalogString ==
            f.dataType.catalogString ||
            widens(f.dataType, tf.dataType) => tf
        case _ => f
      }
    })
    val schema = withFieldIds(dedupStagedIds(merged), floor)
    (stampIds(spark, alignToTable(df, schema), schema), schema)
  }

  /** Strip the LATER of any two depth-first fields carrying the same
    * id, so [[withFieldIds]] re-assigns it fresh above the floor —
    * the repair path for branches stamped BEFORE the branch-aware
    * floor existed (two commits' fresh columns sharing an id):
    * [[compactBranch]] rewrites the data files anyway, so the
    * re-stamp under a repaired assignment is exactly what makes the
    * branch publishable again. First-wins keeps every table column's
    * committed id intact (table fields precede staged ones in the
    * fold). */
  private def dedupStagedIds(s: StructType): StructType = {
    val seen = scala.collection.mutable.Set.empty[Long]
    def walk(st: StructType): StructType = StructType(st.fields.map { f =>
      val f1 = fieldIdOf(f) match {
        case Some(id) if !seen.add(id) =>
          f.copy(metadata =
            new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata).remove(FieldIdKey).build())
        case _ => f
      }
      f1.dataType match {
        case nested: StructType => f1.copy(dataType = walk(nested))
        case _ => f1
      }
    })
    walk(s)
  }

  /** The earlier staged commits' sidecar schemas on a branch, in
    * commit order — what [[stampForStaging]] folds so chained branch
    * commits stamp a stable, collision-free id assignment.
    * Pre-stamping-era commits (no sidecar) contribute nothing — they
    * carried no ids either. */
  private def priorBranchSchemas(fs: org.apache.hadoop.fs.FileSystem,
      spark: SparkSession, path: String,
      name: String): Seq[StructType] =
    branchCommits(fs, path, name).flatMap { c =>
      readSideFile(fs, new org.apache.hadoop.fs.Path(
          resolvedCommitDir(fs, path, name, c), "_graft_schema.json"))
        .map(DataType.fromJson(_).asInstanceOf[StructType])
    }

  /** The publish/fast-forward half of [[stampForStaging]]'s
    * contract: the ids stamped into the staged FILES must equal the
    * ids the commit is about to persist for those paths — a
    * concurrent schema evolution between staging and publish can
    * shift the assignment (a fresh column's id floats with the new
    * floor, or a racing writer took a staged column's id/name), and
    * committing anyway would make id-based reads of the staged dirs
    * silently misresolve. Pre-stamping-era candidates recorded no
    * ids (empty map) and pass vacuously — they keep today's
    * behavior. */
  private def requireStagedIdsStable(stagedSchemas: Seq[StructType],
      finalSchema: StructType, floor: Long, ctx: String): Unit = {
    val wouldBe = allFieldIds(withFieldIds(finalSchema, floor))
    // injectivity first: a staged FRESH column self-carries its
    // stage-time id into the folded schema, so a concurrent main
    // evolution that took the same id for another column shows up as
    // a DUPLICATE id, not a changed one — committing it would make
    // id-based reads resolve two columns to the same parquet id
    wouldBe.groupBy(_._2).collect { case (id, ps) if ps.size > 1 =>
      sys.error(s"$ctx: field-id assignment changed between staging " +
        s"and publish — columns ${ps.keys.toSeq.sorted.mkString("'",
          "', '", "'")} would share id $id (a concurrent schema " +
        "evolution took a staged column's id); abandon and re-stage " +
        "this candidate")
    }
    stagedSchemas.foreach { ss =>
      allFieldIds(ss).foreach { case (p, id) =>
        val now = wouldBe.get(p)
        require(now.contains(id),
          s"$ctx: field-id assignment changed between staging and " +
            s"publish for column '$p' (staged files carry id $id, " +
            s"the commit would persist ${now.fold("none")(_.toString)}" +
            ") — a concurrent schema evolution shifted the " +
            "assignment; abandon and re-stage this candidate")
      }
    }
  }

  /** Stage `df` as the named WAP candidate: the data dirs are
    * written (partition-aware, stats/blooms recorded — publish adds
    * NO data work), but no snapshot references them; every reader of
    * the table is oblivious. The staged set survives [[vacuum]] (its
    * dirs count as referenced while the candidate exists) and a
    * crash mid-stage leaves only an invisible tmp dir. One candidate
    * per name — re-staging a live name fails loudly. */
  def stageAppend(spark: SparkSession, df: DataFrame, path: String,
      name: String, tag: Long = -1L, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): Unit = {
    val (fs, _) = fsOf(spark, path)
    val prev = latestVersion(spark, path)
    val v = prev.map(_ + 1).getOrElse(1L) // dir-name prefix, cosmetic
    // schema/constraint enforcement happens at PUBLISH (against the
    // then-current table); staging only fixes the layout — and the
    // field-id stamping the data files must carry (stampForStaging)
    val spec = resolveSpec(spark, path, prev, Nil,
      s"ManifestTable.stageAppend($path)")
    val (stamped, stagedSchema) = stampForStaging(spark, path, prev, df)
    val es = writeBatchEntries(spark, stamped, path, v, tag, statsCols,
      bloomCols, spec, fanout = 1)
    val stagedRoot = new org.apache.hadoop.fs.Path(s"$path/staged")
    fs.mkdirs(stagedRoot)
    val tmp = new org.apache.hadoop.fs.Path(
      s"$path/staged/.tmp-${refName(name)}_" +
        java.util.UUID.randomUUID.toString.take(8))
    writeEntriesParquet(spark, es, tmp.toString)
    writeSideFile(fs, new org.apache.hadoop.fs.Path(
      tmp, "_graft_schema.json"), stagedSchema.json)
    writeSideFile(fs, new org.apache.hadoop.fs.Path(
      tmp, "_graft_pruning"), pruningBody(statsCols, bloomCols))
    // same publish discipline as commit(): success is "the staged
    // set at the final path is OURS", verified by attempt-id
    // read-back — on filesystems where rename(src, existing-dir)
    // moves src INSIDE the destination and returns true, the naive
    // exists+rename would report success on a name we lost
    val attemptId = java.util.UUID.randomUUID.toString
    writeSideFile(fs, new org.apache.hadoop.fs.Path(
      tmp, "_graft_attempt"), attemptId)
    val fin = new org.apache.hadoop.fs.Path(s"$path/staged/$name")
    val renamed = !fs.exists(fin) && fs.rename(tmp, fin)
    val staged = renamed && readSideFile(fs,
      new org.apache.hadoop.fs.Path(fin, "_graft_attempt"))
      .contains(attemptId)
    if (!staged) {
      fs.delete(new org.apache.hadoop.fs.Path(fin, tmp.getName), true)
      fs.delete(tmp, true)
      sys.error(s"ManifestTable.stageAppend: candidate '$name' " +
        s"already exists at $path — publish or abandon it first " +
        "(this attempt's dirs are orphans vacuum will reap)")
    }
  }

  /** The named candidate's rows — what the AUDIT reads. The would-be
    * post-publish table is `read(path) unionByName readStaged(...)`. */
  def readStaged(spark: SparkSession, path: String,
      name: String): DataFrame = {
    val (fs, _) = fsOf(spark, path)
    val dir = s"$path/staged/${refName(name)}"
    require(fs.exists(new org.apache.hadoop.fs.Path(dir)),
      s"ManifestTable.readStaged: no staged candidate '$name' at $path")
    val es = entriesAt(spark, dir).filter(e =>
      e.hasData(fs, s"$path/data/${e.dir}"))
    val schema = readSideFile(fs, new org.apache.hadoop.fs.Path(
        dir, "_graft_schema.json"))
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(sys.error(
        s"ManifestTable.readStaged: candidate '$name' has no schema " +
          "sidecar — corrupt staging"))
    if (es.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read
      .schema(deepNullable(schema).asInstanceOf[StructType])
      .parquet(es.map(e => s"$path/data/${e.dir}"): _*)
  }

  /** Names of the live staged candidates at `path`. */
  def stagedNames(spark: SparkSession, path: String): Seq[String] = {
    val (fs, _) = fsOf(spark, path)
    val d = new org.apache.hadoop.fs.Path(s"$path/staged")
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).map(_.getPath.getName)
      .filterNot(_.startsWith(".")).sorted.toSeq
  }

  /** PUBLISH the audited candidate as one atomic commit — the
    * already-written staged dirs become the next snapshot's new
    * entries; zero data moves. Validation happens HERE, against the
    * table as it is now (an append staged hours ago publishes into
    * whatever the table became): schema compatibility, CHECK
    * constraints over the staged dirs, and the partition-spec guard.
    * `retries > 0` rebases through concurrent appends exactly like
    * [[append]] (appends commute). The candidate is consumed on
    * success. Returns the committed version. */
  def publish(spark: SparkSession, path: String, name: String,
      evolveSchema: Boolean = false, retries: Int = 0): Long = {
    require(retries >= 0, s"publish: retries must be >= 0, got $retries")
    val (fs, _) = fsOf(spark, path)
    val dir = s"$path/staged/${refName(name)}"
    require(fs.exists(new org.apache.hadoop.fs.Path(dir)),
      s"ManifestTable.publish: no staged candidate '$name' at $path")
    val es = entriesAt(spark, dir)
    val stagedSchema = readSideFile(fs, new org.apache.hadoop.fs.Path(
        dir, "_graft_schema.json"))
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(sys.error(
        s"ManifestTable.publish: candidate '$name' has no schema " +
          "sidecar — corrupt staging"))
    val (sStats, sBlooms) = {
      val m = readSideFile(fs, new org.apache.hadoop.fs.Path(
          dir, "_graft_pruning"))
        .map(_.linesIterator.map(_.split("=", 2)).collect {
          case Array(k, vs) =>
            k -> vs.split(",").filter(_.nonEmpty).toSeq
        }.toMap).getOrElse(Map.empty)
      (m.getOrElse("stats", Nil), m.getOrElse("bloom", Nil))
    }
    // Crash-window idempotence: a publish that COMMITTED but died
    // before consuming the staged set must not double-append on
    // retry. The current snapshot's dir set alone cannot decide it —
    // a compact/repartition/dropPartitions after the crashed publish
    // rewrites the published dirs OUT of the latest snapshot, and the
    // naive check would re-append. So the commit itself records the
    // candidate's staging attempt id (from stageAppend's
    // `_graft_attempt` — unique per staged set), and the retry scans
    // RETAINED history for it, newest first: a hit is proof this
    // exact candidate was published, whatever happened to the table
    // since. Belt: a `_graft_publishing` marker written just before
    // each commit attempt names the version it aimed at — if the
    // marker's version has been vacuumed out of history (so the scan
    // can no longer prove anything either way) the retry fails LOUDLY
    // instead of guessing; every still-decidable state proceeds.
    val stagedAttempt = readSideFile(fs,
      new org.apache.hadoop.fs.Path(dir, "_graft_attempt")).map(_.trim)
    stagedAttempt.foreach { att =>
      val retained = versions(spark, path)
      retained.reverse.find(w =>
        commitKV(spark, path, w).get("publishAttempt").contains(att))
        .foreach { w =>
          fs.delete(new org.apache.hadoop.fs.Path(dir), true)
          return w
        }
      readSideFile(fs, new org.apache.hadoop.fs.Path(
          dir, "_graft_publishing"))
        .flatMap(_.trim.toLongOption)
        .foreach { aimed =>
          require(retained.isEmpty || retained.head <= aimed,
            s"ManifestTable.publish($path, $name): a previous publish " +
              s"attempt aimed at ${vName(aimed)}, which has since been " +
              "vacuumed out of retained history — whether it committed " +
              "is no longer provable; inspect the table and " +
              "abandonStaged or re-stage explicitly")
        }
    }
    var attempt = 0
    var validated = Set.empty[(String, String)]
    while (true) {
      val prev = latestVersion(spark, path)
      val v = prev.map(_ + 1).getOrElse(1L)
      val prevEntries = prev.map(pv => entriesOf(spark, path, pv))
        .getOrElse(Seq.empty)
      // fast path of the same idempotence rule: staged dirs present
      // in the CURRENT snapshot (dir names are attempt-unique, so
      // presence is proof of this exact candidate, never a twin's)
      val already = es.map(_.dir).toSet
        .intersect(prevEntries.map(_.dir).toSet)
      if (already.nonEmpty) {
        require(already == es.map(_.dir).toSet,
          s"ManifestTable.publish($path, $name): staged set partially " +
            "published — corrupt state, resolve manually")
        fs.delete(new org.apache.hadoop.fs.Path(dir), true)
        return prev.get
      }
      val schema = prev.flatMap(pv => schemaOf(spark, path, pv)) match {
        case Some(table) => compatibleSchema(stagedSchema, table,
          evolveSchema, s"ManifestTable.publish($path, $name)")
        case None => stagedSchema
      }
      // an evolution through publish must not resurrect a RETIRED
      // name either — same hazard, same loud rule as append's path
      prev.foreach { pv =>
        val tableNames = schemaOf(spark, path, pv)
          .map(_.fieldNames.toSet).getOrElse(Set.empty[String])
        refuseRetired(spark, path, pv,
          stagedSchema.fieldNames.filterNot(tableNames).toSeq,
          s"ManifestTable.publish($path, $name)")
      }
      // the ids stamped into the staged files must still equal what
      // this commit will persist (see requireStagedIdsStable)
      requireStagedIdsStable(Seq(stagedSchema), schema,
        prev.map(colmapOf(spark, path, _)._2).getOrElse(0L),
        s"ManifestTable.publish($path, $name)")
      // a table partitioned AFTER staging (or vice versa) must not
      // publish a mismatched layout — same loud rule as append's
      // retry guard
      val tSpec = prev.map(partitionSpecOf(spark, path, _))
        .getOrElse(Nil)
      val pure = es.filter(_.files.exists(_.nonEmpty))
        .forall(_.partition.nonEmpty)
      require(tSpec.isEmpty || pure,
        s"ManifestTable.publish($path, $name): the table is " +
          "partitioned but the candidate was staged unpartitioned — " +
          "abandon and re-stage")
      val cs = prev.map(constraintsOf(spark, path, _)).getOrElse(Nil)
      val toCheck = cs.filterNot(validated)
      val withFiles = es.filter(_.files.exists(_.nonEmpty))
      if (toCheck.nonEmpty && withFiles.nonEmpty) {
        enforceConstraints(spark.read.parquet(
          withFiles.map(e => s"$path/data/${e.dir}"): _*),
          toCheck, s"ManifestTable.publish($path, $name)")
        validated ++= toCheck
      }
      val prevTag = prevTagOf(spark, path, prev, prevEntries)
      val (pStats, pBloom) = prev.map(pruningOf(spark, path, _))
        .getOrElse((Nil, Nil))
      try {
        // marker first, then commit: if the rename lands and we die
        // before the delete below, the next retry's history scan (or,
        // post-vacuum, the marker's loud path) resolves it
        stagedAttempt.foreach(_ => writeSideFile(fs,
          new org.apache.hadoop.fs.Path(dir, "_graft_publishing"),
          v.toString))
        commit(spark, path, v, prevEntries ++ es, schema,
          math.max(prevTag, es.map(_.tag).foldLeft(-1L)(math.max)),
          ((pStats ++ sStats).distinct, (pBloom ++ sBlooms).distinct),
          cs, op = "publish",
          extraCommitInfo =
            stagedAttempt.map("publishAttempt" -> _).toSeq)
        fs.delete(new org.apache.hadoop.fs.Path(dir), true)
        return v
      } catch {
        case _: CommitConflictException if attempt < retries =>
          attempt += 1
      }
    }
    -1L // unreachable
  }

  /** Discard a staged candidate without publishing — the audit's
    * reject path. Its data dirs become orphans the next [[vacuum]]
    * reaps; the table never knew. */
  def abandonStaged(spark: SparkSession, path: String,
      name: String): Unit = {
    val (fs, _) = fsOf(spark, path)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$path/staged/${refName(name)}"), true)
    ()
  }

  // ---- Snapshot BRANCHES: named MUTABLE refs — WAP generalized to
  //      MULTI-COMMIT audit-then-fast-forward (the Iceberg branch
  //      contract; tags stay immutable pins). A branch forks from a
  //      committed snapshot, accumulates any number of staged append
  //      commits that no main reader ever sees, is readable as a
  //      whole for the audit ([[readBranch]] = base snapshot + every
  //      branch commit), and then either FAST-FORWARDS onto main as
  //      ONE atomic commit ([[fastForwardBranch]] — zero data moves,
  //      publish's own idempotence discipline) or is abandoned
  //      without a trace. [[vacuum]] treats the branch base as
  //      pinned and the branch commits' dirs as referenced while the
  //      branch lives. ----

  private def branchRoot(path: String): String = s"$path/branches"
  private def branchDir(path: String, name: String): String =
    s"${branchRoot(path)}/${refName(name)}"
  private def cName(i: Int): String = f"c$i%04d"

  /** Fork a branch at `fromVersion` (default: the current latest).
    * The claim is atomic (tmp + rename, attempt-id read-back): a
    * racing create of the same name loses loudly. A branch name must
    * not collide with a TAG — the two ref families have opposite
    * mutability contracts and a shared name would make time travel
    * ambiguous. Returns the base version. */
  def createBranch(spark: SparkSession, path: String, name: String,
      fromVersion: Option[Long] = None): Long = {
    val (fs, _) = fsOf(spark, path)
    val base = fromVersion.getOrElse(latestVersion(spark, path)
      .getOrElse(sys.error(
        s"ManifestTable.createBranch: no committed version at $path")))
    require(versions(spark, path).contains(base),
      s"ManifestTable.createBranch: ${vName(base)} is not a " +
        s"committed snapshot at $path")
    require(!tags(spark, path).contains(refName(name)),
      s"ManifestTable.createBranch: '$name' is a TAG at $path — " +
        "tags are immutable pins; pick a different branch name")
    fs.mkdirs(new org.apache.hadoop.fs.Path(branchRoot(path)))
    val attemptId = java.util.UUID.randomUUID.toString
    val tmp = new org.apache.hadoop.fs.Path(
      s"${branchRoot(path)}/.tmp-${refName(name)}_" +
        attemptId.take(8))
    fs.mkdirs(tmp)
    writeSideFile(fs, new org.apache.hadoop.fs.Path(tmp, "_graft_base"),
      base.toString)
    writeSideFile(fs,
      new org.apache.hadoop.fs.Path(tmp, "_graft_attempt"), attemptId)
    val fin = new org.apache.hadoop.fs.Path(branchDir(path, name))
    val renamed = !fs.exists(fin) && fs.rename(tmp, fin)
    val claimed = renamed && readSideFile(fs,
      new org.apache.hadoop.fs.Path(fin, "_graft_attempt"))
      .contains(attemptId)
    if (!claimed) {
      fs.delete(new org.apache.hadoop.fs.Path(fin, tmp.getName), true)
      fs.delete(tmp, true)
      sys.error(s"ManifestTable.createBranch: branch '$name' already " +
        s"exists at $path — fast-forward or abandon it first")
    }
    base
  }

  /** Names of the live branches at `path`. */
  def branchNames(spark: SparkSession, path: String): Seq[String] = {
    val (fs, _) = fsOf(spark, path)
    val d = new org.apache.hadoop.fs.Path(branchRoot(path))
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).map(_.getPath.getName)
      .filterNot(_.startsWith(".")).sorted.toSeq
  }

  /** Entries referenced by `.dead-` teardown residue under the
    * branch root — a [[consumeBranch]] that crashed between its
    * cutover and its final delete leaves a frozen dir whose
    * UNPUBLISHED commits may be the only reference to their data
    * dirs. [[vacuum]] pins these like live branch commits (never
    * reap recoverable data); the residue itself is operator-removed
    * after recovering or discarding the frozen commits. */
  private[sinks] def deadBranchEntries(spark: SparkSession,
      path: String): Seq[Entry] = {
    val (fs, _) = fsOf(spark, path)
    val root = new org.apache.hadoop.fs.Path(branchRoot(path))
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).map(_.getPath)
      .filter(_.getName.startsWith(".dead-")).toSeq.flatMap { dd =>
        val deadRoot = followSup(fs, dd.toString, dd.toString,
          s"dead branch dir ${dd.getName}")
        fs.listStatus(new org.apache.hadoop.fs.Path(deadRoot))
          .map(_.getPath.getName)
          .filter(n => n.startsWith("c") && n.drop(1).forall(_.isDigit))
          .toSeq.flatMap(c => entriesAt(spark,
            followSup(fs, dd.toString, s"$deadRoot/$c",
              s"dead branch dir ${dd.getName} commit $c")))
      }
  }

  /** Per-branch observability: (name, staged commit count, staged
    * row count, oldest-staged-age millis) for every live branch —
    * what surfaces the STUCK-AUDITOR case ([[graft.streaming.Streams
    * .auditBranch]] correctly HOLDS a rejected branch for a fix pass,
    * but a branch accumulating for days means the auditor stopped
    * deciding; nothing else makes that visible). Row count is None
    * when a pre-upgrade entry disqualifies the exact fold; age is the
    * wall-clock since the OLDEST live commit slot landed (a
    * compactBranch resets it — the consolidated set is new metadata,
    * and a freshly-compacted branch is by definition being tended).
    * Metadata-only: one listing + one entry list per commit. */
  def branchDetail(spark: SparkSession, path: String)
      : Seq[(String, Long, Option[Long], Option[Long])] = {
    val (fs, _) = fsOf(spark, path)
    val now = System.currentTimeMillis()
    branchNames(spark, path).map { n =>
      val root = branchActiveRoot(fs, path, n)
      val commits = branchCommits(fs, path, n)
      val rows = commits.flatMap(c =>
        entriesAt(spark, resolvedCommitDir(fs, path, n, c)))
        .foldLeft(Option(0L)) { (acc, e) =>
          for (a <- acc; r <- e.rows) yield a + r }
      val oldest = commits.map(c => fs.getFileStatus(
          new org.apache.hadoop.fs.Path(s"$root/$c"))
        .getModificationTime).minOption
      (n, commits.size.toLong, rows, oldest.map(now - _))
    }
  }

  /** The branch's fork-point version. */
  def branchBase(spark: SparkSession, path: String,
      name: String): Long = {
    val (fs, _) = fsOf(spark, path)
    readSideFile(fs, new org.apache.hadoop.fs.Path(
        branchDir(path, name), "_graft_base"))
      .flatMap(_.trim.toLongOption).getOrElse(sys.error(
        s"ManifestTable.branchBase: no branch '$name' at $path — " +
          s"existing: ${branchNames(spark, path).mkString(", ")}"))
  }

  /** The branch's commit dirs, in commit order. */
  /** Follow a `_graft_sup` supersede chain from `start`: every
    * pointer names its replacement RELATIVE TO the branch dir (one
    * flat namespace of uuid-unique dirs), and the one-file pointer
    * write is the atomic commit point of whatever staged the
    * replacement. A half-staged replacement (crash before the flip)
    * is invisible and its dirs are orphans vacuum reaps. */
  private def followSup(fs: org.apache.hadoop.fs.FileSystem,
      bd: String, start: String, what: String): String = {
    var dir = start
    var hops = 0
    var sup = readSideFile(fs,
      new org.apache.hadoop.fs.Path(dir, "_graft_sup"))
    while (sup.isDefined) {
      hops += 1
      require(hops <= 10000, s"ManifestTable: $what supersede chain " +
        s"exceeds $hops hops — corrupt pointer")
      dir = s"$bd/${sup.get.trim}"
      sup = readSideFile(fs,
        new org.apache.hadoop.fs.Path(dir, "_graft_sup"))
    }
    dir
  }

  /** The branch's ACTIVE COMMIT-SET dir: the branch dir itself until
    * a [[compactBranch]] supersedes the whole set with a consolidated
    * one (`.set-<id>`, flipped live by the branch-level `_graft_sup`
    * pointer). Commit slots claim, list, and resolve INSIDE the
    * active set. */
  private[sinks] def branchActiveRoot(
      fs: org.apache.hadoop.fs.FileSystem,
      path: String, name: String): String = {
    val bd = branchDir(path, name)
    if (!fs.exists(new org.apache.hadoop.fs.Path(bd))) sys.error(
      s"ManifestTable.branch: no branch '$name' at $path")
    followSup(fs, bd, bd, s"branch '$name'")
  }

  /** The branch's staged-commit count — the auditor's "anything to
    * decide?" probe ([[graft.streaming.Streams.auditBranch]]): one
    * directory listing, no data reads. */
  def branchCommitCount(spark: SparkSession, path: String,
      name: String): Int = {
    val (fs, _) = fsOf(spark, path)
    branchCommits(fs, path, name).size
  }

  /** The branch's staged commit names, in commit order — the capture
    * an auditor takes BEFORE reading, so its audit window and its
    * publish set are the same commits even while the sink keeps
    * staging ([[readBranch]]/[[fastForwardBranch]] `onlyCommits`). */
  def branchCommitNames(spark: SparkSession, path: String,
      name: String): Seq[String] = {
    val (fs, _) = fsOf(spark, path)
    branchCommits(fs, path, name)
  }

  private[sinks] def branchCommits(fs: org.apache.hadoop.fs.FileSystem,
      path: String, name: String): Seq[String] = {
    val d = new org.apache.hadoop.fs.Path(
      branchActiveRoot(fs, path, name))
    fs.listStatus(d).map(_.getPath.getName)
      .filter(n => n.startsWith("c") && n.drop(1).forall(_.isDigit))
      .sorted.toSeq
  }

  /** A branch commit's EFFECTIVE metadata dir: branch-scoped DML
    * ([[deleteFromBranch]]/[[updateBranch]]/[[mergeToBranch]])
    * supersedes a commit by staging a full replacement entry list
    * beside it (`.sup-<commit>_<id>`) and flipping its `_graft_sup`
    * pointer — the DML's atomic commit point. Every branch reader
    * (audit read, fast-forward, vacuum's reference walk) resolves
    * the chain here. */
  private[sinks] def resolvedCommitDir(fs: org.apache.hadoop.fs.FileSystem,
      path: String, name: String, c: String): String = {
    val bd = branchDir(path, name)
    followSup(fs, bd, s"${branchActiveRoot(fs, path, name)}/$c",
      s"branch '$name' commit $c")
  }

  /** Append `df` to the BRANCH: the data dirs land in the shared
    * data tree (partition-aware, stats/Blooms recorded — the
    * fast-forward adds no data work) and the entry-set stages as the
    * branch's next commit; main readers stay oblivious. Layout
    * follows the table's CURRENT partition spec, like [[stageAppend]].
    * Returns the branch-commit index. */
  def appendToBranch(spark: SparkSession, df: DataFrame, path: String,
      name: String, tag: Long = -1L, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      writerId: Option[String] = None): Int = {
    val (fs, _) = fsOf(spark, path)
    val bd = branchDir(path, name)
    require(fs.exists(new org.apache.hadoop.fs.Path(bd)),
      s"ManifestTable.appendToBranch: no branch '$name' at $path — " +
        s"existing: ${branchNames(spark, path).mkString(", ")}")
    val prev = latestVersion(spark, path)
    val v = prev.map(_ + 1).getOrElse(1L) // dir-name prefix, cosmetic
    val spec = resolveSpec(spark, path, prev, Nil,
      s"ManifestTable.appendToBranch($path, $name)")
    val (stamped, stagedSchema) = stampForStaging(spark, path, prev, df,
      priorBranchSchemas(fs, spark, path, name))
    val es = writeBatchEntries(spark, stamped, path, v, tag, statsCols,
      bloomCols, spec, fanout = 1)
    // claim the next commit slot atomically INSIDE the active
    // commit set; a concurrent branch appender pushes us to the next
    // index, never a silent overwrite
    val attemptId = java.util.UUID.randomUUID.toString
    val root = branchActiveRoot(fs, path, name)
    var i = nextCommitIndex(fs, path, name)
    var claimed = false
    while (!claimed) {
      require(i <= 10000, s"ManifestTable.appendToBranch: could not " +
        s"claim a commit slot on '$name' after $i attempts")
      // a fast-forward's consume cutover may have renamed the branch
      // dir away mid-append ([[consumeBranch]] — the WAP loop's
      // sanctioned concurrency). Writing into the old path would
      // resurrect a baseless zombie branch; fail LOUDLY instead —
      // the micro-batch retries, appendToBranchIfFresh re-creates
      // the branch, and the tag watermark keeps it exactly-once.
      require(fs.exists(new org.apache.hadoop.fs.Path(bd, "_graft_base")),
        s"ManifestTable.appendToBranch($path, $name): the branch " +
          "was consumed (fast-forward/abandon) while this append " +
          "was staging — this commit did NOT land; retry the append " +
          "(a streaming sink's batch retry re-stages it)")
      val tmp = new org.apache.hadoop.fs.Path(
        s"$root/.tmp-${cName(i)}_${attemptId.take(8)}")
      writeEntriesParquet(spark, es, tmp.toString)
      writeSideFile(fs, new org.apache.hadoop.fs.Path(
        tmp, "_graft_schema.json"), stagedSchema.json)
      writeSideFile(fs, new org.apache.hadoop.fs.Path(
        tmp, "_graft_pruning"), pruningBody(statsCols, bloomCols))
      writerId.foreach(w => writeSideFile(fs,
        new org.apache.hadoop.fs.Path(tmp, "_graft_writer"), w))
      writeSideFile(fs, new org.apache.hadoop.fs.Path(
        tmp, "_graft_attempt"), attemptId)
      val fin = new org.apache.hadoop.fs.Path(s"$root/${cName(i)}")
      val renamed = !fs.exists(fin) && fs.rename(tmp, fin)
      claimed = renamed && readSideFile(fs,
        new org.apache.hadoop.fs.Path(fin, "_graft_attempt"))
        .contains(attemptId)
      if (!claimed) {
        fs.delete(new org.apache.hadoop.fs.Path(fin, tmp.getName), true)
        fs.delete(tmp, true)
        i += 1
      }
    }
    // the cutover race's last window: a consume between the
    // pre-claim base probe and the staged write RECREATES the branch
    // path as a baseless shell (the parquet write makes parents) and
    // the claim lands in it. The commit is real but the BRANCH is a
    // zombie — fail loudly; the thrown batch retries, and
    // [[appendToBranchIfFresh]] heals the shell (nothing in it was
    // ever acknowledged, every append into it threw right here).
    require(fs.exists(new org.apache.hadoop.fs.Path(bd, "_graft_base")),
      s"ManifestTable.appendToBranch($path, $name): the branch was " +
        "consumed (fast-forward) while this append was staging and " +
        "the commit landed in a baseless shell — it is NOT " +
        "acknowledged; retry the append (a streaming sink's batch " +
        "retry re-stages it into a fresh branch)")
    // a [[compactBranch]] flipping the set root mid-claim would
    // silently drop this commit from readers (the claim landed in
    // the dead set). Whether the compaction absorbed these rows is
    // undecidable here (it rewrites data dirs), so the only honest
    // outcome is LOUD — branches are single-writer and this is the
    // violation surfacing, not a retry opportunity.
    if (branchActiveRoot(fs, path, name) != root)
      sys.error(s"ManifestTable.appendToBranch($path, $name): the " +
        "branch's commit set was compacted mid-append (concurrent " +
        "compactBranch — branches are single-writer); this commit " +
        "landed in the superseded set and is NOT visible. Inspect " +
        "readBranch and re-append; the orphan dirs are vacuum's")
    i
  }

  /** The STREAM-WAP exactly-once step — [[appendIfFresh]]'s
    * discipline on a BRANCH: append `batch` tagged `batchId` to the
    * branch IFF it is fresh, where the watermark is the max of the
    * branch's own staged tags AND the main table's tag watermark.
    * Folding main's watermark in is what makes the full WAP loop
    * replay-safe: after the auditor fast-forwards (branch consumed,
    * its tags folded into main's commit) and the sink re-creates the
    * branch, a replayed batch would see an EMPTY branch watermark —
    * main's remembers it was published. The missing-branch case
    * auto-creates from the current snapshot (the steady-state loop:
    * stage N batches -> audit -> fast-forward -> next batch re-opens
    * the branch); the table itself must already exist — a stream
    * whose first batch both creates the table and opens a branch has
    * nothing to audit AGAINST, so that shape is refused loudly.
    * Same caveat as every tag-watermark sink: retain the checkpoint;
    * after checkpoint loss, NEW data under a reused low batchId is
    * skipped as a replay. Returns true iff the batch was staged. */
  def appendToBranchIfFresh(spark: SparkSession, batch: DataFrame,
      path: String, name: String, batchId: Long,
      statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      writerId: Option[String] = None): Boolean = {
    val (fs, _) = fsOf(spark, path)
    require(latestVersion(spark, path).isDefined,
      s"ManifestTable.appendToBranchIfFresh: no committed version at " +
        s"$path — create the table (one append) before streaming " +
        "into a branch of it")
    val bdP = new org.apache.hadoop.fs.Path(branchDir(path, name))
    // a baseless shell is the residue of an append that raced a
    // consume cutover ([[appendToBranch]]'s post-claim guard threw,
    // so nothing in the shell was ever acknowledged) — heal it
    if (fs.exists(bdP) && !fs.exists(
        new org.apache.hadoop.fs.Path(bdP, "_graft_base")))
      fs.delete(bdP, true)
    if (!fs.exists(bdP))
      createBranch(spark, path, name)
    // the branch watermark: this sink stages strictly increasing
    // tags (each batch must beat the watermark to stage at all), so
    // the max lives in the LAST tagged commit — walk from the end
    // and stop there, instead of reading every commit's entry list
    // per batch (which would make a long staging window quadratic).
    // Untagged commits (manual appendToBranch, tag -1) just skip.
    val (branchTag, branchWriter) =
      branchCommits(fs, path, name).reverseIterator
        .map { c =>
          val cd = resolvedCommitDir(fs, path, name, c)
          (entriesAt(spark, cd).map(_.tag).foldLeft(-1L)(math.max),
            readSideFile(fs, new org.apache.hadoop.fs.Path(
              cd, "_graft_writer")).map(_.trim))
        }.find(_._1 >= 0L).getOrElse((-1L, None))
    val mainTag = latestTag(spark, path)
    val fresh = batchId > math.max(mainTag, branchTag)
    // a skip on a watermark ANOTHER writer raised is not a replay —
    // it is the second-live-writer failure mode, surfaced loudly
    // (same contract as appendIfFresh's main-path check)
    if (!fresh) requireSameWriter(spark, path, batchId, writerId,
      if (branchTag >= mainTag && branchTag >= 0L) branchWriter
      else tagWriterOf(spark, path),
      "appendToBranchIfFresh")
    if (fresh)
      appendToBranch(spark, batch, path, name, tag = batchId,
        statsCols = statsCols, bloomCols = bloomCols,
        writerId = writerId)
    fresh
  }

  /** CONSOLIDATE the branch's staged commits into ONE: the whole-
    * branch maintenance op a long audit accumulates toward (N commit
    * dirs, N schema folds per read, N entry lists per fast-forward →
    * one of each; the data also coalesces into one freshly-written
    * dir set, so a drip of tiny appendToBranch batches compacts like
    * main-table `compact` does). Rows and semantics are exactly
    * [[readBranch]] minus the base: per-commit schemas fold
    * additively, unevolved commits' missing columns become NULLs —
    * the same shape the fast-forward would publish. The new set
    * stages COMPLETELY beside the live one and a one-file branch-
    * level `_graft_sup` flip commits it ([[branchActiveRoot]]);
    * superseded sets' dirs are orphans vacuum reaps. Single writer
    * per branch, like every mutation here. Returns (commits before,
    * commits after) — after is 1, EXCEPT when every branch commit
    * was empty AND untagged: the consolidated set then holds zero
    * commits and after is 0 (nothing to stage, nothing to publish).
    * All-empty-but-TAGGED commits (a branch DELETE removed every
    * staged row of a streaming window) consolidate to one file-less
    * watermark-only commit instead — the tags are the branch's
    * replay watermark and must survive the compaction. Branches
    * with 0 or 1 commits return unchanged. */
  def compactBranch(spark: SparkSession, path: String,
      name: String): (Int, Int) = {
    val (fs, _) = fsOf(spark, path)
    val bd = branchDir(path, name)
    require(fs.exists(new org.apache.hadoop.fs.Path(bd)),
      s"ManifestTable.compactBranch: no branch '$name' at $path")
    val root = branchActiveRoot(fs, path, name)
    val commits = branchCommits(fs, path, name)
    if (commits.size <= 1) return (commits.size, commits.size)
    val prev = latestVersion(spark, path)
    val v = prev.map(_ + 1).getOrElse(1L) // dir-name prefix, cosmetic
    // fold per-commit state exactly like the fast-forward would
    val perCommit = commits.map { c =>
      val cd = resolvedCommitDir(fs, path, name, c)
      // keep file-less entries in the fold: their TAGS are the
      // branch's replay watermark (only the data read below skips
      // them)
      val es = entriesAt(spark, cd)
      val schema = readSideFile(fs, new org.apache.hadoop.fs.Path(
          cd, "_graft_schema.json"))
        .map(DataType.fromJson(_).asInstanceOf[StructType])
        .getOrElse(sys.error(s"ManifestTable.compactBranch: branch " +
          s"commit $c has no schema sidecar — corrupt staging"))
      val (cStats, cBlooms) = {
        val m = readSideFile(fs, new org.apache.hadoop.fs.Path(
            cd, "_graft_pruning"))
          .map(_.linesIterator.map(_.split("=", 2)).collect {
            case Array(k, vs) =>
              k -> vs.split(",").filter(_.nonEmpty).toSeq
          }.toMap).getOrElse(Map.empty)
        (m.getOrElse("stats", Nil), m.getOrElse("bloom", Nil))
      }
      (es, schema, cStats, cBlooms)
    }
    val rows = perCommit.flatMap { case (es0, schema, _, _) =>
      val es = es0.filter(e => e.hasData(fs, s"$path/data/${e.dir}"))
      if (es.isEmpty) None
      else Some(spark.read
        .schema(deepNullable(schema).asInstanceOf[StructType])
        .parquet(es.map(e => s"$path/data/${e.dir}"): _*))
    }.reduceOption((a, b) =>
      a.unionByName(b, allowMissingColumns = true))
    val statsCols = perCommit.flatMap(_._3).distinct
    val bloomCols = perCommit.flatMap(_._4).distinct
    val maxTag = perCommit.flatMap(_._1).map(_.tag)
      .foldLeft(-1L)(math.max)
    // the consolidated commit carries the watermark-setting commit's
    // writer identity, so the single-writer skip check survives a
    // compaction
    val maxTagWriter: Option[String] =
      commits.zip(perCommit).reverseIterator
        .find { case (_, (es, _, _, _)) => es.exists(_.tag >= 0L) }
        .flatMap { case (c, _) =>
          readSideFile(fs, new org.apache.hadoop.fs.Path(
            resolvedCommitDir(fs, path, name, c), "_graft_writer"))
            .map(_.trim)
        }
    val spec = resolveSpec(spark, path, prev, Nil,
      s"ManifestTable.compactBranch($path, $name)")
    val setId = java.util.UUID.randomUUID.toString.take(8)
    val setName = s".set-$setId"
    val tmp = new org.apache.hadoop.fs.Path(s"$bd/.stage-$setName")
    fs.mkdirs(tmp)
    rows match {
      case Some(df) =>
        // the per-commit sidecars fold in as priorStaged: adopted
        // columns keep the ids the branch's files already agree on,
        // and any LEGACY duplicate assignment (pre-branch-aware-floor
        // commits) repairs here — the consolidated set re-stamps its
        // freshly-written files under the deduped ids
        val (stamped, stagedSchema) =
          stampForStaging(spark, path, prev, df, perCommit.map(_._2))
        val es2 = writeBatchEntries(spark, stamped, path, v, maxTag,
          statsCols, bloomCols, spec, fanout = 1)
        val cdir = new org.apache.hadoop.fs.Path(tmp, cName(1))
        writeEntriesParquet(spark, es2, cdir.toString)
        writeSideFile(fs, new org.apache.hadoop.fs.Path(
          cdir, "_graft_schema.json"), stagedSchema.json)
        writeSideFile(fs, new org.apache.hadoop.fs.Path(
          cdir, "_graft_pruning"), pruningBody(statsCols, bloomCols))
        maxTagWriter.foreach(wid => writeSideFile(fs,
          new org.apache.hadoop.fs.Path(cdir, "_graft_writer"), wid))
      case None if maxTag >= 0L =>
        // every commit empty, but the commits carried TAGS — the
        // branch's replay watermark. Consolidate to ONE commit whose
        // single file-less watermark-only entry keeps the max tag,
        // or a crash-replay of those batchIds would re-stage rows a
        // branch DELETE already removed.
        val cdir = new org.apache.hadoop.fs.Path(tmp, cName(1))
        writeEntriesParquet(spark, Seq(Entry(
          s"compact-${vName(v)}-wm", maxTag, Map.empty, Map.empty,
          Seq.empty, files = Some(Map.empty), rows = Some(0L))),
          cdir.toString)
        writeSideFile(fs, new org.apache.hadoop.fs.Path(
          cdir, "_graft_schema.json"),
          perCommit.last._2.json)
        maxTagWriter.foreach(wid => writeSideFile(fs,
          new org.apache.hadoop.fs.Path(cdir, "_graft_writer"), wid))
      case None => // every commit empty and untagged: so is the set
    }
    val fin = new org.apache.hadoop.fs.Path(s"$bd/$setName")
    require(fs.rename(tmp, fin),
      s"ManifestTable.compactBranch: could not stage the " +
        s"consolidated set for '$name'")
    // the atomic flip — written on the CURRENT root so chained
    // compactions resolve in order
    writeSideFile(fs, new org.apache.hadoop.fs.Path(
      root, "_graft_sup"), setName)
    (commits.size, if (rows.isDefined || maxTag >= 0L) 1 else 0)
  }

  /** The branch's WHOLE state — base snapshot plus every branch
    * commit, in order — what the AUDIT reads before a fast-forward.
    * Commits that evolved the schema additively surface missing
    * columns as nulls (evolution-on-read, like the main read path).
    * `onlyCommits` restricts the read to a captured commit set (in
    * the given order) — how [[graft.streaming.Streams.auditBranch]]
    * pins its audit window to exactly the commits it will ask
    * [[fastForwardBranch]] to publish, so a batch the sink stages
    * DURING the audit is neither judged nor published this cycle. */
  def readBranch(spark: SparkSession, path: String,
      name: String, onlyCommits: Option[Seq[String]] = None): DataFrame = {
    val (fs, _) = fsOf(spark, path)
    val bd = branchDir(path, name)
    val base = branchBase(spark, path, name)
    onlyCommits.getOrElse(branchCommits(fs, path, name)).foldLeft(
      readVersion(spark, path, base)) { (acc, c) =>
      val cd = resolvedCommitDir(fs, path, name, c)
      val es = entriesAt(spark, cd).filter(e =>
        e.hasData(fs, s"$path/data/${e.dir}"))
      if (es.isEmpty) acc
      else {
        val schema = readSideFile(fs, new org.apache.hadoop.fs.Path(
            cd, "_graft_schema.json"))
          .map(DataType.fromJson(_).asInstanceOf[StructType])
          .getOrElse(sys.error(s"ManifestTable.readBranch: branch " +
            s"commit $c has no schema sidecar — corrupt staging"))
        acc.unionByName(
          spark.read.schema(deepNullable(schema).asInstanceOf[StructType])
            .parquet(es.map(e => s"$path/data/${e.dir}"): _*),
          allowMissingColumns = true)
      }
    }
  }

  /** FAST-FORWARD the audited branch onto main as ONE atomic commit:
    * every branch commit's already-written dirs become new entries
    * of the next snapshot — zero data moves, however many commits
    * the branch accumulated. Validation happens HERE against the
    * table as it is NOW (same contract as [[publish]]): per-commit
    * schema compatibility (additive evolution only with
    * `evolveSchema`), CHECK constraints over the branch dirs,
    * partition purity. `retries > 0` rebases through concurrent
    * appends (appends commute). Idempotent across the crash window:
    * the commit records the branch's attempt id, and a retry that
    * finds it in retained history (or finds every branch dir already
    * in the current snapshot) consumes the branch without
    * double-appending; if the aimed-at version was vacuumed out of
    * history the retry fails loudly instead of guessing. The branch
    * is consumed on success — via [[consumeBranch]]'s atomic
    * rename-cutover, so a batch the sink stages WHILE this publishes
    * is never destroyed: it is salvaged into a re-created branch
    * based at the published snapshot and waits for the next audit
    * cycle. `onlyCommits` pins the publish set to commits captured
    * earlier (what [[graft.streaming.Streams.auditBranch]] actually
    * audited); commits staged after that capture stay staged.
    * Returns the committed version. */
  def fastForwardBranch(spark: SparkSession, path: String, name: String,
      evolveSchema: Boolean = false, retries: Int = 0,
      onlyCommits: Option[Seq[String]] = None): Long = {
    require(retries >= 0,
      s"fastForwardBranch: retries must be >= 0, got $retries")
    val (fs, _) = fsOf(spark, path)
    val bd = branchDir(path, name)
    if (!fs.exists(new org.apache.hadoop.fs.Path(bd))) {
      // a retry after a crash INSIDE a previous attempt's consume
      // (cutover done, teardown unfinished) finds no branch but a
      // `.dead-` residue dir — say so instead of a bare "no branch":
      // the publish in that scenario DID commit, nothing is lost
      // (vacuum pins the residue's dirs), and recovery is inspecting
      // the residue, not re-creating the branch
      val root = new org.apache.hadoop.fs.Path(branchRoot(path))
      val dead =
        if (!fs.exists(root)) Seq.empty[String]
        else fs.listStatus(root).map(_.getPath.getName)
          .filter(_.startsWith(s".dead-${refName(name)}-")).toSeq
      sys.error(
        s"ManifestTable.fastForwardBranch: no branch '$name' at " +
          s"$path" + (if (dead.isEmpty) "" else s" — teardown residue " +
            s"${dead.mkString(", ")} exists: a previous fast-forward " +
            "committed and crashed mid-consume; check the latest " +
            "snapshot for the published rows, salvage any unpublished " +
            "commit dirs from the residue (vacuum pins their data), " +
            "then delete it"))
    }
    val listed = branchCommits(fs, path, name)
    val commits = onlyCommits match {
      case None => listed
      case Some(oc) =>
        val missing = oc.filterNot(listed.toSet)
        require(missing.isEmpty,
          s"ManifestTable.fastForwardBranch($path, $name): commit(s) " +
            s"${missing.mkString(", ")} from the audited set are no " +
            "longer staged on the branch — a concurrent consume or " +
            "compactBranch intervened; re-audit the branch")
        oc
    }
    val perCommit = commits.map { c0 =>
      val c = resolvedCommitDir(fs, path, name, c0)
        .stripPrefix(s"$bd/")
      val es = entriesAt(spark, s"$bd/$c")
      val schema = readSideFile(fs, new org.apache.hadoop.fs.Path(
          s"$bd/$c", "_graft_schema.json"))
        .map(DataType.fromJson(_).asInstanceOf[StructType])
        .getOrElse(sys.error(s"ManifestTable.fastForwardBranch: " +
          s"branch commit $c has no schema sidecar — corrupt staging"))
      val (cStats, cBlooms) = {
        val m = readSideFile(fs, new org.apache.hadoop.fs.Path(
            s"$bd/$c", "_graft_pruning"))
          .map(_.linesIterator.map(_.split("=", 2)).collect {
            case Array(k, vs) =>
              k -> vs.split(",").filter(_.nonEmpty).toSeq
          }.toMap).getOrElse(Map.empty)
        (m.getOrElse("stats", Nil), m.getOrElse("bloom", Nil))
      }
      (es, schema, cStats, cBlooms)
    }
    // branch-internal rewrite provenance (a mid-branch DML
    // superseding a staged commit records the STAGED dirs it rewrote
    // from) references dirs no main consumer ever saw — published,
    // those rows are genuinely new, so the sources clear here:
    // readSince/readChanges then classify the publish as plain
    // inserts of the FIXED content instead of chasing provenance
    // outside main's history (which reads as a vacuumed gap and
    // fails loudly). Base dirs are never rewritten by branch DML
    // (shared with main, physically protected), so every source on a
    // branch entry is branch-internal by construction.
    val es = perCommit.flatMap(_._1)
      .map(e => if (e.sources.isEmpty) e else e.copy(sources = Seq.empty))
    val branchAttempt = readSideFile(fs,
      new org.apache.hadoop.fs.Path(bd, "_graft_attempt")).map(_.trim)
    // crash-window idempotence — publish's exact discipline, keyed
    // on the branch's own attempt id
    branchAttempt.foreach { att =>
      val retained = versions(spark, path)
      retained.reverse.find(w =>
        commitKV(spark, path, w).get("branchAttempt").contains(att))
        .foreach { w =>
          consumeBranch(spark, fs, path, name, w)
          return w
        }
      readSideFile(fs, new org.apache.hadoop.fs.Path(
          bd, "_graft_publishing"))
        .flatMap(_.trim.toLongOption)
        .foreach { aimed =>
          require(retained.isEmpty || retained.head <= aimed,
            s"ManifestTable.fastForwardBranch($path, $name): a " +
              s"previous attempt aimed at ${vName(aimed)}, which has " +
              "since been vacuumed out of retained history — whether " +
              "it committed is no longer provable; inspect the table " +
              "and abandonBranch or re-create explicitly")
        }
    }
    var attempt = 0
    var validated = Set.empty[(String, String)]
    while (true) {
      val prev = latestVersion(spark, path)
      val v = prev.map(_ + 1).getOrElse(1L)
      val prevEntries = prev.map(pv => entriesOf(spark, path, pv))
        .getOrElse(Seq.empty)
      val already = es.map(_.dir).toSet
        .intersect(prevEntries.map(_.dir).toSet)
      if (already.nonEmpty) {
        require(already == es.map(_.dir).toSet,
          s"ManifestTable.fastForwardBranch($path, $name): branch " +
            "dirs partially published — corrupt state, resolve " +
            "manually")
        consumeBranch(spark, fs, path, name, prev.get)
        return prev.get
      }
      // fold per-commit schemas through the same compatibility gate
      // an append would have paid, in commit order
      val schema = perCommit.map(_._2).foldLeft(
        prev.flatMap(pv => schemaOf(spark, path, pv))
          .getOrElse(perCommit.head._2)) { (acc, cs0) =>
        compatibleSchema(cs0, acc, evolveSchema,
          s"ManifestTable.fastForwardBranch($path, $name)")
      }
      // an evolution through fast-forward must not resurrect a
      // RETIRED name either — same hazard, same loud rule as append's
      prev.foreach { pv =>
        val tableNames = schemaOf(spark, path, pv)
          .map(_.fieldNames.toSet).getOrElse(Set.empty[String])
        refuseRetired(spark, path, pv,
          schema.fieldNames.filterNot(tableNames).toSeq,
          s"ManifestTable.fastForwardBranch($path, $name)")
      }
      // every branch commit's stamped ids must still equal what this
      // commit will persist (see requireStagedIdsStable)
      requireStagedIdsStable(perCommit.map(_._2), schema,
        prev.map(colmapOf(spark, path, _)._2).getOrElse(0L),
        s"ManifestTable.fastForwardBranch($path, $name)")
      val tSpec = prev.map(partitionSpecOf(spark, path, _))
        .getOrElse(Nil)
      val pure = es.filter(_.files.exists(_.nonEmpty))
        .forall(_.partition.nonEmpty)
      require(tSpec.isEmpty || pure,
        s"ManifestTable.fastForwardBranch($path, $name): the table " +
          "is partitioned but a branch commit staged unpartitioned — " +
          "abandon and re-branch")
      val cs = prev.map(constraintsOf(spark, path, _)).getOrElse(Nil)
      val toCheck = cs.filterNot(validated)
      val withFiles = es.filter(_.files.exists(_.nonEmpty))
      if (toCheck.nonEmpty && withFiles.nonEmpty) {
        enforceConstraints(spark.read.parquet(
          withFiles.map(e => s"$path/data/${e.dir}"): _*),
          toCheck, s"ManifestTable.fastForwardBranch($path, $name)")
        validated ++= toCheck
      }
      val prevTag = prevTagOf(spark, path, prev, prevEntries)
      val (pStats, pBloom) = prev.map(pruningOf(spark, path, _))
        .getOrElse((Nil, Nil))
      val branchMaxTag = es.map(_.tag).foldLeft(-1L)(math.max)
      // the publish RAISES main's tag watermark with the branch's
      // staged tags — record their writer with it, so the main-path
      // single-writer skip check sees who really owns the watermark
      val branchTagWriter: Option[String] =
        if (branchMaxTag <= prevTag) None
        else commits.zip(perCommit).reverseIterator
          .find { case (_, (ces, _, _, _)) => ces.exists(_.tag >= 0L) }
          .flatMap { case (c0, _) =>
            readSideFile(fs, new org.apache.hadoop.fs.Path(
              resolvedCommitDir(fs, path, name, c0), "_graft_writer"))
              .map(_.trim)
          }
      try {
        branchAttempt.foreach(_ => writeSideFile(fs,
          new org.apache.hadoop.fs.Path(bd, "_graft_publishing"),
          v.toString))
        commit(spark, path, v, prevEntries ++ es, schema,
          math.max(prevTag, branchMaxTag),
          ((pStats ++ perCommit.flatMap(_._3)).distinct,
            (pBloom ++ perCommit.flatMap(_._4)).distinct),
          cs, op = "fastForwardBranch",
          extraCommitInfo =
            branchAttempt.map("branchAttempt" -> _).toSeq ++
              branchTagWriter.map("tagWriter" -> _).toSeq)
        consumeBranch(spark, fs, path, name, v)
        return v
      } catch {
        case _: CommitConflictException if attempt < retries =>
          attempt += 1
      }
    }
    -1L // unreachable
  }

  /** CONSUME the branch after `publishedV` committed (or was found
    * committed) — the fast-forward's teardown, made safe against the
    * one writer the WAP loop SANCTIONS running concurrently: the
    * streaming sink ([[appendToBranchIfFresh]] stages while
    * [[graft.streaming.Streams.auditBranch]] audits and publishes,
    * by design). A wholesale `delete(branchDir)` here would destroy
    * any batch staged between the publish's entry listing and the
    * delete — silently, permanently, with its checkpoint already
    * advanced (no replay). Instead:
    *
    *  1. The branch dir RENAMES to a dot-hidden `.dead-` name — one
    *     atomic cutover. From this instant the sink sees no branch
    *     (its next fresh batch auto-recreates one); nothing can land
    *     inside the frozen dir anymore. An appendToBranch caught
    *     mid-claim by the cutover fails LOUDLY (its pre-claim base
    *     probe), the micro-batch retries, and the retry re-stages
    *     into the fresh branch — the tag watermark keeps that
    *     exactly-once.
    *  2. Inside the frozen dir, at leisure: commits whose entry dirs
    *     are all in `publishedV`'s snapshot are published — their
    *     metadata deletes with the dead dir. Any OTHER commit was
    *     staged after the publish set was captured and must survive:
    *     it moves into a (re-created, based at `publishedV`) live
    *     branch through the same atomic slot claim appends use,
    *     original order preserved, and waits for the next audit.
    *  3. The dead dir deletes.
    *
    * Idempotent under crash-retry at every step: a retry re-runs the
    * membership test against the same published snapshot. A crash
    * between cutover and teardown leaves a `.dead-` residue dir —
    * [[vacuum]] pins its referenced data ([[deadBranchEntries]]) and
    * a fastForwardBranch retry names the residue in its loud
    * no-branch error; recovery is operator inspection, never silent
    * loss. */
  private def consumeBranch(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String, name: String,
      publishedV: Long): Unit = {
    val bd = new org.apache.hadoop.fs.Path(branchDir(path, name))
    if (!fs.exists(bd)) return // already consumed
    val dead = new org.apache.hadoop.fs.Path(
      s"${branchRoot(path)}/.dead-${refName(name)}-" +
        java.util.UUID.randomUUID.toString.take(8))
    require(fs.rename(bd, dead),
      s"ManifestTable.fastForwardBranch($path, $name): could not " +
        "cut the branch dir over for teardown — filesystem refused " +
        "the rename; the publish IS committed, re-run to finish " +
        "consuming the branch")
    val deadRoot = followSup(fs, dead.toString, dead.toString,
      s"dead branch '$name'")
    val slots = fs.listStatus(new org.apache.hadoop.fs.Path(deadRoot))
      .map(_.getPath.getName)
      .filter(n => n.startsWith("c") && n.drop(1).forall(_.isDigit))
      .sorted.toSeq
    val pubDirs = entriesOf(spark, path, publishedV).map(_.dir).toSet
    val leftovers = slots.filter { c =>
      val cd = followSup(fs, dead.toString, s"$deadRoot/$c",
        s"dead branch '$name' commit $c")
      val es = entriesAt(spark, cd)
      val in = es.count(e => pubDirs(e.dir))
      require(in == 0 || in == es.size,
        s"ManifestTable.fastForwardBranch($path, $name): commit $c " +
          s"is PARTIALLY in ${vName(publishedV)}'s snapshot — " +
          "corrupt state, resolve manually (the branch is frozen at " +
          s"$dead)")
      es.nonEmpty && in == 0
    }
    if (leftovers.nonEmpty) {
      // the sink may already have auto-recreated the branch for a
      // newer batch — adopt it; otherwise re-create at the published
      // snapshot. Either base is correct for the salvaged commits:
      // they were staged against (at most) that snapshot's schema,
      // and fast-forward re-validates at publish time anyway.
      if (!fs.exists(bd)) createBranch(spark, path, name,
        Some(publishedV))
      leftovers.foreach { c =>
        val cd = followSup(fs, dead.toString, s"$deadRoot/$c",
          s"dead branch '$name' commit $c")
        moveIntoBranchSlot(spark, fs, path, name,
          new org.apache.hadoop.fs.Path(cd))
      }
    }
    fs.delete(dead, true)
    ()
  }

  /** Atomically claim the live branch's next commit slot for an
    * ALREADY-STAGED commit dir (the salvage path of
    * [[consumeBranch]]): same tmp-write + rename + attempt-readback
    * discipline as [[appendToBranch]]'s claim loop, but the dir
    * moves instead of being written fresh. */
  private def moveIntoBranchSlot(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String, name: String,
      from: org.apache.hadoop.fs.Path): Unit = {
    val attemptId = java.util.UUID.randomUUID.toString
    val root = branchActiveRoot(fs, path, name)
    var i = nextCommitIndex(fs, path, name)
    val tmp = new org.apache.hadoop.fs.Path(
      s"$root/.tmp-salvage_${attemptId.take(8)}")
    require(fs.rename(from, tmp),
      s"ManifestTable.fastForwardBranch($path, $name): could not " +
        s"move staged commit $from into the live branch — the " +
        "commit is still in its .dead- dir; re-run to finish")
    // the salvaged dir carries the ORIGINAL append's attempt file;
    // re-stamp with ours so the claim readback proves OUR rename won
    writeSideFile(fs, new org.apache.hadoop.fs.Path(
      tmp, "_graft_attempt"), attemptId)
    var claimed = false
    while (!claimed) {
      require(i <= 10000, s"ManifestTable.fastForwardBranch($path, " +
        s"$name): could not claim a salvage slot after $i attempts")
      val fin = new org.apache.hadoop.fs.Path(s"$root/${cName(i)}")
      val renamed = !fs.exists(fin) && fs.rename(tmp, fin)
      claimed = renamed && readSideFile(fs,
        new org.apache.hadoop.fs.Path(fin, "_graft_attempt"))
        .contains(attemptId)
      if (!claimed) {
        // unlike the append loop we CANNOT delete a swallowed tmp
        // (rename into an existing dir on some filesystems) — it is
        // the only copy of the salvaged commit; pull it back out
        val swallowed = new org.apache.hadoop.fs.Path(fin, tmp.getName)
        if (fs.exists(swallowed)) require(fs.rename(swallowed, tmp),
          s"ManifestTable.fastForwardBranch($path, $name): salvage " +
            s"commit stuck inside $fin — recover it manually")
        i += 1
      }
    }
  }

  /** The next free commit-slot index on the live branch: one past
    * the MAX existing index, never `count + 1` — after a partial
    * consume leaves (say) only `c0007` staged, the next claim must
    * be `c0008`, not `c0002`, or commit ORDER (schema folds, the
    * watermark's last-tagged probe) would break. */
  private def nextCommitIndex(fs: org.apache.hadoop.fs.FileSystem,
      path: String, name: String): Int =
    branchCommits(fs, path, name)
      .map(_.drop(1).toInt).foldLeft(0)(math.max) + 1

  /** Discard a branch without fast-forwarding — the audit's reject
    * path. Its commits' data dirs become orphans the next [[vacuum]]
    * reaps; main never knew. */
  def abandonBranch(spark: SparkSession, path: String,
      name: String): Unit = {
    val (fs, _) = fsOf(spark, path)
    fs.delete(new org.apache.hadoop.fs.Path(branchDir(path, name)), true)
    ()
  }

  // ---- Branch-scoped DML: FIX a staged batch instead of abandoning
  //      it. Scope contract: these operate on the rows the BRANCH
  //      ADDED (its own commits' dirs) — never the base snapshot's,
  //      which is shared with main and must stay physically untouched
  //      while the branch lives. Each touched commit rewrites through
  //      the one [[stagedRewrite]] engine and is SUPERSEDED by a full
  //      replacement entry list whose one-file `_graft_sup` pointer
  //      flip is the atomic commit point ([[resolvedCommitDir]]).
  //      A multi-commit statement is atomic PER COMMIT and
  //      re-runnable as a whole: a crash between commit flips leaves
  //      some commits patched and the rest untouched, and re-running
  //      the same deterministic statement finishes the job (the
  //      already-patched commits simply match nothing). Single
  //      writer per branch, like every mutation here. ----

  /** The branch-DML engine: for every branch commit, prune its
    * entries by `touchPred` (the same probe discipline the main-table
    * DML uses), rewrite the touched dirs via [[stagedRewrite]] with
    * `transform(commitSchema)`, and supersede the commit with the
    * merged entry list. `validate` runs once per DISTINCT commit
    * schema before any data work (loud on a mistyped predicate/SET).
    * Returns the number of dirs rewritten. */
  private def rewriteBranch(spark: SparkSession, path: String,
      name: String, op: String,
      touchPred: Entry => Boolean,
      validate: StructType => Unit,
      transform: StructType => DataFrame => DataFrame,
      extraRestatCols: Seq[String]): Int = {
    val (fs, _) = fsOf(spark, path)
    val bd = branchDir(path, name)
    require(fs.exists(new org.apache.hadoop.fs.Path(bd)),
      s"ManifestTable.$op: no branch '$name' at $path — existing: " +
        branchNames(spark, path).mkString(", "))
    val prev = latestVersion(spark, path)
    val v = prev.map(_ + 1).getOrElse(1L) // dir-name prefix, cosmetic
    var touched = 0
    branchCommits(fs, path, name).foreach { c =>
      val cd = resolvedCommitDir(fs, path, name, c)
      val es = entriesAt(spark, cd)
      val schema = readSideFile(fs, new org.apache.hadoop.fs.Path(
          cd, "_graft_schema.json"))
        .map(DataType.fromJson(_).asInstanceOf[StructType])
        .getOrElse(sys.error(s"ManifestTable.$op: branch commit $c " +
          "has no schema sidecar — corrupt staging"))
      validate(schema)
      val touch = es.filter(e => touchPred(e) &&
        e.hasData(fs, s"$path/data/${e.dir}"))
      if (touch.nonEmpty) {
        val rewritten = stagedRewrite(spark, path, v, schema, touch,
          op, transform(schema), extraRestatCols)
        val byProv = rewritten
          .flatMap(e => e.sources.map(_ -> e)).toMap
        val touchedSet = touch.map(_.dir).toSet
        val merged = es.flatMap { e =>
          if (!touchedSet(e.dir)) Some(e)
          else byProv.get(e.dir).orElse {
            // the fix emptied this dir. Its ROWS are gone, but its
            // TAG is the branch's replay watermark (the branch
            // watermark rides entry tags — main's is table-level
            // metadata): dropping the entry would let a crash-replay
            // of that batchId re-stage rows the audit deliberately
            // removed. Keep a file-less watermark-only entry — reads
            // skip it (files = Some(empty)), fast-forward folds its
            // tag into main's watermark, and its dir name is
            // synthetic so vacuum never pins the emptied dir's old
            // files.
            if (e.tag >= 0L) Some(Entry(s"${e.dir}-wm", e.tag,
              Map.empty, Map.empty, Seq.empty,
              files = Some(Map.empty), rows = Some(0L)))
            else None
          }
        }
        // stage the full replacement beside the commit, then flip
        // the pointer — the one-file atomic commit point
        val supId = java.util.UUID.randomUUID.toString.take(8)
        val supName = s".sup-${c}_$supId"
        val tmp = new org.apache.hadoop.fs.Path(s"$bd/.stage-$supName")
        writeEntriesParquet(spark, merged, tmp.toString)
        writeSideFile(fs, new org.apache.hadoop.fs.Path(
          tmp, "_graft_schema.json"), schema.json)
        readSideFile(fs, new org.apache.hadoop.fs.Path(
            cd, "_graft_pruning"))
          .foreach(body => writeSideFile(fs,
            new org.apache.hadoop.fs.Path(tmp, "_graft_pruning"), body))
        // the writer identity rides the commit through fixes: the
        // replay watermark's author must survive a branch rewrite
        readSideFile(fs, new org.apache.hadoop.fs.Path(
            cd, "_graft_writer"))
          .foreach(wid => writeSideFile(fs,
            new org.apache.hadoop.fs.Path(tmp, "_graft_writer"), wid))
        val fin = new org.apache.hadoop.fs.Path(s"$bd/$supName")
        require(fs.rename(tmp, fin),
          s"ManifestTable.$op: could not stage the replacement for " +
            s"branch commit $c")
        writeSideFile(fs, new org.apache.hadoop.fs.Path(
          cd, "_graft_sup"), supName)
        touched += touch.size
      }
    }
    touched
  }

  /** `DELETE FROM <branch> WHERE cond` over the rows the branch
    * ADDED: the audit found bad rows in a staged batch and fixes the
    * batch in place — main (and the branch's base snapshot) stay
    * physically untouched, and the eventual fast-forward publishes
    * the FIXED content. Row semantics match [[deleteWhere]] (only
    * predicate-TRUE rows delete; NULL survives); dir pruning runs
    * the same conjunct probe when `pruneConjuncts` are supplied.
    * Returns the number of branch dirs rewritten. */
  def deleteFromBranch(spark: SparkSession, path: String, name: String,
      cond: org.apache.spark.sql.Column,
      pruneConjuncts: Seq[
        org.apache.spark.sql.catalyst.expressions.Expression] = Nil)
      : Int = {
    val might = graft.sources.ManifestFileIndex.entryProbe(
      pruneConjuncts, Nil)
    rewriteBranch(spark, path, name, "deleteFromBranch",
      might,
      schema => {
        val probe = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        val dt = probe.select(cond).schema.head.dataType
        require(dt == org.apache.spark.sql.types.BooleanType,
          s"ManifestTable.deleteFromBranch: the predicate has type " +
            s"${dt.catalogString}, not boolean")
      },
      _ => _.filter(!coalesce(cond, lit(false))),
      extraRestatCols = pruneConjuncts.flatMap(_.collect {
        case a: org.apache.spark.sql.catalyst.expressions
          .AttributeReference => a.name
      }).distinct)
  }

  /** `UPDATE <branch> SET … WHERE cond` over the rows the branch
    * ADDED — [[deleteFromBranch]]'s patch twin, with [[updateWhere]]'s
    * SET contract: typed against each commit's schema, partition-
    * source columns refused, NULL-evaluating predicates match
    * nothing, matching rows patch IN PLACE. Returns the number of
    * branch dirs rewritten. */
  def updateBranch(spark: SparkSession, path: String, name: String,
      cond: org.apache.spark.sql.Column,
      sets: Seq[(String, org.apache.spark.sql.Column)],
      pruneConjuncts: Seq[
        org.apache.spark.sql.catalyst.expressions.Expression] = Nil)
      : Int = {
    require(sets.nonEmpty, "ManifestTable.updateBranch: empty SET list")
    require(sets.map(_._1).distinct.size == sets.size,
      "ManifestTable.updateBranch: duplicate SET column in " +
        sets.map(_._1).mkString("[", ", ", "]"))
    val prev = latestVersion(spark, path)
    val pSrcs = prev.map(partitionSpecOf(spark, path, _))
      .getOrElse(Nil).map(_.src).toSet
    val clash = sets.map(_._1).filter(pSrcs)
    require(clash.isEmpty,
      "ManifestTable.updateBranch: SET touches partition-source " +
        s"column(s) ${clash.mkString("'", "', '", "'")} — an " +
        "in-place update cannot re-derive partition metadata")
    val setMap = sets.toMap
    val might = graft.sources.ManifestFileIndex.entryProbe(
      pruneConjuncts, Nil)
    rewriteBranch(spark, path, name, "updateBranch",
      might,
      schema => {
        val fieldsByName = schema.fields.map(f => f.name -> f).toMap
        sets.foreach { case (c, _) =>
          require(fieldsByName.contains(c),
            s"ManifestTable.updateBranch: SET column '$c' is not in " +
              s"this branch commit's schema " +
              s"(${schema.fieldNames.mkString(", ")})")
        }
        val probe = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        val dt = probe.select(cond).schema.head.dataType
        require(dt == org.apache.spark.sql.types.BooleanType,
          s"ManifestTable.updateBranch: the predicate has type " +
            s"${dt.catalogString}, not boolean")
        sets.foreach { case (c, e) =>
          val got = probe.select(e).schema.head.dataType
          val want = fieldsByName(c).dataType
          require(got.catalogString == want.catalogString ||
              widens(got, want),
            s"ManifestTable.updateBranch: SET '$c' expression has " +
              s"type ${got.catalogString} but the column is " +
              s"${want.catalogString} — cast explicitly")
        }
      },
      schema => { df =>
        val fieldsByName = schema.fields.map(f => f.name -> f).toMap
        val tableCols = schema.fieldNames.toSet
        val cols = schema.fieldNames.map { c =>
          setMap.get(c) match {
            case Some(e) => when(cond,
              e.cast(fieldsByName(c).dataType)).otherwise(col(c)).as(c)
            case None => col(c)
          }
        }
        val extra = df.columns.filterNot(tableCols).map(col)
        df.select((cols ++ extra).toSeq: _*)
      },
      extraRestatCols = sets.map(_._1))
  }

  /** Upsert `source` into the branch's STAGED content by `keyCol` —
    * the audit's "these staged records need corrected values, and
    * these are missing" fix in one statement: staged rows whose key
    * matches patch column-wise from the source (whole-row, key
    * preserved), source rows matching NOTHING in the whole branch
    * state append as a new branch commit. Source keys that match
    * only BASE rows are LOUD: the base is shared with main and a
    * branch must not fork it — merge on main after the fast-forward
    * instead. Source must carry the key exactly once per row (dup
    * keys would make the patch order-dependent). Returns (dirs
    * rewritten, rows appended). */
  def mergeToBranch(spark: SparkSession, source: DataFrame,
      path: String, name: String, keyCol: String): (Int, Long) = {
    val (fs, _) = fsOf(spark, path)
    require(source.columns.contains(keyCol),
      s"ManifestTable.mergeToBranch: source has no column '$keyCol'")
    val dupKeys = source.groupBy(col(keyCol)).count()
      .filter(col("count") > 1).limit(1).collect()
    require(dupKeys.isEmpty,
      s"ManifestTable.mergeToBranch: source carries duplicate " +
        s"'$keyCol' values (e.g. ${dupKeys.headOption.map(_.get(0))}) " +
        "— an upsert needs one row per key")
    // which source keys exist in the STAGED content vs only the BASE
    val bd = branchDir(path, name)
    require(fs.exists(new org.apache.hadoop.fs.Path(bd)),
      s"ManifestTable.mergeToBranch: no branch '$name' at $path")
    val base = branchBase(spark, path, name)
    val stagedKeys = branchCommits(fs, path, name).flatMap { c =>
      val cd = resolvedCommitDir(fs, path, name, c)
      val es = entriesAt(spark, cd).filter(e =>
        e.hasData(fs, s"$path/data/${e.dir}"))
      if (es.isEmpty) None
      else Some(spark.read.parquet(
        es.map(e => s"$path/data/${e.dir}"): _*).select(col(keyCol)))
    }.reduceOption(_ unionByName _)
      .getOrElse(source.select(col(keyCol)).limit(0))
    // no broadcast hint on `source`: it is the streamed (left) side of
    // these semi/anti joins, which Spark cannot build, so a hint there
    // is dropped with a HintErrorLogger warning
    val inStaged = source.join(stagedKeys, Seq(keyCol), "left_semi")
    val notStaged = source.join(stagedKeys, Seq(keyCol), "left_anti")
    val baseOnly = notStaged.join(
      readVersion(spark, path, base).select(col(keyCol)),
      Seq(keyCol), "left_semi").limit(1).collect()
    require(baseOnly.isEmpty,
      s"ManifestTable.mergeToBranch($path, $name): source key " +
        s"'${baseOnly.headOption.map(_.get(0)).orNull}' matches a " +
        "BASE row the branch merely inherits — the base is shared " +
        "with main and a branch must not fork it; fix those rows " +
        "with MERGE on main after the fast-forward")
    // 1) patch the staged matches in place (column-wise, key kept).
    // The matched keys drive the per-dir prune probe on the DRIVER —
    // bounded: an audit-fix source is update-batch-sized, and past
    // 100k keys the honest statement is a main-table MERGE after the
    // fast-forward, not a literal key list
    val matchedKeys = inStaged.select(col(keyCol)).distinct()
      .limit(100001).collect().map(_.get(0)).toSeq
    require(matchedKeys.size <= 100000,
      s"ManifestTable.mergeToBranch($path, $name): more than 100000 " +
        "distinct matched keys — at that scale fix via MERGE on main " +
        "after the fast-forward (a join, not a key list)")
    val touched =
      if (matchedKeys.isEmpty) 0
      else {
        val isStr = source.schema(keyCol).dataType ==
          org.apache.spark.sql.types.StringType
        val might: Entry => Boolean = e => matchedKeys.exists { k =>
          if (isStr) {
            val s = k.asInstanceOf[String]
            e.mightOverlapStr(keyCol, Some(s), Some(s)) &&
              e.mightContainPointStr(keyCol, s)
          } else scala.util.Try {
            val l = k.asInstanceOf[Number].longValue()
            e.mightOverlap(keyCol, l, l) && e.mightContainPoint(keyCol, l)
          }.getOrElse(true)
        }
        rewriteBranch(spark, path, name, "mergeToBranch",
          might,
          schema => {
            val missing = source.columns.filterNot(
              schema.fieldNames.contains)
            require(missing.isEmpty,
              s"ManifestTable.mergeToBranch: source column(s) " +
                s"${missing.mkString("'", "', '", "'")} are not in " +
                "this branch commit's schema — evolve via " +
                "appendToBranch first")
          },
          schema => { df =>
            val srcCols = source.columns.toSet
            val renamed = source.columns.foldLeft(source)((d, c) =>
              d.withColumnRenamed(c, s"_graft_m_$c"))
            val joined = df.join(broadcast(renamed),
              df(keyCol) === renamed(s"_graft_m_$keyCol"), "left")
            val matched = renamed(s"_graft_m_$keyCol").isNotNull
            val cols = schema.fieldNames.map { c =>
              if (c != keyCol && srcCols.contains(c))
                when(matched, renamed(s"_graft_m_$c")
                  .cast(schema(c).dataType))
                  .otherwise(df(c)).as(c)
              else df(c).as(c)
            }
            val extra = df.columns
              .filterNot(schema.fieldNames.contains).map(df(_))
            joined.select((cols ++ extra).toSeq: _*)
          },
          extraRestatCols = source.columns.filterNot(_ == keyCol).toSeq)
      }
    // 2) append the genuinely-new rows as the next branch commit
    val fresh = notStaged
    val freshN = fresh.count()
    if (freshN > 0)
      appendToBranch(spark, fresh, path, name)
    (touched, freshN)
  }

}
