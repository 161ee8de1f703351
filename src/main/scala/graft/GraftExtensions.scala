package graft

import graft.expressions.FloatDotProduct
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension registration (`spark.sql.extensions=graft.GraftExtensions`
  * or `builder.withExtensions(new GraftExtensions)`): exposes the
  * engine's custom Catalyst expressions to SQL, so
  * `SELECT dot_product(a.embedding, b.embedding)` plans the same
  * codegen'd primitive loop the Column API uses, and installs the
  * engine's optimizer rules ([[graft.plans.InjectBloomPrefilter]] —
  * size-gated, a no-op on plans below its thresholds). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.quietBoundedWindowWarning()
    // re-assert the bounded-window log filter at analysis time: Spark
    // reconfigures log4j after session setup, dropping programmatic
    // logger configs installed above (no-op pass-through rule; the
    // install check is one map lookup once the filter is in place)
    ext.injectResolutionRule { _ =>
      new org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
        override def apply(
            plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
            : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
          GraftExtensions.quietBoundedWindowWarning()
          plan
        }
      }
    }
    // optimizer rules: the automatic Bloom runtime join filter runs in
    // the Pre-CBO batch (Once, after operator optimization — filters
    // pushed and columns pruned, so side sizes are meaningful; before
    // Spark's native InjectRuntimeFilter, whose had-a-filter check
    // recognizes the injected shape and stands down)
    ext.injectPreCBORule(_ => graft.plans.InjectBloomPrefilter)
    // whole-table COUNT/MIN/MAX over a graft-manifest relation answers
    // from the manifest's recorded row counts + stats (LocalRelation,
    // zero data files) — also Pre-CBO: pushdown shapes have settled,
    // so a residual Filter between aggregate and relation is visible
    // and correctly disqualifies the rewrite
    ext.injectPreCBORule(_ => graft.plans.ManifestMetadataAggs)
    // SQL DML (INSERT/DELETE/MERGE) on graft-manifest views: must run
    // at RESOLUTION time, before the built-in post-hoc
    // DataSourceAnalysis would plan the insert as a raw file write
    // into the relation's root (unreferenced by any manifest — silent
    // data loss) or reject DELETE/MERGE as v2-only
    ext.injectResolutionRule(_ => graft.plans.ManifestSqlRules)
    // catalog names → the V1 manifest relation (exprIds preserved):
    // resolution-time too, so a named DML target is already the v1
    // relation by the time ManifestSqlRules looks for one, and the
    // no-capability v2 table never reaches a capability check
    ext.injectResolutionRule(_ => graft.plans.ManifestCatalogRules)
    // merge-on-read deletes for the SQL read surface: POST-HOC (after
    // the main resolution batch converted DML to commands, so only
    // pure reads remain) — rewrites a pending-deletion-vector
    // manifest relation into per-tombstone-group scans + broadcast
    // anti-joins; clean tables never match
    ext.injectPostHocResolutionRule(_ => graft.plans.ManifestApplyDeletes)
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[FloatDotProduct].getName, null,
        "dot_product",
        "dot_product(a, b) - Double dot product of two float/double arrays.",
        "", "", "", "", "4.0.0", "", "built-in"),
      (exprs: Seq[Expression]) => {
        if (exprs.length != 2) {
          throw new org.apache.spark.sql.AnalysisException(
            "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
            Map("functionName" -> "`dot_product`", "expectedNum" -> "2",
              "actualNum" -> exprs.length.toString,
              "docroot" -> "https://spark.apache.org/docs/latest"))
        }
        FloatDotProduct(exprs(0), exprs(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("simhash"),
      new ExpressionInfo(classOf[graft.expressions.SimHash].getName, null,
        "simhash",
        "simhash(token_hashes, bits) - SimHash fingerprint of an " +
          "array<bigint> over `bits` bits (literal 1..32).",
        "", "", "", "", "4.0.0", "", "built-in"),
      (exprs: Seq[Expression]) => {
        if (exprs.length != 2) {
          throw new org.apache.spark.sql.AnalysisException(
            "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
            Map("functionName" -> "`simhash`", "expectedNum" -> "2",
              "actualNum" -> exprs.length.toString,
              "docroot" -> "https://spark.apache.org/docs/latest"))
        }
        val bits = exprs(1) match {
          case e if e.foldable &&
              e.dataType == org.apache.spark.sql.types.IntegerType =>
            e.eval() match {
              case i: java.lang.Integer if i >= 1 && i <= 32 => i.intValue()
              case other =>
                // NULL or out-of-range literal: surface the 1..32
                // contract as an analysis-time error, not a raw
                // IllegalArgumentException out of SimHash's require
                throw new org.apache.spark.sql.AnalysisException(
                  "DATATYPE_MISMATCH.VALUE_OUT_OF_RANGE",
                  Map("sqlExpr" -> "\"simhash\"", "exprName" -> "`bits`",
                    "valueRange" -> "[1, 32]",
                    "currentValue" -> String.valueOf(other)))
            }
          case _ =>
            throw new org.apache.spark.sql.AnalysisException(
              "NON_FOLDABLE_ARGUMENT",
              Map("funcName" -> "`simhash`", "paramName" -> "`bits`",
                "paramType" -> "\"INT\""))
        }
        graft.expressions.SimHash(exprs(0), bits)
      }))
    def unary(name: String, clazz: Class[_], usage: String,
        build: Expression => Expression): Unit =
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, null, name, usage,
          "", "", "", "", "4.0.0", "", "built-in"),
        (exprs: Seq[Expression]) => {
          if (exprs.length != 1) {
            throw new org.apache.spark.sql.AnalysisException(
              "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
              Map("functionName" -> s"`$name`", "expectedNum" -> "1",
                "actualNum" -> exprs.length.toString,
                "docroot" -> "https://spark.apache.org/docs/latest"))
          }
          build(exprs(0))
        }))
    unary("punct_count", classOf[graft.expressions.PunctCount],
      "punct_count(text) - Count of codepoints outside [a-zA-Z0-9\\s].",
      graft.expressions.PunctCount(_))
    unary("subword_count", classOf[graft.expressions.SubwordCount],
      "subword_count(text) - Count of [A-Za-z0-9]+ runs plus other " +
        "non-whitespace codepoints (BPE-ish subword estimate).",
      graft.expressions.SubwordCount(_))
    unary("token_hashes", classOf[graft.expressions.TokenHashes],
      "token_hashes(text) - Fused lowercase/tokenize/md5-prefix: " +
        "array<bigint> of 32-bit per-token hashes (the MinHash input).",
      graft.expressions.TokenHashes(_, wide = false))
    unary("token_hashes_wide", classOf[graft.expressions.TokenHashes],
      "token_hashes_wide(text) - 60-bit variant of token_hashes " +
        "(the SimHash input).",
      graft.expressions.TokenHashes(_, wide = true))

    // ---- TABLE-VALUED functions: the SQL front door to the manifest
    //      metadata reads (Delta's table_changes/DESCRIBE HISTORY
    //      shape). Arguments must be foldable literals — the plan is
    //      built at analysis time, so a non-constant argument has no
    //      meaning and is rejected loudly. ----
    def tvfArg[A](exprs: Seq[Expression], i: Int, fn: String,
        what: String)(cast: PartialFunction[Any, A]): A = {
      val e = exprs(i)
      val v = if (e.resolved && e.foldable) Option(e.eval()) else None
      v.collect(cast).getOrElse(throw new org.apache.spark.sql
        .AnalysisException("_LEGACY_ERROR_TEMP_0035",
        Map("message" -> (s"$fn: argument ${i + 1} must be a " +
          s"constant $what, got ${e.sql}"))))
    }
    def tvf(name: String, usage: String,
        build: Seq[Expression] =>
          org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : Unit =
      ext.injectTableFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(getClass.getName, null, name, usage,
          "", "", "", "", "4.0.0", "", "built-in"),
        build))
    tvf("graft_changes",
      "graft_changes(path, since[, until]) - Row-level change feed " +
        "of the graft-manifest table at `path` over versions " +
        "(since, until] in delete/insert normal form (_change_type, " +
        "_commit_version); until defaults to the latest snapshot.",
      (exprs: Seq[Expression]) => {
        if (exprs.length < 2 || exprs.length > 3)
          throw new org.apache.spark.sql.AnalysisException(
            "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
            Map("functionName" -> "`graft_changes`",
              "expectedNum" -> "2 or 3",
              "actualNum" -> exprs.length.toString,
              "docroot" -> "https://spark.apache.org/docs/latest"))
        val spark = org.apache.spark.sql.SparkSession.active
        val path = graft.catalog.GraftNames.resolve(spark,
          tvfArg[String](exprs, 0, "graft_changes", "STRING") {
            case s: org.apache.spark.unsafe.types.UTF8String => s.toString
            case s: String => s
          })
        def intArg(i: Int): Long =
          tvfArg[Long](exprs, i, "graft_changes", "INTEGER") {
            case v: java.lang.Integer => v.toLong
            case v: java.lang.Long => v.longValue()
          }
        val since = intArg(1)
        val until = if (exprs.length == 3) intArg(2)
          else graft.sinks.ManifestTable.latestVersion(spark, path)
            .getOrElse(sys.error(
              s"graft_changes: no committed version at $path"))
        graft.sinks.ManifestTable.readChanges(spark, path, since, until)
          .queryExecution.analyzed
      })
    def pathTvf(name: String, usage: String,
        run: (org.apache.spark.sql.SparkSession, String) =>
          org.apache.spark.sql.DataFrame): Unit =
      tvf(name, usage, (exprs: Seq[Expression]) => {
        if (exprs.length != 1)
          throw new org.apache.spark.sql.AnalysisException(
            "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
            Map("functionName" -> s"`$name`", "expectedNum" -> "1",
              "actualNum" -> exprs.length.toString,
              "docroot" -> "https://spark.apache.org/docs/latest"))
        val spark = org.apache.spark.sql.SparkSession.active
        val path = graft.catalog.GraftNames.resolve(spark,
          tvfArg[String](exprs, 0, name, "STRING") {
            case s: org.apache.spark.unsafe.types.UTF8String => s.toString
            case s: String => s
          })
        run(spark, path).queryExecution.analyzed
      })
    pathTvf("graft_history",
      "graft_history(path) - DESCRIBE HISTORY of the graft-manifest " +
        "table at `path`: one row per retained snapshot (version, " +
        "commit time, operation, dir/file/row counts).",
      graft.sinks.ManifestTable.history)
    pathTvf("graft_detail",
      "graft_detail(path) - one-row DESCRIBE DETAIL of the " +
        "graft-manifest table at `path`: current version, dir/file/" +
        "row counts, partition spec, pruning discipline — resolved " +
        "from metadata alone.",
      graft.sinks.ManifestTable.detail)
    tvf("graft_branch",
      "graft_branch(path, branch) - the branch's WHOLE state (base " +
        "snapshot + every staged branch commit, in order) — the " +
        "AUDIT read before a fast_forward_branch; main readers of " +
        "the table itself never see these rows.",
      (exprs: Seq[Expression]) => {
        if (exprs.length != 2)
          throw new org.apache.spark.sql.AnalysisException(
            "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
            Map("functionName" -> "`graft_branch`",
              "expectedNum" -> "2",
              "actualNum" -> exprs.length.toString,
              "docroot" -> "https://spark.apache.org/docs/latest"))
        val spark = org.apache.spark.sql.SparkSession.active
        def strArg(i: Int): String =
          tvfArg[String](exprs, i, "graft_branch", "STRING") {
            case s: org.apache.spark.unsafe.types.UTF8String => s.toString
            case s: String => s
          }
        val path = graft.catalog.GraftNames.resolve(spark, strArg(0))
        graft.sinks.ManifestTable.readBranch(spark, path, strArg(1))
          .queryExecution.analyzed
      })
  }
}

object GraftExtensions {
  private[graft] val WindowExecLogger =
    "org.apache.spark.sql.execution.window.WindowExec"
  /** The one WindowExec message [[quietBoundedWindowWarning]] hides. */
  private[graft] val BoundedWindowWarning = "No Partition Defined"

  /** Silence WindowExec's blanket global-window warning once per JVM:
    * every unpartitioned window in this engine runs over a frame
    * bounded by construction (seed ranks over a `limit(n)`, top-V id
    * assignment after `limit(v)` — each site documents its bound), and
    * Spark 4's `EliminateWindowPartitions` folds away the literal
    * partition key that would otherwise name a partition spec, so the
    * "No Partition Defined ... serious performance degradation"
    * warning fires on every bounded window and buries real warnings in
    * the smoke tail. A plain level override would not survive
    * `sparkContext.setLogLevel` (it calls `Configurator.setAllLevels`,
    * clobbering per-logger levels), so the suppression is a filter
    * on a dedicated WindowExec logger config — setAllLevels touches
    * levels, never filters. The filter denies only messages containing
    * [[BoundedWindowWarning]]; every other WindowExec event passes on
    * to the appenders. Spark's own logging init RECONFIGURES the
    * context after session setup (dropping programmatic logger
    * configs), so the install is RE-CHECKED from a no-op resolution
    * rule on every analysis pass — a map lookup when already
    * installed. The engine-wide review rule stands: a global
    * window over an UNBOUNDED frame is a bug regardless of this
    * logger. */
  private[graft] def quietBoundedWindowWarning(): Unit = {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.config.LoggerConfig
    import org.apache.logging.log4j.core.Filter.Result
    import org.apache.logging.log4j.core.filter.StringMatchFilter
    def filter = StringMatchFilter.newBuilder()
      .setMatchString(BoundedWindowWarning)
      .setOnMatch(Result.DENY).setOnMismatch(Result.NEUTRAL).build()
    LogManager.getContext(false) match {
      case ctx: LoggerContext =>
        val cfg = ctx.getConfiguration
        val existing = cfg.getLoggerConfig(WindowExecLogger)
        if (existing.getName != WindowExecLogger) {
          val fresh = new LoggerConfig(WindowExecLogger, Level.WARN, true)
          fresh.addFilter(filter)
          cfg.addLogger(WindowExecLogger, fresh)
          ctx.updateLoggers()
        } else if (existing.getFilter == null) {
          existing.addFilter(filter)
          ctx.updateLoggers()
        }
      case _ => // non-core logging backend: leave the warning be
    }
  }
}
