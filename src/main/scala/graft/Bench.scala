package graft
import org.apache.spark.sql.SparkSession

object Bench {
  /** Current 1-minute loadavg — recorded in the bench JSON so a reader
    * can tell a quiet run from one inflated by co-tenant load. */
  private def loadAvg(): Double =
    try java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(Session.envCpus)
    val loadBefore = loadAvg()
    // Warm the JVM, parquet readers, and codegen paths once so the first
    // timed queries don't absorb one-time startup cost: the flagship
    // (vector path) plus one representative pass per expression family
    // the alphabetically-first queries hit (decimal agg, JSON extract).
    try {
      import org.apache.spark.sql.functions._
      SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
      Tables.lineitem(spark, sfDir)
        .groupBy(col("l_returnflag"))
        .agg(operators.Relational.decSum(col("l_quantity"), 2).as("s"))
        .write.format("noop").mode("overwrite").save()
      Tables.events(spark, sfDir)
        .select(get_json_object(col("props"), "$.k"))
        .write.format("noop").mode("overwrite").save()
      Tables.orders(spark, sfDir).count()
      Tables.documents(spark, sfDir).count()
    } catch { case _: Throwable => () }

    // Pre-build the persisted ANN artifacts (q110 IVF-PQ index, q100
    // PQ codebooks) so the TIMED runs measure the serving path; the
    // one-time build costs are reported separately below. In
    // production these are amortized offline artifacts — timing them
    // inside every probe masked probe regressions behind build noise.
    // A failed pre-build logs loudly: the timed query would then build
    // in-query, silently folding build cost back into the serving
    // measurement with only built=false as a hint.
    def timedBuild(what: String)(f: => Boolean): (Boolean, Double) = {
      val t0 = System.nanoTime()
      val ran = try f catch {
        case e: Throwable =>
          System.err.println(s"BENCH: $what pre-build FAILED " +
            s"(build cost will fold into the timed query): $e")
          false
      }
      (ran, (System.nanoTime() - t0) / 1e9)
    }
    val (q110Built, q110BuildSec) = timedBuild("q110 index") {
      operators.VectorQueries.ensureQ110Index(spark, sfDir)._2
    }
    val (q100Built, q100BuildSec) = timedBuild("q100 codebooks") {
      operators.VectorQueries.ensureQ100Codebooks(spark, sfDir)._2
    }
    val (q117Built, q117BuildSec) = timedBuild("q117 base+append") {
      operators.VectorQueries.ensureQ117Index(spark, sfDir)._2
    }
    // round-18 additions to the same pre-build set: the serving-grade
    // cosine index (q170/q175 probe it), the delete-propagation index
    // (q173), and q175's level-1 super-quantizer — all build-once
    // amortized artifacts like the three above
    val (q170Built, q170BuildSec) = timedBuild("q170 index") {
      operators.VectorQueries.ensureQ170Index(spark, sfDir)._2
    }
    val (q173Built, q173BuildSec) = timedBuild("q173 index+delete") {
      operators.VectorQueries.ensureQ173Index(spark, sfDir)._2
    }
    val (q175Built, q175BuildSec) = timedBuild("q175 super-quantizer") {
      operators.VectorQueries.ensureQ175Super(spark, sfDir)._3
    }

    val names = SparkEntry.queries.toSeq.sortBy(_._1)
    // The noop sink evaluates every output column and keeps the final
    // sort, unlike count() which lets ColumnPruning/EliminateSorts drop
    // the very projections being benchmarked. A failed query returns
    // Left(message) — it must NOT be recorded as a (typically fast)
    // normal timing.
    def runOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Either[String, Double] = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Right((System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable =>
          Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
      }
    }
    // TWO full passes, min per query: this box shows transient
    // hypervisor steal that can inflate a single pass several-fold
    // (BENCH_r03 recorded 23.9 s for a query that reproduces at 1.2 s
    // quiet). The min over two independent passes is the standard
    // noise-robust latency estimate; state is rebuilt per construction,
    // so pass 2 gets no unfair caching.
    // Wall-clock budget for the SECOND pass, measured from the end of
    // pass 1 (so pass-1 time is never charged against it — the re-run
    // must still happen under exactly the inflation it exists for):
    // once spent, remaining queries keep their pass-1 time (min over
    // the passes that ran — still honest, and reported as skipped).
    val budgetSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "300").toDouble
    val pass1 = names.map { case (n, fn) => n -> runOnce(fn) }
    val pass2Start = System.nanoTime()
    val SkipMarker = "skipped: pass-2 budget spent"
    val pass2 = names.map { case (n, fn) =>
      if ((System.nanoTime() - pass2Start) / 1e9 > budgetSec)
        n -> Left(SkipMarker)
      else n -> runOnce(fn)
    }
    val pass2Skipped = pass2.count(_._2.left.exists(_ == SkipMarker))
    val merged = pass1.zip(pass2).map { case ((n, a), (_, b)) =>
      (a, b) match {
        case (Right(x), Right(y)) => n -> Right(math.min(x, y))
        case (Right(x), Left(_))  => n -> Right(x)
        case (Left(_), Right(y))  => n -> Right(y)
        case (Left(e), Left(_))   => n -> Left(e)
      }
    }
    // full JSON string escaping: quotes, backslashes, and EVERY control
    // character (Spark exception messages carry tabs/newlines; one raw
    // control char would invalidate the whole line)
    def jsonEscape(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    }
    val qs = merged.map {
      case (k, Right(v)) => s"\"" + k + "\":" + v
      // -1 marks a query that failed BOTH passes; its message is in
      // "errors" — never mistake it for a fast run
      case (k, Left(_)) => s"\"" + k + "\":-1"
    }.mkString("{", ",", "}")
    val errs = merged.collect { case (k, Left(e)) =>
      s"\"" + k + "\":\"" + jsonEscape(e) + "\""
    }.mkString("{", ",", "}")
    val total = merged.collect { case (_, Right(v)) => v }.sum
    val nFailed = merged.count(_._2.isLeft)
    val loadAfter = loadAvg()
    // pass2_skipped tells a reader which runs are min-of-two and which
    // degraded to raw pass-1 timings under the budget.
    // A pre-build that found a valid cached artifact did NOT build —
    // its time is a marker read, 30x cheaper than a real build.
    // Labeling both as `_build_sec` invited misreading a 0.3 s cache
    // check as the build cost, so the field NAME carries the
    // distinction: `_build_sec` only when a build actually ran,
    // `_cachehit_sec` otherwise (the `_built` boolean stays as the
    // machine-readable form).
    def buildField(prefix: String, built: Boolean, sec: Double): String =
      if (built) s""""${prefix}_build_sec":$sec,"${prefix}_built":true"""
      else s""""${prefix}_cachehit_sec":$sec,"${prefix}_built":false"""
    val builds = Seq(
      buildField("q110_index", q110Built, q110BuildSec),
      buildField("q100_codebook", q100Built, q100BuildSec),
      buildField("q117_index", q117Built, q117BuildSec),
      buildField("q170_index", q170Built, q170BuildSec),
      buildField("q173_index", q173Built, q173BuildSec),
      buildField("q175_super", q175Built, q175BuildSec)).mkString(",")
    // Field order matters: the harness that captures this line keeps only
    // the last ~2 KB of output, and the per-query map alone is larger than
    // that. The summary scalars (metric/value/...) therefore go LAST so the
    // headline total always survives the truncation.
    val json = s"""{"queries":$qs,"errors":$errs,$builds,"metric":"total","value":$total,"unit":"sec","failed":$nFailed,"passes":2,"pass2_skipped":$pass2Skipped,"load_before":$loadBefore,"load_after":$loadAfter,"sf":"$sfDir"}"""
    println(json)
    // The stdout capture truncates (BENCH_r07 lost the 12 heaviest
    // per-query rows to a ~2 KB tail); the committed artifact must be
    // self-contained, so the FULL line also lands in a repo-visible
    // file for round-over-round per-query regression tracking.
    //
    // LOAD GUARD: a run that STARTED on a busy box (co-tenant load —
    // BENCH_r09's driver run began at loadavg 5.65 and smeared every
    // query ~1.3x) must never silently replace the clean committed
    // artifact; min-of-2 can't save a run where both passes were
    // inflated. Such a run self-quarantines to bench_noisy.json —
    // still fully recorded, but a `git add bench_latest.json` can only
    // ever pick up a quiet-box run.
    val maxLoad = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_LOAD", "1.5")
      .toDouble
    // an EXPLICIT out path is always honored (the caller took control
    // of the artifact; quarantining would leave their configured path
    // empty) — the guard protects only the default committed filename
    val explicitOut = sys.env.get("SPARK_GRAFT_BENCH_OUT")
    val noisy = loadBefore > maxLoad && explicitOut.isEmpty
    val outFile =
      if (noisy) "bench_noisy.json"
      else explicitOut.getOrElse("bench_latest.json")
    if (noisy) System.err.println(
      f"BENCH: load_before=$loadBefore%.2f exceeds $maxLoad%.1f — " +
        s"this run is NOISE-SUSPECT; artifact quarantined to $outFile " +
        "(bench_latest.json untouched). Re-run on a quiet box for a " +
        "committable number.")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outFile), json + "\n")
    catch { case e: Throwable =>
      System.err.println(s"BENCH: could not write $outFile: $e") }
    spark.stop()
  }
}
