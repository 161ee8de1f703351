package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{GraftQuery, SparkEntry, Tables}
import graft.model.Cve
import graft.operators.{LayoutQueries, VectorQueries}
import graft.sinks.ManifestTable
import graft.streaming.Streams
import graft.vector.{IvfPq, PQ, VectorIndex}

/** Runs one benchmark workload in this (fresh) JVM against the compiled
  * engine and writes `result.json` (metrics, operation counts) plus the
  * outputs the Python checkers verify into the `out` directory.
  *
  * Arguments are `key=value`: workload, input, work, out, rounds, trace,
  * launch (epoch ms at which the JVM was launched), cores.
  *
  * Every call into an engine layer runs inside a [[Tracer]] span; jobs
  * carry their span as a local property, so per-layer job counts and task
  * metrics come from the listener without touching the engine. */
object Harness {

  private var spark: SparkSession = _
  private var tracer: Tracer = _
  private val jobs = new JobListener
  private val plans = new PlanListener
  private val streams = new StreamListener
  private var trace = false
  private var input = ""
  private var out = ""

  private var attempted = 0
  private var failed = 0
  private val errors = mutable.ArrayBuffer.empty[String]
  private val opMs = mutable.ArrayBuffer.empty[Double]
  private val layers = mutable.LinkedHashMap.empty[String, Double]
  private val facts = mutable.LinkedHashMap.empty[String, Any]

  private def drain(): Unit = PerfbenchBridge.drainListeners(spark.sparkContext)

  /** One operation: counted, timed and attributed. A failure is counted
    * and recorded, never timed. In the traced run the listener bus is
    * drained at the end so plan and observe() events land on `name`. */
  private def op[T](name: String, layer: String, timed: Boolean = true)(
      f: => T): Option[T] = {
    attempted += 1
    plans.op = name
    val t0 = tracer.now()
    try {
      val r = tracer.span(name, layer)(f)
      if (timed) opMs += tracer.now() - t0
      if (trace) drain()
      Some(r)
    } catch {
      case e: Throwable =>
        failed += 1
        errors += s"$name: ${Option(e.getMessage).getOrElse(e.toString).take(300)}"
        if (trace) drain()
        None
    }
  }

  /** construct -> (traced: plan) -> execute, each in its own span. */
  private def runFrame(construct: => DataFrame, constructLayer: String)(
      exec: DataFrame => Unit): Unit = {
    val df = tracer.span("construct", constructLayer)(construct)
    if (trace) {
      drain()
      tracer.span("plan", "plans")(df.queryExecution.executedPlan)
      drain()
      plans.collectPlans = true
    }
    try tracer.span("execute", "exec")(exec(df))
    finally if (trace) { drain(); plans.collectPlans = false }
  }

  private def registry: Map[String, GraftQuery] =
    SparkEntry.registry.map(q => q.name -> q).toMap

  // ---------------------------------------------------------------- curate

  val CurateQueries: Seq[(String, String)] = Seq(
    "q40_exact_dedup" -> "dedup",
    "q42_lsh_candidate_pairs" -> "dedup", "q46_lsh_verified_dedup" -> "dedup",
    "q48_near_dup_components" -> "dedup", "q96_boilerplate_chunks" -> "dedup",
    "q31_quality_filter" -> "text", "q112_curate_full" -> "curation")

  private def curateRun(): Unit = {
    val reg = registry
    for ((name, family) <- CurateQueries)
      op(name, family) {
        runFrame(reg(name).run(spark, input), "operators")(
          _.write.parquet(s"$out/$name"))
      }
    facts("oracle") = CurateQueries.map { case (n, _) =>
      n -> reg(n).oracle.getOrElse("") }.toMap
  }

  // -------------------------------------------------------------- retrieve

  val ProbePaths = Seq("exact", "filtered", "pq", "ivfpq", "ivfpq_adaptive",
    "ivf_adaptive", "two_level")
  val Bm25Query = "q124_bm25_ranked_search"

  private def corpus(): DataFrame =
    Tables.embeddings(spark, input).select(col("vec_id"), col("embedding"))

  /** The probe set: every 50th vector (the registered ANN queries take
    * every 100th of a larger corpus). */
  private def probeQueries(c: DataFrame): DataFrame =
    c.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))

  /** One serving call per path, with the knobs of the registered query
    * that serves it (q20, q144, q100, q110, q171, q170, q175). */
  private def probeFrame(path: String): DataFrame = {
    val d = input
    path match {
      case "exact" => registry("q20_cosine_knn").run(spark, d)
      case "filtered" => registry("q144_filtered_knn").run(spark, d)
      case "pq" =>
        val c = corpus()
        val (cb, _) = VectorQueries.ensureQ100Codebooks(spark, d)
        PQ.searchRerank(PQ.encode(c, cb, 8), cb, probeQueries(c), c, 8,
          shortlist = 100, topK = 10)
      case "ivfpq" =>
        val (cents, _) = VectorQueries.ensureQ110Index(spark, d)
        IvfPq.probe(spark, VectorQueries.q110IndexPath(d), cents,
          probeQueries(corpus()), m = 8, topK = 10, nProbe = 6, shortlist = 100)
      case "ivfpq_adaptive" =>
        val (cents, _) = VectorQueries.ensureQ110Index(spark, d)
        IvfPq.probeAdaptive(spark, VectorQueries.q110IndexPath(d), cents,
          probeQueries(corpus()), m = 8, topK = 10, shortlist = 150,
          slack = 0.5, minProbe = 2)
      case "ivf_adaptive" =>
        val (cents, _) = VectorQueries.ensureQ170Index(spark, d)
        VectorIndex.probeAdaptive(spark, VectorQueries.q170IndexPath(d), cents,
          probeQueries(corpus()), k = 10, slack = 0.5, minProbe = 2)
      case "two_level" =>
        val (cents, _) = VectorQueries.ensureQ170Index(spark, d)
        val (sc, toSuper, _) = VectorQueries.ensureQ175Super(spark, d)
        VectorIndex.probeAdaptive2(spark, VectorQueries.q170IndexPath(d), cents,
          sc, toSuper, probeQueries(corpus()), k = 10, slack = 0.5,
          minProbe = 2, l1Slack = 1.0, l1MinProbe = 1)
    }
  }

  private def retrieveSetup(): Unit = {
    val d = input
    def build(name: String)(f: => Any): Unit =
      tracer.span(name, "vector.build")(f)
    build("q110")(VectorQueries.ensureQ110Index(spark, d))
    build("q100")(VectorQueries.ensureQ100Codebooks(spark, d))
    build("q170")(VectorQueries.ensureQ170Index(spark, d))
    build("q175")(VectorQueries.ensureQ175Super(spark, d))
    tracer.span("postings", "text.build")(LayoutQueries.ensureScoredPostings(spark, d))
  }

  private def retrieveRun(rounds: Int): Unit = {
    val reg = registry
    val results = mutable.HashMap.empty[String, Seq[String]]
    def keep(name: String, rows: Array[Row]): Unit = {
      val js = rows.map(_.json).toSeq
      results.get(name) match {
        case None => results(name) = js
        case Some(prev) if prev == js => ()
        case Some(_) => throw new IllegalStateException(
          s"$name returned different rows in a later round")
      }
    }
    for (_ <- 0 until rounds) {
      for (p <- ProbePaths)
        op(s"probe.$p", "vector.probe") {
          runFrame(probeFrame(p), "vector")(df => keep(p, df.collect()))
        }
      op("search.bm25", "text.search") {
        runFrame(reg(Bm25Query).run(spark, input), "operators")(df =>
          keep("bm25", df.collect()))
      }
    }
    for ((name, rows) <- results)
      Files.write(Paths.get(s"$out/$name.jsonl"), rows.mkString("\n").getBytes)
    facts("oracle") = Map("bm25" -> reg(Bm25Query).oracle.get)
  }

  // ---------------------------------------------------------------- ingest

  private def tablePath = s"$out/table"
  private var baseVersion = 0L

  private def dirBytes(p: String): (Long, Int) = {
    val root = new File(p)
    if (!root.exists()) (0L, 0)
    else {
      val files = Files.walk(root.toPath).filter(Files.isRegularFile(_))
        .toArray.map(_.asInstanceOf[java.nio.file.Path])
      (files.map(Files.size).sum, files.length)
    }
  }

  private def createTable(baseJson: String, table: String): Long =
    ManifestTable.append(spark,
      Cve.extractMeta(spark.read.schema(Cve.cveSchema).json(baseJson)),
      table, statsCols = Seq("cve_id"))

  /** The ingest stream: every landing file is one micro-batch that appends
    * its raw and DLQ rows the way `Streams.dualSinkWriter` does and merges
    * the batch's latest row per cve_id into the manifest table. Returns the
    * query (not started) and the buffer that collects merge's rewritten
    * dir counts. */
  private def stream(landing: String, table: String, sinks: String,
      checkpoint: String): (org.apache.spark.sql.streaming.DataStreamWriter[Row],
      mutable.ArrayBuffer[Int]) = {
    val merged = mutable.ArrayBuffer.empty[Int]
    val raw = spark.readStream.schema("value STRING")
      .option("maxFilesPerTrigger", 1).text(landing)
    val byKey = Window.partitionBy(col("cve_id"))
      .orderBy(col("date_updated").desc)
    val w = Streams.parseCve(raw).writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        tracer.span(s"batch.$id", "streaming.batch") {
          batch.persist()
          try {
            val (ok, dlq) = Streams.splitCorrupt(batch)
            tracer.span("append", "sinks.append") {
              Cve.rawPersist(ok).write.mode("append").parquet(s"$sinks/raw")
              dlq.write.mode("append").parquet(s"$sinks/dlq")
            }
            val latest = Cve.extractMeta(ok)
              .withColumn("_rn", row_number().over(byKey))
              .filter(col("_rn") === 1).drop("_rn")
            val (_, dirs) = tracer.span("merge", "sinks.merge") {
              ManifestTable.merge(spark, latest, table, "cve_id",
                statsCols = Seq("cve_id"))
            }
            merged += dirs
          } finally batch.unpersist()
          ()
        }
      }
    (w, merged)
  }

  private def ingestSetup(): Unit = {
    baseVersion = tracer.span("base_table", "sinks.build") {
      createTable(s"$input/base.json", tablePath)
    }
    facts("base_version") = baseVersion
  }

  private def ingestRun(work: String): Unit = {
    val (bytes0, _) = dirBytes(tablePath)
    val landing = s"$input/landing"
    val nFiles = new File(landing).listFiles().count(_.getName.endsWith(".json"))
    val (writer, merged) = stream(landing, tablePath, out, s"$work/checkpoint")
    val drained = op("drain", "streaming", timed = false) {
      writer.start().awaitTermination()
    }
    drain()
    // a micro-batch is the operation; the drain wrapper is not one
    attempted += nFiles - 1
    val done = streams.synchronized(streams.progress.size)
    if (drained.isDefined) failed += nFiles - done
    else failed += nFiles - done - 1
    opMs ++= streams.synchronized(streams.progress.toSeq)
      .map(_.getOrElse("triggerExecution", 0L).toDouble)
    op("read", "sources.read", timed = false) {
      runFrame(ManifestTable.read(spark, tablePath), "sources")(
        _.write.parquet(s"$out/final"))
    }
    op("changes", "sources.changes", timed = false) {
      val until = ManifestTable.latestVersion(spark, tablePath).get
      runFrame(ManifestTable.readChanges(spark, tablePath, baseVersion, until),
        "sources")(_.write.parquet(s"$out/changes"))
    }
    val (bytes1, files) = dirBytes(tablePath)
    val (inBytes, _) = dirBytes(landing)
    val written = (bytes1 - bytes0) / 1e6
    layers("sinks.dirs_rewritten") = merged.sum.toDouble
    layers("sinks.bytes_written_mb") = written
    layers("sinks.write_amp") = if (inBytes > 0) written * 1e6 / inBytes else 0.0
    layers("sinks.files") = files.toDouble
  }

  // ------------------------------------------------------------ metrics

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Per-layer metrics; `window` holds the timed part's jobs. */
  private def layerMetrics(window: Seq[JobRec]): Unit = {
    val allJobs = jobs.jobs
    def jobsUnder(spans: Seq[Span]): Seq[JobRec] = {
      val ids = tracer.subtree(spans)
      allJobs.filter(j => ids(j.span))
    }
    def dur(j: JobRec): Double = (j.end - j.start).toDouble
    def sumS(spans: Seq[Span]): Double = spans.map(_.ms).sum / 1000.0
    val construct = tracer.byLayer("operators")
    layers("operators.construct_s") = sumS(construct)
    layers("operators.construct_jobs") = jobsUnder(construct).size
    // schema inference: the footer-reading job spark.read.parquet starts
    // outside any SQL execution
    val infer = window.filter(j => !j.inSqlExecution && j.callSite.startsWith("parquet at"))
    layers("tables.infer_jobs") = infer.size
    layers("tables.infer_s") = infer.map(dur).sum / 1000.0
    layers("plans.plan_s") = sumS(tracer.byLayer("plans"))
    layers("plans.exchanges") = plans.synchronized(plans.exchanges.values.sum)
    layers("plans.scans") = plans.synchronized(plans.scans.values.sum)
    layers("exec.run_s") = sumS(tracer.byLayer("exec"))
    layers("exec.jobs") = window.size
    layers("exec.stages") = window.map(_.stages).sum
    layers("exec.tasks") = window.map(_.tasks).sum
    layers("exec.task_cpu_s") = window.map(_.cpuNs).sum / 1e9
    layers("exec.shuffle_write_mb") = window.map(_.shuffleWrite).sum / 1e6
    layers("exec.spill_mb") = window.map(_.spill).sum / 1e6
    layers("exec.gc_s") = window.map(_.gcMs).sum / 1000.0

    val builds = tracer.byLayer("vector.build")
    for (a <- Seq("q110", "q100", "q170", "q175"))
      layers(s"vector.build_s.$a") = sumS(builds.filter(_.name == a))
    layers("vector.build_jobs") = jobsUnder(builds).size
    for (p <- ProbePaths) {
      val calls = tracer.byName(s"probe.$p")
      layers(s"vector.probe_ms.$p") = median(calls.map(_.ms))
      layers(s"vector.probe_jobs.$p") =
        if (calls.isEmpty) 0.0 else jobsUnder(calls).size.toDouble / calls.size
    }
    layers("text.search_ms") = median(tracer.byLayer("text.search").map(_.ms))
    layers("text.query_s") = sumS(tracer.byLayer("text"))
    layers("dedup.query_s") = sumS(tracer.byLayer("dedup"))
    val obs = plans.synchronized(plans.observed.toSeq)
    layers("dedup.cc_rounds") = obs.filter(o => o._1 == "q48_near_dup_components" &&
      o._2.startsWith("cc_converge_")).map(_._2).distinct.size
    layers("dedup.oversized_buckets") = obs.filter(o => o._2 == "lsh_buckets" &&
      o._3 == "oversized_buckets").map(_._4).sum
    layers("curation.curate_full_s") = sumS(tracer.byLayer("curation"))
    layers("curation.rows_kept") = obs.filter(o => o._2 == "graft.curate_full" &&
      o._3 == "rows_kept").map(_._4).lastOption.getOrElse(0.0)

    val prog = streams.synchronized(streams.progress.toSeq)
    def progMs(k: String): Double = median(prog.map(_.getOrElse(k, 0L).toDouble))
    layers("streaming.batches") = prog.size
    layers("streaming.batch_ms") = progMs("triggerExecution")
    layers("streaming.add_batch_ms") = progMs("addBatch")
    layers("streaming.plan_ms") = progMs("queryPlanning")
    layers("streaming.wal_ms") = progMs("walCommit")
    layers("sinks.merge_ms") = median(tracer.byLayer("sinks.merge").map(_.ms))
    layers("sinks.append_ms") = median(tracer.byLayer("sinks.append").map(_.ms))
    for (k <- Seq("sinks.dirs_rewritten", "sinks.bytes_written_mb",
        "sinks.write_amp", "sinks.files"))
      layers.getOrElseUpdate(k, 0.0)
    layers("sources.read_ms") = sumS(tracer.byLayer("sources.read")) * 1000
    layers("sources.changes_ms") = sumS(tracer.byLayer("sources.changes")) * 1000
  }

  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  private def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  // --------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = kv("workload")
    input = kv("input")
    out = kv("out")
    val work = kv("work")
    val rounds = kv("rounds").toInt
    val cores = kv("cores").toInt
    trace = kv("trace") == "1"
    tracer = new Tracer(kv("launch").toDouble)

    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tracer.sc = spark.sparkContext
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(streams)
    if (trace) spark.listenerManager.register(plans)

    def setup(w: String): Unit = w match {
      case "curate" => ()
      case "retrieve" => retrieveSetup()
      case "ingest" => ingestSetup()
    }
    def body(w: String): Unit = w match {
      case "curate" => curateRun()
      case "retrieve" => retrieveRun(rounds)
      case "ingest" => ingestRun(work)
    }

    if (workload == "train") {
      // class-loading warm-up for the build's shared class archive: the
      // ingest path once on tiny inputs loads the session, SQL, parquet,
      // JSON and streaming classes every workload uses; nothing is measured
      try { setup("ingest"); body("ingest") }
      finally spark.stop()
      return
    }

    tracer.span(workload, "workload") {
      tracer.span("setup", "setup")(setup(workload))
      drain()
      val ready = tracer.now()
      val before = jobs.jobs.map(_.id).toSet
      val cpu0 = processCpuS()
      val t0 = tracer.now()
      tracer.span("run", "run")(body(workload))
      val t1 = tracer.now()
      val cpu1 = processCpuS()
      drain()
      val window = jobs.jobs.filterNot(j => before(j.id))
      facts("setup_s") = ready / 1000.0
      facts("run_s") = (t1 - t0) / 1000.0
      facts("cpu_s") = cpu1 - cpu0
      facts("spark_jobs") = window.size
      facts("shuffle_mb") = window.map(_.shuffleWrite).sum / 1e6
      layerMetrics(window)
    }
    facts("peak_rss_mb") = vmHwmMb()
    facts("op_ms") = opMs.toSeq
    facts("attempted") = attempted
    facts("failed") = failed
    facts("errors") = errors.toSeq
    facts("layers") = layers.toMap
    if (trace) writeSpans(s"$out/spans.json")
    Files.write(Paths.get(s"$out/result.json"), Json(facts.toMap).getBytes("UTF-8"))
    // nothing is left to flush: skip the shutdown hooks' orderly stop (the
    // caller removes the run's directories)
    Runtime.getRuntime.halt(0)
  }

  private def writeSpans(path: String): Unit = {
    val ss = tracer.spans.synchronized(tracer.spans.toSeq).map { s =>
      Map("id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> s.name,
        "layer" -> s.layer, "start" -> s.start, "end" -> s.end)
    }
    val js = jobs.jobs.filter(_.end >= 0).map { j =>
      Map("id" -> s"job${j.id}", "parent" -> j.span.toString,
        "name" -> j.callSite, "layer" -> "spark.job",
        "start" -> tracer.sinceLaunch(j.start), "end" -> tracer.sinceLaunch(j.end))
    }
    Files.write(Paths.get(path), Json(ss ++ js).getBytes("UTF-8"))
  }
}

/** Minimal JSON encoder for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
