package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}

/** Dev tools behind one entry point. Each subcommand is a plain
  * function of a session; `main` only parses arguments, builds the
  * session ([[Session.local]] with `SPARK_GRAFT_CPUS` cores) and stops
  * it:
  *
  * {{{
  * sbt "runMain graft.Dev plans <dataDir> <outDir> <suffix> <query...>"
  * sbt "runMain graft.Dev time <dataDir> [query...]"
  * sbt "runMain graft.Dev replicate <srcDir> <outDir> <copies>"
  * sbt "runMain graft.Dev pins <sf0.01 dataDir>"
  * }}}
  */
object Dev {
  private val Usage =
    "usage: Dev plans <dataDir> <outDir> <suffix> <query...> | " +
      "time <dataDir> [query...] | replicate <srcDir> <outDir> <copies> | " +
      "pins <dataDir>"

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, Usage)
    val spark = Session.local(Session.envCpus)
    try args.toList match {
      case "plans" :: dataDir :: outDir :: suffix :: names if names.nonEmpty =>
        plans(spark, dataDir, outDir, suffix, names)
          .foreach(p => println(s"WROTE $p"))
      case "time" :: dataDir :: names =>
        time(spark, dataDir, names)
          .foreach { case (n, sec) => println(f"TIME $n $sec%.2f s") }
      case "replicate" :: src :: out :: copies :: Nil =>
        replicate(spark, src, out, copies.toInt)
        println(s"BUILT $out")
      case "pins" :: dataDir :: Nil =>
        pins(spark, dataDir)
      case _ => throw new IllegalArgumentException(Usage)
    } finally spark.stop()
  }

  /** Write each named query's `explain("formatted")` plan to
    * `<outDir>/<name>_<suffix>.txt` (e.g. suffix `before`/`after` around
    * an optimization); returns the written paths. */
  def plans(spark: SparkSession, dataDir: String, outDir: String,
      suffix: String, names: Seq[String]): Seq[Path] = {
    val dir = Files.createDirectories(Paths.get(outDir))
    names.map { n =>
      val df = SparkEntry.queries(n)(spark, dataDir)
      Files.writeString(dir.resolve(s"${n}_$suffix.txt"),
        df.queryExecution.explainString(FormattedMode))
    }
  }

  /** Wall seconds per named query (every registered query when `names`
    * is empty): construction plus a noop-sink write, which evaluates
    * every output column and keeps the final sort. A warm-up pass over
    * two tables first moves JVM, parquet-reader and codegen start-up
    * cost out of the first timed query. */
  def time(spark: SparkSession, dataDir: String,
      names: Seq[String]): Seq[(String, Double)] = {
    Tables.lineitem(spark, dataDir).count()
    Tables.documents(spark, dataDir).count()
    val todo = if (names.nonEmpty) names else SparkEntry.registry.map(_.name)
    todo.map { n =>
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, dataDir)
        .write.format("noop").mode("overwrite").save()
      n -> (System.nanoTime() - t0) / 1e9
    }
  }

  /** Key strides per replicated table: copy `i` shifts each key column
    * by `i * stride`, so keys stay unique and joins keep their fan-out. */
  private val ReplicaKeys: Seq[(String, Map[String, Long])] = Seq(
    "lineitem" -> Map("l_orderkey" -> 10000000L),
    "orders" -> Map("o_orderkey" -> 10000000L, "o_custkey" -> 1000000L),
    "customer" -> Map("c_custkey" -> 1000000L),
    "supplier" -> Map("s_suppkey" -> 1000000L),
    "part" -> Map("p_partkey" -> 1000000L),
    "documents" -> Map("doc_id" -> 1000000L),
    "embeddings" -> Map("vec_id" -> 1000000L),
    "events" -> Map("event_id" -> 100000000L, "user_id" -> 1000000L))

  /** Build a `copies`-times replica of the dataset at `srcDir` into
    * `outDir` (the 10x scale probe's input): key columns shifted per
    * copy, document text perturbed per copy so copies are not exact
    * duplicates of each other, `region`/`nation` copied once. */
  def replicate(spark: SparkSession, srcDir: String, outDir: String,
      copies: Int): Unit = {
    require(copies >= 1, s"replicate: copies must be >= 1, got $copies")
    ReplicaKeys.foreach { case (name, keyCols) =>
      val base = Tables.table(spark, srcDir, name)
      (0 until copies).map { i =>
        val shifted = keyCols.foldLeft(base) { case (df, (c, stride)) =>
          df.withColumn(c, col(c) + lit(i * stride))
        }
        if (name == "documents" && i > 0)
          shifted.withColumn("text",
            concat(col("text"), lit(" uniq"), col("doc_id")))
        else shifted
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }
    Seq("region", "nation").foreach { n =>
      Tables.table(spark, srcDir, n).write.mode("overwrite")
        .parquet(s"$outDir/$n.parquet")
    }
    // the rewrite may replace parquet at paths this session already
    // probed — drop spread decisions made against the old files
    Tables.invalidateSpreadCache()
  }

  /** Print the pinned ANN retrieval lists embedded in the q100/q110
    * (and q117/q170/q171/q173/q175) oracle SQL
    * (`VectorQueries.PINS_*`) for the sf0.01 dataset at `dataDir`. The
    * indexes are deterministic (spec-pinned bit-identical rebuilds), so
    * the lists change ONLY when the index/probe algorithms or knobs
    * change — paste the printed lists over the constants when they do.
    * Also prints q170's serving cost next to its fixed-nProbe twin. */
  def pins(spark: SparkSession, dataDir: String): Unit = {
    import graft.operators.VectorQueries
    import graft.vector.{IvfPq, PQ, VectorIndex}
    val d = dataDir
    val corpus = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))
    val queries = corpus.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))

    def pinList(df: DataFrame): String =
      df.select(col("query_id"), col("vec_id"))
        .orderBy("query_id", "vec_id").collect()
        .map(r => s"(${r.getLong(0)},${r.getLong(1)})").mkString(",")

    // Force FRESH builds: pins must be printed from THIS code's
    // artifacts, never a cached build — otherwise regenerated pins
    // after an algorithm edit could keep correctness green without the
    // new code ever running (the marker's AlgoVersion already guards
    // the common case; deleting makes pin generation unconditional).
    def rmTree(f: java.io.File): Unit = if (f.exists()) {
      if (f.isDirectory) f.listFiles.foreach(rmTree)
      f.delete()
    }
    Seq(VectorQueries.q110IndexPath(d), VectorQueries.q100CodebooksPath(d),
        VectorQueries.q117IndexPath(d), VectorQueries.q170IndexPath(d),
        VectorQueries.q173IndexPath(d))
      .flatMap(p => Seq(p, s"$p.params", s"$p.codebooks", s"$p.centroids",
        s"$p.tombstones"))
      .foreach(p => rmTree(new java.io.File(p)))
    // the pinned lists are only valid for this algorithm version — the
    // same constant every artifact cache marker carries
    println("AnnAlgoVersion = " + graft.vector.AnnVersion.AlgoVersion)

    val m = 8
    val (cb, trained) = VectorQueries.ensureQ100Codebooks(spark, d)
    assert(trained, "q100 codebooks must be freshly trained for pins")
    val codes = PQ.encode(corpus, cb, m)
    println("PINS_Q100 = " + pinList(PQ.searchRerank(
      codes, cb, queries, corpus, m, shortlist = 100, topK = 10)))

    val (cents, built) = VectorQueries.ensureQ110Index(spark, d)
    assert(built, "q110 index must be freshly built for pins")
    println("PINS_Q110 = " + pinList(IvfPq.probe(
      spark, VectorQueries.q110IndexPath(d), cents,
      queries, m = 8, topK = 10, nProbe = 6, shortlist = 100)))

    // q117: base-built + delta-appended index (fresh — the artifact
    // dirs were deleted above, so build AND append both run here)
    val (cents117, ran117) = VectorQueries.ensureQ117Index(spark, d)
    assert(ran117, "q117 index must be freshly built+appended for pins")
    println("PINS_Q117 = " + pinList(IvfPq.probe(
      spark, VectorQueries.q117IndexPath(d), cents117,
      queries, m = 8, topK = 10, nProbe = 6, shortlist = 100)))

    // q171: adaptive multi-probe over q110's persisted IVF-PQ index
    // (fresh from the build above)
    println("PINS_Q171 = " + pinList(IvfPq.probeAdaptive(
      spark, VectorQueries.q110IndexPath(d), cents,
      queries, m = 8, topK = 10, shortlist = 150,
      slack = VectorQueries.Q170_SLACK,
      minProbe = VectorQueries.Q170_MIN_PROBE)))

    // q173: the delete-propagation index — full-corpus build, then
    // every vec_id % 10 == 3 tombstoned; pins are the post-delete
    // adaptive retrieval (and must contain no deleted id)
    val (cents173, ran173) = VectorQueries.ensureQ173Index(spark, d)
    assert(ran173, "q173 index must be freshly built+deleted for pins")
    val p173 = IvfPq.probeAdaptive(
      spark, VectorQueries.q173IndexPath(d), cents173,
      queries, m = 8, topK = 10, shortlist = 150,
      slack = VectorQueries.Q170_SLACK,
      minProbe = VectorQueries.Q170_MIN_PROBE)
    assert(p173.filter(col("vec_id") % 10 === 3).count() == 0,
      "deleted ids must never appear in q173 pins")
    println("PINS_Q173 = " + pinList(p173))

    // q170: the serving-grade config (k-means++ centroids + adaptive
    // multi-probe), with its MEASURED COST printed beside the pins —
    // the (slack, minProbe) operating point's recall is pinned in
    // VectorIndexSpec; this records what the recall is bought at.
    val (cents170, built170) = VectorQueries.ensureQ170Index(spark, d)
    assert(built170, "q170 index must be freshly built for pins")
    def servingProbe() = VectorIndex.probeAdaptive(
      spark, VectorQueries.q170IndexPath(d), cents170,
      queries, k = 10,
      slack = VectorQueries.Q170_SLACK,
      minProbe = VectorQueries.Q170_MIN_PROBE)
    println("PINS_Q170 = " + pinList(servingProbe()))

    // q175: the PRUNED two-level probe over q170's fresh index (its
    // level-1 quantizer derives deterministically from the persisted
    // centroids)
    val (sc175, map175) = VectorIndex.superCentroids(cents170, 3)
    println("PINS_Q175 = " + pinList(
      VectorIndex.probeAdaptive2(spark,
        VectorQueries.q170IndexPath(d), cents170,
        sc175, map175, queries, k = 10,
        slack = VectorQueries.Q170_SLACK,
        minProbe = VectorQueries.Q170_MIN_PROBE,
        l1Slack = 1.0, l1MinProbe = 1)))
    val nCent = cents170.count()
    val nQ = queries.count()
    val t0 = System.nanoTime()
    servingProbe().collect()
    val servingSec = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    VectorIndex.probe(spark,
      VectorQueries.q170IndexPath(d), cents170,
      queries, k = 10, nProbe = 2).collect()
    val fixedSec = (System.nanoTime() - t1) / 1e9
    println(f"Q170 serving cost: adaptive(slack=" +
      f"${VectorQueries.Q170_SLACK}, minProbe=" +
      f"${VectorQueries.Q170_MIN_PROBE}) " +
      f"$servingSec%.2f s vs fixed nProbe=2 $fixedSec%.2f s over " +
      f"$nQ queries x $nCent buckets (recall pin: VectorIndexSpec)")
  }
}
