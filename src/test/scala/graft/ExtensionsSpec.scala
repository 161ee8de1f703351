package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class ExtensionsSpec extends AnyFunSuite {

  test("dot_product is callable from SQL when extensions are injected") {
    val base = TestSpark.spark // ensure the shared context exists first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val v = s.sql(
        "SELECT dot_product(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS d")
        .collect()(0).getDouble(0)
      assert(v == 11.0)
      // and it participates in a real query plan over a table
      val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      emb.createOrReplaceTempView("emb_ext")
      val n = s.sql(
        """SELECT count(*) FROM emb_ext
          |WHERE dot_product(embedding, embedding) > 0""".stripMargin)
        .collect()(0).getLong(0)
      assert(n > 0)
      // the text-scan expressions register too
      val r = s.sql(
        "SELECT punct_count('a-b c!'), subword_count('a-b c!')")
        .collect()(0)
      assert(r.getLong(0) == 2L) // '-' and '!'
      assert(r.getLong(1) == 5L) // a, -, b, c, !
      // fused tokenize+hash registers and matches the composed chain
      val th = s.sql(
        """SELECT token_hashes('Hello World') = array(
          |  CAST(conv(substring(md5('hello'), 1, 8), 16, 10) AS BIGINT),
          |  CAST(conv(substring(md5('world'), 1, 8), 16, 10) AS BIGINT)),
          |  size(token_hashes_wide('a b c'))""".stripMargin)
        .collect()(0)
      assert(th.getBoolean(0))
      assert(th.getInt(1) == 3)
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  test("the WindowExec log filter hides only the bounded-window warning") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.row_number
    val spark = TestSpark.spark
    GraftExtensions.quietBoundedWindowWarning()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val probe = new AbstractAppender("graft-window-probe", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    probe.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
      .getLoggerConfig(GraftExtensions.WindowExecLogger)
    assert(cfg.getName == GraftExtensions.WindowExecLogger)
    cfg.addAppender(probe, null, null)
    ctx.updateLoggers()
    try {
      // a real unpartitioned window plans the warning in WindowExec
      spark.range(5).withColumn("r", row_number().over(Window.orderBy("id")))
        .collect()
      val log = LogManager.getLogger(GraftExtensions.WindowExecLogger)
      log.warn("No Partition Defined for Window operation! Moving all " +
        "data to a single partition, this can cause serious performance " +
        "degradation.")
      log.warn("some other WindowExec warning")
      import scala.jdk.CollectionConverters._
      assert(seen.asScala.toSeq == Seq("some other WindowExec warning"))
    } finally {
      cfg.removeAppender(probe.getName)
      ctx.updateLoggers()
      probe.stop()
    }
  }
}
