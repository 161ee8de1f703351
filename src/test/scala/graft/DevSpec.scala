package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The `graft.Dev` subcommands, called as functions on the shared
  * session (`Dev.main` would stop it). */
class DevSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = "/root/testdata/sf0.001"

  test("plans writes one formatted plan per query") {
    val out = Files.createTempDirectory("graft-dev-plans").toString
    val written = Dev.plans(spark, d, out, "before",
      Seq("q01_pricing_summary", "q40_exact_dedup"))
    assert(written.map(_.getFileName.toString) ==
      Seq("q01_pricing_summary_before.txt", "q40_exact_dedup_before.txt"))
    written.foreach(p =>
      assert(Files.readString(p).contains("== Physical Plan ==")))
  }

  test("time reports one wall time per named query") {
    val t = Dev.time(spark, d, Seq("q01_pricing_summary", "q40_exact_dedup"))
    assert(t.map(_._1) == Seq("q01_pricing_summary", "q40_exact_dedup"))
    assert(t.forall(_._2 > 0.0))
  }

  test("replicate shifts keys per copy and copies the small dims once") {
    val out = Files.createTempDirectory("graft-dev-rep").toString
    Dev.replicate(spark, d, out, 2)
    val src = Tables.documents(spark, d)
    val rep = Tables.documents(spark, out)
    assert(rep.count() == 2 * src.count())
    assert(rep.select("doc_id").distinct().count() == rep.count())
    // the second copy's texts are perturbed: none equals a source text
    assert(rep.filter(col("doc_id") >= 1000000L).select("text")
      .intersect(src.select("text")).count() == 0)
    assert(Tables.table(spark, out, "region").count() ==
      Tables.table(spark, d, "region").count())
    assert(Tables.table(spark, out, "lineitem")
      .filter(col("l_orderkey") >= 10000000L).count() ==
      Tables.table(spark, d, "lineitem").count())
  }
}
