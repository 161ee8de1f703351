package graft

import graft.operators.{LayoutQueries, VectorQueries}
import graft.vector.VectorIndex
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.io.File
import java.nio.file.{Files, Path}

/** Build-once artifacts must follow their dataset: a table rewritten at
  * the same path with the same row count (here: one payload column
  * rotated among the ids) has to rebuild, and the rebuilt artifact must
  * equal a fresh build of the rewritten data. */
class StaleArtifactSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val data = "/root/testdata/sf0.001"

  private def copyTree(from: Path, to: Path): Unit =
    if (Files.isDirectory(from)) {
      Files.createDirectories(to)
      from.toFile.listFiles().foreach(f =>
        copyTree(f.toPath, to.resolve(f.getName)))
    } else Files.copy(from, to)

  /** A private, writable copy of dataset dir `d`. */
  private def copyOf(d: String): String = {
    val dir = Files.createTempDirectory("graft-stale")
    new File(d).listFiles().foreach(f =>
      copyTree(f.toPath, dir.resolve(f.getName)))
    dir.toString
  }

  private def rmTree(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmTree)
    f.delete()
  }

  /** Rewrite `d/table.parquet` in place: same rows and schema, with
    * column `payload` moved one id along (ordered by `id`). */
  private def rotate(d: String, table: String, id: String,
      payload: String): Unit = {
    val path = s"$d/$table.parquet"
    val df = spark.read.parquet(path)
    val rows = df.orderBy(id).collect()
    val at = df.schema.fieldIndex(payload)
    val rotated = rows.indices.map { i =>
      val vals = rows(i).toSeq.toArray
      vals(at) = rows((i + 1) % rows.length).get(at)
      Row.fromSeq(vals.toSeq)
    }
    val tmp = s"$d/$table.rewrite"
    spark.createDataFrame(spark.sparkContext.parallelize(rotated, 1),
      df.schema).write.parquet(tmp)
    rmTree(new File(path))
    assert(new File(tmp).renameTo(new File(path)))
  }

  private def q170Probe(d: String, cents: org.apache.spark.sql.DataFrame) =
    VectorIndex.probeAdaptive(spark, VectorQueries.q170IndexPath(d), cents,
      Tables.embeddings(spark, d).filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb")),
      k = 10).orderBy("query_id", "rk").collect().toSeq

  test("q170 index: a same-count rewrite of the embeddings rebuilds, " +
    "equal to a fresh build") {
    val d = copyOf(data)
    val (cents0, built0) = VectorQueries.ensureQ170Index(spark, d)
    assert(built0)
    val before = q170Probe(d, cents0)
    rotate(d, "embeddings", "vec_id", "embedding")
    val (cents1, built1) = VectorQueries.ensureQ170Index(spark, d)
    assert(built1, "a rewritten corpus must rebuild the index")
    val after = q170Probe(d, cents1)
    // a fresh build of the rewritten data, at another location
    val fresh = copyOf(d)
    val (cents2, built2) = VectorQueries.ensureQ170Index(spark, fresh)
    assert(built2)
    val same = after == q170Probe(fresh, cents2)
    assert(same, "the rebuilt index must probe like a fresh build")
    val changed = after != before
    assert(changed, "the rotation must change what is retrieved")
  }

  test("posting fixture: a same-count rewrite of the documents " +
    "rebuilds, equal to a fresh build") {
    def content(p: String) = spark.read.parquet(p)
      .orderBy("term", "doc_id").collect().toSeq
    val d = copyOf(data)
    val before = content(LayoutQueries.ensurePostings(spark, d))
    rotate(d, "documents", "doc_id", "text")
    val after = content(LayoutQueries.ensurePostings(spark, d))
    val fresh = content(LayoutQueries.ensurePostings(spark, copyOf(d)))
    val same = after == fresh
    assert(same, "a rewritten table must rebuild the fixture")
    val changed = after != before
    assert(changed, "the rotation must change the postings")
  }

  test("bucketed pair: a same-count rewrite of orders within one " +
    "session rebuilds, equal to the rewritten table") {
    def content(t: String) =
      spark.table(t).orderBy("o_orderkey").collect().toSeq
    val d = copyOf(data)
    val (orders0, _) = LayoutQueries.ensureBucketedPair(spark, d)
    val before = content(orders0)
    rotate(d, "orders", "o_orderkey", "o_custkey")
    val (orders1, _) = LayoutQueries.ensureBucketedPair(spark, d)
    val after = content(orders1)
    val same = after ==
      Tables.orders(spark, d).orderBy("o_orderkey").collect().toSeq
    assert(same, "a rewritten table must rebuild the bucketed pair")
    val changed = after != before
    assert(changed, "the rotation must change the orders")
  }
}
