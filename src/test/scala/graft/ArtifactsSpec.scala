package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import java.io.File
import java.nio.file.{Files, Paths}

/** The build-once artifact cache: crash safety of the marker and the
  * directory, content keys, and a hit path that runs no Spark job. */
class ArtifactsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val input = "/root/testdata/sf0.001/region.parquet"

  private def freshPath(): String =
    s"${Files.createTempDirectory("graft-artifacts")}/art"

  private def write(path: String): Unit =
    spark.range(4).write.parquet(path)

  private def marker(path: String) = new File(s"$path.params")

  test("a build that throws leaves no marker; the next ensure starts " +
    "from an empty directory") {
    val path = freshPath()
    intercept[IllegalStateException] {
      Artifacts.ensure(spark, path, Seq(input), "r=1") {
        write(path)
        throw new IllegalStateException("crash after a partial write")
      }
    }
    assert(new File(path).list().exists(_.startsWith("part-")),
      "the failed attempt must have written part of its directory")
    assert(!marker(path).exists())
    var leftover: Option[Seq[String]] = None
    assert(Artifacts.ensure(spark, path, Seq(input), "r=1") {
      leftover = Some(Option(new File(path).list()).toSeq.flatten)
      write(path)
    })
    assert(leftover == Some(Nil), s"part files survived: $leftover")
    assert(marker(path).exists())
    assert(!Artifacts.ensure(spark, path, Seq(input), "r=1") {
      fail("a completed build must be reused")
    })
    assert(spark.read.parquet(path).count() == 4)
  }

  test("a truncated marker forces a rebuild") {
    val path = freshPath()
    assert(Artifacts.ensure(spark, path, Seq(input), "r=1")(write(path)))
    val m = Paths.get(s"$path.params")
    val text = Files.readString(m)
    Files.writeString(m, text.take(text.length / 2))
    assert(Artifacts.ensure(spark, path, Seq(input), "r=1")(write(path)))
    assert(Files.readString(m) == text)
  }

  test("the key covers the recipe and the input files") {
    val path = freshPath()
    val tmp = Files.createTempDirectory("graft-artifacts-in")
    val in = tmp.resolve("t.parquet").toString
    spark.range(3).write.parquet(in)
    assert(Artifacts.ensure(spark, path, Seq(in), "r=1")(write(path)))
    assert(!Artifacts.ensure(spark, path, Seq(in), "r=1")(write(path)))
    assert(Artifacts.ensure(spark, path, Seq(in), "r=2")(write(path)),
      "a recipe change must rebuild")
    // same path, same row count, rewritten files
    spark.range(3).write.mode("overwrite").parquet(in)
    assert(Artifacts.ensure(spark, path, Seq(in), "r=2")(write(path)),
      "rewritten input files must rebuild")
  }

  test("an input with no files always builds and writes no marker") {
    val path = freshPath()
    val missing = s"${Files.createTempDirectory("graft-artifacts-none")}/x"
    assert(Artifacts.ensure(spark, path, Seq(missing), "r=1")(write(path)))
    assert(!marker(path).exists())
    assert(Artifacts.ensure(spark, path, Seq(missing), "r=1")(write(path)))
    val checkpointed = spark.range(5).toDF("id").localCheckpoint()
    assert(Artifacts.ensure(spark, path, checkpointed, "r=1")(write(path)))
    assert(Artifacts.ensure(spark, path, checkpointed, "r=1")(write(path)))
    assert(!marker(path).exists())
  }

  test("the cache check on a hit starts no Spark job") {
    val d = "/root/testdata/sf0.001"
    val paths = (freshPath(), freshPath())
    val frame = spark.read.parquet(input)
    Artifacts.ensure(spark, paths._1, Seq(input), "r=1")(write(paths._1))
    Artifacts.ensure(spark, paths._2, frame, "r=1")(write(paths._2))
    operators.LayoutQueries.ensurePostings(spark, d)

    val group = s"graft-artifacts-${System.nanoTime()}"
    val counts = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val g = Option(j.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull
        if (g != null) counts.merge(g, 1, _ + _)
        if (g == s"$group-end") done.countDown()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(s"$group-hit", "cache checks")
      assert(!Artifacts.ensure(spark, paths._1, Seq(input), "r=1") {
        fail("hit expected")
      })
      assert(!Artifacts.ensure(spark, paths._2, frame, "r=1") {
        fail("hit expected")
      })
      operators.LayoutQueries.ensurePostings(spark, d)
      // the listener does see jobs of this thread's group
      sc.setJobGroup(s"$group-control", "a known job")
      spark.range(3).count()
      // listener events arrive in order: once this job start is seen,
      // every earlier one has been delivered
      sc.setJobGroup(s"$group-end", "sentinel")
      spark.range(1).count()
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(counts.getOrDefault(s"$group-control", 0) >= 1)
    assert(counts.getOrDefault(s"$group-hit", 0) == 0,
      s"cache checks ran ${counts.get(s"$group-hit")} jobs")
  }
}
