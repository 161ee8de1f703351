package graft

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import java.nio.charset.StandardCharsets.UTF_8

/** Build-once persisted artifacts (ANN indexes, PQ codebooks, layout
  * fixtures), reused only while what they were built from is unchanged.
  *
  * An artifact lives at a location-keyed `path` (see [[dir]]). Beside it,
  * `$path.params` holds the KEY of the completed build: the recipe string
  * (algorithm or layout version plus knobs) and a fingerprint of the
  * input files, i.e. each file's name, length and modification time from
  * one Hadoop FileSystem listing. Computing the key starts no Spark job.
  *
  * [[ensure]] reuses the artifact when the marker equals the key.
  * Otherwise it drops the marker, deletes `path` (so a half-built
  * attempt leaves nothing behind), runs `build`, and writes the marker
  * through a temp file and a rename. A build that throws therefore
  * leaves no marker, and a truncated or foreign marker never matches.
  * An input with no files (a checkpointed or in-memory frame, a missing
  * path) has no fingerprint: it builds every time and writes no marker.
  *
  * Within one session a rewrite is seen by the next `spark.read` of the
  * dataset, as Spark's own file listing is per read.
  */
object Artifacts {

  /** Ensure the artifact at `path`, built by `build` from the files
    * under the `inputs` paths; true when `build` ran. */
  def ensure(spark: SparkSession, path: String, inputs: Seq[String],
      recipe: String)(build: => Unit): Boolean =
    ensureKey(spark, path, key(spark, inputs, recipe))(build)

  /** [[ensure]] for an artifact derived from a frame. The fingerprint
    * covers the files the frame scans plus its canonicalized plan, so a
    * filtered or re-projected corpus over the same files is a different
    * input. A frame with any non-file leaf has no fingerprint. */
  def ensure(spark: SparkSession, path: String, input: DataFrame,
      recipe: String)(build: => Unit): Boolean =
    ensureKey(spark, path, key(input, recipe))(build)

  /** The marker text [[ensure]] writes for these inputs and recipe. */
  private[graft] def key(spark: SparkSession, inputs: Seq[String],
      recipe: String): String = {
    val conf = spark.sessionState.newHadoopConf()
    val listed = inputs.map { in =>
      val p = new Path(in)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) Nil
      else {
        val it = fs.listFiles(p, true)
        val b = Seq.newBuilder[String]
        while (it.hasNext) {
          val f = it.next()
          b += s"${f.getPath} ${f.getLen} ${f.getModificationTime}"
        }
        b.result()
      }
    }
    keyOf(recipe, if (listed.exists(_.isEmpty)) Nil else listed.flatten)
  }

  private[graft] def key(input: DataFrame, recipe: String): String = {
    val plan = input.queryExecution.analyzed
    // the listing Spark took when the frame was read: no new IO
    val files: Seq[Seq[String]] = plan.collectLeaves().map {
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation =>
          r.location.listFiles(Nil, Nil).flatMap(_.files).map(f =>
            s"${f.getPath} ${f.getLen} ${f.getModificationTime}")
        case _ => Nil
      }
      case _ => Nil
    }
    keyOf(recipe,
      if (files.isEmpty || files.exists(_.isEmpty)) Nil
      else files.flatten :+ plan.canonicalized.treeString)
  }

  private val Unkeyed = "inputs=none"

  private def keyOf(recipe: String, parts: Seq[String]): String =
    if (parts.isEmpty) s"$recipe $Unkeyed"
    else s"$recipe inputs=${sha(parts.sorted.mkString("\n"), 16)}"

  private def ensureKey(spark: SparkSession, path: String, key: String)
      (build: => Unit): Boolean =
    if (hit(spark, path, key)) false
    else {
      clear(spark, path)
      val p = new Path(path)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
      build
      stamp(spark, path, key)
      true
    }

  // Markers go through the raw filesystem: a checksummed local FS would
  // leave `.crc` siblings that go stale when a marker is edited by hand.
  private def markerFs(spark: SparkSession, marker: Path): FileSystem =
    marker.getFileSystem(spark.sessionState.newHadoopConf()) match {
      case l: LocalFileSystem => l.getRawFileSystem
      case fs => fs
    }

  /** Whether the marker at `path` holds exactly `key`; never for a key
    * without a fingerprint. */
  private[graft] def hit(spark: SparkSession, path: String,
      key: String): Boolean = !key.endsWith(Unkeyed) && {
    val m = new Path(s"$path.params")
    val fs = markerFs(spark, m)
    fs.exists(m) && {
      val in = fs.open(m)
      try new String(in.readAllBytes(), UTF_8) == key finally in.close()
    }
  }

  /** Write `key` as the marker at `path`: temp file, then rename. A
    * key without a fingerprint writes nothing. */
  private[graft] def stamp(spark: SparkSession, path: String,
      key: String): Unit = if (!key.endsWith(Unkeyed)) {
    val m = new Path(s"$path.params")
    val tmp = new Path(s"$path.params.tmp")
    val fs = markerFs(spark, m)
    val out = fs.create(tmp, true)
    try out.write(key.getBytes(UTF_8)) finally out.close()
    fs.delete(m, false)
    require(fs.rename(tmp, m), s"could not write the marker $m")
  }

  /** Drop the marker at `path`: the artifact is no longer reusable. */
  private[graft] def clear(spark: SparkSession, path: String): Unit = {
    val m = new Path(s"$path.params")
    markerFs(spark, m).delete(m, false)
    ()
  }

  /** The location-keyed directory for artifacts of `kind` built from
    * dataset dir `d`: one per (kind, dataset path), so a regenerated
    * dataset overwrites its artifacts in place. */
  def dir(d: String, kind: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft-$kind-${shortKey(d)}"

  /** 16 hex chars of SHA-256 of `s` (a dataset path, a [[key]]): an
    * identifier-safe name part. */
  private[graft] def shortKey(s: String): String = sha(s, 8)

  private def sha(s: String, bytes: Int): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(UTF_8)).take(bytes).map("%02x".format(_)).mkString
}
