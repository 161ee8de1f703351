package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. Times are milliseconds
  * since the benchmark launched the JVM; `parent` is the enclosing span
  * (0 for the workload root). */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    start: Double, var end: Double = -1.0) {
  def ms: Double = end - start
}

/** One Spark job as the listener saw it, attributed to the span that was
  * current on the thread that submitted it. */
final class JobRec(val id: Int, val span: Long, val start: Long,
    val callSite: String, val inSqlExecution: Boolean) {
  var end: Long = -1L
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var gcMs = 0L
}

/** Span recorder. Spans stay in memory; the harness writes them out when
  * the run ends. The current span is per thread and is also published as
  * a Spark local property, so every job carries the span that caused it. */
final class Tracer(launchEpochMs: Double) {
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble - launchEpochMs
  private val ids = new AtomicLong(0L)
  // inherited, so a stream's batch thread starts under the span that
  // started the stream
  private val current = new InheritableThreadLocal[Span]
  val spans = mutable.ArrayBuffer.empty[Span]
  @volatile var sc: SparkContext = _

  def now(): Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  /** Milliseconds since launch of an epoch-millisecond timestamp. */
  def sinceLaunch(epochMs: Long): Double = epochMs - launchEpochMs

  def span[T](name: String, layer: String)(f: => T): T = {
    val parent = current.get
    val s = Span(ids.incrementAndGet(), Option(parent).map(_.id).getOrElse(0L),
      name, layer, now())
    current.set(s)
    publish(s)
    try f
    finally {
      s.end = now()
      spans.synchronized(spans += s)
      current.set(parent)
      publish(parent)
    }
  }

  /** Make `s` the current span of this thread (a stream's batch thread
    * enters spans of its own). */
  private def publish(s: Span): Unit =
    if (sc != null)
      sc.setLocalProperty(Tracer.SpanKey, Option(s).map(_.id.toString).orNull)

  def byLayer(layer: String): Seq[Span] =
    spans.synchronized(spans.filter(_.layer == layer).toSeq)

  def byName(name: String): Seq[Span] =
    spans.synchronized(spans.filter(_.name == name).toSeq)

  /** Ids of `roots` and every span nested under them. */
  def subtree(roots: Seq[Span]): Set[Long] = {
    val all = spans.synchronized(spans.toSeq)
    var found = roots.map(_.id).toSet
    var grew = true
    while (grew) {
      val more = all.filter(s => found(s.parent) && !found(s.id)).map(_.id)
      grew = more.nonEmpty
      found ++= more
    }
    found
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Spark listener that keeps one record per job, with the task metrics of
  * its stages summed in. */
final class JobListener extends SparkListener {
  private val byId = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  def jobs: Seq[JobRec] = synchronized(byId.values.toSeq)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toLong).getOrElse(0L)
    val sql = props.exists(_.getProperty("spark.sql.execution.id") != null)
    val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name)
      .getOrElse("")
    byId(e.jobId) = new JobRec(e.jobId, span, e.time, site, sql)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(byId.get)
        .foreach(_.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId).flatMap(byId.get)) {
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.gcMs += m.jvmGCTime
      }
    }
  }
}

/** Query-execution listener for the traced run: plan shape of each
  * action's final plan and every `observe()` metric, keyed by the
  * operation that was current when the harness last drained the bus. */
final class PlanListener extends QueryExecutionListener {
  @volatile var op: String = ""
  @volatile var collectPlans = false
  val exchanges = mutable.HashMap.empty[String, Int].withDefaultValue(0)
  val scans = mutable.HashMap.empty[String, Int].withDefaultValue(0)
  /** (operation, metric name, field, value) */
  val observed = mutable.ArrayBuffer.empty[(String, String, String, Double)]

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    if (collectPlans) {
      val (ex, sc) = PlanShape.count(qe.executedPlan)
      exchanges(op) += ex
      scans(op) += sc
    }
    for ((name, row) <- qe.observedMetrics; f <- row.schema.fieldNames) {
      val v = row.getAs[Any](f) match {
        case n: java.lang.Number => n.doubleValue()
        case _ => Double.NaN
      }
      observed += ((op, name, f, v))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

object PlanShape extends AdaptiveSparkPlanHelper {
  /** (Exchange nodes, scan nodes) of a final physical plan, looking
    * through adaptive query stages and subqueries. */
  def count(plan: SparkPlan): (Int, Int) = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    val ex = nodes.count {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
      case _ => false
    }
    val scans = nodes.count {
      case _: QueryStageExec | _: ReusedExchangeExec => false
      case _: LeafExecNode => true
      case _ => false
    }
    (ex, scans)
  }
}

/** Streaming progress durations, one entry per micro-batch. */
final class StreamListener extends StreamingQueryListener {
  val progress = mutable.ArrayBuffer.empty[Map[String, Long]]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      import scala.jdk.CollectionConverters._
      if (e.progress.numInputRows > 0)
        progress += e.progress.durationMs.asScala.map { case (k, v) =>
          k -> v.longValue() }.toMap
    }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
