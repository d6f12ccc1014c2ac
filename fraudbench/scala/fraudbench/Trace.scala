package fraudbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. Spans are taken around the benchmark's
  * calls into each layer (named after the engine's modules) and kept in
  * memory; Spark's public listeners add the engine-side counts. Nothing
  * here is installed on an untraced run: there `span` only runs its body.
  *
  * Jobs are attributed to the span that caused them through a local
  * property set on the calling thread, which Spark copies into each
  * job's properties. */
final class Trace(val enabled: Boolean) {
  import Trace._

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)

  val progress = new ConcurrentLinkedQueue[Map[String, Long]]()
  val executions = new ConcurrentLinkedQueue[Exec]()
  private val jobLabel = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()

  /** Time `op` as a span of `layer`, labelling the Spark jobs it starts. */
  def span[A](layer: String, label: String)(op: => A): A =
    if (!enabled) op
    else {
      val id = nextId.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      val sc = SparkSession.active.sparkContext
      val prevLabel = sc.getLocalProperty(LabelKey)
      stack.set(id :: stack.get)
      sc.setLocalProperty(LabelKey, s"$layer|$label")
      val t0 = System.nanoTime
      try op
      finally {
        spans.add(Span(id, parent, layer, label, t0, System.nanoTime))
        sc.setLocalProperty(LabelKey, prevLabel)
        stack.set(stack.get.tail)
      }
    }

  def install(spark: SparkSession): Unit = if (enabled) {
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        progress.add(d + ("numInputRows" -> e.progress.numInputRows))
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executions.add(Exec(qe.tracker.phases.values.map(_.durationMs).sum.toDouble, durationNs / 1e6))
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        val label = props.flatMap(p => Option(p.getProperty(LabelKey))).getOrElse("-|-")
        val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .map(_.toLong).getOrElse(-1L)
        jobLabel.put(e.jobId, (label, exec))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          val job = stageJob.getOrDefault(e.stageId, -1)
          tasks.add(TaskRec(job, e.stageId, m.inputMetrics.recordsRead,
            m.shuffleWriteMetrics.bytesWritten, m.outputMetrics.recordsWritten,
            m.outputMetrics.bytesWritten))
        }
      }
    })
  }

  /** Planning time (QueryPlanningTracker phases) and result rows of one
    * executed query, by label. */
  val queries = new ConcurrentLinkedQueue[(String, Double, Long)]()

  def noteQuery(label: String, df: org.apache.spark.sql.DataFrame, rowsOut: Long): Unit =
    if (enabled)
      queries.add((label, df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble, rowsOut))

  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Label ("layer|label") and SQL execution id of each job. */
  def jobs: Map[Int, (String, Long)] = jobLabel.asScala.toMap

  /** Self time per layer: each span's duration minus the part its
    * direct children cover. */
  def selfMs: Map[String, Double] = {
    val all = allSpans
    val childMs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    all.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum
    }
  }

  def spansJson: String = Json(allSpans.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "label" -> s.label,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
}

object Trace {
  val LabelKey = "fraudbench.span"

  final case class Span(id: Int, parent: Int, layer: String, label: String, startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }
  final case class Exec(planMs: Double, execMs: Double)
  final case class TaskRec(job: Int, stage: Int, recordsRead: Long, shuffleBytes: Long,
                           recordsWritten: Long, bytesWritten: Long)
}
