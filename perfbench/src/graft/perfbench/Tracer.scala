package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded from the benchmark's own code around each call into a
  * layer, plus Spark's public counters (SparkListener,
  * QueryExecutionListener, CodegenMetrics) captured raw for the runner to
  * attribute. With tracing off every method is a pass-through: no
  * listener is registered and no local property is set, so untraced runs
  * measure the program alone.
  *
  * Times are epoch milliseconds (fractional) so span bounds line up with
  * the task launch/finish times and planning-phase times Spark reports.
  */
final class Tracer(val on: Boolean) {
  import Tracer._

  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  private def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = List(0)
  private var sc: SparkContext = _
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val tasks = new ConcurrentLinkedQueue[Array[Double]]()
  private val queries = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val samples = ArrayBuffer.empty[Map[String, Any]]

  /** Root span: covers the whole run. */
  private val root = Span(0, "root", -1, -1, nowMs)
  spans += root

  /** Run `body` inside a span named `name` for operation `op` (a request
    * or batch number; -1 when the span is not one operation). */
  def span[T](name: String, op: Int = -1)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, name, stack.head, op, nowMs)
      s.codegen0 = codegen
      spans += s
      stack = s.id :: stack
      setProperty(s.id)
      try body
      finally {
        s.end = nowMs
        s.codegen1 = codegen
        stack = stack.tail
        setProperty(stack.head)
      }
    }

  /** Register listeners on a new session; earlier sessions are stopped. */
  def attach(spark: SparkSession): Unit = if (on) {
    sc = spark.sparkContext
    sc.addSparkListener(new Listener)
    spark.listenerManager.register(new QueryListener)
    setProperty(stack.head)
  }

  /** Wait until every listener event posted so far has been handled. */
  def settle(): Unit =
    if (on && sc != null && !sc.isStopped)
      org.apache.spark.perfbench.ListenerBus.settle(sc)

  private var loopStart = 0.0

  /** Mark the end of set-up: spans from here on belong to the measured
    * loop of operations. */
  def phaseLoop(): Unit = loopStart = nowMs

  /** A free-form traced observation (for example state files per batch). */
  def sample(fields: Map[String, Any]): Unit = if (on) samples += fields

  def dump(): Map[String, Any] = {
    root.end = nowMs
    Map(
      "loop_start" -> loopStart,
      "spans" -> spans.map(_.toMap).toSeq,
      "jobs" -> jobs.asScala.toSeq,
      "stages" -> stages.asScala.toSeq,
      "tasks" -> tasks.asScala.toSeq.map(_.toSeq),
      "queries" -> queries.asScala.toSeq,
      "samples" -> samples.toSeq)
  }

  private def setProperty(id: Int): Unit =
    if (sc != null && !sc.isStopped) sc.setLocalProperty(SpanKey, id.toString)

  private final class Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanKey))).map(_.toInt).getOrElse(0)
      jobs.add(Map("job" -> e.jobId, "span" -> span,
        "stages" -> e.stageIds))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      stages.add(Map("stage" -> e.stageInfo.stageId,
        "shuffle_write_bytes" ->
          (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
        "spill_bytes" ->
          (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      tasks.add(Array(e.stageId.toDouble, e.taskInfo.launchTime.toDouble,
        e.taskInfo.finishTime.toDouble,
        if (m == null) 0.0 else m.executorRunTime.toDouble,
        if (m == null) 0.0 else m.executorCpuTime / 1e6,
        if (m == null) 0.0 else m.jvmGCTime.toDouble))
    }
  }

  private final class QueryListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = record(funcName, qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = record(funcName, qe, ok = false)

    private def record(funcName: String, qe: QueryExecution,
        ok: Boolean): Unit = {
      val phases = qe.tracker.phases.map { case (k, p) =>
        k -> Seq(p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      }
      val (rows, files) = scans(qe.executedPlan)
      queries.add(Map("func" -> funcName, "ok" -> ok, "phases" -> phases,
        "scan_rows" -> rows, "scan_files" -> files))
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  final case class Span(id: Int, name: String, parent: Int, op: Int,
      start: Double) {
    var end: Double = start
    var codegen0: (Long, Double) = (0L, 0.0)
    var codegen1: (Long, Double) = (0L, 0.0)
    def toMap: Map[String, Any] = Map("id" -> id, "name" -> name,
      "parent" -> parent, "op" -> op, "start" -> start, "end" -> end,
      "codegen_n" -> (codegen1._1 - codegen0._1),
      "codegen_ms" -> math.max(0.0, codegen1._2 - codegen0._2))
  }

  /** Whole-stage codegen compiles so far and their approximate total ms
    * (the histogram is reservoir-sampled: mean × count). */
  def codegen: (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean * h.getCount)
  }

  /** Rows and files the file scans of an executed plan produced. */
  def scans(plan: SparkPlan): (Long, Long) = plan match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case f: FileSourceScanExec =>
      def metric(n: String) = f.metrics.get(n).map(_.value).getOrElse(0L)
      (metric("numOutputRows"), metric("numFiles"))
    case p =>
      (p.children ++ p.subqueries).map(scans)
        .foldLeft((0L, 0L)) { case ((r, f), (r2, f2)) => (r + r2, f + f2) }
  }
}
