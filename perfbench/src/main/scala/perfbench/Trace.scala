package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Spans around the benchmark's calls into the program, and, when
  * tracing, the Spark jobs, stages and planning phases that ran inside
  * them.
  *
  * Three levels: a workload op (a `day`, or a query by name), the layer call it makes
  * (a `Stages.*` stage, a query build or its `noop` action), and the
  * Spark jobs that call submitted.
  * A job is attributed to a span exactly: the span id rides in a Spark
  * local property that is set around each call, and the listener reads
  * it from the job's properties. Planning phases are attributed by time:
  * a phase counts toward the op that was open when it started (one
  * client thread, so ops do not overlap).
  *
  * Untraced runs create a Tracer with `enabled = false`: no listener is
  * registered, no property is set, and `span` only runs its body.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]

  private val jobs   = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageStats]()
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  @volatile private var taskFailures = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sp = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty))).map(_.toInt).getOrElse(-1)
      jobs.put(e.jobId, Job(e.jobId, sp, e.time, -1L, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId)
      if (j != null) j.end = e.time
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.reason != org.apache.spark.Success) taskFailures += 1
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null)
        stages.put(i.stageId, StageStats(
          tasks = i.numTasks,
          runMs = m.executorRunTime,
          cpuNs = m.executorCpuTime,
          gcMs = m.jvmGCTime,
          shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
          shuffleRead = m.shuffleReadMetrics.totalBytesRead,
          spill = m.memoryBytesSpilled + m.diskBytesSpilled,
          inputRows = m.inputMetrics.recordsRead))
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.values.foreach(p => plans.add((p.startTimeMs, p.durationMs)))
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Runs `body` as a span named `name` of layer `layer` (nested under
    * the innermost open span). Returns the body's value.
    */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = open.headOption
      val s = Span(spans.size, layer, name, parent.map(_.id).getOrElse(-1), System.currentTimeMillis(), -1L)
      spans += s
      open = s :: open
      val sc = spark.sparkContext
      sc.setLocalProperty(SpanProperty, s.id.toString)
      try body
      finally {
        s.end = System.currentTimeMillis()
        open = open.tail
        sc.setLocalProperty(SpanProperty, open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Stops listening once every started job has ended (or 10 s passed)
    * and returns the finished trace.
    */
  def finish(): Trace = {
    if (enabled) {
      val deadline = System.currentTimeMillis() + 10000L
      def pending = { var n = 0; jobs.values.forEach(j => if (j.end < 0) n += 1); n }
      while (pending > 0 && System.currentTimeMillis() < deadline) Thread.sleep(50)
      Thread.sleep(300) // the stage-completed events trail the job ends
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
    val js = mutable.ArrayBuffer.empty[Job]
    jobs.values.forEach(j => js += j)
    val st = mutable.HashMap.empty[Int, StageStats]
    stages.forEach((k, v) => st(k) = v)
    val ps = mutable.ArrayBuffer.empty[(Long, Long)]
    plans.forEach(p => ps += p)
    Trace(spans.toVector, js.sortBy(_.id).toVector, st.toMap, ps.toVector, taskFailures,
      spark.sparkContext.defaultParallelism)
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"

  final case class Span(id: Int, layer: String, name: String, parent: Int, start: Long, var end: Long) {
    def ms: Long = end - start
  }
  final case class Job(id: Int, span: Int, start: Long, var end: Long, stageIds: Seq[Int])
  final case class StageStats(tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, inputRows: Long)
}
