package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Work Spark did on behalf of one span, not counting its child spans. */
final class Bucket {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var execRunMs = 0L
  var execCpuNs = 0L
  var shuffleWriteB = 0L
  var shuffleReadB = 0L
  var spillB = 0L
  var serialStageMs = 0L
  var planMs = 0L
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "exec_run_ms" -> execRunMs, "exec_cpu_ns" -> execCpuNs,
    "shuffle_write_b" -> shuffleWriteB, "shuffle_read_b" -> shuffleReadB,
    "spill_b" -> spillB, "serial_stage_ms" -> serialStageMs, "plan_ms" -> planMs,
    "job_intervals" -> jobIntervals.map { case (s, e) => Seq(s, e) }.toSeq,
  )
}

/** One timed call into a layer. Times are epoch milliseconds. */
final class Span(val id: Int, val parent: Int, val name: String, val layer: String,
    val kind: String, val start: Double) {
  var end: Double = start
  var buildMs: Double = 0.0
  val bucket = new Bucket

  def toMap: Map[String, Any] = Map(
    "id" -> id, "parent" -> parent, "name" -> name, "layer" -> layer,
    "kind" -> kind, "start" -> start, "end" -> end, "build_ms" -> buildMs,
    "counters" -> bucket.toMap)
}

/** Listener plus span stack for the traced run.
  *
  * Every bus event goes to the innermost open span. Spans are opened and
  * closed on the driver thread only, after draining the listener bus, so
  * an event posted while a span runs is always delivered to that span;
  * events outside any span (the output checks) are dropped.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nanos0 = System.nanoTime()
  def nowMs: Double = epochMs0 + (System.nanoTime() - nanos0) / 1e6

  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  @volatile private var current: Bucket = null
  private val jobStarts = new java.util.HashMap[Int, Long]()

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def span[T](name: String, layer: String, kind: String)(body: Span => T): T = {
    PerfbenchBus.drain(spark.sparkContext)
    val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, layer,
      kind, nowMs)
    spans += s
    stack = s :: stack
    current = s.bucket
    try body(s)
    finally {
      s.end = nowMs
      PerfbenchBus.drain(spark.sparkContext)
      stack = stack.tail
      current = stack.headOption.map(_.bucket).orNull
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val b = current
    if (b != null) { b.jobs += 1; jobStarts.put(e.jobId, e.time) }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val b = current
    val t0 = jobStarts.remove(e.jobId)
    if (b != null && t0 != 0L) b.jobIntervals += ((t0, e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val b = current
    if (b != null) {
      val i = e.stageInfo
      b.stages += 1
      if (i.numTasks == 1)
        for (s <- i.submissionTime; c <- i.completionTime) b.serialStageMs += c - s
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val b = current
    val m = e.taskMetrics
    if (b != null && m != null) {
      b.tasks += 1
      b.execRunMs += m.executorRunTime
      b.execCpuNs += m.executorCpuTime
      b.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      b.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      b.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  private def planned(qe: QueryExecution): Unit = {
    val b = current
    if (b != null) b.planMs += qe.tracker.phases.values.map(_.durationMs).sum
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)
}
