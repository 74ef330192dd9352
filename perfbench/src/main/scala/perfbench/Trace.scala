package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall clock shared by spans, timed cells and Spark's listener events:
  * epoch milliseconds with sub-millisecond resolution (Spark stamps jobs
  * and tasks in epoch ms, so one clock lets a job be placed inside the
  * harness span that caused it).
  */
object Clock {
  private val baseNanos = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNanos) / 1e6
}

/** One timed interval at a layer boundary. `parent` is the id of the span
  * open on the same thread when this one started (-1 at the top).
  */
final case class Span(id: Int, parent: Int, name: String, startMs: Double,
    endMs: Double, run: String)

/** In-memory span recorder; a no-op when tracing is off, so untraced runs
  * pay one branch per boundary. Spans are written out once, at the end.
  */
final class Tracer(val enabled: Boolean, val run: String) {
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicInteger(0)
  private val open = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      val parent = stack.headOption.getOrElse(-1)
      open.set(id :: stack)
      val start = Clock.nowMs
      try f
      finally {
        val end = Clock.nowMs
        open.set(stack)
        spans.synchronized(spans += Span(id, parent, name, start, end, run))
      }
    }

  def recorded: Seq[Span] = spans.synchronized(spans.toList)
}

/** Per-task numbers the Spark layer metrics are computed from. */
final case class TaskRec(stage: Int, launchMs: Long, finishMs: Long,
    runMs: Long, cpuNs: Long, gcMs: Long, deserMs: Long, resultSerMs: Long,
    gettingResultMs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    spillBytes: Long)

final case class JobRec(id: Int, startMs: Long, var endMs: Long,
    stages: Seq[Int])

/** Records Spark's scheduler layer: jobs (with their stages) and every
  * finished task's metrics. Registered by the harness in traced runs only.
  */
final class SparkRecorder extends SparkListener {
  val jobs = ArrayBuffer.empty[JobRec]
  val tasks = ArrayBuffer.empty[TaskRec]
  private val open = scala.collection.mutable.Map.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = JobRec(e.jobId, e.time, -1L, e.stageIds)
    open(e.jobId) = j
    jobs += j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val i = e.taskInfo
      tasks += TaskRec(e.stageId, i.launchTime, i.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.executorDeserializeTime, m.resultSerializationTime,
        if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def openJobs: Int = synchronized(open.size)
}

/** Records each micro-batch's `StreamingQueryProgress`, the streaming
  * layer's own account of where a trigger's time went.
  */
final class StreamRecorder extends StreamingQueryListener {
  val progress = ArrayBuffer.empty[String]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized(progress += e.progress.json)
}
