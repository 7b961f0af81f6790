package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Engine counters at one instant. */
final case class Counters(jobs: Long, stages: Long, tasks: Long,
    inputRows: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    spillBytes: Long, gcMs: Long, busyMs: Long) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, inputRows - o.inputRows,
    shuffleReadBytes - o.shuffleReadBytes, shuffleWriteBytes - o.shuffleWriteBytes,
    spillBytes - o.spillBytes, gcMs - o.gcMs, busyMs - o.busyMs)
}

/** The `spark` layer, observed from outside: cumulative job, stage and
  * task counts and task metrics, registered by the benchmark itself. */
final class EngineListener extends SparkListener {
  private val jobs, stages, tasks, inputRows, shRead, shWrite, spill, gc, busy =
    new AtomicLong
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      inputRows.addAndGet(m.inputMetrics.recordsRead)
      shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gc.addAndGet(m.jvmGCTime)
      busy.addAndGet(m.executorRunTime)
    }
  }
  def now: Counters = Counters(jobs.get, stages.get, tasks.get, inputRows.get,
    shRead.get, shWrite.get, spill.get, gc.get, busy.get)
}

/** One call into a layer: its name, the span that made the call, the
  * traced job it belongs to, wall time, and the engine counters that
  * moved while it ran. */
final case class Span(id: Int, parent: Int, job: Int, name: String,
    startNs: Long, endNs: Long, counters: Counters) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Wraps calls into the program's layers. [[Tracer.off]] runs the body
  * and records nothing, so traced and untraced jobs share one code path
  * wherever the benchmark itself drives the stages. */
trait Tracer {
  def span[A](name: String)(body: => A): A
}

object Tracer {
  val off: Tracer = new Tracer { def span[A](name: String)(body: => A): A = body }
}

/** Keeps spans in memory; [[Recorder.spans]] is written out when the
  * run ends. */
final class Recorder(sc: SparkContext, listener: EngineListener) extends Tracer {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List(0)
  private var nextId = 1
  var job = 0

  def counters(): Counters = {
    org.apache.spark.ListenerBusAccess.drain(sc)
    listener.now
  }

  def span[A](name: String)(body: => A): A = {
    val id = nextId; nextId += 1
    val parent = stack.head
    stack = id :: stack
    val c0 = counters()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      spans += Span(id, parent, job, name, t0, t1, counters() - c0)
    }
  }

  /** Wall time of `job`'s spans named `name`, minus the time their
    * direct children cover (self time). */
  def selfSeconds(job: Int, name: String): Double = {
    val mine = spans.filter(s => s.job == job && s.name == name)
    val ids = mine.map(_.id).toSet
    mine.map(_.seconds).sum - spans.filter(s => ids(s.parent)).map(_.seconds).sum
  }

  def count(job: Int, name: String): Int = spans.count(s => s.job == job && s.name == name)

  /** Engine jobs started inside `job`'s spans whose name starts with
    * `prefix`, outermost spans only (nested ones are already inside). */
  def engineJobs(job: Int, prefix: String): Long = {
    val inJob = spans.filter(_.job == job)
    val byId = inJob.map(s => s.id -> s).toMap
    inJob.filter(s => s.name.startsWith(prefix) &&
        !byId.get(s.parent).exists(_.name.startsWith(prefix)))
      .map(_.counters.jobs).sum
  }

  def toJsonLines: Seq[String] = spans.toSeq.map { s =>
    val c = s.counters
    s"""{"id":${s.id},"parent":${s.parent},"job":${s.job},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${c.jobs},""" +
      s""""stages":${c.stages},"tasks":${c.tasks},"input_rows":${c.inputRows},""" +
      s""""shuffle_read_bytes":${c.shuffleReadBytes},"shuffle_write_bytes":${c.shuffleWriteBytes},""" +
      s""""spill_bytes":${c.spillBytes},"gc_ms":${c.gcMs},"busy_ms":${c.busyMs}}"""
  }
}
