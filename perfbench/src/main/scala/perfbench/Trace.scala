package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded span: a timed call from the benchmark into one layer. */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
                      parent: Long, op: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans around the benchmark's calls into each graft layer, kept in
  * memory and written as JSON lines when the run ends. Tracing is off
  * in end-to-end runs; in a traced run the workloads switch it on for
  * every other block of ops, so the same run also measures what tracing
  * costs.
  *
  * Each span also tags the Spark jobs it starts (a local property the
  * [[JobCounts]] listener reads), so job, task and shuffle counts are
  * attributed to the same boundaries as the times.
  */
object Trace {
  val SpanProp = "perfbench.span"
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val opId = ThreadLocal.withInitial[java.lang.Long](() => -1L)
  private val on = ThreadLocal.withInitial[java.lang.Boolean](() => false)
  @volatile private var sc: Option[SparkContext] = None

  def attach(context: SparkContext): Unit = sc = Some(context)
  def enabled: Boolean = on.get
  def all: Seq[Span] = spans.asScala.toSeq

  /** Run `body` as op `op` of the current thread, traced or not. */
  def op[T](op: Long, traced: Boolean)(body: => T): T = {
    opId.set(op); on.set(traced)
    try span("op")(body) finally { on.set(false); opId.set(-1L) }
  }

  def span[T](name: String)(body: => T): T =
    if (!on.get) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      stack.set(id :: parents)
      sc.foreach(_.setLocalProperty(SpanProp, id.toString))
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, t0, System.nanoTime(), parents.headOption.getOrElse(0L),
          opId.get))
        stack.set(parents)
        sc.foreach(_.setLocalProperty(SpanProp, parents.headOption.map(_.toString).orNull))
      }
    }

  /** Self time per span: its duration minus the part its children cover. */
  def selfNs(all: Seq[Span]): Map[Long, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c => c.endNs - c.startNs).sum
      s.id -> math.max(0L, (s.endNs - s.startNs) - covered)
    }.toMap
  }

  def writeJsonl(path: String, counts: JobCounts): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      val c = counts.bySpan.getOrElse(s.id, Counts())
      w.println(Json.obj(Seq("id" -> s.id, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "parent" -> s.parent, "op" -> s.op,
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "cpu_ms" -> c.cpuNs / 1e6, "shuffle_bytes" -> c.shuffleBytes)))
    } finally w.close()
  }
}

/** Per-boundary execution counts, summed from task-end events. */
final case class Counts(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                        cpuNs: Long = 0, runMs: Long = 0, waitMs: Long = 0,
                        gcMs: Long = 0, shuffleBytes: Long = 0, spillBytes: Long = 0,
                        recordsRead: Long = 0) {
  def +(o: Counts): Counts = Counts(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    cpuNs + o.cpuNs, runMs + o.runMs, waitMs + o.waitMs, gcMs + o.gcMs,
    shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes, recordsRead + o.recordsRead)
}

/** Spark listener that files every job, stage and task under the span
  * that started the job (0 when no span was open).
  */
final class JobCounts extends SparkListener {
  private val jobSpan = mutable.Map[Int, Long]()
  private val stageSpan = mutable.Map[Int, Long]()
  private val acc = mutable.Map[Long, Counts]()

  private def add(span: Long, c: Counts): Unit =
    acc(span) = acc.getOrElse(span, Counts()) + c

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProp)))
      .map(_.toLong).getOrElse(0L)
    jobSpan(e.jobId) = span
    e.stageIds.foreach(stageSpan(_) = span)
    add(span, Counts(jobs = 1))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add(stageSpan.getOrElse(e.stageInfo.stageId, 0L), Counts(stages = 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      // the scheduler-delay formula of Spark's own UI
      val wait = math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      add(stageSpan.getOrElse(e.stageId, 0L), Counts(tasks = 1,
        cpuNs = m.executorCpuTime + m.executorDeserializeCpuTime,
        runMs = m.executorRunTime, waitMs = wait, gcMs = m.jvmGCTime,
        shuffleBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
        recordsRead = m.inputMetrics.recordsRead))
    }
  }

  def bySpan: Map[Long, Counts] = synchronized(acc.toMap)
  def total: Counts = synchronized(acc.values.foldLeft(Counts())(_ + _))
}
