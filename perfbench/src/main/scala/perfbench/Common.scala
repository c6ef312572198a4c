package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Minimal JSON writer for the flat result and trace records. */
object Json {
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ", ", "]")
    case other => value(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ": " + value(v) }.mkString("{", ", ", "}")
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = p * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The op latency a workload reports: the median of each op kind's
    * latencies, combined over kinds by geometric mean (one kind: its
    * median). The kinds of a mixed workload differ in latency up to 50x;
    * a plain median over the mix falls on the boundary between two kinds
    * and jumps with the few ops either side of it, while each kind's own
    * median is an interior one.
    */
  def kindMedian(ops: Seq[OpRec]): Double = {
    val logs = ops.groupBy(_.kind).values.map(os => math.log(median(os.map(_.ms))))
    math.exp(logs.sum / logs.size)
  }

  /** The tail percentile of `n` samples: the highest of
    * p99/p95/p90/p75/p50 that leaves at least ten samples beyond it, or
    * none when there are fewer than twenty.
    */
  def tailFor(n: Int): Option[Double] =
    Seq(0.99, 0.95, 0.9, 0.75, 0.5).find(p => n * (1 - p) >= 10)
}

/** One timed op of the measured window. */
final case class OpRec(id: Long, kind: String, startNs: Long, endNs: Long,
                       ok: Boolean, firstRowNs: Long = -1L, traced: Boolean = false,
                       counted: Boolean = true) {
  def ms: Double = (endNs - startNs) / 1e6
  def firstRowMs: Double = (firstRowNs - startNs) / 1e6
}

/** Process-level meters read at window boundaries. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean
  def processCpuNs: Long = os.getProcessCpuTime
  /** CPU time so far of each live Java thread, by thread id. */
  def threadCpu: Map[Long, Long] =
    threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id)).filter(_._2 >= 0).toMap
  /** CPU time the Java threads spent since `base`: the driver, the
    * executors and Spark's own threads. The JIT compiler and GC threads
    * are not Java threads, so they are left out; a thread that ended
    * since `base` drops out with its time.
    */
  def threadCpuSince(base: Map[Long, Long]): Long =
    threadCpu.iterator.map { case (id, c) => c - base.getOrElse(id, 0L) }.filter(_ > 0).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  /** Heap retained after a full collection, in MB. Spark frees
    * broadcast and shuffle blocks from its cleaner thread once their
    * owners are collected, so collect, let the cleaner run, collect again.
    */
  def heapAfterGcMb: Double = {
    System.gc(); Thread.sleep(300); System.gc(); Thread.sleep(100); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** What a workload hands back: timed ops, checks and its own metrics. */
final class Outcome {
  val ops = mutable.ArrayBuffer[OpRec]()
  /** Ops whose output check (run after the window) failed. */
  val checkFailed = mutable.Set[Long]()
  val notes = mutable.ArrayBuffer[String]()
  /** End-to-end metrics only some workloads have (name -> value). */
  val e2e = mutable.LinkedHashMap[String, Double]()
  /** Per-layer metrics the workload measures itself. */
  val layer = mutable.LinkedHashMap[String, Double]()
  /** Window length over which counted ops completed, and the CPU time
    * the Java threads spent in it. */
  var windowNs: Long = 0L
  var cpuNs: Long = 0L
  var gcMs: Long = 0L
  var jitMs: Long = 0L
  var heapMb: Double = 0.0
  /** Heap retained after a full GC just before the window. */
  var heapStartMb: Double = 0.0
  var cachedRdds: Int = 0
  var storageMb: Double = 0.0
  /** Rows the client received in traced ops, for rows read per row out. */
  var rowsOut: Long = 0L

  def countRows(n: Long): Unit = if (Trace.enabled) rowsOut += n

  /** Process meters at the start of the window. */
  final class Start {
    val ns: Long = System.nanoTime()
    val threadCpu: Map[Long, Long] = Jvm.threadCpu
    val processCpuNs: Long = Jvm.processCpuNs
    val gcMs: Long = Jvm.gcMs
    val jitMs: Long = Jvm.jitMs
  }

  /** Close the window: process meters, then leaks after a full GC. */
  def closeWindow(ctx: Ctx, start: Start): Unit = {
    windowNs = System.nanoTime() - start.ns
    cpuNs = Jvm.threadCpuSince(start.threadCpu)
    gcMs = Jvm.gcMs - start.gcMs
    jitMs = Jvm.jitMs - start.jitMs
    notes += f"in the window: Java threads' CPU ${cpuNs / 1e6}%.0f ms, process CPU " +
      f"${(Jvm.processCpuNs - start.processCpuNs) / 1e6}%.0f ms, JIT compiling $jitMs ms, GC $gcMs ms"
    heapMb = Jvm.heapAfterGcMb
    val sc = ctx.spark.sparkContext
    cachedRdds = sc.getPersistentRDDs.size
    storageMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
  }
}

/** Everything a workload needs from the harness: the session, the
  * generated inputs (`inputs`, shared by every set-up) and this set-up's
  * own directory (`work`).
  */
final case class Ctx(spark: SparkSession, inputs: String, work: String, seed: Long,
                     trace: Boolean, seconds: Double, warmSeconds: Double = 0)

trait Workload {
  /** Generate every input from the seed into `ctx.inputs`, once per run. */
  def inputs(ctx: Ctx): Unit
  /** Set up on a fresh session into `ctx.work`: registration, lake
    * seeding and warm-up. Runs several times per run, each time from
    * nothing but the inputs; the window runs on the last one. The first
    * set-up also keeps the workload running for `ctx.warmSeconds`, so the
    * JIT has compiled the hot paths before the window (the JVM's compiled
    * code outlives the session).
    */
  def setup(ctx: Ctx): Unit
  /** Measure for `seconds`, then check outputs (outside the window). */
  def run(ctx: Ctx, seconds: Double, out: Outcome): Unit
}

object Loop {
  /** Whether the ops of a block are traced: every other block of a traced run. */
  def traced(ctx: Ctx, block: Long): Boolean = ctx.trace && block % 2 == 0

  /** Closed loop from one client thread: op `i` starts when op `i-1`
    * returns. `op` returns (ok, first-row time or -1); a thrown error
    * counts as a failed op. `op(i)` itself runs before the op's clock
    * starts and `after(i)` once it has stopped, so bookkeeping a
    * workload does there is not timed.
    *
    * Ops come in blocks with a fixed mix (`blockOf` maps an op to its
    * block). Latencies and the rate count only the blocks that finished
    * inside the window, so every run measures the same mix; the ops of
    * the cut-off block still count as attempted.
    */
  def closed(ctx: Ctx, seconds: Double, out: Outcome, blockOf: Long => Long = identity,
             after: Long => Unit = _ => ())(op: Long => (String, () => (Boolean, Long))): Unit = {
    out.heapStartMb = Jvm.heapAfterGcMb
    val start = new out.Start
    val t0 = start.ns
    val end = t0 + (seconds * 1e9).toLong
    var i = 0L
    val cpuEnd = mutable.ArrayBuffer[Long]()
    while (System.nanoTime() < end) {
      val (kind, body) = op(i)
      val tr = traced(ctx, blockOf(i))
      val s = System.nanoTime()
      val (ok, first) =
        try Trace.op(i, tr)(body())
        catch { case e: Exception =>
          if (out.notes.size < 20) out.notes += s"op $i ($kind) failed: ${e.toString.take(400)}"
          (false, -1L)
        }
      out.ops += OpRec(i, kind, s, System.nanoTime(), ok, first, tr)
      cpuEnd += Jvm.threadCpuSince(start.threadCpu)
      after(i)
      i += 1
    }
    Main.mark(s"window closed after $i ops")
    out.closeWindow(ctx, start)
    val open = blockOf(i)
    out.ops.mapInPlace(o => if (blockOf(o.id) == open) o.copy(counted = false) else o)
    // rate and CPU per op up to the end of the last counted op
    out.ops.filter(_.counted).lastOption.foreach { o =>
      out.windowNs = o.endNs - t0
      out.cpuNs = cpuEnd(o.id.toInt)
    }
  }
}
