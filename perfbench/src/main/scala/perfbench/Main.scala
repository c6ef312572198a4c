package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchShim
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One benchmark run of one workload, on one long-lived local[4]
  * session: set up (several times, so set-up time is a median), measure
  * for a fixed window, check outputs, and write every metric the run
  * has as one JSON object. `perfbench/run.py` builds this, runs it and
  * prints the result.
  *
  * {{{
  *   perfbench.Main --workload lake_dml --seed 1 --seconds 10 --trace 0 \
  *     --work <scratch dir> --out <result.json>
  * }}}
  */
object Main {
  val Cores = 4
  val SetupReps = 3
  /** How long the first set-up keeps the workload running before any timing. */
  val WarmSeconds = 6.0

  val workloads: Map[String, Workload] = Map(
    "lake_dml" -> LakeDml,
    "dedup_pipeline" -> DedupPipeline, "cdc_stream" -> CdcStream)

  private val phases = mutable.LinkedHashMap[String, Double]()
  @volatile private var traceRun = false

  /** Time one set-up phase; in a traced run it is also a span. */
  def timed[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try if (traceRun) Trace.op(-1L, traced = true)(Trace.span(name)(body)) else body
    finally phases(name) = phases.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e6
  }

  private val born = System.nanoTime()
  /** A timeline line on stderr (the run's log), for reading where a run's time went. */
  def mark(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%7.2f s  $what")

  private def stop(s: SparkSession): Unit = {
    s.streams.active.foreach(_.stop())
    s.stop()
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    require(workloads.contains(name), s"unknown workload '$name' (${workloads.keys.mkString(", ")})")
    runOne(name, a("seed").toLong, a("seconds").toDouble, a("trace") == "1", a("work"), a("out"))
  }

  private def runOne(name: String, seed: Long, seconds: Double, trace: Boolean,
                     work: String, outPath: String): Unit = {
    val wl = workloads(name)
    traceRun = trace

    // inputs: generated once, on a session of their own
    val inputs = s"$work/inputs"
    new java.io.File(inputs).mkdirs()
    mark("jvm up")
    var spark = GraftSession.local(Cores)
    mark("first session built")
    val g0 = System.nanoTime()
    wl.inputs(Ctx(spark, inputs, inputs, seed, trace, seconds))
    val inputsS = (System.nanoTime() - g0) / 1e9
    mark("inputs generated")
    var counts: JobCounts = null
    val setups = (0 until SetupReps).map { rep =>
      stop(spark)
      phases.clear()
      val t0 = System.nanoTime()
      spark = timed("session.build")(GraftSession.local(Cores))
      if (trace) {
        counts = new JobCounts
        spark.sparkContext.addSparkListener(counts)
        Trace.attach(spark.sparkContext)
      }
      wl.setup(Ctx(spark, inputs, s"$work/setup$rep", seed, trace, seconds,
        warmSeconds = if (rep == 0) WarmSeconds else 0))
      mark(s"set-up $rep done")
      ((System.nanoTime() - t0) / 1e9, phases.toMap)
    }
    val ctx = Ctx(spark, inputs, s"$work/setup${SetupReps - 1}", seed, trace, seconds)
    val out = new Outcome
    wl.run(ctx, seconds, out)
    mark("window and checks done")
    if (trace) PerfbenchShim.drainListeners(spark.sparkContext)

    if (out.ops.nonEmpty) {
      val t0 = out.ops.map(_.startNs).min
      out.notes += "ops ended per 5 s of the window: " + out.ops.groupBy(o => (o.endNs - t0) / 5000000000L)
        .toSeq.sortBy(_._1).map(_._2.size).mkString(", ")
    }
    val e2e = mutable.LinkedHashMap[String, Double]()
    val plain = out.ops.filter(o => o.counted && !o.traced)
    val lat = plain.filter(_.ok).toSeq
    val tailP = Stats.tailFor(lat.size)
    e2e("setup_s") = Stats.median(setups.map(_._1))
    if (lat.nonEmpty) e2e("op_p50_ms") = Stats.kindMedian(lat)
    tailP.foreach(p => e2e("op_tail_ms") = Stats.pct(lat.map(_.ms), p))
    e2e("ops_per_s") = out.ops.count(o => o.ok && o.counted) / (out.windowNs / 1e9)
    e2e("cpu_ms_per_op") = out.cpuNs / 1e6 / math.max(1, out.ops.count(_.counted))
    e2e("heap_mb") = out.heapMb
    val firsts = plain.filter(_.firstRowNs > 0).map(_.firstRowMs).toSeq
    if (firsts.nonEmpty) e2e("first_row_p50_ms") = Stats.median(firsts)
    e2e ++= out.e2e

    val layer = mutable.LinkedHashMap[String, Double]()
    def phase(p: String) = Stats.median(setups.map(_._2.getOrElse(p, 0.0)))
    layer("session.build_ms") = phase("session.build")
    layer("catalog.register_ms") = phase("catalog.register")
    layer("session.cached_rdds_end") = out.cachedRdds
    layer("session.storage_mb_end") = out.storageMb
    layer("jvm.gc_ms") = out.gcMs
    layer("jvm.jit_ms") = out.jitMs
    if (trace) layer ++= traced(out, counts)
    layer ++= out.layer

    val failed = out.ops.filter(o => !o.ok || out.checkFailed(o.id)).map(_.id).toSet
    val result = Seq(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "attempted" -> out.ops.size, "failed_ops" -> failed.toSeq.sorted,
      "tail_pct" -> tailP.map(_ * 100), "latency_samples" -> lat.size, "e2e" -> e2e.toMap, "layer" -> layer.toMap,
      "setup_phases_ms" -> setups.last._2, "setup_s_each" -> setups.map(_._1), "inputs_s" -> inputsS, "notes" -> out.notes.toSeq,
      "p50_ms_by_kind" -> plain.groupBy(_.kind).map { case (k, os) => k -> Stats.median(os.map(_.ms).toSeq) })
    if (trace) Trace.writeJsonl(s"$work/trace.jsonl", counts)
    val w = new java.io.PrintWriter(outPath, "UTF-8")
    try w.println(Json.obj(result)) finally w.close()
    stop(spark)
    mark("session stopped")
  }

  /** Per-layer numbers from the spans and the job counts of a traced run. */
  private def traced(out: Outcome, counts: JobCounts): Map[String, Double] = {
    val spans = Trace.all
    val byId = counts.bySpan
    val kids = spans.groupBy(_.parent)
    def subtree(s: Span): Counts =
      kids.getOrElse(s.id, Nil).foldLeft(byId.getOrElse(s.id, Counts()))(_ + subtree(_))
    val m = mutable.LinkedHashMap[String, Double]()
    val ops = spans.filter(_.op >= 0)
    val n = math.max(1, out.ops.count(_.traced)).toDouble

    m("catalog.register_jobs") =
      spans.filter(_.name == "catalog.register").lastOption.map(subtree(_).jobs.toDouble).getOrElse(0.0)
    val byName = ops.groupBy(_.name)
    def med(name: String, scale: Double = 1.0) =
      byName.get(name).map(ss => Stats.median(ss.map(_.ms * scale))).getOrElse(0.0)
    m("sql.render_us") = med("sql.render", 1000.0)
    m("catalyst.analyze_ms") = med("catalyst.analyze")
    m("catalyst.plan_ms") = med("catalyst.plan")
    m("exec.first_row_ms") = med("exec.first_row")
    m("exec.drain_ms") = med("exec.drain")

    val total = ops.map(s => byId.getOrElse(s.id, Counts())).foldLeft(Counts())(_ + _)
    m("exec.jobs") = total.jobs / n
    m("exec.stages") = total.stages / n
    m("exec.tasks") = total.tasks / n
    m("exec.cpu_ms") = total.cpuNs / 1e6 / n
    m("exec.busy_ms") = total.runMs / n
    m("exec.wait_ms") = total.waitMs / n
    m("exec.gc_ms") = total.gcMs / n
    m("exec.shuffle_bytes") = total.shuffleBytes / n
    m("exec.spill_bytes") = total.spillBytes / n
    m("exec.rows_read_per_row_out") = if (out.rowsOut > 0) total.recordsRead.toDouble / out.rowsOut else 0.0

    // each verb / stage: median time per call and mean jobs per call
    byName.foreach { case (name, ss) =>
      val calls = ss.size.toDouble
      if (name.startsWith("lake.") || name.startsWith("pipeline.")) {
        m(s"$name.ms") = Stats.median(ss.map(_.ms))
        m(s"$name.jobs") = ss.map(subtree(_).jobs).sum / calls
      }
    }
    m("stream.decode_ms") = med("stream.decode")
    m("stream.apply_ms") = med("stream.apply")
    m("stream.apply_jobs") = byName.get("stream.apply")
      .map(ss => ss.map(subtree(_).jobs).sum.toDouble / ss.size).getOrElse(0.0)

    // self time per layer, per traced op
    val self = Trace.selfNs(ops)
    ops.groupBy(_.layer).foreach { case (l, ss) =>
      m(s"self.${if (l == "op") "client" else l}_ms") = ss.map(s => self(s.id)).sum / 1e6 / n
    }

    val tracedLat = out.ops.filter(o => o.ok && o.traced).toSeq
    val plainLat = out.ops.filter(o => o.ok && !o.traced).toSeq
    if (tracedLat.nonEmpty && plainLat.nonEmpty)
      m("trace.overhead_pct") = (Stats.kindMedian(tracedLat) / Stats.kindMedian(plainLat) - 1) * 100
    m.toMap
  }
}
