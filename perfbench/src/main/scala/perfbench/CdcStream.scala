package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.sources.Snapshots
import graft.streaming.Cdc

/** `cdc_stream`: an open loop. A generator thread writes Debezium
  * envelope files on a fixed schedule; a standing Structured Streaming
  * query decodes them with `Cdc.decode` and applies each key's last
  * state with `Snapshots.applyChanges` inside `foreachBatch`. An op is
  * one event; its latency is the lag from the event's due time to the
  * end of the commit that made it visible, so a stall shows as lag on
  * every later event instead of a slower offered rate.
  */
object CdcStream extends Workload {
  /** Offered load: events per second, released in files every tick. */
  val Rate = 100
  val TickMs = 100
  val StateKeys = 10000
  /** Events applied in set-up, before the window. */
  val WarmupEvents = 50

  /** One scheduled change: due `offMs` after the stream starts. */
  final case class Event(offMs: Long, op: String, key: Long, before: Option[Double],
                         after: Option[Double]) {
    def envelope: String = {
      def side(p: Option[Double]) = p.map(v => s"""{"o_orderkey":$key,"o_totalprice":$v}""").getOrElse("null")
      s"""{"op":"$op","ts_ms":$offMs,"before":${side(before)},"after":${side(after)}}"""
    }
  }

  private var events: IndexedSeq[Event] = IndexedSeq.empty
  private var seedState: Map[Long, Double] = Map.empty
  private var query: StreamingQuery = _
  private var inDir, tmpDir, root = ""
  /** (event offset ms, commit end ns, batch traced) per applied event. */
  private val applied = new ConcurrentLinkedQueue[(Long, Long, Boolean)]()
  private val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  @volatile private var trace = false

  private def price(r: Random): Double = (100000 + r.nextInt(49900000)) / 100.0

  /** The event schedule: updates and deletes of live keys, creates of new ones. */
  def genEvents(r: Random, n: Int, state: Map[Long, Double]): IndexedSeq[Event] = {
    val live = mutable.ArrayBuffer[Long]() ++= state.keys.toSeq.sorted
    val cur = mutable.HashMap[Long, Double]() ++= state
    var next = state.keys.max + 1
    (0 until n).map { i =>
      val off = i.toLong * 1000 / Rate
      r.nextInt(20) match {
        case x if x < 12 =>
          val k = live(r.nextInt(live.size)); val p = price(r)
          val e = Event(off, "u", k, cur.get(k), Some(p)); cur(k) = p; e
        case x if x < 17 =>
          val k = next; next += 1; val p = price(r)
          live += k; cur(k) = p; Event(off, "c", k, None, Some(p))
        case _ =>
          val j = r.nextInt(live.size); val k = live(j)
          live(j) = live.last; live.remove(live.size - 1)
          Event(off, "d", k, cur.remove(k), None)
      }
    }
  }

  def inputs(ctx: Ctx): Unit = {
    val r = new Random(ctx.seed)
    seedState = (0 until StateKeys).map(k => k.toLong -> price(r)).toMap
    events = genEvents(r, WarmupEvents + ((ctx.seconds + 2) * Rate).toInt, seedState)
    val sched = new java.io.PrintWriter(s"${ctx.inputs}/envelope_schedule.jsonl", "UTF-8")
    try events.foreach(e => sched.println(e.envelope)) finally sched.close()
    ctx.spark.createDataFrame(seedState.toSeq.sortBy(_._1)).toDF("o_orderkey", "o_totalprice")
      .write.parquet(s"${ctx.inputs}/state_seed.parquet")
  }

  def setup(ctx: Ctx): Unit = {
    val s = ctx.spark
    inDir = s"${ctx.work}/cdc_in"; tmpDir = s"${ctx.work}/cdc_tmp"
    root = s"${ctx.work}/lakes/cdc"
    Files.createDirectories(Paths.get(inDir)); Files.createDirectories(Paths.get(tmpDir))
    Main.timed("lake.seed") {
      new Snapshots(s, root).commit(Map("state" -> s.read.parquet(s"${ctx.inputs}/state_seed.parquet")),
        statsCols = Map("state" -> Seq("o_orderkey")))
    }
    applied.clear(); progress.clear()
    trace = ctx.trace
    val id = java.util.UUID.randomUUID()
    s.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.name == s"cdc-$id" && e.progress.numInputRows > 0) progress.add(e.progress)
    })
    query = s.readStream.format("text").load(inDir)
      .writeStream.queryName(s"cdc-$id")
      .option("checkpointLocation", s"${ctx.work}/cdc_checkpoint")
      .foreachBatch((batch: DataFrame, batchId: Long) => applyBatch(ctx, batch, batchId))
      .start()
    // warm-up: the first events go through the stream before the window;
    // the first set-up also offers the schedule for a while
    Main.timed("warmup") {
      release(events.take(WarmupEvents), "warmup")
      awaitApplied(WarmupEvents, 120)
      if (ctx.warmSeconds > 0) {
        val (sent, _) = offer(events.drop(WarmupEvents), System.nanoTime(), ctx.warmSeconds, "w")
        awaitApplied(WarmupEvents + sent, 120)
      }
    }
    applied.clear(); progress.clear()
  }

  /** The generator: from `t0`, on every tick, release the events due by
    * then, for `seconds`; returns (events sent, ms late per tick).
    */
  private def offer(es: IndexedSeq[Event], t0: Long, seconds: Double, prefix: String): (Int, Seq[Double]) = {
    val base = es.head.offMs
    val end = t0 + (seconds * 1e9).toLong
    val late = mutable.ArrayBuffer[Double]()
    var sent = 0
    var tick = 1L
    while (t0 + tick * TickMs * 1000000L <= end) {
      val due = t0 + tick * TickMs * 1000000L
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      late += (System.nanoTime() - due) / 1e6
      val batch = es.drop(sent).takeWhile(_.offMs - base <= tick * TickMs)
      if (batch.nonEmpty) release(batch, f"$prefix$tick%06d")
      sent += batch.size
      tick += 1
    }
    (sent, late.toSeq)
  }

  /** The foreachBatch body: decode, resolve each key's last state in
    * the batch, apply it to the lake in one commit.
    */
  private def applyBatch(ctx: Ctx, batch: DataFrame, batchId: Long): Unit = {
    val traced = trace && batchId % 2 == 0
    Trace.op(batchId, traced) {
      val rows = Trace.span("stream.decode") {
        Cdc.decode(batch.select(col("value").as("envelope"))).collect()
      }
      val last = rows.groupBy(_.getAs[Long]("o_orderkey")).map { case (k, rs) =>
        k -> rs.maxBy(_.getAs[Long]("ts_ms")) }
      val s = ctx.spark
      Trace.span("stream.apply") {
        val ups = last.values.filter(_.getAs[String]("op") != "d")
          .map(x => (x.getAs[Long]("o_orderkey"), x.getAs[Double]("o_totalprice"))).toSeq
        val dead = last.values.filter(_.getAs[String]("op") == "d")
          .map(x => Tuple1(x.getAs[Long]("o_orderkey"))).toSeq
        Trace.span("lake.merge") {
          new Snapshots(s, root).applyChanges("state",
            s.createDataFrame(ups).toDF("o_orderkey", "o_totalprice"),
            s.createDataFrame(dead).toDF("o_orderkey"), Seq("o_orderkey"),
            statsCols = Seq("o_orderkey"))
        }
      }
      val end = System.nanoTime()
      rows.foreach(x => applied.add((x.getAs[Long]("ts_ms"), end, traced)))
    }
  }

  /** Write one envelope file atomically into the stream's input dir. */
  private def release(es: Seq[Event], name: String): Unit = {
    val tmp = Paths.get(tmpDir, s"$name.json")
    Files.write(tmp, es.map(_.envelope).asJava)
    Files.move(tmp, Paths.get(inDir, s"$name.json"), StandardCopyOption.ATOMIC_MOVE)
  }

  private def awaitApplied(n: Int, timeoutS: Int): Unit = {
    val end = System.nanoTime() + timeoutS * 1000000000L
    while (applied.size < n && System.nanoTime() < end && query.exception.isEmpty) Thread.sleep(5)
    query.exception.foreach(e => throw e)
  }

  def run(ctx: Ctx, seconds: Double, out: Outcome): Unit = {
    val timed = events.drop(WarmupEvents)
    out.heapStartMb = Jvm.heapAfterGcMb
    val start = new out.Start
    // due time of an event: t0 + its offset, counted from the first timed event
    val base = timed.head.offMs
    val t0Ns = start.ns
    val windowEnd = t0Ns + (seconds * 1e9).toLong
    val (sent, late) = offer(timed, t0Ns, seconds, "t")
    val committedInWindow = applied.asScala.count(_._2 <= windowEnd)
    Main.mark(s"generator done after $sent events")
    awaitApplied(sent, 60)
    Main.mark("stream drained")
    out.closeWindow(ctx, start)
    query.stop()
    Main.mark("stream stopped")

    // one op per event, of one kind whatever its verb: due time -> commit end
    val lagOf = applied.asScala.map { case (off, end, traced) => off -> (end, traced) }.toMap
    val byBatch = progress.asScala.toSeq
    timed.take(sent).zipWithIndex.foreach { case (e, i) =>
      val due = t0Ns + (e.offMs - base) * 1000000L
      lagOf.get(e.offMs) match {
        case Some((end, traced)) => out.ops += OpRec(i, "event", due, end, ok = true, traced = traced)
        case None => out.ops += OpRec(i, "event", due, due, ok = false)
      }
    }
    // throughput: events committed by the last commit inside the window,
    // per second up to that commit
    val lastCommit = applied.asScala.map(_._2).filter(_ <= windowEnd).maxOption.getOrElse(windowEnd)
    out.e2e("ops_per_s") = committedInWindow / ((lastCommit - t0Ns) / 1e9)
    out.layer("stream.backlog_end") = (sent - committedInWindow).toDouble
    out.layer("gen.late_ms") = Stats.median(late.toSeq)
    def dur(k: String) = byBatch.flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue))
    Seq("stream.trigger_ms" -> "triggerExecution", "stream.latest_offset_ms" -> "latestOffset",
      "stream.planning_ms" -> "queryPlanning", "stream.add_batch_ms" -> "addBatch",
      "stream.wal_commit_ms" -> "walCommit").foreach { case (m, k) =>
      val v = dur(k); if (v.nonEmpty) out.layer(m) = Stats.median(v) }
    out.layer("stream.rows_per_batch") = Stats.mean(byBatch.map(_.numInputRows.toDouble))

    // check: the lake table against each key's last state in the log
    val want = mutable.HashMap[Long, Double]() ++= seedState
    events.take(WarmupEvents + sent).foreach { e =>
      if (e.op == "d") want.remove(e.key) else want(e.key) = e.after.get }
    val got = new Snapshots(ctx.spark, root).read("state").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    if (got != want.toMap) {
      out.notes += s"final state differs from the log's last state per key: ${got.size} keys vs ${want.size}, " +
        s"${(got.toSet -- want.toSet).take(3)} / ${(want.toSet -- got.toSet).take(3)}"
      out.ops.indices.foreach(i => out.checkFailed += i.toLong)
    }
    out.notes += s"events: $sent offered at $Rate/s, $committedInWindow committed in the window"
  }
}
