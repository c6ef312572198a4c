package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.sources.{Catalog, GraftCatalog, Snapshots}
import graft.sql.{Query, SqlFrag, ToField}

/** `lake_dml`: one client, closed loop, sending SQL text through
  * `GraftCatalog` to one lake table seeded from `orders`: range and
  * point reads beside INSERT, UPDATE, DELETE, MERGE and a periodic
  * compaction of the hot slice. The op log and its expected results
  * come from an in-memory replay model, generated from the seed before
  * the window; after the window the table is compared with the model,
  * once through the catalog and once through a fresh `Snapshots`
  * opened on the same root.
  */
object LakeDml extends Workload with AdaptiveSparkPlanHelper {
  val Table = "graft.bench.orders"
  val Cols = "o_orderkey, o_custkey, o_orderstatus, price_cents, o_orderdate, o_orderpriority"
  /** Rows per INSERT and per MERGE batch. */
  val InsertRows = 100
  val MergeRows = 50
  /** Compact the hot slice after this many writes (once a block). */
  val CompactEvery = 4
  /** Ops generated ahead of the window; more than any window runs. */
  val LogOps = 800

  final case class Rec(key: Long, cust: Long, status: String, cents: Long, day: Int, prio: String) {
    def sqlValues: String =
      s"(${key}L, ${cust}L, '$status', ${cents}L, DATE'${Gen.Day0.plusDays(day.toLong)}', '$prio')"
    def show: String = s"$key|$cust|$status|$cents|${Gen.Day0.plusDays(day.toLong)}|$prio"
  }

  /** The replay model: the table as the op log says it must be. */
  final class Model {
    val rows = mutable.HashMap[Long, Rec]()
    val byDay = mutable.HashMap[Int, mutable.Set[Long]]()
    private val keys = mutable.ArrayBuffer[Long]()
    private val slot = mutable.HashMap[Long, Int]()
    var maxDay = 0
    var nextKey = 0L

    def put(r: Rec): Unit = {
      rows.get(r.key).foreach(old => byDay(old.day) -= old.key)
      if (!slot.contains(r.key)) { slot(r.key) = keys.size; keys += r.key }
      rows(r.key) = r
      byDay.getOrElseUpdate(r.day, mutable.Set[Long]()) += r.key
      maxDay = math.max(maxDay, r.day); nextKey = math.max(nextKey, r.key + 1)
    }
    def remove(k: Long): Unit = rows.remove(k).foreach { r =>
      byDay(r.day) -= k
      val i = slot.remove(k).get; val last = keys.remove(keys.size - 1)
      if (last != k) { keys(i) = last; slot(last) = i }
    }
    def randomKey(r: Random): Long = keys(r.nextInt(keys.size))
    def inDays(a: Int, b: Int): Iterator[Rec] =
      (a to b).iterator.flatMap(d => byDay.getOrElse(d, Nil).iterator.map(rows))
  }

  /** One statement of the op log: a `graft.sql.Query` template and its
    * rendered arguments. `apply` runs it on the model and returns
    * (expected read result, rows changed).
    */
  final case class DmlOp(kind: String, tpl: Query, args: Seq[String],
                         apply: Model => (Option[String], Long), block: Int = 0) {
    def sql: String = tpl.formatRendered(args)
  }

  private def date(d: Int) = ToField.fragField.render(SqlFrag(s"DATE'${Gen.Day0.plusDays(d.toLong)}'"))
  private def long(v: Long) = ToField.longField.render(v)

  val RangeRead: Query = Query(
    s"""SELECT c.c_mktsegment, count(*) AS n, sum(o.price_cents) AS s
       |FROM $Table o JOIN customer c ON o.o_custkey = c.c_custkey
       |WHERE o.o_orderdate BETWEEN {1} AND {2}
       |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin)
  val PointRead: Query = Query(s"SELECT $Cols FROM $Table WHERE o_orderkey = {1}")
  val ScanRead: Query = Query(s"SELECT o_orderkey, price_cents FROM $Table WHERE o_orderdate BETWEEN {1} AND {2}")
  val Insert: Query = Query(s"INSERT INTO $Table VALUES {1}")
  val Update: Query = Query(s"UPDATE $Table SET price_cents = price_cents + {1} WHERE o_orderdate BETWEEN {2} AND {3}")
  val Delete: Query = Query(s"DELETE FROM $Table WHERE o_orderdate BETWEEN {1} AND {2}")
  val Merge: Query = Query(
    s"""MERGE INTO $Table t USING (SELECT * FROM VALUES {1} AS s($Cols)) s
       |ON t.o_orderkey = s.o_orderkey
       |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
  val Compact: Query = Query("CALL graft.system.compact_where('bench', 'orders', 'o_orderdate', {1}, {2})")

  /** Order-free digest of (key, cents) rows, for the streamed scan. */
  def digest(rows: Iterator[(Long, Long)]): String = {
    var n = 0L; var h = 0L
    rows.foreach { case (k, c) => n += 1; h += k * 1000003L + c }
    s"$n|$h"
  }

  def genOps(r: Random, m: Model, segment: Long => String): IndexedSeq[DmlOp] = {
    def recent(k: Long) = Rec(k, r.nextInt(Gen.Customers).toLong, Gen.Statuses(r.nextInt(3)),
      100000L + r.nextInt(49900000), m.maxDay - r.nextInt(60), Gen.Priorities(r.nextInt(5)))
    def values(rs: Seq[Rec]) = ToField.fragField.render(SqlFrag(rs.map(_.sqlValues).mkString(", ")))
    def rangeRead = { val a = r.nextInt(m.maxDay - 7); val b = a + 6
      DmlOp("read_range", RangeRead, Seq(date(a), date(b)), mm => {
        val bySeg = mm.inDays(a, b).toSeq.groupBy(x => segment(x.cust)).toSeq.sortBy(_._1)
        (Some(bySeg.map { case (sg, rs) => s"$sg|${rs.size}|${rs.map(_.cents).sum}" }.mkString("[", ",", "]")), 0L)
      }) }
    def pointRead = { val k = if (r.nextInt(5) == 0) m.nextKey + 1000 + r.nextInt(1000) else m.randomKey(r)
      DmlOp("read_point", PointRead, Seq(long(k)),
        mm => (Some(mm.rows.get(k).map(x => s"[${x.show}]").getOrElse("[]")), 0L)) }
    def scanRead = { val a = r.nextInt(m.maxDay - 30)
      DmlOp("read_scan", ScanRead, Seq(date(a), date(a + 29)),
        mm => (Some(digest(mm.inDays(a, a + 29).map(x => (x.key, x.cents)))), 0L)) }
    def insert = { val rs = (0 until InsertRows).map(i => recent(m.nextKey + i))
      DmlOp("insert", Insert, Seq(values(rs)), mm => { rs.foreach(mm.put); (None, rs.size.toLong) }) }
    def update = { val a = r.nextInt(m.maxDay - 3); val d = 1 + r.nextInt(500)
      DmlOp("update", Update, Seq(long(d), date(a), date(a + 2)), mm => {
        val rs = mm.inDays(a, a + 2).toList; rs.foreach(x => mm.put(x.copy(cents = x.cents + d)))
        (None, rs.size.toLong) }) }
    def delete = { val a = r.nextInt(m.maxDay)
      DmlOp("delete", Delete, Seq(date(a), date(a)), mm => {
        val ks = mm.inDays(a, a).map(_.key).toList; ks.foreach(mm.remove); (None, ks.size.toLong) }) }
    def merge = {
      // upserts hit recent orders: live keys near the top plus new keys
      val hot = (0 until MergeRows / 2).map(_ => m.nextKey - 1 - r.nextInt(3000))
        .filter(m.rows.contains).distinct
      val rs = hot.map(k => m.rows(k).copy(cents = 100000L + r.nextInt(49900000),
        status = Gen.Statuses(r.nextInt(3)))) ++
        (0 until MergeRows / 2).map(i => recent(m.nextKey + i))
      DmlOp("merge", Merge, Seq(values(rs)), mm => { rs.foreach(mm.put); (None, rs.size.toLong) })
    }
    def compact = DmlOp("compact", Compact,
      Seq(ToField.stringField.render(Gen.Day0.plusDays(m.maxDay.toLong - 120).toString),
        ToField.stringField.render(Gen.Day0.plusDays(m.maxDay.toLong + 60).toString)),
      _ => (None, 0L))

    // blocks of one statement of each kind, in a fixed order, and a
    // compaction of the hot slice after every 4 writes (once a block).
    // No traffic this table sees is on record, so the mix is an
    // unverified assumption: every kind equally often.
    val block = Seq("read_range", "read_point", "insert", "update", "read_scan", "delete", "merge")
    val ops = mutable.ArrayBuffer[DmlOp]()
    var writes = 0
    var b = 0
    while (ops.size < LogOps) {
      block.foreach { k =>
        val op = k match {
          case "read_range" => rangeRead
          case "read_point" => pointRead
          case "read_scan" => scanRead
          case "insert" => insert
          case "update" => update
          case "delete" => delete
          case "merge" => merge
        }
        // generation runs the model forward, so later ops see its state
        op.apply(m)
        ops += op.copy(block = b)
        if (!k.startsWith("read")) {
          writes += 1
          if (writes % CompactEvery == 0) ops += compact.copy(block = b)
        }
      }
      b += 1
    }
    ops.toIndexedSeq
  }

  private var ops: IndexedSeq[DmlOp] = IndexedSeq.empty
  private var root = ""
  private var seedBytesPerRow = 0.0

  private def freshModel(): Model = {
    val m = new Model
    seedRows.foreach(m.put)
    m
  }

  private var seedRows: Seq[Rec] = Nil

  def inputs(ctx: Ctx): Unit = {
    val s = ctx.spark
    import s.implicits._
    seedRows = Gen.orders(ctx.seed).map { case (k, c, st, cents, d, p) => Rec(k, c, st, cents, d, p) }
    seedRows.map(x => (x.key, x.cust, x.status, x.cents, Gen.Day0.plusDays(x.day.toLong), x.prio))
      .toDF(Cols.split(", ").toSeq: _*).write.parquet(s"${ctx.inputs}/orders_seed.parquet")
    val customers = Gen.customers(ctx.seed)
    customers.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.parquet(s"${ctx.inputs}/customer.parquet")
    val segment = customers.map(c => c._1 -> c._5).toMap
    ops = genOps(new Random(ctx.seed), freshModel(), segment)
    val log = new java.io.PrintWriter(s"${ctx.inputs}/dml_op_log.sql", "UTF-8")
    try ops.foreach(o => log.println(o.sql.replace('\n', ' ') + ";")) finally log.close()
  }

  def setup(ctx: Ctx): Unit = {
    val s = ctx.spark
    val lakes = s"${ctx.work}/lakes"
    root = s"$lakes/bench"
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root", lakes)
    // date-clustered files, with stats on date and key and a bloom on the key
    Main.timed("lake.seed") {
      val seedDf = s.read.parquet(s"${ctx.inputs}/orders_seed.parquet")
      new Snapshots(s, root).commit(
        Map("orders" -> seedDf.repartitionByRange(16, col("o_orderdate")).sortWithinPartitions("o_orderdate")),
        statsCols = Map("orders" -> Seq("o_orderdate", "o_orderkey")),
        bloomCols = Map("orders" -> Seq("o_orderkey")))
    }
    seedBytesPerRow = dataBytes(root).toDouble / Gen.Orders
    Main.timed("catalog.register") {
      Catalog.table(s, ctx.inputs, "customer").createOrReplaceTempView("customer")
    }
    // warm-up: each read once, and writes that match no row; the first
    // set-up also runs the op log for a while, on its own lake
    Main.timed("warmup") {
      Seq("read_range", "read_point", "read_scan").foreach(k => execute(ctx, ops.find(_.kind == k).get))
      s.sql(Update.formatRendered(Seq("1", date(-2000), date(-1999))))
      s.sql(Delete.formatRendered(Seq(date(-2000), date(-1999))))
      val end = System.nanoTime() + (ctx.warmSeconds * 1e9).toLong
      ops.iterator.takeWhile(_ => System.nanoTime() < end).foreach(execute(ctx, _))
    }
  }

  /** What the client got back: a read's rows as text (the streamed
    * scan: their digest), first-row time, rows, and the read's frame.
    */
  final case class Reply(got: Option[String], firstNs: Long = -1L, rows: Long = 0L,
                         df: Option[DataFrame] = None)

  /** One statement the way the client sends it. */
  private def execute(ctx: Ctx, op: DmlOp): Reply = {
    val text = Trace.span("sql.render")(op.sql)
    if (!op.kind.startsWith("read")) {
      // a statement runs inside spark.sql (parse, analysis and the lake
      // verb together), so from outside its whole time is the lake's
      ctx.spark.sql(text)
      Reply(None)
    } else {
      val df = Trace.span("catalyst.analyze")(ctx.spark.sql(text))
      Trace.span("catalyst.plan")(df.queryExecution.executedPlan)
      var first = -1L
      var n = 0L
      val got =
        if (op.kind == "read_scan") {
          val it = Trace.span("exec.first_row") {
            val it = df.toLocalIterator(); it.hasNext; first = System.nanoTime(); it
          }
          Trace.span("exec.drain")(digest(new Iterator[(Long, Long)] {
            def hasNext: Boolean = it.hasNext
            def next(): (Long, Long) = { val r = it.next(); n += 1; (r.getLong(0), r.getLong(1)) }
          }))
        } else {
          val rows = Trace.span("exec.first_row") { val a = df.collect(); first = System.nanoTime(); a }
          n = rows.length
          Trace.span("exec.drain")(rows.map(_.toSeq.mkString("|")).mkString("[", ",", "]"))
        }
      Reply(Some(got), first, n, Some(df))
    }
  }

  /** (path -> bytes) of every file under the lake. */
  def listing(dir: String): Map[String, Long] = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      val st = java.nio.file.Files.walk(p)
      try st.filter(java.nio.file.Files.isRegularFile(_)).iterator().asScalaIterator(x =>
        x.toString -> java.nio.file.Files.size(x)).toMap
      finally st.close()
    }
  }
  private implicit class JIt[A](it: java.util.Iterator[A]) {
    def asScalaIterator[B](f: A => B): Iterator[B] = new Iterator[B] {
      def hasNext: Boolean = it.hasNext; def next(): B = f(it.next())
    }
  }
  private def dataBytes(dir: String): Long =
    listing(dir).filter { case (p, _) => p.endsWith(".parquet") && !p.contains("/_") }.values.sum

  private def liveFiles(ctx: Ctx): (Long, Long) = {
    val r = ctx.spark.sql(s"SELECT count(*), sum(size_bytes) FROM graft.bench.`orders$$files`").head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def run(ctx: Ctx, seconds: Double, out: Outcome): Unit = {
    val s = ctx.spark
    val model = freshModel()
    val before = listing(root)
    var changed = 0L
    var executed = 0
    val perVerb = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    def note(k: String, v: Double) = perVerb.getOrElseUpdate(k, mutable.ArrayBuffer()) += v
    // a traced op's files written and files scanned are counted between
    // ops, off the op's clock and outside every span
    var pre = Map.empty[String, Long]
    var reply = Reply(None)
    def countFiles(i: Long): Unit = if (Loop.traced(ctx, ops(i.toInt).block)) {
      val kind = ops(i.toInt).kind
      if (kind.startsWith("read")) {
        val scanned = reply.df.map(df => collect(df.queryExecution.executedPlan) {
          case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
        }.sum).getOrElse(0L)
        note(s"$kind.files_scanned_frac", scanned.toDouble / math.max(1L, liveFiles(ctx)._1))
      } else {
        val post = listing(root)
        val added = post.keySet -- pre.keySet
        note(s"$kind.files_written", added.count(p => p.endsWith(".parquet") && !p.contains("/_")))
        note(s"$kind.bytes_written", added.toSeq.map(post).sum)
      }
    }
    Loop.closed(ctx, seconds, out, blockOf = i => ops(i.toInt).block.toLong, after = countFiles) { i =>
      val op = ops(i.toInt)
      val (expected, rows) = op.apply(model)
      changed += rows; executed += 1
      reply = Reply(None)
      if (Loop.traced(ctx, op.block) && !op.kind.startsWith("read")) pre = listing(root)
      (op.kind, () => {
        reply = Trace.span(s"lake.${op.kind}")(execute(ctx, op))
        val got = reply.got
        if (op.kind.startsWith("read")) out.countRows(reply.rows)
        val ok = expected.forall(e => got.contains(e))
        if (!ok && out.notes.size < 20) out.notes += s"op $i ${op.kind}: got ${got.map(_.take(200))} want ${expected.map(_.take(200))}"
        (ok, reply.firstNs)
      })
    }
    val after = listing(root)
    val written = (after.keySet -- before.keySet).toSeq.map(after).sum
    out.e2e("write_amp") = written / math.max(1.0, changed * seedBytesPerRow)
    val counted = out.ops.filter(o => o.counted && o.ok)
    val reads = counted.filter(_.kind.startsWith("read")).map(_.ms)
    val writes = counted.filterNot(_.kind.startsWith("read")).map(_.ms)
    if (reads.nonEmpty) out.e2e("read_p50_ms") = Stats.median(reads.toSeq)
    if (writes.nonEmpty) out.e2e("write_p50_ms") = Stats.median(writes.toSeq)
    perVerb.foreach { case (k, v) => out.layer(s"lake.$k") = Stats.mean(v.toSeq) }

    // end-of-window lake shape
    val (live, liveBytes) = liveFiles(ctx)
    out.layer("lake.live_files_end") = live.toDouble
    out.layer("lake.manifest_bytes_end") =
      after.filter { case (p, _) => p.contains("/_commits/") }.values.sum.toDouble
    out.layer("lake.space_amp_end") = after.values.sum.toDouble / math.max(1L, liveBytes)

    // checks: the final table against the replay of the executed op log,
    // through the catalog and through a fresh Snapshots on the same root
    val want = model.rows.values.map(_.show).toSet
    def same(df: DataFrame, via: String): Boolean = {
      val got = df.select(Cols.split(", ").map(col).toSeq: _*).collect().map(_.toSeq.mkString("|"))
      val ok = got.length == want.size && got.toSet == want
      if (!ok) out.notes += s"final table via $via differs from the op-log replay: " +
        s"${got.length} rows vs ${want.size}, ${(got.toSet -- want).take(3)} / ${(want -- got.toSet).take(3)}"
      ok
    }
    val viaCatalog = same(s.sql(s"SELECT * FROM $Table"), "catalog")
    val reopened = same(new Snapshots(s, root).read("orders"), "fresh Snapshots")
    // a wrong final table fails every write the window ran
    if (!viaCatalog || !reopened)
      out.ops.filterNot(_.kind.startsWith("read")).foreach(o => out.checkFailed += o.id)
    out.notes += s"ops executed: $executed of $LogOps in the log; rows changed: $changed"
  }
}
