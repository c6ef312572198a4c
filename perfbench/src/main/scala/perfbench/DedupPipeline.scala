package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.pipeline.{Dedup, TextOps}
import graft.sources.Snapshots

/** `dedup_pipeline`: a corpus curated one batch at a time (closed
  * loop). Each batch runs graft's text features, exact dedup on the
  * content fingerprint, MinHash and containment near-dup pairs, and
  * appends the kept documents to a lake table. The corpus is generated
  * with exact and near duplicates injected at fixed rates, so the kept
  * set has exact ground truth.
  */
object DedupPipeline extends Workload {
  /** One batch is one source's documents: sf0.1 `documents` holds 20
    * sources of 250 documents each, and so does the generated corpus.
    */
  val BatchDocs = 250
  val Batches = 20
  /** Shares of each batch that are injected copies of its own documents. */
  val ExactRate = 0.05
  val NearRate = 0.05
  val MinhashThreshold = 0.7
  val ContainmentThreshold = 0.8
  /** The leaks grow the heap by a step per batch, so `heap_mb` is the
    * heap projected to this many batches (about what a window runs at
    * the seed commit), not the heap after however many the window ran.
    */
  val HeapAtBatches = 5
  /** A batch fails its check if it finds fewer injected near pairs. */
  val NearRecallFloor = 0.9

  /** Ground truth of one batch: (original, copy) id pairs. */
  final case class Truth(base: Seq[Long], exact: Seq[(Long, Long)], near: Seq[(Long, Long)])

  private var corpus = ""
  private var root = ""
  private var truth: IndexedSeq[Truth] = IndexedSeq.empty

  /** Batch `b`: base documents, then exact copies, then near copies
    * (one word replaced, or the last tenth cut), each copy with a
    * higher id than its original.
    */
  def genBatch(text: Gen.Text, r: Random, b: Int): (Seq[(Long, String, Int)], Truth) = {
    val nExact = (BatchDocs * ExactRate).toInt
    val nNear = (BatchDocs * NearRate).toInt
    val nBase = BatchDocs - nExact - nNear
    val id0 = b.toLong * BatchDocs
    val base = (0 until nBase).map(i => (id0 + i, text.doc(r)._1))
    val origins = r.shuffle(base.filter(_._2.count(_ == ' ') >= 40)).take(nExact + nNear)
    val exact = origins.take(nExact).zipWithIndex.map { case ((oid, t), i) =>
      (oid, (id0 + nBase + i, t)) }
    val near = origins.drop(nExact).zipWithIndex.map { case ((oid, t), i) =>
      val ws = t.split(' ')
      // the replacement must differ, or the copy is exact, not near
      val other = Iterator.continually(text.word(r)).find(_ != ws(ws.length / 2)).get
      val copy =
        if (i % 2 == 0) ws.updated(ws.length / 2, other).mkString(" ")
        else ws.take(ws.length - ws.length / 10).mkString(" ")
      (oid, (id0 + nBase + nExact + i, copy))
    }
    val docs = (base ++ exact.map(_._2) ++ near.map(_._2)).map { case (id, t) => (id, t, b) }
    (docs, Truth(base.map(_._1), exact.map(e => (e._1, e._2._1)), near.map(e => (e._1, e._2._1))))
  }

  def inputs(ctx: Ctx): Unit = {
    corpus = s"${ctx.inputs}/corpus.parquet"
    val text = new Gen.Text(ctx.seed)
    val r = new Random(ctx.seed)
    val gen = (0 until Batches).map(b => genBatch(text, r, b))
    truth = gen.map(_._2)
    ctx.spark.createDataFrame(gen.flatMap(_._1)).toDF("doc_id", "text", "batch")
      .repartition(col("batch")).write.partitionBy("batch").parquet(corpus)
    val gt = new java.io.PrintWriter(s"${ctx.inputs}/dedup_truth.jsonl", "UTF-8")
    try truth.zipWithIndex.foreach { case (t, b) =>
      gt.println(Json.obj(Seq("batch" -> b, "exact" -> t.exact.map(p => Seq(p._1, p._2)),
        "near" -> t.near.map(p => Seq(p._1, p._2)))))
    } finally gt.close()
  }

  def setup(ctx: Ctx): Unit = {
    root = s"${ctx.work}/lakes/curated"
    // warm-up: the whole pipeline once, on the last batch (the window
    // never reaches it), into a lake of its own
    Main.timed("warmup") {
      val lake = s"${ctx.work}/lakes/warmup"
      runBatch(ctx, ctx.spark.read.parquet(s"$corpus/batch=${Batches - 1}"), lake)
      val end = System.nanoTime() + (ctx.warmSeconds * 1e9).toLong
      Iterator.from(0).takeWhile(b => System.nanoTime() < end && b < Batches - 1)
        .foreach(b => runBatch(ctx, ctx.spark.read.parquet(s"$corpus/batch=$b"), lake))
    }
  }

  /** One batch through the pipeline; returns the near pairs found and
    * the number of documents appended.
    */
  private def runBatch(ctx: Ctx, in: DataFrame, lake: String): (Set[(Long, Long)], Long) = {
    val text = col("text")
    val feats = Trace.span("pipeline.features") {
      val f = in.select(col("doc_id"), text, TextOps.langIdCol(text).as("lang"),
          TextOps.qualityScoreCol(text).as("quality"), TextOps.tokenCountCol(text).as("ntok"),
          TextOps.fingerprintCol(text).as("fp"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      f.count(); f
    }
    try {
      val kept = Trace.span("pipeline.exact") {
        val firsts = feats.groupBy("fp").agg(min("doc_id").as("doc_id"))
        val k = feats.join(firsts.select("doc_id"), Seq("doc_id"), "left_semi")
          .persist(StorageLevel.MEMORY_AND_DISK)
        k.count(); k
      }
      try {
        val mh = Trace.span("pipeline.minhash") {
          Dedup.minhashPairs(kept, "doc_id", "text", MinhashThreshold)
            .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
        }
        val ct = Trace.span("pipeline.containment") {
          Dedup.containmentPairs(kept, "doc_id", "text", ContainmentThreshold)
            .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
        }
        val pairs = (mh ++ ct).map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
        // of each near pair the later document goes
        val drop = ctx.spark.createDataFrame(pairs.toSeq.map(p => Tuple1(p._2))).toDF("doc_id")
        val n = Trace.span("pipeline.append") {
          val out = kept.join(broadcast(drop), Seq("doc_id"), "left_anti")
            .select("doc_id", "text", "lang", "quality", "ntok")
          new Snapshots(ctx.spark, lake).append("docs", out, statsCols = Seq("doc_id"))
          out.count()
        }
        (pairs, n)
      } finally kept.unpersist()
    } finally feats.unpersist()
  }

  def run(ctx: Ctx, seconds: Double, out: Outcome): Unit = {
    val found = mutable.ArrayBuffer[Set[(Long, Long)]]()
    var appended = 0L
    Loop.closed(ctx, seconds, out) { i =>
      require(i < Batches - 1, s"the window outran the $Batches generated batches")
      ("batch", () => {
        val (pairs, n) = runBatch(ctx, ctx.spark.read.parquet(s"$corpus/batch=$i"), root)
        found += pairs; appended += n
        (true, -1L)
      })
    }
    // retained heap grows linearly in batches run (the leaks); project
    // the growth this window measured to a fixed count
    out.heapMb = out.heapStartMb + (out.heapMb - out.heapStartMb) / out.ops.size * HeapAtBatches
    // checks against the injected ground truth
    val kept = new Snapshots(ctx.spark, root).read("docs").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    var exactHit, exactAll, nearHit, nearAll = 0
    out.ops.indices.foreach { b =>
      val t = truth(b)
      val exactGone = t.exact.count { case (o, c) => !kept(c) && kept(o) }
      val nearFound = t.near.count(p => found(b).contains(p))
      val nearGone = t.near.count { case (_, c) => !kept(c) }
      exactHit += exactGone; exactAll += t.exact.size
      nearHit += nearFound; nearAll += t.near.size
      val baseKept = t.base.forall(kept)
      val recall = nearFound.toDouble / math.max(1, t.near.size)
      if (exactGone < t.exact.size || !baseKept || nearGone < nearFound || recall < NearRecallFloor) {
        out.checkFailed += b.toLong
        if (out.notes.size < 20) out.notes += s"batch $b: exact removed $exactGone/${t.exact.size}, " +
          s"base kept $baseKept, near found $nearFound/${t.near.size}"
      }
    }
    val docsIn = out.ops.size.toLong * BatchDocs
    out.layer("pipeline.docs_kept_frac") = kept.size.toDouble / math.max(1L, docsIn)
    out.layer("pipeline.exact_recall") = exactHit.toDouble / math.max(1, exactAll)
    out.layer("pipeline.near_recall") = nearHit.toDouble / math.max(1, nearAll)
    out.layer("pipeline.near_pairs") = Stats.mean(found.map(_.size.toDouble).toSeq)
    out.notes += s"batches: ${out.ops.size} x $BatchDocs docs; appended $appended; kept ${kept.size}"
  }
}
