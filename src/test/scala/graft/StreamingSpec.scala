package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Ev

/** Drives the genuinely-streaming paths: the windowed readStream
  * aggregation to a memory sink, and the flatMapGroupsWithState
  * sessionizer fed out-of-order micro-batches through MemoryStream.
  */
class StreamingSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("change-feed source: lake commits stream as micro-batches with per-version attribution") {
    import org.apache.spark.sql.functions._
    import graft.sources.{FileStats, Snapshots}
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("cfeed").toString
    val root = base + "/lake"
    val snap = new Snapshots(spark, root)
    snap.commit(Map("t" -> (1L to 30L).map(i => (i, i * 2.0)).toDF("id", "v")
      .repartitionByRange(3, col("id"))), Map("t" -> Seq("id")))       // v1
    snap.append("t", Seq((31L, 62.0)).toDF("id", "v"), statsCols = Seq("id")) // v2

    val feed = spark.readStream
      .format("graft.sources.ChangeFeed")
      .option("path", root).option("table", "t")
      .option("startingVersion", "0")
      .load()
    assert(feed.columns.toSeq == Seq("id", "v", "_change", "_commit_version"))
    // foreachBatch collector (the memory sink cannot recover from a
    // checkpoint, and the restart leg below needs one)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, String, Long)]
    def start() = feed.writeStream
      .option("checkpointLocation", base + "/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val rows = batch.collect().map(r =>
          (r.getLong(0), r.getDouble(1), r.getString(2), r.getLong(3)))
        got.synchronized { got ++= rows }
        ()
      }.start()
    val q = start()
    try {
      q.processAllAvailable()
      // backfill: every committed row arrives as 'added', attributed to
      // its producing version
      assert(got.count(r => r._4 == 1L && r._3 == "added") == 30)
      assert(got.filter(_._4 == 2L).map(_._1) == Seq(31L))
      assert(!got.exists(_._3 == "removed"))

      // a LIVE delete lands as its file diff: pre-images removed,
      // surviving riders of the touched file re-added
      snap.deleteWhere("t", Seq(FileStats.ColRange("id", Some(5L), Some(7L))),
        statsCols = Seq("id"))                                          // v3
      q.processAllAvailable()
      assert(got.exists(r => r._4 == 3L && r._3 == "removed"),
        "delete must emit pre-images")
      // the NET view reconstructed from the full feed equals the table head
      val net = got.groupBy(r => (r._1, r._2))
        .map { case (k, rs) => k -> rs.map(r => if (r._3 == "added") 1 else -1).sum }
        .filter(_._2 > 0).keySet.map(_._1)
      val want = snap.read("t").select("id").as[Long].collect().toSet
      assert(net == want, s"feed-reconstructed state diverged: ${net.size} vs ${want.size}")
      assert(!net.exists(id => id >= 5L && id <= 7L))
    } finally q.stop()

    // a RESTART from the same checkpoint replays nothing (offsets are
    // versions; committed batches stay committed)
    val sizeBefore = got.size
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(got.size == sizeBefore,
        "restart from the committed checkpoint must deliver no duplicate rows")
      // ...and a commit AFTER the restart picks up exactly its delta
      snap.append("t", Seq((40L, 80.0)).toDF("id", "v"), statsCols = Seq("id"))
      q2.processAllAvailable()
      assert(got.drop(sizeBefore).map(r => (r._1, r._3)) == Seq((40L, "added")))
    } finally q2.stop()
  }

  test("change-feed admission control: AvailableNow drains in bounded one-version batches") {
    import org.apache.spark.sql.functions._
    import graft.sources.Snapshots
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("cfeed2").toString
    val root = base + "/lake"
    val snap = new Snapshots(spark, root)
    snap.commit(Map("t" -> Seq((1L, 1.0)).toDF("id", "v")))              // v1
    snap.append("t", Seq((2L, 2.0)).toDF("id", "v"))                     // v2
    snap.append("t", Seq((3L, 3.0)).toDF("id", "v"))                     // v3

    val batches = scala.collection.mutable.ArrayBuffer.empty[Set[Long]] // versions per batch
    val rows = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream
      .format("graft.sources.ChangeFeed")
      .option("path", root).option("table", "t")
      .option("startingVersion", "0")
      .option("maxVersionsPerTrigger", "1")
      .load()
      .writeStream
      .option("checkpointLocation", base + "/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val r = b.collect()
        if (r.nonEmpty) batches.synchronized {
          batches += r.map(_.getLong(3)).toSet
          rows ++= r.map(_.getLong(0))
        }
        ()
      }.start()
    // AvailableNow must TERMINATE once the at-start head is consumed
    assert(q.awaitTermination(120000), "AvailableNow query must stop on its own")
    assert(batches.size == 3, s"3 versions at 1/trigger should arrive as 3 batches: $batches")
    assert(batches.forall(_.size == 1), s"each batch spans exactly one version: $batches")
    assert(rows.sorted == Seq(1L, 2L, 3L))
  }

  test("change feed prunes columns: a narrow SELECT narrows the per-file parquet read") {
    import org.apache.spark.sql.functions._
    import graft.sources.{ChangeFeed, Snapshots}
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("cfprune").toString
    val snap = new Snapshots(spark, base + "/lake")
    snap.commit(Map("t" -> (1L to 20L).map(i => (i, s"pad$i", i * 2.0, i % 7))
      .toDF("id", "pad", "v", "w")))
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = spark.readStream
      .format("graft.sources.ChangeFeed")
      .option("path", base + "/lake").option("table", "t")
      .option("startingVersion", "0")
      .option("columns", "id") // declared projection: the IO-bearing cut
      .load()
      .select(col("id"), col("_commit_version"))
      .writeStream
      .option("checkpointLocation", base + "/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val rows = b.collect().map(r => (r.getLong(0), r.getLong(1)))
        got.synchronized { got ++= rows }
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(got.size == 20 && got.forall(_._2 == 1L))
    // the machine assert: the planned schema carries ONLY the declared
    // data column (+ the virtual meta columns, which cost zero IO) —
    // pad/v/w never reach the parquet reader
    val planned = ChangeFeed.lastPlannedSchema.fieldNames.toSeq
    assert(planned == Seq("id", "_change", "_commit_version"),
      s"scan not narrowed: read $planned")
  }

  test("change feed startingTimestamp: only versions committed after the timestamp stream") {
    import org.apache.spark.sql.functions._
    import graft.sources.Snapshots
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("cfts").toString
    val snap = new Snapshots(spark, base + "/lake")
    snap.commit(Map("t" -> (1L to 10L).map(i => (i, i * 1.0)).toDF("id", "v"))) // v1
    Thread.sleep(150)
    val ts = System.currentTimeMillis()
    Thread.sleep(150)
    snap.append("t", Seq((99L, 9.0)).toDF("id", "v"))                            // v2
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream
      .format("graft.sources.ChangeFeed")
      .option("path", base + "/lake").option("table", "t")
      .option("startingTimestamp", ts.toString)
      .load()
      .writeStream
      .option("checkpointLocation", base + "/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val rows = b.collect().map(_.getLong(0))
        got.synchronized { got ++= rows }
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(got.toSeq == Seq(99L),
      s"feed from ts must deliver only post-ts commits, got $got")
    // both start options together must be rejected loudly
    val e = intercept[Exception] {
      spark.readStream.format("graft.sources.ChangeFeed")
        .option("path", base + "/lake").option("table", "t")
        .option("startingVersion", "0").option("startingTimestamp", ts.toString)
        .load()
        .writeStream.option("checkpointLocation", base + "/ckpt2")
        .foreachBatch((_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => ())
        .start()
        .processAllAvailable()
    }
    assert(e.getMessage != null)
  }

  test("change feed skips maintenance versions: compaction emits no churn") {
    import org.apache.spark.sql.functions._
    import graft.sources.{FileStats, Snapshots}
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("cfeed3").toString
    val root = base + "/lake"
    val snap = new Snapshots(spark, root)
    snap.commit(Map("t" -> (1L to 40L).map(i => (i, i * 2.0)).toDF("id", "v")
      .repartitionByRange(4, col("id"))), Map("t" -> Seq("id")))          // v1
    snap.append("t", Seq((41L, 82.0)).toDF("id", "v"), statsCols = Seq("id")) // v2

    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    def drain(): Unit = {
      val q = spark.readStream
        .format("graft.sources.ChangeFeed")
        .option("path", root).option("table", "t").option("startingVersion", "0")
        .load()
        .writeStream
        .option("checkpointLocation", base + "/ckpt")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val rows = b.collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3)))
          got.synchronized { got ++= rows }
          ()
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    assert(got.size == 41 && got.forall(_._2 == "added"))

    // compaction rewrites every file — but rows are invariant, so the
    // feed must deliver NOTHING for the @maint version
    snap.compact("t", targetBytes = 1L << 20, sortCol = Some("id"), statsCols = Seq("id")) // v3
    val sizeBefore = got.size
    drain()
    assert(got.size == sizeBefore,
      s"compaction churn leaked into the feed: ${got.drop(sizeBefore)}")

    // the walk's file-set cursor advanced THROUGH the skipped version: a
    // delete now diffs against the compacted layout and must emit its
    // pre-images exactly once
    snap.deleteWhere("t", Seq(FileStats.ColRange("id", Some(10L), Some(12L))),
      statsCols = Seq("id"))                                              // v4
    drain()
    val tail = got.drop(sizeBefore)
    assert(tail.count(_._2 == "removed") >= 3, s"delete pre-images missing: $tail")
    val net = got.groupBy(_._1)
      .map { case (k, rs) => k -> rs.map(r => if (r._2 == "added") 1 else -1).sum }
      .filter(_._2 > 0).keySet
    val want = snap.read("t").select("id").as[Long].collect().toSet
    assert(net == want, "net feed state diverged from the table head")
  }

  test("change feed reads across a schema-evolution boundary (old files yield null)") {
    import org.apache.spark.sql.functions._
    import graft.sources.Snapshots
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("cfevo").toString
    val snap = new Snapshots(spark, base + "/lake")
    snap.commit(Map("t" -> (1L to 5L).map(i => (i, i * 1.0)).toDF("id", "v")),
      Map("t" -> Seq("id")))                                              // v1: (id, v)
    snap.append("t", Seq((6L, 6.0, "x6")).toDF("id", "v", "tag"),
      statsCols = Seq("id"), mergeSchema = true)                          // v2: + tag
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[String], Long)]
    val q = spark.readStream
      .format("graft.sources.ChangeFeed")
      .option("path", base + "/lake").option("table", "t")
      .option("startingVersion", "0")
      .load()
      .writeStream
      .option("checkpointLocation", base + "/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val rows = b.collect().map(r =>
          (r.getLong(0), Option(r.getAs[String]("tag")), r.getAs[Long]("_commit_version")))
        got.synchronized { got ++= rows }
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    // the feed plans with the HEAD (evolved) schema: v1's files predate
    // the column and must read it as null — the parquet missing-column
    // contract holding through the streaming reader closure
    assert(got.size == 6)
    assert(got.filter(_._3 == 1L).forall(_._2.isEmpty),
      s"pre-evolution rows must carry null tag: $got")
    assert(got.find(_._1 == 6L).get._2.contains("x6"))
  }

  test("change feed delivers merge-on-read deletes as positional removed rows (Delta CDF semantics)") {
    import org.apache.spark.sql.functions._
    import graft.sources.{FileStats, Snapshots}
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("cfdv").toString
    val snap = new Snapshots(spark, base + "/lake")
    snap.commit(Map("t" -> (1L to 20L).map(i => (i, i * 1.0)).toDF("id", "v")),
      Map("t" -> Seq("id")))                                           // v1
    snap.deleteWhereMoR("t", Seq(FileStats.ColRange("id", Some(5L), Some(7L)))) // v2: DV
    snap.updateWhereMoR("t", Seq(FileStats.ColRange("id", Some(10L), Some(10L))),
      Map("v" -> lit(999.0)))                                          // v3: DV + re-append
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, String, Long)]
    def drain(ckpt: String): Unit = {
      val q = spark.readStream
        .format("graft.sources.ChangeFeed")
        .option("path", base + "/lake").option("table", "t")
        .option("startingVersion", "0")
        .load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val rows = b.collect().map(r =>
            (r.getLong(0), r.getDouble(1), r.getString(2), r.getLong(3)))
          got.synchronized { got ++= rows }
          ()
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    drain(base + "/ckpt")
    // v2: ids 5,6,7 leave BY POSITION from unchanged files, attributed
    // to the DV version; v3: id 10 leaves (old value) and re-enters
    // (new value) in one version
    val v2 = got.filter(_._4 == 2L)
    assert(v2.map(r => (r._1, r._3)).sortBy(_._1) ==
      Seq((5L, "removed"), (6L, "removed"), (7L, "removed")), s"v2 delta wrong: $v2")
    val v3 = got.filter(_._4 == 3L)
    assert(v3.exists(r => r._1 == 10L && r._3 == "removed" && r._2 == 10.0) &&
      v3.exists(r => r._1 == 10L && r._3 == "added" && r._2 == 999.0),
      s"MoR update must surface remove(pre)+add(post): $v3")
    // net state equals the DV-applied head read
    val net = got.groupBy(_._1)
      .map { case (k, rs) => k -> rs.map(r => if (r._3 == "added") 1 else -1).sum }
      .filter(_._2 > 0).keySet
    assert(net == snap.read("t").select("id").as[Long].collect().toSet)

    // a compaction MATERIALIZING the vector is maintenance: consumers
    // already received the deletes at the DV version, so no churn now —
    // and the pre-DV wedge is gone (the old error demanded exactly this
    // compact + restart, which could never clear the DV version itself)
    snap.compact("t", targetBytes = 1L << 20, sortCol = Some("id"), statsCols = Seq("id"))
    val sizeBefore = got.size
    drain(base + "/ckpt")
    assert(got.size == sizeBefore,
      s"DV materialization leaked churn: ${got.drop(sizeBefore)}")

    // the refuse option restores the old contract: a stream that must
    // never see positional deltas dies loudly at the DV version
    val q2 = spark.readStream
      .format("graft.sources.ChangeFeed")
      .option("path", base + "/lake").option("table", "t")
      .option("startingVersion", "0").option("refuseDeletionVectors", "true")
      .load()
      .writeStream
      .option("checkpointLocation", base + "/ckpt_refuse")
      .foreachBatch((_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => ())
      .start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable(); q2.awaitTermination(30000); ()
    }
    assert(e.getMessage.contains("deletion vector") ||
      Option(e.getCause).exists(_.getMessage.contains("deletion vector")))
  }

  test("change feed maxBytesPerTrigger: a backlog drains in byte-bounded bites") {
    import org.apache.spark.sql.functions._
    import graft.sources.Snapshots
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("cfbytes").toString
    val snap = new Snapshots(spark, base + "/lake")
    snap.commit(Map("t" -> (1L to 50L).map(i => (i, i * 1.0)).toDF("id", "v")))   // v1
    (1 to 3).foreach(k => snap.append("t",
      (1L to 50L).map(i => (k * 1000L + i, i * 1.0)).toDF("id", "v")))            // v2..v4
    val perBatch = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val q = spark.readStream
      .format("graft.sources.ChangeFeed")
      .option("path", base + "/lake").option("table", "t")
      .option("startingVersion", "0")
      // 1 byte: every version alone overflows the budget, so the
      // backlog must drain one version per micro-batch (progress
      // guarantee admits exactly one)
      .option("maxBytesPerTrigger", "1")
      .load()
      .writeStream
      .option("checkpointLocation", base + "/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val vs = b.select("_commit_version").distinct().collect().map(_.getLong(0)).toSet
        perBatch.synchronized { if (vs.nonEmpty) perBatch += vs }
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(perBatch.size == 4, s"4 versions must arrive as 4 bounded batches: $perBatch")
    assert(perBatch.forall(_.size == 1), s"each batch must carry ONE version: $perBatch")
    assert(perBatch.flatten.toSet == Set(1L, 2L, 3L, 4L))
  }

  test("change feed bin-packs small changed files: task count tracks bytes, not file churn") {
    import org.apache.spark.sql.functions._
    import graft.sources.{ChangeFeed, Snapshots}
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("cfpack").toString
    val snap = new Snapshots(spark, base + "/lake")
    // one version landing 64 tiny files — the small-file churn case
    snap.commit(Map("t" -> (1L to 2000L).map(i => (i, i * 1.0)).toDF("id", "v")
      .repartition(64)), Map("t" -> Seq("id")))
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream
      .format("graft.sources.ChangeFeed")
      .option("path", base + "/lake").option("table", "t")
      .option("startingVersion", "0")
      .load()
      .writeStream
      .option("checkpointLocation", base + "/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val n = b.count()
        got.synchronized { got += n }
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(got.sum == 2000L, s"all rows must arrive, got ${got.sum}")
    // 64 changed files, a few KB each, 128MB maxPartitionBytes → ONE
    // packed partition (the old planner made 64 tasks)
    assert(ChangeFeed.lastPlannedPartitions == 1,
      s"64 tiny files must bin-pack to 1 partition, planned ${ChangeFeed.lastPlannedPartitions}")
  }

  test("replication: merge-on-read deletes flow through the feed; replica converges") {
    import org.apache.spark.sql.functions._
    import graft.sources.{FileStats, Snapshots}
    import graft.streaming.Replicate
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("replmor").toString
    val src = new Snapshots(spark, base + "/src")
    val dst = new Snapshots(spark, base + "/dst")
    src.commit(Map("t" -> (1L to 30L).map(i => (i, i * 10L)).toDF("id", "v")
      .repartitionByRange(3, col("id"))), Map("t" -> Seq("id")))
    // an UNRELATED MoR table in the DESTINATION lake: the bootstrap
    // existence probe must not trip on its deletion vector
    dst.commit(Map("other" -> (1L to 5L).map(i => (i, i * 1.0)).toDF("id", "v")),
      Map("other" -> Seq("id")))
    dst.deleteWhereMoR("other", Seq(FileStats.ColRange("id", Some(1L), Some(1L))))
    src.deleteWhereMoR("t", Seq(FileStats.ColRange("id", Some(4L), Some(9L)))) // v2: DV
    src.updateWhereMoR("t", Seq(FileStats.ColRange("id", Some(20L), Some(22L))),
      Map("v" -> (col("v") + 1L)))                                             // v3: DV+add
    src.compact("t", targetBytes = 1L << 20, sortCol = Some("id"), statsCols = Seq("id"))
    src.append("t", Seq((99L, 990L)).toDF("id", "v"), statsCols = Seq("id"))
    def drain(maxPerTrigger: Option[String], ckpt: String): Unit = {
      var r = spark.readStream
        .format("graft.sources.ChangeFeed")
        .option("path", base + "/src").option("table", "t")
        .option("startingVersion", "0")
      maxPerTrigger.foreach(m => r = r.option("maxVersionsPerTrigger", m))
      val q = r.load()
        .writeStream
        .foreachBatch(Replicate.applyBatch(dst, "t", "id", Seq("id")) _)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "drain must terminate")
    }
    def rows(sn: Snapshots): Set[(Long, Long)] =
      sn.read("t").as[(Long, Long)].collect().toSet
    drain(Some("1"), base + "/ckpt")
    assert(rows(dst) == rows(src), "replica must equal source head across MoR verbs")
    assert(!rows(dst).exists(r => r._1 >= 4L && r._1 <= 9L))
    assert(rows(dst).filter(r => r._1 >= 20L && r._1 <= 22L) ==
      rows(src).filter(r => r._1 >= 20L && r._1 <= 22L))

    // CATCH-UP proof: a second replica consumes the SAME whole history
    // in ONE micro-batch (no maxVersionsPerTrigger — the post-outage
    // backlog shape) and must land exactly the per-version replay state
    val dst2root = base + "/dst2"
    val dst2 = new Snapshots(spark, dst2root)
    def drain2(): Unit = {
      val q = spark.readStream
        .format("graft.sources.ChangeFeed")
        .option("path", base + "/src").option("table", "t")
        .option("startingVersion", "0")
        .load()
        .writeStream
        .foreachBatch(Replicate.applyBatch(dst2, "t", "id", Seq("id")) _)
        .option("checkpointLocation", base + "/ckpt2")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "catch-up drain must terminate")
    }
    drain2()
    assert(rows(dst2) == rows(src),
      "one catch-up batch spanning all versions must equal the per-version replay")
  }

  test("lake replication via the change feed: replica equals source head across every DML verb") {
    import org.apache.spark.sql.functions._
    import graft.sources.{FileStats, Snapshots}
    import graft.streaming.Replicate
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("repl").toString
    val src = new Snapshots(spark, base + "/src")
    val dst = new Snapshots(spark, base + "/dst")
    src.commit(Map("t" -> (1L to 40L).map(i => (i, s"g${i % 3}", i * 10L))
      .toDF("id", "g", "v").repartitionByRange(4, col("id"))), Map("t" -> Seq("id")))
    src.deleteWhere("t", Seq(FileStats.ColRange("id", Some(5L), Some(8L))), Seq("id"))
    src.updateWhere("t", Seq(FileStats.ColRange("id", Some(20L), Some(25L))),
      Map("v" -> (col("v") + 1000L)), Seq("id"))
    src.compact("t", targetBytes = 1L << 20, sortCol = Some("id"), statsCols = Seq("id"))
    src.append("t", Seq((100L, "g1", 77L)).toDF("id", "g", "v"), statsCols = Seq("id"))

    def drain(): Unit = {
      val q = spark.readStream
        .format("graft.sources.ChangeFeed")
        .option("path", base + "/src").option("table", "t")
        .option("startingVersion", "0").option("maxVersionsPerTrigger", "1")
        .load()
        .writeStream
        .foreachBatch(Replicate.applyBatch(dst, "t", "id", Seq("id")) _)
        .option("checkpointLocation", base + "/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "drain must terminate")
    }
    def rows(sn: Snapshots): Set[(Long, String, Long)] =
      sn.read("t").as[(Long, String, Long)].collect().toSet

    drain()
    assert(rows(dst) == rows(src), "replica must equal source head")

    // restart with nothing new: offsets are committed, so no batch fires
    // and the replica lake does not even version-bump
    val vBefore = dst.currentVersion.get
    drain()
    assert(dst.currentVersion.get == vBefore, "idle restart must not touch the replica")

    // post-restart deltas: a keyset delete on the SOURCE flows through
    src.deleteKeys("t", Seq(15L, 16L).toDF("id"), "id", statsCols = Seq("id"))
    drain()
    assert(rows(dst) == rows(src), "replica must track the source after new commits")
    assert(!rows(dst).exists(r => r._1 == 15L || r._1 == 16L))
  }

  test("composite-key replication: per-key resolution matches on every component") {
    import org.apache.spark.sql.functions._
    import graft.sources.Snapshots
    import graft.streaming.Replicate
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("replck").toString
    val src = new Snapshots(spark, base + "/src")
    val dst = new Snapshots(spark, base + "/dst")
    val rows = for (r <- Seq("eu", "us"); i <- 1L to 30L) yield (r, i, i * 10L)
    src.commit(Map("t" -> rows.toDF("r", "id", "v")
      .repartitionByRange(4, col("r"), col("id"))), Map("t" -> Seq("r", "id")))
    // touch eu/5 only (us/5 must survive untouched through replication)
    src.mergeInto("t", Seq(("eu", 5L, 777L)).toDF("r", "id", "v"),
      Seq("r", "id"), Seq("r", "id"))
    src.deleteKeys("t", Seq(("us", 9L)).toDF("r", "id"), Seq("r", "id"), Seq("r", "id"))
    val q = spark.readStream
      .format("graft.sources.ChangeFeed")
      .option("path", base + "/src").option("table", "t")
      .option("startingVersion", "0").option("maxVersionsPerTrigger", "1")
      .load()
      .writeStream
      .foreachBatch(Replicate.applyBatchKeys(dst, "t", Seq("r", "id"), Seq("r", "id")) _)
      .option("checkpointLocation", base + "/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "drain must terminate")
    def all(sn: Snapshots) = sn.read("t").as[(String, Long, Long)].collect().toSet
    assert(all(dst) == all(src))
    assert(all(dst).contains(("eu", 5L, 777L)) && all(dst).contains(("us", 5L, 50L)))
    assert(!all(dst).contains(("us", 9L, 90L)) && all(dst).contains(("eu", 9L, 90L)))
  }

  test("streaming matview: applyBatch folds change-feed deltas idempotently across restarts") {
    import org.apache.spark.sql.functions._
    import graft.sources.{FileStats, IncrementalAgg, Snapshots}
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("mview").toString
    val src = new Snapshots(spark, base + "/lake")
    val agg = new Snapshots(spark, base + "/agg")
    src.commit(Map("t" -> (1L to 30L).map(i => (i, s"g${i % 3}", i * 10L))
      .toDF("id", "g", "v").repartitionByRange(3, col("id"))), Map("t" -> Seq("id")))
    src.append("t", Seq((31L, "g1", 500L)).toDF("id", "g", "v"), statsCols = Seq("id"))

    def run(): Unit = {
      val q = spark.readStream
        .format("graft.sources.ChangeFeed")
        .option("path", base + "/lake").option("table", "t")
        .option("startingVersion", "0").option("maxVersionsPerTrigger", "1")
        .load()
        .writeStream
        .foreachBatch(IncrementalAgg.applyBatch(agg, "g", "v") _)
        .option("checkpointLocation", base + "/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "AvailableNow drain must terminate")
    }
    def recompute(): Map[String, (Long, Long)] =
      src.read("t").groupBy("g").agg(count(lit(1)), sum("v")).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    def matview(): Map[String, (Long, Long)] =
      agg.read("agg").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

    run()
    assert(matview() == recompute(), "streamed fold must equal head recompute")

    // a restart with NOTHING new must apply nothing: the agg lake's
    // version is the proof (a double-applied replay would commit)
    val vBefore = agg.currentVersion.get
    run()
    assert(agg.currentVersion.get == vBefore,
      "restart from committed checkpoint must not re-apply any batch")

    // a delete lands as its file diff (pre-images removed, riders
    // re-added) — the fold must net it exactly
    src.deleteWhere("t", Seq(FileStats.ColRange("id", Some(10L), Some(19L))),
      statsCols = Seq("id"))
    run()
    assert(matview() == recompute(), "post-delete fold must equal head recompute")
    assert(agg.currentVersion.get == vBefore + 1, "exactly one new fold commit")
  }

  test("windowedStream produces the batch twin's result via readStream") {
    val q = EventStreams.windowedStream(spark, TestSpark.sfTest)
      .writeStream.format("memory").queryName("win_test")
      .outputMode(OutputMode.Complete).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("win_test")
        .orderBy("window_start_ms", "event_type").collect()
      val batch = EventStreams.st01StreamWindow(spark, TestSpark.sfTest).collect()
      assert(streamed.length == batch.length, "row count mismatch vs batch twin")
      streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
    } finally q.stop()
  }

  test("native session_window stream matches its batch twin") {
    val q = EventStreams.sessionWindowStream(spark, TestSpark.sfTest)
      .writeStream.format("memory").queryName("sess_win_test")
      .outputMode(OutputMode.Complete).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sess_win_test")
        .orderBy("user_id", "sess_start_ms").collect()
      val batch = EventStreams.st06SessionWindow(spark, TestSpark.sfTest).collect()
      assert(streamed.length == batch.length, "session count mismatch vs batch twin")
      streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
    } finally q.stop()
  }

  test("stateful sessionizer: state survives micro-batches, gaps close sessions") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val gap = 1000L
    val input = MemoryStream[Ev]
    val sessions = EventStreams.sessionize(input.toDS(), gap)
    val q = sessions.writeStream.format("memory").queryName("sess_test")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: user 1 opens a session (2 events), user 2 opens one
      input.addData(Ev(1L, 100L, 1.0), Ev(1L, 200L, 1.0), Ev(2L, 150L, 1.0))
      q.processAllAvailable()
      assert(spark.table("sess_test").count() == 0, "no session closed yet")

      // batch 2: user 1 continues within gap (state carried across
      // batches), then a far event closes the first session.
      input.addData(Ev(1L, 900L, 1.0), Ev(1L, 5000L, 1.0))
      q.processAllAvailable()
      val closed = spark.table("sess_test").as[EventStreams.Session].collect()
      assert(closed.toSeq == Seq(EventStreams.Session(1L, 3L, 100L, 900L)),
        s"expected user 1's first session closed with 3 events, got ${closed.toSeq}")

      // batch 3: out-of-order *within* the batch is sorted per batch
      input.addData(Ev(2L, 9000L, 1.0), Ev(2L, 8000L, 1.0))
      q.processAllAvailable()
      val all = spark.table("sess_test").as[EventStreams.Session].collect().toSet
      assert(all.contains(EventStreams.Session(2L, 1L, 150L, 150L)),
        s"user 2's first session should have closed: $all")
    } finally q.stop()
  }

  test("stateful sessionizer: a late cross-batch event never drags the open session's end backwards") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val gap = 1000L
    val input = MemoryStream[Ev]
    val sessions = EventStreams.sessionize(input.toDS(), gap)
    val q = sessions.writeStream.format("memory").queryName("sess_late")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: open session spanning [100, 200]
      input.addData(Ev(7L, 100L, 1.0), Ev(7L, 200L, 1.0))
      q.processAllAvailable()
      // batch 2: a LATE event at 150 merges (within gap of end=200) —
      // with an overwrite fold the end would REGRESS to 150, and the
      // next on-time event at 1190 (within gap of the true end 200)
      // would wrongly open a new session
      input.addData(Ev(7L, 150L, 1.0))
      q.processAllAvailable()
      input.addData(Ev(7L, 1190L, 1.0))
      q.processAllAvailable()
      // far event closes the whole thing: ONE session [100, 1190] of 4
      input.addData(Ev(7L, 99999L, 1.0))
      q.processAllAvailable()
      val closed = spark.table("sess_late").as[EventStreams.Session].collect()
      assert(closed.toSeq == Seq(EventStreams.Session(7L, 4L, 100L, 1190L)),
        s"late event must not split the session: ${closed.toSeq}")
    } finally q.stop()
  }

  test("as-of join: NULL keys never match (window partitioning must not pair them)") {
    import spark.implicits._
    val left = Seq((Some(1L), 100L, "p1"), (Option.empty[Long], 100L, "p2"))
      .toDF("user_id", "ts", "pid")
    val right = Seq((Some(1L), 50L, 9.0, 1L), (Option.empty[Long], 40L, 8.0, 2L))
      .toDF("user_id", "rts", "v", "eid")
    val out = graft.operators.AsOfJoin.leftAsOf(left, right,
      key = "user_id", leftTs = "ts", rightTs = "rts",
      rightPayload = Seq("v"), rightTieBreak = "eid")
      .orderBy("pid").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Double]("asof_v") == 9.0, s"keyed row must match: ${out.toSeq}")
    assert(out(1).isNullAt(out(1).fieldIndex("asof_v")),
      s"NULL-keyed left row must NOT match the NULL-keyed right row: ${out.toSeq}")
  }

  test("stream-stream interval join matches its batch twin") {
    val q = EventStreams.correlatedStream(spark, TestSpark.sfTest)
      .writeStream.format("memory").queryName("join_test")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("join_test")
        .orderBy("user_id", "view_id", "purchase_id").collect()
      val batch = EventStreams.st02StreamJoin(spark, TestSpark.sfTest).collect()
      assert(streamed.length == batch.length,
        s"stream ${streamed.length} vs batch ${batch.length}")
      streamed.zip(batch).foreach { case (s0, b0) => assert(s0 == b0) }
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join: matches agree; watermark releases old unmatched views") {
    val q = EventStreams.outerCorrelatedStream(spark, TestSpark.sfTest)
      .writeStream.format("memory").queryName("outer_join_test")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      val streamed = spark.table("outer_join_test").collect().map(key).toSet
      val batchRows = EventStreams.st05StreamOuterJoin(spark, TestSpark.sfTest).collect().map(key)
      val batch = batchRows.toSet
      // matched rows must agree exactly — they never depend on the watermark
      assert(streamed.filter(_._4 >= 0) == batch.filter(_._4 >= 0),
        "inner matches diverge between stream and batch")
      // null-matches: the stream may only emit rows the batch twin has...
      assert(streamed.subsetOf(batch), s"stream fabricated rows: ${streamed -- batch}")
      // ...and MUST have released every view old enough that the final
      // watermark (max event time - 1h) proved it unmatched: v_ts +
      // 30min join bound + 1h watermark delay before the max event time.
      val maxTs = graft.operators.events(spark, TestSpark.sfTest)
        .agg(org.apache.spark.sql.functions.max("ts_ms")).head().getLong(0)
      val mustEmit = batch.filter(r => r._4 == -1L && r._3 + 1800000L + 3600000L < maxTs)
      assert(mustEmit.subsetOf(streamed),
        s"watermark-proven unmatched views missing: ${mustEmit -- streamed}")
      assert(mustEmit.nonEmpty, "cutoff left no provable null-matches — test is vacuous")
    } finally q.stop()
  }

  test("snapshot sink: micro-batches append atomically and a checkpoint replay adds nothing") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("snap_sink").toString + "/lake"
    val ckpt = Files.createTempDirectory("snap_ckpt").toString
    val src = graft.streaming.Sinks.enrichedEvents(spark, TestSpark.sfTest)
    graft.streaming.Sinks.snapshotBatchSink(src, root, "events", ckpt).awaitTermination()
    val snap = new graft.sources.Snapshots(spark, root)
    val expected = spark.read.parquet(s"${TestSpark.sfTest}/events.parquet")
      .where("value > 0").count()
    val v1 = snap.currentVersion.get
    assert(snap.read("events").count() == expected, "sink lost or duplicated rows")
    // replay from the same checkpoint: committed offsets + idempotent
    // tagged appends → no new rows, whatever the engine re-runs
    graft.streaming.Sinks.snapshotBatchSink(src, root, "events", ckpt).awaitTermination()
    assert(snap.read("events").count() == expected, "replay duplicated rows")
    assert(snap.read("events", Some(v1)).count() == expected, "ingest history not time-travelable")
  }

  test("replication into a constrained replica: a violating change stops the stream loudly") {
    import org.apache.spark.sql.functions._
    import graft.sources.Snapshots
    import graft.streaming.Replicate
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("replchk").toString
    val src = new Snapshots(spark, base + "/src")
    val dst = new Snapshots(spark, base + "/dst")
    src.commit(Map("t" -> Seq((1L, 10L), (2L, 20L)).toDF("id", "v")),
      Map("t" -> Seq("id")))
    // replica declares a contract the SOURCE does not enforce — the
    // standing guard a serving-side owner puts on their own copy
    dst.commit(Map("t" -> Seq((1L, 10L), (2L, 20L)).toDF("id", "v")),
      Map("t" -> Seq("id")))
    dst.addCheck("t", "v_pos", "v > 0")
    src.append("t", Seq((3L, 30L)).toDF("id", "v"), statsCols = Seq("id")) // lawful
    src.append("t", Seq((4L, -5L)).toDF("id", "v"), statsCols = Seq("id")) // violates dst's check
    def drain(): Unit = {
      val q = spark.readStream
        .format("graft.sources.ChangeFeed")
        .option("path", base + "/src").option("table", "t")
        .option("startingVersion", "1")
        .option("maxVersionsPerTrigger", "1")
        .load()
        .writeStream
        .foreachBatch(Replicate.applyBatch(dst, "t", "id", Seq("id")) _)
        .option("checkpointLocation", base + "/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000); ()
    }
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](drain())
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.isInstanceOf[Snapshots.ConstraintViolationException]),
      s"the stream must die on the replica's CHECK constraint, got: $e")
    // the lawful pre-violation change landed; the violating one did NOT
    // publish — the replica is stopped-but-consistent, not corrupted
    val got = dst.read("t").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L), (2L, 20L), (3L, 30L)), s"replica state: $got")
  }

  test("streaming ingest then ANALYZE: the sink's sidecar-less appends gain pruning in place") {
    import java.nio.file.Files
    import graft.sources.{FileStats, Snapshots}
    val root = Files.createTempDirectory("ingest_an").toString + "/lake"
    val ckpt = Files.createTempDirectory("ingest_an_ck").toString
    // the motivating lifecycle: streaming micro-batches append through
    // the snapshot sink with NO stats sidecars — a standing table built
    // purely by ingest reads conservatively forever until a compaction
    // OR this maintenance verb runs
    val src = graft.streaming.Sinks.enrichedEvents(spark, TestSpark.sfTest)
    graft.streaming.Sinks.snapshotBatchSink(src, root, "events", ckpt).awaitTermination()
    val snap = new Snapshots(spark, root)
    val range = Seq(FileStats.ColRange("event_id", Some(1L), Some(50L)))
    val total = snap.read("events").inputFiles.length
    val before = snap.readWhere("events", range)
    assert(before.inputFiles.length == total, "ingested files must lack sidecars")
    val want = before.count()
    assert(snap.analyzeTable("events", Seq("event_id")) >= 1)
    val after = snap.readWhere("events", range)
    assert(after.count() == want, "analyze must not change results")
    // the ingest wrote one part per micro-batch; event_id-ranged stats
    // prune at least some of them unless the source collapsed to a
    // single batch (then the assert below is vacuously satisfied)
    assert(after.inputFiles.length <= before.inputFiles.length)
    assert(snap.analyzeTable("events", Seq("event_id")) == 0, "idempotent")
  }

  test("replication into an appendOnly replica stops loudly before any mutation") {
    import graft.sources.Snapshots
    import graft.streaming.Replicate
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("replao").toString
    val src = new Snapshots(spark, base + "/src")
    val dst = new Snapshots(spark, base + "/dst")
    src.commit(Map("t" -> Seq((1L, 10L)).toDF("id", "v")), Map("t" -> Seq("id")))
    dst.commit(Map("t" -> Seq((1L, 10L)).toDF("id", "v")), Map("t" -> Seq("id")))
    // the replica owner freezes their copy: replication applies DML
    // verbs, so the guard must stop the stream — not silently mutate a
    // table declared immutable
    dst.setProperties("t", Map("appendOnly" -> "true"))
    src.append("t", Seq((2L, 20L)).toDF("id", "v"), statsCols = Seq("id"))
    val q = spark.readStream
      .format("graft.sources.ChangeFeed")
      .option("path", base + "/src").option("table", "t")
      .option("startingVersion", "1")
      .load()
      .writeStream
      .foreachBatch(Replicate.applyBatch(dst, "t", "id", Seq("id")) _)
      .option("checkpointLocation", base + "/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination(120000); () }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.isInstanceOf[IllegalArgumentException] &&
        c.getMessage != null && c.getMessage.contains("appendOnly")),
      s"the stream must die on the appendOnly guard, got: $e")
    val got = dst.read("t").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L)), s"guarded replica must be untouched: $got")
  }

  test("foreachBatch parquet sink is idempotent across a checkpoint replay") {
    import java.nio.file.Files
    val out = Files.createTempDirectory("sink_out").toString
    val ckpt = Files.createTempDirectory("sink_ckpt").toString
    val src = graft.streaming.Sinks.enrichedEvents(spark, TestSpark.sfTest)
    val q1 = graft.streaming.Sinks.parquetBatchSink(src, out, ckpt)
    q1.awaitTermination()
    val n1 = spark.read.parquet(out + "/batch_id=*").count()
    val expected = spark.read.parquet(s"${TestSpark.sfTest}/events.parquet")
      .where("value > 0").count()
    assert(n1 == expected, s"sink wrote $n1, source has $expected")
    // replay with the same checkpoint: AvailableNow re-start must not
    // duplicate (source offsets committed; batch overwrite idempotent)
    val q2 = graft.streaming.Sinks.parquetBatchSink(
      graft.streaming.Sinks.enrichedEvents(spark, TestSpark.sfTest), out, ckpt)
    q2.awaitTermination()
    val n2 = spark.read.parquet(out + "/batch_id=*").count()
    assert(n2 == expected, s"replay duplicated rows: $n2 vs $expected")
  }

  test("typed CDC decoder is row-identical to the from_json decode, including edge inputs") {
    import org.apache.spark.sql.functions._
    import graft.streaming.Cdc
    val sp = spark
    import sp.implicits._
    // the real feed: every synthetic envelope kind (r/u/d, null before/after)
    val envelopes = Cdc.syntheticEnvelopes(spark, TestSpark.sfTest)
    val typed = Cdc.decode(envelopes)
      .orderBy("ts_ms", "op", "o_orderkey").collect()
    val viaJson = Cdc.decodeFromJson(envelopes)
      .orderBy("ts_ms", "op", "o_orderkey").collect()
    assert(typed.length == viaJson.length)
    typed.zip(viaJson).foreach { case (a, b) => assert(a == b, s"$a vs $b") }
    // adversarial inputs: malformed JSON, null, wrong types, missing and
    // reordered fields, unknown fields, nested garbage — the PERMISSIVE
    // contract (NULL row, never an error) must match the builtin
    val edge = Seq(
      """{"op":"u","ts_ms":7,"before":{"o_orderkey":1,"o_totalprice":2.5},"after":{"o_orderkey":1,"o_totalprice":5.0}}""",
      """{"after":{"o_totalprice":5.0,"o_orderkey":9},"ts_ms":3,"op":"r"}""", // reordered
      """{"op":"d","ts_ms":2,"before":{"o_orderkey":4,"o_totalprice":1.0},"after":null}""",
      """{"op":"r","ts_ms":1,"after":{"o_orderkey":6}}""",                    // missing price
      """{"op":"r","ts_ms":1,"after":{"o_orderkey":6,"o_totalprice":3}}""",   // int-typed price
      """{"op":"r","ts_ms":1,"after":{"o_orderkey":6,"extra":{"deep":[1,2]}, "o_totalprice":4.5}}""",
      """{"op":"r","unknown":[{"x":1}],"ts_ms":5,"after":{"o_orderkey":2,"o_totalprice":1.5}}""",
      """not json at all""",
      """{"op":"r","ts_ms":""", // truncated
      """{}""",
      null,
      // mistyped scalars: the builtin nulls only the mistyped field and
      // reads a non-string op as its JSON text
      """{"op":5,"ts_ms":7,"after":{"o_orderkey":1,"o_totalprice":5.0}}""",
      """{"ts_ms":"x","op":"r","after":{"o_orderkey":1,"o_totalprice":5.0}}""",
      """{"ts_ms":1.5,"op":"r","after":{"o_orderkey":1,"o_totalprice":5.0}}""",
      """{"after":{"o_totalprice":"9"}}""",
      """{"op":{"b":[1,"x",null],"a":1.0},"ts_ms":1e3}""",
      """{"op":true,"ts_ms":9223372036854775808,"after":{"o_orderkey":99999999999999999999}}""",
      """{"op":"r","ts_ms":3,"after":{"o_orderkey":1,"o_totalprice":NaN}}""",
      """{"op":"r","after":{"o_orderkey":2,"o_totalprice":"-Infinity"}}""",
      """{'op':'r','ts_ms':4,'after':{'o_orderkey':3}}""",
      """{"op":"x","op":null,"ts_ms":3,"ts_ms":null}""")
    val edgeDf = edge.toDF("envelope")
    val a = Cdc.decode(edgeDf).collect()
    val b = Cdc.decodeFromJson(edgeDf).collect()
    assert(a.length == b.length)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"$x vs $y") }
  }

  test("incremental CDC apply over micro-batches equals the one-shot apply") {
    import org.apache.spark.sql.functions._
    import graft.streaming.Cdc
    val envelopes = Cdc.syntheticEnvelopes(spark, TestSpark.sfTest)
    // split the change stream into two "micro-batches" by arrival time
    val decoded = Cdc.decode(envelopes)
    val cut = 7500L // ts_ms = orderkey*10 + opoffset; splits mid-stream
    val batch1 = decoded.where(col("ts_ms") <= cut)
    val batch2 = decoded.where(col("ts_ms") > cut)
    val empty = Cdc.applyChanges(decoded.limit(0), keepTs = true)
    val state1 = Cdc.applyIncrement(empty, batch1)
    val state2 = Cdc.applyIncrement(state1, batch2)
    val incremental = state2.select("o_orderkey", "price", "last_op")
      .orderBy("o_orderkey").collect()
    val oneShot = Cdc.c01CdcApply(spark, TestSpark.sfTest).collect()
    assert(incremental.length == oneShot.length,
      s"${incremental.length} vs ${oneShot.length}")
    incremental.zip(oneShot).foreach { case (a, b) => assert(a == b) }
  }

  test("lake MERGE: streamed upsert equals one-shot apply, replay is idempotent, untouched files untouched") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    import graft.streaming.{Cdc, LakeMerge}
    implicit val ctx = spark.sqlContext
    import spark.implicits._

    val path = Files.createTempDirectory("merge_state").toString + "/state"
    val decoded = Cdc.decode(Cdc.syntheticEnvelopes(spark, TestSpark.sfTest))
    LakeMerge.seed(spark, path, Cdc.applyChanges(decoded.where(col("op") === "r"), keepTs = true))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the merges below run at a target file size of 1/8 of the seeded
    // state, so the state they leave spans several files — the layout
    // a table many times the default 128 MB target has
    val seededBytes = LakeMerge.readState(spark, path).inputFiles
      .map(f => fs.getFileStatus(new org.apache.hadoop.fs.Path(f)).getLen).sum
    val targetKey = "spark.graft.write.targetFileBytes"
    spark.conf.set(targetKey, (seededBytes / 8).max(1L).toString)
    try {
      // stream the u/d envelopes through a checkpointed foreachBatch in
      // two micro-batches (updates, then deletes)
      val updates = Cdc.syntheticEnvelopes(spark, TestSpark.sfTest)
        .where(get_json_object(col("envelope"), "$.op") === "u")
        .as[String].collect()
      val deletes = Cdc.syntheticEnvelopes(spark, TestSpark.sfTest)
        .where(get_json_object(col("envelope"), "$.op") === "d")
        .as[String].collect()
      val input = MemoryStream[String]
      val ckpt = Files.createTempDirectory("merge_ckpt").toString
      val q = input.toDS().toDF("envelope").writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          LakeMerge.mergeBatch(spark, path, Cdc.decode(batch))
        }
        .start()
      try {
        input.addData(updates.toSeq); q.processAllAvailable()
        input.addData(deletes.toSeq); q.processAllAvailable()
      } finally q.stop()

      def state() = LakeMerge.readState(spark, path)
        .select("o_orderkey", "price", "last_op").orderBy("o_orderkey").collect()
      val merged = state()
      val oneShot = Cdc.c01CdcApply(spark, TestSpark.sfTest).collect()
      assert(merged.length == oneShot.length, s"${merged.length} vs ${oneShot.length}")
      merged.zip(oneShot).foreach { case (a, b) => assert(a == b) }

      // replay: re-apply the delete batch directly (a foreachBatch retry
      // delivers the same batch again) — state must be byte-identical
      LakeMerge.mergeBatch(spark, path, Cdc.decode(deletes.toSeq.toDF("envelope")))
      val replayed = state()
      assert(replayed.length == merged.length, "replay changed row count")
      replayed.zip(merged).foreach { case (a, b) => assert(a == b) }

      // file-level isolation on the layout the merges left: the state
      // spans several key-disjoint files, so a single-key change rewrites
      // exactly the one file whose stats span the key; every other data
      // file stays referenced and byte-identical
      def digest(f: String): String = {
        val in = fs.open(new org.apache.hadoop.fs.Path(f))
        try java.security.MessageDigest.getInstance("MD5")
          .digest(in.readAllBytes()).map("%02x".format(_)).mkString
        finally in.close()
      }
      val filesBefore = LakeMerge.readState(spark, path).inputFiles.toSeq
      assert(filesBefore.size >= 4, s"merged state must span several files: $filesBefore")
      val spans = filesBefore.map { f =>
        val r = spark.read.parquet(f).agg(min("o_orderkey"), max("o_orderkey")).head()
        f -> (r.getLong(0), r.getLong(1))
      }.toMap
      val ordered = spans.values.toSeq.sorted
      assert(ordered.zip(ordered.tail).forall { case ((_, hi), (lo, _)) => hi < lo },
        s"merged files must be key-disjoint: $ordered")
      val digests = filesBefore.map(f => f -> digest(f)).toMap
      // a live key (%11 keys were deleted above), updated genuinely newer
      val oneKey = decoded.where(col("op") === "u" && col("o_orderkey") % 11 =!= 0)
        .orderBy("o_orderkey").limit(1)
        .withColumn("ts_ms", col("ts_ms") + 5)
      val key = oneKey.head().getAs[Long]("o_orderkey")
      val (spanning, others) = filesBefore.partition { f =>
        val (lo, hi) = spans(f); lo <= key && key <= hi }
      assert(spanning.size == 1, s"exactly one file spans key $key: $spanning")
      LakeMerge.mergeBatch(spark, path, oneKey)
      val filesAfter = LakeMerge.readState(spark, path).inputFiles.toSet
      assert(!filesAfter.contains(spanning.head),
        s"the file spanning key $key must be rewritten: ${spanning.head}")
      others.foreach { f =>
        assert(filesAfter.contains(f), s"$f does not span key $key yet left the table")
        assert(digest(f) == digests(f), s"$f does not span key $key yet changed")
      }
    } finally spark.conf.unset(targetKey)
  }

  test("lake MERGE publishes atomically: a mid-merge reader sees old state exactly, never a mix") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    import graft.streaming.{Cdc, LakeMerge}

    val path = Files.createTempDirectory("merge_atomic").toString + "/state"
    val decoded = Cdc.decode(Cdc.syntheticEnvelopes(spark, TestSpark.sfTest))
    LakeMerge.seed(spark, path, Cdc.applyChanges(decoded.where(col("op") === "r"), keepTs = true))

    def state() = LakeMerge.readState(spark, path)
      .select("o_orderkey", "price", "last_op").orderBy("o_orderkey").collect()
    val oldState = state()

    // the publish seam: every row of the merge is written, nothing is
    // published yet — a reader in this window must see the OLD state
    val snap = new graft.sources.Snapshots(spark, path)
    var midMerge: Option[Array[org.apache.spark.sql.Row]] = None
    snap.beforePublish = (_, _) => midMerge = Some(state())
    LakeMerge.mergeBatch(snap, decoded.where(col("op") =!= "r"))
    assert(midMerge.nonEmpty, "the merge must pass the publish seam")
    assert(midMerge.get.length == oldState.length,
      "a reader before publish must resolve the OLD version")
    midMerge.get.zip(oldState).foreach { case (a, b) => assert(a == b) }

    // the one manifest publish flips the whole state at once
    val newState = state()
    val oneShot = Cdc.c01CdcApply(spark, TestSpark.sfTest).collect()
    assert(newState.length == oneShot.length,
      s"${newState.length} vs ${oneShot.length}")
    newState.zip(oneShot).foreach { case (a, b) => assert(a == b) }
  }

  test("lake MERGE folds like Cdc.applyIncrement: late, tied, stale-delete and replayed changes") {
    import java.nio.file.Files
    import graft.streaming.{Cdc, LakeMerge}
    val sp = spark
    import sp.implicits._
    def batch(rows: (String, Long, Long, Option[Double])*) =
      rows.toDF("op", "ts_ms", "o_orderkey", "o_totalprice")
    val snapshot = batch((1L to 6L).map(k => ("r", 10L, k, Some(k * 100.0))): _*)
    val changes = batch(
      ("u", 20L, 1L, Some(110.0)),                           // newer update
      ("d", 5L, 2L, None),                                   // delete older than the state row
      ("u", 30L, 3L, Some(330.0)), ("d", 30L, 3L, None),     // same-ts d/u tie in one batch
      ("u", 10L, 5L, Some(555.0)),                           // same-ts tie with the state row
      ("d", 10L, 6L, None),                                  // same-ts delete of the state row
      ("u", 15L, 7L, Some(700.0)), ("u", 25L, 7L, Some(777.0)), // new key, latest wins
      ("d", 40L, 8L, None))                                  // delete of an absent key
    val late = batch(
      ("u", 15L, 1L, Some(150.0)),                           // older than the applied u@20
      ("r", 35L, 3L, Some(333.0)),                           // re-insert after the delete
      ("u", 12L, 4L, Some(444.0)))
    // the replays re-deliver exactly what was already applied
    val seq = Seq(snapshot, changes, late, changes, late)

    val path = Files.createTempDirectory("merge_fold").toString + "/state"
    var expected = Cdc.applyChanges(snapshot.limit(0), keepTs = true)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("o_orderkey", "price", "last_op", "ts_ms").orderBy("o_orderkey").collect().toSeq
    seq.zipWithIndex.foreach { case (b, i) =>
      LakeMerge.mergeBatch(spark, path, b)
      expected = Cdc.applyIncrement(expected, b)
      assert(rows(LakeMerge.readState(spark, path)) == rows(expected), s"after batch $i")
    }
  }

  test("stream-static dimension join matches its batch twin") {
    val q = EventStreams.enrichedByDimStream(spark, TestSpark.sfTest)
      .writeStream.format("memory").queryName("enrich_test")
      .outputMode(OutputMode.Complete).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("enrich_test").orderBy("event_type").collect()
      val batch = EventStreams.st04StreamEnrich(spark, TestSpark.sfTest).collect()
      assert(streamed.length == batch.length)
      streamed.zip(batch).foreach { case (a, b) => assert(a == b) }
    } finally q.stop()
  }

  test("streaming dedup suppresses re-delivered events across micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.streaming.EventStreams.DeliveredEv
    val t0 = 3600_000L
    val input = MemoryStream[DeliveredEv]
    val q = EventStreams.dedupeDelivery(input.toDS())
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: two distinct events, one delivered twice within the batch
      input.addData(DeliveredEv(1L, t0, 1.0), DeliveredEv(1L, t0, 1.0), DeliveredEv(2L, t0 + 1000, 2.0))
      q.processAllAvailable()
      assert(spark.table("dedup_test").count() == 2, "within-batch duplicate must collapse")
      // batch 2: event 1 re-delivered (cross-batch dup, inside the
      // watermark horizon) + one genuinely new event
      input.addData(DeliveredEv(1L, t0, 1.0), DeliveredEv(3L, t0 + 2000, 3.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_test").select("event_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L),
        s"cross-batch duplicate must be suppressed by state, got $ids")
    } finally q.stop()
  }

  test("streaming top-k: state survives batches, displaced items leave the board") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.streaming.EventStreams.{TEv, TopEmit}
    val input = MemoryStream[TEv]
    val board = EventStreams.streamingTopK(input.toDS(), k = 2)
    val q = board.writeStream.format("memory").queryName("topk_test")
      .outputMode(OutputMode.Update).start()
    def latest(): Map[(String, Long), Long] = {
      val rows = spark.table("topk_test").as[TopEmit].collect()
      val vmax = rows.groupBy(_.event_type).view.mapValues(_.map(_.ver).max).toMap
      rows.filter(e => e.ver == vmax(e.event_type))
        .map(e => (e.event_type, e.rank) -> e.event_id).toMap
    }
    try {
      input.addData(TEv("a", 1L, 5.0), TEv("a", 2L, 3.0), TEv("b", 3L, 1.0))
      q.processAllAvailable()
      assert(latest() == Map(("a", 1L) -> 1L, ("a", 2L) -> 2L, ("b", 1L) -> 3L))

      // batch 2: a new leader displaces event 2 from a's k=2 board;
      // b's board is untouched (no emission, old ver stays latest)
      input.addData(TEv("a", 4L, 9.0))
      q.processAllAvailable()
      assert(latest() == Map(("a", 1L) -> 4L, ("a", 2L) -> 1L, ("b", 1L) -> 3L),
        "displacement must evict the weakest row, not grow the board")

      // tie on value breaks to the smaller event_id
      input.addData(TEv("b", 5L, 1.0))
      q.processAllAvailable()
      assert(latest()(("b", 1L)) == 3L && latest()(("b", 2L)) == 5L)
    } finally q.stop()
  }

  test("streaming top-k over the events stream: final board equals the batch twin") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.streaming.EventStreams.TopEmit
    val q = EventStreams.topkStream(spark, TestSpark.sfTest)
      .writeStream.format("memory").queryName("topk_stream_test")
      .outputMode(OutputMode.Update).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("topk_stream_test").as[TopEmit].collect()
      val vmax = rows.groupBy(_.event_type).view.mapValues(_.map(_.ver).max).toMap
      val streamed = rows.filter(e => e.ver == vmax(e.event_type))
        .map(e => (e.event_type, e.rank, e.event_id, math.round(e.value * 100) / 100.0))
        .sortBy(t => (t._1, t._2)).toSeq
      val batch = EventStreams.st10StreamTopk(spark, TestSpark.sfTest)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      assert(streamed == batch,
        s"final streaming board must equal the batch twin")
    } finally q.stop()
  }

  test("change feed refuses a column-mapping boundary; a fresh checkpoint past it streams the new names") {
    import org.apache.spark.sql.functions._
    import graft.sources.Snapshots
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("cfcm").toString
    val snap = new Snapshots(spark, base + "/lake")
    snap.commit(Map("t" -> Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v")))      // v1
    snap.append("t", Seq((3L, 3.0)).toDF("id", "v"))                        // v2
    val vR = snap.renameColumn("t", "v", "score")                           // v3
    snap.append("t", Seq((4L, 4.0)).toDF("id", "score"))                    // v4

    def stream(startV: Long, ckpt: String) = spark.readStream
      .format("graft.sources.ChangeFeed")
      .option("path", base + "/lake").option("table", "t")
      .option("startingVersion", startV.toString)
      .load()
      .writeStream.format("memory").queryName(s"cm_feed_$startV")
      .option("checkpointLocation", ckpt)
      .start()

    // a stream whose walk crosses the rename fails LOUDLY at the boundary
    val q1 = stream(0L, base + "/ckpt1")
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
    }
    q1.stop()
    assert(ex.getCause.getMessage.contains("column mapping"),
      s"expected the mapping-boundary refusal, got: ${ex.getCause.getMessage}")

    // a fresh checkpoint at the rename version streams the post-rename
    // schema — and the per-file reads resolve the NEW logical name to
    // the OLD physical one (old files were never rewritten)
    val q2 = stream(vR, base + "/ckpt2")
    try {
      q2.processAllAvailable()
      val got = spark.table(s"cm_feed_$vR")
      assert(got.columns.contains("score") && !got.columns.contains("v"))
      val rows = got.where(col("_change") === "added")
        .select("id", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(rows == Set((4L, 4.0)), s"post-boundary feed delivered $rows")
    } finally q2.stop()

    // the standing-mapping case (no boundary in the walked span): a
    // table renamed BEFORE the stream starts delivers every version
    // under the new name, including pre-rename files read physically
    val snap2 = new Snapshots(spark, base + "/lake2")
    snap2.commit(Map("t" -> Seq((1L, 1.0)).toDF("id", "v")))                // v1
    snap2.append("t", Seq((2L, 2.0)).toDF("id", "v"))                       // v2
    snap2.renameColumn("t", "v", "score")                                   // v3
    val q3 = spark.readStream
      .format("graft.sources.ChangeFeed")
      .option("path", base + "/lake2").option("table", "t")
      .option("startingVersion", "0")
      .load()
      .writeStream.format("memory").queryName("cm_feed_standing")
      .option("checkpointLocation", base + "/ckpt3")
      .start()
    try {
      q3.processAllAvailable()
      val rows = spark.table("cm_feed_standing")
        .where(col("_change") === "added")
        .select("id", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(rows == Set((1L, 1.0), (2L, 2.0)),
        s"standing mapping must deliver pre-rename files under the new name, got $rows")
    } finally q3.stop()
  }

  test("batch sessionizer agrees with the declarative q19 formulation") {
    import org.apache.spark.sql.functions._
    val stateful = EventStreams.sessionizeStateful(spark, TestSpark.sfTest)
      .select(col("user_id"), col("n_events"), col("sess_start"), col("sess_end"))
      .orderBy("user_id", "sess_start").collect()
    val declarative = graft.operators.Relational.q19Sessionize(spark, TestSpark.sfTest)
      .select(col("user_id"), col("n_events"), col("sess_start"), col("sess_end"))
      .orderBy("user_id", "sess_start").collect()
    assert(stateful.length == declarative.length,
      s"session counts differ: ${stateful.length} vs ${declarative.length}")
    stateful.zip(declarative).foreach { case (a, b) => assert(a == b) }
  }

  test("readStream.table on a catalog table streams appends; non-append changes refuse") {
    val sp = spark
    import graft.sources.{FileStats, Snapshots}
    val root = java.nio.file.Files.createTempDirectory("streamcat").toString
    sp.conf.set("spark.sql.catalog.gstream", classOf[graft.sources.GraftCatalog].getName)
    sp.conf.set("spark.sql.catalog.gstream.root", root)
    sp.sql("CREATE NAMESPACE gstream.db")
    sp.sql("CREATE TABLE gstream.db.t (id BIGINT, v BIGINT)")
    sp.sql("INSERT INTO gstream.db.t VALUES (1, 10), (2, 20)")
    val name = "cat_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val ckpt = java.nio.file.Files.createTempDirectory("streamcat_ckpt").toString
    val q = sp.readStream.table("gstream.db.t")
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      // first batch = the table's current content (versions 1..head)
      assert(sp.table(name).count() == 2L)
      // a later SQL INSERT arrives incrementally, exactly once
      sp.sql("INSERT INTO gstream.db.t VALUES (3, 30)")
      q.processAllAvailable()
      assert(sp.table(name).select("id").collect().map(_.getLong(0)).sorted.toSeq
        == Seq(1L, 2L, 3L))
      // a non-append change kills the standing stream loudly with the
      // change-feed pointer (the Delta table-streaming contract)
      sp.sql("DELETE FROM gstream.db.t WHERE id = 1")
      val e = intercept[Exception] { q.processAllAvailable() }
      def chain(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
          .map(x => Option(x.getMessage).getOrElse("")).toSeq
      assert(chain(e).exists(m => m.contains("appends only") && m.contains("CHANGE FEED")),
        chain(e))
    } finally q.stop()
  }

  test("writeStream.toTable: distributed epoch publish, restart exactly-once, refusals") {
    val sp = spark
    import graft.sources.Snapshots
    val root = java.nio.file.Files.createTempDirectory("streamsink").toString
    sp.conf.set("spark.sql.catalog.gsink", classOf[graft.sources.GraftCatalog].getName)
    sp.conf.set("spark.sql.catalog.gsink.root", root)
    sp.sql("CREATE NAMESPACE gsink.db")
    sp.sql("CREATE TABLE gsink.db.src (id BIGINT, v BIGINT)")
    sp.sql("CREATE TABLE gsink.db.dst (id BIGINT, dbl BIGINT)")
    sp.sql("INSERT INTO gsink.db.src VALUES (1, 10), (2, 20)")
    val ckpt = java.nio.file.Files.createTempDirectory("streamsink_ckpt").toString
    // the pure-text loop: readStream.table → transform → writeStream.toTable
    def drain(): Unit = {
      val q = sp.readStream.table("gsink.db.src")
        .selectExpr("id", "v * 2 AS dbl")
        .writeStream.option("checkpointLocation", ckpt)
        .toTable("gsink.db.dst")
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    def dst(): Seq[(Long, Long)] =
      sp.sql("SELECT id, dbl FROM gsink.db.dst ORDER BY id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(dst() == Seq((1L, 20L), (2L, 40L)), dst())

    // restart from the checkpoint with nothing new: the replayed/empty
    // epochs publish nothing (tag no-op) — exactly-once across restarts
    drain()
    assert(dst() == Seq((1L, 20L), (2L, 40L)), s"restart duplicated rows: ${dst()}")

    // new source commits flow incrementally, exactly once
    sp.sql("INSERT INTO gsink.db.src VALUES (3, 30)")
    sp.sql("INSERT INTO gsink.db.src VALUES (4, 40)")
    drain()
    assert(dst() == Seq((1L, 20L), (2L, 40L), (3L, 60L), (4L, 80L)), dst())

    // the sink's appends are REAL lake versions: file metadata carries
    // exact lengths (reads plan without listing), history advances,
    // and a SECOND independent query (own checkpoint) interleaves
    val snap = new Snapshots(sp, root + "/db")
    val files = sp.sql("SELECT size_bytes FROM gsink.db.`dst$files`").collect()
    assert(files.nonEmpty && files.forall(_.getLong(0) > 0L))
    val ckpt2 = java.nio.file.Files.createTempDirectory("streamsink_ckpt2").toString
    val q2 = sp.readStream.table("gsink.db.src")
      .selectExpr("id + 100 AS id", "v AS dbl")
      .writeStream.option("checkpointLocation", ckpt2)
      .toTable("gsink.db.dst")
    try q2.processAllAvailable() finally q2.stop()
    assert(sp.sql("SELECT count(*) FROM gsink.db.dst").head.getLong(0) == 8L)

    // streamed epochs carry stats sidecars like every other write (r11):
    // every epoch dir published by the stream has a harvested `_stats`
    // next to its files, so file skipping and metadata-only aggregates
    // no longer go blind on a table fed via writeStream.toTable
    val epochDirs = sp.sql("SELECT path FROM gsink.db.`dst$files`").collect()
      .map(r => new org.apache.hadoop.fs.Path(r.getString(0)).getParent)
      .distinct.filter(_.toString.contains("/stream-"))
    assert(epochDirs.nonEmpty, "expected stream epoch dirs in the manifest")
    val hfs = epochDirs.head.getFileSystem(sp.sparkContext.hadoopConfiguration)
    epochDirs.foreach { d =>
      assert(hfs.exists(new org.apache.hadoop.fs.Path(d, "_stats")),
        s"streamed epoch dir $d lacks a _stats sidecar")
    }

    // CHECK constraints gate the streaming path too: a violating epoch
    // publishes nothing and the stream dies loudly
    snap.addCheck("dst", "dbl_cap", "dbl < 1000")
    sp.sql("INSERT INTO gsink.db.src VALUES (5, 600)") // 600*2 = 1200 > cap
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(12)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    val eChk = intercept[Exception] { drain() }
    assert(chain(eChk).exists(_.contains("dbl_cap")), chain(eChk))
    assert(sp.sql("SELECT count(*) FROM gsink.db.dst").head.getLong(0) == 8L,
      "a refused epoch must publish nothing into dst")

    // schema mismatch refuses loudly, nothing published
    val eSch = intercept[Exception] {
      val q = sp.readStream.table("gsink.db.src")
        .selectExpr("id", "CAST(v AS STRING) AS dbl")
        .writeStream.option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("streamsink_bad").toString)
        .toTable("gsink.db.dst")
      try q.processAllAvailable() finally q.stop()
    }
    assert(chain(eSch).exists(m => m.contains("schema") || m.contains("BIGINT")), chain(eSch))
  }

  test("readStream.table options: skipChangeCommits drops mutation versions whole; startingVersion pins the base") {
    val sp = spark
    val base = java.nio.file.Files.createTempDirectory("sktbl").toString
    sp.conf.set("spark.sql.catalog.gskip", classOf[graft.sources.GraftCatalog].getName)
    sp.conf.set("spark.sql.catalog.gskip.root", base + "/lake")
    sp.sql("CREATE NAMESPACE gskip.db")
    sp.sql("CREATE TABLE gskip.db.t (id BIGINT, v BIGINT)")            // v1
    sp.sql("INSERT INTO gskip.db.t VALUES (1, 10), (2, 20), (3, 30)")  // v2
    sp.sql("DELETE FROM gskip.db.t WHERE id = 2")                      // v3 (rewrite)
    sp.sql("INSERT INTO gskip.db.t VALUES (9, 90)")                    // v4

    def drain(opts: Map[String, String], ckpt: String): Seq[(Long, Long)] = {
      val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var r = sp.readStream
      opts.foreach { case (k, x) => r = r.option(k, x) }
      val q = r.table("gskip.db.t")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          got.synchronized { got ++= b.collect().map(x => (x.getLong(0), x.getLong(1))) }
          ()
        }.start()
      try q.processAllAvailable() finally q.stop()
      got.toSeq.sorted
    }
    def chain(t: Throwable) = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .take(12).map(x => Option(x.getMessage).getOrElse("")).toSeq

    // plain table stream still refuses at the rewrite version — and the
    // refusal now names the option
    val e = intercept[Exception] { drain(Map.empty, base + "/c0") }
    assert(chain(e).exists(m => m.contains("skipChangeCommits")), chain(e))

    // skipChangeCommits: v3 dropped WHOLE (its re-added post-image too —
    // no duplicates), v2 and v4 appends flow
    val got = drain(Map("skipChangeCommits" -> "true"), base + "/c1")
    assert(got == Seq((1L, 10L), (2L, 20L), (3L, 30L), (9L, 90L)), got)

    // startingVersion pins the base: only v4 streams
    val late = drain(Map("startingVersion" -> "3"), base + "/c2")
    assert(late == Seq((9L, 90L)), late)
  }

  test("streaming CDF as text: readStream.table on t$changes resumes from its checkpoint") {
    val sp = spark
    val base = java.nio.file.Files.createTempDirectory("stchanges").toString
    sp.conf.set("spark.sql.catalog.gcdf", classOf[graft.sources.GraftCatalog].getName)
    sp.conf.set("spark.sql.catalog.gcdf.root", base + "/lake")
    sp.sql("CREATE NAMESPACE gcdf.db")
    sp.sql("CREATE TABLE gcdf.db.t (id BIGINT, v BIGINT)")        // v1
    sp.sql("INSERT INTO gcdf.db.t VALUES (1, 10), (2, 20), (3, 30)") // v2
    sp.sql("DELETE FROM gcdf.db.t WHERE id = 2")                  // v3

    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
    def drain(): Unit = {
      val q = sp.readStream.table("gcdf.db.`t$changes`")
        .writeStream.option("checkpointLocation", base + "/ckpt")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val rows = b.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
          got.synchronized { got ++= rows }
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    // full feed from 0: v2 adds 3 rows; v3 rewrites the file → the
    // stepwise diff removes the 3-row pre-image and adds the 2-row
    // post-image (whole-file images; the fold is what consumers run)
    val net = got.groupBy(r => (r._1, r._2))
      .view.mapValues(_.map(r => if (r._3 == "added") 1 else -1).sum)
      .filter(_._2 != 0).keys.toSet
    assert(net == Set((1L, 10L), (3L, 30L)), s"net=$net got=$got")

    // restart from the same checkpoint: ONLY the new version streams
    val seen = got.size
    sp.sql("INSERT INTO gcdf.db.t VALUES (9, 90)")                // v4
    drain()
    val fresh = got.drop(seen)
    assert(fresh == Seq((9L, 90L, "added")), s"fresh=$fresh")

    // a $from lower bound holds through .table too
    val got2 = scala.collection.mutable.ArrayBuffer.empty[String]
    val q2 = sp.readStream.table("gcdf.db.`t$changes$3`")
      .writeStream.option("checkpointLocation", base + "/ckpt2")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        got2.synchronized { got2 ++= b.collect().map(_.mkString(",")) }
        ()
      }
      .start()
    try q2.processAllAvailable() finally q2.stop()
    assert(got2.toSeq == Seq("9,90,added"), got2)

    // admission control rides through .table: one version per trigger
    // means one foreachBatch call per committed version
    val batches = new java.util.concurrent.atomic.AtomicLong
    val q3 = sp.readStream.option("maxVersionsPerTrigger", "1")
      .table("gcdf.db.`t$changes`")
      .writeStream.option("checkpointLocation", base + "/ckpt3")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (b.count() > 0) batches.incrementAndGet(); () }
      .start()
    try q3.processAllAvailable() finally q3.stop()
    assert(batches.get >= 3, s"one-version triggers should split the backlog: ${batches.get}")

    // an explicit bounded window is a batch query — streaming it refuses
    val e = intercept[Exception] {
      val q = sp.readStream.table("gcdf.db.`t$changes$1$3`")
        .writeStream.option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("stch_bad").toString)
        .format("memory").queryName("stch_bad_sink").start()
      try q.processAllAvailable() finally q.stop()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(12)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("bounded")), chain(e))
    // ... and the batch form of the same identifier still answers —
    // a TWO-ENDPOINT diff (v1 empty → v3 two live rows), not the
    // stepwise churn the stream delivers
    assert(sp.sql("SELECT count(*) FROM gcdf.db.`t$changes$1$3`").head.getLong(0) == 2L)
  }
}
