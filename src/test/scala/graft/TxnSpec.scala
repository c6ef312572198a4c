package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{FileStats, Snapshots, SnapshotsKeys}
import graft.sources.FileStats.ColRange

/** The transaction guarantees of the snapshot commit log (the
  * reference's withTransaction analog): multi-table atomicity,
  * snapshot isolation for readers, crash safety for writers that die
  * before publishing, optimistic-concurrency version claims, and time
  * travel.
  */
class TxnSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  private def df(pairs: (Long, Double)*) = {
    val sp = spark
    import sp.implicits._
    pairs.toDF("id", "v")
  }

  test("reads plan from the manifest alone: zero data-directory listings") {
    // lake rooted on the counting filesystem — every listStatus any part
    // of the stack issues against this root is recorded
    spark.sparkContext.hadoopConfiguration
      .set("fs.cfs.impl", classOf[CountingLocalFs].getName)
    val root = "cfs:" + Files.createTempDirectory("txnls").toString + "/t"
    val snap = new Snapshots(spark, root)
    val rows = (1L to 200L).map(i => (i, i * 2.0))
    val sp = spark
    import sp.implicits._
    snap.commit(Map("a" -> rows.toDF("id", "v").repartition(4)),
      statsCols = Map("a" -> Seq("id")))
    snap.append("a", Seq((201L, 402.0)).toDF("id", "v"), statsCols = Seq("id"))
    val head = snap.currentVersion.get

    CountingLocalFs.reset()
    // plain snapshot read: plan + execute
    assert(snap.read("a").count() === 201L)
    // stats-skipping read: sidecar consults are OPENs, not listings
    assert(snap.readWhere("a", Seq(ColRange("id", Some(1L), Some(10L)))).count() === 10L)
    // version-diff read
    assert(snap.readChanges("a", 1L, head).count() === 1L)
    // degenerate shapes stay valid relations: a range no file can hold
    // (stats prune EVERYTHING → empty file list, schema intact) and a
    // same-version diff (empty both sides)
    assert(snap.readWhere("a", Seq(ColRange("id", Some(10000L), None))).count() === 0L)
    assert(snap.readChanges("a", head, head).count() === 0L)
    assert(CountingLocalFs.dataDirLists.isEmpty,
      s"read paths listed data dirs: ${CountingLocalFs.dataDirLists.distinct}")

    // and the metadata is not load-bearing for correctness: the same
    // reads through a manifest stripped of its @schema/@files lines
    // (simulating an external/legacy writer) fall back to listing and
    // agree exactly
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val legacyRoot = "cfs:" + Files.createTempDirectory("txnls2").toString + "/t"
    // rebuild the lake bytes under a fresh root whose manifests are the
    // HEADERLESS v1 format (one `table=rel;rel` line, no @schema/@files
    // metadata, no delta encoding) — what an external or pre-v2 writer
    // leaves behind. The data-entry values are reconstructed from the
    // copied directory layout itself, not from the v2 log.
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(root),
      fs, new org.apache.hadoop.fs.Path(legacyRoot), false,
      spark.sparkContext.hadoopConfiguration)
    val commitsDir = new org.apache.hadoop.fs.Path(legacyRoot + "/_commits")
    fs.listStatus(commitsDir).foreach(st => fs.delete(st.getPath, false))
    def dirsUpTo(version: Long): String =
      fs.listStatus(new org.apache.hadoop.fs.Path(legacyRoot))
        .filter(st => st.isDirectory && st.getPath.getName.matches("v\\d+-[0-9a-f]+"))
        .filter(_.getPath.getName.drop(1).takeWhile(_.isDigit).toLong <= version)
        .map(st => s"${st.getPath.getName}/a").sorted.mkString(";")
    (1L to head).foreach { v =>
      val legacyManifest = new org.apache.hadoop.fs.Path(commitsDir, f"$v%020d.manifest")
      val out = fs.create(legacyManifest, true)
      try out.write(s"a=${dirsUpTo(v)}".getBytes("UTF-8")) finally out.close()
    }
    val legacy = new Snapshots(spark, legacyRoot)
    assert(legacy.read("a").count() === 201L)
    assert(legacy.readWhere("a", Seq(ColRange("id", Some(1L), Some(10L)))).count() === 10L)
    assert(legacy.readChanges("a", 1L, head).count() === 1L)
  }

  test("commit metadata is O(changed files): manifest bytes independent of table file count") {
    val sp = spark
    import sp.implicits._
    def manifestLen(root: String, v: Long): Long = {
      val p = new org.apache.hadoop.fs.Path(root + "/_commits", f"$v%020d.manifest")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).getLen
    }
    // two lakes, identical except the base table's FILE COUNT: 4 vs 256
    // files. The same one-row append must publish (near-)identical
    // manifest bytes on both — the delta encodes the changed files, not
    // the table — and two orders of magnitude below the 256-file state.
    def build(nFiles: Int): (String, Long) = {
      val root = Files.createTempDirectory("txninc").toString + "/t"
      val snap = new Snapshots(spark, root)
      snap.commit(Map("a" -> (1L to 4096L).map(i => (i, i * 2.0)).toDF("id", "v")
        .repartition(nFiles)), statsCols = Map("a" -> Seq("id")))
      val v = snap.append("a", Seq((90001L, 1.0)).toDF("id", "v"), statsCols = Seq("id"))
      assert(snap.read("a").count() === 4097L)
      (root, manifestLen(root, v))
    }
    val (_, small) = build(4)
    val (bigRoot, big) = build(256)
    assert(math.abs(big - small) < 256,
      s"append manifest bytes grew with table file count: $small vs $big")
    // and the append delta is far below the full 256-file state the
    // checkpoint would carry (the old format re-wrote per commit)
    assert(big < 2048, s"append manifest is not O(changed files): $big bytes")
    // the appended row still reads back exactly (a fresh instance
    // resolves the delta chain from disk, no writer-side memo)
    assert(new Snapshots(spark, bigRoot).read("a")
      .where(col("id") === 90001L).count() === 1L)

    // and the delta stays O(new files) against ACCUMULATED APPEND DIRS
    // too: after 30 small appends (30 part dirs on the table entry),
    // the next append's manifest must not re-write the dir list
    val manyRoot = Files.createTempDirectory("txninc2").toString + "/t"
    val many = new Snapshots(spark, manyRoot)
    many.commit(Map("a" -> Seq((0L, 0.0)).toDF("id", "v")))
    (1L to 30L).foreach(i => many.append("a", Seq((i, i * 1.0)).toDF("id", "v")))
    val vLast = many.append("a", Seq((31L, 31.0)).toDF("id", "v"))
    assert(manifestLen(manyRoot, vLast) < 1024,
      s"append delta re-writes the accumulated part list: ${manifestLen(manyRoot, vLast)} bytes")
    assert(many.read("a").count() === 32L)
  }

  test("checkpoint cadence bounds resolution; vacuum pins the oldest kept version") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txnckpt").toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = new Snapshots(spark, root)
    snap.commit(Map("a" -> Seq((0L, 0.0)).toDF("id", "v")))
    (1L to 20L).foreach(i => snap.append("a", Seq((i, i * 1.0)).toDF("id", "v")))
    val head = snap.currentVersion.get // 21 versions
    assert(fs.exists(new org.apache.hadoop.fs.Path(root + "/_commits",
      f"${16L}%020d.checkpoint")), "cadence checkpoint at v16 missing")
    // a FRESH instance (empty memo) resolves head through the
    // checkpoint + deltas, and every retained version reads exactly
    val cold = new Snapshots(spark, root)
    assert(cold.read("a").count() === 21L)
    assert(cold.read("a", Some(3L)).count() === 3L)
    // vacuum to a window whose oldest kept version (head-1 = 20) has no
    // cadence checkpoint: vacuum must pin one there before dropping the
    // chain, or the survivors' deltas would dangle
    snap.vacuum(keepLast = 2)
    assert(fs.exists(new org.apache.hadoop.fs.Path(root + "/_commits",
      f"${head - 1}%020d.checkpoint")), "vacuum did not checkpoint the oldest kept version")
    val afterVacuum = new Snapshots(spark, root)
    assert(afterVacuum.read("a").count() === 21L)
    assert(afterVacuum.read("a", Some(head - 1)).count() === 20L)
    // dropped versions fail loudly on the SAME instance that vacuumed
    // (memo evicted with the manifest)
    intercept[Exception](snap.read("a", Some(3L)).collect())
  }

  test("commit timestamps survive a file-level lake copy (header ts, not mtime)") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txnts").toString + "/t"
    val snap = new Snapshots(spark, root)
    val v1 = snap.commit(Map("t" -> Seq((1L, 1.0)).toDF("id", "v")))
    Thread.sleep(120)
    val mid = System.currentTimeMillis()
    Thread.sleep(120)
    snap.append("t", Seq((2L, 2.0)).toDF("id", "v"))
    // file-level copy (the c12 template pattern / a backup restore)
    // resets every mtime to copy time — header timestamps must keep
    // timestamp travel exact on the copy
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val copyRoot = Files.createTempDirectory("txnts2").toString + "/t"
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(root),
      fs, new org.apache.hadoop.fs.Path(copyRoot), false,
      spark.sparkContext.hadoopConfiguration)
    val copy = new Snapshots(spark, copyRoot)
    assert(copy.versionAsOf(mid).contains(v1),
      "copied lake must resolve mid-window to v1 (header ts, not copy-time mtime)")
    assert(copy.readAsOf("t", mid).count() === 1L)
  }

  test("incremental aggregate tracks the source through append, delete, update, compact") {
    import graft.sources.IncrementalAgg
    val sp = spark
    import sp.implicits._
    val base = Files.createTempDirectory("incagg").toString
    val src = new Snapshots(spark, base + "/src")
    val agg = new Snapshots(spark, base + "/agg")
    def rows(ids: Range) = ids.map(i => (i.toLong, s"g${i % 3}", i * 10L)).toDF("id", "grp", "v")

    src.commit(Map("t" -> rows(1 to 100).repartition(4)), statsCols = Map("t" -> Seq("id")))
    IncrementalAgg.seed(spark, src, "t", "grp", "v", agg, atVersion = 1L)

    // delta-maintained state must equal a from-scratch recompute after
    // EVERY source mutation — and the watermark must land on the head
    def check(label: String): Unit = {
      IncrementalAgg.refresh(spark, src, "t", "grp", "v", agg)
      assert(IncrementalAgg.watermark(agg).contains(src.currentVersion.get), label)
      val got = agg.read("agg").orderBy("grp").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      val want = src.read("t").groupBy("grp")
        .agg(count(lit(1)).as("n"), sum("v").as("total")).orderBy("grp").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == want, s"$label: incremental $got != recompute $want")
    }

    src.append("t", rows(101 to 120), statsCols = Seq("id"))
    check("append")
    src.deleteWhere("t", Seq(ColRange("id", Some(10L), Some(30L))), statsCols = Seq("id"))
    check("delete")
    src.updateWhere("t", Seq(ColRange("id", Some(50L), Some(60L))),
      Map("v" -> (col("v") * 2L)), statsCols = Seq("id"))
    check("update")
    // a merge-on-read delete reaches the consumer as positional
    // `removed` rows — the matview must not wait for a compaction
    src.deleteWhereMoR("t", Seq(ColRange("id", Some(70L), Some(75L))))
    check("mor delete")
    // compact rewrites every file; rows that merely moved between files
    // surface as remove+add and must cancel group-wise (here it also
    // materializes the vector)
    src.compact("t", sortCol = Some("id"), statsCols = Seq("id"))
    check("compact")
    // rollback rewinds the source — because rollbackTo REPUBLISHES the
    // restored state as a new version, the file-set diff from the
    // consumer's watermark to the new head is exactly the inverse
    // delta, and refresh composes with no special casing
    src.rollbackTo(2L) // back to the post-append state
    check("rollback")
    // already-current refresh is a no-op: no new agg version published
    val before = agg.currentVersion.get
    IncrementalAgg.refresh(spark, src, "t", "grp", "v", agg)
    assert(agg.currentVersion.get == before)
  }

  test("multi-table commit is atomic and snapshot reads never mix versions") {
    val root = Files.createTempDirectory("txn").toString + "/t"
    val snap = new Snapshots(spark, root)
    assert(snap.currentVersion.isEmpty)

    val v1 = snap.commit(Map("a" -> df(1L -> 1.0), "b" -> df(1L -> 10.0)))
    assert(v1 == 1L && snap.currentVersion.contains(1L))

    // resolve a snapshot, then land a new commit UNDER the reader:
    // the already-resolved snapshot must keep reading version 1 of
    // BOTH tables (isolation), while new resolutions see version 2
    val reader = snap.snapshot()
    val v2 = snap.commit(Map("a" -> df(2L -> 2.0), "b" -> df(2L -> 20.0)))
    assert(v2 == 2L)
    assert(reader("a").select("id").head().getLong(0) == 1L)
    assert(reader("b").select("id").head().getLong(0) == 1L)
    val fresh = snap.snapshot()
    assert(fresh("a").select("id").head().getLong(0) == 2L)
    assert(fresh("b").select("id").head().getLong(0) == 2L)

    // time travel: version 1 stays readable
    assert(snap.read("b", Some(1L)).select("v").head().getDouble(0) == 10.0)
  }

  test("a writer crashing before the manifest leaves no visible state") {
    val root = Files.createTempDirectory("txn").toString + "/t"
    val snap = new Snapshots(spark, root)
    snap.commit(Map("a" -> df(1L -> 1.0)))
    // simulate the crash: data files for v2 written, manifest never
    // published (exactly what a mid-commit executor/driver death leaves)
    df(99L -> 99.0).write.parquet(s"$root/v2/a")
    assert(snap.currentVersion.contains(1L), "orphan data must stay invisible")
    assert(snap.read("a").select("id").head().getLong(0) == 1L)
    // the next commit claims a fresh version and wins cleanly
    val v = snap.commit(Map("a" -> df(2L -> 2.0)))
    assert(v >= 2L && snap.read("a").select("id").head().getLong(0) == 2L)
  }

  test("optimistic concurrency: losing a version race retries and both commits land") {
    val root = Files.createTempDirectory("txn").toString + "/t"
    val s1 = new Snapshots(spark, root)
    val s2 = new Snapshots(spark, root)
    s1.commit(Map("a" -> df(1L -> 1.0)))
    // both sessions believe current = 1 and will try to claim v2; the
    // create-exclusive manifest write serializes them
    val r1 = s1.commit(Map("a" -> df(2L -> 2.0)))
    val r2 = s2.commit(Map("a" -> df(3L -> 3.0)))
    assert(Set(r1, r2) == Set(2L, 3L), s"got versions $r1, $r2")
    assert(new Snapshots(spark, root).read("a").select("id").head().getLong(0) == 3L)
  }

  test("schema evolution: each snapshot version keeps its own schema") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txn").toString + "/t"
    val snap = new Snapshots(spark, root)
    snap.commit(Map("a" -> Seq((1L, 1.0)).toDF("id", "v")))
    // v2 adds a column — committed data files are immutable per
    // version, so old readers keep the old shape, new readers the new
    snap.commit(Map("a" -> Seq((2L, 2.0, "x")).toDF("id", "v", "tag")))
    assert(snap.read("a", Some(1L)).columns.toSeq == Seq("id", "v"))
    assert(snap.read("a").columns.toSeq == Seq("id", "v", "tag"))
    assert(snap.read("a").head().getString(2) == "x")
  }

  test("rollbackTo re-points head at an old snapshot; history stays time-travelable") {
    val root = Files.createTempDirectory("txn").toString + "/t"
    val snap = new Snapshots(spark, root)
    snap.commit(Map("a" -> df(1L -> 1.0), "b" -> df(1L -> 10.0)))
    snap.commit(Map("a" -> df(2L -> 2.0), "b" -> df(2L -> 20.0)))

    val v3 = snap.rollbackTo(1L)
    assert(v3 == 3L, "rollback publishes a NEW head version")
    // head state == version 1's state, for every table in the commit
    val cur = snap.snapshot()
    assert(cur("a").select("id").head().getLong(0) == 1L)
    assert(cur("b").select("v").head().getDouble(0) == 10.0)
    // the rolled-back version is not erased — time travel still reads it
    assert(snap.read("a", Some(2L)).select("id").head().getLong(0) == 2L)
    // and committing after a rollback moves forward normally
    val v4 = snap.commit(Map("a" -> df(4L -> 4.0), "b" -> df(4L -> 40.0)))
    assert(v4 == 4L && snap.read("a").select("id").head().getLong(0) == 4L)
    // rolling back to a never-committed version must fail loudly
    intercept[Exception](snap.rollbackTo(99L))
  }

  test("footer stats skip files a range predicate cannot match; result is exact") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txn").toString + "/t"
    val snap = new Snapshots(spark, root)
    // 1000 rows range-clustered into 8 files → disjoint id ranges per file
    val df = (1L to 1000L).map(i => (i, s"name$i", i * 1.5)).toDF("id", "nm", "v")
      .repartitionByRange(8, col("id"))
    snap.commit(Map("a" -> df), statsCols = Map("a" -> Seq("id", "nm", "v")))

    val full = snap.read("a")
    val totalFiles = full.inputFiles.length
    assert(totalFiles >= 8, s"expected >=8 data files, got $totalFiles")

    // long-typed skipping: a 100-wide key range lands in 1-2 of 8 files
    val pruned = snap.readWhere("a", Seq(ColRange("id", Some(101L), Some(200L))))
    assert(pruned.inputFiles.length < totalFiles / 2,
      s"stats should skip most files: read ${pruned.inputFiles.length} of $totalFiles")
    val expect = full.where(col("id").between(101, 200))
    assert(pruned.count() == 100L)
    assert(pruned.exceptAll(expect).isEmpty && expect.exceptAll(pruned).isEmpty,
      "pruned read must equal full-scan filter")

    // double-typed bound on the same read path
    val dpr = snap.readWhere("a", Seq(ColRange("v", None, Some(15.0))))
    assert(dpr.count() == full.where(col("v") <= 15.0).count())
    assert(dpr.inputFiles.length < totalFiles)

    // an impossible range opens ZERO files but keeps the schema
    val none = snap.readWhere("a", Seq(ColRange("id", Some(5000L), None)))
    assert(none.count() == 0L && none.columns.toSeq == full.columns.toSeq)

    // a table committed WITHOUT stats still answers correctly (no skipping)
    snap.commit(Map("a" -> df))
    val nostats = snap.readWhere("a", Seq(ColRange("id", Some(101L), Some(200L))))
    assert(nostats.count() == 100L && nostats.inputFiles.length >= 8)
  }

  test("decimal column stats: scaled pruning is exact — unscaled footer ints never skip matching rows") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txndec").toString + "/t"
    val snap = new Snapshots(spark, root)
    // decimal(12,2) backed by parquet INT64 UNSCALED ints: prices
    // 1.00-1000.00 store as 100-100000; stats recorded as raw longs
    // would compare 100000 against a scaled bound like 50.00 and
    // wrongly prune every file
    val df = (1L to 1000L).map(i => (i, BigDecimal(i).setScale(2)))
      .toDF("id", "price")
      .select(col("id"), col("price").cast("decimal(12,2)").as("price"))
      .repartitionByRange(8, col("price"))
    snap.commit(Map("p" -> df), statsCols = Map("p" -> Seq("price")))
    val full = snap.read("p")
    val totalFiles = full.inputFiles.length
    assert(totalFiles >= 8)

    // the bug shape: every row matches price <= 1000.00 — a file must
    // never be skipped (unscaled stats would prune ALL of them)
    val all = snap.readWhere("p",
      Seq(ColRange("price", None, Some(BigDecimal("1000.00")))))
    assert(all.count() == 1000L, "no matching row may be skipped")

    // a tight range prunes to few files AND returns the exact rows
    val tight = snap.readWhere("p",
      Seq(ColRange("price", Some(BigDecimal("101.00")), Some(BigDecimal("200.00")))))
    assert(tight.count() == 100L)
    assert(tight.inputFiles.length < totalFiles / 2,
      s"decimal stats should skip most files: ${tight.inputFiles.length} of $totalFiles")
    val expect = full.where(col("price").between(BigDecimal("101.00"), BigDecimal("200.00")))
    assert(tight.exceptAll(expect).isEmpty && expect.exceptAll(tight).isEmpty)

    // java.math.BigDecimal bounds take the same path
    val jm = snap.readWhere("p",
      Seq(ColRange("price", Some(new java.math.BigDecimal("999.50")), None)))
    assert(jm.count() == 1L && jm.inputFiles.length <= 2)
  }

  test("history() reports one row per retained version with change attribution") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txn").toString + "/t"
    val snap = new Snapshots(spark, root)
    snap.commit(Map("a" -> df(1L -> 1.0), "b" -> df(1L -> 10.0)))   // v1: a,b appear
    snap.append("a", df(2L -> 2.0))                                  // v2: a changes
    snap.compact("a", targetBytes = 1L << 20)                        // v3: a, @maint
    snap.deleteWhere("a", Seq(ColRange("id", Some(2L), Some(2L))))   // v4: a changes
    val h = snap.history().collect()
    assert(h.length == 4, s"4 versions retained, got ${h.length}")
    assert(h.map(_.getLong(0)).toSeq == Seq(4L, 3L, 2L, 1L), "newest first")
    val ts = h.map(_.getTimestamp(1).getTime).toSeq
    assert(ts == ts.sorted.reverse, "timestamps non-increasing newest-first")
    val byV = h.map(r => r.getLong(0) -> r).toMap
    assert(byV(1L).getString(2) == "a,b" && byV(1L).getInt(4) == 2)
    assert(byV(2L).getString(2) == "a" && byV(2L).getString(3).isEmpty)
    assert(byV(3L).getString(3) == "a", "compaction must carry the maint flag")
    assert(byV(4L).getString(2) == "a")
    // vacuum shrinks the reported window to the retained set
    snap.vacuum(keepLast = 2)
    assert(snap.history().collect().map(_.getLong(0)).toSeq == Seq(4L, 3L))
  }

  test("bloom index skips files min/max cannot, on a hash-distributed key") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txn").toString + "/t"
    val snap = new Snapshots(spark, root)
    // 4096 rows HASH-distributed into 16 files: every file's [min,max]
    // spans nearly the whole key domain, so min/max skipping is useless
    // by construction — exactly the layout the bloom index exists for
    val df = (1L to 4096L).map(i => (i, s"u$i", i * 1.5)).toDF("id", "nm", "v")
      .repartition(16, col("id"))
    snap.commit(Map("a" -> df),
      statsCols = Map("a" -> Seq("id")),
      bloomCols = Map("a" -> Seq("id", "nm")))

    val full = snap.read("a")
    val totalFiles = full.inputFiles.length
    assert(totalFiles == 16, s"expected 16 data files, got $totalFiles")

    // control: the min/max-only path keeps (nearly) everything on this
    // layout — proves the bloom, not the stats, does the work below
    val byRange = snap.readWhere("a", Seq(ColRange("id", Some(17L), Some(17L))))
    assert(byRange.inputFiles.length > totalFiles / 2,
      s"hash layout should defeat min/max: kept ${byRange.inputFiles.length} of $totalFiles")

    // 3 probe keys live in ≤3 files; 1% fpp on 13 other files adds ~0
    val probe = snap.readWhereIn("a", "id", Seq(17L, 451L, 1063L))
    assert(probe.inputFiles.length <= 5,
      s"bloom should prune to the holder files: kept ${probe.inputFiles.length} of $totalFiles")
    val expect = full.where(col("id").isin(17L, 451L, 1063L))
    assert(probe.count() == 3L)
    assert(probe.exceptAll(expect).isEmpty && expect.exceptAll(probe).isEmpty,
      "bloom-pruned read must equal full-scan filter")

    // string-typed probe on the second indexed column
    val sprobe = snap.readWhereIn("a", "nm", Seq("u99", "u2048"))
    assert(sprobe.count() == 2L && sprobe.inputFiles.length <= 4)

    // absent keys: bloom proves absence for (nearly) every file, result
    // is empty with schema intact
    val none = snap.readWhereIn("a", "id", Seq(999999L))
    assert(none.count() == 0L && none.inputFiles.length <= 1 &&
      none.columns.toSeq == full.columns.toSeq)

    // unindexed column → conservative full read, still exact
    val noidx = snap.readWhereIn("a", "v", Seq(1.5))
    assert(noidx.count() == 1L)

    // incremental ingest: an append with bloomCols indexes the NEW dir
    // and the probe prunes across both generations
    snap.append("a", Seq((9001L, "u9001", 1.0)).toDF("id", "nm", "v"),
      statsCols = Seq("id"), bloomCols = Seq("id", "nm"))
    val across = snap.readWhereIn("a", "id", Seq(17L, 9001L))
    assert(across.count() == 2L && across.inputFiles.length <= 5,
      s"append+probe should stay pruned: ${across.inputFiles.length} files")

    // compaction with bloomCols REBUILDS the index over the packed dir
    snap.compact("a", targetBytes = 1L << 20, statsCols = Seq("id"), bloomCols = Seq("id"))
    val packed = snap.readWhereIn("a", "id", Seq(17L, 9001L))
    val packedTotal = snap.read("a").inputFiles.length
    assert(packed.count() == 2L)
    if (packedTotal > 3)
      assert(packed.inputFiles.length < packedTotal,
        s"post-compact probe should still skip: ${packed.inputFiles.length} of $packedTotal")

    // a partial rewrite (no bloomCols path) DROPS blooms for the
    // rewritten dirs: reads stay exact, just unpruned — conservative
    snap.deleteWhere("a", Seq(ColRange("id", Some(4000L), Some(4096L))), statsCols = Seq("id"))
    val after = snap.readWhereIn("a", "id", Seq(17L))
    assert(after.count() == 1L)
  }

  test("string-typed footer stats prune by lexicographic range") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txn").toString + "/t"
    val snap = new Snapshots(spark, root)
    val df = ('a' to 'z').flatMap(c => (1 to 10).map(i => (s"$c$i", c.toString)))
      .toDF("key", "grp").repartitionByRange(6, col("key"))
    snap.commit(Map("w" -> df), statsCols = Map("w" -> Seq("key")))
    val total = snap.read("w").inputFiles.length
    val pruned = snap.readWhere("w", Seq(ColRange("key", Some("b"), Some("c~"))))
    assert(pruned.inputFiles.length < total,
      s"string stats should skip files: ${pruned.inputFiles.length} of $total")
    assert(pruned.count() ==
      snap.read("w").where(col("key") >= "b" && col("key") <= "c~").count())
  }

  test("compaction bin-packs files, preserves data and history, re-sharpens stats") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txn").toString + "/t"
    val snap = new Snapshots(spark, root)
    // many tiny files — the post-ingest shape compaction exists for
    val tiny = (1L to 600L).map(i => (i, i * 2.0)).toDF("id", "v").repartition(24)
    val v1 = snap.commit(Map("a" -> tiny, "other" -> Seq((1L, 1.0)).toDF("id", "v")),
      statsCols = Map("a" -> Seq("id")))
    val before = snap.read("a").inputFiles.length
    assert(before >= 20)

    // unsorted tiny files: id stats overlap everywhere, skipping is weak
    val prunedBefore = snap.readWhere("a", Seq(ColRange("id", Some(1L), Some(50L))))
    assert(prunedBefore.count() == 50L)

    // ~8KB target → a handful of range-disjoint files (not one), so the
    // post-compaction skipping claim below is non-vacuous
    val v2 = snap.compact("a", targetBytes = 8L << 10,
      sortCol = Some("id"), statsCols = Seq("id"))
    assert(v2 > v1)
    val after = snap.read("a")
    assert(after.inputFiles.length < before / 4,
      s"compaction should collapse file count: ${after.inputFiles.length} vs $before")
    // same rows, untouched table re-pointed, old version time-travelable
    assert(after.agg(sum("id")).head.getLong(0) == (1L to 600L).sum)
    assert(snap.read("other").count() == 1L)
    assert(snap.read("a", Some(v1)).inputFiles.length == before)
    // range-clustered rewrite makes the range query open fewer files than exist
    val prunedAfter = snap.readWhere("a", Seq(ColRange("id", Some(1L), Some(50L))))
    assert(prunedAfter.count() == 50L)
    if (after.inputFiles.length > 1)
      assert(prunedAfter.inputFiles.length < after.inputFiles.length,
        "range-clustered stats should skip files after compaction")
  }

  test("deleteWhere rewrites only might-match files; untouched files are re-referenced, not copied") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txn").toString + "/t"
    val snap = new Snapshots(spark, root)
    val rows = (1L to 600L).map(i => (i, i * 2.0)).toDF("id", "v")
      .repartitionByRange(12, col("id"))
    val v1 = snap.commit(Map("a" -> rows), statsCols = Map("a" -> Seq("id")))
    val filesBefore = snap.read("a").inputFiles.toSet
    assert(filesBefore.size >= 10)

    val v2 = snap.deleteWhere("a", Seq(ColRange("id", Some(100L), Some(150L))), statsCols = Seq("id"))
    assert(v2 > v1)
    // exact result: doomed range gone, everything else intact
    val after = snap.read("a")
    assert(after.count() == 600L - 51L)
    assert(after.where(col("id").between(100L, 150L)).count() == 0L)
    assert(after.agg(sum("id")).head.getLong(0) == (1L to 600L).sum - (100L to 150L).sum)
    // partial rewrite: most of v1's physical files are still what the
    // head reads (re-referenced), only the range-overlapping ones differ
    val filesAfter = after.inputFiles.toSet
    val shared = filesBefore & filesAfter
    assert(shared.size >= filesBefore.size - 3,
      s"only ${shared.size} of ${filesBefore.size} files re-referenced — delete copied the table")
    assert((filesAfter -- filesBefore).nonEmpty, "no rewritten file found")
    // time travel: the old version still reads the deleted rows
    assert(snap.read("a", Some(v1)).count() == 600L)
    // the file-skipping read path understands the mixed dir+file manifest
    val pruned = snap.readWhere("a", Seq(ColRange("id", Some(200L), Some(260L))))
    assert(pruned.count() == 61L)
    assert(pruned.inputFiles.length < filesAfter.size)
    // result-idempotence: a repeat delete re-examines only files whose
    // [min,max] still spans the range (min/max cannot prove a hole) and
    // leaves the table unchanged
    snap.deleteWhere("a", Seq(ColRange("id", Some(100L), Some(150L))), statsCols = Seq("id"))
    assert(snap.read("a").count() == 549L)
    // a delete whose range stats PROVE absent is a true no-op
    val head = snap.currentVersion.get
    assert(snap.deleteWhere("a", Seq(ColRange("id", Some(5000L), Some(6000L))), statsCols = Seq("id")) == head)
    // vacuum must NOT collect v1's dir — the head's file entries pin it
    val (_, deleted) = snap.vacuum(keepLast = 1)
    assert(deleted == 0, s"vacuum collected a dir the head still references ($deleted)")
    assert(snap.read("a").count() == 549L)
    // compact collapses the file-granular entries into a fresh dir,
    // after which vacuum CAN reclaim the old version's bytes
    snap.compact("a", targetBytes = 1L << 20, sortCol = Some("id"), statsCols = Seq("id"))
    val (_, deleted2) = snap.vacuum(keepLast = 1)
    assert(deleted2 >= 1, "post-compaction vacuum should reclaim the superseded dirs")
    assert(snap.read("a").count() == 549L)
  }

  test("deleteKeys: keyset delete is span-pruned, exact, and replay-convergent") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txn").toString + "/t"
    val snap = new Snapshots(spark, root)
    val rows = (1L to 600L).map(i => (i, i * 2.0)).toDF("id", "v")
      .repartitionByRange(12, col("id"))
    val v1 = snap.commit(Map("a" -> rows), statsCols = Map("a" -> Seq("id")))
    val filesBefore = snap.read("a").inputFiles.toSet
    // a tight keyset: its [min,max] span overlaps one or two files
    val keys = Seq(110L, 115L, 120L).toDF("id")
    val v2 = snap.deleteKeys("a", keys, "id", statsCols = Seq("id"))
    assert(v2 > v1)
    val after = snap.read("a")
    assert(after.count() == 597L)
    assert(after.where(col("id").isin(110L, 115L, 120L)).count() == 0L)
    // rows INSIDE the span but not in the keyset survive (anti-join, not
    // a range delete)
    assert(after.where(col("id") === 113L).count() == 1L)
    // span pruning: files outside [110,120] are re-referenced
    val shared = filesBefore & after.inputFiles.toSet
    assert(shared.size >= filesBefore.size - 2,
      s"only ${shared.size} of ${filesBefore.size} files re-referenced — keyset delete copied the table")
    // replay converges: same keyset again leaves the same state
    snap.deleteKeys("a", keys, "id", statsCols = Seq("id"))
    assert(snap.read("a").count() == 597L)
    // an all-absent keyset whose span stats prove no overlap is a true no-op
    val head = snap.currentVersion.get
    assert(snap.deleteKeys("a", Seq(9000L, 9001L).toDF("id"), "id",
      statsCols = Seq("id")) == head)
    // empty keyset is a no-op; time travel keeps the deleted rows
    assert(snap.deleteKeys("a", sp.emptyDataset[Long].toDF("id"), "id") == snap.currentVersion.get)
    assert(snap.read("a", Some(v1)).count() == 600L)
  }

  test("maintenance flag: compaction versions carry @maint; data versions never inherit it") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txn").toString + "/t"
    val snap = new Snapshots(spark, root)
    snap.commit(Map("t" -> (1L to 100L).map(i => (i, i * 1.0)).toDF("id", "v")
      .repartitionByRange(4, col("id"))), Map("t" -> Seq("id")))          // v1
    snap.append("t", Seq((101L, 1.0)).toDF("id", "v"), statsCols = Seq("id")) // v2
    val vc = snap.compact("t", targetBytes = 1L << 20, sortCol = Some("id"),
      statsCols = Seq("id"))                                              // v3
    val va = snap.append("t", Seq((102L, 2.0)).toDF("id", "v"), statsCols = Seq("id")) // v4
    assert(!snap.isMaintenanceVersion("t", 1L))
    assert(!snap.isMaintenanceVersion("t", 2L))
    assert(snap.isMaintenanceVersion("t", vc), "compaction must be flagged @maint")
    // the marker is a per-version property: the manifest-merge in the
    // next data publish must NOT carry it forward
    assert(!snap.isMaintenanceVersion("t", va),
      "a data commit after compaction must not inherit @maint")
    // rollback republishes state as a DATA version
    val vr = snap.rollbackTo(vc)
    assert(!snap.isMaintenanceVersion("t", vr))
  }

  test("aggStats: metadata-only count/min/max equals a real scan across DML; refuses stale stats") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txn").toString + "/t"
    val snap = new Snapshots(spark, root)
    val sc = Seq("id", "v")
    def rows(n: Int, off: Long) = (1L to n).map(i =>
      (i + off, if ((i + off) % 3 == 0) null.asInstanceOf[java.lang.Long] else java.lang.Long.valueOf(i * 10)))
      .toDF("id", "v")
    val v1 = snap.commit(Map("t" -> rows(300, 0).repartitionByRange(6, col("id"))),
      Map("t" -> sc))
    def check(): Unit = {
      val (n, m) = snap.aggStats("t", sc)
      val real = snap.read("t").agg(
        count(lit(1)), count(col("id")), min("id"), max("id"),
        count(col("v")), min("v"), max("v")).head()
      assert(n == real.getLong(0), "row count diverged")
      assert(m("id") == ((real.getLong(1), Some(real.getLong(2)), Some(real.getLong(3)))))
      assert(m("v") == ((real.getLong(4), Some(real.getLong(5)), Some(real.getLong(6)))))
    }
    check()
    // every DML verb refreshes the sidecars it writes — metadata answers
    // must track the data exactly
    snap.deleteWhere("t", Seq(ColRange("id", Some(50L), Some(99L))), statsCols = sc)
    check()
    snap.append("t", rows(40, 1000), statsCols = sc)
    check()
    snap.updateWhere("t", Seq(ColRange("id", Some(10L), Some(20L))),
      Map("v" -> (col("v") + 5L)), statsCols = sc)
    check()
    snap.compact("t", targetBytes = 1L << 20, sortCol = Some("id"), statsCols = sc)
    check()
    // time travel: metadata aggregates at the ORIGINAL version
    val (n1, m1) = snap.aggStats("t", Seq("id"), version = Some(v1))
    assert(n1 == 300L && m1("id")._2.contains(1L) && m1("id")._3.contains(300L))
    // the DOUBLE stats type decodes through the same fold (c13's oracle
    // covers long+string; this pins the third comparator/codec)
    val root2 = Files.createTempDirectory("txn").toString + "/t"
    val s2 = new Snapshots(spark, root2)
    s2.commit(Map("d" -> (1L to 50L).map(i => (i, i * 0.25)).toDF("id", "x")
      .repartitionByRange(4, col("id"))), Map("d" -> Seq("x")))
    val (nd, md) = s2.aggStats("d", Seq("x"))
    assert(nd == 50L && md("x") == ((50L, Some(0.25), Some(12.5))))
    // a publish WITHOUT stats must make the metadata answer refuse, not lie
    snap.append("t", rows(5, 5000)) // no statsCols
    val e = intercept[IllegalStateException](snap.aggStats("t", sc))
    assert(e.getMessage.contains("_stats") || e.getMessage.contains("stats"))
  }

  test("composite-key MERGE and keyset DELETE: all components match, leading span prunes") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txn").toString + "/t"
    val snap = new Snapshots(spark, root)
    // composite PK (region, id): same id repeats across regions
    val rows = for (r <- Seq("eu", "us"); i <- 1L to 200L) yield (r, i, i * 10L)
    snap.commit(Map("a" -> rows.toDF("region", "id", "v")
      .repartitionByRange(4, col("region"), col("id"))), Map("a" -> Seq("region", "id")))
    // MERGE on (region, id): update eu/5, insert eu/999 — us/5 untouched
    snap.mergeInto("a", Seq(("eu", 5L, 777L), ("eu", 999L, 999L)).toDF("region", "id", "v"),
      Seq("region", "id"), Seq("region", "id"))
    val after = snap.read("a")
    assert(after.count() == 401L)
    assert(after.where(col("region") === "eu" && col("id") === 5L)
      .head.getLong(2) == 777L)
    assert(after.where(col("region") === "us" && col("id") === 5L)
      .head.getLong(2) == 50L, "a shared id in ANOTHER region must not be touched")
    // keyset DELETE on (region, id): only the named pairs die
    snap.deleteKeys("a", Seq(("eu", 7L), ("us", 9L)).toDF("region", "id"),
      Seq("region", "id"), Seq("region", "id"))
    val d = snap.read("a")
    assert(d.count() == 399L)
    assert(d.where(col("id") === 7L).count() == 1L, "us/7 must survive eu/7's delete")
    assert(d.where(col("id") === 9L).count() == 1L, "eu/9 must survive us/9's delete")
  }

  test("merge-on-read deletes: positional tombstones, transparent reads, compact materializes") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txn").toString + "/t"
    val snap = new Snapshots(spark, root)
    val v1 = snap.commit(Map("a" -> (1L to 600L).map(i => (i, i * 2.0)).toDF("id", "v")
      .repartitionByRange(12, col("id"))), Map("a" -> Seq("id")))
    val v2 = snap.deleteWhereMoR("a", Seq(ColRange("id", Some(100L), Some(150L))))
    assert(v2 > v1 && snap.hasDeletionVector("a", v2))
    // reads apply the vector transparently; not one data file was rewritten,
    // so time travel to v1 still reads every row from the SAME files
    val after = snap.read("a")
    assert(after.count() == 549L)
    assert(after.where(col("id").between(100L, 150L)).count() == 0L)
    assert(after.agg(sum("id")).head.getLong(0) == (1L to 600L).sum - (100L to 150L).sum)
    assert(snap.read("a", Some(v1)).count() == 600L)
    // stats-pruned reads compose with the vector
    assert(snap.readWhere("a", Seq(ColRange("id", Some(90L), Some(130L)))).count() == 10L)
    // vectors stack; an exact repeat publishes nothing
    snap.deleteWhereMoR("a", Seq(ColRange("id", Some(200L), Some(210L))))
    assert(snap.read("a").count() == 538L)
    val head = snap.currentVersion.get
    assert(snap.deleteWhereMoR("a", Seq(ColRange("id", Some(200L), Some(210L)))) == head)
    // paths that cannot represent positional deletes refuse loudly;
    // count(*) stays exact (footer rows − tombstones), and the DV-aware
    // diff delivers the deletes as `removed` rows by position
    intercept[IllegalArgumentException](
      snap.deleteWhere("a", Seq(ColRange("id", Some(1L), Some(5L))), Seq("id")))
    intercept[IllegalArgumentException](snap.aggStats("a", Seq("id")))
    assert(snap.aggStats("a", Nil)._1 == 538L,
      "metadata count(*) must subtract tombstoned positions")
    val dvDiff = snap.readChanges("a", v1, snap.currentVersion.get)
    assert(dvDiff.where(col("_change") === "added").count() == 0L)
    assert(dvDiff.where(col("_change") === "removed").count() == 62L) // 51 + 11 tombstoned
    assert(dvDiff.where(col("_change") === "removed").agg(sum("id")).head.getLong(0) ==
      (100L to 150L).sum + (200L to 210L).sum)
    intercept[IllegalArgumentException](
      snap.readChanges("a", v1, snap.currentVersion.get, dvAware = false))
    intercept[IllegalArgumentException](snap.tablePaths())
    assert(snap.hasTable("a"), "existence probe must not trip the DV guard")
    // appends are fine (new files carry no tombstones)
    snap.append("a", Seq((700L, 7.0)).toDF("id", "v"), statsCols = Seq("id"))
    assert(snap.read("a").count() == 539L)
    // restore re-arms the vector with the table state
    val preRestore = snap.currentVersion.get
    snap.restoreTable("a", v2)
    assert(snap.read("a").count() == 549L)
    snap.restoreTable("a", preRestore)
    // compact IS the materialize step: vector folded in, line dropped,
    // CoW DML and metadata aggregates work again, vacuum reclaims
    val vc = snap.compact("a", targetBytes = 1L << 20, sortCol = Some("id"),
      statsCols = Seq("id"))
    assert(!snap.hasDeletionVector("a", vc))
    assert(snap.isMaintenanceVersion("a", vc),
      "a materializing compaction is rows-invariant w.r.t. the DV-applied view " +
        "(the DV-aware feed already delivered the deletes at the vector's version)")
    assert(snap.read("a").count() == 539L)
    val (n, m) = snap.aggStats("a", Seq("id"))
    assert(n == 539L && m("id")._1 == 539L)
    snap.deleteWhere("a", Seq(ColRange("id", Some(700L), Some(700L))), Seq("id"))
    assert(snap.read("a").count() == 538L)
    snap.vacuum(keepLast = 1)
    assert(snap.read("a").count() == 538L)
  }

  test("merge-on-read updates: tombstone + re-append in one manifest, twice-applies like SQL") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txn").toString + "/t"
    val snap = new Snapshots(spark, root)
    val v1 = snap.commit(Map("a" -> (1L to 400L).map(i => (i, i * 10L)).toDF("id", "v")
      .repartitionByRange(8, col("id"))), Map("a" -> Seq("id")))
    val v2 = snap.updateWhereMoR("a", Seq(ColRange("id", Some(50L), Some(80L))),
      Map("v" -> (col("v") + 1000000L)), statsCols = Seq("id"))
    assert(v2 > v1 && snap.hasDeletionVector("a", v2))
    // exact: matched rows transformed, count unchanged, others intact
    val after = snap.read("a")
    assert(after.count() == 400L)
    assert(after.where(col("id").between(50L, 80L) && col("v") > 1000000L).count() == 31L)
    assert(after.where(col("v") > 1000000L).count() == 31L)
    assert(after.agg(sum("v")).head.getLong(0) ==
      (1L to 400L).map(_ * 10L).sum + 31L * 1000000L)
    // no original file rewritten: time travel reads the old values
    assert(snap.read("a", Some(v1)).where(col("v") > 1000000L).count() == 0L)
    // a REPEAT applies the transform again (UPDATE-twice semantics) —
    // the updated rows still satisfy the id range
    snap.updateWhereMoR("a", Seq(ColRange("id", Some(50L), Some(80L))),
      Map("v" -> (col("v") + 1000000L)), statsCols = Seq("id"))
    assert(snap.read("a").where(col("v") > 2000000L).count() == 31L)
    assert(snap.read("a").count() == 400L)
    // an update whose range the rows have LEFT is a no-op
    val head = snap.currentVersion.get
    assert(snap.updateWhereMoR("a", Seq(ColRange("v", Some(500L), Some(600L)),
      ColRange("id", Some(50L), Some(55L))), Map("v" -> lit(0L))) == head)
    // MoR delete and update stack; compact materializes the episode
    snap.deleteWhereMoR("a", Seq(ColRange("id", Some(60L), Some(65L))))
    assert(snap.read("a").count() == 394L)
    val vc = snap.compact("a", targetBytes = 1L << 20, sortCol = Some("id"),
      statsCols = Seq("id"))
    assert(!snap.hasDeletionVector("a", vc))
    assert(snap.read("a").count() == 394L)
    assert(snap.read("a").where(col("v") > 2000000L).count() == 25L) // 31 − 6 deleted
    val (n, _) = snap.aggStats("a", Seq("id"))
    assert(n == 394L)
  }

  test("cloneTable: zero-copy clone reads equal, evolves independently, shares storage safely") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txn").toString + "/t"
    val snap = new Snapshots(spark, root)
    val v1 = snap.commit(Map("a" -> (1L to 200L).map(i => (i, i * 2.0)).toDF("id", "v")
      .repartitionByRange(4, col("id"))), Map("a" -> Seq("id")))
    val v2 = snap.cloneTable("a", "b")
    assert(v2 > v1)
    // the clone IS the source's bytes: identical file sets, zero copy
    assert(snap.read("b").inputFiles.toSet == snap.read("a").inputFiles.toSet)
    assert(snap.read("b").count() == 200L)
    // independent evolution: mutate the clone, the source is untouched
    snap.updateWhere("b", Seq(ColRange("id", Some(1L), Some(50L))),
      Map("v" -> (col("v") + 100000.0)), Seq("id"))
    assert(snap.read("a").agg(sum("v")).head.getDouble(0) == (1L to 200L).map(_ * 2.0).sum)
    assert(snap.read("b").where(col("v") > 100000.0).count() == 50L)
    // ...and vice versa: delete from the source, the clone keeps its rows
    snap.deleteWhere("a", Seq(ColRange("id", Some(60L), Some(80L))), Seq("id"))
    assert(snap.read("a").count() == 179L)
    assert(snap.read("b").count() == 200L)
    // vacuum must keep every shared dir both tables still reach
    snap.vacuum(keepLast = 1)
    assert(snap.read("a").count() == 179L && snap.read("b").count() == 200L)
    // a clone onto an existing table fails loudly
    intercept[IllegalArgumentException](snap.cloneTable("a", "b"))
    // tags travel with the clone: a batch consumed by the source before
    // the clone stays consumed in the clone (replay no-ops)
    val root2 = Files.createTempDirectory("txn").toString + "/t"
    val s2 = new Snapshots(spark, root2)
    s2.commit(Map("x" -> Seq((1L, 1.0)).toDF("id", "v")))
    s2.append("x", Seq((2L, 2.0)).toDF("id", "v"), Some("batch7"))
    s2.cloneTable("x", "y")
    val before = s2.read("y").count()
    s2.append("y", Seq((2L, 2.0)).toDF("id", "v"), Some("batch7")) // replay
    assert(s2.read("y").count() == before, "cloned tag ledger must suppress replays")
  }

  test("restoreTable: one table returns to an old state, the rest keep their heads") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txn").toString + "/t"
    val snap = new Snapshots(spark, root)
    val v1 = snap.commit(Map(
      "t" -> (1L to 100L).map(i => (i, i * 2.0)).toDF("id", "v")
        .repartitionByRange(4, col("id")),
      "u" -> Seq((1L, "a")).toDF("id", "s")), Map("t" -> Seq("id")))
    snap.append("t", Seq((200L, 9.0)).toDF("id", "v"), Some("tag1"), Seq("id")) // v2
    snap.mergeInto("u", Seq((1L, "b"), (2L, "b")).toDF("id", "s"), "id")        // v3
    val vr = snap.restoreTable("t", v1)
    // t is back at v1; u keeps ITS head (v3) — unlike rollbackTo
    assert(snap.read("t").count() == 100L)
    assert(snap.read("u").as[(Long, String)].collect().toSet == Set((1L, "b"), (2L, "b")))
    // the restore is a new, readable version; pre-restore head still travels
    assert(vr > 3L)
    assert(snap.read("t", Some(vr - 1)).count() == 101L)
    // the tag ledger restored WITH the table: the v2 append replays as
    // a fresh (non-consumed) batch again, exactly once
    snap.append("t", Seq((200L, 9.0)).toDF("id", "v"), Some("tag1"), Seq("id"))
    assert(snap.read("t").count() == 101L)
    snap.append("t", Seq((200L, 9.0)).toDF("id", "v"), Some("tag1"), Seq("id"))
    assert(snap.read("t").count() == 101L, "replayed tag must no-op after re-consumption")
    // vacuum keeps every dir the restored head reaches
    snap.vacuum(keepLast = 1)
    assert(snap.read("t").count() == 101L && snap.read("u").count() == 2L)
  }

  test("probes never throw: hasTable on bogus versions, versionAsOf under vacuum") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txnprobe").toString + "/t"
    val snap = new Snapshots(spark, root)
    assert(!snap.hasTable("t"), "empty lake: no table")
    snap.commit(Map("t" -> Seq((1L, 1.0)).toDF("id", "v")))
    snap.commit(Map("t" -> Seq((2L, 2.0)).toDF("id", "v")))
    assert(snap.hasTable("t") && !snap.hasTable("nope"))
    // a version beyond head or behind the retention window answers
    // false — an existence PROBE must never surface FileNotFound
    assert(!snap.hasTable("t", Some(99L)))
    snap.vacuum(keepLast = 1)
    assert(!snap.hasTable("t", Some(1L)), "vacuumed version: probe answers false")
    assert(snap.hasTable("t"))
    // versionAsOf tolerates vacuumed manifests vanishing mid-scan (the
    // race is unobservable here, but the dropped version must simply
    // fall out of the window, never throw)
    assert(snap.versionAsOf(System.currentTimeMillis() + 1000).contains(snap.currentVersion.get))
  }

  test("timestamp time travel: versionAsOf resolves commit times, vacuum bounds the window") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txn").toString + "/t"
    val snap = new Snapshots(spark, root)
    assert(snap.versionAsOf(System.currentTimeMillis()).isEmpty)
    val v1 = snap.commit(Map("t" -> Seq((1L, 1.0)).toDF("id", "v")))
    Thread.sleep(150)
    val mid = System.currentTimeMillis()
    Thread.sleep(150)
    val v2 = snap.append("t", Seq((2L, 2.0)).toDF("id", "v"))
    assert(snap.versionAsOf(mid).contains(v1), "mid-window must resolve to v1")
    assert(snap.readAsOf("t", mid).count() == 1L)
    assert(snap.versionAsOf(System.currentTimeMillis() + 1000).contains(v2))
    assert(snap.readAsOf("t", System.currentTimeMillis() + 1000).count() == 2L)
    // before any commit: loud failure, not an empty read
    intercept[NoSuchElementException](snap.readAsOf("t", mid - 3600 * 1000))
    // vacuumed manifests leave the resolvable window
    snap.vacuum(keepLast = 1)
    assert(snap.versionAsOf(mid).isEmpty,
      "a vacuumed version must not resolve by timestamp")
  }

  test("two writers on one root stage into disjoint dirs (racing-clobber impossible)") {
    val root = Files.createTempDirectory("txn").toString + "/t"
    val a = new Snapshots(spark, root)
    val b = new Snapshots(spark, root)
    val va = a.commit(Map("t" -> df(1L -> 1.0)))
    val vb = b.commit(Map("t" -> df(2L -> 2.0)))
    // both versions readable with each writer's own data — and their
    // data directories are disjoint BY NAME, so even a true race could
    // not have cross-clobbered staged bytes
    assert(a.read("t", Some(va)).select("id").head.getLong(0) == 1L)
    assert(a.read("t", Some(vb)).select("id").head.getLong(0) == 2L)
    val fa = a.read("t", Some(va)).inputFiles.toSet
    val fb = b.read("t", Some(vb)).inputFiles.toSet
    assert(fa.intersect(fb).isEmpty, "writers shared a staging directory")
  }

  test("append publishes O(batch): existing files re-referenced, tags make replays no-ops") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txn").toString + "/t"
    val snap = new Snapshots(spark, root)
    snap.commit(Map("a" -> (1L to 100L).map(i => (i, i * 2.0)).toDF("id", "v")))
    val filesBefore = snap.read("a").inputFiles.toSet

    val v2 = snap.append("a", (101L to 120L).map(i => (i, i * 2.0)).toDF("id", "v"),
      tag = Some("b7"))
    val after = snap.read("a")
    assert(after.count() == 120L)
    assert(after.agg(sum("id")).head.getLong(0) == (1L to 120L).sum)
    // every pre-append file is still what the head reads — append moved
    // only the batch's bytes
    assert(filesBefore.subsetOf(after.inputFiles.toSet), "append rewrote existing data")
    // replaying the same tagged batch is a no-op (the streaming-retry contract)
    assert(snap.append("a", (101L to 120L).map(i => (i, i * 2.0)).toDF("id", "v"),
      tag = Some("b7")) == v2)
    assert(snap.read("a").count() == 120L)
    // append to a table that does not exist yet creates it
    snap.append("fresh", Seq((1L, 1.0)).toDF("id", "v"))
    assert(snap.read("fresh").count() == 1L)
    // schema drift fails loudly instead of silently corrupting reads
    intercept[IllegalArgumentException] {
      snap.append("a", Seq((1L, 1.0, "x")).toDF("id", "v", "extra"))
    }
    // compaction folds the accumulated append dirs back into one
    snap.compact("a", targetBytes = 1L << 20, sortCol = Some("id"))
    assert(snap.read("a").count() == 120L)
    val (_, reclaimed) = snap.vacuum(keepLast = 1)
    assert(reclaimed >= 1, "post-compaction vacuum should reclaim superseded append dirs")
  }

  test("updateWhere rewrites only might-match files and leaves null-keyed rows untouched") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txn").toString + "/t"
    val snap = new Snapshots(spark, root)
    val base = (1L to 600L).map(i => (Some(i): Option[Long], i * 2.0)).toDF("id", "v")
      .repartitionByRange(12, col("id"))
    val nulls = Seq((None: Option[Long], 7.0)).toDF("id", "v")
    val v1 = snap.commit(Map("a" -> base.union(nulls)), statsCols = Map("a" -> Seq("id")))
    val filesBefore = snap.read("a").inputFiles.toSet

    snap.updateWhere("a", Seq(ColRange("id", Some(100L), Some(150L))),
      Map("v" -> (col("v") * 10)), statsCols = Seq("id"))
    val after = snap.read("a")
    // matched rows transformed, everything else (incl. the null-id row) intact
    assert(after.count() == 601L)
    assert(after.where(col("id").between(100L, 150L) && col("v") =!= col("id") * 20).count() == 0L)
    assert(after.where(!col("id").between(100L, 150L) && col("id").isNotNull &&
      col("v") =!= col("id") * 2).count() == 0L)
    assert(after.where(col("id").isNull).select("v").head.getDouble(0) == 7.0)
    // partial rewrite, not a table copy
    val shared = filesBefore & after.inputFiles.toSet
    assert(shared.size >= filesBefore.size - 3,
      s"only ${shared.size} of ${filesBefore.size} files re-referenced")
    // time travel still sees the pre-update values
    assert(snap.read("a", Some(v1)).where(col("id") === 120L).head.getDouble(1) == 240.0)
  }

  test("zorder compaction skips files on EVERY clustered column; plain sort only on its leading one") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txn").toString + "/t"
    val snap = new Snapshots(spark, root)
    // two INDEPENDENT dimensions (y is a bit-mixing hash of i, not a
    // modular relative of x): a sort on x leaves y uniform inside every
    // file, so y-range stats can't prune.
    val pts = (0L until 4096L).map(i =>
        (i % 64, java.lang.Long.remainderUnsigned(scala.util.hashing.byteswap64(i), 64), i))
      .toDF("x", "y", "id").repartition(16)
    snap.commit(Map("p" -> pts), statsCols = Map("p" -> Seq("x", "y")))

    def files(r: ColRange): Int = snap.readWhere("p", Seq(r)).inputFiles.length
    val xr = ColRange("x", Some(0L), Some(7L))
    val yr = ColRange("y", Some(0L), Some(7L))

    snap.compact("p", targetBytes = 4L << 10, sortCol = Some("x"), statsCols = Seq("x", "y"))
    val sorted = snap.read("p").inputFiles.length
    assert(sorted >= 8, s"need several files for a meaningful claim, got $sorted")
    val (sx, sy) = (files(xr), files(yr))
    assert(sx < sorted, "sort must skip on its own column")
    assert(sy == sorted, s"independent y should NOT prune under an x-sort ($sy of $sorted)")

    snap.compact("p", targetBytes = 4L << 10, zorderCols = Seq("x", "y"), statsCols = Seq("x", "y"))
    val zed = snap.read("p").inputFiles.length
    val (zx, zy) = (files(xr), files(yr))
    assert(zx < zed, s"zorder must skip on x ($zx of $zed)")
    assert(zy < zed, s"zorder must skip on y ($zy of $zed)")
    // correctness: the clustered rewrite is still the same table
    assert(snap.read("p").agg(sum("id")).head.getLong(0) == (0L until 4096L).sum)
    assert(snap.readWhere("p", Seq(xr, yr)).count() ==
      snap.read("p").where(col("x") <= 7 && col("y") <= 7).count())
  }

  test("vacuum bounds history to the retention window and collects orphans") {
    val root = Files.createTempDirectory("txn").toString + "/t"
    val snap = new Snapshots(spark, root)
    snap.commit(Map("a" -> df(1L -> 1.0)))
    snap.commit(Map("a" -> df(2L -> 2.0)))
    snap.commit(Map("a" -> df(3L -> 3.0)))
    // a crashed writer's orphan (no manifest) must be collected too
    df(99L -> 99.0).write.parquet(s"$root/v9/a")

    val (manifestsDropped, dirsDeleted) = snap.vacuum(keepLast = 2)
    assert(manifestsDropped == 1, "v1's manifest leaves the log")
    assert(dirsDeleted == 2, s"v1 data + v9 orphan collected, got $dirsDeleted")
    // head and the kept version still read; the vacuumed one is gone
    assert(snap.read("a").select("id").head().getLong(0) == 3L)
    assert(snap.read("a", Some(2L)).select("id").head().getLong(0) == 2L)
    intercept[Exception](snap.read("a", Some(1L)).collect())
  }

  test("vacuum never collects data the post-rollback head still references") {
    val root = Files.createTempDirectory("txn").toString + "/t"
    val snap = new Snapshots(spark, root)
    snap.commit(Map("a" -> df(1L -> 1.0))) // v1
    snap.commit(Map("a" -> df(2L -> 2.0))) // v2
    snap.rollbackTo(1L)                    // v3 -> v1's data dirs
    // keepLast=1 keeps ONLY v3's manifest — which points at v1/a; the
    // reference count must be by manifest entry, not version directory
    val (dropped, deleted) = snap.vacuum(keepLast = 1)
    assert(dropped == 2)
    assert(deleted == 1, s"only v2's data should go, got $deleted")
    assert(snap.read("a").select("id").head().getLong(0) == 1L,
      "head (rolled back to v1's files) must survive vacuum")
  }

  test("vacuum's age guard spares in-flight writer data until it is published") {
    val root = Files.createTempDirectory("txn").toString + "/t"
    val snap = new Snapshots(spark, root)
    snap.commit(Map("a" -> df(1L -> 1.0))) // v1
    snap.commit(Map("a" -> df(2L -> 2.0))) // v2
    // an in-flight commit: data staged, manifest not yet published — by
    // reference counting alone this is indistinguishable from a crashed
    // writer's orphan, so only the retention age can protect it
    df(9L -> 9.0).write.parquet(s"$root/v3/pending")
    val (dropped1, deleted1) = snap.vacuum(keepLast = 1, minAgeMs = 3600_000L)
    assert(dropped1 == 1, "v1's manifest leaves the log")
    assert(deleted1 == 0, s"nothing is old enough to collect, got $deleted1")
    // once published, the staged dir is referenced and survives even an
    // age-less vacuum; v1's now-unreferenced data is collected
    snap.commitStaged(Map("pending" -> "v3/pending"))
    val (_, deleted2) = snap.vacuum(keepLast = 1)
    assert(deleted2 == 1, s"only v1's data should go, got $deleted2")
    assert(snap.read("pending").select("id").head().getLong(0) == 9L,
      "published in-flight data must survive vacuum")
    assert(snap.read("a").select("id").head().getLong(0) == 2L,
      "commitStaged carries the head's other tables forward")
  }

  test("c05 stats key: pruned aggregate equals its closed form") {
    val out = SnapshotsKeys.c05StatsPrunedRead(spark, TestSpark.sfTest)
    val rows = out.collect()
    assert(rows.nonEmpty && rows.map(_.getAs[Long]("n")).sum > 0)
    // the staged lake's 16 range-clustered files: the 1..600 key range
    // must NOT touch them all (the machine-assertion behind c05's claim)
    val snap = SnapshotsKeys.stagedStatsLake(spark, TestSpark.sfTest)
    val pruned = snap.readWhere("orders",
      Seq(ColRange("o_orderkey", Some(1L), Some(600L))))
    val total = snap.read("orders").inputFiles.length
    assert(pruned.inputFiles.length < total,
      s"c05 must skip files: ${pruned.inputFiles.length} of $total")
  }

  test("c04 snapshot key: detail and summary agree within one snapshot") {
    val out = SnapshotsKeys.c04SnapshotRead(spark, TestSpark.sfTest).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("n_detail") == r.getAs[Long]("n"),
        "detail/summary row counts diverge — torn snapshot")
      assert(r.getAs[Double]("total_detail") == r.getAs[Double]("total"),
        "detail/summary totals diverge — torn snapshot")
    }
  }

  test("append tags survive compact, partial rewrites, and full re-commits") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txn").toString + "/t"
    val snap = new Snapshots(spark, root)
    snap.commit(Map("a" -> (1L to 100L).map(i => (i, i * 2.0)).toDF("id", "v")))
    val batch = (101L to 120L).map(i => (i, i * 2.0)).toDF("id", "v")
    snap.append("a", batch, tag = Some("m7"))

    // compact rewrites every dir — the @m7 directory name is gone, but
    // the consumed tag must persist as manifest state
    snap.compact("a", targetBytes = 1L << 20, sortCol = Some("id"))
    val afterCompact = snap.currentVersion.get
    assert(snap.append("a", batch, tag = Some("m7")) == afterCompact,
      "replayed micro-batch re-appended after compact — exactly-once broken")
    assert(snap.read("a").count() == 120L)

    // a deleteWhere partial rewrite must carry it too
    snap.deleteWhere("a", Seq(ColRange("id", Some(1L), Some(10L))))
    val afterDelete = snap.currentVersion.get
    assert(snap.append("a", batch, tag = Some("m7")) == afterDelete)
    assert(snap.read("a").count() == 110L)

    // and a FULL re-commit of the table keeps the table's tag history
    snap.commit(Map("a" -> snap.read("a").where(col("id") <= 115L)))
    val afterCommit = snap.currentVersion.get
    assert(snap.append("a", batch, tag = Some("m7")) == afterCommit,
      "full re-commit dropped consumed tags — replay re-appended")
    // a FRESH tag still appends normally through all of it
    val v = snap.append("a", (121L to 125L).map(i => (i, i * 2.0)).toDF("id", "v"),
      tag = Some("m8"))
    assert(v > afterCommit && snap.read("a").count() == 115L - 10L + 5L)
  }

  test("append schema guard rejects same-name different-type batches") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txn").toString + "/t"
    val snap = new Snapshots(spark, root)
    snap.commit(Map("a" -> Seq((1L, 1.0)).toDF("id", "v")))
    // id INT (not BIGINT): same names, different types — the silent
    // multi-path coercion case the guard must catch
    intercept[IllegalArgumentException] {
      snap.append("a", Seq((1, 1.0)).toDF("id", "v"))
    }
    // reserved name: user tables cannot squat on tag-state lines
    intercept[IllegalArgumentException] {
      snap.append("a@tags", Seq((1L, 1.0)).toDF("id", "v"))
    }
  }

  test("fully-unbounded range: deleteWhere empties the table (readWhere-consistent), not empty.reduce") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txn").toString + "/t"
    val snap = new Snapshots(spark, root)
    snap.commit(Map("a" -> (1L to 50L).map(i => (i, i * 2.0)).toDF("id", "v")))
    // readWhere treats lo=None,hi=None as "no filter" — deleteWhere's
    // dual is "every row matches"; before the fix this threw
    // UnsupportedOperationException("empty.reduce")
    snap.deleteWhere("a", Seq(ColRange("id", None, None)))
    assert(snap.read("a").count() == 0L, "unbounded delete must empty the table")
    // the emptied table still reads with its schema (rowless file kept)
    assert(snap.read("a").columns.toSeq == Seq("id", "v"))
  }

  test("write skew is the documented non-SERIALIZABLE outcome; one atomic commit is the remedy") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txn").toString + "/t"
    val snap = new Snapshots(spark, root)
    // invariant the app WANTS: at least one of (a, b) has on = 1
    snap.commit(Map("a" -> Seq((1L, 1L)).toDF("id", "on"),
                    "b" -> Seq((1L, 1L)).toDF("id", "on")))
    val s1 = new Snapshots(spark, root)
    val s2 = new Snapshots(spark, root)
    // both transactions read the same base snapshot and see the OTHER
    // table still on, so each believes turning its own off is safe
    assert(s1.read("b").agg(sum("on")).head.getLong(0) == 1L)
    assert(s2.read("a").agg(sum("on")).head.getLong(0) == 1L)
    // each stages + publishes a single-table update; neither conflicts
    // on a manifest POINTER, so both land — this is write skew, and it
    // is the documented outcome (validation covers write-write, not
    // read sets)
    Seq((1L, 0L)).toDF("id", "on").write.parquet(s"$root/skew-1/a")
    Seq((1L, 0L)).toDF("id", "on").write.parquet(s"$root/skew-2/b")
    s1.commitStaged(Map("a" -> "skew-1/a"))
    s2.commitStaged(Map("b" -> "skew-2/b"))
    val head = snap.snapshot()
    assert(head("a").agg(sum("on")).head.getLong(0) == 0L)
    assert(head("b").agg(sum("on")).head.getLong(0) == 0L,
      "both committed: the invariant is broken, exactly as documented")
    // the remedy the scaladoc prescribes: route the co-constrained writes
    // through ONE commit — atomic multi-table visibility restores it
    snap.commit(Map("a" -> Seq((1L, 1L)).toDF("id", "on"),
                    "b" -> Seq((1L, 0L)).toDF("id", "on")))
    val fixed = snap.snapshot()
    assert(fixed("a").agg(sum("on")).head.getLong(0) +
      fixed("b").agg(sum("on")).head.getLong(0) >= 1L)
  }

  test("serializable commit mode: the write-skew pair loses one; plain commits unaffected") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txnser").toString + "/t"
    val snap = new Snapshots(spark, root)
    // same invariant as the write-skew test: at least one of (a, b) on
    snap.commit(Map("a" -> Seq((1L, 1L)).toDF("id", "on"),
                    "b" -> Seq((1L, 1L)).toDF("id", "on")))
    val base = snap.currentVersion.get
    // both transactions read {a, b} at `base` and each decides to turn
    // its own table off because the other is still on
    val s1 = new Snapshots(spark, root)
    val s2 = new Snapshots(spark, root)
    assert(s1.read("b", Some(base)).agg(sum("on")).head.getLong(0) == 1L)
    assert(s2.read("a", Some(base)).agg(sum("on")).head.getLong(0) == 1L)
    // first committer wins...
    s1.commitSerializable(Map("a" -> Seq((1L, 0L)).toDF("id", "on")),
      readSet = Set("a", "b"), baseVersion = base)
    // ...second sees its read set changed since base and ABORTS
    val ex = intercept[Snapshots.SerializationConflictException] {
      s2.commitSerializable(Map("b" -> Seq((1L, 0L)).toDF("id", "on")),
        readSet = Set("a", "b"), baseVersion = base)
    }
    assert(ex.getMessage.contains("a"), ex.getMessage)
    // the invariant HOLDS under serializable commits
    val head = snap.snapshot()
    assert(head("a").agg(sum("on")).head.getLong(0) +
      head("b").agg(sum("on")).head.getLong(0) >= 1L)
    // a serializable commit merges: the unwritten table survived
    assert(head.keySet == Set("a", "b"))
    // disjoint read sets don't conflict: a reader of only its own table
    // commits fine from the same stale base
    s2.commitSerializable(Map("b" -> Seq((1L, 5L)).toDF("id", "on")),
      readSet = Set("b"), baseVersion = base)
    assert(snap.read("b").agg(sum("on")).head.getLong(0) == 5L)
    // and plain commits are unaffected by any of it
    snap.commit(Map("a" -> Seq((1L, 9L)).toDF("id", "on"),
                    "b" -> Seq((1L, 9L)).toDF("id", "on")))
    assert(snap.read("a").agg(sum("on")).head.getLong(0) == 9L)
  }

  test("withTransaction: pinned reads, atomic merge commit, rollback by exception") {
    import graft.sources.Isolation
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txnapi").toString + "/t"
    val snap = new Snapshots(spark, root)
    snap.commit(Map("a" -> df(1L -> 1.0), "b" -> df(1L -> 10.0)))

    snap.withTransaction() { txn =>
      assert(txn.read("a").head().getDouble(1) == 1.0)
      // a concurrent transaction commits `a` mid-body (merge semantics:
      // a plain commit() would REPLACE the snapshot and drop `b`, which
      // the write-set validation would rightly flag as a conflict)...
      new Snapshots(spark, root).withTransaction() { other =>
        other.write("a", df(1L -> 99.0))
      }
      // ...and this transaction's reads STILL see its pinned snapshot
      assert(txn.read("a").head().getDouble(1) == 1.0)
      txn.write("b", df(1L -> 20.0))
    }
    // merge semantics: the concurrent a=99 survives next to our b=20
    assert(snap.read("a").head().getDouble(1) == 99.0)
    assert(snap.read("b").head().getDouble(1) == 20.0)

    // rollback = the absence of commit: a throwing body publishes nothing
    val headBefore = snap.currentVersion.get
    intercept[RuntimeException] {
      snap.withTransaction() { txn =>
        txn.write("a", df(1L -> -1.0))
        throw new RuntimeException("boom")
      }
    }
    assert(snap.currentVersion.get == headBefore)
    assert(snap.read("a").head().getDouble(1) == 99.0)

    // a read-only transaction publishes nothing
    snap.withTransaction(Isolation.Serializable) { txn =>
      assert(txn.read("a").head().getDouble(1) == 99.0)
    }
    assert(snap.currentVersion.get == headBefore)
  }

  test("snapshot-isolation transactions: first committer wins on the write set (no lost updates)") {
    import graft.sources.Isolation
    val root = Files.createTempDirectory("txnapi").toString + "/t"
    val snap = new Snapshots(spark, root)
    snap.commit(Map("acct" -> df(1L -> 100.0)))
    // two transactions each read the balance and write a withdrawal
    // computed from their own snapshot — under plain last-wins one
    // update would silently vanish
    val t1 = snap.transaction()
    val t2 = snap.transaction()
    assert(t1.read("acct").head().getDouble(1) == 100.0)
    assert(t2.read("acct").head().getDouble(1) == 100.0)
    t1.write("acct", df(1L -> 90.0))
    t2.write("acct", df(1L -> 80.0))
    t1.commit()
    intercept[Snapshots.SerializationConflictException] { t2.commit() }
    assert(snap.read("acct").head().getDouble(1) == 90.0,
      "the losing withdrawal must abort, not overwrite")
    // Snapshot isolation still admits write skew (disjoint write sets);
    // the serializable tier is the commitSerializable/Isolation
    // .Serializable path proven in its own test
  }

  test("racing appends from two writers both land; tags stay per-batch") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txn").toString + "/t"
    val s1 = new Snapshots(spark, root)
    val s2 = new Snapshots(spark, root)
    s1.commit(Map("a" -> Seq((1L, 1.0)).toDF("id", "v")))
    // both writers read head=1 and race the append publish; the loser's
    // manifest merge must re-run against the winner's head so NEITHER
    // batch is lost (append pays no data rewrite on the retry)
    s1.append("a", Seq((2L, 2.0)).toDF("id", "v"), tag = Some("w1"))
    s2.append("a", Seq((3L, 3.0)).toDF("id", "v"), tag = Some("w2"))
    val ids = new Snapshots(spark, root).read("a").select("id").as[Long].collect().toSet
    assert(ids == Set(1L, 2L, 3L), s"lost an append in the race: $ids")
    // replays through EITHER handle stay no-ops
    s2.append("a", Seq((2L, 2.0)).toDF("id", "v"), tag = Some("w1"))
    s1.append("a", Seq((3L, 3.0)).toDF("id", "v"), tag = Some("w2"))
    assert(new Snapshots(spark, root).read("a").count() == 3L)
  }

  test("threaded writer stress: racing appends all land, delta chain resolves exactly") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txnrace").toString + "/t"
    new Snapshots(spark, root).commit(Map("a" -> Seq((0L, 0.0)).toDF("id", "v")))
    // 6 writers × 4 tagged appends, all racing the create-exclusive on
    // one commit log: every loser must re-diff against the WINNER's
    // resolved state (the delta base moves under it), and every tag
    // must land exactly once
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (1 to 6).foreach { w =>
      pool.submit(new Runnable {
        override def run(): Unit =
          try {
            val mine = new Snapshots(spark, root)
            (1 to 4).foreach { i =>
              val id = w * 100L + i
              mine.append("a", Seq((id, id * 1.0)).toDF("id", "v"), tag = Some(s"w$w-$i"))
            }
          } catch { case t: Throwable => errs.add(t); () }
      })
    }
    pool.shutdown()
    assert(pool.awaitTermination(180, java.util.concurrent.TimeUnit.SECONDS))
    assert(errs.isEmpty, s"writer failed: ${Option(errs.peek()).map(_.toString)}")
    val cold = new Snapshots(spark, root)
    assert(cold.currentVersion.get == 25L, "24 appends + seed = 25 dense versions")
    val ids = cold.read("a").select("id").as[Long].collect().toSet
    val want = (for (w <- 1 to 6; i <- 1 to 4) yield w * 100L + i).toSet + 0L
    assert(ids == want, s"lost/dup rows: missing ${want -- ids}, extra ${ids -- want}")
    // replays through a fresh handle stay no-ops (tag ledger survived
    // every race's manifest re-merge)
    cold.append("a", Seq((101L, 101.0)).toDF("id", "v"), tag = Some("w1-1"))
    assert(cold.currentVersion.get == 25L && cold.read("a").count() == 25L)
  }

  test("readChanges outside the retention window fails loudly, not wrongly") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txn").toString + "/t"
    val snap = new Snapshots(spark, root)
    val v1 = snap.commit(Map("a" -> Seq((1L, 1.0)).toDF("id", "v")))
    snap.commit(Map("a" -> Seq((2L, 2.0)).toDF("id", "v")))
    snap.vacuum(keepLast = 1)
    // v1's manifest is collected: a diff against it must throw, never
    // silently return a partial or empty change set
    intercept[Exception](snap.readChanges("a", v1, snap.currentVersion.get).collect())
  }

  test("randomized DML/maintenance sequences agree with an in-memory model") {
    import graft.sources.IncrementalAgg
    val sp = spark
    import sp.implicits._
    // Model-based check: drive the lake through random op sequences and
    // compare read("t") to a plain in-memory map after EVERY op — the
    // composition bugs (tags × compact, stats × repeated deletes, empty
    // rewrites, rollback lineage) live in sequences no hand-written
    // case thinks to try. Seeded: failures reproduce. An IncrementalAgg
    // consumer refreshes after every op (continuous-consumer shape:
    // its watermark tracks the head, so vacuum(keepLast=1) never
    // strands it) and must equal the model's group sums throughout —
    // including across rollbacks, whose file-set diff IS the inverse
    // delta because rollbackTo publishes the restored state as a NEW
    // version.
    val rnd = new scala.util.Random(20260813L)
    // CI runs 6 sequences; GRAFT_TXN_SOAK=N deepens the sweep locally
    val nSeq = sys.env.get("GRAFT_TXN_SOAK").map(_.toInt).getOrElse(6)
    for (seq <- 1 to nSeq) {
      val base = Files.createTempDirectory("txnprop").toString
      val root = base + "/t"
      var snap = new Snapshots(spark, root)
      val agg = new Snapshots(spark, base + "/agg")
      var model = Map.empty[Long, (String, Long)] // id -> (grp, v)
      var nextId = 0L
      val history = scala.collection.mutable.ArrayBuffer.empty[(Long, Map[Long, (String, Long)])]
      def batch(n: Int): Seq[(Long, String, Long)] = {
        (0 until n).map { _ => nextId += 1; (nextId, s"g${nextId % 3}", rnd.nextInt(1000).toLong) }
      }
      // seed commit
      val rows0 = batch(40)
      model = rows0.map(r => r._1 -> (r._2, r._3)).toMap
      history += ((snap.commit(Map("t" -> rows0.toDF("id", "grp", "v")
        .repartitionByRange(4, col("id"))), Map("t" -> Seq("id"))), model))
      // a standing CHECK rides the whole sequence: every verb must keep
      // publishing under the enforcement pass (composed with tags,
      // compact, rollback, restore, MoR episodes) — all op values
      // lawfully satisfy it, so any refusal is a false positive and
      // fails the model compare. Declared BEFORE the consumer seeds:
      // the agg's watermark must start at the true head (v2), or a
      // first-op vacuum(keepLast=1) legitimately strands it — the
      // retention/consumer coordination hazard the keepLast contract
      // documents, not a composition bug
      snap.addCheck("t", "v_nonneg", "v >= 0 AND id IS NOT NULL")
      history += ((snap.currentVersion.get, model))
      IncrementalAgg.seed(spark, snap, "t", "grp", "v", agg, atVersion = 2L)
      var vacuumed = false
      for (op <- 1 to 7) {
        rnd.nextInt(12) match {
          case 0 => // tagged append (sometimes replayed)
            val rows = batch(1 + rnd.nextInt(10))
            val tag = s"b$seq-$op"
            snap.append("t", rows.toDF("id", "grp", "v"), Some(tag), statsCols = Seq("id"))
            model = model ++ rows.map(r => r._1 -> (r._2, r._3))
            if (rnd.nextBoolean()) // replay must be a no-op
              snap.append("t", rows.toDF("id", "grp", "v"), Some(tag), statsCols = Seq("id"))
            history += ((snap.currentVersion.get, model))
          case 1 => // range delete (possibly matching nothing)
            val lo = 1L + rnd.nextInt(nextId.toInt.max(1))
            val hi = lo + rnd.nextInt(20)
            snap.deleteWhere("t", Seq(ColRange("id", Some(lo), Some(hi))), Seq("id"))
            model = model.filter { case (id, _) => id < lo || id > hi }
            history += ((snap.currentVersion.get, model))
          case 2 => // range update
            val lo = 1L + rnd.nextInt(nextId.toInt.max(1))
            val hi = lo + rnd.nextInt(20)
            snap.updateWhere("t", Seq(ColRange("id", Some(lo), Some(hi))),
              Map("v" -> (col("v") + 1000000L)), Seq("id"))
            model = model.map { case (id, (g, v)) =>
              if (id >= lo && id <= hi) (id, (g, v + 1000000L)) else (id, (g, v)) }
            history += ((snap.currentVersion.get, model))
          case 3 => // compact (data-invariant)
            snap.compact("t", targetBytes = 1L << 20, sortCol = Some("id"),
              statsCols = Seq("id"))
            history += ((snap.currentVersion.get, model))
          case 4 => // rollback to a random recorded version
            val (v, m) = history(rnd.nextInt(history.size))
            if (!vacuumed) { // post-vacuum, old versions may be collected
              snap.rollbackTo(v)
              model = m
              history += ((snap.currentVersion.get, model))
            }
          case 5 => // vacuum: history shrinks, head must survive
            snap.vacuum(keepLast = 1)
            vacuumed = true
          case 6 => // MERGE: replace a random live id slice + insert fresh ids
            val lo = 1L + rnd.nextInt(nextId.toInt.max(1))
            val hi = lo + rnd.nextInt(15)
            val upd = model.collect { case (id, (g, _)) if id >= lo && id <= hi =>
              (id, g, id + 5000000L) }.toSeq
            val ins = batch(1 + rnd.nextInt(5))
            val src = upd ++ ins
            snap.mergeInto("t", src.toDF("id", "grp", "v"), "id", statsCols = Seq("id"))
            model = model ++ src.map(r => r._1 -> (r._2, r._3))
            history += ((snap.currentVersion.get, model))
          case 7 => // keyset delete (some keys live, some already absent)
            val ks = (1 to (1 + rnd.nextInt(6)))
              .map(_ => 1L + rnd.nextInt(nextId.toInt.max(1))).distinct
            snap.deleteKeys("t", ks.toDF("id"), "id", statsCols = Seq("id"))
            model = model -- ks
            history += ((snap.currentVersion.get, model))
          case 8 => // per-table RESTORE to a random recorded version
            val (v, m) = history(rnd.nextInt(history.size))
            if (!vacuumed) { // post-vacuum, fromVersion may be collected
              snap.restoreTable("t", v)
              model = m
              history += ((snap.currentVersion.get, model))
            }
          case 9 => // MoR delete, immediately materialized (the full episode)
            val lo = 1L + rnd.nextInt(nextId.toInt.max(1))
            val hi = lo + rnd.nextInt(15)
            snap.deleteWhereMoR("t", Seq(ColRange("id", Some(lo), Some(hi))))
            snap.compact("t", targetBytes = 1L << 20, sortCol = Some("id"),
              statsCols = Seq("id"))
            model = model.filter { case (id, _) => id < lo || id > hi }
            history += ((snap.currentVersion.get, model))
          case 10 => // MoR update + materialize
            val lo = 1L + rnd.nextInt(nextId.toInt.max(1))
            val hi = lo + rnd.nextInt(15)
            snap.updateWhereMoR("t", Seq(ColRange("id", Some(lo), Some(hi))),
              Map("v" -> (col("v") + 3000000L)), statsCols = Seq("id"))
            snap.compact("t", targetBytes = 1L << 20, sortCol = Some("id"),
              statsCols = Seq("id"))
            model = model.map { case (id, (g, v)) =>
              if (id >= lo && id <= hi) (id, (g, v + 3000000L)) else (id, (g, v)) }
            history += ((snap.currentVersion.get, model))
          case 11 => // predicate-scoped REPLACE (backfill): the slice is
            // swapped for the batch — a subset of its live ids with new
            // values (sometimes empty: then replace == slice delete)
            val lo = 1L + rnd.nextInt(nextId.toInt.max(1))
            val hi = lo + rnd.nextInt(15)
            val repl = model.collect {
              case (id, (g, _)) if id >= lo && id <= hi && rnd.nextBoolean() =>
                (id, g, id + 7000000L) }.toSeq
            snap.replaceWhere("t", Seq(ColRange("id", Some(lo), Some(hi))),
              repl.toDF("id", "grp", "v"), Seq("id"))
            model = model.filter { case (id, _) => id < lo || id > hi } ++
              repl.map(r => r._1 -> (r._2, r._3))
            history += ((snap.currentVersion.get, model))
        }
        // a violating probe batch must refuse WITHOUT moving the head
        // (rollback/restore may legitimately land on a pre-constraint
        // version — then the table is unguarded and the probe skips)
        if (rnd.nextInt(4) == 0 && snap.checks("t").nonEmpty) {
          val vBefore = snap.currentVersion.get
          intercept[Snapshots.ConstraintViolationException] {
            snap.append("t", Seq((nextId + 1, "gX", -1L)).toDF("id", "grp", "v"))
          }
          assert(snap.currentVersion.get == vBefore,
            s"seq $seq op $op: refused append must publish nothing")
        }
        val got = snap.read("t").as[(Long, String, Long)].collect()
          .map(r => r._1 -> (r._2, r._3)).toMap
        assert(got == model,
          s"seq $seq op $op: lake ${got.size} rows != model ${model.size} " +
            s"(diff ${(got.toSet diff model.toSet).take(3)} / ${(model.toSet diff got.toSet).take(3)})")
        // the continuous consumer: delta-maintained group sums == model
        IncrementalAgg.refresh(spark, snap, "t", "grp", "v", agg)
        val gotAgg = agg.read("agg").collect()
          .map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
        val wantAgg = model.values.groupBy(_._1).map { case (g, vs) =>
          g -> (vs.size.toLong, vs.map(_._2).sum) }
        assert(gotAgg == wantAgg,
          s"seq $seq op $op: incremental agg $gotAgg != model $wantAgg")
        // cold reopen: a fresh instance resolves the manifest chain from
        // DISK (checkpoint + deltas) with no writer-side memo — the v2
        // format must reconstruct the identical state mid-sequence
        if (rnd.nextInt(4) == 0) snap = new Snapshots(spark, root)
      }
      // every still-retained recorded version must time-travel exactly
      if (!vacuumed) history.foreach { case (v, m) =>
        val got = snap.read("t", Some(v)).as[(Long, String, Long)].collect()
          .map(r => r._1 -> (r._2, r._3)).toMap
        assert(got == m, s"seq $seq: time travel to v$v diverged")
      }
    }
  }

  test("readChanges: append/delete/update diffs surface at changed-file cost") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txn").toString + "/t"
    val snap = new Snapshots(spark, root)
    val v1 = snap.commit(
      Map("a" -> (1L to 100L).map(i => (i, i * 2.0)).toDF("id", "v")
        .repartitionByRange(4, col("id"))),
      statsCols = Map("a" -> Seq("id")))

    // append: the diff is exactly the appended rows, nothing removed
    // (statsCols so the later delete can PROVE the appended files clean)
    val v2 = snap.append("a", (101L to 120L).map(i => (i, i * 2.0)).toDF("id", "v"),
      statsCols = Seq("id"))
    val d12 = snap.readChanges("a", v1, v2)
    assert(d12.where(col("_change") === "removed").count() == 0L)
    val addedIds = d12.where(col("_change") === "added")
      .select("id").as[Long].collect().sorted.toSeq
    assert(addedIds == (101L to 120L), s"got $addedIds")

    // delete 1..10: pre-image of the touched file removed, its
    // survivors re-added; the set difference is exactly the deleted keys
    val v3 = snap.deleteWhere("a", Seq(ColRange("id", Some(1L), Some(10L))),
      statsCols = Seq("id"))
    val d23 = snap.readChanges("a", v2, v3)
    val rem = d23.where(col("_change") === "removed").select("id").as[Long].collect().toSet
    val add = d23.where(col("_change") === "added").select("id").as[Long].collect().toSet
    assert((rem -- add) == (1L to 10L).toSet, s"net-removed ${rem -- add}")
    assert(rem.size < 120, "diff read the whole table, not just touched files")
    // the O(changed files) claim, machine-asserted at the scan: the diff
    // plans strictly fewer file splits than a full read of either version
    assert(d23.inputFiles.length < snap.read("a", Some(v2)).inputFiles.length,
      s"diff scanned ${d23.inputFiles.length} files — not file-pruned")

    // update 50..60: the rows surface on BOTH sides — old value removed,
    // new value added
    val v4 = snap.updateWhere("a", Seq(ColRange("id", Some(50L), Some(60L))),
      Map("v" -> lit(0.0)), statsCols = Seq("id"))
    val d34 = snap.readChanges("a", v3, v4)
    val updNew = d34.where(col("_change") === "added" && col("id").between(50, 60))
    assert(updNew.count() == 11L)
    assert(updNew.agg(sum("v")).head.getDouble(0) == 0.0)
    val updOld = d34.where(col("_change") === "removed" && col("id").between(50, 60))
    assert(updOld.agg(sum("v")).head.getDouble(0) == (50L to 60L).map(_ * 2.0).sum)

    // no-change diff is empty but still schema-readable
    assert(snap.readChanges("a", v4, v4).count() == 0L)
  }

  test("mergeInto upserts atomically: matched rows replaced, unmatched inserted, clean files re-referenced") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txn").toString + "/t"
    val snap = new Snapshots(spark, root)
    val rows = (1L to 600L).map(i => (i, i * 2.0)).toDF("id", "v")
      .repartitionByRange(12, col("id"))
    val v1 = snap.commit(Map("a" -> rows), statsCols = Map("a" -> Seq("id")))
    val filesBefore = snap.read("a").inputFiles.toSet
    assert(filesBefore.size >= 10)

    // one source batch carrying updates (ids 100-110, v := -id) AND
    // inserts (ids -10..-1) — its span [-10, 110] touches the low-key
    // files only
    val source = ((100L to 110L).map(i => (i, -i.toDouble)) ++
      (1L to 10L).map(i => (-i, i * 3.0))).toDF("id", "v")
    val v2 = snap.mergeInto("a", source, "id", statsCols = Seq("id"))
    assert(v2 > v1)
    val after = snap.read("a")
    assert(after.count() == 610L)
    // matched rows replaced...
    assert(after.where(col("id").between(100L, 110L))
      .agg(sum("v")).head.getDouble(0) == -(100L to 110L).sum.toDouble)
    // ...inserts landed...
    assert(after.where(col("id") < 0L).count() == 10L)
    // ...and unmatched rows INSIDE a touched file pass through unchanged
    assert(after.where(col("id") === 50L).head.getDouble(1) == 100.0)
    // partial rewrite: files outside the source span are re-referenced
    val filesAfter = after.inputFiles.toSet
    val shared = filesBefore & filesAfter
    assert(shared.size >= filesBefore.size - 4,
      s"only ${shared.size} of ${filesBefore.size} files re-referenced — merge copied the table")
    // time travel: the pre-merge version is intact
    assert(snap.read("a", Some(v1)).count() == 600L)
    assert(snap.read("a", Some(v1)).where(col("id") === 100L).head.getDouble(1) == 200.0)
    // re-merging the same source converges (replay safety)
    snap.mergeInto("a", source, "id", statsCols = Seq("id"))
    val again = snap.read("a")
    assert(again.count() == 610L)
    assert(again.agg(sum("v")).head.getDouble(0) == after.agg(sum("v")).head.getDouble(0))
    // an all-insert source whose span overlaps no file: everything is
    // re-referenced and the source lands as a fresh part (forceOnEmpty)
    val fBefore = snap.read("a").inputFiles.toSet
    val v4 = snap.mergeInto("a", Seq((5000L, 1.0), (5001L, 2.0)).toDF("id", "v"),
      "id", statsCols = Seq("id"))
    assert(fBefore.subsetOf(snap.read("a").inputFiles.toSet),
      "all-insert merge rewrote existing files")
    assert(snap.read("a").count() == 612L)
    // empty source: a true no-op (no new version)
    assert(snap.mergeInto("a", Seq.empty[(Long, Double)].toDF("id", "v"), "id") == v4)
    // schema mismatch is refused up front
    intercept[IllegalArgumentException] {
      snap.mergeInto("a", Seq((1L, "x")).toDF("id", "v"), "id")
    }
  }

  test("mergeSchema append evolves additively: old rows read null, types never silently change") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txn").toString + "/t"
    val snap = new Snapshots(spark, root)
    val v1 = snap.commit(Map("a" -> Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v")))
    // a plain append still rejects new columns
    intercept[IllegalArgumentException] {
      snap.append("a", Seq((3L, 3.0, "x")).toDF("id", "v", "w"))
    }
    // additive evolution: the batch carries a new string column w
    snap.append("a", Seq((3L, 3.0, "x"), (4L, 4.0, "y")).toDF("id", "v", "w"),
      mergeSchema = true)
    val head = snap.read("a")
    assert(head.columns.toSeq == Seq("id", "v", "w"))
    assert(head.count() == 4L)
    // pre-evolution rows read the new column as NULL (never dropped,
    // never defaulted)
    assert(head.where(col("w").isNull).select("id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(head.where(col("id") === 3L).head.getString(2) == "x")
    // a later batch may OMIT an existing column: its rows read it null
    snap.append("a", Seq((5L, "z")).toDF("id", "w"), mergeSchema = true)
    val h3 = snap.read("a")
    assert(h3.count() == 5L)
    assert(h3.where(col("id") === 5L).head.isNullAt(1))
    // a TYPE change is refused even under mergeSchema
    intercept[IllegalArgumentException] {
      snap.append("a", Seq((6L, 6)).toDF("id", "v"), mergeSchema = true)
    }
    // time travel: the pre-evolution version keeps its own schema
    assert(snap.read("a", Some(v1)).columns.toSeq == Seq("id", "v"))
    // and the evolved table still partial-rewrites correctly (touched
    // rows re-materialize with the full union schema)
    snap.deleteWhere("a", Seq(ColRange("id", Some(5L), Some(5L))), statsCols = Seq("id"))
    assert(snap.read("a").count() == 4L)
    assert(snap.read("a").columns.toSeq == Seq("id", "v", "w"))
    assert(snap.read("a").where(col("id") === 3L).head.getString(2) == "x")
  }

  test("CHECK constraints: declared once, enforced on every row-introducing verb, ANSI null-passes") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txnchk").toString + "/lake"
    val snap = new Snapshots(sp, root)
    snap.commit(Map("a" -> Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")),
      statsCols = Map("a" -> Seq("id")))

    // adding a constraint the CURRENT rows violate is refused — a
    // published constraint must be an invariant from version one
    intercept[Snapshots.ConstraintViolationException] {
      snap.addCheck("a", "v_big", "v > 15")
    }
    val vAdd = snap.addCheck("a", "v_pos", "v > 0")
    assert(snap.checks("a") == Map("v_pos" -> "v > 0"))

    // a violating append is refused LOUDLY and publishes nothing
    val before = snap.currentVersion.get
    val bad = intercept[Snapshots.ConstraintViolationException] {
      snap.append("a", Seq((3L, -5.0)).toDF("id", "v"))
    }
    assert(bad.getMessage.contains("v_pos"))
    assert(snap.currentVersion.get == before)
    assert(snap.read("a").count() == 2L)

    // ANSI CHECK: null passes (three-valued logic) — and a passing
    // batch lands
    val opt: Option[Double] = None
    snap.append("a", Seq((3L, opt)).toDF("id", "v"))
    snap.append("a", Seq((4L, 40.0)).toDF("id", "v"))
    assert(snap.read("a").count() == 4L)

    // merge: a violating source row is refused; the table is unchanged
    intercept[Snapshots.ConstraintViolationException] {
      snap.mergeInto("a", Seq((2L, -1.0)).toDF("id", "v"), "id", statsCols = Seq("id"))
    }
    assert(snap.read("a").where(col("id") === 2L).head.getDouble(1) == 20.0)
    // update: a SET that breaks the invariant is refused
    intercept[Snapshots.ConstraintViolationException] {
      snap.updateWhere("a", Seq(ColRange("id", Some(4L), Some(4L))),
        Map("v" -> (col("v") * -1.0)), statsCols = Seq("id"))
    }
    // while a lawful update and a delete go through
    snap.updateWhere("a", Seq(ColRange("id", Some(4L), Some(4L))),
      Map("v" -> (col("v") + 1.0)), statsCols = Seq("id"))
    snap.deleteWhere("a", Seq(ColRange("id", Some(1L), Some(1L))), statsCols = Seq("id"))
    assert(snap.read("a").count() == 3L)

    // constraints are table metadata: they clone with the table, and a
    // full re-commit of the table keeps them armed
    snap.cloneTable("a", "b")
    intercept[Snapshots.ConstraintViolationException] {
      snap.append("b", Seq((9L, -9.0)).toDF("id", "v"))
    }
    intercept[Snapshots.ConstraintViolationException] {
      snap.commit(Map("a" -> Seq((1L, -1.0)).toDF("id", "v")))
    }
    // time travel sees the constraint set as of the version
    assert(snap.checks("a", Some(vAdd - 1)).isEmpty)

    // a second constraint joins the first; duplicate names are refused
    snap.addCheck("a", "id_pos", "id IS NOT NULL AND id > 0")
    intercept[IllegalArgumentException] { snap.addCheck("a", "id_pos", "id > 1") }
    assert(snap.checks("a").keySet == Set("v_pos", "id_pos"))
    // NOT-NULL form: an all-null id batch now violates (IS NOT NULL
    // closes the null-passes loophole)
    val idOpt: Option[Long] = None
    intercept[Snapshots.ConstraintViolationException] {
      snap.append("a", Seq((idOpt, 5.0)).toDF("id", "v"))
    }

    // drop re-opens the gate; dropping a missing name is loud
    snap.dropCheck("a", "v_pos")
    intercept[NoSuchElementException] { snap.dropCheck("a", "v_pos") }
    snap.append("a", Seq((10L, -10.0)).toDF("id", "v"))
    assert(snap.read("a").count() == 4L)
    // restore to a constrained version re-arms its constraint line
    assert(snap.checks("a").keySet == Set("id_pos"))
  }

  test("generated columns: omitted → computed, provided → validated, rewrites recompute") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txngen").toString + "/lake"
    val snap = new Snapshots(sp, root)
    snap.commit(Map("a" -> Seq((1L, 10.0, 20.0), (2L, 5.0, 10.0))
      .toDF("id", "v", "v2")), statsCols = Map("a" -> Seq("id")))

    // declaring a derivation the current rows violate is refused
    intercept[Snapshots.ConstraintViolationException] {
      snap.addGenerated("a", "v2", "v * 3")
    }
    snap.addGenerated("a", "v2", "v * 2")
    assert(snap.generated("a") == Map("v2" -> "v * 2"))
    // a non-column is refused up front
    intercept[IllegalArgumentException] { snap.addGenerated("a", "nope", "v") }

    // an OMITTING batch gets the column computed, in table column order
    snap.append("a", Seq((3L, 7.0)).toDF("id", "v"))
    val r3 = snap.read("a").where(col("id") === 3L).head
    assert(snap.read("a").columns.toSeq == Seq("id", "v", "v2"))
    assert(r3.getDouble(2) == 14.0)
    // a PROVIDING batch must match the derivation
    intercept[Snapshots.ConstraintViolationException] {
      snap.append("a", Seq((4L, 8.0, 99.0)).toDF("id", "v", "v2"))
    }
    snap.append("a", Seq((4L, 8.0, 16.0)).toDF("id", "v", "v2"))
    assert(snap.read("a").count() == 4L)

    // merge: an omitting source is completed like an append
    snap.mergeInto("a", Seq((2L, 50.0)).toDF("id", "v"), "id", statsCols = Seq("id"))
    assert(snap.read("a").where(col("id") === 2L).head.getDouble(2) == 100.0)

    // update: SET on the generated column itself is refused; SET on its
    // INPUT recomputes the derivation over the rewrite
    intercept[IllegalArgumentException] {
      snap.updateWhere("a", Seq(ColRange("id", Some(1L), Some(1L))),
        Map("v2" -> lit(0.0)), statsCols = Seq("id"))
    }
    snap.updateWhere("a", Seq(ColRange("id", Some(1L), Some(1L))),
      Map("v" -> (col("v") + 1.0)), statsCols = Seq("id"))
    val r1 = snap.read("a").where(col("id") === 1L).head
    assert(r1.getDouble(1) == 11.0 && r1.getDouble(2) == 22.0)

    // the declaration is table metadata: clones carry it, drop ends it
    snap.cloneTable("a", "b")
    assert(snap.generated("b") == Map("v2" -> "v * 2"))
    snap.dropGenerated("a", "v2")
    intercept[NoSuchElementException] { snap.dropGenerated("a", "v2") }
    snap.append("a", Seq((9L, 1.0, 999.0)).toDF("id", "v", "v2")) // contract ended
    assert(snap.read("a").where(col("id") === 9L).head.getDouble(2) == 999.0)
  }

  test("applyChanges: one version fuses upserts and deletes; tombstone wins on overlap") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txnac").toString + "/lake"
    val snap = new Snapshots(sp, root)
    snap.commit(Map("t" -> (1L to 20L).map(i => (i, i * 10L)).toDF("id", "v")
      .repartitionByRange(4, col("id"))), Map("t" -> Seq("id")))
    snap.cloneTable("t", "ref")
    val v0 = snap.currentVersion.get

    // fused batch: update id=3, insert id=99, delete ids 5,6 — ONE version
    val ups = Seq((3L, 333L), (99L, 990L)).toDF("id", "v")
    val dead = Seq(5L, 6L).toDF("id")
    snap.applyChanges("t", ups, dead, Seq("id"), statsCols = Seq("id"))
    assert(snap.currentVersion.get == v0 + 1, "fused apply must cost exactly one version")
    // equals the sequential pair applied to the clone (two versions)
    snap.mergeInto("ref", ups, "id", statsCols = Seq("id"))
    snap.deleteKeys("ref", dead, "id", statsCols = Seq("id"))
    def rows(t: String): Set[(Long, Long)] =
      snap.read(t).as[(Long, Long)].collect().toSet
    assert(rows("t") == rows("ref"))

    // a key in BOTH sides ends dead (CDC tombstone-wins)
    snap.applyChanges("t", Seq((7L, 777L)).toDF("id", "v"), Seq(7L).toDF("id"), Seq("id"), Seq("id"))
    assert(!rows("t").exists(_._1 == 7L))
    // degenerate sides reduce to the single verbs; both-empty is a no-op
    val v1 = snap.currentVersion.get
    snap.applyChanges("t", ups.limit(0), Seq(8L).toDF("id"), Seq("id"), Seq("id"))
    assert(!rows("t").exists(_._1 == 8L))
    snap.applyChanges("t", Seq((100L, 1000L)).toDF("id", "v"), Seq(0L).toDF("id").limit(0), Seq("id"), Seq("id"))
    assert(rows("t").contains((100L, 1000L)))
    val vNoop = snap.currentVersion.get
    snap.applyChanges("t", ups.limit(0), dead.limit(0), Seq("id"), Seq("id"))
    assert(snap.currentVersion.get == vNoop, "empty batch must publish nothing")
    assert(v1 < vNoop)
    // replay converges (row-level idempotence, the replication contract)
    val before = rows("t")
    snap.applyChanges("t", Seq((100L, 1000L)).toDF("id", "v"), Seq(8L).toDF("id"), Seq("id"), Seq("id"))
    assert(rows("t") == before)
    // CHECK constraints gate the fused verb like any write
    snap.addCheck("t", "v_pos", "v > 0")
    intercept[Snapshots.ConstraintViolationException] {
      snap.applyChanges("t", Seq((101L, -1L)).toDF("id", "v"), dead.limit(0), Seq("id"), Seq("id"))
    }
  }

  test("tableDetail answers operational facts from the manifest alone") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txndet").toString + "/lake"
    val snap = new Snapshots(sp, root)
    // one row per partition: writes leave no rowless files, so a
    // round-robin split that lands both rows together would stage one
    snap.commit(Map("a" -> Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
      .repartitionByRange(2, col("id"))),
      statsCols = Map("a" -> Seq("id")))
    snap.addCheck("a", "v_pos", "v > 0")
    snap.append("a", Seq((3L, 30.0)).toDF("id", "v"), tag = Some("b1"))
    val d = snap.tableDetail("a")
    assert(d.table == "a" && d.version == snap.currentVersion.get)
    assert(d.numFiles == 3 && d.sizeBytes > 0)
    assert(d.schemaDdl.contains("id") && d.schemaDdl.contains("BIGINT"))
    assert(d.checks == Map("v_pos" -> "v > 0") && d.generatedColumns.isEmpty)
    assert(!d.hasDeletionVector && d.consumedTags == 1)
    // the facts are versioned: the pre-append detail has 2 files, no tag
    val d1 = snap.tableDetail("a", Some(1L))
    assert(d1.numFiles == 2 && d1.consumedTags == 0 && d1.checks.isEmpty)
    // sizeBytes agrees with the filesystem (manifest lengths are real)
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(sp.sparkContext.hadoopConfiguration)
    intercept[NoSuchElementException] { snap.tableDetail("nope") }
    assert(fsys.exists(new org.apache.hadoop.fs.Path(root)))
  }

  test("renameColumn: metadata-only re-label; every verb speaks the new name") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txncm").toString + "/t"
    val snap = new Snapshots(spark, root)
    val v1 = snap.commit(Map("a" -> (1L to 200L).map(i => (i, i * 2.0)).toDF("id", "v")
      .repartitionByRange(4, col("id"))), Map("a" -> Seq("id", "v")))
    val filesBefore = snap.read("a").inputFiles.toSet
    val v2 = snap.renameColumn("a", "v", "amount")
    assert(v2 == v1 + 1)
    // metadata-only: not one data byte moved
    assert(snap.read("a").inputFiles.toSet == filesBefore)
    assert(snap.read("a").columns.toSeq == Seq("id", "amount"))
    assert(snap.read("a").agg(sum("amount")).head.getDouble(0) == (1L to 200L).map(_ * 2.0).sum)
    // time travel: the old version still shows the old name
    assert(snap.read("a", Some(v1)).columns.toSeq == Seq("id", "v"))
    // appends speak the NEW name; the old name is refused by the guard
    snap.append("a", Seq((201L, 402.0)).toDF("id", "amount"), statsCols = Seq("id", "amount"))
    intercept[IllegalArgumentException](
      snap.append("a", Seq((202L, 404.0)).toDF("id", "v")))
    assert(snap.read("a").count() == 201L)
    // stats-pruned reads and partial-rewrite DML address the new name
    // (sidecars stay keyed by the physical name underneath)
    assert(snap.readWhere("a", Seq(ColRange("amount", Some(100.0), Some(110.0))))
      .count() == 6L) // amounts 100..110 step 2
    snap.updateWhere("a", Seq(ColRange("id", Some(1L), Some(10L))),
      Map("amount" -> (col("amount") + 1000.0)), Seq("id", "amount"))
    assert(snap.read("a").where(col("amount") > 1000.0).count() == 10L)
    snap.deleteWhere("a", Seq(ColRange("amount", Some(1200.0), Some(1300.0))), Seq("id", "amount"))
    // ids 100..150 have amount 1200..1300 → wait: update moved ids 1..10; delete hits raw range
    // metadata-only aggregates answer under the logical name
    val (n, stats) = snap.aggStats("a", Seq("amount"))
    assert(n == snap.read("a").count())
    assert(stats("amount")._1 == n) // no nulls
    // rename collisions and unknown columns refuse loudly
    intercept[IllegalArgumentException](snap.renameColumn("a", "id", "amount"))
    intercept[IllegalArgumentException](snap.renameColumn("a", "nope", "x"))
    // merge + keyset delete on the renamed schema
    snap.mergeInto("a", Seq((1L, 7.0), (999L, 9.0)).toDF("id", "amount"), "id")
    assert(snap.read("a").where(col("id") === 1L).head.getDouble(1) == 7.0)
    assert(snap.read("a").where(col("id") === 999L).count() == 1L)
    snap.deleteKeys("a", Seq(Tuple1(999L)).toDF("id"), Seq("id"), Seq("id", "amount"))
    assert(snap.read("a").where(col("id") === 999L).count() == 0L)
  }

  test("dropColumn: view-only removal; re-add never resurrects; compact materializes") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txncm2").toString + "/t"
    val snap = new Snapshots(spark, root)
    val v1 = snap.commit(Map("a" -> (1L to 50L).map(i => (i, i * 2.0, s"w$i"))
      .toDF("id", "v", "w")), Map("a" -> Seq("id")))
    val filesBefore = snap.read("a").inputFiles.toSet
    val v2 = snap.dropColumn("a", "w")
    assert(snap.read("a").columns.toSeq == Seq("id", "v"))
    assert(snap.read("a").inputFiles.toSet == filesBefore, "drop must move no data")
    assert(snap.read("a", Some(v1)).columns.toSeq == Seq("id", "v", "w"))
    // RE-ADD the dropped name: fresh physical column — the old values
    // can never resurrect (old rows read null, new rows carry theirs)
    snap.append("a", Seq((51L, 102.0, "fresh")).toDF("id", "v", "w"), mergeSchema = true)
    val back = snap.read("a")
    assert(back.columns.toSeq == Seq("id", "v", "w"))
    assert(back.where(col("id") <= 50L && col("w").isNotNull).count() == 0L,
      "dropped data resurrected on re-add")
    assert(back.where(col("id") === 51L).head.getString(2) == "fresh")
    // the dropped guard: a CHECK referencing a column blocks its drop/rename
    snap.addCheck("a", "v_pos", "v > 0")
    intercept[IllegalArgumentException](snap.dropColumn("a", "v"))
    intercept[IllegalArgumentException](snap.renameColumn("a", "v", "val"))
    snap.dropCheck("a", "v_pos")
    // raw multi-file surfaces refuse while a mapping is pending
    intercept[IllegalArgumentException](snap.readTables(Seq("a")))
    intercept[IllegalArgumentException](snap.tablePaths())
    // COMPACT materializes: mapping line ends, dropped bytes shed,
    // view identical, raw surfaces come back
    val pre = snap.read("a").orderBy("id").collect()
    snap.compact("a", statsCols = Seq("id"))
    assert(snap.columnMapping("a").isEmpty, "compact must clear the mapping")
    assert(snap.read("a").orderBy("id").collect().toSeq == pre.toSeq)
    assert(snap.readTables(Seq("a")).count() == 51L)
    assert(!snap.tableDetail("a").schemaDdl.contains("__v"),
      "materialized files must carry plain logical names")
    // a second rename after materialization starts a fresh mapping
    snap.renameColumn("a", "w", "tag")
    assert(snap.read("a").columns.toSeq == Seq("id", "v", "tag"))
  }

  test("column mapping: clone/restore carry it; readChanges refuses rename crossings") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txncm3").toString + "/t"
    val snap = new Snapshots(spark, root)
    val v1 = snap.commit(Map("a" -> (1L to 20L).map(i => (i, i * 1.0)).toDF("id", "v")),
      Map("a" -> Seq("id")))
    val v2 = snap.append("a", Seq((21L, 21.0)).toDF("id", "v"), statsCols = Seq("id"))
    val vR = snap.renameColumn("a", "v", "score")
    val v4 = snap.append("a", Seq((22L, 22.0)).toDF("id", "score"), statsCols = Seq("id"))
    // diffs on one side of the rename work, in that side's names
    assert(snap.readChanges("a", v1, v2).columns.contains("v"))
    assert(snap.readChanges("a", vR, v4).columns.contains("score"))
    assert(snap.readChanges("a", vR, v4).where(col("_change") === "added").count() == 1L)
    // crossing the rename refuses with the split point
    val ex = intercept[IllegalArgumentException](snap.readChanges("a", v1, v4).collect())
    assert(ex.getMessage.contains("rename"), ex.getMessage)
    // clone carries the mapping; the pair evolve independently
    snap.cloneTable("a", "b")
    assert(snap.read("b").columns.toSeq == Seq("id", "score"))
    snap.renameColumn("b", "score", "pts")
    assert(snap.read("a").columns.toSeq == Seq("id", "score"))
    // restore to the pre-rename version brings the old name back
    snap.restoreTable("a", v2)
    assert(snap.read("a").columns.toSeq == Seq("id", "v"))
    assert(snap.read("a").count() == 21L)
  }

  test("merge-on-read verbs under a rename: positions stay exact, SET speaks the new name") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txncm4").toString + "/t"
    val snap = new Snapshots(spark, root)
    snap.commit(Map("a" -> (1L to 100L).map(i => (i, i * 2.0)).toDF("id", "v")
      .repartitionByRange(4, col("id"))), Map("a" -> Seq("id")))
    snap.renameColumn("a", "v", "amount")
    // MoR delete: ranges on the NEW name; the tombstones are positional
    snap.deleteWhereMoR("a", Seq(ColRange("id", Some(1L), Some(10L))))
    assert(snap.read("a").count() == 90L)
    // count(*) aggStats stays exact under DV + mapping
    assert(snap.aggStats("a", Nil)._1 == 90L)
    // MoR update: SET on the new name, re-appended rows stage physically
    snap.updateWhereMoR("a", Seq(ColRange("id", Some(11L), Some(20L))),
      Map("amount" -> (col("amount") + 10000.0)), Seq("id"))
    val up = snap.read("a").where(col("amount") > 10000.0)
    assert(up.count() == 10L)
    assert(snap.read("a").count() == 90L)
    // compact materializes vector AND mapping together
    snap.compact("a", statsCols = Seq("id"))
    assert(snap.columnMapping("a").isEmpty && !snap.tableDetail("a").hasDeletionVector)
    assert(snap.read("a").count() == 90L)
    assert(snap.read("a").columns.toSeq == Seq("id", "amount"))
    assert(snap.read("a").where(col("amount") > 10000.0).count() == 10L)
  }


  test("compactWhere: predicate-scoped OPTIMIZE packs only matching files; DV trimmed exactly") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txncw").toString + "/t"
    val snap = new Snapshots(spark, root)
    // cold half: 4 well-sized range files over ids 1..400
    snap.commit(Map("a" -> (1L to 400L).map(i => (i, i * 2.0)).toDF("id", "v")
      .repartitionByRange(4, col("id"))), Map("a" -> Seq("id")))
    // hot half: 6 tiny appends land small files in the 401..460 range
    (0 until 6).foreach { k =>
      snap.append("a", ((401L + k * 10) to (410L + k * 10)).map(i => (i, i * 2.0)).toDF("id", "v")
        .coalesce(1), statsCols = Seq("id"))
    }
    val pre = snap.read("a").orderBy("id").collect()
    val preFiles = snap.read("a").inputFiles.toSet
    assert(preFiles.size == 10, s"fixture wants 4 cold + 6 hot files, got ${preFiles.size}")
    val coldFiles = snap.read("a", Some(1L)).inputFiles.toSet
    snap.compactWhere("a", Seq(ColRange("id", Some(401L), None)), statsCols = Seq("id"))
    val postFiles = snap.read("a").inputFiles.toSet
    // the 4 cold files are RE-REFERENCED byte-identical; the 6 hot ones packed
    assert(coldFiles.subsetOf(postFiles), "cold files must be re-referenced, not rewritten")
    assert(postFiles.size < preFiles.size, "hot small files must have packed")
    assert((postFiles -- coldFiles).nonEmpty && (postFiles -- coldFiles).size < 6)
    assert(snap.read("a").orderBy("id").collect().toSeq == pre.toSeq, "rows must be invariant")
    // the version is maintenance: the change feed must skip it
    assert(snap.isMaintenanceVersion("a", snap.currentVersion.get))
    // stats keep pruning on both halves after the partial pack
    assert(snap.readWhere("a", Seq(ColRange("id", Some(1L), Some(50L)))).count() == 50L)
    assert(snap.readWhere("a", Seq(ColRange("id", Some(420L), Some(429L)))).count() == 10L)
    // fewer than two matching files → honest no-op
    val v0 = snap.currentVersion.get
    assert(snap.compactWhere("a", Seq(ColRange("id", Some(1L), Some(10L)))) == v0)

    // DV interplay: tombstone rows in BOTH halves, pack the hot half —
    // touched entries trim away, kept-file entries stay, counts exact
    snap.deleteWhereMoR("a", Seq(ColRange("id", Some(50L), Some(60L))))   // cold files
    snap.deleteWhereMoR("a", Seq(ColRange("id", Some(405L), Some(415L)))) // hot files
    val liveCount = snap.read("a").count()
    assert(liveCount == 460L - 11L - 11L)
    snap.compactWhere("a", Seq(ColRange("id", Some(401L), None)), statsCols = Seq("id"))
    assert(snap.read("a").count() == liveCount, "partial pack must not resurrect or lose DV'd rows")
    assert(snap.tableDetail("a").hasDeletionVector, "kept-file tombstones must survive")
    assert(snap.aggStats("a", Nil)._1 == liveCount, "metadata count must stay exact after the trim")
    // full compact still materializes everything afterwards
    snap.compact("a", statsCols = Seq("id"))
    assert(!snap.tableDetail("a").hasDeletionVector)
    assert(snap.read("a").count() == liveCount)
  }


  test("vacuumPlan: the dry run names exactly what vacuum then deletes, and mutates nothing") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txnvp").toString + "/t"
    val snap = new Snapshots(spark, root)
    snap.commit(Map("a" -> (1L to 50L).map(i => (i, i * 2.0)).toDF("id", "v")))
    snap.append("a", Seq((51L, 102.0)).toDF("id", "v"))
    snap.compact("a") // v1's and v2's dirs become unreferenced at head
    val headBefore = snap.currentVersion.get
    val plan = snap.vacuumPlan(keepLast = 1)
    assert(plan.versionsToDrop.nonEmpty && plan.dirsToDelete.nonEmpty)
    assert(plan.bytesReclaimed > 0L)
    // dry run: nothing moved — full history still reads
    assert(snap.currentVersion.get == headBefore)
    assert(snap.read("a", Some(1L)).count() == 50L)
    val (droppedVersions, deletedDirs) = snap.vacuum(keepLast = 1)
    assert(droppedVersions == plan.versionsToDrop.size,
      s"plan ${plan.versionsToDrop} vs vacuum dropped $droppedVersions")
    assert(deletedDirs == plan.dirsToDelete.size,
      s"plan ${plan.dirsToDelete} vs vacuum deleted $deletedDirs")
    // post-vacuum plan is empty: the lake is already minimal
    val after = snap.vacuumPlan(keepLast = 1)
    assert(after.versionsToDrop.isEmpty && after.dirsToDelete.isEmpty && after.bytesReclaimed == 0L)
  }


  test("concurrent disjoint DML on one table MERGES; overlapping work conflicts loudly") {
    val sp = spark
    import sp.implicits._
    import java.util.concurrent.CyclicBarrier
    def freshLake(): Snapshots = {
      val snap = new Snapshots(spark, Files.createTempDirectory("txncc").toString + "/t")
      snap.commit(Map("a" -> (1L to 400L).map(i => (i, i * 2.0)).toDF("id", "v")
        .repartitionByRange(8, col("id"))), Map("a" -> Seq("id")))
      snap
    }
    // two INSTANCES on one root — the honest multi-writer shape (each
    // process stages under its own writer id); the gate holds both at
    // the door until each has classified against the same head
    def race(a: Snapshots, b: Snapshots)(w1: => Long, w2: => Long): (Either[Throwable, Long], Either[Throwable, Long]) = {
      val barrier = new CyclicBarrier(2)
      a.beforePublish = (_, _) => { barrier.await(); () }
      b.beforePublish = (_, _) => { barrier.await(); () }
      try {
        val t1 = new java.util.concurrent.FutureTask(() => w1)
        val t2 = new java.util.concurrent.FutureTask(() => w2)
        new Thread(t1).start(); new Thread(t2).start()
        def res(t: java.util.concurrent.FutureTask[Long]) =
          try Right(t.get()) catch { case e: java.util.concurrent.ExecutionException => Left(e.getCause) }
        (res(t1), res(t2))
      } finally { a.beforePublish = (_, _) => (); b.beforePublish = (_, _) => () }
    }

    // 1) DISJOINT deletes: both land, neither retries-from-scratch
    locally {
      val snap = freshLake()
      val snap2 = new Snapshots(spark, snap.rootPath)
      val (r1, r2) = race(snap, snap2)(
        snap.deleteWhere("a", Seq(ColRange("id", Some(1L), Some(50L))), Seq("id")),
        snap2.deleteWhere("a", Seq(ColRange("id", Some(351L), Some(400L))), Seq("id")))
      assert(r1.isRight && r2.isRight, s"disjoint deletes must both land: $r1 / $r2")
      assert(snap.read("a").count() == 300L)
      assert(snap.read("a").agg(min("id"), max("id")).head() ==
        org.apache.spark.sql.Row(51L, 350L))
    }

    // 2) OVERLAPPING ranges: the loser must conflict, not silently drop work
    locally {
      val snap = freshLake()
      val snap2 = new Snapshots(spark, snap.rootPath)
      val (r1, r2) = race(snap, snap2)(
        snap.deleteWhere("a", Seq(ColRange("id", Some(1L), Some(100L))), Seq("id")),
        snap2.updateWhere("a", Seq(ColRange("id", Some(90L), Some(110L))),
          Map("v" -> lit(0.0)), Seq("id")))
      assert(r1.isRight != r2.isRight,
        s"exactly one of an overlapping pair must land: $r1 / $r2")
      val loser = Seq(r1, r2).collectFirst { case Left(e) => e }.get
      assert(loser.isInstanceOf[java.util.concurrent.ExecutionException] ||
        loser.isInstanceOf[java.util.ConcurrentModificationException], loser.toString)
    }

    // 3) concurrent APPEND outside the delete's range: both land, the
    //    appended rows survive the rebase
    locally {
      val snap = freshLake()
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      snap.beforePublish = (_, what) => if (what == "delete") { barrier.await(); () }
      try {
        val del = new java.util.concurrent.FutureTask(() =>
          snap.deleteWhere("a", Seq(ColRange("id", Some(1L), Some(50L))), Seq("id")))
        new Thread(del).start()
        // the append lands (via a second writer) while the delete waits
        new Snapshots(spark, snap.rootPath)
          .append("a", Seq((1000L, 9.0)).toDF("id", "v"), statsCols = Seq("id"))
        barrier.await()
        del.get()
      } finally snap.beforePublish = (_, _) => ()
      assert(snap.read("a").count() == 351L)
      assert(snap.read("a").where(col("id") === 1000L).count() == 1L,
        "a disjoint concurrent append must survive the delete's rebase")
    }

    // 4) concurrent append INSIDE the range: the delete must refuse
    //    (its result would silently miss the new rows)
    locally {
      val snap = freshLake()
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      snap.beforePublish = (_, what) => if (what == "delete") { barrier.await(); () }
      try {
        val del = new java.util.concurrent.FutureTask(() =>
          snap.deleteWhere("a", Seq(ColRange("id", Some(1L), Some(50L))), Seq("id")))
        new Thread(del).start()
        new Snapshots(spark, snap.rootPath)
          .append("a", Seq((25L, 9.0)).toDF("id", "v"), statsCols = Seq("id"))
        barrier.await()
        val e = intercept[java.util.concurrent.ExecutionException](del.get())
        assert(e.getCause.isInstanceOf[java.util.ConcurrentModificationException], e.getCause.toString)
      } finally snap.beforePublish = (_, _) => ()
      assert(snap.read("a").where(col("id") === 25L).count() == 2L,
        "the refused delete must leave the appended row intact")
    }
  }


  test("identity columns: lake-assigned dense ids, atomic high-water mark, race-safe") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txnid").toString + "/t"
    val snap = new Snapshots(spark, root)
    // table created WITH the column; addIdentity initializes past max
    snap.commit(Map("a" -> Seq((1L, "x"), (2L, "y"), (7L, "z")).toDF("id", "s")))
    snap.addIdentity("a", "id")
    assert(snap.identityColumn("a").contains(("id", 8L)))
    // batches OMIT the column; ids are dense and contiguous above the mark
    snap.appendIdentity("a", Seq("p", "q", "r").toDF("s"), statsCols = Seq("id"))
    val got1 = snap.read("a").where(col("s").isin("p", "q", "r"))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got1 == Seq(8L, 9L, 10L), s"dense contiguous ids expected, got $got1")
    assert(snap.identityColumn("a").contains(("id", 11L)))
    // GENERATED ALWAYS: a batch carrying the column refuses; plain
    // append routes loudly to appendIdentity
    intercept[IllegalArgumentException](
      snap.appendIdentity("a", Seq((99L, "bad")).toDF("id", "s")))
    intercept[IllegalArgumentException](
      snap.append("a", Seq("nope").toDF("s")))
    // replayed tag burns nothing
    snap.appendIdentity("a", Seq("t1").toDF("s"), tag = Some("b1"))
    val hwAfter = snap.identityColumn("a").get._2
    snap.appendIdentity("a", Seq("t1").toDF("s"), tag = Some("b1")) // replay
    assert(snap.identityColumn("a").get._2 == hwAfter, "replay must not advance the mark")
    assert(snap.read("a").where(col("s") === "t1").count() == 1L)
    // RACING identity appends from two writers: disjoint contiguous ranges
    val snap2 = new Snapshots(spark, root)
    val b = new java.util.concurrent.CyclicBarrier(2)
    val t1 = new java.util.concurrent.FutureTask(() => {
      b.await(); snap.appendIdentity("a", Seq("r1", "r2").toDF("s")) })
    val t2 = new java.util.concurrent.FutureTask(() => {
      b.await(); snap2.appendIdentity("a", Seq("r3", "r4", "r5").toDF("s")) })
    new Thread(t1).start(); new Thread(t2).start()
    t1.get(); t2.get()
    val ids = snap.read("a").select("id").collect().map(_.getLong(0)).toSeq
    assert(ids.distinct.size == ids.size, s"identity ids must be unique, got $ids")
    val raced = snap.read("a").where(col("s").isin("r1", "r2", "r3", "r4", "r5"))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(raced == (raced.min to raced.min + 4L), s"racing appends must land contiguous disjoint ranges: $raced")
    assert(snap.identityColumn("a").get._2 == raced.max + 1)
    // the mark travels with clone and restore
    snap.cloneTable("a", "b")
    assert(snap.identityColumn("b") == snap.identityColumn("a"))
    snap.dropIdentity("b")
    assert(snap.identityColumn("b").isEmpty && snap.identityColumn("a").nonEmpty)
  }


  test("syncIdentity: explicit merge-landed ids re-sync the mark; appends never duplicate") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txnsi").toString + "/t"
    val snap = new Snapshots(spark, root)
    snap.commit(Map("a" -> Seq((1L, "x")).toDF("id", "s")))
    snap.addIdentity("a", "id")
    assert(snap.identityColumn("a").contains(("id", 2L)))
    // replication lands an explicit high id (the BY-DEFAULT escape hatch)
    snap.mergeInto("a", Seq((50L, "replicated")).toDF("id", "s"), "id")
    // the documented hazard: the mark is behind the data — sync closes it
    snap.syncIdentity("a")
    assert(snap.identityColumn("a").contains(("id", 51L)))
    snap.appendIdentity("a", Seq("fresh").toDF("s"))
    val ids = snap.read("a").select("id").collect().map(_.getLong(0)).toSeq
    assert(ids.distinct.size == ids.size, s"duplicate ids after sync: $ids")
    assert(ids.contains(51L))
    // an in-sync table is a no-op sync (no version churn)
    val v = snap.currentVersion.get
    assert(snap.syncIdentity("a") == v)
  }

  test("analyzeTable: externally staged bytes gain pruning without a rewrite") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txnanalyze").toString + "/lake"
    val snap = new Snapshots(sp, root)
    // an EXTERNAL writer stages sorted parquet and publishes by rel
    // path — the commitStaged ingest path, which carries no sidecars
    (1L to 1000L).map(i => (i, i * 2.0)).toDF("id", "v")
      .repartitionByRange(8, col("id")).sortWithinPartitions("id")
      .write.parquet(s"$root/ext1")
    snap.commitStaged(Map("a" -> "ext1"))
    val before = snap.readWhere("a", Seq(ColRange("id", Some(10L), Some(20L))))
    val total = snap.read("a").inputFiles.length
    assert(before.inputFiles.length == total,
      "un-analyzed staged files must read conservatively (no sidecar)")
    assert(before.count() == 11L)

    assert(snap.analyzeTable("a", Seq("id")) >= 1)
    val after = snap.readWhere("a", Seq(ColRange("id", Some(10L), Some(20L))))
    assert(after.inputFiles.length < total / 2,
      s"analyzed stats should prune: ${after.inputFiles.length} of $total")
    assert(after.count() == 11L, "pruning must not change the result")
    // idempotent: already-analyzed dirs are left alone
    assert(snap.analyzeTable("a", Seq("id")) == 0)
    // blooms analyze independently of existing stats
    assert(snap.analyzeTable("a", Seq("id"), bloomCols = Seq("id")) == 1)
    assert(snap.readWhereIn("a", "id", Seq(17L)).count() == 1L)
    intercept[NoSuchElementException] { snap.analyzeTable("nope", Seq("id")) }
    intercept[IllegalArgumentException] { snap.analyzeTable("a", Nil) }
  }

  test("replaceWhere: slice swapped atomically, batch validated inside the predicate, replays converge") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txnrepl").toString + "/lake"
    val snap = new Snapshots(sp, root)
    snap.commit(Map("a" -> (1L to 40L).map(i => (i, i * 1.0)).toDF("id", "v")
        .repartition(4)),
      statsCols = Map("a" -> Seq("id")))
    val slice = Seq(ColRange("id", Some(11L), Some(20L)))

    // an out-of-slice batch row refuses BEFORE anything publishes
    val v0 = snap.currentVersion.get
    intercept[IllegalArgumentException] {
      snap.replaceWhere("a", slice, Seq((15L, 0.0), (99L, 0.0)).toDF("id", "v")) }
    // a null key never matches the predicate → always a violation
    intercept[IllegalArgumentException] {
      snap.replaceWhere("a", slice,
        Seq((Some(15L), 0.0), (None, 0.0)).toDF("id", "v")) }
    assert(snap.currentVersion.get == v0, "a refused replace must publish nothing")

    // the slice swaps membership AND values in one version
    val batch = Seq((11L, -11.0), (13L, -13.0), (15L, -15.0)).toDF("id", "v")
    snap.replaceWhere("a", slice, batch, Seq("id"))
    val after = snap.read("a").as[(Long, Double)].collect().toMap
    assert(after.size == 33 && after(11L) == -11.0 && !after.contains(12L))
    assert(after(10L) == 10.0 && after(21L) == 21.0, "out-of-slice rows untouched")

    // replay converges to the identical state
    snap.replaceWhere("a", slice, batch, Seq("id"))
    assert(snap.read("a").as[(Long, Double)].collect().toMap == after)

    // a slice no file can hold is a pure backfill insert
    snap.replaceWhere("a", Seq(ColRange("id", Some(100L), Some(110L))),
      Seq((101L, 101.0)).toDF("id", "v"), Seq("id"))
    assert(snap.read("a").count() == 34)

    // appendOnly closes this verb too
    snap.setProperties("a", Map("appendOnly" -> "true"))
    intercept[IllegalArgumentException] { snap.replaceWhere("a", slice, batch) }
  }

  test("table properties: versioned metadata; appendOnly closes the DML surface") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("txnprops").toString + "/lake"
    val snap = new Snapshots(sp, root)
    snap.commit(Map("a" -> Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "v")),
      statsCols = Map("a" -> Seq("id")))
    intercept[IllegalArgumentException] { snap.setProperties("a", Map.empty) }
    intercept[IllegalArgumentException] {
      snap.setProperties("a", Map("bad key" -> "x")) } // ':'/';' are structural
    intercept[IllegalStateException] {
      new Snapshots(sp, root + "2").setProperties("a", Map("k" -> "v")) }

    val vProps = snap.setProperties("a",
      Map("owner" -> "curation", "note" -> "spaces & :;=% survive"))
    assert(snap.properties("a") ==
      Map("owner" -> "curation", "note" -> "spaces & :;=% survive"))
    // versioned: before the set, no properties
    assert(snap.properties("a", Some(vProps - 1)).isEmpty)
    // upsert merges; unset is loud on a typo
    snap.setProperties("a", Map("owner" -> "ops"))
    assert(snap.properties("a")("owner") == "ops")
    intercept[NoSuchElementException] { snap.unsetProperties("a", Seq("nope")) }

    // appendOnly: every row-removing/modifying verb refuses; appends,
    // metadata verbs and reads stay open
    snap.setProperties("a", Map("appendOnly" -> "TRUE")) // case-insensitive
    val r = Seq(ColRange("id", Some(1L), Some(2L)))
    intercept[IllegalArgumentException] { snap.deleteWhere("a", r, Seq("id")) }
    intercept[IllegalArgumentException] {
      snap.updateWhere("a", r, Map("v" -> lit(0.0)), Seq("id")) }
    intercept[IllegalArgumentException] { snap.deleteWhereMoR("a", r) }
    intercept[IllegalArgumentException] {
      snap.updateWhereMoR("a", r, Map("v" -> lit(0.0))) }
    intercept[IllegalArgumentException] {
      snap.mergeInto("a", Seq((1L, 11.0)).toDF("id", "v"), "id") }
    intercept[IllegalArgumentException] { snap.deleteKeys("a", Seq(1L).toDF("id"), "id") }
    // the refusal is UNIFORM — data must not select a path that slips
    // past the guard: an all-NULL-leading-key merge source (internally
    // an insert-only append), an empty delete keyset (internally a
    // no-op), and the fused CDC verb all refuse identically
    intercept[IllegalArgumentException] {
      snap.mergeInto("a",
        Seq((Option.empty[Long], 11.0)).toDF("id", "v"), "id") }
    intercept[IllegalArgumentException] {
      snap.deleteKeys("a", Seq.empty[Long].toDF("id"), "id") }
    intercept[IllegalArgumentException] {
      snap.applyChanges("a", Seq((1L, 11.0)).toDF("id", "v"),
        Seq(2L).toDF("id"), Seq("id")) }
    snap.append("a", Seq((4L, 40.0)).toDF("id", "v"), statsCols = Seq("id"))
    assert(snap.read("a").count() == 4L)
    assert(snap.tableDetail("a").properties("appendOnly") == "TRUE")

    // clone and restore carry the property set; unset re-opens DML
    snap.cloneTable("a", "b")
    assert(snap.properties("b")("appendOnly") == "TRUE")
    intercept[IllegalArgumentException] { snap.deleteWhere("b", r, Seq("id")) }
    snap.unsetProperties("a", Seq("appendOnly"))
    snap.deleteWhere("a", r, Seq("id"))
    assert(snap.read("a").count() == 2L)
    // restore to the guarded version re-arms the guard
    snap.restoreTable("a", vProps + 2)
    assert(snap.properties("a")("appendOnly") == "TRUE")
    intercept[IllegalArgumentException] { snap.deleteWhereMoR("a", r) }
    // a full re-commit (admin replace) keeps the property set, like
    // checks — the guard survives table replacement
    snap.commit(Map("a" -> Seq((9L, 90.0)).toDF("id", "v")))
    assert(snap.properties("a")("owner") == "ops")
  }

  test("crash-point sweep: every injected crash leaves reads at pre- or post-state and replay converges") {
    val sp = spark
    import sp.implicits._
    // Deterministic fault injection at every named step of the publish
    // sequence — "store-temp-write" (nothing durable), "store-link"
    // (temp written, manifest not linked), "manifest-publish" (data
    // staged, nothing visible), "post-manifest" (manifest durable,
    // writer-side caches/checkpoint pending), "checkpoint-write" —
    // threaded through randomized verb sequences. The concurrency
    // stress proves RACES resolve; this proves every CRASH PREFIX
    // does: after a crash the lake reads EITHER the pre-state or the
    // post-state (never a blend, never a torn resolution), and replay
    // (re-running the op iff it did not land) converges to the
    // intended state. 15 seeded sequences; failures reproduce.
    case class InjectedCrash(label: String)
      extends RuntimeException(s"injected crash at $label")
    val labels = Seq("store-temp-write", "store-link", "manifest-publish",
      "post-manifest", "checkpoint-write")
    val rnd = new scala.util.Random(20260814L)
    for (seq <- 1 to 15) {
      val root = Files.createTempDirectory("txncrash").toString + "/t"
      // every third sequence drives the OBJECT-STORE log (conditional
      // put; no hard-link temp steps — those labels become the
      // op-completes case): crash prefixes must resolve identically on
      // both storage classes
      val objStore =
        if (seq % 3 == 0) Some(new graft.sources.InMemoryObjectStore) else None
      def mkSnap(): Snapshots = new Snapshots(spark, root, objStore)
      val snap = mkSnap()
      var model = Map.empty[Long, (String, Long)]
      var nextId = 0L
      def batch(n: Int): Seq[(Long, String, Long)] =
        (0 until n).map { _ =>
          nextId += 1; (nextId, s"g${nextId % 3}", rnd.nextInt(1000).toLong) }
      val rows0 = batch(30)
      model = rows0.map(r => r._1 -> (r._2, r._3)).toMap
      snap.commit(Map("t" -> rows0.toDF("id", "grp", "v")
        .repartitionByRange(3, col("id"))), Map("t" -> Seq("id")))
      def lakeState(): Map[Long, (String, Long)] =
        snap.read("t").as[(Long, String, Long)].collect()
          .map(r => r._1 -> (r._2, r._3)).toMap
      for (op <- 1 to 5) {
        // pick the verb + params FIRST so the intended post-state is
        // known before the crash fires
        val pre = model
        var after: Map[Long, (String, Long)] = null
        var run: () => Unit = null
        var postFix: () => Unit = () => ()
        rnd.nextInt(7) match {
          case 0 =>
            val rows = batch(1 + rnd.nextInt(8)); val tag = s"c$seq-$op"
            after = pre ++ rows.map(r => r._1 -> (r._2, r._3))
            run = () => { snap.append("t", rows.toDF("id", "grp", "v"),
              Some(tag), statsCols = Seq("id")); () }
          case 1 =>
            val lo = 1L + rnd.nextInt(nextId.toInt); val hi = lo + rnd.nextInt(15)
            after = pre.filter { case (id, _) => id < lo || id > hi }
            run = () => { snap.deleteWhere("t",
              Seq(ColRange("id", Some(lo), Some(hi))), Seq("id")); () }
          case 2 =>
            val lo = 1L + rnd.nextInt(nextId.toInt); val hi = lo + rnd.nextInt(15)
            after = pre.map { case (id, (g, v)) =>
              if (id >= lo && id <= hi) (id, (g, v + 1000000L)) else (id, (g, v)) }
            run = () => { snap.updateWhere("t",
              Seq(ColRange("id", Some(lo), Some(hi))),
              Map("v" -> (col("v") + 1000000L)), Seq("id")); () }
          case 3 =>
            val lo = 1L + rnd.nextInt(nextId.toInt); val hi = lo + rnd.nextInt(10)
            val upd = pre.collect { case (id, (g, _)) if id >= lo && id <= hi =>
              (id, g, id + 5000000L) }.toSeq
            val ins = batch(1 + rnd.nextInt(4))
            val src = upd ++ ins
            after = pre ++ src.map(r => r._1 -> (r._2, r._3))
            run = () => { snap.mergeInto("t", src.toDF("id", "grp", "v"),
              "id", statsCols = Seq("id")); () }
          case 4 =>
            val ks = (1 to (1 + rnd.nextInt(5)))
              .map(_ => 1L + rnd.nextInt(nextId.toInt)).distinct
            after = pre -- ks
            run = () => { snap.deleteKeys("t", ks.toDF("id"), "id",
              statsCols = Seq("id")); () }
          case 5 =>
            val lo = 1L + rnd.nextInt(nextId.toInt); val hi = lo + rnd.nextInt(15)
            after = pre.filter { case (id, _) => id < lo || id > hi }
            run = () => { snap.deleteWhereMoR("t",
              Seq(ColRange("id", Some(lo), Some(hi)))); () }
            // a LANDED MoR delete leaves a standing DV that lawfully
            // blocks later copy-on-write verbs — materialize it once
            // the crash episode resolves, so the sequence continues
            postFix = () => { snap.compact("t", targetBytes = 1L << 20,
              sortCol = Some("id"), statsCols = Seq("id")); () }
          case 6 => // vacuum: reads invariant; its checkpoint PIN is a
            // load-bearing crash point (abort must drop nothing)
            after = pre
            run = () => { snap.vacuum(keepLast = 2); () }
        }
        // arm: throw at the FIRST firing of the chosen label (a real
        // process dies once); some ops draw a label their path never
        // reaches — those run to completion, which is also a case
        val label = labels(rnd.nextInt(labels.size))
        var fired = false
        snap.faultHook = l =>
          if (l == label && !fired) { fired = true; throw InjectedCrash(label) }
        val crashed =
          try { run(); false }
          catch { case InjectedCrash(_) => true }
        snap.faultHook = _ => ()
        val observed = lakeState()
        if (!crashed) {
          // cadence-checkpoint crashes are legitimately swallowed
          // (best-effort accelerator): the op completed
          assert(observed == after,
            s"seq $seq op $op ($label, uncrashed): lake != intended state")
          model = after
        } else {
          // THE crash-consistency contract: pre or post, never a blend
          assert(observed == pre || observed == after,
            s"seq $seq op $op ($label): lake is a BLEND — " +
              s"${(observed.toSet diff pre.toSet).take(3)} vs pre, " +
              s"${(observed.toSet diff after.toSet).take(3)} vs after")
          if (observed == pre && observed != after) {
            // did not land: replay converges (orphaned staging/temp
            // residue from the crashed attempt must not block it)
            run()
            assert(lakeState() == after,
              s"seq $seq op $op ($label): replay diverged")
          }
          model = after
        }
        postFix()
        // a cold reopen mid-sequence must resolve the surviving chain
        // (same store: the log lives in the bucket on object sequences)
        if (rnd.nextInt(3) == 0)
          assert(mkSnap().read("t")
            .as[(Long, String, Long)].collect()
            .map(r => r._1 -> (r._2, r._3)).toMap == model,
            s"seq $seq op $op: cold reopen diverged after $label")
      }
      // no torn resolution anywhere in the retained window: every
      // surviving manifest still resolves and time-travels
      val head = snap.currentVersion.get
      (1L to head).foreach { v =>
        try snap.read("t", Some(v)) catch {
          case _: java.io.FileNotFoundException => () // vacuumed: outside window
          case _: NoSuchElementException => () // pre-'t' or collected version
        }
      }
    }
  }

  test("SQL catalog: DDL/DML/time-travel as pure text; constraint and overwrite refusals hold through SQL") {
    val sp = spark
    val root = Files.createTempDirectory("sqlcatspec").toString
    sp.conf.set("spark.sql.catalog.gtest", classOf[graft.sources.GraftCatalog].getName)
    sp.conf.set("spark.sql.catalog.gtest.root", root)
    sp.sql("CREATE NAMESPACE gtest.db")
    sp.sql("CREATE TABLE gtest.db.t (id BIGINT, v BIGINT)")       // v1
    sp.sql("INSERT INTO gtest.db.t VALUES (1, 10), (2, 20)")      // v2
    assert(sp.sql("SELECT sum(v) FROM gtest.db.t").head.getLong(0) == 30L)

    // a CHECK declared through the Scala verb guards the SQL INSERT
    // path too (one enforcement seam: the append verb)
    val snap = new Snapshots(sp, root + "/db")
    snap.addCheck("t", "v_nonneg", "v >= 0")                      // v3
    val headBefore = snap.currentVersion.get
    val e = intercept[Exception] {
      sp.sql("INSERT INTO gtest.db.t VALUES (3, -1)") }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("v_nonneg")),
      s"refusal must name the constraint: ${chain(e)}")
    assert(snap.currentVersion.get == headBefore,
      "a refused SQL INSERT must publish nothing")
    sp.sql("INSERT INTO gtest.db.t VALUES (3, 30)")               // v4

    // time travel through SQL: v2 = after the first insert
    assert(sp.sql("SELECT count(*) FROM gtest.db.t VERSION AS OF 2")
      .head.getLong(0) == 2L)

    // appendOnly: INSERT INTO (an append) stays lawful; OVERWRITE
    // refuses — it executes as replaceWhere since r10, and the verb's
    // appendOnly gate rejects the row-removing rewrite before staging
    snap.setProperties("t", Map("appendOnly" -> "true"))
    sp.sql("INSERT INTO gtest.db.t VALUES (4, 40)")
    assert(sp.sql("SELECT count(*) FROM gtest.db.t").head.getLong(0) == 4L)
    intercept[Exception] {
      sp.sql("INSERT OVERWRITE gtest.db.t VALUES (9, 90)") }
    assert(sp.sql("SELECT count(*) FROM gtest.db.t").head.getLong(0) == 4L,
      "a refused INSERT OVERWRITE must change nothing")

    // SQL DELETE refuses on the guarded table too (the verb's
    // appendOnly gate rides the SupportsDelete path)
    intercept[Exception] { sp.sql("DELETE FROM gtest.db.t WHERE id = 1") }
    intercept[Exception] { sp.sql("TRUNCATE TABLE gtest.db.t") }
    snap.unsetProperties("t", Seq("appendOnly"))

    // DELETE as text: =, BETWEEN and bare AND translate to the
    // stats-pruned copy-on-write verb; general predicates (strict
    // bounds, OR, IN — the r10 envelope+residual split) execute too
    sp.sql("DELETE FROM gtest.db.t WHERE id BETWEEN 3 AND 4")
    assert(sp.sql("SELECT count(*) FROM gtest.db.t").head.getLong(0) == 2L)
    sp.sql("DELETE FROM gtest.db.t WHERE id = 1 AND v >= 10")
    assert(sp.sql("SELECT sum(id) FROM gtest.db.t").head.getLong(0) == 2L)
    // strict bounds + OR: matches nothing here (v = 20), a no-op pass
    sp.sql("DELETE FROM gtest.db.t WHERE v < 15 OR v > 1000")
    assert(sp.sql("SELECT count(*) FROM gtest.db.t").head.getLong(0) == 1L,
      "a general DELETE matching no row must change nothing")
    // an UNCORRELATED subquery predicate EXECUTES since r11
    // (materialized once, inlined as a literal list); here the list is
    // empty, and ANSI says `x IN (empty)` = FALSE — nothing deleted
    sp.sql("DELETE FROM gtest.db.t WHERE id IN (SELECT id FROM gtest.db.t WHERE id > 100)")
    assert(sp.sql("SELECT count(*) FROM gtest.db.t").head.getLong(0) == 1L,
      "IN over an empty subquery result must delete nothing")

    // ALTER as text: properties, ADD COLUMN (zero-row schema union),
    // RENAME/DROP COLUMN (column mapping, zero rewrite)
    sp.sql("ALTER TABLE gtest.db.t SET TBLPROPERTIES ('curation.team' = 'data')")
    assert(snap.properties("t")("curation.team") == "data")
    // SHOW TBLPROPERTIES reads them back through Table.properties()
    val shown = sp.sql("SHOW TBLPROPERTIES gtest.db.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown.get("curation.team").contains("data"), shown)
    sp.sql("ALTER TABLE gtest.db.t UNSET TBLPROPERTIES ('curation.team')")
    assert(!snap.properties("t").contains("curation.team"))
    sp.sql("ALTER TABLE gtest.db.t ADD COLUMN note STRING")
    assert(sp.sql("SELECT count(note) FROM gtest.db.t").head.getLong(0) == 0L)
    assert(sp.sql("SELECT count(*) FROM gtest.db.t").head.getLong(0) == 1L)
    sp.sql("ALTER TABLE gtest.db.t RENAME COLUMN note TO remark")
    assert(sp.sql("SELECT count(remark) FROM gtest.db.t").head.getLong(0) == 0L)
    sp.sql("ALTER TABLE gtest.db.t DROP COLUMN remark")
    assert(!sp.sql("SELECT * FROM gtest.db.t").columns.contains("remark"))
    intercept[Exception] {
      sp.sql("ALTER TABLE gtest.db.t ALTER COLUMN v TYPE STRING") }

    // SHOW CREATE TABLE reproduces the definition as DDL text
    val ddl = sp.sql("SHOW CREATE TABLE gtest.db.t").head.getString(0)
    assert(ddl.contains("CREATE TABLE") && ddl.contains("gtest.db.t"), ddl)

    // INSERT BY NAME: column-order-free ingestion through the same path
    sp.sql("INSERT INTO gtest.db.t BY NAME SELECT 99L AS v, 77L AS id")
    assert(sp.sql("SELECT v FROM gtest.db.t WHERE id = 77").head.getLong(0) == 99L)
    sp.sql("DELETE FROM gtest.db.t WHERE id = 77")

    // CTAS: createTable + the V1 write fallback compose into
    // CREATE TABLE AS SELECT with no extra machinery
    sp.sql("CREATE TABLE gtest.db.t_copy AS SELECT id, id * 2 AS dbl FROM gtest.db.t")
    assert(sp.sql("SELECT sum(dbl) FROM gtest.db.t_copy").head.getLong(0) ==
      sp.sql("SELECT 2 * sum(id) FROM gtest.db.t").head.getLong(0))
    sp.sql("DROP TABLE gtest.db.t_copy")

    // TRUNCATE as text, then RENAME + DROP; files survive for travel
    sp.sql("TRUNCATE TABLE gtest.db.t")
    assert(sp.sql("SELECT count(*) FROM gtest.db.t").head.getLong(0) == 0L)
    sp.sql("ALTER TABLE gtest.db.t RENAME TO db.t2")
    assert(sp.sql("SELECT count(*) FROM gtest.db.t2").head.getLong(0) == 0L)
    sp.sql("DROP TABLE gtest.db.t2")
    assert(sp.sql("SHOW TABLES IN gtest.db").count() == 0L)
    intercept[Exception] { sp.sql("SELECT * FROM gtest.db.t2").collect() }
  }

  test("SQL catalog reads compose with deletion vectors and column mapping") {
    val sp = spark
    val root = Files.createTempDirectory("sqlmor").toString
    sp.conf.set("spark.sql.catalog.gmor", classOf[graft.sources.GraftCatalog].getName)
    sp.conf.set("spark.sql.catalog.gmor.root", root)
    sp.sql("CREATE NAMESPACE gmor.db")
    sp.sql("CREATE TABLE gmor.db.t (id BIGINT, v BIGINT)")
    sp.sql("INSERT INTO gmor.db.t SELECT id, id * 10 FROM range(100)")
    val snap = new Snapshots(sp, root + "/db")

    // a standing deletion vector (merge-on-read delete, zero rewrite)
    // must be applied by the catalog's SQL read — the v1 rewrite path
    // carries the DV anti-join
    snap.deleteWhereMoR("t", Seq(ColRange("id", Some(10L), Some(19L))))
    assert(snap.hasDeletionVector("t", snap.currentVersion.get))
    assert(sp.sql("SELECT count(*) FROM gmor.db.t").head.getLong(0) == 90L)
    assert(sp.sql("SELECT sum(v) FROM gmor.db.t").head.getLong(0) ==
      (0L until 100L).filterNot(i => i >= 10 && i <= 19).map(_ * 10).sum)

    // a column MAPPING (rename without rewrite) resolves through SQL:
    // new name queryable, old name gone, data intact under the new label
    snap.renameColumn("t", "v", "val")
    assert(sp.sql("SELECT sum(val) FROM gmor.db.t").head.getLong(0) ==
      (0L until 100L).filterNot(i => i >= 10 && i <= 19).map(_ * 10).sum)
    intercept[Exception] { sp.sql("SELECT v FROM gmor.db.t").collect() }

    // and the SQL DML path sees the mapped schema too
    sp.sql("INSERT INTO gmor.db.t VALUES (1000, 1)")
    assert(sp.sql("SELECT val FROM gmor.db.t WHERE id = 1000").head.getLong(0) == 1L)
  }

  test("maintenance as text: CALL graft.system.{compact,vacuum,analyze,rollback,zorder}") {
    val sp = spark
    val root = Files.createTempDirectory("sqlproc").toString
    sp.conf.set("spark.sql.catalog.gproc", classOf[graft.sources.GraftCatalog].getName)
    sp.conf.set("spark.sql.catalog.gproc.root", root)
    sp.sql("CREATE NAMESPACE gproc.db")
    sp.sql("CREATE TABLE gproc.db.t (id BIGINT, v BIGINT)")
    sp.sql("INSERT INTO gproc.db.t VALUES (1, 10), (2, 20)")
    sp.sql("INSERT INTO gproc.db.t VALUES (3, 30)")
    sp.sql("INSERT INTO gproc.db.t VALUES (4, 40)")
    val snap = new Snapshots(sp, root + "/db")
    val filesBefore = snap.read("t").inputFiles.length
    assert(filesBefore >= 3, "fixture needs several small files")

    // compact returns the published version; files bin-pack, rows exact
    val v = sp.sql("CALL gproc.system.compact('db', 't')").head.getLong(0)
    assert(v == snap.currentVersion.get)
    assert(snap.read("t").inputFiles.length < filesBefore)
    assert(sp.sql("SELECT sum(v) FROM gproc.db.t").head.getLong(0) == 100L)

    // analyze builds the stats sidecars (idempotent: second run = 0)
    assert(sp.sql("CALL gproc.system.analyze('db', 't', 'id')").head.getInt(0) >= 1)
    assert(sp.sql("CALL gproc.system.analyze('db', 't', 'id')").head.getInt(0) == 0)

    // rollback re-points the head as a NEW version; reads see v-state
    sp.sql("CALL gproc.system.rollback('db', 2)")
    assert(sp.sql("SELECT count(*) FROM gproc.db.t").head.getLong(0) == 2L)

    // zorder clusters by the named columns (rows invariant)
    sp.sql("CALL gproc.system.zorder('db', 't', 'id,v')")
    assert(sp.sql("SELECT count(*) FROM gproc.db.t").head.getLong(0) == 2L)

    // vacuum drops old versions and reports counts; head survives
    val vac = sp.sql("CALL gproc.system.vacuum('db', 2)").head
    assert(vac.getInt(0) > 0)
    assert(sp.sql("SELECT count(*) FROM gproc.db.t").head.getLong(0) == 2L)
    intercept[Exception] {
      sp.sql("SELECT * FROM gproc.db.t VERSION AS OF 1").collect() }

    // compact_where: only the slice's files bin-pack — seed several
    // small stats-covered appends, scope the CALL to the low ids, and
    // the out-of-range file survives untouched
    sp.sql("CREATE TABLE gproc.db.cw (id BIGINT, v BIGINT) PARTITIONED BY (id)")
    sp.sql("INSERT INTO gproc.db.cw VALUES (1, 10), (2, 20)")
    sp.sql("INSERT INTO gproc.db.cw VALUES (3, 30), (4, 40)")
    sp.sql("INSERT INTO gproc.db.cw VALUES (100, 1000)")
    val cwFiles = snap.read("cw").inputFiles.toSet
    sp.sql("CALL gproc.system.compact_where('db', 'cw', 'id', '1', '10')").head.getLong(0)
    val cwAfter = snap.read("cw").inputFiles.toSet
    assert(sp.sql("SELECT sum(v) FROM gproc.db.cw").head.getLong(0) == 1100L,
      "compaction never changes rows")
    assert(cwAfter != cwFiles, "the in-range files must repack")
    assert(cwFiles.exists(f => cwAfter.contains(f)),
      "the out-of-range file must be re-referenced untouched")

    // unknown procedure refuses loudly
    intercept[Exception] { sp.sql("CALL gproc.system.explode('db')") }

    // clone: zero-copy — the copy answers as text immediately and
    // shares the source's data files (no bytes moved)
    val vClone = sp.sql("CALL gproc.system.clone('db', 't', 't_copy')").head.getLong(0)
    assert(sp.sql("SELECT count(*) FROM gproc.db.t_copy").head.getLong(0) == 2L)
    assert(snap.read("t_copy").inputFiles.toSet == snap.read("t").inputFiles.toSet,
      "a clone shares the source's files")
    // diverge the clone; the source must not move
    sp.sql("INSERT INTO gproc.db.t_copy VALUES (9, 90)")
    assert(sp.sql("SELECT count(*) FROM gproc.db.t").head.getLong(0) == 2L)
    assert(sp.sql("SELECT count(*) FROM gproc.db.t_copy").head.getLong(0) == 3L)

    // restore: per-table point-in-time as a NEW forward version
    val preRestore = snap.currentVersion.get
    val vBack = sp.sql(s"CALL gproc.system.restore('db', 't_copy', $vClone)").head.getLong(0)
    assert(vBack > preRestore && vBack == snap.currentVersion.get,
      "restore publishes forward, never rewrites history")
    assert(sp.sql("SELECT count(*) FROM gproc.db.t_copy").head.getLong(0) == 2L)
    // the diverged state is still one VERSION AS OF away
    assert(sp.sql(s"SELECT count(*) FROM gproc.db.t_copy VERSION AS OF $preRestore")
      .head.getLong(0) == 3L)
  }

  test("SQL metadata tables: $history/$files/$detail/$properties read the lake's bookkeeping as text") {
    val sp = spark
    val root = Files.createTempDirectory("sqlmeta").toString
    sp.conf.set("spark.sql.catalog.gmeta", classOf[graft.sources.GraftCatalog].getName)
    sp.conf.set("spark.sql.catalog.gmeta.root", root)
    sp.sql("CREATE NAMESPACE gmeta.db")
    sp.sql("CREATE TABLE gmeta.db.t (id BIGINT, v BIGINT)")           // v1
    sp.sql("INSERT INTO gmeta.db.t VALUES (1, 10), (2, 20)")          // v2
    sp.sql("INSERT INTO gmeta.db.t VALUES (3, 30)")                   // v3
    val snap = new Snapshots(sp, root + "/db")
    snap.setProperties("t", Map("curation.team" -> "data"))           // v4

    // history: every version whose DATA entry changed, newest first
    // (v4 is a properties-only commit — history's changed-set is
    // data-centric by contract, the TBLPROPERTIES delta shows in
    // $properties' version pinning below)
    val hist = sp.sql("SELECT version FROM gmeta.db.`t$history`").collect()
      .map(_.getLong(0)).toSeq
    assert(hist == Seq(3L, 2L, 1L), s"history versions: $hist")

    // files: the live file set with exact recorded bytes, zero listing
    val files = sp.sql("SELECT path, size_bytes FROM gmeta.db.`t$files`").collect()
    assert(files.length == snap.read("t").inputFiles.length)
    assert(files.forall(_.getLong(1) > 0L))
    // pinned at an old version, the file set is the OLD one
    assert(sp.sql("SELECT count(*) FROM gmeta.db.`t$files` VERSION AS OF 2")
      .head.getLong(0) < files.length.toLong)

    // detail: the one-row DESCRIBE DETAIL analog
    val det = sp.sql("SELECT table, version, numFiles FROM gmeta.db.`t$detail`").head
    assert(det.getString(0) == "t" && det.getLong(1) == 4L &&
      det.getInt(2) == files.length)

    // properties as rows
    val props = sp.sql("SELECT key, value FROM gmeta.db.`t$properties`").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props == Map("curation.team" -> "data"))
    assert(sp.sql("SELECT count(*) FROM gmeta.db.`t$properties` VERSION AS OF 3")
      .head.getLong(0) == 0L, "properties must pin at the old version")

    // t$stats: the skipping layer as text — before ANALYZE the files
    // surface as the conservative all-null (never-skipped) class; after,
    // one row per (file, column) with type/nulls/decoded min/max
    val pre = sp.sql("SELECT * FROM gmeta.db.`t$stats`").collect()
    assert(pre.nonEmpty && pre.forall(_.isNullAt(1)),
      s"no sidecars yet: every row must be the all-null class: ${pre.mkString(";")}")
    sp.sql("CALL gmeta.system.analyze('db', 't', 'id')")
    val post = sp.sql(
      "SELECT path, column, stats_type, null_count, min_value, max_value FROM gmeta.db.`t$stats` WHERE column = 'id'")
      .collect()
    assert(post.length == files.length - 1,
      "one id row per DATA file (CREATE's empty seed carries no id entry)")
    assert(post.forall(r => r.getString(2) == "long" && r.getLong(3) == 0L))
    assert(post.flatMap(r => Option(r.getString(4))).map(_.toLong).min == 1L,
      "decoded min spans the data")

    // the SQL change feed: t$changes = full feed (everything `added`
    // plus later churn), t$changes$F / t$changes$F$T = windows, all
    // DV-aware readChanges plans (distributed, zero listing)
    assert(sp.sql("SELECT count(*) FROM gmeta.db.`t$changes`").head.getLong(0) == 3L)
    assert(sp.sql(
      "SELECT count(*) FROM gmeta.db.`t$changes` WHERE _change = 'added'")
      .head.getLong(0) == 3L)
    // the v2→v3 window carries only the second insert
    val win = sp.sql("SELECT id, _change FROM gmeta.db.`t$changes$2$3`").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(win == Seq((3L, "added")), win.toString)
    // VERSION AS OF pins the feed's upper end
    assert(sp.sql("SELECT count(*) FROM gmeta.db.`t$changes` VERSION AS OF 2")
      .head.getLong(0) == 2L)
    // a DELETE surfaces as `removed` in the post-delete window
    new Snapshots(sp, root + "/db").deleteWhere("t",
      Seq(ColRange("id", Some(1L), Some(1L))))
    val head = new Snapshots(sp, root + "/db").currentVersion.get
    val del = sp.sql(
      s"SELECT id, _change FROM gmeta.db.`t$$changes$$3$$$head` ORDER BY _change, id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(del.contains((1L, "removed")) && !del.exists(_ == ((1L, "added"))), del.toString)
    // non-numeric window bounds refuse loudly
    intercept[Exception] { sp.sql("SELECT * FROM gmeta.db.`t$changes$x`").collect() }

    // unknown suffixes and $-tables of missing bases refuse loudly
    intercept[Exception] { sp.sql("SELECT * FROM gmeta.db.`t$nope`").collect() }
    intercept[Exception] { sp.sql("SELECT * FROM gmeta.db.`ghost$files`").collect() }
  }

  test("crash-point sweep: identity appends never reuse or skip ids across crash prefixes") {
    val sp = spark
    import sp.implicits._
    // the identity high-water mark advances IN the manifest publish —
    // a crash at any step must leave replay assigning the same dense
    // range (unpublished attempts move nothing), and a landed attempt
    // must never be re-assigned (ids stay dense and unique)
    case class InjectedCrash(label: String)
      extends RuntimeException(s"injected crash at $label")
    val labels = Seq("store-temp-write", "store-link", "manifest-publish",
      "post-manifest")
    val root = Files.createTempDirectory("txncrashid").toString + "/t"
    val snap = new Snapshots(spark, root)
    snap.commit(Map("t" -> Seq((1L, "seed")).toDF("id", "v")))
    snap.addIdentity("t", "id")
    var expectedN = 1L
    labels.zipWithIndex.foreach { case (label, i) =>
      var fired = false
      snap.faultHook = l =>
        if (l == label && !fired) { fired = true; throw InjectedCrash(label) }
      val batch = Seq(s"b$i-1", s"b$i-2", s"b$i-3").toDF("v")
      val crashed =
        try { snap.appendIdentity("t", batch); false }
        catch { case InjectedCrash(_) => true }
      snap.faultHook = _ => ()
      if (crashed && snap.read("t").count() == expectedN)
        snap.appendIdentity("t", batch) // did not land: replay converges
      expectedN += 3
      val ids = snap.read("t").select("id").as[Long].collect().sorted.toSeq
      assert(ids == (1L to expectedN), s"$label: ids not dense/unique: $ids")
    }
    // the mark survives a cold reopen at exactly max+1
    assert(new Snapshots(spark, root).identityColumn("t").get._2 == expectedN + 1)
  }

  test("SQL UPDATE and MERGE as text run through the Snapshots verbs") {
    val sp = spark
    val root = Files.createTempDirectory("sqldml").toString
    sp.conf.set("spark.sql.catalog.gdml", classOf[graft.sources.GraftCatalog].getName)
    sp.conf.set("spark.sql.catalog.gdml.root", root)
    sp.sql("CREATE NAMESPACE gdml.db")
    sp.sql("CREATE TABLE gdml.db.t (id BIGINT, v BIGINT)")
    sp.sql("INSERT INTO gdml.db.t VALUES (1, 10), (2, 20), (3, 30)")

    // ranged UPDATE → updateWhere (stats-pruned partial rewrite)
    sp.sql("UPDATE gdml.db.t SET v = v + 100 WHERE id BETWEEN 2 AND 3")
    assert(sp.sql("SELECT sum(v) FROM gdml.db.t").head.getLong(0) == 10L + 120L + 130L)
    // whole-table UPDATE (no WHERE = the unbounded range)
    sp.sql("UPDATE gdml.db.t SET v = v + 1")
    assert(sp.sql("SELECT sum(v) FROM gdml.db.t").head.getLong(0) == 263L)
    // general predicates execute (r10 envelope+residual split): a
    // strict bound prunes by its inclusive envelope, the exact
    // residual decides the rows
    sp.sql("UPDATE gdml.db.t SET v = v - 1 WHERE id < 2")
    assert(sp.sql("SELECT sum(v) FROM gdml.db.t").head.getLong(0) == 262L)
    sp.sql("UPDATE gdml.db.t SET v = v + 10 WHERE id IN (1, 3) OR v % 2 = 1")
    // id1 v=10 (IN), id3 v=131→141 (IN + odd), id2 v=121→131 (odd)
    assert(sp.sql("SELECT sum(v) FROM gdml.db.t").head.getLong(0) == 20L + 131L + 141L)
    sp.sql("UPDATE gdml.db.t SET v = v - 10 WHERE id != 2 OR v IS NULL")
    assert(sp.sql("SELECT sum(v) FROM gdml.db.t").head.getLong(0) == 10L + 131L + 131L)
    // uncorrelated subquery predicates EXECUTE since r11 (materialized
    // once, inlined as a literal list — pre-statement snapshot)
    sp.sql("UPDATE gdml.db.t SET v = v + 5 WHERE id IN (SELECT id FROM gdml.db.t WHERE v = 10)")
    assert(sp.sql("SELECT sum(v) FROM gdml.db.t").head.getLong(0) == 277L)
    sp.sql("UPDATE gdml.db.t SET v = v - 5 WHERE id IN (SELECT id FROM gdml.db.t WHERE v = 15)")
    assert(sp.sql("SELECT sum(v) FROM gdml.db.t").head.getLong(0) == 272L)
    // the remaining refusal: non-determinism (file classification and
    // the row rewrite must agree)
    intercept[Exception] {
      sp.sql("UPDATE gdml.db.t SET v = 0 WHERE rand() > 0.5") }
    assert(sp.sql("SELECT sum(v) FROM gdml.db.t").head.getLong(0) == 272L,
      "refused UPDATE must change nothing")

    // canonical upsert MERGE (one full-outer over touched files)
    sp.sql("""MERGE INTO gdml.db.t t
             |USING (VALUES (2L, 222L), (4L, 44L) AS s(id, v)) s
             |ON t.id = s.id
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = sp.sql("SELECT id, v FROM gdml.db.t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 10L), (2L, 222L), (3L, 131L), (4L, 44L)), got)
    // WHEN MATCHED DELETE — part of the full clause matrix (r10)
    sp.sql("""MERGE INTO gdml.db.t t USING (VALUES (2L, 9L) AS s(id, v)) s
             |ON t.id = s.id
             |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(sp.sql("SELECT count(*) FROM gdml.db.t WHERE id = 2").head.getLong(0) == 0L)
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    // an ON with NO equality still refuses (span pruning needs at
    // least one key span; extra non-equi conjuncts ride as residuals)
    val e = intercept[Exception] {
      sp.sql("""MERGE INTO gdml.db.t t USING (VALUES (9L, 9L) AS s(id, v)) s
               |ON t.id >= s.id
               |WHEN MATCHED THEN DELETE""".stripMargin) }
    assert(chain(e).exists(_.contains("no target-source equality")), chain(e))

    // the appendOnly gate rides both verbs through SQL
    new Snapshots(sp, root + "/db").setProperties("t", Map("appendOnly" -> "true"))
    intercept[Exception] { sp.sql("UPDATE gdml.db.t SET v = 0") }
    intercept[Exception] {
      sp.sql("""MERGE INTO gdml.db.t t USING (VALUES (5L, 5L) AS s(id, v)) s
               |ON t.id = s.id
               |WHEN MATCHED THEN UPDATE SET *
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin) }
    assert(sp.sql("SELECT count(*) FROM gdml.db.t").head.getLong(0) == 3L,
      "refused SQL DML must change nothing")
  }

  test("MERGE clause matrix: clause order, conditional arms, BY SOURCE, cardinality guard") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("sqlmatrix").toString
    sp.conf.set("spark.sql.catalog.gmx", classOf[graft.sources.GraftCatalog].getName)
    sp.conf.set("spark.sql.catalog.gmx.root", root)
    sp.sql("CREATE NAMESPACE gmx.db")
    sp.sql("CREATE TABLE gmx.db.t (id BIGINT, v BIGINT)")
    sp.sql("INSERT INTO gmx.db.t VALUES (1, 10), (2, 20), (3, 30), (4, 40)")

    // clause ORDER: id=2 satisfies BOTH matched arms — the FIRST
    // (delete) must win; id=3 takes the conditional update; a
    // conditional insert admits only v=5; the BY SOURCE arm updates
    // id=1 (v<15) but not id=4
    sp.sql("""MERGE INTO gmx.db.t t
             |USING (VALUES (2L, 200L), (3L, 300L), (9L, 900L), (10L, 5L) AS s(id, v)) s
             |ON t.id = s.id
             |WHEN MATCHED AND t.v >= 20 THEN DELETE
             |WHEN MATCHED AND s.v >= 300 THEN UPDATE SET v = s.v + 1
             |WHEN NOT MATCHED AND s.v = 5 THEN INSERT (id, v) VALUES (s.id, s.v)
             |WHEN NOT MATCHED BY SOURCE AND t.v < 15 THEN UPDATE SET v = t.v + 7
             |""".stripMargin)
    val got = sp.sql("SELECT id, v FROM gmx.db.t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 17L), (4L, 40L), (10L, 5L)), got)

    // BY SOURCE DELETE sweeps target-only rows; matched rows survive
    sp.sql("""MERGE INTO gmx.db.t t
             |USING (VALUES (10L, 50L) AS s(id, v)) s
             |ON t.id = s.id
             |WHEN MATCHED THEN UPDATE SET v = s.v
             |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val got2 = sp.sql("SELECT id, v FROM gmx.db.t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got2 == Seq((10L, 50L)), got2)

    // ANSI cardinality: a source duplicated on the key refuses loudly
    // and publishes nothing
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    val eDup = intercept[Exception] {
      sp.sql("""MERGE INTO gmx.db.t t
               |USING (VALUES (10L, 1L), (10L, 2L) AS s(id, v)) s
               |ON t.id = s.id
               |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin) }
    assert(chain(eDup).exists(_.contains("not unique")), chain(eDup))
    assert(sp.sql("SELECT v FROM gmx.db.t").head.getLong(0) == 50L,
      "a refused duplicate-key MERGE must change nothing")

    // the Scala verb directly: srcCol addresses source columns on the
    // joined frame; no matched arm firing leaves the row unchanged
    val snap = new Snapshots(sp, root + "/db")
    snap.append("t", Seq((11L, 11L), (12L, 12L)).toDF("id", "v"))
    snap.mergeClauses("t",
      Seq((10L, 500L), (11L, 1L), (13L, 5L)).toDF("id", "v"), Seq("id"),
      matched = Seq(graft.sources.Snapshots.MatchedUpdate(
        Some(graft.sources.Snapshots.srcCol("v") >= lit(100L)),
        Map("v" -> graft.sources.Snapshots.srcCol("v")))),
      notMatched = Seq(graft.sources.Snapshots.NotMatchedInsert(None,
        Map("id" -> graft.sources.Snapshots.srcCol("id"),
          "v" -> graft.sources.Snapshots.srcCol("v")))),
      bySource = Nil)
    val got3 = sp.sql("SELECT id, v FROM gmx.db.t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // 10 updated (src v 500 >= 100); 11 matched but arm not firing →
    // unchanged; 12 target-only, no by-source arm → unchanged; 13 inserted
    assert(got3 == Seq((10L, 500L), (11L, 11L), (12L, 12L), (13L, 5L)), got3)

    // appendOnly refuses the whole verb regardless of arm shapes
    snap.setProperties("t", Map("appendOnly" -> "true"))
    intercept[Exception] {
      snap.mergeClauses("t", Seq((1L, 1L)).toDF("id", "v"), Seq("id"),
        matched = Nil,
        notMatched = Seq(graft.sources.Snapshots.NotMatchedInsert(None,
          Map("id" -> graft.sources.Snapshots.srcCol("id"),
            "v" -> graft.sources.Snapshots.srcCol("v")))),
        bySource = Nil) }
  }

  test("MERGE residual ON conjunct: failing pairs are NOT matched — target to BY SOURCE, source to INSERT") {
    val sp = spark
    val root = Files.createTempDirectory("sqlresid").toString
    sp.conf.set("spark.sql.catalog.gres", classOf[graft.sources.GraftCatalog].getName)
    sp.conf.set("spark.sql.catalog.gres.root", root)
    sp.sql("CREATE NAMESPACE gres.db")
    sp.sql("CREATE TABLE gres.db.t (id BIGINT, v BIGINT)")
    sp.sql("INSERT INTO gres.db.t VALUES (10, 50), (20, 100)")

    // (10,90): key-equal, residual 90 > 50 holds → MATCHED, updated.
    // (20,50): key-equal, residual 50 > 100 FAILS → NOT matched: the
    // source row lands through the INSERT arm (as -50) and the target
    // row takes the BY SOURCE arm (+1) — the ANSI rerouting an
    // arm-condition encoding of the residual would get wrong twice.
    sp.sql("""MERGE INTO gres.db.t t
             |USING (VALUES (10L, 90L), (20L, 50L) AS s(id, v)) s
             |ON t.id = s.id AND s.v > t.v
             |WHEN MATCHED THEN UPDATE SET v = s.v
             |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, -s.v)
             |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = t.v + 1""".stripMargin)
    val got = sp.sql("SELECT id, v FROM gres.db.t ORDER BY id, v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((10L, 90L), (20L, -50L), (20L, 101L)), got)

    // a residual referencing only ONE side works too (pure target
    // gate): id=10 fails `t.v < 0` → insert lands a second id-10 row
    sp.sql("""MERGE INTO gres.db.t t
             |USING (VALUES (10L, 1L) AS s(id, v)) s
             |ON t.id = s.id AND t.v < 0
             |WHEN MATCHED THEN UPDATE SET v = 0
             |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    assert(sp.sql("SELECT count(*) FROM gres.db.t WHERE id = 10").head.getLong(0) == 2L)

    // non-deterministic residuals refuse loudly
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    val e = intercept[Exception] {
      sp.sql("""MERGE INTO gres.db.t t
               |USING (VALUES (10L, 1L) AS s(id, v)) s
               |ON t.id = s.id AND rand() > 0.5
               |WHEN MATCHED THEN UPDATE SET v = 0""".stripMargin) }
    assert(chain(e).exists(_.contains("residual ON conjunct")), chain(e))

    // an ON with NO equality still refuses — no span bounds the rewrite
    val e2 = intercept[Exception] {
      sp.sql("""MERGE INTO gres.db.t t
               |USING (VALUES (10L, 1L) AS s(id, v)) s
               |ON t.id > s.id
               |WHEN MATCHED THEN UPDATE SET v = 0""".stripMargin) }
    assert(chain(e2).exists(_.contains("no target-source equality")), chain(e2))
  }

  test("MERGE WITH SCHEMA EVOLUTION: new source columns land additively; old rows null; travel keeps the narrow schema") {
    val sp = spark
    val root = Files.createTempDirectory("sqlevol").toString
    sp.conf.set("spark.sql.catalog.gevo", classOf[graft.sources.GraftCatalog].getName)
    sp.conf.set("spark.sql.catalog.gevo.root", root)
    sp.sql("CREATE NAMESPACE gevo.db")
    sp.sql("CREATE TABLE gevo.db.t (id BIGINT, v BIGINT)")            // v1
    sp.sql("INSERT INTO gevo.db.t VALUES (1, 10), (2, 20), (3, 30)")  // v2
    val snap = new Snapshots(sp, root + "/db")
    val narrowHead = snap.currentVersion.get

    // source carries a NEW column `note` — WITH SCHEMA EVOLUTION lets
    // the analyzer drive alterTable (additive), then the merge runs
    // against the evolved target: SET* /INSERT* cover `note` too
    sp.sql("""MERGE WITH SCHEMA EVOLUTION INTO gevo.db.t t
             |USING (VALUES (2L, 200L, 'upd'), (9L, 900L, 'new') AS s(id, v, note)) s
             |ON t.id = s.id
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = sp.sql("SELECT id, v, note FROM gevo.db.t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)))).toSeq
    assert(got == Seq(
      (1L, 10L, None), (2L, 200L, Some("upd")),
      (3L, 30L, None), (9L, 900L, Some("new"))), got)

    // time travel to the pre-merge head keeps the NARROW schema
    val pre = sp.sql(s"SELECT * FROM gevo.db.t VERSION AS OF $narrowHead")
    assert(pre.columns.toSeq == Seq("id", "v"), pre.columns.toSeq)
    assert(pre.count() == 3L)

    // WITHOUT the clause, star expansion covers TARGET columns only —
    // the extra source column is ignored, never added (evolution is
    // an explicit opt-in; standard SET * semantics otherwise)
    sp.sql("""MERGE INTO gevo.db.t t
             |USING (VALUES (1L, 1L, 'x', 5L) AS s(id, v, note, extra)) s
             |ON t.id = s.id
             |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    assert(!sp.table("gevo.db.t").columns.contains("extra"))
    assert(sp.sql("SELECT v, note FROM gevo.db.t WHERE id = 1").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "x")))

    // a LOSSY type conflict refuses inside the widening verb even
    // under WITH SCHEMA EVOLUTION (v: BIGINT cannot take a STRING)
    intercept[Exception] {
      sp.sql("""MERGE WITH SCHEMA EVOLUTION INTO gevo.db.t t
               |USING (VALUES (1L, 'oops', 'x') AS s(id, v, note)) s
               |ON t.id = s.id
               |WHEN MATCHED THEN UPDATE SET *""".stripMargin) }
  }

  test("object store: conditional put admits exactly one winner and bytes are never torn") {
    import graft.sources.InMemoryObjectStore
    val store = new InMemoryObjectStore
    val p = new org.apache.hadoop.fs.Path("/bucket/_commits/00000000000000000007.manifest")
    def body(w: Int): Array[Byte] =
      (s"#graft-delta v=7 base=6 ts=$w\n" + (s"+k$w=v$w\n" * 200)).getBytes("UTF-8")
    // 8 writers released together against ONE key: the S3 If-None-Match
    // model must admit exactly one, and a read must return that one's
    // COMPLETE bytes — no interleaving, no truncation, no partial body
    val winners = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val gate = new java.util.concurrent.CyclicBarrier(8)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    (1 to 8).foreach { w =>
      pool.submit(new Runnable {
        override def run(): Unit =
          try { gate.await(); if (store.putIfAbsent(p, body(w))) { winners.add(w); () } }
          catch { case t: Throwable => errs.add(t); () }
      })
    }
    pool.shutdown()
    assert(pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS))
    assert(errs.isEmpty, s"writer failed: ${Option(errs.peek()).map(_.toString)}")
    assert(winners.size == 1, s"conditional put admitted ${winners.size} writers")
    assert(java.util.Arrays.equals(store.read(p), body(winners.peek())),
      "stored bytes are not the winner's exact body — torn or mixed write")
    // the loser's retry at the NEXT version key succeeds (the protocol's
    // recovery move), and the winner's object is untouched by it
    val p8 = new org.apache.hadoop.fs.Path("/bucket/_commits/00000000000000000008.manifest")
    assert(store.putIfAbsent(p8, body(99)))
    assert(java.util.Arrays.equals(store.read(p), body(winners.peek())))
  }

  test("the manifest protocol on object-store semantics: racing writers, checkpoints, travel, vacuum") {
    import graft.sources.InMemoryObjectStore
    val sp = spark
    import sp.implicits._
    // ONE shared bucket (the store), data files on local disk — the
    // Delta LogStore split: only the log needs conditional put
    val store = new InMemoryObjectStore
    val root = Files.createTempDirectory("txnobj").toString + "/t"
    def snapOn() = new Snapshots(spark, root, Some(store))
    snapOn().commit(Map("a" -> Seq((0L, 0.0)).toDF("id", "v")),
      statsCols = Map("a" -> Seq("id")))
    // the log lives in the bucket: nothing on disk under _commits
    assert(!new java.io.File(root + "/_commits").exists() ||
      new java.io.File(root + "/_commits").list().isEmpty)
    // the same 6-writer × 4-append race the local hard-link path
    // carries, now against the conditional put (every loser re-diffs
    // against the winner's resolved state read back FROM THE BUCKET)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (1 to 6).foreach { w =>
      pool.submit(new Runnable {
        override def run(): Unit =
          try {
            val mine = snapOn()
            (1 to 4).foreach { i =>
              val id = w * 100L + i
              mine.append("a", Seq((id, id * 1.0)).toDF("id", "v"),
                tag = Some(s"w$w-$i"), statsCols = Seq("id"))
            }
          } catch { case t: Throwable => errs.add(t); () }
      })
    }
    pool.shutdown()
    assert(pool.awaitTermination(180, java.util.concurrent.TimeUnit.SECONDS))
    assert(errs.isEmpty, s"writer failed: ${Option(errs.peek()).map(_.toString)}")
    val cold = snapOn()
    assert(cold.currentVersion.get == 25L, "24 appends + seed = 25 dense versions")
    val ids = cold.read("a").select("id").as[Long].collect().toSet
    val want = (for (w <- 1 to 6; i <- 1 to 4) yield w * 100L + i).toSet + 0L
    assert(ids == want, s"lost/dup rows: missing ${want -- ids}, extra ${ids -- want}")
    // replay stays a no-op (tag ledger survived every re-merge)
    cold.append("a", Seq((101L, 101.0)).toDF("id", "v"), tag = Some("w1-1"))
    assert(cold.currentVersion.get == 25L)
    // 25 versions crossed the checkpoint cadence (16): resolution from a
    // cold handle walks bucket checkpoints + deltas, and DML + time
    // travel behave exactly as on the local store
    val headBefore = cold.currentVersion.get
    cold.deleteWhere("a", Seq(ColRange("id", Some(101L), Some(104L))), Seq("id"))
    assert(cold.read("a").count() == want.size - 4L)
    assert(snapOn().read("a", Some(headBefore)).count() == want.size.toLong,
      "time travel must still see the pre-delete snapshot")
    // vacuum deletes old manifests FROM THE BUCKET; kept window reads,
    // collected versions refuse loudly
    val before = store.size
    val (droppedN, _) = cold.vacuum(keepLast = 3)
    assert(droppedN > 0 && store.size < before)
    assert(snapOn().read("a").count() == want.size - 4L)
    intercept[Exception](snapOn().read("a", Some(1L)).collect())
  }

  test("LogStore extraction is pure: one verb sequence, identical manifests on local and object store") {
    import graft.sources.InMemoryObjectStore
    val sp = spark
    import sp.implicits._
    // drive the SAME verb sequence through the default (local hard-link)
    // store and the object store; manifest BODIES must agree line for
    // line once the two run-specific tokens (commit ts, writer-unique
    // staging ids) are normalized away — proving the seam changed where
    // bytes land, not what bytes say
    def drive(root: String, st: Option[graft.sources.LogStore]): Seq[String] = {
      val snap = new Snapshots(spark, root, st)
      snap.commit(Map("a" -> Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v")),
        statsCols = Map("a" -> Seq("id")))
      snap.append("a", Seq((3L, 3.0)).toDF("id", "v"), statsCols = Seq("id"))
      snap.mergeInto("a", Seq((2L, 22.0), (4L, 4.0)).toDF("id", "v"), "id")
      snap.deleteWhere("a", Seq(ColRange("id", Some(1L), Some(1L))), Seq("id"))
      (1L to snap.currentVersion.get).map { v =>
        new String(st.getOrElse(graft.sources.LogStore.forFs(
          new org.apache.hadoop.fs.Path(root)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)))
          .read(new org.apache.hadoop.fs.Path(root + f"/_commits/$v%020d.manifest")), "UTF-8")
      }
    }
    def normalize(body: String): String = body.linesIterator.map { l =>
      l.replaceAll("ts=\\d+", "ts=T")
        .replaceAll("v(\\d+)-[0-9a-f]{8,}", "v$1-W")
        .replaceAll("part-\\d{5}-[0-9a-f-]+", "part-P")
    }.toSeq.sorted.mkString("\n")
    val localRoot = Files.createTempDirectory("txnpureL").toString + "/t"
    val objRoot = Files.createTempDirectory("txnpureO").toString + "/t"
    val a = drive(localRoot, None).map(normalize)
    val b = drive(objRoot, Some(new InMemoryObjectStore)).map(normalize)
    assert(a.size == b.size)
    a.zip(b).zipWithIndex.foreach { case ((x, y), v) =>
      assert(x == y, s"manifest v$v diverges between stores:\n--- local\n$x\n--- object\n$y")
    }
  }

  test("widenColumn: metadata-only lossless type widening — reads span eras, refusals preserve state") {
    import org.apache.spark.sql.types._
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("widen").toString
    val snap = new Snapshots(sp, root)
    snap.commit(Map("t" -> Seq((1, 1.5f), (2, 2.5f)).toDF("id", "v")),
      Map("t" -> Seq("id")))                                            // v1: id INT, v FLOAT
    val v1 = snap.currentVersion.get

    // widen both columns — zero data files change
    val detailBefore = snap.tableDetail("t")
    snap.widenColumn("t", "id", LongType)                               // v2
    snap.widenColumn("t", "v", DoubleType)                              // v3
    val detailAfter = snap.tableDetail("t")
    assert((detailAfter.numFiles, detailAfter.sizeBytes) ==
      (detailBefore.numFiles, detailBefore.sizeBytes),
      "widening must move zero data bytes")
    assert(snap.read("t").schema.map(f => (f.name, f.dataType)) ==
      Seq(("id", LongType), ("v", DoubleType)))

    // a wide batch appends; the fold spans narrow and wide files
    snap.append("t", Seq((4000000000L, 9.25)).toDF("id", "v"), statsCols = Seq("id"))
    assert(snap.read("t").agg(sum("id")).head.getLong(0) == 4000000003L)
    assert(snap.read("t").agg(sum("v")).head.getDouble(0) == 13.25)

    // time travel reads the narrow era with its own types
    assert(snap.read("t", Some(v1)).schema.map(_.dataType) == Seq(IntegerType, FloatType))

    // readChanges across the widening coerces sides to the wide type
    val ch = snap.readChanges("t", v1, snap.currentVersion.get)
    assert(ch.schema("id").dataType == LongType)
    assert(ch.where(col("_change") === "added").agg(sum("id")).head.getLong(0) == 4000000000L)

    // refusals, all state-preserving: narrowing, lossy, unknown column
    val head = snap.currentVersion.get
    intercept[IllegalArgumentException] { snap.widenColumn("t", "id", IntegerType) }
    intercept[IllegalArgumentException] { snap.widenColumn("t", "id", FloatType) }
    intercept[IllegalArgumentException] { snap.widenColumn("t", "nope", LongType) }
    assert(snap.currentVersion.get == head, "refused widenings must publish nothing")
    // no-op widening (already the target type) publishes nothing
    assert(snap.widenColumn("t", "id", LongType) == head)

    // a generated column pins the types it touches
    val root2 = Files.createTempDirectory("widen_gen").toString
    val sn2 = new Snapshots(sp, root2)
    sn2.commit(Map("g" -> Seq((1, 10, 2)).toDF("a", "b", "twice")), Map.empty)
    sn2.addGenerated("g", "twice", "a * 2")
    val eGen = intercept[IllegalArgumentException] { sn2.widenColumn("g", "a", LongType) }
    assert(eGen.getMessage.contains("twice"))
    val eDef = intercept[IllegalArgumentException] { sn2.widenColumn("g", "twice", LongType) }
    assert(eDef.getMessage.contains("GENERATED"))

    // a standing change-feed stream refuses the widening boundary
    val got = new java.util.concurrent.atomic.AtomicLong
    def drain(ckpt: String): Unit = {
      val q = sp.readStream.format("graft.sources.ChangeFeed")
        .option("path", root2).option("table", "g").load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          got.addAndGet(b.count()); () }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    val ckpt = Files.createTempDirectory("widen_ckpt").toString
    drain(ckpt) // consumes up to the current head
    // an untouched (non-generated) column still widens under the same table
    sn2.widenColumn("g", "b", LongType)
    sn2.append("g", Seq((2, 20L, 4)).toDF("a", "b", "twice"), statsCols = Nil)
    val eFeed = intercept[Exception] { drain(ckpt) }
    def chain(t: Throwable) = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .take(12).map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(eFeed).exists(_.contains("re-types")), chain(eFeed))
  }

  test("ANSI constraint DDL: ADD/DROP CONSTRAINT CHECK as text routes to the check verbs") {
    val sp = spark
    val root = Files.createTempDirectory("sqlconstraint").toString
    sp.conf.set("spark.sql.catalog.gcons", classOf[graft.sources.GraftCatalog].getName)
    sp.conf.set("spark.sql.catalog.gcons.root", root)
    sp.sql("CREATE NAMESPACE gcons.db")
    sp.sql("CREATE TABLE gcons.db.t (id BIGINT, v BIGINT)")
    sp.sql("INSERT INTO gcons.db.t VALUES (1, 10), (2, 20)")

    sp.sql("ALTER TABLE gcons.db.t ADD CONSTRAINT v_cap CHECK (v < 1000)")
    val snap = new Snapshots(sp, root + "/db")
    // the DDL landed on the engine's own check line — and it ENFORCES
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(12)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    val head = snap.currentVersion.get
    val e = intercept[Exception] { sp.sql("INSERT INTO gcons.db.t VALUES (3, 5000)") }
    assert(chain(e).exists(_.contains("v_cap")), chain(e))
    assert(snap.currentVersion.get == head, "a refused insert publishes nothing")
    assert(sp.sql("SELECT count(*) FROM gcons.db.t").head.getLong(0) == 2L)

    // DROP CONSTRAINT releases it; IF EXISTS tolerates absence
    sp.sql("ALTER TABLE gcons.db.t DROP CONSTRAINT v_cap")
    sp.sql("INSERT INTO gcons.db.t VALUES (3, 5000)")
    assert(sp.sql("SELECT count(*) FROM gcons.db.t").head.getLong(0) == 3L)
    sp.sql("ALTER TABLE gcons.db.t DROP CONSTRAINT IF EXISTS nope")
    intercept[Exception] { sp.sql("ALTER TABLE gcons.db.t DROP CONSTRAINT nope") }

    // unenforceable constraint classes refuse rather than lie
    val e2 = intercept[Exception] {
      sp.sql("ALTER TABLE gcons.db.t ADD CONSTRAINT pk PRIMARY KEY (id)") }
    assert(chain(e2).exists(_.toLowerCase.contains("check")), chain(e2))

    // CREATE TABLE with a declared CHECK lands ENFORCED (the TableInfo
    // overload — the legacy 4-arg path never sees constraints, so this
    // is exactly where a silent drop would hide)
    sp.sql("CREATE TABLE gcons.db.c (id BIGINT, v BIGINT, CONSTRAINT v_pos CHECK (v > 0))")
    val eC = intercept[Exception] { sp.sql("INSERT INTO gcons.db.c VALUES (1, -5)") }
    assert(chain(eC).exists(_.contains("v_pos")), chain(eC))
    sp.sql("INSERT INTO gcons.db.c VALUES (1, 5)")
    assert(sp.sql("SELECT count(*) FROM gcons.db.c").head.getLong(0) == 1L)
    // an unenforceable class at CREATE refuses the whole statement
    intercept[Exception] {
      sp.sql("CREATE TABLE gcons.db.bad (id BIGINT, CONSTRAINT pk PRIMARY KEY (id))") }
    intercept[Exception] { sp.sql("SELECT * FROM gcons.db.bad").collect() }
  }

  test("copyInto: idempotent external ingest — registry skips loaded files, gates keep it atomic") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("copyinto").toString
    val src = Files.createTempDirectory("copyinto_src").toString + "/files"
    val snap = new Snapshots(sp, root)
    snap.commit(Map("t" -> Seq((1L, 10L)).toDF("id", "v")), Map("t" -> Seq("id")))

    // wave 1: two files land; wave 2 adds more — only the new ingest
    Seq((2L, 20L), (3L, 30L)).toDF("id", "v").repartition(2).write.mode("append").parquet(src)
    val (v1, n1) = snap.copyInto("t", src, statsCols = Seq("id"))
    assert(n1 == 2 && snap.currentVersion.get == v1)
    Seq((4L, 40L)).toDF("id", "v").write.mode("append").parquet(src)
    val (_, n2) = snap.copyInto("t", src)
    assert(n2 >= 1)
    assert(snap.read("t").agg(sum("v")).head.getLong(0) == 100L)

    // re-run: the registry proves nothing is new — no version published
    val head = snap.currentVersion.get
    val (v3, n3) = snap.copyInto("t", src)
    assert(n3 == 0 && v3 == head && snap.currentVersion.get == head)

    // the registry survives maintenance: compact, then still a no-op
    snap.compact("t")
    assert(snap.copyInto("t", src)._2 == 0)

    // a CHECK violation refuses BEFORE publish: neither rows nor the
    // registry advance, so the fixed source re-ingests cleanly later
    snap.addCheck("t", "v_cap", "v < 1000")
    val src2 = Files.createTempDirectory("copyinto_src2").toString + "/files"
    Seq((9L, 9999L)).toDF("id", "v").write.parquet(src2)
    val headC = snap.currentVersion.get
    intercept[Exception] { snap.copyInto("t", src2) }
    assert(snap.currentVersion.get == headC, "a refused ingest must publish nothing")
    snap.dropCheck("t", "v_cap")
    assert(snap.copyInto("t", src2)._2 == 1,
      "the refused file must NOT be in the registry — the retry ingests it")
    assert(snap.read("t").agg(sum("v")).head.getLong(0) == 10099L)

    // appendOnly keeps COPY INTO lawful (it is an append)
    snap.setProperties("t", Map("appendOnly" -> "true"))
    Seq((10L, 1L)).toDF("id", "v").write.mode("append").parquet(src2)
    assert(snap.copyInto("t", src2)._2 == 1)

    // an empty source refuses loudly (a typo'd path must not "succeed")
    intercept[Exception] { snap.copyInto("t", Files.createTempDirectory("empty").toString) }
  }

  test("column DDL as text: GENERATED ALWAYS AS IDENTITY / AS (expr) land in CREATE's one commit") {
    val sp = spark
    val root = Files.createTempDirectory("sqlident").toString
    sp.conf.set("spark.sql.catalog.gidn", classOf[graft.sources.GraftCatalog].getName)
    sp.conf.set("spark.sql.catalog.gidn.root", root)
    sp.sql("CREATE NAMESPACE gidn.db")
    val snap = new Snapshots(sp, root + "/db")

    // START WITH honored; ids dense from the declared start; the
    // generated column computes per row on the padded INSERT list
    sp.sql("""CREATE TABLE gidn.db.t (
             |  id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 100),
             |  v BIGINT,
             |  v2 BIGINT GENERATED ALWAYS AS (v * 2))""".stripMargin)
    assert(snap.identityColumn("t").contains(("id", 100L)),
      s"identity line must land in the CREATE commit: ${snap.identityColumn("t")}")
    sp.sql("INSERT INTO gidn.db.t (v) VALUES (1), (2), (3)")
    val rows = sp.sql("SELECT id, v, v2 FROM gidn.db.t ORDER BY id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(100L, 101L, 102L))
    assert(rows.forall(r => r.getLong(2) == r.getLong(1) * 2), "generated column computes")
    // second insert continues the mark
    sp.sql("INSERT INTO gidn.db.t (v) VALUES (4)")
    assert(sp.sql("SELECT max(id) FROM gidn.db.t").head.getLong(0) == 103L)

    // explicit ids refuse (GENERATED ALWAYS)
    val e = intercept[Exception] {
      sp.sql("INSERT INTO gidn.db.t (id, v) VALUES (999, 9)") }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("GENERATED ALWAYS")), chain(e))

    // BY DEFAULT and step != 1 refuse loudly at CREATE
    intercept[Exception] { sp.sql(
      "CREATE TABLE gidn.db.bad1 (id BIGINT GENERATED BY DEFAULT AS IDENTITY, v BIGINT)") }
    intercept[Exception] { sp.sql(
      "CREATE TABLE gidn.db.bad2 (id BIGINT GENERATED ALWAYS AS IDENTITY (INCREMENT BY 2), v BIGINT)") }

    // the staged path carries both declarations too (CREATE OR REPLACE)
    sp.sql("""CREATE OR REPLACE TABLE gidn.db.t (
             |  id BIGINT GENERATED ALWAYS AS IDENTITY,
             |  w BIGINT)""".stripMargin)
    assert(snap.identityColumn("t").contains(("id", 1L)))
    sp.sql("INSERT INTO gidn.db.t (w) VALUES (7), (8)")
    assert(sp.sql("SELECT collect_set(id) FROM gidn.db.t").head.getSeq[Long](0).toSet == Set(1L, 2L))

    // DEFAULT values: declared at CREATE, carried in the schema's
    // column metadata through the manifest, substituted by Spark's own
    // ResolveDefaultColumns into padded INSERT lists; DEFAULT keyword
    // and omitted-column inserts both land the declared literal
    sp.sql("""CREATE TABLE gidn.db.dflt (
             |  k BIGINT,
             |  status STRING DEFAULT 'new',
             |  score BIGINT DEFAULT 42)""".stripMargin)
    sp.sql("INSERT INTO gidn.db.dflt (k) VALUES (1)")
    sp.sql("INSERT INTO gidn.db.dflt VALUES (2, DEFAULT, DEFAULT)")
    sp.sql("INSERT INTO gidn.db.dflt (k, status) VALUES (3, 'done')")
    val dr = sp.sql("SELECT k, status, score FROM gidn.db.dflt ORDER BY k").collect()
    assert(dr.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((1L, "new", 42L), (2L, "new", 42L), (3L, "done", 42L)), dr.mkString("; "))
  }

  test("CREATE OR REPLACE TABLE is atomic: one staged publish, failed seeds keep the old table, history travels") {
    val sp = spark
    val root = Files.createTempDirectory("sqlrepl").toString
    sp.conf.set("spark.sql.catalog.grpl", classOf[graft.sources.GraftCatalog].getName)
    sp.conf.set("spark.sql.catalog.grpl.root", root)
    sp.sql("CREATE NAMESPACE grpl.db")
    val snap = new Snapshots(sp, root + "/db")

    // atomic CTAS: schema + data + publish in ONE version
    sp.sql("CREATE TABLE grpl.db.t AS SELECT id, id * 2 AS dbl FROM range(1, 11)")
    val vCreate = snap.currentVersion.get
    assert(sp.sql("SELECT sum(dbl) FROM grpl.db.t").head.getLong(0) == 110L)

    // CREATE OR REPLACE swaps schema AND data in ONE version; the
    // pre-replace version still time-travels to the old definition
    sp.sql("CREATE OR REPLACE TABLE grpl.db.t AS " +
      "SELECT id AS k, CAST(id AS STRING) AS tag FROM range(1, 4)")
    assert(snap.currentVersion.get == vCreate + 1,
      "REPLACE must publish exactly one version")
    assert(sp.sql("SELECT count(*) FROM grpl.db.t").head.getLong(0) == 3L)
    assert(sp.sql("SELECT * FROM grpl.db.t").columns.toSeq == Seq("k", "tag"))
    val pre = sp.sql(s"SELECT * FROM grpl.db.t VERSION AS OF $vCreate")
    assert(pre.columns.toSeq == Seq("id", "dbl"))
    assert(pre.count() == 10L)

    // REPLACE TABLE on a missing table refuses; CREATE OR REPLACE creates
    intercept[Exception] {
      sp.sql("REPLACE TABLE grpl.db.missing AS SELECT 1 AS x") }
    sp.sql("CREATE OR REPLACE TABLE grpl.db.fresh AS SELECT 1 AS x")
    assert(sp.sql("SELECT x FROM grpl.db.fresh").head.getInt(0) == 1)
    // plain CREATE through the staged path still refuses a standing table
    intercept[Exception] {
      sp.sql("CREATE TABLE grpl.db.fresh AS SELECT 2 AS x") }

    // ATOMICITY: a seeding query that fails at execution leaves the
    // old table fully intact (the non-atomic drop-then-create fallback
    // would have dropped it before the failure)
    val vBefore = snap.currentVersion.get
    intercept[Exception] {
      sp.sql("CREATE OR REPLACE TABLE grpl.db.t AS " +
        "SELECT assert_true(id < 5) AS chk, id FROM range(1, 11)").collect()
    }
    assert(snap.currentVersion.get == vBefore, "failed REPLACE must publish nothing")
    assert(sp.sql("SELECT count(*) FROM grpl.db.t").head.getLong(0) == 3L,
      "old table must survive a failed REPLACE untouched")

    // CHECK constraints land enforced through the staged path too
    sp.sql("CREATE OR REPLACE TABLE grpl.db.guarded " +
      "(k BIGINT, CONSTRAINT pos CHECK (k > 0))")
    intercept[Exception] { sp.sql("INSERT INTO grpl.db.guarded VALUES (-1)") }
    sp.sql("INSERT INTO grpl.db.guarded VALUES (7)")
    assert(sp.sql("SELECT sum(k) FROM grpl.db.guarded").head.getLong(0) == 7L)

    // SELF-REFERENCING replace (the rebuild-from-itself idiom): the
    // seeding query reads the OLD definition — its plan pins the
    // pre-replace version's files, which the single publish never
    // deletes — so CREATE OR REPLACE t AS SELECT … FROM t is safe
    sp.sql("CREATE OR REPLACE TABLE grpl.db.t AS " +
      "SELECT k, upper(tag) AS tag_up FROM grpl.db.t WHERE k >= 2")
    assert(sp.sql("SELECT * FROM grpl.db.t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((2L, "2"), (3L, "3")))

    // REPLACE × PARTITIONED BY: the new definition's clusterBy contract
    // lands in the same single commit and the seeding batch clusters
    sp.sql("CREATE OR REPLACE TABLE grpl.db.t PARTITIONED BY (k) AS " +
      "SELECT id AS k, id * 3 AS v FROM range(1, 201)")
    val props = sp.sql("SHOW TBLPROPERTIES grpl.db.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("clusterBy").contains("k"), props)
    assert(sp.sql("SELECT sum(v) FROM grpl.db.t WHERE k BETWEEN 1 AND 10")
      .head.getLong(0) == (1L to 10L).map(_ * 3).sum)
  }

  test("INSERT OVERWRITE as text: atomic one-version replace, history intact, nulls pass") {
    val sp = spark
    val root = Files.createTempDirectory("sqlovw").toString
    sp.conf.set("spark.sql.catalog.govw", classOf[graft.sources.GraftCatalog].getName)
    sp.conf.set("spark.sql.catalog.govw.root", root)
    sp.sql("CREATE NAMESPACE govw.db")
    sp.sql("CREATE TABLE govw.db.t (id BIGINT, v BIGINT)")                  // v1
    sp.sql("INSERT INTO govw.db.t VALUES (1, 10), (2, 20), (3, 30)")        // v2
    val snap = new Snapshots(sp, root + "/db")
    val before = snap.currentVersion.get

    // whole-table replace as ONE published version — and a NULL-keyed
    // row must pass (the unbounded slice admits every row)
    sp.sql("INSERT OVERWRITE govw.db.t VALUES (7, 70), (8, 80), (NULL, 99)") // v3
    assert(snap.currentVersion.get == before + 1,
      "INSERT OVERWRITE must publish exactly one version")
    val rows = sp.sql("SELECT id, v FROM govw.db.t ORDER BY v").collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((7L, 70L), (8L, 80L), (-1L, 99L)))

    // history intact: the pre-overwrite state still reads
    assert(sp.sql(s"SELECT sum(v) FROM govw.db.t VERSION AS OF $before")
      .head.getLong(0) == 60L)

    // replays converge: a second identical overwrite leaves the same rows
    sp.sql("INSERT OVERWRITE govw.db.t VALUES (7, 70), (8, 80), (NULL, 99)")
    assert(sp.sql("SELECT count(*) FROM govw.db.t").head.getLong(0) == 3L)

    // CHECK constraints gate the overwrite batch like any write
    snap.addCheck("t", "v_pos", "v >= 0")
    val head2 = snap.currentVersion.get
    intercept[Exception] { sp.sql("INSERT OVERWRITE govw.db.t VALUES (1, -5)") }
    assert(snap.currentVersion.get == head2,
      "a refused overwrite must publish nothing")
    assert(sp.sql("SELECT count(*) FROM govw.db.t").head.getLong(0) == 3L)

    // IDENTITY tables refuse INSERT OVERWRITE outright: overwrite has
    // no id assigner, so a NULL-padded (or explicit) identity column
    // would land without advancing the high-water mark — later appends
    // could mint colliding ids. The guard must fire BEFORE any publish.
    sp.sql("""CREATE TABLE govw.db.idt (
             |  sid BIGINT GENERATED ALWAYS AS IDENTITY, v BIGINT)""".stripMargin)
    sp.sql("INSERT INTO govw.db.idt (v) VALUES (10), (20)")
    val head3 = snap.currentVersion.get
    val e = intercept[Exception] {
      sp.sql("INSERT OVERWRITE govw.db.idt (v) VALUES (99)") }
    assert(e.getMessage.contains("IDENTITY") ||
      Option(e.getCause).exists(_.getMessage.contains("IDENTITY")), e.getMessage)
    assert(snap.currentVersion.get == head3,
      "a refused identity overwrite must publish nothing")
    assert(sp.sql("SELECT count(*) FROM govw.db.idt").head.getLong(0) == 2L)
    // and the assigner still works after the refusal (high-water intact)
    sp.sql("INSERT INTO govw.db.idt (v) VALUES (30)")
    assert(sp.sql("SELECT count(DISTINCT sid) FROM govw.db.idt").head.getLong(0) == 3L)
  }

  test("subquery-predicate SQL DML: uncorrelated IN/NOT IN/EXISTS/scalar execute; bounds and correlation refuse") {
    val sp = spark
    val root = Files.createTempDirectory("sqlsubq").toString
    sp.conf.set("spark.sql.catalog.gsub", classOf[graft.sources.GraftCatalog].getName)
    sp.conf.set("spark.sql.catalog.gsub.root", root)
    sp.sql("CREATE NAMESPACE gsub.db")
    sp.sql("CREATE TABLE gsub.db.t (id BIGINT, v BIGINT)")
    sp.sql("INSERT INTO gsub.db.t SELECT id, id * 10 FROM range(1, 21)")
    sp.sql("CREATE TABLE gsub.db.gdpr (k BIGINT)")
    sp.sql("INSERT INTO gsub.db.gdpr VALUES (3), (7), (11), (999)")

    // the GDPR shape: IN over another lake table — executes, span-pruned
    sp.sql("DELETE FROM gsub.db.t WHERE id IN (SELECT k FROM gsub.db.gdpr)")
    assert(sp.sql("SELECT count(*) FROM gsub.db.t").head.getLong(0) == 17L)
    assert(sp.sql("SELECT count(*) FROM gsub.db.t WHERE id IN (3, 7, 11)")
      .head.getLong(0) == 0L)

    // NOT IN whose list contains a NULL: ANSI three-valued logic — the
    // NULL poisons every non-match to UNKNOWN, so NOTHING is deleted
    sp.sql("""DELETE FROM gsub.db.t WHERE id NOT IN
             |  (SELECT CASE WHEN k < 100 THEN k END FROM gsub.db.gdpr)""".stripMargin)
    assert(sp.sql("SELECT count(*) FROM gsub.db.t").head.getLong(0) == 17L,
      "NOT IN over a list containing NULL must delete nothing")

    // NOT IN over a null-free list: the keep-only-these form
    sp.sql("DELETE FROM gsub.db.t WHERE id NOT IN (SELECT id FROM gsub.db.t WHERE id <= 15)")
    assert(sp.sql("SELECT max(id) FROM gsub.db.t").head.getLong(0) == 15L)

    // uncorrelated scalar subquery in UPDATE: evaluates over the
    // PRE-statement snapshot (max id = 15 here), then the SET applies
    sp.sql("""UPDATE gsub.db.t SET v = v + 1
             |WHERE id * 2 > (SELECT max(id) FROM gsub.db.t)""".stripMargin)
    assert(sp.sql("SELECT sum(v) FROM gsub.db.t WHERE id >= 8").head.getLong(0) ==
      (8L to 15L).filterNot(Seq(11L).contains).map(_ * 10 + 1).sum)

    // uncorrelated EXISTS: a run-time boolean gate
    sp.sql("DELETE FROM gsub.db.t WHERE id = 1 AND EXISTS (SELECT 1 FROM gsub.db.gdpr WHERE k = 999)")
    assert(sp.sql("SELECT count(*) FROM gsub.db.t WHERE id = 1").head.getLong(0) == 0L)
    sp.sql("DELETE FROM gsub.db.t WHERE id = 2 AND EXISTS (SELECT 1 FROM gsub.db.gdpr WHERE k = -1)")
    assert(sp.sql("SELECT count(*) FROM gsub.db.t WHERE id = 2").head.getLong(0) == 1L,
      "EXISTS over an empty result is FALSE — the row must survive")

    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    val before = sp.sql("SELECT count(*) FROM gsub.db.t").head.getLong(0)

    // too-big refusal: past the inline bound the answer is deleteKeys
    sp.conf.set("spark.graft.dml.subqueryInMaxRows", "2")
    try {
      val e1 = intercept[Exception] {
        sp.sql("DELETE FROM gsub.db.t WHERE id IN (SELECT k FROM gsub.db.gdpr)") }
      assert(chain(e1).exists(m => m.contains("deleteKeys") &&
        m.contains("subqueryInMaxRows")), chain(e1))
    } finally sp.conf.unset("spark.graft.dml.subqueryInMaxRows")

    // correlated subqueries refuse loudly — their value is not a row
    // property file classification can bound
    val e2 = intercept[Exception] {
      sp.sql("""DELETE FROM gsub.db.t
               |WHERE EXISTS (SELECT 1 FROM gsub.db.gdpr g WHERE g.k = t.id)""".stripMargin) }
    assert(chain(e2).exists(_.contains("CORRELATED")), chain(e2))
    assert(sp.sql("SELECT count(*) FROM gsub.db.t").head.getLong(0) == before,
      "refused statements must change nothing")

    // scalar subquery returning >1 row refuses (ANSI)
    intercept[Exception] {
      sp.sql("DELETE FROM gsub.db.t WHERE id = (SELECT k FROM gsub.db.gdpr)") }

    // scalar subqueries work in SET values too (materialize-once,
    // pre-statement snapshot semantics)
    sp.sql("UPDATE gsub.db.t SET v = (SELECT min(k) FROM gsub.db.gdpr) WHERE id = 4")
    assert(sp.sql("SELECT v FROM gsub.db.t WHERE id = 4").head.getLong(0) == 3L)
  }

  test("touch-all DML rewrites files whose tracked column is all-null (unbounded range skips nothing)") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("allnull").toString
    val snap = new Snapshots(sp, root)
    // file 1: tracked column `id` present; file 2: id ALL NULL — its
    // sidecar stats exist with min/max absent. An unbounded ColRange
    // (the touch-all marker of residual-only predicates and bare
    // DELETE) must classify BOTH files as touched; before the r11 fix
    // the all-null file was "provably clean" and its rows survived.
    snap.commit(Map("t" -> Seq((Some(1L), 1L), (Some(2L), 2L)).toDF("id", "b")),
      statsCols = Map("t" -> Seq("id")))
    snap.append("t",
      Seq((Option.empty[Long], 3L), (Option.empty[Long], 4L)).toDF("id", "b"),
      statsCols = Seq("id"))
    // residual-only predicate: the envelope bounds nothing → the split
    // classifies with one unbounded range on the first column
    snap.deleteWhere("t",
      Seq(FileStats.ColRange("id", None, None)),
      org.apache.spark.sql.functions.expr("b % 2 = 0"), Seq("id"))
    assert(snap.read("t").where("b % 2 = 0").count() == 0L,
      "even rows in the ALL-NULL-id file must be deleted")
    assert(snap.read("t").count() == 2L)
    // and a BOUNDED range still never matches the all-null rows (a
    // range predicate never matches NULL — that skip stays correct)
    snap.deleteWhere("t", Seq(FileStats.ColRange("id", Some(0L), Some(10L))),
      statsCols = Seq("id"))
    assert(snap.read("t").count() == 1L,
      "the null-id row must survive a bounded-range delete")
    assert(snap.read("t").head.isNullAt(0))
  }

  // ---- STRUCT columns through the lake lifecycle --------------------------

  test("struct columns: CREATE/INSERT/DELETE-on-field/UPDATE/compact/SQL-read lifecycle") {
    val sp = spark
    val root = Files.createTempDirectory("structlake").toString
    sp.conf.set("spark.sql.catalog.gstr", classOf[graft.sources.GraftCatalog].getName)
    sp.conf.set("spark.sql.catalog.gstr.root", root)
    sp.sql("CREATE NAMESPACE gstr.db")
    // CREATE with a struct column as TEXT
    sp.sql("""CREATE TABLE gstr.db.t (
             |  id BIGINT,
             |  meta STRUCT<lang: STRING, score: DOUBLE>,
             |  v BIGINT)""".stripMargin)
    sp.sql("""INSERT INTO gstr.db.t VALUES
             |  (1, named_struct('lang', 'en', 'score', 0.9), 10),
             |  (2, named_struct('lang', 'de', 'score', 0.5), 20),
             |  (3, named_struct('lang', 'en', 'score', 0.2), 30),
             |  (4, named_struct('lang', CAST(NULL AS STRING), 'score', 0.7), 40)""".stripMargin)
    val snap = new Snapshots(sp, root + "/db")
    assert(snap.read("t").count() == 4L)

    // struct-field projection + filter through the catalog read
    assert(sp.sql("SELECT sum(v) FROM gstr.db.t WHERE meta.lang = 'en'")
      .head.getLong(0) == 40L)

    // general-predicate DELETE on a struct FIELD as text: the envelope
    // cannot bound a nested column (honestly unbounded), the residual
    // is exact; NULL lang rows must survive a lang-based delete (3VL)
    sp.sql("DELETE FROM gstr.db.t WHERE meta.score < 0.6 AND meta.lang = 'en'")
    assert(sp.sql("SELECT id FROM gstr.db.t ORDER BY id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L, 4L), "only (en, 0.2) leaves; NULL-lang row survives")

    // UPDATE keyed on a struct field (whole-struct replacement value)
    sp.sql("""UPDATE gstr.db.t
             |SET meta = named_struct('lang', 'und', 'score', meta.score)
             |WHERE meta.lang IS NULL""".stripMargin)
    assert(sp.sql("SELECT meta.lang FROM gstr.db.t WHERE id = 4").head.getString(0) == "und")

    // append through SQL, then compact: rows invariant, struct intact
    sp.sql("INSERT INTO gstr.db.t VALUES (5, named_struct('lang', 'fr', 'score', 0.8), 50)")
    val before = sp.sql("SELECT id, meta.lang, meta.score, v FROM gstr.db.t ORDER BY id").collect().toSeq
    snap.compact("t")
    val after = sp.sql("SELECT id, meta.lang, meta.score, v FROM gstr.db.t ORDER BY id").collect().toSeq
    assert(after == before, "compaction must not change struct rows")

    // stats on a struct column refuse loudly (conservative no-stats),
    // while stats on the flat sibling still work
    intercept[Exception] { snap.analyzeTable("t", Seq("meta")) }
    snap.analyzeTable("t", Seq("id"))
    // ... and the stats-pruned read path on id still prunes/serves
    assert(snap.readWhere("t", Seq(ColRange("id", Some(5L), Some(5L))))
      .collect().map(_.getLong(0)).toSeq == Seq(5L))

    // time travel keeps the struct schema
    assert(sp.sql("SELECT meta.score FROM gstr.db.t VERSION AS OF 2 WHERE id = 3")
      .head.getDouble(0) == 0.2)
  }

  // ---- atomic multi-statement scripts (AtomicScript) ---------------------

  test("atomic script: two-table apply publishes ONE version; mid-script failure publishes NOTHING") {
    val sp = spark
    val root = Files.createTempDirectory("atomspec").toString
    sp.conf.set("spark.sql.catalog.gatom", classOf[graft.sources.GraftCatalog].getName)
    sp.conf.set("spark.sql.catalog.gatom.root", root)
    sp.sql("CREATE NAMESPACE gatom.db")
    sp.sql("CREATE TABLE gatom.db.t (id BIGINT, v BIGINT)")
    sp.sql("INSERT INTO gatom.db.t VALUES (1, 10), (2, 20), (3, 30)")
    val snap = new Snapshots(sp, root + "/db")
    val base = snap.currentVersion.get

    // the two-table CDC-apply shape: mutate t, derive audit — one CALL,
    // one version; the audit INSERT reads t's IN-SCOPE state (30 gone)
    val script =
      """BEGIN
        |  DELETE FROM gatom.db.t WHERE v >= 30;
        |  INSERT INTO gatom.db.t VALUES (4, 40);
        |  CREATE TABLE gatom.db.audit (n BIGINT, sv BIGINT);
        |  INSERT INTO gatom.db.audit SELECT count(*), sum(v) FROM gatom.db.t;
        |END""".stripMargin
    val row = sp.sql(
      s"CALL gatom.system.atomic('db', '${script.replace("'", "''")}')").head
    assert(row.getLong(0) == base + 1, "whole script = ONE version")
    assert(row.getLong(1) == 4L)
    assert(snap.currentVersion.get == base + 1)
    assert(sp.sql("SELECT n, sv FROM gatom.db.audit").head ==
      org.apache.spark.sql.Row(3L, 70L), "audit read the in-scope state")
    // the intermediate states are NOT versions: time travel to base
    // shows the pre-script table, base+1 the final one, nothing between
    assert(snap.read("t", Some(base)).count() == 3L)
    assert(snap.read("t").count() == 3L) // 1,2,4

    // mid-script failure: statement 3 references a missing column —
    // statements 1-2 must NOT be visible, head unmoved
    val headBefore = snap.currentVersion.get
    val bad =
      """BEGIN
        |  DELETE FROM gatom.db.t WHERE v = 10;
        |  INSERT INTO gatom.db.t VALUES (9, 90);
        |  INSERT INTO gatom.db.audit SELECT count(*), sum(no_such) FROM gatom.db.t;
        |END""".stripMargin
    intercept[Exception] {
      sp.sql(s"CALL gatom.system.atomic('db', '${bad.replace("'", "''")}')") }
    assert(snap.currentVersion.get == headBefore, "failed script publishes NOTHING")
    assert(snap.read("t").orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L, 4L), "no prefix visible")
  }

  test("atomic script: a write to a DIFFERENT lake refuses — single-lake all-or-nothing") {
    val sp = spark
    val root = Files.createTempDirectory("atomxlake").toString
    sp.conf.set("spark.sql.catalog.gatx", classOf[graft.sources.GraftCatalog].getName)
    sp.conf.set("spark.sql.catalog.gatx.root", root)
    sp.sql("CREATE NAMESPACE gatx.db")
    sp.sql("CREATE NAMESPACE gatx.db2")
    sp.sql("CREATE TABLE gatx.db.t (id BIGINT)")
    sp.sql("CREATE TABLE gatx.db2.other (id BIGINT)")
    val snapA = new Snapshots(sp, root + "/db")
    val snapB = new Snapshots(sp, root + "/db2")
    val headB = snapB.currentVersion.get
    // a cross-lake write inside the scope would commit immediately and
    // survive a later failure — it must refuse instead, and the whole
    // script must publish nothing on either lake
    val script =
      """BEGIN
        |  INSERT INTO gatx.db.t VALUES (1);
        |  INSERT INTO gatx.db2.other VALUES (99);
        |END""".stripMargin
    val headA = snapA.currentVersion.get
    val e = intercept[Exception] {
      sp.sql(s"CALL gatx.system.atomic('db', '${script.replace("'", "''")}')") }
    assert(chainMsgs(e).exists(_.contains("single-lake")), s"${chainMsgs(e)}")
    assert(snapA.currentVersion.get == headA, "lake A must publish nothing")
    assert(snapB.currentVersion.get == headB, "lake B must publish nothing")
    assert(snapB.read("other").count() == 0L)
  }

  test("replace verbs cannot shadow a standing view or matview") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("replshadow").toString + "/db"
    val snap = new Snapshots(sp, root)
    snap.createTable("src", Seq((1L, 10L)).toDF("id", "v"), statsCols = Seq("id"))
    graft.sources.GraftViews.create(snap, "pos", "SELECT id FROM src WHERE v > 0")
    graft.sources.Matview.create(snap, "mv",
      "SELECT id, count(*) AS n FROM src GROUP BY id")
    val e1 = intercept[Exception] {
      snap.replaceTable("pos", Seq((9L, 9L)).toDF("id", "v")) }
    assert(e1.getMessage.contains("standing view"), e1.getMessage)
    val e2 = intercept[Exception] {
      snap.replaceTables(Map("mv" -> (Seq((9L, 9L)).toDF("id", "v"),
        Map.empty[String, String]))) }
    assert(e2.getMessage.contains("standing view"), e2.getMessage)
    // the guard holds for the CALL that reaches replaceTables, too:
    // ann_join publishing over a view name must refuse, not destroy it
    assert(graft.sources.GraftViews.spec(snap, "pos").isDefined)
  }

  test("atomic script: first-committer-wins against a concurrent commit; nesting and vacuum refuse") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("atomconf").toString + "/db"
    val snap = new Snapshots(sp, root)
    snap.createTable("t", Seq((1L, 10L)).toDF("id", "v"))
    sp.conf.set("spark.sql.catalog.gatc", classOf[graft.sources.GraftCatalog].getName)
    sp.conf.set("spark.sql.catalog.gatc.root",
      root.stripSuffix("/db"))

    // arm the closing publish: just before putIfAbsent, a DIFFERENT
    // writer (own thread, no scope) claims base+1 — the script must
    // abort with a serialization conflict, not silently clobber
    @volatile var raced = false
    snap.faultHook = l => if (l == "manifest-publish" && !raced) {
      raced = true
      val th = new Thread(() => {
        val other = new Snapshots(sp, root)
        other.append("t", Seq((2L, 20L)).toDF("id", "v"))
      })
      th.start(); th.join()
    }
    val e = intercept[graft.sources.Snapshots.SerializationConflictException] {
      graft.sources.AtomicScript.run(snap,
        "INSERT INTO gatc.db.t VALUES (3, 30)")
    }
    snap.faultHook = _ => ()
    assert(e.getMessage.contains("re-run"))
    // the interloper's row is there; the script's is not
    assert(snap.read("t").orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L))

    // a re-run from the new head converges
    val (v, n) = graft.sources.AtomicScript.run(snap,
      "INSERT INTO gatc.db.t VALUES (3, 30)")
    assert(n == 1 && v == snap.currentVersion.get)
    assert(snap.read("t").count() == 3L)

    // scopes do not nest; vacuum refuses inside a scope
    val e2 = intercept[Exception] {
      graft.sources.AtomicScript.run(snap,
        s"""CALL gatc.system.atomic('db', 'INSERT INTO gatc.db.t VALUES (4, 40)')""")
    }
    assert(chainMsgs(e2).exists(_.contains("do not nest")), s"${chainMsgs(e2)}")
    val e3 = intercept[Exception] {
      graft.sources.AtomicScript.run(snap, "CALL gatc.system.vacuum('db', 1)")
    }
    assert(chainMsgs(e3).exists(_.contains("not transactional")), s"${chainMsgs(e3)}")
    // both refused scripts published nothing
    assert(snap.read("t").count() == 3L)

    // a read-only script publishes nothing and returns the base head
    val head = snap.currentVersion.get
    val (v2, n2) = graft.sources.AtomicScript.run(snap,
      "SELECT count(*) FROM gatc.db.t")
    assert(v2 == head && n2 == 0)
  }

  test("atomic script: CHECK constraints enforce inside the scope; the whole script aborts") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("atomchk").toString + "/db"
    val snap = new Snapshots(sp, root)
    snap.createTable("t", Seq((1L, 10L)).toDF("id", "v"))
    snap.addCheck("t", "v_pos", "v > 0")
    sp.conf.set("spark.sql.catalog.gatk", classOf[graft.sources.GraftCatalog].getName)
    sp.conf.set("spark.sql.catalog.gatk.root", root.stripSuffix("/db"))
    val head = snap.currentVersion.get
    val e = intercept[Exception] {
      graft.sources.AtomicScript.run(snap,
        """BEGIN
          |  INSERT INTO gatk.db.t VALUES (2, 20);
          |  INSERT INTO gatk.db.t VALUES (3, -1);
          |END""".stripMargin)
    }
    assert(chainMsgs(e).exists(_.contains("v_pos")), s"${chainMsgs(e)}")
    assert(snap.currentVersion.get == head)
    assert(snap.read("t").count() == 1L, "statement 1 must not leak")
  }

  // ---- persistent SQL views (GraftViews) --------------------------------

  test("views: CREATE/OR REPLACE/DROP as text; nested expansion; version-coherent time travel") {
    val sp = spark
    val root = Files.createTempDirectory("viewspec").toString
    sp.conf.set("spark.sql.catalog.gview", classOf[graft.sources.GraftCatalog].getName)
    sp.conf.set("spark.sql.catalog.gview.root", root)
    sp.sql("CREATE NAMESPACE gview.db")
    sp.sql("CREATE TABLE gview.db.t (id BIGINT, g STRING, v BIGINT)")
    sp.sql("INSERT INTO gview.db.t VALUES (1,'a',10),(2,'a',20),(3,'b',30)")
    val snap = new Snapshots(sp, root + "/db")

    sp.sql("CREATE VIEW gview.db.pos AS SELECT id, g, v FROM t WHERE v > 10")
    val vAfterCreate = snap.currentVersion.get
    assert(sp.sql("SELECT sum(v) FROM gview.db.pos").head.getLong(0) == 50L)
    // a view stacked on a view expands at read
    sp.sql("CREATE VIEW gview.db.agg AS SELECT g, sum(v) AS sv FROM pos GROUP BY g")
    assert(sp.sql("SELECT sv FROM gview.db.agg WHERE g = 'a'").head.getLong(0) == 20L)

    // view reads track the LIVE head — new rows appear with no refresh
    sp.sql("INSERT INTO gview.db.t VALUES (4,'a',40)")
    assert(sp.sql("SELECT sv FROM gview.db.agg WHERE g = 'a'").head.getLong(0) == 60L)

    // VERSION AS OF: the view line AND its body resolve at v — the
    // pre-insert read returns the pre-insert aggregate
    assert(sp.sql(s"SELECT sum(v) FROM gview.db.pos VERSION AS OF $vAfterCreate")
      .head.getLong(0) == 50L)
    // ... and at a version BEFORE the view existed, the read refuses
    val e0 = intercept[Exception] {
      sp.sql("SELECT * FROM gview.db.pos VERSION AS OF 1").collect() }
    assert(chainMsgs(e0).exists(m => m.contains("not a view") || m.contains("TABLE_OR_VIEW_NOT_FOUND")),
      s"pre-existence travel must refuse: ${chainMsgs(e0)}")

    // OR REPLACE swaps atomically; the stacked view follows
    sp.sql("CREATE OR REPLACE VIEW gview.db.pos AS SELECT id, g, v FROM t WHERE v > 25")
    assert(sp.sql("SELECT sv FROM gview.db.agg WHERE g = 'a'").head.getLong(0) == 40L)

    // catalog surface: listed, exists, DROP TABLE refuses, DROP VIEW works
    assert(sp.sql("SHOW TABLES IN gview.db").collect().map(_.getString(1)).toSet
      .contains("pos"))
    val e1 = intercept[Exception] { sp.sql("DROP TABLE gview.db.pos") }
    assert(chainMsgs(e1).exists(_.contains("DROP VIEW")), s"${chainMsgs(e1)}")
    sp.sql("DROP VIEW gview.db.agg")
    intercept[Exception] { sp.sql("SELECT * FROM gview.db.agg").collect() }
    // IF EXISTS tolerates; bare DROP VIEW refuses
    sp.sql("DROP VIEW IF EXISTS gview.db.agg")
    val e2 = intercept[Exception] { sp.sql("DROP VIEW gview.db.agg") }
    assert(chainMsgs(e2).exists(_.contains("not found")), s"${chainMsgs(e2)}")

    // a dropped base view leaves a standing reader loud, not wrong
    sp.sql("CREATE VIEW gview.db.agg2 AS SELECT g, count(*) AS n FROM pos GROUP BY g")
    sp.sql("DROP VIEW gview.db.pos")
    val e3 = intercept[Exception] { sp.sql("SELECT * FROM gview.db.agg2").collect() }
    assert(chainMsgs(e3).exists(_.contains("neither a table nor a view")),
      s"${chainMsgs(e3)}")
  }

  test("views: subqueries pin to the same snapshot version; CTE names keep their WITH meaning") {
    val sp = spark
    val root = Files.createTempDirectory("viewsub").toString
    sp.conf.set("spark.sql.catalog.gvsub", classOf[graft.sources.GraftCatalog].getName)
    sp.conf.set("spark.sql.catalog.gvsub.root", root)
    sp.sql("CREATE NAMESPACE gvsub.db")
    sp.sql("CREATE TABLE gvsub.db.t (id BIGINT, v BIGINT)")
    sp.sql("INSERT INTO gvsub.db.t VALUES (1,10),(2,20),(3,30)")
    sp.sql("CREATE TABLE gvsub.db.allow (id BIGINT)")
    sp.sql("INSERT INTO gvsub.db.allow VALUES (1),(2)")
    val snap = new Snapshots(sp, root + "/db")

    // the allowlist lives INSIDE an IN-subquery: it must resolve as a
    // lake table pinned to the SAME version axis as the main body —
    // an un-substituted subquery would bind to session state (or fail)
    sp.sql("CREATE VIEW gvsub.db.filtered AS " +
      "SELECT id, v FROM t WHERE id IN (SELECT id FROM allow)")
    val vPinned = snap.currentVersion.get
    assert(sp.sql("SELECT sum(v) FROM gvsub.db.filtered").head.getLong(0) == 30L)
    // grow the allowlist: the live view follows, the pinned read doesn't
    sp.sql("INSERT INTO gvsub.db.allow VALUES (3)")
    assert(sp.sql("SELECT sum(v) FROM gvsub.db.filtered").head.getLong(0) == 60L)
    assert(sp.sql(s"SELECT sum(v) FROM gvsub.db.filtered VERSION AS OF $vPinned")
      .head.getLong(0) == 30L,
      "the subquery must travel on the view's version axis")

    // CTE bodies substitute (lake refs inside WITH resolve) and a CTE
    // name colliding with a lake table keeps its WITH meaning
    sp.sql("CREATE VIEW gvsub.db.ctev AS " +
      "WITH allow AS (SELECT id FROM t WHERE v >= 30) " +
      "SELECT count(*) AS n FROM t WHERE id IN (SELECT id FROM allow)")
    // table `allow` has ids {1,2,3}; the CTE restricts to v>=30 → {3}.
    // If the CTE reference were substituted by the TABLE, n would be 3.
    assert(sp.sql("SELECT n FROM gvsub.db.ctev").head.getLong(0) == 1L,
      "a CTE name must shadow the colliding lake table")

    // scope accuracy: a CTE named `allow` INSIDE a subquery must not
    // suppress the OUTER `allow`, which is a lake reference — a global
    // suppression would leave the outer name to the analyzer, silently
    // binding the session temp view (or failing) instead of the pinned
    // lake table
    sp.sql("CREATE VIEW gvsub.db.scoped AS " +
      "SELECT count(*) AS n FROM allow WHERE id IN " +
      "(SELECT k FROM (WITH allow AS (SELECT 1 AS k) SELECT k FROM allow))")
    // lake `allow` = {1,2,3}; inner CTE allow = {1} → outer count = 1
    assert(sp.sql("SELECT n FROM gvsub.db.scoped").head.getLong(0) == 1L,
      "the outer name must stay a lake reference")
    // and it travels: at vPinned lake allow was {1,2} — count still 1,
    // but prove the OUTER leg is version-pinned by counting it directly
    sp.sql("CREATE VIEW gvsub.db.outercnt AS SELECT count(*) AS n FROM allow")
    assert(sp.sql(s"SELECT n FROM gvsub.db.outercnt VERSION AS OF ${snap.currentVersion.get}")
      .head.getLong(0) == 3L)
  }

  test("views: refusals are loud — cycles, qualified refs, name collisions, unparseable SQL") {
    val sp = spark
    val root = Files.createTempDirectory("viewref").toString
    sp.conf.set("spark.sql.catalog.gvref", classOf[graft.sources.GraftCatalog].getName)
    sp.conf.set("spark.sql.catalog.gvref.root", root)
    sp.sql("CREATE NAMESPACE gvref.db")
    sp.sql("CREATE TABLE gvref.db.t (id BIGINT, v BIGINT)")
    sp.sql("INSERT INTO gvref.db.t VALUES (1, 10)")
    val snap = new Snapshots(sp, root + "/db")
    def refuses(sql: String, frag: String): Unit = {
      val e = intercept[Exception] { sp.sql(sql).collect() }
      assert(chainMsgs(e).exists(_.contains(frag)),
        s"'${chainMsgs(e).mkString(" | ")}' !~ '$frag'")
    }
    // self-reference is a cycle through the overlay at CREATE
    refuses("CREATE VIEW gvref.db.v1 AS SELECT * FROM v1", "cyclic")
    // qualified references refuse (single version axis)
    refuses("CREATE VIEW gvref.db.v1 AS SELECT * FROM gvref.db.t",
      "bare single-part names")
    // unknown reference refuses at CREATE
    refuses("CREATE VIEW gvref.db.v1 AS SELECT * FROM nope",
      "neither a table nor a view")
    // bad SQL refuses at CREATE (analysis runs before publish)
    refuses("CREATE VIEW gvref.db.v1 AS SELECT no_col FROM t", "no_col")
    // a view cannot shadow a table; a table cannot shadow a view
    refuses("CREATE VIEW gvref.db.t AS SELECT * FROM t", "cannot shadow")
    val headBefore = snap.currentVersion.get
    sp.sql("CREATE VIEW gvref.db.v1 AS SELECT id, v FROM t")
    assert(snap.currentVersion.get == headBefore + 1, "create is ONE commit")
    refuses("CREATE VIEW gvref.db.v1 AS SELECT id FROM t", "already exists")
    sp.sql("CREATE VIEW IF NOT EXISTS gvref.db.v1 AS SELECT id FROM t") // no-op
    assert(graft.sources.GraftViews.spec(snap, "v1").get.contains("id, v"),
      "IF NOT EXISTS on an existing view must keep the old definition")
    // Spark's own exists-check fires first (tableExists counts views);
    // the Snapshots.createTable "standing view" guard backstops Scala callers
    refuses("CREATE TABLE gvref.db.v1 (x BIGINT)", "ALREADY_EXISTS")
    intercept[IllegalArgumentException] {
      snap.createTable("v1", sp.range(1).toDF("x")) }
    // a two-view cycle: v2 -> v1 fine; replacing v1 -> v2 must refuse
    sp.sql("CREATE VIEW gvref.db.v2 AS SELECT id FROM v1")
    refuses("CREATE OR REPLACE VIEW gvref.db.v1 AS SELECT id FROM v2", "cyclic")
    // INSERT into a view refuses (read-only relation)
    intercept[Exception] { sp.sql("INSERT INTO gvref.db.v1 VALUES (9, 9)") }
    // matview/view name spaces are mutually exclusive
    graft.sources.Matview.create(snap, "mv",
      "SELECT v, count(*) AS n FROM t GROUP BY v")
    refuses("CREATE VIEW gvref.db.mv AS SELECT * FROM t", "MATERIALIZED VIEW")
    // ... and a view READING a matview's rows table is fine
    sp.sql("CREATE VIEW gvref.db.mv_top AS SELECT v, n FROM mv WHERE n > 0")
    assert(sp.sql("SELECT n FROM gvref.db.mv_top").head.getLong(0) == 1L)
  }

  private def chainMsgs(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
      .map(x => Option(x.getMessage).getOrElse("")).toSeq

  // ---- materialized views (Matview) ------------------------------------

  private def matviewLake(): (graft.sources.Snapshots, String) = {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("mvlake").toString + "/db"
    val snap = new Snapshots(sp, root)
    snap.createTable("src",
      (1L to 100L).map(i => (i, s"g${i % 3}", i * 10L)).toDF("id", "g", "v"),
      statsCols = Seq("id"))
    (snap, root)
  }

  private def mvRecompute(snap: Snapshots): Seq[(String, Long, Long)] =
    snap.read("src").where("v > 0")
      .groupBy("g").agg(count(lit(1)).as("n"), sum("v").as("sv"))
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq

  private def mvRows(snap: Snapshots): Seq[(String, Long, Long)] =
    snap.read("mv").orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq

  test("matview: create computes, refresh folds every DML verb, dead groups leave, compaction folds to a no-op") {
    val (snap, _) = matviewLake()
    val sql = "SELECT g, count(*) AS n, sum(v) AS sv FROM src WHERE v > 0 GROUP BY g"
    val (v1, wm1) = graft.sources.Matview.create(snap, "mv", sql)
    assert(wm1 == 1L && v1 == 2L)
    assert(mvRows(snap) == mvRecompute(snap))

    val sp = spark
    import sp.implicits._
    // append (new groups g3/g4 appear), delete, update — then refresh
    snap.append("src", (101L to 120L).map(i => (i, s"g${i % 5}", i * 10L)).toDF("id", "g", "v"))
    snap.deleteWhere("src", Seq(ColRange("id", Some(1L), Some(30L))), Seq("id"))
    snap.updateWhere("src", Seq(ColRange("id", Some(40L), Some(50L))),
      expr("id BETWEEN 40 AND 50"), Map("v" -> expr("v + 7")), Seq("id"))
    val (_, from, to) = graft.sources.Matview.refresh(snap, "mv")
    assert(from == wm1 && to > from)
    assert(mvRows(snap) == mvRecompute(snap),
      "fold from the change feed must equal the from-scratch recompute")

    // kill one whole group → its row must LEAVE the view (count witness)
    snap.deleteWhere("src", Seq(ColRange("id", None, None)),
      expr("g = 'g4'"), Seq("id"))
    graft.sources.Matview.refresh(snap, "mv")
    assert(!mvRows(snap).exists(_._1 == "g4"), "count-zero group must leave")
    assert(mvRows(snap) == mvRecompute(snap))

    // source COMPACTION: rows only move between files — refresh must
    // fold to the identical view (invariance under maintenance)
    val beforeCompact = mvRows(snap)
    snap.compact("src", statsCols = Seq("id"))
    graft.sources.Matview.refresh(snap, "mv")
    assert(mvRows(snap) == beforeCompact, "maintenance must not change the view")

    // no-op refresh: watermark already at head → nothing publishes
    val head = snap.currentVersion.get
    val (vN, f2, t2) = graft.sources.Matview.refresh(snap, "mv")
    assert(vN == head && f2 == t2, "a current view must not publish")
    assert(snap.currentVersion.get == head)
  }

  test("matview: NULL group keys fold as one group; an all-NULL sum stays NULL through refreshes") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("mvnull").toString + "/db"
    val snap = new Snapshots(sp, root)
    // group NULL has rows whose v is entirely NULL → sum(v) IS NULL
    snap.createTable("src", Seq(
      (1L, Option("a"), Option(10L)), (2L, Option("a"), Option(20L)),
      (3L, Option.empty[String], Option.empty[Long]),
      (4L, Option.empty[String], Option.empty[Long])
    ).toDF("id", "g", "v"), statsCols = Seq("id"))
    val sql = "SELECT g, count(*) AS n, sum(v) AS sv FROM src GROUP BY g"
    graft.sources.Matview.create(snap, "mv", sql)
    def rows() = snap.read("mv").orderBy(asc_nulls_first("g")).collect()
      .map(r => (Option(r.getString(0)), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq
    assert(rows() == Seq((None, 2L, None), (Some("a"), 2L, Some(30L))))

    // touch ONLY the NULL group: a plain-equality fold would split it
    // into duplicate rows; a coalesce-to-0 fold would flip sv to 0
    snap.append("src", Seq((5L, Option.empty[String], Option.empty[Long]))
      .toDF("id", "g", "v"))
    graft.sources.Matview.refresh(snap, "mv")
    assert(rows() == Seq((None, 3L, None), (Some("a"), 2L, Some(30L))),
      s"NULL group must stay ONE row with a NULL sum: ${rows()}")

    // a non-null value arriving in the NULL group materializes the sum …
    snap.append("src", Seq((6L, Option.empty[String], Option(7L))).toDF("id", "g", "v"))
    graft.sources.Matview.refresh(snap, "mv")
    assert(rows() == Seq((None, 4L, Some(7L)), (Some("a"), 2L, Some(30L))))
    // … and deleting it returns the sum to NULL (the _nn_ companion
    // reaching 0 is the only way a fold can know this)
    snap.deleteWhere("src", Seq(ColRange("id", Some(6L), Some(6L))), Seq("id"))
    graft.sources.Matview.refresh(snap, "mv")
    assert(rows() == Seq((None, 3L, None), (Some("a"), 2L, Some(30L))),
      s"sum must return to NULL when its last non-null input leaves: ${rows()}")
  }

  test("matview: crashed refresh leaves the old (rows, watermark) pair; untouched source bumps watermark metadata-only") {
    val (snap, _) = matviewLake()
    val sql = "SELECT g, count(*) AS n, sum(v) AS sv FROM src GROUP BY g"
    graft.sources.Matview.create(snap, "mv", sql)
    val sp = spark
    import sp.implicits._
    snap.append("src", Seq((200L, "g9", 5L)).toDF("id", "g", "v"))
    val before = mvRows(snap)
    val headBefore = snap.currentVersion.get

    // arm the crash point: staged bytes exist, publish never happens
    snap.faultHook = l => if (l == "pre-publish:matview")
      throw new RuntimeException("injected crash")
    intercept[RuntimeException] { graft.sources.Matview.refresh(snap, "mv") }
    snap.faultHook = _ => ()
    assert(snap.currentVersion.get == headBefore, "crash published nothing")
    assert(mvRows(snap) == before, "old rows intact")

    // re-run converges
    graft.sources.Matview.refresh(snap, "mv")
    assert(mvRows(snap).exists(_._1 == "g9"))

    // a commit that does NOT touch src (another table) → refresh only
    // moves the watermark: the mv's data paths are carried verbatim
    // (metadata-only publish, no staging job), and the stored watermark
    // advances to head
    snap.createTable("other", Seq((1L, 1L)).toDF("a", "b"))
    val pathsBefore = snap.tablePaths()("mv")
    val headB = snap.currentVersion.get
    // default: an untouched source is a TRUE no-op (publishes nothing —
    // no self-chasing of the refresh's own versions)
    val (vN, fN, tN) = graft.sources.Matview.refresh(snap, "mv")
    assert(vN == headB && fN == tN, "untouched source must not publish")
    // compressAfter=1 forces the watermark-compress path: metadata-only
    // publish, data entry carried verbatim, watermark jumps to headB
    val (vW, fW, tW) = graft.sources.Matview.refresh(snap, "mv", compressAfter = 1)
    assert(vW == headB + 1 && fW == tW, "compress folds nothing")
    assert(snap.tablePaths(Some(vW))("mv") == pathsBefore,
      "watermark compress must carry the data entry, not re-stage")
    assert(graft.sources.Matview.spec(snap, "mv").map(_._3).contains(headB),
      s"watermark must advance to $headB")
    // and the compress does not itself self-chase: next refresh no-ops
    val (v2, f2b, t2b) = graft.sources.Matview.refresh(snap, "mv")
    assert(v2 == vW && f2b == t2b)
  }

  test("matview: refusals are loud and specific; drop removes rows and line") {
    val (snap, _) = matviewLake()
    def refuses(sql: String, frag: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        graft.sources.Matview.create(snap, "mv_x", sql) }
      assert(e.getMessage.contains(frag), s"'${e.getMessage}' !~ '$frag'")
    }
    refuses("SELECT g, sum(v) AS sv FROM src GROUP BY g", "count(*)")
    refuses("SELECT g, count(*) AS n, avg(v) AS a FROM src GROUP BY g", "derivable")
    refuses("SELECT g, count(*) AS n, min(v) AS m FROM src GROUP BY g", "not delta-maintainable")
    refuses("SELECT g, count(DISTINCT v) AS n FROM src GROUP BY g", "DISTINCT")
    refuses("SELECT g, count(*) AS n FROM src GROUP BY g ORDER BY g", "ORDER BY")
    refuses("SELECT g, count(*) AS n FROM src a JOIN src b ON a.id = b.id GROUP BY g", "one table")
    refuses("SELECT g, count(*) FROM src GROUP BY g", "aliased")
    refuses("SELECT count(*) AS n FROM src", "grouped aggregate")
    refuses("SELECT g, count(*) AS n FROM src GROUP BY g HAVING count(*) > 1",
      "grouped aggregate")

    val sql = "SELECT g, count(*) AS n FROM src GROUP BY g"
    graft.sources.Matview.create(snap, "mv", sql)
    // double-create refuses; self-reference refuses
    intercept[IllegalArgumentException] {
      graft.sources.Matview.create(snap, "mv", sql) }
    intercept[IllegalArgumentException] {
      graft.sources.Matview.create(snap, "mv2",
        "SELECT g, count(*) AS n FROM mv2 GROUP BY g") }
    assert(graft.sources.Matview.drop(snap, "mv"))
    assert(!snap.tableNames().contains("mv"))
    assert(graft.sources.Matview.spec(snap, "mv").isEmpty,
      "drop must take the @matview line with it")
    assert(!graft.sources.Matview.drop(snap, "mv"), "second drop is false")
    // refresh of a non-matview refuses loudly
    intercept[NoSuchElementException] { graft.sources.Matview.refresh(snap, "src") }
  }

  // ---- the lake's one batch write path (Snapshots.writeFiles) ----------

  private def hfs(dir: String) = new org.apache.hadoop.fs.Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Every data part file of `dir` with its footer (schema, row count). */
  private def footers(dir: String): Seq[(String, org.apache.parquet.schema.MessageType, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    FileStats.dataFiles(hfs(dir), new org.apache.hadoop.fs.Path(dir)).map { st =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(st.getPath, conf))
      try (st.getPath.getName, r.getFooter.getFileMetaData.getSchema, r.getRecordCount)
      finally r.close()
    }
  }

  test("write seam: parquet schema and rows identical to df.write.parquet") {
    val base = Files.createTempDirectory("seamschema").toString
    val frame = spark.range(0, 60, 1, 3).selectExpr(
      "id",                                                     // non-nullable
      "coalesce(id % 2 = 0, false) AS even",                    // non-nullable
      "CAST(id * 1.25 AS DECIMAL(12,2)) AS price",              // decimal, p <= 18
      "CAST(id * 1000000000000 AS DECIMAL(30,4)) AS big",       // decimal, p > 18
      "TIMESTAMP '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts",
      "IF(id % 5 = 0, NULL, concat('n', id)) AS name")
    assert(!frame.schema("id").nullable && !frame.schema("even").nullable)
    new Snapshots(spark, base).writeFiles(frame, "seam")
    frame.write.parquet(s"$base/stock")
    val seam = footers(s"$base/seam")
    val stock = footers(s"$base/stock")
    assert(seam.nonEmpty && stock.nonEmpty)
    // names, physical + logical types and required/optional, per file
    val want = stock.head._2
    assert(want.toString.contains("required int64 id"), want.toString)
    seam.foreach { case (f, sc, _) =>
      assert(sc == want && sc.toString == want.toString, s"$f:\n$sc\nvs df.write:\n$want")
    }
    def rows(d: String) = spark.read.parquet(d).orderBy("id").collect().toSeq
    assert(rows(s"$base/seam") == rows(s"$base/stock"))
  }

  test("write seam: the _stats sidecar equals a footer harvest of the same dir") {
    val root = Files.createTempDirectory("seamstats").toString
    val frame = spark.range(0, 200, 1, 4).selectExpr("id", "id * 0.5 AS v",
      "concat('k', id) AS s", "CAST(NULL AS BIGINT) AS z", "CAST(id AS DECIMAL(10,2)) AS d")
    val cols = Seq("id", "v", "s", "z", "d")
    val written = new Snapshots(spark, root).writeFiles(frame, "stage/t", cols)
    val dir = s"$root/stage/t"
    val side = FileStats.readSidecar(hfs(dir), new org.apache.hadoop.fs.Path(dir)).get
    assert(side == FileStats.harvest(spark, dir, cols))
    assert(side.keySet == written.files.map(_.name).toSet && written.rows == 200L)
    // the all-null column: recorded, no min/max, every row counted null
    side.values.foreach { m =>
      val z = m("z")
      assert(z.min.isEmpty && z.max.isEmpty && z.nulls == m(FileStats.RowsCol).min.get.toLong, m)
    }
  }

  test("write seam: empty partitions leave no file; an empty frame leaves one schema carrier") {
    val root = Files.createTempDirectory("seamempty").toString
    val snap = new Snapshots(spark, root)
    // 8 range partitions of ~12 ids: only the first two hold ids < 20
    val sparse = spark.range(0, 100, 1, 8).selectExpr("id", "concat('x', id) AS s")
    val w1 = snap.writeFiles(sparse.where("id < 20"), "sparse")
    val f1 = footers(s"$root/sparse")
    assert(f1.size == 2 && f1.forall(_._3 > 0L) && f1.map(_._3).sum == 20L, f1.map(_._3))
    assert(w1.files.map(_.name).toSet == f1.map(_._1).toSet)
    val w2 = snap.writeFiles(sparse.where("id < 0"), "empty", Seq("id"))
    val f2 = footers(s"$root/empty")
    assert(f2.size == 1 && f2.head._3 == 0L, f2)
    assert(w2.entries.map(_._1) == Seq(s"empty/${f2.head._1}"))
    assert(spark.read.parquet(s"$root/empty").schema.fieldNames.toSeq == Seq("id", "s"))
    assert(FileStats.readSidecar(hfs(root), new org.apache.hadoop.fs.Path(s"$root/empty")).get ==
      FileStats.harvest(spark, s"$root/empty", Seq("id")))
  }

  test("write seam: a stray part file in the staging dir is deleted, never published") {
    val root = Files.createTempDirectory("seamstray").toString
    // a real parquet file, so a listing read would pick it up
    spark.range(1000, 1005).write.parquet(s"$root/other")
    val src = FileStats.dataFiles(hfs(root), new org.apache.hadoop.fs.Path(s"$root/other")).head.getPath
    val stage = new org.apache.hadoop.fs.Path(s"$root/stage/t")
    val stray = new org.apache.hadoop.fs.Path(stage, "part-00000-stray.snappy.parquet")
    hfs(root).mkdirs(stage)
    org.apache.hadoop.fs.FileUtil.copy(hfs(root), src, hfs(root), stray, false,
      spark.sparkContext.hadoopConfiguration)
    assert(hfs(root).exists(stray))
    val written = new Snapshots(spark, root).writeFiles(spark.range(0, 10, 1, 2).toDF(), "stage/t")
    assert(!hfs(root).exists(stray), "the stray survived the write")
    assert(!written.entries.exists(_._1.contains("stray")))
    assert(footers(stage.toString).map(_._1).toSet == written.files.map(_.name).toSet)
    assert(spark.read.parquet(stage.toString).count() == 10L)
  }

  test("one lake write path: no parquet write in sources outside the seam, one footer harvest") {
    val dir = new java.io.File("src/main/scala/graft/sources")
    val files = dir.listFiles().filter(_.getName.endsWith(".scala")).sortBy(_.getName)
    assert(files.length > 10, s"sources not found under ${dir.getAbsolutePath}")
    def code(f: java.io.File): Seq[(String, Int)] = {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().toSeq.zipWithIndex.filterNot { case (l, _) =>
        val t = l.trim; t.startsWith("//") || t.startsWith("*") || t.startsWith("/**")
      } finally src.close()
    }
    // a DataFrameWriter chain (JDBC egress is not a lake write)
    val dfWriter = "\\.write\\s*(\\.(mode|format|parquet|partitionBy|bucketBy|sortBy|option|options|save|saveAsTable|insertInto)\\b|$)".r
    val writes = for {
      f <- files.toSeq; (l, i) <- code(f)
      if dfWriter.findFirstIn(l).isDefined && !l.contains("format(\"jdbc\")")
    } yield s"${f.getName}:${i + 1}: ${l.trim}"
    assert(writes.isEmpty, "data writes outside Snapshots.writeFiles:\n" + writes.mkString("\n"))
    // the streaming upsert runs on the DML verbs: no private write or publish
    val upserts = for {
      name <- Seq("LakeMerge.scala", "JdbcCdc.scala")
      f = new java.io.File("src/main/scala/graft/streaming", name)
      (l, i) <- { assert(f.isFile, s"${f.getAbsolutePath} not found"); code(f) }
      if dfWriter.findFirstIn(l).isDefined || l.contains("commitStaged(")
    } yield s"$name:${i + 1}: ${l.trim}"
    assert(upserts.isEmpty, "streaming upsert writes or publishes on its own:\n" + upserts.mkString("\n"))
    val opens = for {
      f <- files.toSeq if f.getName != "PartFiles.scala"; (l, i) <- code(f)
      if l.contains("GraftParquetWriteShim.open")
    } yield s"${f.getName}:${i + 1}"
    assert(opens.isEmpty, s"parquet writers opened outside PartFileWriter: $opens")
    // FileStats.harvest: its definition, and one caller — analyzeTable
    val defLine = "^\\s*(private\\S*\\s+|override\\s+)*def\\s+(\\w+)".r
    val harvests = for {
      f <- files.toSeq
      lines = code(f)
      (l, i) <- lines if "\\bharvest\\(".r.findFirstIn(l).isDefined && !l.contains("def harvest(")
    } yield lines.takeWhile(_._2 < i).reverse.collectFirst {
      case (d, _) if defLine.findFirstMatchIn(d).isDefined => defLine.findFirstMatchIn(d).get.group(2)
    }.getOrElse(s"${f.getName}:${i + 1}")
    assert(harvests == Seq("analyzeTable"), harvests)
  }
}
