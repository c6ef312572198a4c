package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Maintenance verbs of [[Snapshots]] — partial and full compaction,
  * Z-ORDER clustering, vacuum planning and reclamation. Split from
  * the monolith along its documented verb families (r9); no behavior
  * change.
  */
private[sources] trait SnapshotsMaintOps { self: Snapshots =>

  /** PARTIAL compaction — OPTIMIZE with a predicate (the Delta
    * `OPTIMIZE WHERE` shape, public design). At 100 TB a table-wide
    * [[compact]] is not an operation you run; the affordable form
    * bin-packs only the files whose stats overlap `ranges` (where the
    * small-file churn actually lands — the hot ingest partition) and
    * re-references everything else untouched: cost is O(matching
    * files), the version is `@maint` (rows invariant — the feed skips
    * it), and stats/blooms re-sharpen exactly where the rewrite
    * happened. A deletion vector is TRIMMED, not materialized: the
    * touched files' tombstoned rows drop out of the rewrite and their
    * (now stale) vector entries are removed, while entries covering
    * kept files stay live — count(*) metadata answers remain exact.
    * A column mapping is KEPT (the kept files still carry old physical
    * names; only the table-wide [[compact]] may materialize). No-op
    * (current version) when fewer than two files match.
    */
  def compactWhere(table: String, ranges0: Seq[FileStats.ColRange],
                   targetBytes: Long = 128L << 20,
                   statsCols: Seq[String] = Nil,
                   bloomCols: Seq[String] = Nil): Long = {
    require(ranges0.nonEmpty, "compactWhere requires at least one range (use compact for the full table)")
    val headM = readManifest(currentVersion
      .getOrElse(throw new IllegalStateException(s"no commits under $root")))
    val ranges = physicalRanges(headM, table, ranges0)
    val baseRel = dataEntries(headM).getOrElse(table,
      throw new NoSuchElementException(s"table '$table' not committed under $root"))
    val files: Seq[(String, Long)] = storedFiles(headM, table)
      .getOrElse(listRelFiles(splitRel(baseRel)))
    // classification identical to the DML engine's: stats decide which
    // files MIGHT hold matching rows; no sidecar → conservative touch
    val (touch, keep) = splitByStats(files, ranges)
    if (touch.size < 2) return currentVersion.get // nothing worth packing
    val touchedNames = touch.map { case (r, _) => new Path(root, r).getName }.toSet
    val n = math.max(1, math.ceil(touch.map(_._2).sum.toDouble / targetBytes).toInt)
    val schema = storedSchema(headM, table).getOrElse(writtenSchema(baseRel))
    // touched rows, their vector applied (the rewrite sheds them), in
    // the PHYSICAL layout — a pending column mapping must survive, so
    // the new files keep physical names (only full compact materializes)
    val base0 = org.apache.spark.sql.GraftLakeShim.parquetByManifest(
      s, touch.map { case (r, len) => (s"$root/$r", len) }, schema)
    val packed = applyDv(headM, table, base0).repartition(n)
    var attempt = currentVersion.getOrElse(0L) + 1
    for (_ <- 1 to MaxAttempts) {
      val cur = readManifest(currentVersion.get)
      if (cur(table) != baseRel)
        throw new java.util.ConcurrentModificationException(
          s"$table re-pointed ${cur(table)} != $baseRel during compactWhere; re-run")
      val rel = stageRel(attempt, table)
      val written = writeFiles(packed, rel,
        statsCols.map(c => physicalName(headM, table, c)),
        bloomCols.map(c => physicalName(headM, table, c)))
      val parts = keep.map(_._1) :+ rel
      val newFiles = keep ++ written.entries
      // TRIM the vector: entries naming rewritten files are stale (the
      // rows they hid are gone from the new files) and would overcount
      // metadata answers — keep only entries covering kept files
      val dvLine: Map[String, String] = cur.get(table + DvSuffix) match {
        case None => Map.empty
        case Some(dvRel) =>
          val kept = s.read.parquet(absPaths(dvRel): _*)
            .where(!col("file_name").isin(touchedNames.toSeq: _*))
          if (kept.isEmpty) Map.empty
          else {
            val newDvRel = stageRel(attempt, table + "__dv")
            writeFiles(kept.coalesce(1), newDvRel)
            Map((table + DvSuffix) -> newDvRel)
          }
      }
      val metaLines = Map(
        schemaLine(table, storedSchema(cur, table)
          .getOrElse(predictReadBack(packed.schema).getOrElse(writtenSchema(rel)))),
        filesLine(table, newFiles))
      if (writeManifest(attempt,
        cur - (table + DvSuffix) + (table -> parts.mkString(";")) ++ metaLines ++ dvLine,
        maint = Set(table))) return attempt
      attempt = math.max(attempt + 1, currentVersion.getOrElse(0L) + 1)
    }
    throw new IllegalStateException(
      s"compactWhere lost $MaxAttempts consecutive version races under $root")
  }

  /** Bin-pack a table's current files into ~`targetBytes` files and
    * publish the result as a NEW version (other tables re-pointed
    * unchanged — O(1) manifest work). Small-file compaction is the
    * standing maintenance job of any streamed-into lake: merge commits
    * and micro-batch sinks accrete small files, and at 100 TB a
    * scan's task count (and the namenode's file count) follows file
    * count, not byte count.
    *
    * `sortCol` additionally range-clusters rows across the rewritten
    * files, re-sharpening the `_stats` sidecar (harvested fresh from
    * the new footers) so post-compaction [[readWhere]] skipping is
    * maximal on THAT column. `zorderCols` (numeric; overrides sortCol)
    * interleave-clusters on SEVERAL columns at once: each column is
    * bucketed by its own approximate quantile boundaries (one
    * approxQuantile pass — a bounded boundary array to the driver, not
    * data), the bucket ids' bits are interleaved into a Z-value, and
    * files are range-packed by it. A space-filling curve keeps rows
    * close in EVERY dimension close in the file order, so a range on
    * any single Z-column still skips most files — the property a plain
    * sort gives only its leading column. (The publicly documented
    * Delta/Iceberg OPTIMIZE ZORDER idea, original code.)
    *
    * Concurrency: if another writer re-points `table` between our read
    * and publish, the compacted data is stale — that attempt fails
    * loudly (caller re-runs) instead of silently dropping the race
    * winner's rows. Races on OTHER tables merge fine: each publish
    * attempt re-reads the current manifest.
    */
  def compact(table: String, targetBytes: Long = 128L << 20,
              sortCol: Option[String] = None,
              statsCols: Seq[String] = Nil,
              zorderCols: Seq[String] = Nil,
              bloomCols: Seq[String] = Nil): Long = {
    val headM = readManifest(currentVersion
      .getOrElse(throw new IllegalStateException(s"no commits under $root")))
    val baseRel = dataEntries(headM).getOrElse(table,
      throw new NoSuchElementException(s"table '$table' not committed under $root"))
    val totalBytes = storedFiles(headM, table).map(_.map(_._2).sum).getOrElse {
      splitRel(baseRel).map { r =>
        val p = new Path(root, r)
        if (fs.getFileStatus(p).isDirectory) FileStats.dataFiles(fs, p).map(_.getLen).sum
        else fs.getFileStatus(p).getLen
      }.sum
    }
    val n = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val df0 = readTable(headM, table, baseRel)
    val packed =
      if (zorderCols.nonEmpty) {
        val z = zvalue(df0, zorderCols)
        df0.withColumn("_z", z)
          .repartitionByRange(n, col("_z"))
          .sortWithinPartitions("_z")
          .drop("_z")
      } else sortCol match {
        case Some(c) => df0.repartitionByRange(n, col(c))
        case None =>
          // clustering contract: compaction on a clustered table
          // re-establishes the GLOBAL value clustering that per-batch
          // writes only approximate (each batch clustered within
          // itself) — the OPTIMIZE half of liquid clustering. Explicit
          // sortCol/zorderCols still override.
          val cl = clusterColsOf(headM, table)
          if (cl.nonEmpty)
            df0.repartitionByRange(n, cl.map(col): _*)
              .sortWithinPartitions(cl.map(col): _*)
          else df0.repartition(n)
      }
    var attempt = currentVersion.getOrElse(0L) + 1
    for (_ <- 1 to MaxAttempts) {
      val cur = readManifest(currentVersion.get)
      if (cur(table) != baseRel)
        throw new java.util.ConcurrentModificationException(
          s"$table re-pointed ${cur(table)} != $baseRel during compaction; re-run")
      val rel = stageRel(attempt, table)
      // clustered table: ALWAYS re-sidecar the cluster columns, since
      // file pruning on the cluster key is the layout's whole point.
      // Full compact materializes the column mapping, so cluster
      // columns (logical names) ARE the new files' physical names —
      // same reason statsCols are used raw here.
      val written = writeFiles(packed, rel,
        (statsCols ++ clusterColsOf(headM, table)).distinct, bloomCols)
      val metaLines = Map(
        schemaLine(table, predictReadBack(packed.schema).getOrElse(writtenSchema(rel))),
        filesLine(table, written.entries))
      // rows invariant, files reorganized → dataChange=false for the
      // feed. A deletion vector is MATERIALIZED here: the compacted
      // rows were read DV-applied (readTable), so the line is dropped —
      // compact IS the MoR→CoW reconcile step. The maint flag applies
      // even then: the DV-aware feed already emitted the deletes as
      // positional `removed` rows at the version that published the
      // vector, so relative to the DV-APPLIED view this compaction is
      // rows-invariant and consumers must see no churn for it.
      // A COLUMN MAPPING materializes the same way: the rows were read
      // through the logical view (readTable), so the new files carry
      // the logical names as their physical names, dropped-column
      // bytes are shed, and the @colmap line ends here.
      if (writeManifest(attempt,
        cur - (table + DvSuffix) - (table + ColmapSuffix) + (table -> rel) ++ metaLines,
        maint = Set(table))) return attempt
      attempt = math.max(attempt + 1, currentVersion.getOrElse(0L) + 1)
    }
    throw new IllegalStateException(
      s"compaction lost $MaxAttempts consecutive version races under $root")
  }

  /** Z-value of `cols`: each column is bucketed into 2^bits quantile
    * buckets (boundaries from one approxQuantile sampling pass — a
    * bounded array to the driver, never data rows; the bucket lookup is
    * a codegen'd `filter` count over the literal boundary array), and
    * the bucket ids' bits interleave into one long. Quantile bucketing
    * makes the curve resolution data-adaptive: skewed columns still
    * spread across all 2^bits levels.
    */
  private[sources] def zvalue(df: DataFrame, cols: Seq[String], bits: Int = 8): org.apache.spark.sql.Column = {
    require(cols.nonEmpty && cols.size * bits <= 63,
      s"zorder supports up to ${63 / bits} columns at $bits bits")
    val k = 1 << bits
    val buckets = cols.map { c =>
      val probs = (1 until k).map(_.toDouble / k).toArray
      val bs = df.stat.approxQuantile(c, probs, 0.01).distinct.sorted
      size(filter(array(bs.map(lit(_)): _*), b => col(c).cast("double") >= b)).cast("long")
    }
    val terms = for { b <- 0 until bits; i <- cols.indices } yield
      shiftleft(shiftright(buckets(i), b).bitwiseAND(lit(1L)), b * cols.size + i)
    terms.reduce(_.bitwiseOR(_))
  }

  /** Retention: drop all but the newest `keepLast` manifests and
    * delete every table directory no kept manifest references —
    * including crashed-writer orphans (data written, manifest never
    * published). Reference counting is by manifest entry, not version
    * directory: a post-rollback head legitimately points into an old
    * version's directories, and those survive any retention window
    * that keeps the head. Returns (manifests dropped, dirs deleted).
    *
    * At 100 TB vacuum is what makes time travel affordable: storage
    * is bounded by the retention window, not commit history.
    *
    * Concurrent-writer safety, two distinct hazards:
    *  1. A commit PUBLISHED while vacuum scans could reference a dir the
    *     kept-set computation never saw → the commit log is re-listed
    *     after candidates are gathered and every manifest now present is
    *     honored; a dir referenced by any manifest that exists when
    *     vacuum finishes is never deleted (TxnSpec proves this).
    *  2. An IN-FLIGHT commit's data (written, manifest not yet
    *     published) is unreferenced by construction — indistinguishable
    *     from a crashed writer's orphans by reference counting alone.
    *     `minAgeMs` is the Delta-style retention guard: only dirs whose
    *     newest file is older than it are collected. With the default 0,
    *     vacuum is safe only with no concurrent writers.
    */
  /** VACUUM DRY RUN (Delta's `VACUUM … DRY RUN`, public design): the
    * exact plan [[vacuum]] would execute — versions to drop, data
    * directories to delete, bytes reclaimed — with ZERO mutation (no
    * checkpoint written, nothing deleted). The answer an operator
    * wants before pointing a reclaim job at 100 TB: what leaves, and
    * how much space comes back. Same reference arithmetic as vacuum
    * (dir-granular refcounts over kept manifests, age guard for
    * in-flight writers), so plan == action modulo concurrent commits.
    */
  def vacuumPlan(keepLast: Int, minAgeMs: Long = 0L): Snapshots.VacuumPlan = {
    require(keepLast >= 1, "must keep at least the head version")
    val versions = store.list(commitDir)
      .filter(_.endsWith(".manifest"))
      .map(_.stripSuffix(".manifest").toLong).sorted.reverse
    if (versions.isEmpty) return Snapshots.VacuumPlan(Nil, Nil, 0L)
    val (kept, dropped) = versions.splitAt(keepLast)
    def refDirs(rels: Iterable[String]): Set[String] =
      rels.flatMap(splitRel).map(_.split("/").take(2).mkString("/")).toSet
    val referenced = refDirs(kept.flatMap { v =>
      val m = readManifest(v)
      dataEntries(m).values ++ dvEntries(m).values
    })
    val cutoff = System.currentTimeMillis() - minAgeMs
    val doomed = fs.listStatus(new Path(root))
      .filter(st => st.isDirectory && st.getPath.getName.matches("v\\d+(-[0-9a-f]+)?"))
      .flatMap { vd =>
        fs.listStatus(vd.getPath).filter(_.isDirectory).filter { td =>
          val rel = s"${vd.getPath.getName}/${td.getPath.getName}"
          val newest = (td.getModificationTime +:
            fs.listStatus(td.getPath).map(_.getModificationTime).toSeq).max
          !referenced.contains(rel) && newest <= cutoff
        }
      }.toSeq
    val bytes = doomed.map(td => fs.getContentSummary(td.getPath).getLength).sum
    Snapshots.VacuumPlan(
      dropped.sorted,
      doomed.map(td => s"${td.getPath.getParent.getName}/${td.getPath.getName}").sorted,
      bytes)
  }

  def vacuum(keepLast: Int, minAgeMs: Long = 0L): (Int, Int) = {
    require(keepLast >= 1, "must keep at least the head version")
    require(Snapshots.scopeOf(root).isEmpty,
      "vacuum cannot run inside an atomic scope — file deletion is not " +
        "transactional (run it as its own CALL)")
    def listVersions(): Seq[Long] = store.list(commitDir)
      .filter(_.endsWith(".manifest"))
      .map(_.stripSuffix(".manifest").toLong).sorted.reverse
    val versions = listVersions()
    if (versions.isEmpty) return (0, 0)
    val (kept, dropped) = versions.splitAt(keepLast)
    // pin resolution BEFORE the chain behind it is dropped: the oldest
    // kept version gets a full checkpoint (if it lacks one), so every
    // retained version's delta walk terminates inside the kept window.
    // This write must succeed or vacuum aborts — dropping manifests a
    // kept delta still resolves through would brick the log.
    if (dropped.nonEmpty && kept.nonEmpty) {
      val oldest = kept.min
      if (!store.exists(checkpointPath(oldest)))
        writeCheckpoint(oldest, resolveState(oldest))
    }
    // reference at DIRECTORY granularity: a file-granular manifest entry
    // (vN/table/part-….parquet, from deleteWhere) pins its whole parent
    // dir — conservative over-retention that compact()+vacuum() reclaims
    def refDirs(rels: Iterable[String]): Set[String] =
      rels.flatMap(splitRel).map(_.split("/").take(2).mkString("/")).toSet
    val referenced = refDirs(kept.flatMap { v =>
      val m = readManifest(v)
      dataEntries(m).values ++ dvEntries(m).values // DV dirs are live data
    })
    val cutoff = System.currentTimeMillis() - minAgeMs
    val rootPath = new Path(root)
    val candidates = fs.listStatus(rootPath)
      .filter(st => st.isDirectory && st.getPath.getName.matches("v\\d+(-[0-9a-f]+)?"))
      .flatMap { vd =>
        fs.listStatus(vd.getPath).filter(_.isDirectory).filter { td =>
          val rel = s"${vd.getPath.getName}/${td.getPath.getName}"
          val newest = (td.getModificationTime +:
            fs.listStatus(td.getPath).map(_.getModificationTime).toSeq).max
          !referenced.contains(rel) && newest <= cutoff
        }
      }.toSeq
    // hazard 1: honor every manifest present NOW — including ones
    // published (or restored by rollbackTo) since the kept-set was read
    val lateRefs = refDirs(
      (listVersions().toSet -- dropped.toSet -- kept.toSet)
        .flatMap { v =>
          val m = readManifest(v)
          dataEntries(m).values ++ dvEntries(m).values
        })
    var dirsDeleted = 0
    candidates.foreach { td =>
      val rel = s"${td.getPath.getParent.getName}/${td.getPath.getName}"
      if (!lateRefs.contains(rel)) {
        fs.delete(td.getPath, true)
        dirsDeleted += 1
      }
    }
    // a version dir whose table dirs are all collected may still hold
    // loose marker files (a partitioned stage's _SUCCESS) — it is spent
    // once no DIRECTORY remains; the age guard spares in-flight writers
    fs.listStatus(rootPath)
      .filter(st => st.isDirectory && st.getPath.getName.matches("v\\d+(-[0-9a-f]+)?"))
      .foreach { vd =>
        if (vd.getModificationTime <= cutoff &&
            fs.listStatus(vd.getPath).forall(st => !st.isDirectory))
          fs.delete(vd.getPath, true)
      }
    dropped.foreach { v =>
      store.delete(commitPath(v))
      store.delete(checkpointPath(v))
      // evict THIS instance's memos so a dropped version fails loudly
      // (FileNotFound on resolve) instead of silently serving a state
      // whose data files are gone
      stateCache.remove(v); viewCache.remove(v); tsCache.remove(v)
    }
    (dropped.size, dirsDeleted)
  }
}
