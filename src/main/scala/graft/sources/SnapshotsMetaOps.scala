package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Metadata, governance and incremental-read verbs of [[Snapshots]]
  * — column mapping DDL, change feeds, stats-pruned reads, history /
  * DESCRIBE DETAIL, metadata-only aggregates, clone/restore, CHECK
  * constraints, generated columns, table properties, timestamp
  * travel. Split from the monolith along its documented verb families
  * (r9); no behavior change.
  */
private[sources] trait SnapshotsMetaOps { self: Snapshots =>

  def renameColumn(table: String, from: String, to: String): Long = {
    require(!to.contains("\n") && to.nonEmpty, s"invalid column name '$to'")
    var attempt = currentVersion.getOrElse(
      throw new IllegalStateException(s"no commits under $root")) + 1
    for (_ <- 1 to MaxAttempts) {
      val cur = readManifest(currentVersion.get)
      require(dataEntries(cur).contains(table),
        s"table '$table' not committed under $root")
      val pairs = colmapOf(cur, table).getOrElse {
        val st = storedSchema(cur, table).getOrElse(throw new IllegalStateException(
          s"table '$table' has no checkpointed schema — " +
            "column mapping needs the @schema line (append once to upgrade)"))
        st.fields.toSeq.map(f => f.name -> f.name)
      }
      require(pairs.exists(_._1 == from),
        s"no column '$from' in table '$table' (visible: ${pairs.map(_._1).mkString(", ")})")
      require(!pairs.exists(_._1 == to),
        s"column '$to' already exists in table '$table'")
      val next = pairs.map { case (l, p) => if (l == from) (to, p) else (l, p) }
      val candidate = {
        val m1 = cur + ((table + ColmapSuffix) -> encodeColmap(next))
        logicalSchema(m1, table).get
      }
      requireExprsResolve(table, cur, candidate, s"renameColumn($from -> $to)")
      val line = (table + ColmapSuffix) -> encodeColmap(next)
      if (writeManifest(attempt, cur + line)) return attempt
      attempt = math.max(attempt + 1, currentVersion.getOrElse(0L) + 1)
    }
    throw new IllegalStateException(
      s"renameColumn lost $MaxAttempts consecutive version races under $root")
  }

  /** DROP COLUMN — metadata-only: the column leaves the view; its
    * bytes stay in the files (old versions time-travel to them) until
    * a [[compact]] materializes the view and sheds them. Re-adding the
    * same name later (mergeSchema) allocates a FRESH physical column —
    * the dropped data never resurrects.
    */
  def dropColumn(table: String, colName: String): Long = {
    var attempt = currentVersion.getOrElse(
      throw new IllegalStateException(s"no commits under $root")) + 1
    for (_ <- 1 to MaxAttempts) {
      val cur = readManifest(currentVersion.get)
      require(dataEntries(cur).contains(table),
        s"table '$table' not committed under $root")
      val pairs = colmapOf(cur, table).getOrElse {
        val st = storedSchema(cur, table).getOrElse(throw new IllegalStateException(
          s"table '$table' has no checkpointed schema — " +
            "column mapping needs the @schema line (append once to upgrade)"))
        st.fields.toSeq.map(f => f.name -> f.name)
      }
      require(pairs.exists(_._1 == colName),
        s"no column '$colName' in table '$table' (visible: ${pairs.map(_._1).mkString(", ")})")
      val next = pairs.filterNot(_._1 == colName)
      require(next.nonEmpty, s"cannot drop the last visible column of '$table'")
      val candidate = {
        val m1 = cur + ((table + ColmapSuffix) -> encodeColmap(next))
        logicalSchema(m1, table).get
      }
      requireExprsResolve(table, cur, candidate, s"dropColumn($colName)")
      val line = (table + ColmapSuffix) -> encodeColmap(next)
      if (writeManifest(attempt, cur + line)) return attempt
      attempt = math.max(attempt + 1, currentVersion.getOrElse(0L) + 1)
    }
    throw new IllegalStateException(
      s"dropColumn lost $MaxAttempts consecutive version races under $root")
  }

  /** Lossless type widenings the engine accepts — exactly the matrix
    * every read path was verified to honor over NARROW physical pages
    * (Spark 4's parquet widening conversions, vectorized and row
    * readers both; the stats sidecar already normalizes integrals to
    * "long" and floats to "double", and the bloom index widens
    * integrals to long on build AND probe, so skipping survives
    * untouched). Deliberately narrower than `Cast.canUpCast`, which
    * admits lossy long→float/double promotions.
    */
  private[sources] def isLosslessWidening(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
      case (ShortType, IntegerType | LongType | DoubleType) => true
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      case (d1: DecimalType, d2: DecimalType) =>
        d1.scale == d2.scale && d2.precision > d1.precision
      case _ => false
    }
  }

  /** WIDEN COLUMN TYPE — metadata-only at any table size (Delta's type
    * widening, public design): one manifest line re-types the column;
    * zero data IO. Existing files keep their narrow physical pages and
    * every read path widens at scan time (verified for the full
    * [[isLosslessWidening]] matrix); writes after the change land the
    * wide type, so a table converges to wide files as it churns and
    * [[compact]] materializes wholesale. Old versions time-travel to
    * the narrow type. Refusals are loud and state-preserving:
    * non-lossless targets (including any NARROWING), columns a
    * GENERATED-column expression references or defines (the stored
    * expression's result type is pinned to the declared column type —
    * widening under it would break the provided-vs-computed equality
    * contract), and tables without a checkpointed schema.
    */
  def widenColumn(table: String, colName: String,
                  newType: org.apache.spark.sql.types.DataType): Long = {
    var attempt = currentVersion.getOrElse(
      throw new IllegalStateException(s"no commits under $root")) + 1
    for (_ <- 1 to MaxAttempts) {
      val cur = readManifest(currentVersion.get)
      require(dataEntries(cur).contains(table),
        s"table '$table' not committed under $root")
      val phys = storedSchema(cur, table).getOrElse(throw new IllegalStateException(
        s"table '$table' has no checkpointed schema — " +
          "type widening needs the @schema line (append once to upgrade)"))
      // the caller speaks LOGICAL names; the @schema line is physical
      val pairs = colmapOf(cur, table).getOrElse(
        phys.fields.toSeq.map(f => f.name -> f.name))
      val physName = pairs.collectFirst { case (l, p) if l == colName => p }
        .getOrElse(throw new IllegalArgumentException(
          s"no column '$colName' in table '$table' (visible: ${pairs.map(_._1).mkString(", ")})"))
      val field = phys(phys.fieldIndex(physName))
      if (field.dataType == newType) return currentVersion.get // no-op
      require(isLosslessWidening(field.dataType, newType),
        s"cannot change column '$colName' from ${field.dataType.simpleString} to " +
          s"${newType.simpleString} — only lossless widenings execute in place " +
          "(byte/short/int -> long or double, float -> double, decimal precision up " +
          "at the same scale); anything else needs an explicit projection into a new table")
      // generated columns pin types two ways: the defined column's type
      // is the expression's, and a referenced column's type feeds it
      decodeChecks(cur.get(table + GenSuffix)).foreach { case (gcol, gexpr) =>
        require(gcol != colName,
          s"column '$colName' is GENERATED AS ($gexpr) — its type is the " +
            "expression's; widen the inputs or redefine the column")
        val refs = s.sessionState.sqlParser.parseExpression(gexpr).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name
        }
        require(!refs.exists(_.equalsIgnoreCase(colName)),
          s"generated column '$gcol' ($gexpr) references '$colName' — widening it " +
            "would shift the expression's result type out from under the declared " +
            s"column; drop the generated column first")
      }
      val nextPhys = org.apache.spark.sql.types.StructType(phys.fields.map(f =>
        if (f.name == physName) f.copy(dataType = newType) else f))
      val candidate = {
        val m1 = cur + schemaLine(table, nextPhys)
        logicalSchema(m1, table).get
      }
      requireExprsResolve(table, cur, candidate, s"widenColumn($colName -> ${newType.simpleString})")
      if (writeManifest(attempt, cur + schemaLine(table, nextPhys))) return attempt
      attempt = math.max(attempt + 1, currentVersion.getOrElse(0L) + 1)
    }
    throw new IllegalStateException(
      s"widenColumn lost $MaxAttempts consecutive version races under $root")
  }

  def readChanges(table: String, fromV: Long, toV: Long): DataFrame =
    readChanges(table, fromV, toV, dvAware = true)

  /** `dvAware = true` (the default) extends the diff across MERGE-ON-READ
    * versions — the Delta CDF contract (public design): rows newly
    * tombstoned between the endpoints surface as `removed` read from
    * their (unchanged) files BY POSITION, pre-images of replaced files
    * exclude positions already dead at `fromV` (no double-removal), and
    * post-images exclude positions dead at `toV`. A restore that
    * un-tombstones surfaces the resurrected rows as `added`. Cost stays
    * O(changed files + DV): position joins touch only files the vectors
    * name. `dvAware = false` restores the refuse-loudly contract for
    * consumers that must never see a positional delta.
    */
  def readChanges(table: String, fromV: Long, toV: Long, dvAware: Boolean): DataFrame = {
    require(fromV <= toV, s"readChanges wants fromV <= toV, got $fromV > $toV")
    val mFrom = if (fromV == 0L) Map.empty[String, String] else readManifest(fromV)
    val mTo = readManifest(toV)
    if (!dvAware) {
      // a deletion vector hides rows INSIDE unchanged files — a file-set
      // diff cannot see it, so the delta would silently resurrect deleted
      // rows for every consumer. Refuse until compact materializes.
      require(!mFrom.contains(table + DvSuffix),
        s"version $fromV of '$table' carries a deletion vector — compact before diffing")
      require(!mTo.contains(table + DvSuffix),
        s"version $toV of '$table' carries a deletion vector — compact before diffing")
    }
    val before = fileSet(table, fromV)
    val after = fileSet(table, toV)
    val added = (after -- before.keySet).toSeq.sortBy(_._1)
    val removed = (before -- after.keySet).toSeq.sortBy(_._1)
    // schema from either endpoint's manifest metadata → the diff sides
    // plan without listing or inference, same as a snapshot read
    val schema = storedSchema(mTo, table).orElse(storedSchema(mFrom, table))
    // COLUMN MAPPING: each side presents its own version's LOGICAL
    // view (removed rows as fromV saw them, added rows as toV sees
    // them), then the sides union BY NAME — a rename-free mapping
    // (or none) aligns exactly, additive evolution null-fills. A diff
    // whose endpoints disagree on a VISIBLE column's name (a rename or
    // drop happened in between) cannot present one coherent schema —
    // refuse with the split point instead of emitting misaligned rows.
    locally {
      for (fs0 <- logicalSchema(mFrom, table); ts0 <- logicalSchema(mTo, table)) {
        val gone = fs0.fieldNames.toSet -- ts0.fieldNames.toSet
        require(gone.isEmpty,
          s"readChanges($fromV, $toV) of '$table' crosses a column rename/drop " +
            s"(${gone.mkString(", ")} visible at $fromV but not at $toV) — " +
            "split the diff at the version that changed the mapping")
      }
    }
    val removedSchemaM = if (storedSchema(mFrom, table).isDefined) mFrom else mTo
    def dvDf(m: Map[String, String]): Option[DataFrame] =
      m.get(table + DvSuffix).map(rel => s.read.parquet(absPaths(rel): _*)
        .select(col("file_name").as("__dv_fn"), col("row_index").as("__dv_ri")))
    val dvP = dvDf(mFrom)
    val dvT = dvDf(mTo)
    // vector IDENTITY: every MoR publish stages a fresh dv dir, so an
    // unchanged pointer means an unchanged vector — the positional diff
    // is empty by construction and its driver-side name probe (a small
    // Spark job) must not run on the steady append-only path
    val dvSame = mFrom.get(table + DvSuffix) == mTo.get(table + DvSuffix)
    def readFiles(files: Seq[(String, Long)], mSide: Map[String, String]): DataFrame =
      storedSchema(mSide, table).orElse(schema) match {
        case Some(sc) => org.apache.spark.sql.GraftLakeShim.parquetByManifest(s, files, sc)
        case None => s.read.parquet(files.map(_._1): _*)
      }
    // a changed-file side, minus the positions its endpoint's vector
    // already hides (None → raw read, zero overhead on the DV-less
    // path), projected into that endpoint's logical view
    def side(files: Seq[(String, Long)], change: String, dv: Option[DataFrame],
             mSide: Map[String, String]): Option[DataFrame] =
      if (files.isEmpty) None
      else {
        val base = readFiles(files, mSide)
        val applied = dv match {
          case None => base
          case Some(d) =>
            val cols = base.columns
            base.withColumn("__fn", col("_metadata.file_name"))
              .withColumn("__ri", col("_metadata.row_index"))
              .join(d, col("__fn") === col("__dv_fn") && col("__ri") === col("__dv_ri"),
                "left_anti")
              .select(cols.map(col): _*)
        }
        Some(toLogical(mSide, table, applied).withColumn("_change", lit(change)))
      }
    // positional delta over files PRESENT AT BOTH endpoints: positions in
    // `in` but not `notIn` are rows that changed state without their file
    // changing — newly tombstoned → `removed`, un-tombstoned (a restore
    // to a pre-DV version) → `added`. Only files the position-diff NAMES
    // are read (one small distinct-names collect bounds the scan).
    val common = before.keySet.intersect(after.keySet)
    def positional(in: Option[DataFrame], notIn: Option[DataFrame], change: String,
                   mSide: Map[String, String]): Option[DataFrame] =
      in.flatMap { d =>
        val diff = notIn.fold(d)(n => d.join(n
          .select(col("__dv_fn").as("__n_fn"), col("__dv_ri").as("__n_ri")),
          col("__dv_fn") === col("__n_fn") && col("__dv_ri") === col("__n_ri"),
          "left_anti"))
        val byName = common.toSeq.map(p => new Path(p).getName -> p).toMap
        val names = diff.select("__dv_fn").distinct().collect()
          .map(_.getString(0)).filter(byName.contains).sorted
        if (names.isEmpty) None
        else {
          val files = names.map(n => byName(n) -> before(byName(n)))
          val base = readFiles(files, mSide)
          val cols = base.columns
          Some(toLogical(mSide, table,
            base.withColumn("__fn", col("_metadata.file_name"))
              .withColumn("__ri", col("_metadata.row_index"))
              .join(diff, col("__fn") === col("__dv_fn") && col("__ri") === col("__dv_ri"),
                "left_semi")
              .select(cols.map(col): _*))
            .withColumn("_change", lit(change)))
        }
      }
    val sides = Seq(
      side(added, "added", dvT, mTo),
      side(removed, "removed", dvP, removedSchemaM),
      if (dvSame) None else positional(dvT, dvP, "removed", removedSchemaM),
      if (dvSame) None else positional(dvP, dvT, "added", mTo)).flatten
    if (sides.nonEmpty) sides.reduce(_.unionByName(_, allowMissingColumns = true))
    else schema match {
      case Some(sc) =>
        toLogical(mTo, table,
          org.apache.spark.sql.GraftLakeShim.parquetByManifest(s, Nil, sc))
          .withColumn("_change", lit(""))
      case None =>
        val any = (after.keySet ++ before.keySet).headOption.getOrElse(
          throw new IllegalStateException(
            s"table '$table' absent at versions $fromV and $toV under $root"))
        s.read.parquet(any).limit(0).withColumn("_change", lit(""))
    }
  }

  /** PLAN-TIME DATA SKIPPING for ordinary reads — the hook
    * [[org.apache.spark.sql.GraftLakeShim.parquetByManifest]] consults
    * at file-listing time with the scan's pushed data filters (so
    * `SELECT … WHERE k BETWEEN …` through SQL text or `read().where`
    * skips files exactly like the explicit [[readWhere]] verb; Delta's
    * TahoeFileIndex architecture, public design). The filters arrive in
    * PHYSICAL column terms (the relation is the stored schema; Catalyst
    * pushes predicates through the logical-view projection), matching
    * the sidecars' keys. Two independent vetoes per file, both
    * conservative: the min/max envelope of each conjunct
    * ([[PredicateEnvelope]] — strict bounds widened, IN → [min,max],
    * OR → per-column union) against the `_stats` sidecar, and bare
    * equality/IN probes against the `_bloom` sidecar. Dirs without a
    * sidecar keep all files; any pruning error keeps all files. Cost:
    * one sidecar open per distinct dir, memoized per scan — never a
    * listing, never data IO.
    */
  private[sources] def skippingPruner(files: Seq[(String, Long)])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] => Option[Set[String]] = {
    val byDir = files.groupBy { case (r, _) => new Path(s"$root/$r").getParent }.toSeq
    val sidecars = new scala.collection.mutable.HashMap[
      Path, (Option[FileStats.TableStats], Option[FileStats.TableBlooms])]
    filters => {
      val expanded = filters.map(PredicateEnvelope.expand)
      val ranges = expanded.flatMap(PredicateEnvelope.of)
      val eqs = expanded.flatMap { e =>
        org.apache.spark.sql.GraftShim.translateFilter(e).toSeq.collect {
          case org.apache.spark.sql.sources.EqualTo(a, v)
              if !a.contains(".") && v != null => FileStats.ColIn(a, Seq(v))
          case org.apache.spark.sql.sources.In(a, vs)
              if !a.contains(".") && vs.nonEmpty && !vs.contains(null) =>
            FileStats.ColIn(a, vs.toSeq)
        }
      }
      if (ranges.isEmpty && eqs.isEmpty) None
      else Some(byDir.flatMap { case (dir, fl) =>
        val (st, bl) = sidecars.synchronized {
          sidecars.getOrElseUpdate(dir,
            (FileStats.readSidecar(fs, dir),
             if (eqs.nonEmpty) FileStats.readBloomSidecar(fs, dir) else None))
        }
        if (st.isEmpty && bl.isEmpty) fl.map { case (r, _) => new Path(s"$root/$r").toString }
        else fl.collect { case (r, len)
            if {
              val p = new Path(s"$root/$r")
              val statsOk = st.forall(stats => FileStats.prune(
                Seq(new org.apache.hadoop.fs.FileStatus(len, false, 1, 0L, 0L, p)),
                stats, ranges).nonEmpty)
              val leaf = p.getName
              statsOk && eqs.forall(eq => FileStats.mightContainAny(
                bl.flatMap(_.get(leaf)), st.flatMap(_.get(leaf)), eq))
            } => new Path(s"$root/$r").toString
        }
      }.toSet)
    }
  }

  def readWhere(table: String, ranges0: Seq[FileStats.ColRange],
                version: Option[Long] = None): DataFrame = {
    val v = version.orElse(currentVersion)
      .getOrElse(throw new IllegalStateException(s"no commits under $root"))
    val m = readManifest(v)
    val rel = dataEntries(m).getOrElse(table,
      throw new NoSuchElementException(s"table '$table' not in version $v under $root"))
    // caller ranges name LOGICAL columns; sidecars and the raw scan
    // below are physical — translate once, filter physically, then
    // project into the visible view
    val ranges = physicalRanges(m, table, ranges0)
    val base = (storedSchema(m, table), storedFiles(m, table)) match {
      case (Some(schema), Some(files)) =>
        // metadata-planned skip: the candidate file list comes from the
        // manifest, min/max from each directory's `_stats` sidecar (one
        // small OPEN per distinct dir — never a listing). Dirs without a
        // sidecar keep all their files (conservative, exact either way).
        val kept = splitByStats(files, ranges)._1
        org.apache.spark.sql.GraftLakeShim.parquetByManifest(
          s, kept.map { case (r, len) => (s"$root/$r", len) }, schema)
      case _ =>
        val kept = splitByStats(listRelFiles(splitRel(rel)), ranges)._1
        if (kept.isEmpty) s.read.parquet(absPaths(rel): _*).limit(0) // schema-only; zero data tasks
        else s.read.parquet(kept.map { case (r, _) => s"$root/$r" }: _*)
    }
    toLogical(m, table, ranges.foldLeft(applyDv(m, table, base)) { (df, r) =>
      val c = col(r.col)
      val conds = r.lo.map(v => c >= lit(v)).toSeq ++ r.hi.map(v => c <= lit(v)).toSeq
      conds.foldLeft(df)((d, cond) => d.where(cond))
    })
  }

  /** Point-lookup read through the BLOOM index: rows whose `column`
    * equals any of `keys`, opening only files whose per-file bloom
    * (and min/max stats, when present) admit at least one key. This is
    * the lookup min/max skipping cannot serve: on a hash-distributed
    * or high-churn key column every file's [min,max] spans every probe,
    * but the blooms (committed via `commit(bloomCols = …)`) prune to
    * the true holder files plus an fpp tail — a needle query on a
    * 100 TB table costs a sidecar read and a handful of file opens
    * (Delta's bloom filter index semantics; public design).
    *
    * Exactness: skipping is a plan optimization under the exact
    * `IN`-filter applied after (blooms have false positives, never
    * false negatives), so the result is exactly
    * `read(table).where(col isin keys)` — dirs without a bloom sidecar
    * (e.g. rewritten by maintenance, which drops blooms) keep all
    * their files, conservative either way. NULL never equals a key.
    */
  def readWhereIn(table: String, column0: String, keys: Seq[Any],
                  version: Option[Long] = None): DataFrame = {
    require(keys.nonEmpty, "readWhereIn needs at least one key")
    val v = version.orElse(currentVersion)
      .getOrElse(throw new IllegalStateException(s"no commits under $root"))
    val m = readManifest(v)
    val rel = dataEntries(m).getOrElse(table,
      throw new NoSuchElementException(s"table '$table' not in version $v under $root"))
    // sidecars are keyed by PHYSICAL column names; the exact filter
    // below runs on the logical view
    val column = physicalName(m, table, column0)
    val eq = FileStats.ColIn(column, keys)
    val base = (storedSchema(m, table), storedFiles(m, table)) match {
      case (Some(schema), Some(files)) =>
        val kept = files.groupBy { case (r, _) => new Path(root, r).getParent }
          .toSeq.flatMap { case (dir, fl) =>
            val stats = FileStats.readSidecar(fs, dir)
            val blooms = FileStats.readBloomSidecar(fs, dir)
            if (stats.isEmpty && blooms.isEmpty) fl
            else fl.filter { case (r, _) =>
              val leaf = new Path(root, r).getName
              FileStats.mightContainAny(blooms.flatMap(_.get(leaf)),
                stats.flatMap(_.get(leaf)), eq)
            }
          }
        org.apache.spark.sql.GraftLakeShim.parquetByManifest(
          s, kept.map { case (r, len) => (s"$root/$r", len) }, schema)
      case _ =>
        val kept = splitRel(rel).flatMap { r =>
          val p = new Path(root, r)
          if (fs.getFileStatus(p).isDirectory) {
            val all = FileStats.dataFiles(fs, p)
            val stats = FileStats.readSidecar(fs, p)
            val blooms = FileStats.readBloomSidecar(fs, p)
            (if (stats.isEmpty && blooms.isEmpty) all
             else all.filter { f =>
               val leaf = f.getPath.getName
               FileStats.mightContainAny(blooms.flatMap(_.get(leaf)),
                 stats.flatMap(_.get(leaf)), eq)
             }).map(_.getPath.toString)
          } else {
            val stats = FileStats.readSidecar(fs, p.getParent)
            val blooms = FileStats.readBloomSidecar(fs, p.getParent)
            val keep = (stats.isEmpty && blooms.isEmpty) ||
              FileStats.mightContainAny(blooms.flatMap(_.get(p.getName)),
                stats.flatMap(_.get(p.getName)), eq)
            if (keep) Seq(p.toString) else Nil
          }
        }
        if (kept.isEmpty) s.read.parquet(absPaths(rel): _*).limit(0)
        else s.read.parquet(kept: _*)
    }
    toLogical(m, table, applyDv(m, table, base).where(col(column).isin(keys: _*)))
  }

  /** DESCRIBE HISTORY analog (Delta's table history; public design):
    * one row per retained version, newest first — the commit timestamp
    * (manifest header, so it survives file-level copies), the tables
    * whose data entry changed vs the previous retained version, any
    * maintenance flags, and the table count. Driver-side O(versions)
    * memoized manifest reads; zero data IO. Versions older than the
    * vacuum horizon have left the log and are absent — exactly the
    * time-travelable set.
    */
  def history(): DataFrame = {
    import scala.jdk.CollectionConverters._
    val vs = store.list(commitDir)
      .filter(_.endsWith(".manifest"))
      .map(_.stripSuffix(".manifest").toLong)
      .sorted
    val rows = vs.map { v =>
      val m = readManifest(v)
      val de = dataEntries(m)
      val prevDe = vs.filter(_ < v).lastOption
        .map(pv => dataEntries(readManifest(pv))).getOrElse(Map.empty)
      val changed = (de.keySet ++ prevDe.keySet)
        .filter(t => de.get(t) != prevDe.get(t)).toSeq.sorted
      val maint = de.keys.filter(t => m.contains(t + MaintSuffix)).toSeq.sorted
      org.apache.spark.sql.Row(v, new java.sql.Timestamp(commitTimestamp(v)),
        changed.mkString(","), maint.mkString(","), de.size)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("version", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("changed_tables", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("maint_tables", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_tables", org.apache.spark.sql.types.IntegerType)))
    s.createDataFrame(rows.reverse.asJava, schema)
  }

  /** One table's operational facts (the DESCRIBE DETAIL analog, next
    * to [[history]]'s version log): file count and total bytes from
    * the manifest's checkpointed file list, schema as DDL, the active
    * write-time contracts (checks / generated columns), merge-on-read
    * state, and the version + commit time the facts describe. Zero
    * data IO — everything answers from the resolved manifest, however
    * many terabytes the table holds (a pre-metadata manifest pays one
    * listing). Throws on an unknown table, like every read.
    */
  def tableDetail(table: String, version: Option[Long] = None): Snapshots.TableDetail = {
    val v = version.orElse(currentVersion).getOrElse(
      throw new IllegalStateException(s"no commits under $root"))
    val m = readManifest(v)
    val rel = dataEntries(m).getOrElse(table,
      throw new NoSuchElementException(s"table '$table' not committed at version $v under $root"))
    val files = storedFiles(m, table).getOrElse(listRelFiles(splitRel(rel)))
    val schema = storedSchema(m, table).getOrElse(writtenSchema(rel))
    Snapshots.TableDetail(
      table = table,
      version = v,
      committedAt = new java.sql.Timestamp(commitTimestamp(v)),
      numFiles = files.size,
      sizeBytes = files.map(_._2).sum,
      schemaDdl = schema.toDDL,
      checks = decodeChecks(m.get(table + CheckSuffix)),
      generatedColumns = decodeChecks(m.get(table + GenSuffix)),
      hasDeletionVector = m.contains(table + DvSuffix),
      consumedTags = tagsOf(m, table).size,
      properties = decodeChecks(m.get(table + PropsSuffix)))
  }

  /** METADATA-ONLY aggregates (Iceberg's metadata-only queries, public
    * knowledge): answer count(*) / count(col) / min(col) / max(col)
    * from the `_stats` sidecars alone — ZERO data files opened, zero
    * Spark jobs; cost is O(manifest + sidecars) on the driver however
    * many terabytes the table holds. The sidecar's `_rows` pseudo-
    * column (harvested from the same footer read every stats publish
    * already pays) supplies row counts; per-column null counts turn
    * them into exact count(col). Exactness is REFUSED loudly rather
    * than approximated: any file missing from its sidecar, any
    * requested column missing stats, or any unset footer null count
    * (nulls = −1) throws — stats are an accelerator that must never
    * silently change an answer. Caveats inherited from parquet
    * footers: string min/max are exact only when the writer did not
    * truncate them (Spark leaves short strings untruncated), and
    * double NaN handling follows the footer contract — both fine for
    * the key's integer/short-string columns. Returns (total rows,
    * col -> (nonnull count, min, max)); min/max are None for all-null
    * columns. Merge-on-read tables answer count(*) exactly (footer
    * rows minus tombstoned positions, O(DV) extra); per-column
    * questions on them are refused until compact materializes.
    */
  def aggStats(table: String, cols: Seq[String], version: Option[Long] = None)
      : (Long, Map[String, (Long, Option[Any], Option[Any])]) = {
    val v = version.orElse(currentVersion).getOrElse(
      throw new IllegalStateException(s"no commits under $root"))
    val m = readManifest(v)
    // count(*) stays EXACT under merge-on-read: total = footer rows −
    // tombstoned positions (each position hides exactly one live row —
    // the vector is deduplicated and references current files). Per-
    // column answers stay refused: a tombstone may hide the extremum
    // or a null, and the sidecar cannot say which.
    require(!m.contains(table + DvSuffix) || cols.isEmpty,
      s"table '$table' carries a deletion vector — per-column sidecar stats describe " +
        "the raw files, so min/max/count(col) would reflect deleted rows; compact " +
        "first (count(*) alone remains exact: pass cols = Nil)")
    val dvHidden = m.get(table + DvSuffix).fold(0L)(rel =>
      s.read.parquet(absPaths(rel): _*).count())
    // sidecars are keyed by PHYSICAL names; answers keep logical labels
    val physOf: Map[String, String] = cols.map(c => c -> physicalName(m, table, c)).toMap
    val rel = dataEntries(m).getOrElse(table,
      throw new NoSuchElementException(s"table '$table' not committed under $root"))
    val files: Seq[String] = storedFiles(m, table).map(_.map(_._1))
      .getOrElse(listRelFiles(splitRel(rel)).map(_._1))
    val byDir = files.groupBy(r => new Path(root, r).getParent)
    var totalRows = 0L
    val acc = scala.collection.mutable.Map.empty[String, (String, Long, Option[String], Option[String])]
    byDir.foreach { case (dir, fl) =>
      val side = FileStats.readSidecar(fs, dir).getOrElse(
        throw new IllegalStateException(
          s"metadata-only aggregate needs a _stats sidecar in $dir — " +
            "publish with statsCols (or compact) first"))
      fl.foreach { r =>
        val name = new Path(root, r).getName
        val st = side.getOrElse(name,
          throw new IllegalStateException(s"file $name absent from $dir sidecar"))
        val rows = st.get(FileStats.RowsCol).flatMap(_.min).map(_.toLong).getOrElse(
          throw new IllegalStateException(
            s"sidecar in $dir predates row-count stats — re-publish (compact) to refresh"))
        totalRows += rows
        if (rows > 0) cols.foreach { c =>
          val cs = st.getOrElse(physOf(c),
            throw new IllegalStateException(
              s"column '$c' has no stats in $dir — it was not in the publish's statsCols"))
          require(cs.nulls >= 0,
            s"column '$c' in $dir/$name has an unset footer null count — exact count refused")
          val nn = rows - cs.nulls
          acc.get(c) match {
            case None => acc(c) = (cs.typ, nn, cs.min, cs.max)
            case Some((t, n0, mn, mx)) =>
              acc(c) = (t, n0 + nn, FileStats.minOf(t, mn, cs.min), FileStats.maxOf(t, mx, cs.max))
          }
        }
      }
    }
    val out = cols.map { c =>
      acc.get(c) match {
        case Some((t, nn, mn, mx)) =>
          c -> ((nn, mn.map(FileStats.decodeVal(t, _)), mx.map(FileStats.decodeVal(t, _))))
        case None => c -> ((0L, None, None)) // zero-row table
      }
    }.toMap
    (totalRows - dvHidden, out)
  }

  /** Zero-copy table CLONE (the publicly documented Delta SHALLOW
    * CLONE idea): publish a new version whose `dst` entry references
    * exactly `src`'s files — not one data byte moves, the clone is one
    * manifest line plus copied read metadata (schema/files/tags). From
    * then on the two tables evolve independently: a partial rewrite on
    * either re-references the shared files it doesn't touch and writes
    * its own new ones, and vacuum's entry-granular refcount keeps a
    * shared directory alive while ANY retained version's table
    * references it. The consumed-tag ledger is copied too, so a clone
    * redirected under an existing ingest stream keeps replay
    * idempotence. At 100 TB this is how you fork a table for an
    * experiment without paying the copy.
    */
  def cloneTable(src: String, dst: String): Long = {
    require(!isMetaEntry(dst) && !dst.contains("=") && !dst.contains("\n"),
      s"clone target name '$dst' is not a valid table name")
    var attempt = currentVersion.getOrElse(
      throw new IllegalStateException(s"no commits under $root")) + 1
    for (_ <- 1 to MaxAttempts) {
      val cur = readManifest(currentVersion.get)
      val rel = dataEntries(cur).getOrElse(src,
        throw new NoSuchElementException(s"table '$src' not committed under $root"))
      require(!dataEntries(cur).contains(dst),
        s"clone target '$dst' already exists under $root")
      val meta = Seq(SchemaSuffix, FilesSuffix, TagsSuffix, DvSuffix, CheckSuffix, GenSuffix, ColmapSuffix, IdentitySuffix, PropsSuffix, CopiedSuffix).flatMap(sfx =>
        cur.get(src + sfx).map(v => (dst + sfx) -> v))
      if (writeManifest(attempt, cur + (dst -> rel) ++ meta)) return attempt
      attempt = math.max(attempt + 1, currentVersion.getOrElse(0L) + 1)
    }
    throw new IllegalStateException(
      s"cloneTable lost $MaxAttempts consecutive version races under $root")
  }

  /** Per-table RESTORE (the Delta `RESTORE TABLE … VERSION AS OF`
    * verb): publish a NEW head whose `table` entry — data paths, read
    * metadata, and consumed-tag ledger — is exactly its state at
    * `fromVersion`, while every OTHER table keeps its current head
    * (contrast [[rollbackTo]], which re-points the whole lake). Zero
    * data IO: like clone, the restore is manifest lines re-referencing
    * still-retained files (vacuum's entry refcount keeps them alive
    * for as long as any kept manifest reaches them). History stays
    * intact — the restore is itself a new, time-travelable version,
    * and restoring "forward" again is just another restore.
    */
  def restoreTable(table: String, fromVersion: Long): Long = {
    val old = readManifest(fromVersion)
    val rel = dataEntries(old).getOrElse(table,
      throw new NoSuchElementException(
        s"table '$table' not committed at version $fromVersion under $root"))
    val metaKeys = Seq(SchemaSuffix, FilesSuffix, TagsSuffix, DvSuffix, CheckSuffix, GenSuffix, ColmapSuffix, IdentitySuffix, PropsSuffix, CopiedSuffix).map(table + _)
    val meta = metaKeys.flatMap(k => old.get(k).map(k -> _))
    var attempt = currentVersion.getOrElse(0L) + 1
    for (_ <- 1 to MaxAttempts) {
      val cur = readManifest(currentVersion.get)
      // drop the CURRENT metadata lines first: if fromVersion predates
      // checkpointed metadata, stale lines describing the new file set
      // must not survive the restore
      val cleaned = cur -- metaKeys
      if (writeManifest(attempt, cleaned + (table -> rel) ++ meta)) return attempt
      attempt = math.max(attempt + 1, currentVersion.getOrElse(0L) + 1)
    }
    throw new IllegalStateException(
      s"restoreTable lost $MaxAttempts consecutive version races under $root")
  }

  // ---- CHECK constraints ----------------------------------------------

  private[sources] def encodeChecks(cs: Map[String, String]): String =
    cs.toSeq.sortBy(_._1).map { case (n, e) =>
      n + ":" + java.net.URLEncoder.encode(e, "UTF-8")
    }.mkString(";")

  private[sources] def decodeChecks(v: Option[String]): Map[String, String] =
    v.toSeq.flatMap(_.split(";")).filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf(':')
      kv.substring(0, i) -> java.net.URLDecoder.decode(kv.substring(i + 1), "UTF-8")
    }.toMap

  /** The table's CHECK constraints (name -> SQL expression) at
    * `version` (default head). Constraints are table metadata: they
    * time-travel, clone and restore with the table.
    */
  def checks(table: String, version: Option[Long] = None): Map[String, String] = {
    val v = version.orElse(currentVersion).getOrElse(
      throw new IllegalStateException(s"no commits under $root"))
    decodeChecks(readManifest(v).get(table + CheckSuffix))
  }

  /** ANSI CHECK violation: the expression evaluated to FALSE (null
    * passes — three-valued logic, same rule as a WHERE survivor set's
    * complement).
    */
  private[sources] def violationCond(exprSql: String) =
    expr(exprSql).cast("boolean") === lit(false)

  /** Validate `batch` against every CHECK constraint of `table` in
    * manifest `m` — ONE aggregate job over the batch covers all
    * constraints (zero jobs when the table has none). A mergeSchema
    * batch may omit table columns; they read back as null, so the
    * checks see the same null view here. Throws
    * [[Snapshots.ConstraintViolationException]] naming the first
    * violated constraint and its row count.
    */
  private[sources] def enforceChecks(table: String, m: Map[String, String],
                            batch: DataFrame, verb: String): Unit = {
    val cs = decodeChecks(m.get(table + CheckSuffix))
    if (cs.isEmpty) return
    val withMissing = logicalSchema(m, table).fold(batch) { st =>
      st.fields.filterNot(f => batch.columns.contains(f.name))
        .foldLeft(batch)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
    }
    val ordered = cs.toSeq.sortBy(_._1)
    val aggs = ordered.map { case (n, e) =>
      sum(when(violationCond(e), 1L).otherwise(0L)).as(n) }
    val row = withMissing.agg(aggs.head, aggs.tail: _*).head()
    ordered.zipWithIndex.foreach { case ((n, e), i) =>
      val bad = if (row.isNullAt(i)) 0L else row.getLong(i)
      if (bad > 0) throw new Snapshots.ConstraintViolationException(
        s"$verb into table '$table' violates CHECK constraint '$n' ($e): $bad row(s)")
    }
  }

  /** The table's generated columns (column -> SQL expression) at
    * `version` (default head) — metadata like [[checks]]: they
    * time-travel, clone and restore with the table.
    */
  def generated(table: String, version: Option[Long] = None): Map[String, String] = {
    val v = version.orElse(currentVersion).getOrElse(
      throw new IllegalStateException(s"no commits under $root"))
    decodeChecks(readManifest(v).get(table + GenSuffix))
  }

  /** Compute omitted generated columns and VALIDATE provided ones for
    * an incoming batch (append/commit/merge ingestion). Omitted
    * columns are computed from their expressions and the result is
    * re-projected into the table's column order (the schema guard
    * compares ordered signatures). Provided NON-NULL values must match
    * their expression — one aggregate job covering all of them, zero
    * jobs when nothing is declared or provided. A provided NULL is
    * treated as OMITTED per-row and computed from the derivation:
    * Spark's INSERT-with-column-list pads unnamed columns with NULL
    * before the connector ever sees the batch, so `INSERT INTO t (ts,
    * v)` must fill the derived partition column rather than refuse —
    * and NULL is never a lawful deliberate value for a generated
    * column anyway (the derivation is the only lawful value; if the
    * derivation itself yields NULL, the fill is the identity).
    */
  private[sources] def applyGenerated(table: String, m: Map[String, String],
                             batch: DataFrame, verb: String): DataFrame = {
    val gs = decodeChecks(m.get(table + GenSuffix))
    if (gs.isEmpty) return batch
    val provided = gs.filter { case (c, _) => batch.columns.contains(c) }
    val filled =
      if (provided.isEmpty) batch
      else {
        val ordered = provided.toSeq.sortBy(_._1)
        val aggs = ordered.map { case (c, e) =>
          sum(when(col(c).isNotNull && !(col(c) <=> expr(e)), 1L).otherwise(0L)).as(c) }
        val row = batch.agg(aggs.head, aggs.tail: _*).head()
        ordered.zipWithIndex.foreach { case ((c, e), i) =>
          val bad = if (row.isNullAt(i)) 0L else row.getLong(i)
          if (bad > 0) throw new Snapshots.ConstraintViolationException(
            s"$verb into table '$table': provided values of generated column " +
              s"'$c' diverge from its expression ($e): $bad row(s)")
        }
        ordered.foldLeft(batch) { case (d, (c, e)) =>
          d.withColumn(c, coalesce(col(c), expr(e).cast(d.schema(c).dataType))) }
      }
    val missing = gs.filter { case (c, _) => !batch.columns.contains(c) }
    if (missing.isEmpty) return filled
    val computed = missing.foldLeft(filled) { case (d, (c, e)) =>
      d.withColumn(c, expr(e)) }
    logicalSchema(m, table) match {
      case Some(st) if st.fieldNames.forall(computed.columns.contains) &&
          computed.columns.forall(st.fieldNames.contains) =>
        computed.select(st.fieldNames.map(col(_)).toSeq: _*)
      case _ => computed
    }
  }

  /** Recompute every generated column of `table` over a rewrite output
    * — identity on rows that already satisfied the derivation, and the
    * repair that keeps update/merge rewrites correct by construction
    * when a transform touched a generated column's inputs.
    */
  private[sources] def recomputeGenerated(table: String, m: Map[String, String],
                                 df: DataFrame): DataFrame =
    decodeChecks(m.get(table + GenSuffix)).foldLeft(df) { case (d, (c, e)) =>
      if (d.columns.contains(c)) d.withColumn(c, expr(e)) else d }

  /** Declare `column` GENERATED AS `exprSql` (Delta's generated
    * columns, public design). The column must exist and its CURRENT
    * values must already equal the expression — validated with one
    * scan, so a published derivation is a fact, not a wish. From then
    * on writers may omit the column (computed at ingestion) or must
    * provide matching values; update/merge rewrites recompute it.
    */
  def addGenerated(table: String, column: String, exprSql: String): Long = {
    val v0 = currentVersion.getOrElse(
      throw new IllegalStateException(s"no commits under $root"))
    val m0 = readManifest(v0)
    val rel = dataEntries(m0).getOrElse(table,
      throw new NoSuchElementException(s"table '$table' not committed under $root"))
    val schema = logicalSchema(m0, table).getOrElse(writtenSchema(rel))
    require(schema.fieldNames.contains(column),
      s"generated column '$column' not a column of table '$table'")
    val bad = read(table, Some(v0)).where(!(col(column) <=> expr(exprSql))).count()
    if (bad > 0) throw new Snapshots.ConstraintViolationException(
      s"addGenerated: $bad existing row(s) of '$table' diverge from " +
        s"'$column' = $exprSql — a derivation must hold before it publishes")
    var attempt = v0 + 1
    for (_ <- 1 to MaxAttempts) {
      val cur = readManifest(currentVersion.get)
      val gs = decodeChecks(cur.get(table + GenSuffix))
      require(!gs.contains(column),
        s"column '$column' is already generated on table '$table' — drop it first")
      val line = (table + GenSuffix) -> encodeChecks(gs + (column -> exprSql))
      if (writeManifest(attempt, cur + line)) return attempt
      attempt = math.max(attempt + 1, currentVersion.getOrElse(0L) + 1)
    }
    throw new IllegalStateException(
      s"addGenerated lost $MaxAttempts consecutive version races under $root")
  }

  /** Drop a generated-column declaration (loud on a missing column,
    * like [[dropCheck]]). The column itself stays — only the
    * derivation contract ends.
    */
  def dropGenerated(table: String, column: String): Long = {
    var attempt = currentVersion.getOrElse(
      throw new IllegalStateException(s"no commits under $root")) + 1
    for (_ <- 1 to MaxAttempts) {
      val cur = readManifest(currentVersion.get)
      val gs = decodeChecks(cur.get(table + GenSuffix))
      if (!gs.contains(column)) throw new NoSuchElementException(
        s"no generated column '$column' on table '$table' under $root")
      val rest = gs - column
      val next =
        if (rest.isEmpty) cur - (table + GenSuffix)
        else cur + ((table + GenSuffix) -> encodeChecks(rest))
      if (writeManifest(attempt, next)) return attempt
      attempt = math.max(attempt + 1, currentVersion.getOrElse(0L) + 1)
    }
    throw new IllegalStateException(
      s"dropGenerated lost $MaxAttempts consecutive version races under $root")
  }

  /** Declare a CHECK constraint on `table` (Delta's ALTER TABLE ADD
    * CONSTRAINT, public design). The constraint must already hold over
    * the table's CURRENT rows — validated with one scan here (the one
    * O(table) cost in the constraint lifecycle; every later write pays
    * only O(batch)) — so a published constraint is an invariant, never
    * an aspiration. NOT NULL is the special case `col IS NOT NULL`.
    * The constraint line publishes as a new metadata-only version.
    */
  def addCheck(table: String, name: String, exprSql: String): Long = {
    require(name.matches("[A-Za-z0-9_-]+"),
      s"constraint name '$name' must be [A-Za-z0-9_-]+")
    val v0 = currentVersion.getOrElse(
      throw new IllegalStateException(s"no commits under $root"))
    val m0 = readManifest(v0)
    require(dataEntries(m0).contains(table),
      s"table '$table' not committed under $root")
    enforceChecks(table,
      m0 + ((table + CheckSuffix) -> encodeChecks(Map(name -> exprSql))),
      read(table, Some(v0)), "addCheck existing rows")
    var attempt = v0 + 1
    for (_ <- 1 to MaxAttempts) {
      val cur = readManifest(currentVersion.get)
      val cs = decodeChecks(cur.get(table + CheckSuffix))
      require(!cs.contains(name),
        s"constraint '$name' already exists on table '$table' — drop it first")
      val line = (table + CheckSuffix) -> encodeChecks(cs + (name -> exprSql))
      if (writeManifest(attempt, cur + line)) return attempt
      attempt = math.max(attempt + 1, currentVersion.getOrElse(0L) + 1)
    }
    throw new IllegalStateException(
      s"addCheck lost $MaxAttempts consecutive version races under $root")
  }

  /** Drop a CHECK constraint by name (loud on a missing name — a
    * silently-ignored typo would leave the caller believing writes are
    * still guarded). Metadata-only version; history keeps the
    * constrained versions' lines, so time-travel reads see the
    * constraint set as of their version.
    */
  def dropCheck(table: String, name: String): Long = {
    var attempt = currentVersion.getOrElse(
      throw new IllegalStateException(s"no commits under $root")) + 1
    for (_ <- 1 to MaxAttempts) {
      val cur = readManifest(currentVersion.get)
      val cs = decodeChecks(cur.get(table + CheckSuffix))
      if (!cs.contains(name)) throw new NoSuchElementException(
        s"no CHECK constraint '$name' on table '$table' under $root")
      val rest = cs - name
      val next =
        if (rest.isEmpty) cur - (table + CheckSuffix)
        else cur + ((table + CheckSuffix) -> encodeChecks(rest))
      if (writeManifest(attempt, next)) return attempt
      attempt = math.max(attempt + 1, currentVersion.getOrElse(0L) + 1)
    }
    throw new IllegalStateException(
      s"dropCheck lost $MaxAttempts consecutive version races under $root")
  }

  /** Upsert table properties (the TBLPROPERTIES SET verb) — a
    * metadata-only commit. Keys are restricted to a path-safe charset
    * (they ride the checks encoding: ':' and ';' are structural);
    * values are URL-encoded, so arbitrary. Properties time-travel,
    * clone and restore with the table, and survive a full re-commit
    * (like Delta's on overwrite).
    */
  def setProperties(table: String, props: Map[String, String]): Long = {
    require(props.nonEmpty, "setProperties requires at least one property")
    props.keys.foreach(k => require(k.matches("[A-Za-z0-9_.-]+"),
      s"property key '$k' must be [A-Za-z0-9_.-]+"))
    val v0 = currentVersion.getOrElse(
      throw new IllegalStateException(s"no commits under $root"))
    val m0 = readManifest(v0)
    require(dataEntries(m0).contains(table),
      s"table '$table' not committed under $root")
    // the clustering contract names real columns or every later write
    // fails staging — validate against the VISIBLE schema at set time
    props.get(ClusterByProp).foreach { v =>
      val cols = v.split(",").map(_.trim).filter(_.nonEmpty)
      require(cols.nonEmpty, s"$ClusterByProp requires at least one column")
      val visible = logicalSchema(m0, table)
        .orElse(storedSchema(m0, table)).map(_.fieldNames.toSet)
      visible.foreach(f => cols.foreach(c => require(f.contains(c),
        s"$ClusterByProp column '$c' is not a column of table '$table' " +
          s"(${f.toSeq.sorted.mkString(", ")})")))
    }
    var attempt = v0 + 1
    for (_ <- 1 to MaxAttempts) {
      val cur = readManifest(currentVersion.get)
      val merged = decodeChecks(cur.get(table + PropsSuffix)) ++ props
      val line = (table + PropsSuffix) -> encodeChecks(merged)
      if (writeManifest(attempt, cur + line)) return attempt
      attempt = math.max(attempt + 1, currentVersion.getOrElse(0L) + 1)
    }
    throw new IllegalStateException(
      s"setProperties lost $MaxAttempts consecutive version races under $root")
  }

  /** Remove table properties by key (TBLPROPERTIES UNSET). Loud on a
    * missing key — silently ignoring a typo'd `appendOnly` unset would
    * leave the caller believing the DML surface is open.
    */
  def unsetProperties(table: String, keys: Seq[String]): Long = {
    require(keys.nonEmpty, "unsetProperties requires at least one key")
    var attempt = currentVersion.getOrElse(
      throw new IllegalStateException(s"no commits under $root")) + 1
    for (_ <- 1 to MaxAttempts) {
      val cur = readManifest(currentVersion.get)
      val ps = decodeChecks(cur.get(table + PropsSuffix))
      val missing = keys.filterNot(ps.contains)
      if (missing.nonEmpty) throw new NoSuchElementException(
        s"no propert${if (missing.size == 1) "y" else "ies"} " +
          s"${missing.mkString(", ")} on table '$table' under $root")
      val rest = ps -- keys
      val next =
        if (rest.isEmpty) cur - (table + PropsSuffix)
        else cur + ((table + PropsSuffix) -> encodeChecks(rest))
      if (writeManifest(attempt, next)) return attempt
      attempt = math.max(attempt + 1, currentVersion.getOrElse(0L) + 1)
    }
    throw new IllegalStateException(
      s"unsetProperties lost $MaxAttempts consecutive version races under $root")
  }

  /** The table's properties at `version` (default head). */
  def properties(table: String, version: Option[Long] = None): Map[String, String] = {
    val v = version.orElse(currentVersion).getOrElse(
      throw new IllegalStateException(s"no commits under $root"))
    decodeChecks(readManifest(v).get(table + PropsSuffix))
  }

  /** The CLUSTERING contract — the reserved `clusterBy=c1,c2` table
    * property (same carrier as `appendOnly`): `PARTITIONED BY` lowered
    * the way Delta's liquid clustering replaced Hive partitioning
    * (public design). Row-introducing writes range-cluster the batch on
    * these columns so every staged file covers a tight value range, and
    * the EXISTING stats engine turns partition predicates into file
    * pruning — no directory hierarchy (zero listing survives), no
    * small-file explosion on high-cardinality keys, and the contract
    * time-travels/clones/restores because `@props` already does.
    * Returns Nil for an unclustered table.
    */
  private[sources] def clusterColsOf(m: Map[String, String], table: String): Seq[String] =
    decodeChecks(m.get(table + PropsSuffix)).get(ClusterByProp)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)

  /** The `appendOnly=true` DML gate — called by every row-removing /
    * row-modifying verb with the manifest it already holds (no extra
    * read).
    */
  private[sources] def requireNotAppendOnly(m: Map[String, String], table: String,
                                   what: String): Unit =
    require(!decodeChecks(m.get(table + PropsSuffix))
        .get("appendOnly").exists(_.equalsIgnoreCase("true")),
      s"table '$table' is appendOnly (@props) — $what refused; " +
        "unsetProperties(appendOnly) first")

  /** Timestamp time travel (the Delta `TIMESTAMP AS OF` resolution
    * rule, public knowledge): a version's commit time is recorded in
    * its manifest HEADER at publish — not the file's mtime, which a
    * file-level copy (the c12 lake-template pattern, a backup restore)
    * resets, silently re-dating every version to copy time. Headerless
    * v1 manifests fall back to mtime. Resolves to the NEWEST version
    * committed at or before `tsMillis`; None when nothing that old is
    * retained (vacuumed manifests naturally fall out of the resolvable
    * window). Caveat, as in the open formats: commit times come from
    * the writer's clock, so cross-writer ordering is only as good as
    * clock agreement — version numbers, not timestamps, are the
    * authoritative order.
    */
  def versionAsOf(tsMillis: Long): Option[Long] = {
    val vs = store.list(commitDir)
      .filter(_.endsWith(".manifest"))
      .map(_.stripSuffix(".manifest").toLong)
      .filter(v => try commitTimestamp(v) <= tsMillis catch {
        // a concurrent vacuum can collect a manifest between the listing
        // and the header read — a dropped version is simply outside the
        // resolvable window, same as if the listing had missed it
        case _: java.io.FileNotFoundException => false
      })
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** [[read]] at the newest version committed at or before `tsMillis`. */
  def readAsOf(table: String, tsMillis: Long): DataFrame =
    read(table, Some(versionAsOf(tsMillis).getOrElse(
      throw new NoSuchElementException(
        s"no version committed at or before $tsMillis under $root"))))
}
