package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Row-level DML verbs of [[Snapshots]] — copy-on-write
  * delete/update/replace/merge, keyset deletes, the fused CDC apply,
  * merge-on-read (deletion-vector) delete/update, append + identity
  * appends, and the shared partialRewrite engine. Split from the
  * monolith along its documented verb families (r9); no behavior
  * change.
  */
private[sources] trait SnapshotsDmlOps { self: Snapshots =>

  /** The write-side half of the clustering contract ([[clusterColsOf]]):
    * range-redistribute a batch on the table's cluster columns (PHYSICAL
    * names — callers translate) so each staged file covers a tight value
    * span, then sort within partitions so parquet row-group stats are
    * tight too. One extra shuffle per batch, paid at write time; every
    * read on a cluster-column predicate prunes files through the
    * existing sidecar stats with zero new read code. File count is
    * `files` when the caller sized the output, else the batch's
    * incoming partition count — clustering redistributes, it does not
    * fragment (the liquid-clustering answer to partitioning's
    * small-file explosion).
    */
  private[sources] def clusterBatch(df: DataFrame, clusterPhys: Seq[String],
                                    files: Option[Int] = None): DataFrame =
    if (clusterPhys.isEmpty) df
    else {
      val cols = clusterPhys.map(col)
      val n = files.getOrElse(math.max(1, df.rdd.getNumPartitions))
      df.repartitionByRange(n, cols: _*).sortWithinPartitions(cols: _*)
    }

  /** Targeted row delete — the GDPR / retention maintenance job. Rows
    * matching ALL `ranges` (conjunctive) are removed from the table in
    * a new published version, at a cost of O(files that might hold a
    * matching row), not O(table):
    *
    *  - files whose stats CANNOT contain a match are RE-REFERENCED in
    *    the new manifest as file-granular entries — zero bytes read or
    *    written for them;
    *  - only might-match files are read, anti-filtered, and rewritten
    *    (with a fresh `_stats` sidecar over `statsCols`).
    *
    * Old versions still read the deleted rows (time travel); the
    * deleted bytes are reclaimed the same way the open table formats
    * do it — a later [[compact]] collapses the file-granular entries
    * into a fresh directory, after which [[vacuum]] can collect the
    * old dirs. NULL values in a ranged column never match a range and
    * are therefore always kept. Result-idempotent: a repeat of the same
    * delete re-examines only files whose [min,max] still SPANS the
    * range (min/max cannot prove a hole) and rewrites them to the same
    * rows; a repeat where stats prove no match publishes nothing.
    * Delegates to the general-predicate form with `pred = matchCond(ranges)`.
    */
  def deleteWhere(table: String, ranges: Seq[FileStats.ColRange],
                  statsCols: Seq[String] = Nil): Long =
    deleteWhere(table, ranges, matchCond(ranges), statsCols)

  /** GENERAL-predicate DELETE — the split form the SQL front door
    * lowers to: `pruneRanges` is a conservative conjunctive
    * inclusive-range ENVELOPE of the predicate (every matching row
    * provably lies inside it — file classification and the
    * concurrent-writer disjointness proof stay sound on the superset),
    * while `pred` is the EXACT predicate applied to the touched rows.
    * Strict bounds, OR, IN, NOT, != — anything a deterministic row
    * expression can say — execute; the envelope only bounds how much
    * gets rewritten, never what matches. Three-valued edge: a NULL
    * predicate keeps the row (coalesce pins it — a bare negation
    * would drop it).
    */
  def deleteWhere(table: String, pruneRanges: Seq[FileStats.ColRange],
                  pred: org.apache.spark.sql.Column,
                  statsCols: Seq[String]): Long = {
    require(pruneRanges.nonEmpty, "deleteWhere requires at least one range")
    partialRewrite(table, pruneRanges, statsCols, "delete",
      touched => touched.where(!coalesce(pred, lit(false))))
  }

  /** Targeted row UPDATE — same stats-pruned partial-rewrite machinery
    * as [[deleteWhere]]: untouched files re-referenced (zero IO), only
    * files whose stats admit a matching row are rewritten, with `sets`
    * applied to exactly the rows matching ALL `ranges` (NULL-safe: a
    * null in a ranged column never matches, so the row passes through
    * unchanged). Together commit/merge (INSERT/UPSERT), deleteWhere and
    * updateWhere cover the reference users' DML surface
    * (`execute`, Stream.hs:122-145) against the lake. Delegates to the
    * general-predicate form with `pred = matchCond(ranges)`.
    */
  def updateWhere(table: String, ranges: Seq[FileStats.ColRange],
                  sets: Map[String, org.apache.spark.sql.Column],
                  statsCols: Seq[String] = Nil): Long =
    updateWhere(table, ranges, matchCond(ranges), sets, statsCols)

  /** GENERAL-predicate UPDATE — the [[deleteWhere]] split applied to
    * the update rewrite: envelope for pruning, exact `pred` deciding
    * which touched rows take the SET expressions (NULL predicate =
    * pass through unchanged, SQL semantics).
    */
  def updateWhere(table: String, pruneRanges: Seq[FileStats.ColRange],
                  pred: org.apache.spark.sql.Column,
                  sets: Map[String, org.apache.spark.sql.Column],
                  statsCols: Seq[String]): Long = {
    require(pruneRanges.nonEmpty, "updateWhere requires at least one range")
    require(sets.nonEmpty, "updateWhere requires at least one SET column")
    // a generated column cannot be SET directly (its derivation owns
    // it — update its inputs; the rewrite recomputes it): Delta's rule
    currentVersion.map(readManifest).foreach { m =>
      val gen = decodeChecks(m.get(table + GenSuffix)).keySet
      val hit = sets.keySet.intersect(gen)
      require(hit.isEmpty,
        s"cannot SET generated column(s) ${hit.mkString(", ")} of table '$table'")
    }
    partialRewrite(table, pruneRanges, statsCols, "update", { touched =>
      val hit = coalesce(pred, lit(false))
      sets.foldLeft(touched) { case (df, (c, e)) =>
        df.withColumn(c, when(hit, e).otherwise(col(c)))
      }
    })
  }

  /** Predicate-scoped atomic OVERWRITE (Delta's `replaceWhere`, public
    * design) — the backfill verb: re-deliver one slice (a day, a key
    * range) of a table in ONE published version, deleting every row
    * matching ALL `ranges` and landing `batch` in their place. The
    * partition-overwrite idiom without partition columns: stats-pruned
    * file classification bounds the touched set exactly as deleteWhere,
    * so cost is O(files whose stats admit a match) + O(batch), never
    * O(table).
    *
    * Contract (Delta's): every batch row must itself MATCH the
    * predicate — validated in one aggregate job over the batch; a
    * violating batch publishes nothing (silently keeping out-of-slice
    * rows would make the verb a lossy full overwrite). NULL in a
    * ranged column never matches, so a null-keyed batch row is always
    * a violation. Replays converge: the second run deletes what the
    * first inserted and re-inserts the same rows.
    */
  def replaceWhere(table: String, ranges: Seq[FileStats.ColRange],
                   batch: DataFrame, statsCols: Seq[String] = Nil): Long = {
    require(ranges.nonEmpty, "replaceWhere requires at least one range")
    val nViol = batch.where(!coalesce(matchCond(ranges), lit(false))).count()
    require(nViol == 0L,
      s"replaceWhere batch has $nViol row(s) outside the predicate — " +
        "the batch must lie entirely inside the replaced slice")
    partialRewrite(table, ranges, statsCols, "replace", { touched =>
      val survivors = touched.where(!coalesce(matchCond(ranges), lit(false)))
      survivors.unionByName(batch.select(survivors.columns.map(col): _*))
    }, forceOnEmpty = true)
  }

  /** MERGE (upsert) keyed on `keyCol` — the remaining DML verb next to
    * [[append]] (INSERT), [[deleteWhere]] (DELETE) and [[updateWhere]]
    * (UPDATE): source rows whose key matches an existing row REPLACE it,
    * the rest are inserted, all in one atomic publish (the reference's
    * users run exactly this upsert through `execute`, Stream.hs:122-145).
    * It is [[applyChanges]] with no dead keys: one scalar job for the
    * source's leading-key span, one full-outer join over the touched
    * files and the source, O(touched + batch), never O(table). An
    * all-insert source whose span overlaps nothing re-references every
    * file and lands as a fresh part.
    *
    * Contract: `source` must be unique on `keyCol` (a duplicated key
    * would multiply its matched row — dedupe upstream, latest-wins, or
    * use [[mergeClauses]], which refuses duplicates); null-keyed source
    * rows can never match and insert as-is. Schema must match the
    * table exactly (evolve via [[append]]'s mergeSchema first).
    */
  def mergeInto(table: String, source: DataFrame, keyCol: String,
                statsCols: Seq[String] = Nil): Long =
    mergeInto(table, source, Seq(keyCol), statsCols)

  /** Composite-key MERGE: the match is on ALL `keyCols`; pruning uses
    * the LEADING key column's span (the index-prefix rule, see
    * [[applyChanges]]).
    */
  def mergeInto(table: String, source: DataFrame, keyCols: Seq[String],
                statsCols: Seq[String]): Long =
    applyChanges(table, Some(source), None, keyCols, statsCols)

  /** MERGE with the FULL ANSI/Delta clause matrix — ordered conditional
    * WHEN MATCHED UPDATE/DELETE arms, ordered conditional WHEN NOT
    * MATCHED INSERT arms, and WHEN NOT MATCHED BY SOURCE UPDATE/DELETE
    * arms — lowered onto the SAME span-pruned partial-rewrite engine as
    * [[mergeInto]]: ONE full-outer join of the touched rows with the
    * batch-sized source, then per-row clause resolution as pure CASE
    * logic (first holding arm wins, SQL semantics; no holding arm =
    * row unchanged / source row dropped).
    *
    * Clause conditions and assignment values are Columns over the
    * JOINED frame: target columns under their own names, source
    * columns via [[Snapshots.srcCol]] (the reserved `_mrg_src_`
    * prefix). BY SOURCE arms may reference target columns only (source
    * side is all-null on their rows by construction).
    *
    * Pruning contract: with no BY SOURCE arms, a file whose stats
    * exclude the source's leading-key span provably holds only
    * unmatched-by-anything rows that pass through unchanged — so the
    * span bounds the touched set exactly as mergeInto. BY SOURCE arms
    * can rewrite rows ARBITRARILY far from any source key, so their
    * presence widens classification to the whole table (correctness
    * over pruning — the engine never prunes what it cannot prove).
    *
    * Cardinality (ANSI): a target row matching more than one source
    * row is ambiguous — enforced with one O(batch) aggregate over the
    * source keys; violations refuse before anything stages. Generated
    * columns are RECOMPUTED over the rewrite output and CHECK
    * constraints gate it (partialRewrite's merge pass); appendOnly
    * refuses the verb outright (Delta's rule).
    */
  def mergeClauses(table: String, source0: DataFrame, keyCols: Seq[String],
                   matched: Seq[Snapshots.WhenMatched],
                   notMatched: Seq[Snapshots.NotMatchedInsert],
                   bySource: Seq[Snapshots.WhenNotMatchedBySource],
                   statsCols: Seq[String] = Nil,
                   sourceProjected: Boolean = false,
                   residualOn: Option[org.apache.spark.sql.Column] = None): Long = {
    import Snapshots.{BySourceDelete, BySourceUpdate, MatchedDelete, MatchedUpdate, SrcPrefix}
    require(keyCols.nonEmpty, "mergeClauses requires at least one key column")
    require(matched.nonEmpty || notMatched.nonEmpty || bySource.nonEmpty,
      "mergeClauses requires at least one WHEN arm")
    val headM = readManifest(currentVersion.getOrElse(
      throw new IllegalStateException(s"no commits under $root")))
    requireNotAppendOnly(headM, table, "MERGE")
    val baseRel = dataEntries(headM).getOrElse(table,
      throw new NoSuchElementException(s"table '$table' not committed under $root"))
    val existing = logicalSchema(headM, table).getOrElse(writtenSchema(baseRel))
    val cols = existing.fieldNames.toSeq
    keyCols.foreach(k => require(cols.contains(k),
      s"merge key '$k' not a column of table '$table'"))
    require(cols.forall(!_.startsWith("_mrg_")),
      s"table '$table' columns collide with merge's reserved '_mrg_' prefix")
    notMatched.foreach(a => require(a.values.keySet == cols.toSet,
      s"a WHEN NOT MATCHED arm must assign every column of '$table' " +
        s"(got ${a.values.keySet.toSeq.sorted.mkString(", ")})"))
    (matched.collect { case MatchedUpdate(_, set) => set } ++
      bySource.collect { case BySourceUpdate(_, set) => set })
      .flatMap(_.keys).foreach(c => require(cols.contains(c),
        s"UPDATE arm assigns '$c', not a column of table '$table'"))
    // the verb's source frame: bare key columns + every source column
    // under the reserved prefix (the SQL rule ships it pre-projected)
    val srcP =
      if (sourceProjected) source0
      else {
        keyCols.foreach(k => require(source0.columns.contains(k),
          s"merge source must carry key column '$k'"))
        source0.select(keyCols.map(col) ++
          source0.columns.toSeq.map(c => col(c).as(SrcPrefix + c)): _*)
      }
    val lead = keyCols.head
    // one scalar job: span + counts + the ANSI cardinality guard
    val agg0 = srcP.agg(min(col(lead)), max(col(lead)), count(lit(1)),
      count(col(lead))).head()
    val (nSrc, nLead) = (agg0.getLong(2), agg0.getLong(3))
    if (nSrc == 0L && bySource.isEmpty) return currentVersion.get
    if (nSrc > 0L) {
      val dups = srcP.where(keyCols.map(k => col(k).isNotNull).reduce(_ && _))
        .groupBy(keyCols.map(col): _*).count()
        .where(col("count") > 1).limit(1).count()
      require(dups == 0L,
        s"merge source is not unique on (${keyCols.mkString(", ")}) — " +
          "a target row matching several source rows is ambiguous (ANSI); " +
          "dedupe upstream (latest-wins) first")
    }

    def firedIdx(conds: Seq[Option[org.apache.spark.sql.Column]]): org.apache.spark.sql.Column =
      conds.zipWithIndex.foldRight(
        lit(null).cast(org.apache.spark.sql.types.IntegerType)) { case ((c, i), els) =>
        when(coalesce(c.getOrElse(lit(true)), lit(false)), lit(i)).otherwise(els)
      }
    val sF = firedIdx(notMatched.map(_.cond))
    def insertValue(c: String): org.apache.spark.sql.Column =
      notMatched.zipWithIndex.foldRight(
        lit(null).cast(existing(c).dataType): org.apache.spark.sql.Column) {
        case ((arm, i), els) => when(sF === i, arm.values(c)).otherwise(els)
      }

    if (nSrc > 0L && nLead == 0L && bySource.isEmpty) {
      // every leading key is null: nothing can match (SQL ON
      // semantics), no target row can change — evaluate the insert
      // arms over the source alone and land them as an O(batch)
      // append instead of touching any file. Target columns are null
      // on not-matched rows by definition.
      if (notMatched.isEmpty) return currentVersion.get
      val base = cols.foldLeft(srcP.drop(keyCols: _*))((df, c) =>
        df.withColumn(c, lit(null).cast(existing(c).dataType)))
      val ins = base.where(sF.isNotNull)
        .select(cols.map(c => insertValue(c).cast(existing(c).dataType).as(c)): _*)
      return append(table, ins, statsCols = statsCols)
    }

    val span =
      if (bySource.nonEmpty) FileStats.ColRange(lead, None, None)
      else FileStats.ColRange(lead, Some(agg0.get(0)), Some(agg0.get(1)))
    partialRewrite(table, Seq(span), statsCols, "merge", { touched =>
      val srcR = srcP
        .select(keyCols.map(k => col(k).as(s"_mrg_key_$k")) ++
          srcP.columns.toSeq.filter(_.startsWith(SrcPrefix)).map(col): _*)
        .withColumn("_mrg_hit", lit(true))
      // residual (non-equality) ON conjuncts join INSIDE the condition
      // — ANSI: a key-equal pair failing them is simply NOT matched,
      // so the target row falls to the BY SOURCE side and the source
      // row to the INSERT side (an arm-condition encoding would
      // wrongly drop both). Matches only narrow, so the leading-key
      // span classification above stays sound unchanged.
      val cond = (keyCols.map(k => col(k) === col(s"_mrg_key_$k")) ++
        residualOn.map(r => coalesce(r, lit(false)))).reduce(_ && _)
      val joined = touched.withColumn("_mrg_tgt", lit(true))
        .join(srcR, cond, "full_outer")
      val isM = coalesce(col("_mrg_tgt"), lit(false)) &&
        coalesce(col("_mrg_hit"), lit(false))
      val isT = coalesce(col("_mrg_tgt"), lit(false)) &&
        !coalesce(col("_mrg_hit"), lit(false))
      val mF = firedIdx(matched.map(_.cond))
      val tF = firedIdx(bySource.map(_.cond))
      def deleteFired(isDel: Seq[Boolean], f: org.apache.spark.sql.Column) =
        coalesce(isDel.zipWithIndex.collect { case (true, i) => f === i }
          .foldLeft(lit(false))(_ || _), lit(false))
      val keep =
        when(isM, !deleteFired(matched.map(_.isInstanceOf[MatchedDelete]), mF))
          .when(isT, !deleteFired(bySource.map(_.isInstanceOf[BySourceDelete]), tF))
          .otherwise(sF.isNotNull)
      def armChain(base: org.apache.spark.sql.Column, c: String,
                   arms: Seq[(Option[Map[String, org.apache.spark.sql.Column]], Int)],
                   f: org.apache.spark.sql.Column) =
        arms.foldRight(base) {
          case ((Some(set), i), els) if set.contains(c) =>
            when(f === i, set(c)).otherwise(els)
          case (_, els) => els
        }
      joined.where(keep).select(cols.map { c =>
        val mV = armChain(col(c), c, matched.zipWithIndex.map {
          case (MatchedUpdate(_, set), i) => (Some(set), i)
          case (_, i) => (None, i)
        }, mF)
        val tV = armChain(col(c), c, bySource.zipWithIndex.map {
          case (BySourceUpdate(_, set), i) => (Some(set), i)
          case (_, i) => (None, i)
        }, tF)
        when(isM, mV).when(isT, tV).otherwise(insertValue(c))
          .cast(existing(c).dataType).as(c)
      }: _*)
    }, forceOnEmpty = notMatched.nonEmpty && nSrc > 0L)
  }

  /** MERGE-ON-READ delete (deletion vectors — the Delta/Iceberg v2
    * fast-delete path): rows matching ALL `ranges` are tombstoned by
    * POSITION (file_name, row_index) in a `@dv` sidecar table instead
    * of rewriting any data file. Cost: read only might-match files
    * (same stats classification as [[deleteWhere]]), write O(matched
    * rows) of positions, publish one manifest — at 100 TB a
    * single-row GDPR delete costs kilobytes instead of re-writing a
    * gigabyte file. Every read applies the vector transparently;
    * [[compact]] later materializes it (copy-on-write) and drops the
    * line. Result-idempotent: a repeat whose tombstones are already
    * all present publishes nothing. The vector merges with any
    * existing one, so MoR deletes stack. Positions key on file_name —
    * verified UNIQUE across the table's files before publishing (every
    * write path produces uuid'd part names; the check makes the
    * assumption loud, not silent).
    */
  def deleteWhereMoR(table: String, ranges0: Seq[FileStats.ColRange]): Long = {
    require(ranges0.nonEmpty, "deleteWhereMoR requires at least one range")
    val headM = readManifest(currentVersion.getOrElse(
      throw new IllegalStateException(s"no commits under $root")))
    requireNotAppendOnly(headM, table, "merge-on-read delete")
    // positions are name-agnostic; only the match predicate and the
    // sidecar lookups need the physical column names
    val ranges = physicalRanges(headM, table, ranges0)
    val baseRel = dataEntries(headM).getOrElse(table,
      throw new NoSuchElementException(s"table '$table' not committed under $root"))
    val files: Seq[(String, Long)] = storedFiles(headM, table)
      .getOrElse(listRelFiles(splitRel(baseRel)))
    val names = files.map { case (r, _) => new Path(root, r).getName }
    require(names.distinct.size == names.size,
      s"table '$table' has duplicate part-file names — positional vectors need unique names")
    // stats classification: only might-match files are read for positions
    val touch = splitByStats(files, ranges)._1
    if (touch.isEmpty) return currentVersion.get
    val schema = storedSchema(headM, table).getOrElse(writtenSchema(baseRel))
    val touched = org.apache.spark.sql.GraftLakeShim.parquetByManifest(
      s, touch.map { case (r, len) => (s"$root/$r", len) }, schema)
    val fresh = touched
      .where(matchCond(ranges))
      .select(col("_metadata.file_name").as("file_name"),
        col("_metadata.row_index").as("row_index"))
    val existing = headM.get(table + DvSuffix).map(rel =>
      s.read.parquet(absPaths(rel): _*).select("file_name", "row_index"))
    val merged = existing.fold(fresh)(e => e.unionByName(fresh)).distinct()
      .persist()
    try {
      val total = merged.count()
      if (total == 0L ||
          existing.exists(e => e.distinct().count() == total))
        return currentVersion.get // nothing new to tombstone
      var attempt = currentVersion.getOrElse(0L) + 1
      for (_ <- 1 to MaxAttempts) {
        val cur = readManifest(currentVersion.get)
        if (cur(table) != baseRel)
          throw new java.util.ConcurrentModificationException(
            s"$table re-pointed ${cur(table)} != $baseRel during MoR delete; re-run")
        val rel = stageRel(attempt, table + "__dv")
        writeFiles(merged.coalesce(1), rel)
        if (writeManifest(attempt, cur + ((table + DvSuffix) -> rel))) return attempt
        attempt = math.max(attempt + 1, currentVersion.getOrElse(0L) + 1)
      }
      throw new IllegalStateException(
        s"deleteWhereMoR lost $MaxAttempts consecutive version races under $root")
    } finally { merged.unpersist(); () }
  }

  /** MERGE-ON-READ update — the Iceberg v2 MoR update shape: matching
    * rows (of the CURRENT, vector-applied state) are tombstoned by
    * position AND re-appended with the SET expressions applied, both
    * published in ONE manifest — no existing data file rewritten, cost
    * O(matched rows) instead of O(touched files). Matching runs
    * against the live state (existing tombstones excluded), so a
    * repeat whose updated rows still satisfy the ranges applies the
    * transform again — exactly UPDATE-twice SQL semantics — while rows
    * the update moved out of range become a no-op. [[compact]]
    * materializes the whole episode later, same as MoR deletes.
    */
  def updateWhereMoR(table: String, ranges0: Seq[FileStats.ColRange],
                     set: Map[String, org.apache.spark.sql.Column],
                     statsCols: Seq[String] = Nil): Long = {
    require(ranges0.nonEmpty, "updateWhereMoR requires at least one range")
    val headM = readManifest(currentVersion.getOrElse(
      throw new IllegalStateException(s"no commits under $root")))
    requireNotAppendOnly(headM, table, "merge-on-read update")
    // physical for the scan/sidecars; SET and its expressions run on
    // the logical view and the re-append stages back physically
    val ranges = physicalRanges(headM, table, ranges0)
    val baseRel = dataEntries(headM).getOrElse(table,
      throw new NoSuchElementException(s"table '$table' not committed under $root"))
    val schema = storedSchema(headM, table).getOrElse(writtenSchema(baseRel))
    val visible = logicalSchema(headM, table).getOrElse(schema)
    set.keys.foreach(c => require(visible.fieldNames.contains(c),
      s"SET column '$c' not a column of table '$table'"))
    locally {
      val gen = decodeChecks(headM.get(table + GenSuffix)).keySet
      val hit = set.keySet.intersect(gen)
      require(hit.isEmpty,
        s"cannot SET generated column(s) ${hit.mkString(", ")} of table '$table'")
    }
    val files: Seq[(String, Long)] = storedFiles(headM, table)
      .getOrElse(listRelFiles(splitRel(baseRel)))
    val names = files.map { case (r, _) => new Path(root, r).getName }
    require(names.distinct.size == names.size,
      s"table '$table' has duplicate part-file names — positional vectors need unique names")
    val touch = splitByStats(files, ranges)._1
    if (touch.isEmpty) return currentVersion.get
    val existing = headM.get(table + DvSuffix).map(rel =>
      s.read.parquet(absPaths(rel): _*)
        .select(col("file_name").as("__dv_fn"), col("row_index").as("__dv_ri")))
    val touched = org.apache.spark.sql.GraftLakeShim.parquetByManifest(
      s, touch.map { case (r, len) => (s"$root/$r", len) }, schema)
      .withColumn("__fn", col("_metadata.file_name"))
      .withColumn("__ri", col("_metadata.row_index"))
    val live = existing.fold(touched)(dv => touched.join(dv,
      col("__fn") === col("__dv_fn") && col("__ri") === col("__dv_ri"), "left_anti"))
    val matched = live.where(matchCond(ranges)).persist()
    try {
      if (matched.isEmpty) return currentVersion.get
      val cols = visible.fieldNames.toSeq
      val positions = matched.select(col("__fn").as("file_name"), col("__ri").as("row_index"))
      // project the matched rows into the LOGICAL view (SET expressions
      // and guards speak logical names), transform, then stage back
      // under the physical names
      val matchedL = colmapOf(headM, table) match {
        case None => matched
        case Some(pairs) =>
          matched.select(pairs.map { case (l, p) => matched(p).as(l) }: _*)
      }
      val newRowsL = recomputeGenerated(table, headM,
        matchedL.select(cols.map(c => set.getOrElse(c, col(c)).as(c)): _*))
      // the re-appended transformed rows are new rows — generated
      // columns recomputed above, CHECK constraints gate them here
      enforceChecks(table, headM, newRowsL, "MoR update")
      val newRows = toPhysical(headM, table, newRowsL)
      val mergedDv = existing
        .fold(positions)(e =>
          e.select(col("__dv_fn").as("file_name"), col("__dv_ri").as("row_index"))
            .unionByName(positions))
        .distinct()
      var attempt = currentVersion.getOrElse(0L) + 1
      for (_ <- 1 to MaxAttempts) {
        val cur = readManifest(currentVersion.get)
        if (cur(table) != baseRel)
          throw new java.util.ConcurrentModificationException(
            s"$table re-pointed ${cur(table)} != $baseRel during MoR update; re-run")
        val dvRel = stageRel(attempt, table + "__dv")
        writeFiles(mergedDv.coalesce(1), dvRel)
        val newRel = stageRel(attempt, table)
        val newFiles = files ++ writeFiles(newRows, newRel,
          statsCols.map(c => physicalName(headM, table, c))).entries
        val lines = cur +
          (table -> s"${cur(table)};$newRel") +
          ((table + DvSuffix) -> dvRel) ++
          Map(filesLine(table, newFiles))
        if (writeManifest(attempt, lines)) return attempt
        attempt = math.max(attempt + 1, currentVersion.getOrElse(0L) + 1)
      }
      throw new IllegalStateException(
        s"updateWhereMoR lost $MaxAttempts consecutive version races under $root")
    } finally { matched.unpersist(); () }
  }

  /** Keyset DELETE — `DELETE WHERE keyCol IN (<batch>)`, the
    * tombstone-apply verb every CDC consumer needs (c06's ranged
    * deleteWhere covers retention sweeps; replication and
    * right-to-erasure arrive as key SETS). It is [[applyChanges]] with
    * no source: the keyset's span (one scalar job) bounds the touched
    * files, untouched files are re-referenced byte-for-byte, and the
    * touched rows pass through one broadcast left_anti join —
    * O(touched + batch), never O(table). Naturally idempotent:
    * re-deleting absent keys rewrites nothing new, so replays converge.
    * Stats proving no overlap, or an empty keyset → true no-op.
    */
  def deleteKeys(table: String, keys: DataFrame, keyCol: String,
                 statsCols: Seq[String] = Nil): Long =
    deleteKeys(table, keys, Seq(keyCol), statsCols)

  /** Composite-key form: the keyset DataFrame carries ALL `keyCols`;
    * pruning uses the leading component's span (index-prefix rule),
    * the anti-join matches on every component.
    */
  def deleteKeys(table: String, keys: DataFrame, keyCols: Seq[String],
                 statsCols: Seq[String]): Long =
    applyChanges(table, None, Some(keys), keyCols, statsCols)

  /** CDC APPLY — one atomic verb for a whole change batch: upsert
    * `source` rows on `keyCols` AND delete `deadKeys`, in ONE
    * span-pruned partial rewrite and ONE published version. The
    * replication consumer's per-micro-batch verb: the separate
    * [[mergeInto]] + [[deleteKeys]] pair costs two rewrites, two
    * manifest publishes and two versions per batch — a standing
    * replica halves its commit rate and version churn (and its own
    * change-feed consumers' work) with the fused form, and a
    * mid-batch reader can no longer observe the upserted-but-not-yet-
    * deleted intermediate state.
    *
    * Cost model: ONE scalar job over both sides' leading keys yields
    * their combined span, which bounds the touched files (every upsert
    * key and every dead key lies inside it, so a pruned file provably
    * holds no match of either kind and pass-through is globally
    * correct). With composite keys the span is the LEADING column's —
    * the index-prefix rule: stats on the leading component bound the
    * candidate set, the remaining components resolve inside the join.
    * The rewrite is one full-outer join of the touched rows with the
    * source followed by one broadcast anti-join with the dead keys —
    * O(touched + batch).
    *
    * Semantics: upserts apply first, then deletes — a key in both
    * ends DEAD (tombstone wins, matching CDC per-key last-state
    * resolution). SQL MERGE `ON` semantics: plain equality, a NULL key
    * component never matches. A non-empty source whose every leading
    * key is null therefore lands as an insert-only O(batch) append
    * before the deletes apply. Generated columns: an omitting source is
    * completed, a providing source is validated; the rewrite recomputes
    * them and CHECK constraints gate it — skipped for a pure delete,
    * which only drops rows. appendOnly refuses the verb up front,
    * whatever internal path the data would select (Delta's rule).
    */
  def applyChanges(table: String, source: DataFrame, deadKeys: DataFrame,
                   keyCols: Seq[String], statsCols: Seq[String] = Nil): Long =
    applyChanges(table, Some(source), Some(deadKeys), keyCols, statsCols)

  /** The one keyed-upsert body behind [[applyChanges]], [[mergeInto]]
    * (no dead keys) and [[deleteKeys]] (no source): an absent side adds
    * no union branch to the span job and no join to the rewrite.
    */
  private def applyChanges(table: String, source: Option[DataFrame],
                           deadKeys: Option[DataFrame],
                           keyCols: Seq[String], statsCols: Seq[String]): Long = {
    val verb =
      if (deadKeys.isEmpty) "MERGE"
      else if (source.isEmpty) "keyset DELETE"
      else "CDC apply (merge+delete)"
    require(keyCols.nonEmpty, s"$verb requires at least one key column")
    val headM = readManifest(currentVersion.getOrElse(
      throw new IllegalStateException(s"no commits under $root")))
    // refuse UP FRONT, not inside partialRewrite: the all-null-leading-
    // key edge lands as an append and an empty side short-circuits, so
    // the refusal must not depend on the batch's DATA
    requireNotAppendOnly(headM, table, verb)
    val baseRel = dataEntries(headM).getOrElse(table,
      throw new NoSuchElementException(s"table '$table' not committed under $root"))
    // the source speaks the VISIBLE (logical) schema; the rewrite runs
    // in logical space and partialRewrite stages it back physically
    val existing = logicalSchema(headM, table).getOrElse(writtenSchema(baseRel))
    def sig(st: org.apache.spark.sql.types.StructType): Seq[(String, org.apache.spark.sql.types.DataType)] =
      st.fields.map(f => (f.name, f.dataType)).toSeq
    val cols = existing.fieldNames.toSeq
    keyCols.foreach(k => require(cols.contains(k), s"key '$k' not a column of table '$table'"))
    val src = source.map { s0 =>
      val s1 = applyGenerated(table, headM, s0, "merge")
      require(sig(s1.schema) == sig(existing),
        s"$verb source schema ${s1.schema.simpleString} != table '$table' schema ${existing.simpleString}")
      require(cols.forall(!_.startsWith("_mrg_")),
        s"table '$table' columns collide with merge's reserved '_mrg_' prefix")
      s1
    }
    val rest = cols.filterNot(keyCols.contains)
    val lead = keyCols.head
    val ks = deadKeys.map(_.select(keyCols.map(k => col(k).as(s"_del_$k")): _*).distinct())
    // ONE scalar job over the union of both sides' leading keys yields
    // the combined span plus per-side emptiness facts
    val tagged = (src.map(_.select(col(lead).as("_k"), lit(1).as("_side"))) ++
      ks.map(_.select(col(s"_del_$lead").as("_k"), lit(2).as("_side"))))
      .reduce(_ unionByName _)
    val r = tagged.agg(min(col("_k")), max(col("_k")),
      sum(when(col("_side") === 1, 1L).otherwise(0L)),
      sum(when(col("_side") === 1 && col("_k").isNotNull, 1L).otherwise(0L)),
      sum(when(col("_side") === 2 && col("_k").isNotNull, 1L).otherwise(0L))).head()
    def cnt(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    val (nUps, nUpsLead, nDead) = (cnt(2), cnt(3), cnt(4))
    if (nUps == 0L && nDead == 0L) return currentVersion.get
    if (nUps > 0L && nUpsLead == 0L) {
      // degenerate: every upsert's leading key is null — insert-as-is,
      // then apply the deletes; two versions for this edge, one for
      // the common path
      append(table, source.get, statsCols = statsCols)
      return if (nDead > 0L) deleteKeys(table, ks.get.toDF(keyCols: _*), keyCols, statsCols)
      else currentVersion.get
    }
    val span = FileStats.ColRange(lead, Some(r.get(0)), Some(r.get(1)))
    partialRewrite(table, Seq(span), statsCols, if (nUps > 0L) "merge" else "deleteKeys", { touched =>
      val merged = src.filter(_ => nUps > 0L).fold(touched) { src =>
        val srcR = src.select(
          keyCols.map(k => col(k).as(s"_mrg_key_$k")) ++
            (lit(true).as("_mrg_hit") +: rest.map(c => col(c).as(s"_mrg_$c"))): _*)
        val cond = keyCols.map(k => col(k) === col(s"_mrg_key_$k")).reduce(_ && _)
        touched.join(srcR, cond, "full_outer")
          .select(cols.map { c =>
            if (keyCols.contains(c)) coalesce(col(c), col(s"_mrg_key_$c")).as(c)
            else when(coalesce(col("_mrg_hit"), lit(false)), col(s"_mrg_$c"))
              .otherwise(col(c)).as(c)
          }: _*)
      }
      ks.filter(_ => nDead > 0L).fold(merged) { ks =>
        val dcond = keyCols.map(k => col(k) === col(s"_del_$k")).reduce(_ && _)
        merged.join(broadcast(ks), dcond, "left_anti")
      }
    }, forceOnEmpty = nUps > 0L)
  }

  /** O(batch) atomic APPEND: write `df` as a fresh directory and
    * publish a manifest whose `table` entry references the existing
    * paths PLUS the new dir — not one existing byte is read or
    * rewritten (file-granular manifest entries again). `tag` makes the
    * append IDEMPOTENT: it is encoded into the new dir name, and an
    * append whose tag already appears in the table's entry is a no-op —
    * exactly the contract a replayed streaming micro-batch needs
    * (foreachBatch's batchId is stable across retries, so
    * source-offsets + idempotent-appends = effectively exactly-once
    * ingestion into the transactional lake). A missing table is
    * created. Accumulated small append dirs are the standing
    * [[compact]] case; vacuum's dir-granular refcount covers them.
    */
  def append(table: String, df0: DataFrame, tag: Option[String] = None,
             statsCols: Seq[String] = Nil, mergeSchema: Boolean = false,
             bloomCols: Seq[String] = Nil,
             extraLines: Map[String, String] => Map[String, String] = _ => Map.empty): Long = {
    require(!isMetaEntry(table),
      s"table name '$table' collides with the reserved '@' manifest lines")
    tag.foreach(t => require(t.matches("[A-Za-z0-9_-]+"),
      s"append tag '$t' must be [A-Za-z0-9_-]+ (it names a directory)"))
    // an identity table's ids are assigned by the LAKE: plain appends
    // would either fail the schema guard (column omitted) or smuggle
    // caller-chosen ids past the high-water mark — route loudly
    currentVersion.map(readManifest).foreach { m =>
      require(!m.contains(table + IdentitySuffix),
        s"table '$table' has an identity column — append through appendIdentity " +
          "(ids are GENERATED ALWAYS; DML verbs like mergeInto may still carry " +
          "explicit ids for cross-system replication)")
    }
    // generated columns: compute omitted ones / validate provided ones
    // before the schema guard sees the batch
    val df = currentVersion.map(readManifest)
      .map(m => applyGenerated(table, m, df0, "append")).getOrElse(df0)
    // schema drift guard: a multi-path parquet read takes ONE schema, so
    // a batch whose columns diverge from the table would silently read
    // back with dropped, null, or silently-coerced columns — fail at the
    // append instead. Names AND types must match (an id INT batch into
    // an id BIGINT table is exactly the silent-coercion case); only
    // nullability is ignored, since a parquet round-trip legitimately
    // relaxes it. The manifest's checkpointed schema serves the check
    // for free; pre-metadata manifests fall back to one footer read.
    currentVersion.map(readManifest).foreach { m =>
      m.get(table).foreach { rel =>
        // nullability is ignored DEEPLY (asNullable): a struct column
        // built from SQL literals carries non-null nested fields, and a
        // parquet round-trip legitimately relaxes any of them
        def sig(st: org.apache.spark.sql.types.StructType): Seq[(String, org.apache.spark.sql.types.DataType)] =
          st.fields.map(f =>
            (f.name, org.apache.spark.sql.GraftShim.asNullable(f.dataType))).toSeq
        // the guard compares the batch against the VISIBLE (logical)
        // schema — under a column mapping the batch speaks post-rename
        // names; physical translation happens at staging below
        val existing = logicalSchema(m, table)
          .getOrElse(s.read.parquet(absPaths(rel).head).schema)
        if (mergeSchema) {
          // ADDITIVE evolution (the Delta mergeSchema contract): new
          // columns append to the table schema and old files read them
          // back as null; a batch may also omit existing columns (its
          // rows read back null there). What stays forbidden is a TYPE
          // change on a shared column — the parquet reader cannot
          // re-type existing pages, so it must fail here, loudly, not
          // silently coerce at scan time.
          val eTypes = existing.fields.map(f =>
            f.name -> org.apache.spark.sql.GraftShim.asNullable(f.dataType)).toMap
          df.schema.fields.foreach { f =>
            eTypes.get(f.name).foreach(t => require(
              t == org.apache.spark.sql.GraftShim.asNullable(f.dataType),
              s"mergeSchema append: column '${f.name}' type ${f.dataType.simpleString} " +
                s"conflicts with table '$table' type ${t.simpleString} — " +
                "additive evolution only (add columns, never re-type)"))
          }
        } else require(sig(df.schema) == sig(existing),
          s"append schema ${df.schema.simpleString} != table '$table' schema " +
            s"${existing.simpleString} — evolve via append(mergeSchema = true)")
      }
      // CHECK constraints gate the batch BEFORE any bytes stage: one
      // O(batch) aggregate job, only when the table declares checks
      enforceChecks(table, m, df, "append")
    }
    // Under a column mapping the batch (logical names) STAGES under
    // physical names. mergeSchema's batch-only columns get a fresh
    // physical name; a name matching a RETIRED (dropped) physical
    // column is suffixed, so dropped data can never resurrect on
    // re-add. Physical names are rename-stable, so translating with
    // the entry manifest is race-safe against concurrent renames.
    val headM0 = currentVersion.map(readManifest).getOrElse(Map.empty[String, String])
    val mapping0 = colmapOf(headM0, table)
    val newPairs: Seq[(String, String)] = mapping0 match {
      case None => Nil
      case Some(pairs) =>
        val known = pairs.map(_._1).toSet
        val retired = storedSchema(headM0, table).map(_.fieldNames.toSet).getOrElse(Set.empty)
        df.columns.toSeq.filterNot(known).map { l =>
          l -> (if (!retired(l)) l else s"${l}__v${currentVersion.getOrElse(0L) + 1}")
        }
    }
    val physByLogical: Map[String, String] =
      mapping0.map(_ ++ newPairs).getOrElse(Nil).toMap
    val dfPhys =
      if (mapping0.isEmpty) df
      else df.select(df.columns.map(c => df(c).as(physByLogical.getOrElse(c, c))): _*)
    def phys(c: String): String = physByLogical.getOrElse(c, c)
    var attempt = currentVersion.getOrElse(0L) + 1
    var written: Option[String] = None // data written once; races re-merge the manifest only
    var newFiles: Seq[(String, Long)] = Nil // the new dir's files, as the write reported them
    for (_ <- 1 to MaxAttempts) {
      val cur = currentVersion.map(readManifest).getOrElse(Map.empty[String, String])
      // consumed-tag check against manifest STATE (survives compact /
      // partial rewrites); the dir-name probe covers manifests written
      // before tags lines existed
      val dupe = tag.exists(t => tagsOf(cur, table).contains(t) ||
        cur.get(table).exists(rel => splitRel(rel).exists(_.endsWith(s"@$t"))))
      if (dupe) return currentVersion.get
      val rel = written.getOrElse {
        val r = stageRel(attempt, table) + tag.fold("")(t => s"@$t")
        // clustering contract: range-cluster the batch on the table's
        // clusterBy columns and ALWAYS sidecar-stat them — pruning on
        // the cluster key is the whole point of the layout. A
        // mergeSchema batch may legitimately omit a cluster column
        // (reads null there) — cluster on the present subset.
        val clusterPhys = clusterColsOf(headM0, table)
          .filter(df.columns.contains).map(phys)
        newFiles = writeFiles(clusterBatch(dfPhys, clusterPhys), r,
          (statsCols.map(phys) ++ clusterPhys).distinct, bloomCols.map(phys)).entries
        written = Some(r)
        r
      }
      val newRel = cur.get(table).fold(rel)(b => s"$b;$rel")
      // read metadata: existing files from the manifest (or a one-time
      // listing upgrade of a pre-metadata table), plus the new dir
      val baseFiles = storedFiles(cur, table).getOrElse(
        cur.get(table).map(b => listRelFiles(splitRel(b))).getOrElse(Nil))
      val schema =
        if (mergeSchema)
          // table schema ∪ batch schema (PHYSICAL on both sides): the
          // union is what every read (and the NEXT append's guard,
          // through the logical view) must see from here on
          storedSchema(cur, table)
            .orElse(dataEntries(cur).get(table).map(writtenSchema))
            .map(b => unionSchema(b,
              predictReadBack(dfPhys.schema).getOrElse(writtenSchema(rel))))
            .getOrElse(predictReadBack(dfPhys.schema).getOrElse(writtenSchema(rel)))
        else storedSchema(cur, table)
          .orElse(predictReadBack(dfPhys.schema)).getOrElse(writtenSchema(rel))
      // a mapped table's mergeSchema batch extends the VISIBLE view
      // with its new columns (identity tables need no line — physical
      // names are the view)
      val colmapExt: Map[String, String] =
        if (newPairs.isEmpty) Map.empty
        else {
          val curPairs = colmapOf(cur, table).getOrElse(mapping0.get)
          val have = curPairs.map(_._1).toSet
          Map((table + ColmapSuffix) ->
            encodeColmap(curPairs ++ newPairs.filterNot(p => have(p._1))))
        }
      val tagged = cur + (table -> newRel) ++ tag.map(t =>
        (table + TagsSuffix) -> (tagsOf(cur, table) + t).toSeq.sorted.mkString(",")) ++
        Map(schemaLine(table, schema), filesLine(table, baseFiles ++ newFiles)) ++ colmapExt ++
        // recomputed against THIS manifest on every race retry, so a
        // caller-maintained line (copyInto's load registry) merges with
        // concurrent commits instead of silently reverting them — and
        // the function may throw to refuse on a genuine conflict
        extraLines(cur)
      if (writeManifest(attempt, tagged)) return attempt
      attempt = math.max(attempt + 1, currentVersion.getOrElse(0L) + 1)
    }
    throw new IllegalStateException(
      s"append lost $MaxAttempts consecutive version races under $root")
  }

  /** COPY INTO — idempotent EXTERNAL-file ingest (Databricks' COPY
    * INTO statement semantics, public design): load parquet files from
    * a source location into the table, remembering every ingested file
    * in the manifest (`@copied`, identity = absolute path + length) so
    * a re-run — same files, a superset after new arrivals, a crashed
    * orchestrator's retry — ingests ONLY what is new and returns the
    * current version untouched when nothing is. One listing of the
    * EXTERNAL dir per call (unavoidable: the source has no manifest;
    * the registry lookup itself is manifest-state, zero IO). The data
    * lands through [[append]], so CHECK/generated/appendOnly gates,
    * clusterBy layout and stats sidecars all ride, and the load
    * registry advances ATOMICALLY with the data in the same published
    * version — a crash between staging and publish leaves both out, a
    * crash after leaves both in; replays converge either way.
    * Concurrent copyInto calls that ingested an overlapping file
    * refuse loudly at publish (the re-run sees the winner's registry
    * and skips). Returns (version, filesIngested).
    */
  def copyInto(table: String, srcDir: String,
               statsCols: Seq[String] = Nil): (Long, Int) = {
    val srcPath = new Path(srcDir)
    val srcFs = srcPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val listed = FileStats.dataFiles(srcFs, srcPath)
      .map(f => (f.getPath.toString, f.getLen))
    require(listed.nonEmpty, s"copyInto('$table'): no data files under $srcDir")
    val cur = currentVersion.map(readManifest).getOrElse(Map.empty[String, String])
    val fresh = listed.filterNot(copiedOf(cur, table).contains)
    if (fresh.isEmpty) return (currentVersion.getOrElse(0L), 0)
    val batch = s.read.parquet(fresh.map(_._1): _*)
    val freshSet = fresh.toSet
    val v = append(table, batch, statsCols = statsCols, extraLines = { m =>
      val reg = copiedOf(m, table)
      val overlap = freshSet.intersect(reg)
      if (overlap.nonEmpty) throw new IllegalStateException(
        s"copyInto('$table'): ${overlap.size} source file(s) were ingested by a " +
          s"concurrent copyInto (e.g. ${overlap.head._1}) — re-run; the retry " +
          "will skip them")
      Map(copiedLine(table, reg ++ freshSet))
    })
    (v, fresh.size)
  }

  /** Publish ONE streaming epoch's staged task files as an atomic
    * append — the driver half of `writeStream.toTable`
    * ([[graft.streaming.GraftStreamingWrite]] writes the files, this
    * publishes them). Differences from [[append]] are exactly the
    * streaming-direct-write contract:
    *
    *  - the data is ALREADY on disk (per-task direct parquet writes —
    *    no second write, no shuffle); only `written` (the epoch's
    *    commit messages: names, lengths, rows, footer stats) are
    *    referenced, and stray files in the staging dir from failed task
    *    attempts are deleted here, before anything becomes visible;
    *  - the consumed-tag check makes a REPLAYED epoch (restart from
    *    checkpoint) a no-op that deletes its own fresh staging dir —
    *    the published one has a different run nonce;
    *  - enforcement is append's, evaluated over a zero-listing read of
    *    the staged files: schema signature vs the logical view, CHECK
    *    constraints and generated-column validation (one O(batch)
    *    aggregate each, only when declared). Identity tables and
    *    column-mapped tables refuse loudly (staged bytes carry logical
    *    names and lake-assigned ids cannot be amended) — the
    *    foreachBatch + append/appendIdentity path covers both.
    *    appendOnly tables accept (this IS an append).
    */
  private[graft] def publishStreamEpoch(table: String, stagingRel: String,
                                        written: Seq[WrittenFile], tag: String,
                                        writeSchema: org.apache.spark.sql.types.StructType): Long = {
    require(tag.matches("[A-Za-z0-9_-]+"), s"epoch tag '$tag' must be [A-Za-z0-9_-]+")
    def dropStaging(): Unit = {
      val p = new Path(s"$root/$stagingRel")
      if (fs.exists(p)) fs.delete(p, true)
      ()
    }
    val v0 = currentVersion.getOrElse(
      throw new IllegalStateException(s"no commits under $root — CREATE the table first"))
    if (written.isEmpty) { dropStaging(); return v0 } // rowless epoch: nothing to publish
    val m0 = readManifest(v0)
    require(dataEntries(m0).contains(table),
      s"table '$table' not committed under $root — create it before streaming into it")
    require(!m0.contains(table + IdentitySuffix),
      s"table '$table' has an identity column — stream through foreachBatch + appendIdentity " +
        "(ids are lake-assigned; staged bytes cannot be amended)")
    require(colmapOf(m0, table).forall(_.forall(p => p._1 == p._2)),
      s"table '$table' carries a column mapping — stream through foreachBatch + append " +
        "(the direct writer stages logical column names)")
    val visible = logicalSchema(m0, table).getOrElse(
      writtenSchema(dataEntries(m0)(table)))
    def sig(st: org.apache.spark.sql.types.StructType): Seq[(String, org.apache.spark.sql.types.DataType)] =
      st.fields.map(f => (f.name, f.dataType)).toSeq
    require(sig(writeSchema) == sig(visible),
      s"streaming write schema ${writeSchema.simpleString} != table '$table' schema " +
        s"${visible.simpleString}")
    // orphan sweep: failed task attempts may have left files the epoch's
    // commit messages do not name — they must never become visible
    val files = WrittenDir(stagingRel, written).entries
    val dir = new Path(s"$root/$stagingRel")
    sweepUnreported(dir, written.map(_.name).toSet)
    // write-time contracts over the staged bytes (zero-listing read)
    val staged = org.apache.spark.sql.GraftLakeShim.parquetByManifest(
      s, files.map { case (r, l) => (s"$root/$r", l) }, writeSchema)
    applyGenerated(table, m0, staged, "streaming append")
    enforceChecks(table, m0, staged, "streaming append")
    // stats sidecar for the staged epoch, like every other
    // row-introducing write: cluster columns when declared (streamed
    // files keep file skipping alive — less tight than a clustered
    // batch, compact re-tightens), ALL eligible columns otherwise (so
    // metadata-only aggregates, which refuse on any sidecar-less file,
    // survive writeStream.toTable). The stats arrive in the epoch's
    // commit messages, each task's read of the footer it just closed —
    // no harvest job, no data IO.
    val clusterPhys = clusterColsOf(m0, table).toSet // colmap is identity here (guard above)
    FileStats.writeSidecar(fs, dir, written.map { f =>
      f.name -> (if (clusterPhys.isEmpty) f.stats
                 else f.stats.filter { case (c, _) => c == FileStats.RowsCol || clusterPhys(c) })
    }.toMap)
    var attempt = v0 + 1
    for (_ <- 1 to MaxAttempts) {
      val cur = readManifest(currentVersion.get)
      if (tagsOf(cur, table).contains(tag)) { dropStaging(); return currentVersion.get }
      val baseRel = cur.get(table).getOrElse(throw new NoSuchElementException(
        s"table '$table' left the manifest during the epoch publish"))
      val baseFiles = storedFiles(cur, table).getOrElse(listRelFiles(splitRel(baseRel)))
      val schemaOut = storedSchema(cur, table)
        .orElse(predictReadBack(writeSchema)).getOrElse(writeSchema)
      val lines = cur + (table -> s"$baseRel;$stagingRel") +
        ((table + TagsSuffix) -> (tagsOf(cur, table) + tag).toSeq.sorted.mkString(",")) ++
        Map(schemaLine(table, schemaOut), filesLine(table, baseFiles ++ files))
      if (writeManifest(attempt, lines)) return attempt
      attempt = math.max(attempt + 1, currentVersion.getOrElse(0L) + 1)
    }
    throw new IllegalStateException(
      s"publishStreamEpoch lost $MaxAttempts consecutive version races under $root")
  }

  /** The table's identity column and its next value (None = no
    * identity declared). Metadata like [[checks]]: travels with
    * clone/restore/time-travel.
    */
  def identityColumn(table: String, version: Option[Long] = None): Option[(String, Long)] = {
    val v = version.orElse(currentVersion).getOrElse(
      throw new IllegalStateException(s"no commits under $root"))
    readManifest(v).get(table + IdentitySuffix).map { s0 =>
      val i = s0.lastIndexOf(':')
      (s0.substring(0, i), s0.substring(i + 1).toLong)
    }
  }

  /** Declare `column` as the table's IDENTITY column (GENERATED ALWAYS
    * AS IDENTITY). The column must exist as BIGINT; the high-water
    * mark initializes past the current max with one scan (the one
    * O(table) cost, like [[addCheck]]), so existing ids are never
    * reissued. From then on batches land through [[appendIdentity]]
    * and must OMIT the column.
    */
  def addIdentity(table: String, column: String): Long = {
    val v0 = currentVersion.getOrElse(
      throw new IllegalStateException(s"no commits under $root"))
    val m0 = readManifest(v0)
    val rel = dataEntries(m0).getOrElse(table,
      throw new NoSuchElementException(s"table '$table' not committed under $root"))
    val schema = logicalSchema(m0, table).getOrElse(writtenSchema(rel))
    require(schema.fieldNames.contains(column),
      s"identity column '$column' not a column of table '$table'")
    require(schema(column).dataType == org.apache.spark.sql.types.LongType,
      s"identity column '$column' must be BIGINT, is ${schema(column).dataType.simpleString}")
    require(!decodeChecks(m0.get(table + GenSuffix)).contains(column),
      s"column '$column' is a generated column — it cannot also be identity")
    val mx = read(table, Some(v0)).agg(max(col(column))).head()
    val next = if (mx.isNullAt(0)) 1L else mx.getLong(0) + 1L
    var attempt = v0 + 1
    for (_ <- 1 to MaxAttempts) {
      val cur = readManifest(currentVersion.get)
      require(!cur.contains(table + IdentitySuffix),
        s"table '$table' already has an identity column — drop it first")
      if (writeManifest(attempt, cur + ((table + IdentitySuffix) -> s"$column:$next")))
        return attempt
      attempt = math.max(attempt + 1, currentVersion.getOrElse(0L) + 1)
    }
    throw new IllegalStateException(
      s"addIdentity lost $MaxAttempts consecutive version races under $root")
  }

  /** Re-sync the identity high-water mark with the table's actual max
    * (Delta's `ALTER TABLE … SYNC IDENTITY`, public design). DML verbs
    * that carry EXPLICIT ids — mergeInto/applyChanges replicating from
    * another system — can legitimately land values above the mark;
    * without a sync, a later [[appendIdentity]] would eventually reach
    * and duplicate them. One O(table) max() scan; a mark already past
    * the max is left alone (never moves backward).
    */
  def syncIdentity(table: String): Long = {
    val v0 = currentVersion.getOrElse(
      throw new IllegalStateException(s"no commits under $root"))
    val (idCol, hw) = identityColumn(table, Some(v0)).getOrElse(
      throw new NoSuchElementException(s"no identity column on table '$table' under $root"))
    val mx = read(table, Some(v0)).agg(max(col(idCol))).head()
    val next = if (mx.isNullAt(0)) hw else math.max(hw, mx.getLong(0) + 1L)
    if (next == hw) return v0 // already in sync: no version churn
    var attempt = v0 + 1
    for (_ <- 1 to MaxAttempts) {
      val cur = readManifest(currentVersion.get)
      val (c2, hw2) = cur.get(table + IdentitySuffix).map { s0 =>
        val i = s0.lastIndexOf(':'); (s0.substring(0, i), s0.substring(i + 1).toLong)
      }.getOrElse(throw new NoSuchElementException(
        s"identity column of '$table' dropped concurrently"))
      val bumped = math.max(next, hw2)
      if (bumped == hw2) return currentVersion.get
      if (writeManifest(attempt, cur + ((table + IdentitySuffix) -> s"$c2:$bumped")))
        return attempt
      attempt = math.max(attempt + 1, currentVersion.getOrElse(0L) + 1)
    }
    throw new IllegalStateException(
      s"syncIdentity lost $MaxAttempts consecutive version races under $root")
  }

  /** Drop the identity declaration (the column and its values stay). */
  def dropIdentity(table: String): Long = {
    var attempt = currentVersion.getOrElse(
      throw new IllegalStateException(s"no commits under $root")) + 1
    for (_ <- 1 to MaxAttempts) {
      val cur = readManifest(currentVersion.get)
      if (!cur.contains(table + IdentitySuffix)) throw new NoSuchElementException(
        s"no identity column on table '$table' under $root")
      if (writeManifest(attempt, cur - (table + IdentitySuffix))) return attempt
      attempt = math.max(attempt + 1, currentVersion.getOrElse(0L) + 1)
    }
    throw new IllegalStateException(
      s"dropIdentity lost $MaxAttempts consecutive version races under $root")
  }

  /** Append a batch into an identity-bearing table: the lake assigns
    * `idCol` as dense contiguous values above the high-water mark (the
    * two-pass distributed index — per-partition counts then prefix
    * offsets; no global sort, no rows to the driver) and advances the
    * mark IN THE SAME manifest publish as the data. A lost version
    * race re-reads the mark and RE-ASSIGNS before retrying, so two
    * racing identity appends land disjoint contiguous ranges; a
    * replayed tag is a no-op that burns nothing.
    */
  def appendIdentity(table: String, df0: DataFrame, tag: Option[String] = None,
                     statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): Long = {
    tag.foreach(t => require(t.matches("[A-Za-z0-9_-]+"),
      s"append tag '$t' must be [A-Za-z0-9_-]+ (it names a directory)"))
    val n = df0.count()
    if (n == 0L) return currentVersion.getOrElse(
      throw new IllegalStateException(s"no commits under $root"))
    var stagedHw: Option[Long] = None
    var stagedRel: String = null
    var stagedFiles: Seq[(String, Long)] = Nil
    var attempt = currentVersion.getOrElse(0L) + 1
    for (_ <- 1 to MaxAttempts) {
      val cur = readManifest(currentVersion.getOrElse(
        throw new IllegalStateException(s"no commits under $root")))
      val dupe = tag.exists(t => tagsOf(cur, table).contains(t))
      if (dupe) return currentVersion.get
      val (idCol, hw) = identityColumn(table, currentVersion).getOrElse(
        throw new IllegalStateException(
          s"table '$table' has no identity column — use append, or addIdentity first"))
      require(!df0.columns.contains(idCol),
        s"identity column '$idCol' is GENERATED ALWAYS — the batch must omit it " +
          "(the lake assigns the values)")
      if (!stagedHw.contains(hw)) {
        // (re-)assign against the current mark and stage; a superseded
        // staging dir is an unpublished orphan vacuum's age guard clears
        val assigned = {
          val rdd = df0.rdd.zipWithIndex().map { case (row, i) =>
            org.apache.spark.sql.Row.fromSeq(row.toSeq :+ (hw + i)) }
          s.createDataFrame(rdd, df0.schema.add(idCol, org.apache.spark.sql.types.LongType, false))
        }
        val visible = logicalSchema(cur, table).getOrElse(
          storedSchema(cur, table).getOrElse(assigned.schema))
        require(visible.fieldNames.sorted.sameElements(assigned.columns.sorted),
          s"identity append columns ${assigned.columns.sorted.mkString(",")} != " +
            s"table '$table' columns ${visible.fieldNames.sorted.mkString(",")}")
        val ordered = assigned.select(visible.fieldNames.map(col(_)).toIndexedSeq: _*)
        val checked = applyGenerated(table, cur, ordered, "append")
        enforceChecks(table, cur, checked, "append")
        val phys = toPhysical(cur, table, checked)
        val r = stageRel(attempt, table) + tag.fold("")(t => s"@$t")
        // clustering contract rides identity appends too (the batch is
        // non-empty here — the n == 0 early return above)
        val clusterPhys = clusterColsOf(cur, table)
          .filter(checked.columns.contains).map(c => physicalName(cur, table, c))
        stagedFiles = writeFiles(clusterBatch(phys, clusterPhys), r,
          (statsCols.map(c => physicalName(cur, table, c)) ++ clusterPhys).distinct,
          bloomCols.map(c => physicalName(cur, table, c))).entries
        stagedHw = Some(hw)
        stagedRel = r
      }
      val baseRel = dataEntries(cur).getOrElse(table,
        throw new NoSuchElementException(s"table '$table' not committed under $root"))
      val baseFiles = storedFiles(cur, table).getOrElse(listRelFiles(splitRel(baseRel)))
      val schemaOut = storedSchema(cur, table).getOrElse(writtenSchema(stagedRel))
      val lines = cur + (table -> s"$baseRel;$stagedRel") ++ tag.map(t =>
        (table + TagsSuffix) -> (tagsOf(cur, table) + t).toSeq.sorted.mkString(",")) ++
        Map(schemaLine(table, schemaOut),
          filesLine(table, baseFiles ++ stagedFiles),
          (table + IdentitySuffix) -> s"${identityColumn(table, currentVersion).get._1}:${hw + n}")
      if (writeManifest(attempt, lines)) return attempt
      attempt = math.max(attempt + 1, currentVersion.getOrElse(0L) + 1)
    }
    throw new IllegalStateException(
      s"appendIdentity lost $MaxAttempts consecutive version races under $root")
  }

  /** Additive schema union for mergeSchema appends: base fields keep
    * their order and types; batch-only fields append as nullable (files
    * written before the column existed read it back as null — the
    * standard parquet missing-column contract the vectorized reader
    * implements).
    */
  private[sources] def unionSchema(base: org.apache.spark.sql.types.StructType,
                          add: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    val have = base.fieldNames.toSet
    org.apache.spark.sql.types.StructType(
      base.fields ++ add.fields.filterNot(f => have(f.name)).map(_.copy(nullable = true)))
  }

  /** Conjunction of inclusive ranges as a Column (null where any ranged
    * column is null — callers coalesce to pin the three-valued edge).
    * No ranges is `true`; the verbs refuse an empty range list
    * themselves, with their own message.
    */
  private[sources] def matchCond(ranges: Seq[FileStats.ColRange]): org.apache.spark.sql.Column =
    ranges.map { r =>
      val c = col(r.col)
      val conds = r.lo.map(v => c >= lit(v)).toSeq ++ r.hi.map(v => c <= lit(v)).toSeq
      // a fully-unbounded range matches every row — same semantics
      // readWhere gives it (no filter), instead of an empty.reduce throw
      if (conds.isEmpty) lit(true) else conds.reduce(_ && _)
    }.reduceOption(_ && _).getOrElse(lit(true))

  /** The copy-on-write engine under every row-level verb —
    * [[deleteWhere]], [[updateWhere]], [[replaceWhere]], [[mergeClauses]]
    * and the keyed [[applyChanges]] body (so [[mergeInto]] and
    * [[deleteKeys]]): classify the table's files by whether their stats
    * admit a row matching ALL `ranges`, re-reference the provably-clean
    * ones, run `rewrite` over the rest, publish. `what` is the verb
    * family ("delete", "update", "replace", "merge", "deleteKeys"); the
    * generated-column/CHECK passes, the output clustering, the publish
    * seam and the errors all key off it. Callers refuse an empty
    * `ranges` themselves, under their own verb name. Returns the new
    * version (or the current one when stats prove no file can match —
    * a true no-op).
    */
  private[sources] def partialRewrite(table: String, ranges0: Seq[FileStats.ColRange],
                             statsCols: Seq[String], what: String,
                             rewrite: DataFrame => DataFrame,
                             forceOnEmpty: Boolean = false): Long = {
    require(!isMetaEntry(table),
      s"table name '$table' collides with the reserved '@' manifest lines")
    val headM = readManifest(currentVersion
      .getOrElse(throw new IllegalStateException(s"no commits under $root")))
    requireNotAppendOnly(headM, table, s"copy-on-write $what")
    require(!headM.contains(table + DvSuffix),
      s"table '$table' carries a deletion vector — compact (materialize) before copy-on-write $what")
    // file classification consults PHYSICAL sidecars; the rewrite
    // lambda (and its caller-built predicates) runs on the LOGICAL
    // view; the rewritten rows stage back under physical names
    val ranges = physicalRanges(headM, table, ranges0)
    val baseRel = dataEntries(headM).getOrElse(table,
      throw new NoSuchElementException(s"table '$table' not committed under $root"))
    // classification against each dir's sidecar — the same pruning as
    // readWhere, candidates from the manifest (a pre-metadata table
    // lists its parts once)
    val (might, keep) = splitByStats(
      storedFiles(headM, table).getOrElse(listRelFiles(splitRel(baseRel))), ranges)
    val touch = might.map { case (r, len) => (s"$root/$r", len) } // abs path, len
    // stats proving no file can match ends a delete/update here — but a
    // MERGE with an all-insert source still has rows to land, so its
    // rewrite runs over an EMPTY touched set (forceOnEmpty)
    if (touch.isEmpty && !forceOnEmpty) return currentVersion.get
    val touchedRead =
      if (touch.isEmpty)
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          logicalSchema(headM, table).getOrElse(writtenSchema(baseRel)))
      else toLogical(headM, table, storedSchema(headM, table) match {
        case Some(sc) => org.apache.spark.sql.GraftLakeShim.parquetByManifest(s, touch.toSeq, sc)
        case None => s.read.parquet(touch.map(_._1).toSeq: _*)
      })
    val rewritten0 = rewrite(touchedRead)
    // update/merge/replace rewrites can INTRODUCE rows (SET results,
    // upserted source rows, the replaceWhere batch): generated columns
    // are RECOMPUTED over the rewrite output (identity on already-
    // correct rows — the repair that keeps a derivation true when a
    // transform touched its inputs), then CHECK constraints gate the
    // result before it stages; pure deletes only drop rows and skip
    // both passes
    val rewritten =
      if (what == "update" || what == "merge" || what == "replace") {
        val r = recomputeGenerated(table, headM, rewritten0)
        enforceChecks(table, headM, r, what)
        r
      } else rewritten0
    // test seam: lets TxnSpec hold two writers at the door AFTER both
    // classified against the same head, guaranteeing the publish race
    // the concurrent-merge path exists for (no-op in production)
    beforePublish(table, what)
    var attempt = currentVersion.getOrElse(0L) + 1
    for (_ <- 1 to MaxAttempts) {
      val cur = readManifest(currentVersion.get)
      // CONCURRENT-WRITER RESOLUTION (the Delta conflict-detection
      // rules, public design): a same-table commit that landed since
      // classification MERGES when provably DISJOINT from this
      // rewrite — (a) no file this rewrite READ was rewritten or
      // removed, (b) no file it added might hold a row matching our
      // predicate (per-file stats; stat-less files are conservative
      // conflicts), (c) no DV/column-mapping state change. Then the
      // kept set REBASES onto the current file list (their appends and
      // disjoint deletes survive alongside ours). Anything else throws
      // — correctness over convenience.
      val keepNow: Seq[(String, Long)] =
        if (cur.get(table).contains(baseRel)) keep.toSeq
        else {
          def conflict(why: String): Nothing =
            throw new java.util.ConcurrentModificationException(
              s"$table changed concurrently during $what and cannot merge: $why; re-run")
          if (!cur.contains(table)) conflict("the table left the head manifest")
          if (cur.get(table + DvSuffix) != headM.get(table + DvSuffix))
            conflict("its deletion-vector state changed")
          if (cur.get(table + ColmapSuffix) != headM.get(table + ColmapSuffix))
            conflict("its column mapping changed")
          val touchedRels = touch.map { case (abs, _) => abs.stripPrefix(s"$root/") }.toSet
          val baseRels = touchedRels ++ keep.map(_._1)
          val curFiles = storedFiles(cur, table).getOrElse(
            conflict("the concurrent commit carries no checkpointed file list"))
          val curSet = curFiles.map(_._1).toSet
          val removedTouched = touchedRels -- curSet
          if (removedTouched.nonEmpty)
            conflict(s"file(s) this $what read were rewritten (${removedTouched.take(3).mkString(", ")})")
          val added = curFiles.filterNot { case (r, _) => baseRels.contains(r) }
          added.groupBy { case (r, _) => new Path(root, r).getParent }
            .foreach { case (dir, fl) =>
              val st = FileStats.readSidecar(fs, dir).getOrElse(
                conflict(s"concurrently added files in $dir carry no stats to prove disjointness"))
              fl.foreach { case (r, len) =>
                val might = FileStats.prune(
                  Seq(new org.apache.hadoop.fs.FileStatus(
                    len, false, 1, 0L, 0L, new Path(root, r))), st, ranges).nonEmpty
                if (might) conflict(s"concurrently added file $r might match this $what's predicate")
              }
            }
          curFiles.filterNot { case (r, _) => touchedRels.contains(r) }
        }
      val rel = stageRel(attempt, table)
      val rewrittenPhys = toPhysical(headM, table, rewritten)
      // clustering contract: update/delete rewrites touch files that
      // were value-clustered at write, so their output is still
      // value-local — an intra-partition sort re-tightens row-group
      // stats WITHOUT adding a shuffle to the DML hot path (global
      // re-clustering is compact's job). A REPLACE introduces a fresh
      // batch with arbitrary distribution, so it pays the same one
      // range shuffle append pays — INSERT OVERWRITE into a clustered
      // table comes out clustered, not "clustered after the next
      // compact". A MERGE's output leaves its join hash-partitioned:
      // coalesced into several files, each file would span the whole
      // touched key range and every later merge would touch them all,
      // so a merge sized to more than one file range-clusters into
      // exactly that many key-disjoint files (one file is sorted in
      // place, no shuffle). The sidecar always re-covers the cluster
      // columns.
      val clusterPhys = clusterColsOf(headM, table)
        .filter(rewritten.columns.contains).map(c => physicalName(headM, table, c))
      // OUTPUT FILE SIZING (guide §6): the rewrite output otherwise
      // inherits the shuffle partition count (a merge's join leaves
      // spark.sql.shuffle.partitions post-shuffle partitions, and AQE's
      // parallelism-first coalescing keeps them above minPartitionSize,
      // not at the advisory file size) — a kilobyte-scale rewrite was
      // writing 32 near-empty files that every later read, stats
      // harvest and rewrite paid 32 tasks for. The touched-file byte
      // sum is a known, conservative envelope of the rewrite output, so
      // derive the file count from it: coalesce only ever REDUCES, so a
      // rewrite already wider than target/bytes is untouched — the
      // sizing is scale-adaptive, never a local[32] constant. (The
      // all-insert merge case has no touched bytes and keeps its
      // incoming partitioning.)
      val targetFileBytes = s.conf.getOption("spark.graft.write.targetFileBytes")
        .map(_.toLong).getOrElse(128L << 20)
      val touchedBytes = touch.map(_._2).sum
      val nFiles =
        if (touch.isEmpty) None
        else Some(((touchedBytes + targetFileBytes - 1) / targetFileBytes).max(1L).min(1 << 20).toInt)
      val rewrittenSized = nFiles.fold(rewrittenPhys)(rewrittenPhys.coalesce)
      val stagedOut =
        if (clusterPhys.isEmpty) rewrittenSized
        else if (what == "replace") clusterBatch(rewrittenPhys, clusterPhys)
        else if (what == "merge" && nFiles.exists(_ > 1)) clusterBatch(rewrittenPhys, clusterPhys, nFiles)
        else rewrittenSized.sortWithinPartitions(clusterPhys.map(col): _*)
      // empty write partitions leave no file (stats could never prune a
      // rowless one, so repeat passes converge)
      val written = writeFiles(stagedOut, rel,
        (statsCols.map(c => physicalName(headM, table, c)) ++ clusterPhys).distinct)
      // every touched row may have been filtered away: an entry for a
      // rowless stage is dead weight — omit it, unless nothing else is
      // kept: a fully-emptied table keeps the stage's one rowless file
      // so the entry still carries the schema
      val parts =
        if (written.rows > 0L || keepNow.isEmpty) keepNow.map(_._1) :+ rel
        else keepNow.map(_._1)
      // refresh the read metadata: kept files keep their recorded (or
      // just-statted) lengths, the new part as the write reported it
      val newFiles =
        if (parts.contains(rel)) keepNow ++ written.entries
        else keepNow
      val newSchema =
        if (parts.contains(rel)) {
          val w = predictReadBack(rewrittenPhys.schema).getOrElse(writtenSchema(rel))
          // keep RETIRED (dropped-under-mapping) physical columns in
          // the stored schema while any kept file still holds them:
          // the retired name stays visible to the re-add collision
          // check, so a later re-added column can't resurrect them
          if (keepNow.nonEmpty)
            storedSchema(cur, table).map(old => unionSchema(w, old)).getOrElse(w)
          else w
        } else storedSchema(cur, table).getOrElse(writtenSchema(parts.head))
      val metaLines = Map(schemaLine(table, newSchema), filesLine(table, newFiles))
      if (writeManifest(attempt, cur + (table -> parts.mkString(";")) ++ metaLines)) return attempt
      attempt = math.max(attempt + 1, currentVersion.getOrElse(0L) + 1)
    }
    throw new IllegalStateException(
      s"$what lost $MaxAttempts consecutive version races under $root")
  }
}
