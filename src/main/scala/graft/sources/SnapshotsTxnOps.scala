package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Transactional write path of [[Snapshots]] — commit/stage, DDL
  * (create/drop/rename table), serializable commits, transactions,
  * rollback, ANALYZE, and the externally-staged publish. Split from
  * the monolith along its documented verb families (r9); no behavior
  * change.
  */
private[sources] trait SnapshotsTxnOps { self: Snapshots =>

  /** Atomically commit a set of tables: write every DataFrame under
    * the next version's directory, then publish the manifest. Returns
    * the committed version. Retries the version claim on a concurrent
    * commit (data is re-written under the bumped version — optimistic
    * concurrency pays on conflict, not on the happy path).
    *
    * `statsCols` names columns whose per-file min/max should be
    * recorded (from the parquet footers the write ALREADY produced —
    * no data re-scan) into a `_stats` sidecar inside the table dir.
    * The sidecar lands before the manifest publishes, so stats are
    * covered by the same atomic commit; [[readWhere]] consults them
    * for file skipping.
    */
  def commit(tables: Map[String, DataFrame],
             statsCols: Map[String, Seq[String]] = Map.empty,
             bloomCols: Map[String, Seq[String]] = Map.empty,
             bloomFpp: Double = 0.01): Long = {
    tables.keys.foreach(t => require(!isMetaEntry(t),
      s"table name '$t' collides with the reserved '@' manifest lines"))
    // generated columns computed/validated, then CHECK constraints gate
    // the new data — all before any bytes stage (one O(batch) job per
    // guarded table, nothing for unguarded ones)
    val tables1 = currentVersion.map(readManifest).map { m =>
      val t1 = tables.map { case (t, df) => t -> applyGenerated(t, m, df, "commit") }
      t1.foreach { case (t, df) => enforceChecks(t, m, df, "commit") }
      t1
    }.getOrElse(tables)
    var attempt = currentVersion.getOrElse(0L) + 1
    // staged dirs are writer-unique: a lost manifest race retries
    // manifest-only (the replaceTable pattern), never re-writes data
    var stagedMemo: Option[Map[String, String]] = None
    for (_ <- 1 to MaxAttempts) {
      val written = stagedMemo.getOrElse {
        val w = stageTables(tables1, statsCols, attempt, bloomCols, bloomFpp)
        stagedMemo = Some(w); w
      }
      // consumed append-tags — and declared CHECK constraints — follow
      // the table identity through a full re-commit: a replayed
      // micro-batch must stay a no-op even after the table's data was
      // wholly rewritten, and a replaced table stays guarded (tables
      // NOT in this commit leave the manifest, their tags and checks
      // leave with them)
      val carriedTags = currentVersion.map(readManifest).getOrElse(Map.empty)
        .filter { case (k, _) =>
          (isTagEntry(k) && tables.contains(k.stripSuffix(TagsSuffix))) ||
            (k.endsWith(CheckSuffix) && tables.contains(k.stripSuffix(CheckSuffix))) ||
            (k.endsWith(GenSuffix) && tables.contains(k.stripSuffix(GenSuffix))) ||
            (k.endsWith(PropsSuffix) && tables.contains(k.stripSuffix(PropsSuffix))) ||
            (k.endsWith(IdentitySuffix) && tables.contains(k.stripSuffix(IdentitySuffix))) }
      if (writeManifest(attempt, written ++ carriedTags)) return attempt
      attempt = math.max(attempt + 1, currentVersion.getOrElse(0L) + 1)
    }
    throw new IllegalStateException(
      s"commit lost $MaxAttempts consecutive version races under $root")
  }

  /** Stage every table's data under `attempt`'s writer-unique directory
    * and return its manifest lines (data entry + checkpointed read
    * metadata). Independent tables stage CONCURRENTLY: the commit's
    * wall time is the slowest table's write, not the sum — a
    * multi-table transaction's data jobs have no ordering dependency
    * (visibility is the single manifest publish, not the writes).
    */
  private[sources] def stageTables(tables: Map[String, DataFrame],
                          statsCols: Map[String, Seq[String]],
                          attempt: Long,
                          bloomCols: Map[String, Seq[String]] = Map.empty,
                          bloomFpp: Double = 0.01): Map[String, String] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    // stats/bloom columns must be top-level ATOMIC columns: a struct/
    // array/map has no single footer column chunk, so harvesting would
    // silently record nothing and every later "pruned" read would be a
    // lie of omission — refuse at declaration instead (nested data is
    // conservatively unpruned; residual predicates stay exact)
    (statsCols.keys ++ bloomCols.keys).foreach { name =>
      tables.get(name).foreach(df => FileStats.requireAtomicCols(name,
        df.schema, statsCols.getOrElse(name, Nil) ++ bloomCols.getOrElse(name, Nil)))
    }
    Await.result(Future.traverse(tables.toSeq) { case (name, df) =>
      Future {
        val rel = stageRel(attempt, name)
        val written = writeFiles(df, rel, statsCols.getOrElse(name, Nil),
          bloomCols.getOrElse(name, Nil), bloomFpp)
        // checkpoint the read metadata from what the write reported (at
        // worst one footer read for the schema): zero listing / zero
        // inference on EVERY future read
        Seq(name -> rel,
          schemaLine(name, predictReadBack(df.schema).getOrElse(writtenSchema(rel))),
          filesLine(name, written.entries))
      }
    }, scala.concurrent.duration.Duration.Inf).flatten.toMap
  }

  /** Names of the tables committed at `version` (default head); empty
    * for an empty lake. Driver-side manifest read only.
    */
  def tableNames(version: Option[Long] = None): Seq[String] =
    version.orElse(currentVersion) match {
      case None => Nil
      case Some(v) => dataEntries(readManifest(v)).keys.toSeq.sorted
    }

  /** Total recorded bytes of the table's data files at `version` —
    * from the manifest's `@files` lengths, zero IO. The SQL catalog's
    * join-strategy statistics read this.
    */
  def tableBytes(table: String, version: Option[Long] = None): Long = {
    val v = version.orElse(currentVersion).getOrElse(
      throw new IllegalStateException(s"no commits under $root"))
    val m = readManifest(v)
    storedFiles(m, table).map(_.map(_._2).sum).getOrElse {
      val rel = dataEntries(m).getOrElse(table,
        throw new NoSuchElementException(s"table '$table' not committed under $root"))
      listRelFiles(splitRel(rel)).map(_._2).sum
    }
  }

  /** CREATE TABLE into an EXISTING lake: adds `table` to the manifest
    * WITHOUT touching any other table ([[commit]] is the whole-lake
    * transaction that replaces the manifest; DDL must compose with
    * standing tables). Refuses if the table already exists. An empty
    * lake bootstraps fine (first manifest). The SQL catalog's CREATE
    * TABLE lands here.
    *
    * `props` lands as the table's `@props` line in the SAME manifest
    * write (one version for CREATE + TBLPROPERTIES / PARTITIONED BY —
    * no second commit, no window where the table exists without its
    * contracts). `clusterBy` is validated against the created schema
    * here, the same check [[setProperties]] applies later.
    *
    * `checks` (CHECK constraints) and `generated` (column → derivation
    * SQL) stage into the SAME single manifest write too — a crash
    * between CREATE and a follow-up ALTER can never leave the table
    * standing without its declared data-quality gates (and a re-run
    * CREATE after such a crash would otherwise fail "already exists").
    * Both are validated against the created schema by binding their
    * expressions before anything stages.
    */
  def createTable(table: String, df: DataFrame, statsCols: Seq[String] = Nil,
                  props: Map[String, String] = Map.empty,
                  checks: Seq[(String, String)] = Nil,
                  generated: Map[String, String] = Map.empty,
                  identity: Option[(String, Long)] = None): Long = {
    require(!isMetaEntry(table),
      s"table name '$table' collides with the reserved '@' manifest lines")
    validateIdentityDecl(table, df, generated, identity)
    props.keys.foreach(k => require(k.matches("[A-Za-z0-9_.-]+"),
      s"property key '$k' must be [A-Za-z0-9_.-]+"))
    props.get(ClusterByProp).foreach { v =>
      val cols = v.split(",").map(_.trim).filter(_.nonEmpty)
      require(cols.nonEmpty, s"$ClusterByProp requires at least one column")
      cols.foreach(c => require(df.columns.contains(c),
        s"$ClusterByProp column '$c' is not a column of table '$table' " +
          s"(${df.columns.sorted.mkString(", ")})"))
    }
    checks.foreach { case (n, _) => require(n.matches("[A-Za-z0-9_-]+"),
      s"constraint name '$n' must be [A-Za-z0-9_-]+") }
    generated.keys.foreach(c => require(df.columns.contains(c),
      s"generated column '$c' is not a column of table '$table'"))
    // bind every declared expression against the schema NOW — a parse
    // or resolution error must fail the CREATE, not the first write
    (checks.map(_._2) ++ generated.values).foreach(e =>
      df.limit(0).select(org.apache.spark.sql.functions.expr(e)))
    var attempt = currentVersion.getOrElse(0L) + 1
    for (_ <- 1 to MaxAttempts) {
      val cur = currentVersion.map(readManifest).getOrElse(Map.empty)
      require(!dataEntries(cur).contains(table),
        s"table '$table' already exists under $root")
      require(!cur.contains(table + ViewSuffix) && !cur.contains(table + MatviewSuffix),
        s"'$table' is a standing view under $root — a table cannot shadow it " +
          "(DROP VIEW / drop_matview first)")
      val written = stageTables(Map(table -> df),
        if (statsCols.nonEmpty) Map(table -> statsCols) else Map.empty, attempt)
      val propLine: Map[String, String] =
        (if (props.isEmpty) Map.empty[String, String]
         else Map((table + PropsSuffix) -> encodeChecks(props))) ++
        (if (checks.isEmpty) Map.empty[String, String]
         else Map((table + CheckSuffix) -> encodeChecks(checks.toMap))) ++
        (if (generated.isEmpty) Map.empty[String, String]
         else Map((table + GenSuffix) -> encodeChecks(generated))) ++
        identity.map { case (c, start) =>
          (table + IdentitySuffix) -> s"$c:$start" }.toMap
      if (writeManifest(attempt, cur ++ written ++ propLine)) return attempt
      attempt = math.max(attempt + 1, currentVersion.getOrElse(0L) + 1)
    }
    throw new IllegalStateException(
      s"createTable lost $MaxAttempts consecutive version races under $root")
  }

  /** Shared validation of an identity declaration arriving WITH a
    * create/replace (the one-commit DDL form, next to [[SnapshotsDmlOps
    * .addIdentity]]'s declare-on-standing-table form): the column must
    * exist as BIGINT, must not also be generated, and the seeding
    * batch must not smuggle explicit ids past GENERATED ALWAYS (the
    * high-water mark starts at `start`; rows with ids would be below
    * or astride it).
    */
  private def validateIdentityDecl(table: String,
                                   df: DataFrame,
                                   generated: Map[String, String],
                                   identity: Option[(String, Long)]): Unit =
    identity.foreach { case (c, _) =>
      require(df.columns.contains(c),
        s"identity column '$c' not a column of table '$table'")
      require(df.schema(c).dataType == org.apache.spark.sql.types.LongType,
        s"identity column '$c' must be BIGINT, is ${df.schema(c).dataType.simpleString}")
      require(!generated.contains(c),
        s"column '$c' is a generated column — it cannot also be identity")
      require(df.where(org.apache.spark.sql.functions.col(c).isNotNull).isEmpty,
        s"identity column '$c' is GENERATED ALWAYS — the seeding batch must not " +
          "carry ids (declare identity on a standing table via addIdentity)")
    }

  /** ATOMIC table (re)definition — schema, data, clusterBy, CHECKs,
    * generated declarations and TBLPROPERTIES all land in ONE manifest
    * write that simultaneously removes every line of the table's
    * previous definition. This is the verb under the SQL front door's
    * `CREATE OR REPLACE TABLE` / `REPLACE TABLE … AS SELECT` (and the
    * atomic CTAS): readers see the OLD table or the NEW one, never a
    * dropped gap — the non-atomic drop-then-create Spark falls back to
    * without a [[org.apache.spark.sql.connector.catalog.StagingTableCatalog]]
    * loses the table entirely if the seeding write fails. History is
    * retained exactly like every other verb: the pre-replace versions
    * still resolve (time travel reads the old definition), and the old
    * files become vacuum food when those versions age out. Consumed
    * append-tags and the identity high-water mark do NOT carry — a
    * REPLACE is a new table definition, not a rewrite of the standing
    * one (the [[commit]] verb is the rewrite that carries them).
    *
    * `mustExist` (REPLACE) / `mustNotExist` (atomic CTAS) pin the
    * statement's existence contract inside the same optimistic-
    * concurrency loop that publishes, so a racing CREATE or DROP flips
    * the outcome, never tears it. The batch pays append's contracts:
    * generated columns computed/validated per row, CHECKs gate before
    * any byte stages, clusterBy range-clusters into stat-tight files.
    */
  def replaceTable(table: String, df0: DataFrame, statsCols: Seq[String] = Nil,
                   props: Map[String, String] = Map.empty,
                   checks: Seq[(String, String)] = Nil,
                   generated: Map[String, String] = Map.empty,
                   mustExist: Boolean = false,
                   mustNotExist: Boolean = false,
                   identity: Option[(String, Long)] = None): Long = {
    require(!isMetaEntry(table),
      s"table name '$table' collides with the reserved '@' manifest lines")
    require(!(mustExist && mustNotExist), "mustExist and mustNotExist are exclusive")
    validateIdentityDecl(table, df0, generated, identity)
    props.keys.foreach(k => require(k.matches("[A-Za-z0-9_.-]+"),
      s"property key '$k' must be [A-Za-z0-9_.-]+"))
    checks.foreach { case (n, _) => require(n.matches("[A-Za-z0-9_-]+"),
      s"constraint name '$n' must be [A-Za-z0-9_-]+") }
    // synthetic one-table manifest carrying ONLY the NEW definition:
    // the batch is enforced by the exact generated/CHECK machinery an
    // append against a standing table runs — computed columns for
    // omitted generated fields (the CTAS query never names them),
    // per-row NULL fill, divergence refusal, one aggregate per guard
    val synth: Map[String, String] =
      (if (checks.isEmpty) Map.empty[String, String]
       else Map((table + CheckSuffix) -> encodeChecks(checks.toMap))) ++
      (if (generated.isEmpty) Map.empty[String, String]
       else Map((table + GenSuffix) -> encodeChecks(generated)))
    checks.foreach { case (_, e) =>
      df0.limit(0).select(org.apache.spark.sql.functions.expr(e)) }
    generated.values.foreach(e =>
      df0.limit(0).select(org.apache.spark.sql.functions.expr(e)))
    // deterministic column order: the batch's own columns first, then
    // computed generated columns in name order (applyGenerated appends
    // map-ordered; the published schema must not depend on hash order)
    val df1 = applyGenerated(table, synth, df0, "replace")
    val df = {
      val appended = df1.columns.filterNot(df0.columns.contains).sorted
      val order = df0.columns.filter(df1.columns.contains) ++ appended
      if (order.sameElements(df1.columns)) df1
      else df1.select(order.map(org.apache.spark.sql.functions.col(_)).toSeq: _*)
    }
    enforceChecks(table, synth, df, "replace")
    val cluster = props.get(ClusterByProp).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    cluster.foreach(c => require(df.columns.contains(c),
      s"$ClusterByProp column '$c' is not a column of table '$table' " +
        s"(${df.columns.sorted.mkString(", ")})"))
    var attempt = currentVersion.getOrElse(0L) + 1
    var written: Option[(String, Seq[(String, Long)])] = None
    for (_ <- 1 to MaxAttempts) {
      val cur = currentVersion.map(readManifest).getOrElse(Map.empty[String, String])
      require(!cur.contains(table + ViewSuffix) && !cur.contains(table + MatviewSuffix),
        s"'$table' is a standing view under $root — a table cannot shadow it " +
          "(DROP VIEW / drop_matview first)")
      val exists = dataEntries(cur).contains(table)
      if (mustExist) require(exists,
        s"table '$table' not committed under $root — REPLACE TABLE requires " +
          "it (CREATE OR REPLACE creates)")
      if (mustNotExist) require(!exists,
        s"table '$table' already exists under $root")
      val (rel, files) = written.getOrElse {
        val r = stageRel(attempt, table)
        // the seeding batch honors the clusterBy contract exactly like
        // append: range-cluster + in-file sort, sidecar stats on the
        // cluster columns so the FIRST read after the replace prunes
        val fl = writeFiles(clusterBatch(df, cluster), r, (statsCols ++ cluster).distinct).entries
        written = Some((r, fl)); (r, fl)
      }
      val base = cur.filterNot { case (k, _) =>
        k == table || k.startsWith(table + "@") }
      val lines: Map[String, String] = Map(
        table -> rel,
        schemaLine(table, predictReadBack(df.schema).getOrElse(writtenSchema(rel))),
        filesLine(table, files)) ++
        (if (props.isEmpty) Map.empty[String, String]
         else Map((table + PropsSuffix) -> encodeChecks(props))) ++ synth ++
        identity.map { case (c, start) =>
          (table + IdentitySuffix) -> s"$c:$start" }.toMap
      faultHook("pre-publish:replaceTable") // crash point: staged, old table intact
      if (writeManifest(attempt, base ++ lines)) return attempt
      attempt = math.max(attempt + 1, currentVersion.getOrElse(0L) + 1)
    }
    throw new IllegalStateException(
      s"replaceTable lost $MaxAttempts consecutive version races under $root")
  }

  /** ATOMIC multi-table REPLACE — the N-table form of [[replaceTable]]
    * for derived-table families that are only coherent TOGETHER (an
    * IVF index's centroid table and its assignment table; a matview's
    * rows and its watermark). All tables' new definitions land in ONE
    * manifest publish: a reader at ANY version sees a mutually
    * consistent family, and a crash between stagings publishes nothing
    * — two sequential replaceTable calls would expose (new centroids,
    * old assignments) to a reader at the intermediate version.
    * Per-table `props` land as each table's `@props` line (clusterBy
    * honored: the batch range-clusters into stat-tight files exactly
    * like replaceTable). No checks/generated/identity here — derived
    * tables are machine-written; declare contracts on sources.
    */
  def replaceTables(tables: Map[String, (DataFrame, Map[String, String])],
                    statsCols: Map[String, Seq[String]] = Map.empty): Long = {
    require(tables.nonEmpty, "replaceTables requires at least one table")
    tables.keys.foreach(t => require(!isMetaEntry(t),
      s"table name '$t' collides with the reserved '@' manifest lines"))
    tables.foreach { case (t, (df, props)) =>
      props.keys.foreach(k => require(k.matches("[A-Za-z0-9_.-]+"),
        s"property key '$k' must be [A-Za-z0-9_.-]+"))
      props.get(ClusterByProp).toSeq
        .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
        .foreach(c => require(df.columns.contains(c),
          s"$ClusterByProp column '$c' is not a column of table '$t' " +
            s"(${df.columns.sorted.mkString(", ")})"))
    }
    var attempt = currentVersion.getOrElse(0L) + 1
    var staged: Option[Map[String, String]] = None
    for (_ <- 1 to MaxAttempts) {
      val cur = currentVersion.map(readManifest).getOrElse(Map.empty[String, String])
      tables.keys.foreach(t =>
        require(!cur.contains(t + ViewSuffix) && !cur.contains(t + MatviewSuffix),
          s"'$t' is a standing view under $root — a table cannot shadow it " +
            "(DROP VIEW / drop_matview first)"))
      val lines = staged.getOrElse {
        // stage every table CONCURRENTLY (same rationale as
        // stageTables: the publish is the single visibility point, the
        // writes have no ordering dependency)
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        val all = Await.result(Future.traverse(tables.toSeq) {
          case (t, (df, props)) => Future {
            val cluster = props.get(ClusterByProp).toSeq
              .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
            val r = stageRel(attempt, t)
            val written = writeFiles(clusterBatch(df, cluster), r,
              (statsCols.getOrElse(t, Nil) ++ cluster).distinct)
            Seq(t -> r,
              schemaLine(t, predictReadBack(df.schema).getOrElse(writtenSchema(r))),
              filesLine(t, written.entries)) ++
              (if (props.isEmpty) Nil
               else Seq((t + PropsSuffix) -> encodeChecks(props)))
          }
        }, scala.concurrent.duration.Duration.Inf).flatten.toMap
        staged = Some(all); all
      }
      val base = cur.filterNot { case (k, _) =>
        tables.keys.exists(t => k == t || k.startsWith(t + "@")) }
      faultHook("pre-publish:replaceTables") // crash point: staged, old family intact
      if (writeManifest(attempt, base ++ lines)) return attempt
      attempt = math.max(attempt + 1, currentVersion.getOrElse(0L) + 1)
    }
    throw new IllegalStateException(
      s"replaceTables lost $MaxAttempts consecutive version races under $root")
  }

  /** DROP TABLE: publishes a manifest without the table's data entry or
    * any of its `@` metadata lines — a metadata-only commit (zero data
    * IO). The dropped table's files stay referenced by OLDER manifests
    * (time travel still works) and become vacuum food once those leave
    * the retention window. Returns false if the table does not exist.
    */
  def dropTable(table: String): Boolean = {
    var attempt = currentVersion.getOrElse(return false) + 1
    for (_ <- 1 to MaxAttempts) {
      val cur = readManifest(currentVersion.get)
      if (!dataEntries(cur).contains(table)) return false
      val next = cur.filterNot { case (k, _) =>
        k == table || k.startsWith(table + "@") }
      if (writeManifest(attempt, next)) return true
      attempt = math.max(attempt + 1, currentVersion.getOrElse(0L) + 1)
    }
    throw new IllegalStateException(
      s"dropTable lost $MaxAttempts consecutive version races under $root")
  }

  /** RENAME TABLE: a pure manifest-key rewrite — the data entry and
    * every `@` metadata line move to the new name, data paths untouched
    * (they are version-dir-relative and the manifest maps name→paths;
    * the Delta/Iceberg metadata-rename idea). Refuses if the target
    * name exists.
    */
  def renameTable(from: String, to: String): Long = {
    require(!isMetaEntry(to) && !to.contains("@"),
      s"table name '$to' would corrupt the manifest line format")
    var attempt = currentVersion.getOrElse(
      throw new IllegalStateException(s"no commits under $root")) + 1
    for (_ <- 1 to MaxAttempts) {
      val cur = readManifest(currentVersion.get)
      require(dataEntries(cur).contains(from),
        s"table '$from' not committed under $root")
      require(!dataEntries(cur).contains(to),
        s"rename target '$to' already exists under $root")
      val next = cur.map { case (k, v) =>
        if (k == from) (to, v)
        else if (k.startsWith(from + "@")) (to + k.substring(from.length), v)
        else (k, v)
      }
      if (writeManifest(attempt, next)) return attempt
      attempt = math.max(attempt + 1, currentVersion.getOrElse(0L) + 1)
    }
    throw new IllegalStateException(
      s"renameTable lost $MaxAttempts consecutive version races under $root")
  }

  /** SERIALIZABLE commit — the opt-in upgrade from snapshot isolation,
    * completing the reference's selectable-isolation menu
    * (Stream.hs:166-231). The caller declares the transaction's READ
    * SET: the tables it read (at `baseVersion`) to derive what it
    * writes. At commit time, inside the same create-exclusive loop that
    * serializes writers, the read set is validated against the current
    * head: if any read table's manifest entry changed since
    * `baseVersion`, the commit ABORTS with
    * [[SerializationConflictException]] — commit-time read-set conflict
    * detection, the optimistic-SSI design the open table formats use
    * for their serializable tier (Delta's txn-level conflict checking;
    * public design). Write skew dies here: of two transactions that
    * each read a table the other writes, the second to commit sees its
    * read set changed and aborts (TxnSpec proves the pair outcome).
    *
    * Validation is sound against races because the version chain is
    * DENSE (every manifest is created at head+1 of an observed head, so
    * versions never skip): each attempt validates the manifest at
    * `headV` and claims exactly `headV+1` — if the create-exclusive
    * succeeds, the validated manifest IS the commit's predecessor; if
    * it fails, the loop re-validates against the new head.
    *
    * Unlike [[commit]] (whole-snapshot replacement), a serializable
    * commit MERGES into the head manifest — it is a transaction against
    * the shared database, and tables it does not write must survive it.
    */
  def commitSerializable(tables: Map[String, DataFrame],
                         readSet: Set[String],
                         baseVersion: Long,
                         statsCols: Map[String, Seq[String]] = Map.empty): Long = {
    tables.keys.foreach(t => require(!isMetaEntry(t),
      s"table name '$t' collides with the reserved '@' manifest lines"))
    // baseVersion 0 = the transaction began on an EMPTY lake (versions
    // start at 1): its base manifest is empty, and any table that exists
    // at commit time is a conflict for the read set
    val baseM =
      if (baseVersion == 0L) Map.empty[String, String] else readManifest(baseVersion)
    var stagedMemo: Option[(Map[String, String], Map[String, String])] = None
    for (_ <- 1 to MaxAttempts) {
      val headV = currentVersion.getOrElse(0L)
      val headM = if (headV == 0L) Map.empty[String, String] else readManifest(headV)
      if (headV != baseVersion) {
        // compare the table's WHOLE manifest line family, not just the
        // data entry: a merge-on-read delete publishes only a new
        // `t@dv` line (data entry unchanged), schema evolution only
        // `t@schema`, a rename only `t@colmap` — each changes what a
        // reader of t sees, and a data-entry-only compare would let a
        // Serializable transaction commit write skew across them (or a
        // write silently discard concurrent tombstones)
        def family(m: Map[String, String], t: String): Map[String, String] =
          m.filter { case (k, _) => k == t || k.startsWith(t + "@") }
        val changed = readSet.filter(t => family(headM, t) != family(baseM, t))
        if (changed.nonEmpty)
          throw new Snapshots.SerializationConflictException(
            s"conflict set ${changed.mkString(", ")} changed between version " +
              s"$baseVersion and head $headV — re-run the transaction")
      }
      val attempt = headV + 1
      // generated columns + CHECK constraints from the head gate the
      // written tables (the merge-into-head path keeps their lines).
      // The staged data is MEMOIZED across version races (the same
      // pattern as replaceTable/append: staged dirs are writer-unique,
      // so a lost manifest race retries manifest-only instead of
      // re-writing every table) — invalidated only if the head's
      // guard lines for a written table changed, which would alter
      // the enforced batch itself.
      val guards = tables.keys.flatMap(t =>
        Seq(t + CheckSuffix, t + GenSuffix).flatMap(k => headM.get(k).map(k -> _))).toMap
      val written = stagedMemo match {
        case Some((g, w)) if g == guards => w
        case _ =>
          val tables1 = tables.map { case (t, df) =>
            t -> applyGenerated(t, headM, df, "commit") }
          tables1.foreach { case (t, df) => enforceChecks(t, headM, df, "commit") }
          val w = stageTables(tables1, statsCols, attempt)
          stagedMemo = Some((guards, w)); w
      }
      // drop the written tables' stale meta/tags lines, keep everything
      // else from the head, overlay the fresh lines. A full replace
      // also ends the table's deletion vector (it tombstones positions
      // of files this commit just unreferenced) and its column mapping
      // (the fresh files carry the logical names physically) — carrying
      // either would misdescribe the new data.
      val stale = tables.keys.flatMap(t =>
        Seq(t + TagsSuffix, t + SchemaSuffix, t + FilesSuffix,
          t + DvSuffix, t + ColmapSuffix)).toSet
      if (writeManifest(attempt, (headM -- stale) ++ written)) return attempt
    }
    throw new IllegalStateException(
      s"serializable commit lost $MaxAttempts consecutive version races under $root")
  }

  /** Begin a [[Txn]] pinned to the current head — see [[withTransaction]]
    * for the scoped form.
    */
  def transaction(isolation: Isolation = Isolation.Snapshot): Txn =
    new Txn(this, isolation)

  /** The reference's `withTransaction` shape (Stream.hs:166-231): run
    * `body` against a transaction whose reads all pin one snapshot,
    * commit its buffered writes atomically on normal return, publish
    * NOTHING if it throws (rollback = the absence of commit). Returns
    * the body's result; the committed version is available via a
    * [[Txn.commit]] call inside the body if needed — calling commit
    * yourself marks the transaction completed and the wrapper skips
    * its own.
    */
  def withTransaction[A](isolation: Isolation = Isolation.Snapshot)(body: Txn => A): A = {
    val txn = transaction(isolation)
    val result = body(txn)
    if (!txn.isCompleted) txn.commit()
    result
  }

  /** Re-point head at an older snapshot — the executable ROLLBACK
    * analog (reference: Stream.hs:166-231; an UNpublished commit is
    * simply abandoned, and this is the recovery path for a published
    * one). Publishes a NEW manifest whose table map is copied from
    * `version`: no data files move or are rewritten (O(1) in table
    * size), history is preserved — every version including the
    * rolled-back ones stays readable via time travel — and the same
    * create-exclusive protocol serializes it against racing commits.
    * Returns the new head version.
    */
  def rollbackTo(version: Long): Long = {
    val tables = readManifest(version) // throws if `version` was never committed
    var attempt = currentVersion.getOrElse(0L) + 1
    for (_ <- 1 to MaxAttempts) {
      if (writeManifest(attempt, tables)) return attempt
      attempt = math.max(attempt + 1, currentVersion.getOrElse(0L) + 1)
    }
    throw new IllegalStateException(
      s"rollback lost $MaxAttempts consecutive version races under $root")
  }

  /** ANALYZE — build missing `_stats` (and optionally `_bloom`)
    * sidecars for a table's already-committed directories (the ANALYZE
    * TABLE / OPTIMIZE-stats verb). Externally staged bytes
    * ([[commitStaged]]) arrive WITHOUT sidecars, so stats/bloom pruning
    * cannot skip them until a compaction happens to rewrite them; this
    * pays one column-pruned scan per un-analyzed directory instead of
    * a full rewrite, closing
    * the stats lifecycle for ingest-heavy tables. Sidecars are
    * advisory accelerators (a dir without one reads conservatively —
    * correct either way), so like the read-metadata cadence checkpoint
    * this publishes NO version: rows are untouched, concurrent readers
    * see either the conservative or the pruned plan, both exact.
    * Directories that already carry a sidecar are left alone (their
    * stats may cover other columns). Returns the number of
    * directories analyzed.
    */
  def analyzeTable(table: String, statsCols: Seq[String],
                   bloomCols: Seq[String] = Nil,
                   bloomFpp: Double = 0.01): Int = {
    require(statsCols.nonEmpty || bloomCols.nonEmpty,
      "analyzeTable requires statsCols and/or bloomCols")
    val m = readManifest(currentVersion.getOrElse(
      throw new IllegalStateException(s"no commits under $root")))
    logicalSchema(m, table).foreach(sc =>
      FileStats.requireAtomicCols(table, sc, statsCols ++ bloomCols))
    val rel = dataEntries(m).getOrElse(table,
      throw new NoSuchElementException(s"table '$table' not committed under $root"))
    val dirs: Seq[Path] = (storedFiles(m, table) match {
      case Some(files) => files.map { case (r, _) => new Path(root, r).getParent }
      case None => splitRel(rel).map { r =>
        val p = new Path(root, r)
        if (fs.getFileStatus(p).isDirectory) p else p.getParent
      }
    }).distinct
    var n = 0
    dirs.foreach { d =>
      val needStats = statsCols.nonEmpty && FileStats.readSidecar(fs, d).isEmpty
      val needBloom = bloomCols.nonEmpty && FileStats.readBloomSidecar(fs, d).isEmpty
      // the one directory-wide footer harvest left: ANALYZE indexes
      // files some earlier writer staged without the asked-for columns
      // (its `_rows` also sizes the blooms)
      if (needStats || needBloom) {
        val stats = FileStats.harvest(s, d.toString,
          if (needStats) statsCols else Seq(FileStats.RowsCol))
        if (needStats) FileStats.writeSidecar(fs, d, stats)
        if (needBloom)
          FileStats.writeBloomSidecar(fs, d, FileStats.harvestBlooms(s, d.toString, bloomCols,
            stats.map { case (f, m) => f -> m(FileStats.RowsCol).min.get.toLong }, bloomFpp))
        n += 1
      }
    }
    n
  }

  /** Publish a new version whose table map is the current head's map
    * with `updates` overlaid and `removes` dropped — data at `updates`'
    * RELATIVE paths must already be fully written under `root`. This is
    * the O(1)-publish half of a two-phase write: stage data anywhere
    * under a version directory (invisible until published), then make
    * it visible atomically. A partial-rewrite writer (CDC merge touching
    * some buckets of a big table) pays data IO for what it changed and
    * one manifest write — never a full-table rewrite.
    *
    * Same optimistic create-exclusive loop as [[commit]]; on a lost race
    * the staged data is NOT rewritten — only the manifest merge re-runs
    * against the new head.
    */
  def commitStaged(updates: Map[String, String],
                   removes: Set[String] = Set.empty,
                   schemas: Map[String, org.apache.spark.sql.types.StructType] = Map.empty): Long = {
    updates.keys.foreach(t => require(!isMetaEntry(t),
      s"table name '$t' collides with the reserved '@' manifest lines"))
    // read-metadata for the staged tables, computed ONCE (staged bytes
    // don't change across publish retries): file lengths from one
    // listing of each staged part, schema from the caller (free, mapped
    // through predictReadBack so both paths agree) or one footer read.
    val updateMeta = updates.flatMap { case (t, rel) =>
      val sc = schemas.get(t).flatMap(predictReadBack).getOrElse(writtenSchema(rel))
      Seq(schemaLine(t, sc), filesLine(t, listRelFiles(splitRel(rel))))
    }
    // CHECK constraints and generated-column contracts gate staged
    // data too (the streaming sink's publish path): the staged bytes
    // are read back once per guarded table — O(batch), and only when a
    // guard line exists. Staged bytes cannot be amended, so an
    // OMITTED generated column refuses loudly (compute it in the
    // writer) while provided values validate like any batch.
    currentVersion.map(readManifest).foreach { m =>
      updates.foreach { case (t, rel) =>
        // staged bytes carry whatever names the external writer used
        // and cannot be renamed post-hoc — under a column mapping the
        // file/view split would silently diverge, so refuse until a
        // compact materializes the mapping
        require(!m.contains(t + ColmapSuffix),
          s"table '$t' carries a column mapping (rename/drop pending) — " +
            "staged ingest cannot translate already-written files; " +
            "compact (materialize) first")
        val gs = decodeChecks(m.get(t + GenSuffix))
        if (m.contains(t + CheckSuffix) || gs.nonEmpty) {
          val staged = s.read.parquet(absPaths(rel): _*)
          gs.keys.foreach(c => require(staged.columns.contains(c),
            s"staged publish into '$t' omits generated column '$c' — " +
              "staged bytes cannot be amended; compute it in the writer"))
          if (gs.nonEmpty) applyGenerated(t, m, staged, "staged publish")
          if (m.contains(t + CheckSuffix))
            enforceChecks(t, m, staged, "staged publish")
        }
      }
    }
    var attempt = currentVersion.getOrElse(0L) + 1
    for (_ <- 1 to MaxAttempts) {
      val base = currentVersion.map(readManifest).getOrElse(Map.empty[String, String])
      // a removed table takes EVERY `r@*` metadata line with it (the
      // dropTable contract — a surviving @check/@identity/@copied line
      // would silently guard, id-route, or dedup-skip a LATER table
      // created under the same name); an UPDATED table drops any
      // deletion vector — its data was replaced wholesale, so stale
      // tombstones must not linger
      val removedKeys = base.keys.filter(k =>
        removes.exists(r => k == r || k.startsWith(r + "@"))).toSet ++
        updates.keys.map(_ + DvSuffix)
      val merged = (base -- removedKeys) ++ updates ++ updateMeta
      if (writeManifest(attempt, merged)) return attempt
      attempt = math.max(attempt + 1, currentVersion.getOrElse(0L) + 1)
    }
    throw new IllegalStateException(
      s"commitStaged lost $MaxAttempts consecutive version races under $root")
  }

  /** Range-predicated snapshot read WITH file skipping: the `_stats`
    * sidecar (if the committing writer recorded one) prunes the file
    * list before Spark plans a single task — files whose [min,max]
    * cannot match cost zero IO. The ranges are then re-applied as a
    * normal filter (stats admit a superset), so the result is exactly
    * `read(table).where(ranges)` regardless of stats presence.
    *
    * This is the lake analog of the reference users' indexed BETWEEN
    * queries (Example.hs:36: `timestamp BETWEEN {2} AND {3}`): at
    * 100 TB a time- or key-ordered table turns a range query from a
    * full scan into a handful of file opens.
    */
  /** Prune one manifest path (dir or single file) against `ranges`,
    * each against ITS OWN directory's sidecar — file names repeat
    * across version dirs (part-00000…), so stats never mix directories.
    */
}
