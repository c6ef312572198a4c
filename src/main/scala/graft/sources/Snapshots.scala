package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Snapshot-isolated multi-table commits — the transactions analog
  * (reference: Stream.hs:166-231 `withTransaction`/isolation levels).
  * A pgstream user wraps multi-table writes in BEGIN/COMMIT; the lake
  * engine's equivalent is a commit LOG: data files are written first
  * (invisible), then ONE manifest file covering every table in the
  * commit is published with an atomic create-exclusive — the same
  * protocol the open table formats use (Delta's _delta_log, Iceberg's
  * snapshot metadata; public knowledge).
  *
  * Guarantees:
  *  - **Atomicity across tables**: a commit's tables become visible
  *    together or not at all (one manifest covers all of them — there
  *    is no observable state between).
  *  - **Snapshot isolation**: a reader resolves the newest manifest
  *    ONCE and reads every table from that version; a commit landing
  *    mid-query cannot mix versions.
  *  - **Crash safety**: a writer dying after data files but before the
  *    manifest leaves invisible orphans, never a torn commit.
  *  - **Optimistic concurrency**: two writers racing for version N —
  *    create-exclusive fails for the loser, who retries at N+1 (the
  *    serialization point is the filesystem's atomic create).
  *  - **Time travel**: old manifests keep old versions readable.
  *
  * **Isolation-level mapping** (for users migrating off the reference's
  * selectable levels, Stream.hs:166-231):
  *  - READ UNCOMMITTED / READ COMMITTED: subsumed — staged data is
  *    invisible until its manifest publishes, so no read ever sees
  *    uncommitted bytes, and unlike READ COMMITTED a query's view
  *    cannot shift mid-statement.
  *  - REPEATABLE READ: honored and exceeded — a snapshot() resolves the
  *    manifest once, so every read of every table in that snapshot is
  *    repeatable for the snapshot's lifetime (true snapshot isolation).
  *  - SERIALIZABLE: write-write conflicts are always serialized (the
  *    version claim is a total order; compact/partialRewrite fail
  *    loudly when their base table was re-pointed). Read-write cycles
  *    are NOT detected by the default commit() — two transactions that
  *    each read a table the other writes can both land (write skew;
  *    TxnSpec pins it) — but [[commitSerializable]] closes them:
  *    declare the read set and the commit aborts if any read table
  *    changed since the transaction's base version (commit-time
  *    conflict detection; TxnSpec proves the write-skew pair now loses
  *    one). Alternatives remain one atomic multi-table commit() or
  *    application-level serialization.
  *
  * At 100 TB the manifest holds table→path pointers, so commit cost is
  * O(1) in table size; every data write is one distributed parquet job
  * through [[writeFiles]], whose tasks report each file's length, rows
  * and footer stats.
  */
class Snapshots(private[sources] val s: SparkSession,
                private[sources] val root: String,
                logStore: Option[LogStore] = None)
    extends SnapshotsTxnOps with SnapshotsDmlOps
    with SnapshotsMetaOps with SnapshotsMaintOps {

  /** The lake's root path (for handing to path-keyed consumers like the
    * streaming change feed). */
  def rootPath: String = root

  /** Test-only publish gate for the concurrent-DML merge path (see
    * partialRewrite); identity in production.
    */
  @volatile private[graft] var beforePublish: (String, String) => Unit = (_, _) => ()

  private[sources] val fs = new Path(root).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** COMMIT-LOG storage ([[LogStore]]): every manifest/checkpoint
    * read, list, publish and delete routes through this seam — data
    * files stay on `fs` (they are writer-unique-staged and only become
    * visible via a manifest, so they need no atomicity from the
    * store). Injecting [[InMemoryObjectStore]] runs the whole protocol
    * against S3-class conditional-put semantics (TxnSpec does).
    */
  private[sources] val store: LogStore =
    logStore.getOrElse(new HadoopLogStore(fs, l => faultHook(l)))
  private[sources] def commitDir = new Path(root, "_commits")
  private[sources] def commitPath(v: Long) = new Path(commitDir, f"$v%020d.manifest")
  private[sources] def checkpointPath(v: Long) = new Path(commitDir, f"$v%020d.checkpoint")

  /** Every `CheckpointEvery` commits, the full resolved state is also
    * written as a `.checkpoint` file, bounding delta-chain resolution
    * to O(CheckpointEvery) small reads — the Delta-log cadence idea
    * (public design: _delta_log JSON actions + periodic checkpoints).
    */
  private[sources] val CheckpointEvery = 16L

  /** Resolved-state caches. Manifests are immutable once published, so
    * a version's resolved state never changes; vacuum evicts dropped
    * versions. `stateCache` holds the EXPLODED on-disk key space (what
    * deltas diff against), `viewCache` the reassembled in-memory form
    * every consumer reads, `tsCache` header commit times.
    */
  private[sources] val stateCache = new java.util.concurrent.ConcurrentHashMap[Long, Map[String, String]]()
  private[sources] val viewCache = new java.util.concurrent.ConcurrentHashMap[Long, Map[String, String]]()
  private[sources] val tsCache = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()
  // evict OLDEST versions, never clear: a feed catch-up or timestamp
  // scan over a >256-version history must keep its working set warm
  // (newer versions are the live ones; a wholesale clear would force
  // an O(chain) re-resolve every 257th insert)
  private[sources] def boundCache[V](c: java.util.concurrent.ConcurrentHashMap[Long, V]): Unit =
    if (c.size > 256) {
      import scala.jdk.CollectionConverters._
      c.keySet.asScala.toSeq.sorted.take(c.size - 192).foreach(c.remove)
    }

  /** Writer-unique staging prefix. The manifest create-exclusive is the
    * protocol's ONLY serialization point — but if two writers racing
    * version N staged data under the same `vN/table` directory, the
    * loser's overwrite could clobber the winner's ALREADY-PUBLISHED
    * data (manifest says A's commit, bytes are B's). Writer-unique dir
    * names make staging collisions impossible by construction; the
    * loser's orphaned dir is ordinary vacuum food.
    */
  private[sources] val writerId =
    java.lang.Long.toHexString(new java.security.SecureRandom().nextLong() | (1L << 62))
  private[sources] def stageRel(attempt: Long, name: String): String = s"v$attempt-$writerId/$name"

  /** Newest committed version, if any commit exists. Inside an atomic
    * scope ([[Snapshots.TxnScope]]) the scope's VIRTUAL head — verbs
    * running in the scope see their predecessors' writes.
    */
  def currentVersion: Option[Long] = {
    Snapshots.scopeOf(root) match {
      case Some(scope) => return if (scope.head == 0L) None else Some(scope.head)
      case None =>
    }
    val vs = store.list(commitDir)
      .filter(_.endsWith(".manifest"))
      .map(_.stripSuffix(".manifest").toLong)
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** Manifest format, v2 — INCREMENTAL commit metadata (the Delta-log
    * model, public design: per-commit delta actions + periodic full
    * checkpoints). A published `.manifest` is a DELTA against the
    * previous version's resolved state:
    *
    * {{{
    *   #graft-delta v=7 base=6 ts=1723500000000
    *   +key=value        (key added or value changed)
    *   -key              (key removed)
    * }}}
    *
    * The diff runs over the EXPLODED key space: a table's `@files` list
    * is keyed per file (`table@files:rel=len`), so an append of 2 files
    * to a 10⁵-file table writes 2 `+` lines — commit METADATA cost is
    * O(changed files), never O(table files) (TxnSpec machine-asserts
    * manifest bytes are independent of table file count). Every
    * `CheckpointEvery` commits the full exploded state also lands as a
    * `.checkpoint` sidecar (and vacuum pins one at the oldest retained
    * version), bounding read-side resolution to O(CheckpointEvery)
    * small reads, memoized per version in [[stateCache]]/[[viewCache]]
    * (manifests are immutable, so cached states never go stale). The
    * header's `ts` records the commit time INSIDE the manifest, so
    * timestamp travel survives file copies that reset mtime (a
    * FileUtil.copy'd lake keeps its history). Headerless manifests are
    * the v1 format — a full `key=value` snapshot — and still resolve
    * (legacy/external writers).
    *
    * Returns false ONLY on a lost version race (version v already
    * published by another writer); any other IO failure propagates —
    * treating a permission/quota error as a race would make commit()
    * retry (re-writing all table data each attempt) forever.
    *
    * `maint` marks this version as pure MAINTENANCE for the named
    * tables (compaction / clustering: files reorganized, rows
    * invariant — Delta's dataChange=false). The marker is a per-VERSION
    * property, never state: every publish builds its manifest from the
    * current one, so writeManifest strips inherited `@maint` lines and
    * re-adds only what THIS publish declares — a data commit after a
    * compaction is never mislabeled.
    */
  private[sources] def writeManifest(v: Long, tables0: Map[String, String],
                            maint: Set[String] = Set.empty): Boolean = {
    val tables = tables0.filterNot(_._1.endsWith(MaintSuffix)) ++
      maint.map(t => (t + MaintSuffix) -> "1")
    tables.keys.foreach(t => require(
      !t.contains("=") && !t.contains("\n") &&
        !t.startsWith("+") && !t.startsWith("-") && !t.startsWith("#") &&
        (isMetaEntry(t) || !t.contains("@")),
      s"table name '$t' would corrupt the manifest line format " +
        "('@' is reserved for metadata keys)"))
    // ATOMIC-SCOPE interception (see [[Snapshots.TxnScope]]): inside
    // `CALL graft.system.atomic`, a verb's publish lands in the scope's
    // VIRTUAL version chain instead of the store — nothing durable,
    // nothing visible to other sessions, until the scope's single real
    // publish at close. Staged data files are already written (they
    // only become visible via a manifest — crashed-writer residue
    // semantics, ordinary vacuum food on abort).
    Snapshots.scopeOf(root) match {
      case Some(scope) =>
        require(v == scope.head + 1,
          s"atomic scope at $root expected virtual version ${scope.head + 1}, got $v " +
            "(concurrent writers cannot race a single-threaded scope)")
        scope.publishVirtual(tables)
        return true
      case None =>
        // single-lake contract: while an atomic scope is open on this
        // thread, a publish to any OTHER lake would commit immediately
        // and survive a later script failure — a silent hole in the
        // all-or-nothing promise. Refuse loudly instead.
        require(!Snapshots.anyScopeOpen,
          s"write to $root inside an atomic scope on a different lake — " +
            "atomic scripts are single-lake (move the statement out of the " +
            "CALL, or run one atomic CALL per lake)")
    }
    store.mkdirs(commitDir)
    val exploded = explode(tables)
    val ts = System.currentTimeMillis()
    // delta against the previous version's resolved state; if that
    // state is unresolvable (first commit → empty; or a vacuum race
    // collected the chain mid-flight) fall back to a self-contained
    // full manifest — resolution never needs what no longer exists
    val body = (try Some(resolveState(v - 1)) catch {
      case _: java.io.FileNotFoundException => None
    }) match {
      case Some(prev) =>
        val adds = exploded.toSeq
          .filter { case (k, value) => !prev.get(k).contains(value) }
          .sortBy(_._1)
        val dels = (prev.keySet -- exploded.keySet).toSeq.sorted
        (s"#graft-delta v=$v base=${v - 1} ts=$ts" +:
          (adds.map { case (k, value) => s"+$k=$value" } ++ dels.map("-" + _)))
          .mkString("\n")
      case None =>
        (s"#graft-full v=$v ts=$ts" +:
          exploded.toSeq.sortBy(_._1).map { case (k, value) => s"$k=$value" })
          .mkString("\n")
    }
    faultHook("manifest-publish") // crash point: data staged, nothing visible
    if (!store.putIfAbsent(commitPath(v), body.getBytes(StandardCharsets.UTF_8)))
      return false
    faultHook("post-manifest") // crash point: manifest durable, caches/checkpoint pending
    stateCache.put(v, exploded); boundCache(stateCache)
    viewCache.put(v, reassemble(exploded)); boundCache(viewCache)
    tsCache.put(v, ts); boundCache(tsCache)
    // cadence checkpoint: best-effort accelerator — a failed write
    // just leaves resolution on the (complete) delta chain
    if (v % CheckpointEvery == 0L)
      try writeCheckpoint(v, exploded) catch { case _: Exception => () }
    true
  }

  /** CRASH-injection hook (identity in production): fires with a step
    * label at every named point of the publish sequence — the
    * crash-point model test arms it to throw, proving every crash
    * prefix leaves reads at the pre-state and replay converging.
    * Steps: "manifest-publish" (data staged, nothing visible),
    * "post-manifest" (manifest durable; caches/checkpoint pending),
    * plus verb-specific pre-publish points ("pre-publish:<verb>").
    */
  @volatile private[graft] var faultHook: String => Unit = _ => ()

  /** Full exploded state as a `.checkpoint` sidecar, atomically
    * overwritten ([[LogStore.overwrite]]) so a torn write can never be
    * read as a (wrong) complete state. Throws on failure — vacuum MUST
    * have its pin before dropping the chain behind it; the cadence
    * caller downgrades to best-effort.
    */
  private[sources] def writeCheckpoint(v: Long, exploded: Map[String, String]): Unit = {
    faultHook("checkpoint-write") // crash point: manifest durable, checkpoint optional
    val body = (s"#graft-checkpoint v=$v" +:
      exploded.toSeq.sortBy(_._1).map { case (k, value) => s"$k=$value" })
      .mkString("\n")
    store.overwrite(checkpointPath(v), body.getBytes(StandardCharsets.UTF_8))
  }

  /** Attempt cap for optimistic-concurrency loops: losing this many
    * consecutive version races means something is structurally wrong
    * (a runaway committer, clock-free livelock) — surface it instead
    * of re-writing table data forever.
    */
  private[sources] val MaxAttempts = 16

  private[sources] def parseKv(lines: Iterator[String]): Map[String, String] =
    lines.filter(_.nonEmpty).map { line =>
      val Array(t, p) = line.split("=", 2)
      t -> p
    }.toMap

  /** The VIEW (`table→rel` + `@` metadata lines) ↔ the exploded on-disk
    * key space deltas diff against. The two per-PART values explode —
    * a table's `@files` list to one `table@files:rel=len` key per file,
    * and its data entry's `;`-joined part list to one `table@part:rel`
    * key per part — because those are the values that grow with table
    * size/commit count: without the part explosion, a streaming-append
    * table re-writes its whole accumulated dir list in every delta
    * (O(appends since compact) bytes), with it each append writes one
    * line. Everything else is already O(tables) small. Part order is
    * not semantic (reads union the paths), so reassembly joins sorted.
    * Empty `@files` values (a zero-file line) pass through unexploded
    * so the key itself survives the round-trip. The rel-path half of
    * an exploded key is percent-encoded: hive-partitioned staging dirs
    * put '=' INSIDE paths (`region=eu/…`), and a raw '=' in a key
    * would split the `key=value` line at the wrong place.
    */
  private[sources] val PartMarker = "@part:"
  private[sources] def encPath(r: String): String =
    r.replace("%", "%25").replace("=", "%3D")
  private[sources] def decPath(r: String): String =
    r.replace("%3D", "=").replace("%25", "%")

  private[sources] def explode(view: Map[String, String]): Map[String, String] =
    view.flatMap { case (k, value) =>
      if (k.endsWith(FilesSuffix) && value.nonEmpty)
        value.split(";").filter(_.nonEmpty).toSeq.map { e =>
          val i = e.lastIndexOf(':')
          (k + ":" + encPath(e.substring(0, i))) -> e.substring(i + 1)
        }
      else if (!isMetaEntry(k) && value.nonEmpty)
        splitRel(value).map(r => (k + PartMarker + encPath(r)) -> "1")
      else Seq(k -> value)
    }

  private[sources] def reassemble(state: Map[String, String]): Map[String, String] = {
    val marker = FilesSuffix + ":"
    val (fileKeys, rest) = state.partition(_._1.contains(marker))
    val (partKeys, plain) = rest.partition(_._1.contains(PartMarker))
    val filesLines = fileKeys.toSeq
      .map { case (k, len) =>
        val i = k.indexOf(marker)
        (k.substring(0, i + FilesSuffix.length),
          (decPath(k.substring(i + marker.length)), len))
      }
      .groupBy(_._1)
      .map { case (lineKey, entries) =>
        lineKey -> entries.map(_._2).sortBy(_._1)
          .map { case (r, l) => s"$r:$l" }.mkString(";")
      }
    val dataLines = partKeys.keys.toSeq
      .map { k =>
        val i = k.indexOf(PartMarker)
        (k.substring(0, i), decPath(k.substring(i + PartMarker.length)))
      }
      .groupBy(_._1)
      .map { case (table, parts) => table -> parts.map(_._2).sorted.mkString(";") }
    plain ++ filesLines ++ dataLines
  }

  private[sources] def applyDelta(state: Map[String, String], lines: Seq[String]): Map[String, String] = {
    val b = scala.collection.mutable.Map.empty[String, String] ++ state
    lines.filter(_.nonEmpty).foreach { l =>
      if (l.startsWith("+")) {
        val Array(k, value) = l.substring(1).split("=", 2)
        b(k) = value
      } else if (l.startsWith("-")) b -= l.substring(1)
      else throw new IllegalStateException(
        s"corrupt delta manifest line under $root: '$l'")
    }
    b.toMap
  }

  private[sources] def headerField(header: String, name: String): Option[String] =
    header.split("\\s+").collectFirst {
      case t if t.startsWith(name + "=") => t.substring(name.length + 1)
    }

  /** Resolve version `v`'s EXPLODED state: nearest memo / checkpoint /
    * full (or legacy) manifest at-or-below `v`, plus the delta chain up
    * from it — O(CheckpointEvery) small reads worst-case, then cached
    * for every version touched on the walk. Throws FileNotFoundException
    * for a version that was never committed or left the retention
    * window (vacuum evicts its cache entries, so the miss is real).
    */
  private[sources] def resolveState(v: Long): Map[String, String] = {
    if (v <= 0L) return Map.empty
    val memo = stateCache.get(v)
    if (memo != null) return memo
    var pending = List.empty[(Long, Seq[String])] // oldest-first after the walk
    var cur = v
    var base: Map[String, String] = null
    while (base == null) {
      if (cur <= 0L) base = Map.empty
      else {
        val hit = stateCache.get(cur)
        if (hit != null) base = hit
        else if (store.exists(checkpointPath(cur)))
          base = parseKv(store.readString(checkpointPath(cur)).linesIterator.drop(1))
        else {
          val lines = store.readString(commitPath(cur)).linesIterator.toSeq
          // an empty manifest is a publish caught mid-write on a store
          // without atomic create-if-absent — surfacing it as an empty
          // LEGACY state would poison the cache and every downstream
          // read; fail loudly so the caller retries after the publish
          // completes
          if (lines.isEmpty) throw new java.io.IOException(
            s"manifest $cur under $root is empty — concurrent publish in flight " +
              "or torn store write; retry")
          val header = lines.headOption.getOrElse("")
          if (header.startsWith("#graft-delta")) {
            pending = (cur, lines.tail) :: pending
            cur = headerField(header, "base").map(_.toLong).getOrElse(cur - 1)
          } else if (header.startsWith("#graft-full")) base = parseKv(lines.tail.iterator)
          else base = explode(parseKv(lines.iterator)) // v1 headerless = full view
        }
      }
    }
    var st = base
    pending.foreach { case (ver, lines) =>
      st = applyDelta(st, lines)
      stateCache.put(ver, st)
    }
    stateCache.put(v, st)
    boundCache(stateCache)
    st
  }

  private[sources] def readManifest(v: Long): Map[String, String] = {
    // atomic-scope virtual versions resolve from the scope, never the
    // store (and never pollute the immutable-manifest caches)
    Snapshots.scopeOf(root).foreach { scope =>
      scope.manifestAt(v).foreach(return _)
    }
    val hit = viewCache.get(v)
    if (hit != null) return hit
    val view = reassemble(resolveState(v))
    viewCache.put(v, view); boundCache(viewCache)
    view
  }

  /** Commit time of version `v` — the manifest header's `ts` (recorded
    * at publish, survives file-level copies), falling back to the
    * manifest file's mtime for v1/legacy manifests. Throws for a
    * version not in the log.
    */
  def commitTimestamp(v: Long): Long = {
    val hit = tsCache.get(v)
    if (hit != null) return hit.longValue()
    // one store read (delta manifests are O(changed files) small; the
    // mtime fallback serves only headerless v1/external manifests)
    val header = store.readString(commitPath(v))
      .linesIterator.toSeq.headOption.getOrElse("")
    val ts =
      if (header.startsWith("#graft")) headerField(header, "ts").map(_.toLong)
        .getOrElse(store.mtime(commitPath(v)))
      else store.mtime(commitPath(v))
    tsCache.put(v, ts); boundCache(tsCache)
    ts
  }

  /** Consumed append-tags are manifest STATE, not path decoration: a
    * `<table>@tags=t1,t2,…` line travels through every manifest merge
    * (compact, partial rewrite, commitStaged, rollback), so a replayed
    * micro-batch stays a no-op even after maintenance rewrote the
    * tagged directory away. (The `@tag` dir-name suffix remains as a
    * debugging aid only — nothing correctness-bearing reads it.)
    */
  private[sources] val TagsSuffix = "@tags"

  /** Checkpointed read metadata — the manifest carries, per table, the
    * parquet schema (`<table>@schema`, Base64 of the Spark schema JSON)
    * and the file-granular `relPath:length` list (`<table>@files`), both
    * recorded at WRITE time from work the publish already did. Reads
    * plan from these lines alone (GraftLakeShim.parquetByManifest): no
    * per-query directory listing, no footer schema inference — the
    * O(files) driver metadata walk that throttles a 10⁵-file snapshot
    * becomes an O(manifest) lookup, the same move Delta's checkpoint /
    * Iceberg's manifest lists make. Manifests written before these
    * lines existed (or by external stagers) fall back to the listing
    * path — metadata is an accelerator, never a correctness input.
    *
    * Cost model: the VIEW carries full file lists, but the on-disk
    * manifest is a DELTA over the exploded per-file key space (see
    * [[writeManifest]]), so a publish writes O(changed files) metadata
    * bytes — a streaming append to a 10⁵-file table pays a few lines
    * per commit, with the full state re-materialized only at the
    * periodic `.checkpoint` cadence (the Delta-log trade, public
    * design).
    */
  private[sources] val SchemaSuffix = "@schema"
  private[sources] val FilesSuffix = "@files"
  private[sources] val MaintSuffix = "@maint"

  /** Merge-on-read DELETION VECTORS (the Delta/Iceberg v2 idea, public
    * knowledge): `<table>@dv=<rel>` points at a parquet tombstone set
    * (file_name, row_index). A MoR delete writes O(matched rows) of
    * positions and republishes the manifest — ZERO data files
    * rewritten — and every read applies the vector as a positional
    * anti-join (only when the line is present; DV-less plans are
    * untouched). Copy-on-write maintenance folds the vector away:
    * [[compact]] reads DV-applied rows and publishes without the line
    * (it IS the materialize step); partial-rewrite DML on a DV-bearing
    * table refuses until then, as do exactness-critical readers
    * (aggStats, readChanges, the change feed) — deletes hidden in a
    * side file must never silently corrupt a fold or a metadata
    * answer.
    */
  private[sources] val DvSuffix = "@dv"

  /** CHECK constraints (Delta's `ALTER TABLE ADD CONSTRAINT`, public
    * design): `<table>@check=<name>:<urlencoded expr>;…` declares SQL
    * boolean expressions every ROW of the table must satisfy. ANSI
    * CHECK semantics: a row violates only when the expression is
    * FALSE — NULL passes (so `col > 0` admits null `col`; demand
    * `col IS NOT NULL AND col > 0` for NOT-NULL-and-positive).
    * Enforcement is at WRITE time on every row-introducing path
    * (append, commit, merge, update rewrites, the streaming staged
    * publish): one extra O(batch) validation pass per constrained
    * table, never O(table) — except [[addCheck]] itself, which scans
    * the current rows once so a published constraint is never already
    * broken. Deletes cannot violate row constraints and skip the pass.
    */
  private[sources] val CheckSuffix = "@check"

  /** GENERATED columns (Delta's generated columns, public design):
    * `<table>@gen=<col>:<urlencoded expr>;…` declares columns whose
    * value IS a function of the row's other columns. A writing batch
    * may OMIT a generated column — ingestion paths compute it — or
    * carry it, in which case the provided values must MATCH the
    * expression (null-safe equality) or the write refuses: a declared
    * derivation can never silently diverge from its definition.
    * Rewrite paths (update/merge) recompute the column after the
    * transform, and SET targeting a generated column directly is
    * refused (update its inputs instead) — the Delta contract.
    */
  private[sources] val GenSuffix = "@gen"

  /** IDENTITY columns (Delta's GENERATED ALWAYS AS IDENTITY, public
    * design): `<table>@identity=<col>:<next>` declares a bigint column
    * whose values the LAKE assigns at append — monotonically increasing
    * and unique, with the high-water mark advanced ATOMICALLY in the
    * same manifest publish as the data (a crash can never burn ids
    * into a state where reuse is possible). Batches must OMIT the
    * column ("generated always"); [[appendIdentity]] assigns dense
    * contiguous ids via the two-pass distributed index (per-partition
    * counts, then prefix offsets — no global sort, no driver data).
    * A lost version race re-assigns against the new high-water mark
    * before retrying, so concurrent identity appends never collide.
    */
  private[sources] val IdentitySuffix = "@identity"

  /** COLUMN MAPPING (the Delta column-mapping idea, public design):
    * `<table>@colmap=<logical>:<physical>;…` — an ORDERED list of the
    * table's visible columns, each naming the PHYSICAL column that
    * holds it in the parquet files. Present only after a RENAME or
    * DROP COLUMN; absent = identity (physical names are the view).
    *
    * The rule that makes both verbs METADATA-ONLY at any table size:
    * files always keep their physical names ([[SchemaSuffix]] stays
    * physical, stats/bloom sidecars stay physical, deletion vectors
    * are positional), and the mapping is applied at exactly two seams
    * — physical→logical after every scan ([[toLogical]]), logical→
    * physical before every write ([[toPhysical]]) — so everything in
    * between (DML transforms, CHECK/generated expressions, incoming
    * batches) speaks logical names only. RENAME re-labels a physical
    * column; DROP removes it from the view while old versions still
    * time-travel to it; a column RE-ADDED after a drop gets a FRESH
    * physical name, so dropped data can never silently resurrect
    * (the Delta re-add contract). [[compact]] is the materialize
    * step: it rewrites files under the logical names and clears the
    * line (also physically shedding dropped-column bytes).
    */
  private[sources] val ColmapSuffix = "@colmap"

  /** TABLE PROPERTIES (the Delta TBLPROPERTIES idea, public design):
    * `<table>@props=<key>:<urlencoded value>;…` — free-form metadata
    * pairs that clone/restore/time-travel with the table, surfaced by
    * [[Snapshots.TableDetail]]. One key is BEHAVIORAL:
    * `appendOnly=true` (Delta's `delta.appendOnly`) refuses every
    * row-removing/row-modifying DML verb — copy-on-write
    * delete/update/merge/deleteKeys and both merge-on-read verbs —
    * while appends and metadata verbs stay open. Administrative
    * replacement (a full re-commit of the table) remains allowed: the
    * property guards the DML surface, and the admin path to change
    * data is unset-then-write, as in Delta.
    */
  private[sources] val PropsSuffix = "@props"

  /** The second BEHAVIORAL property (see [[clusterColsOf]]):
    * `clusterBy=c1,c2` — `PARTITIONED BY` lowered to value-clustered
    * flat files whose tight per-file stats drive the existing pruning.
    */
  private[sources] val ClusterByProp = "clusterBy"
  /** MATERIALIZED VIEW declaration ([[Matview]]):
    * `<mv>@matview=src:<table>;sql:<urlencoded SQL>;wm:<version>` — the
    * defining aggregate query, its source table, and the lake version
    * the stored rows reflect (the consumer's cursor position). The mv's
    * rows are an ORDINARY lake table `<mv>`; data and watermark always
    * publish in the SAME manifest write, so a reader never sees an
    * aggregate without the cursor that explains it.
    */
  private[sources] val MatviewSuffix = "@matview"

  /** PERSISTENT VIEW definition ([[GraftViews]]):
    * `<name>@view=<urlencoded SQL>` — the stored TEXT of a logical
    * view; no data entry exists for `<name>`. Resolution happens at
    * read time by the injected analysis rule (the Iceberg
    * parser/resolver-extension route, public design), always against
    * the lake's CURRENT snapshot.
    */
  private[sources] val ViewSuffix = "@view"

  private[sources] def isTagEntry(key: String): Boolean = key.endsWith(TagsSuffix)
  private[sources] def isMetaEntry(key: String): Boolean =
    key.endsWith(TagsSuffix) || key.endsWith(SchemaSuffix) ||
      key.endsWith(FilesSuffix) || key.endsWith(MaintSuffix) ||
      key.endsWith(DvSuffix) || key.endsWith(CheckSuffix) ||
      key.endsWith(GenSuffix) || key.endsWith(ColmapSuffix) ||
      key.endsWith(IdentitySuffix) || key.endsWith(PropsSuffix) ||
      key.endsWith(CopiedSuffix) || key.endsWith(MatviewSuffix) ||
      key.endsWith(ViewSuffix)

  /** `<table>@copied` — the COPY INTO load registry: the set of
    * already-ingested source files as `base64(path):length` entries.
    * Same scale class as the `@files` line (one entry per file), rides
    * clone/restore/time-travel like every manifest line.
    */
  private[sources] val CopiedSuffix = "@copied"
  private[sources] def copiedOf(m: Map[String, String], table: String): Set[(String, Long)] =
    m.get(table + CopiedSuffix).map(_.split(";").filter(_.nonEmpty).toSet.map { (e: String) =>
      val i = e.lastIndexOf(':')
      (new String(java.util.Base64.getDecoder.decode(e.substring(0, i)), StandardCharsets.UTF_8),
        e.substring(i + 1).toLong)
    }).getOrElse(Set.empty)
  private[sources] def copiedLine(table: String, entries: Set[(String, Long)]): (String, String) =
    (table + CopiedSuffix) -> entries.toSeq.sorted.map { case (p, l) =>
      java.util.Base64.getEncoder.encodeToString(p.getBytes(StandardCharsets.UTF_8)) + ":" + l
    }.mkString(";")

  private[sources] def encodeColmap(pairs: Seq[(String, String)]): String =
    pairs.map { case (l, p) =>
      java.net.URLEncoder.encode(l, "UTF-8") + ":" +
        java.net.URLEncoder.encode(p, "UTF-8")
    }.mkString(";")

  private[sources] def decodeColmap(v: String): Seq[(String, String)] =
    v.split(";").filter(_.nonEmpty).toSeq.map { kv =>
      val i = kv.indexOf(':')
      (java.net.URLDecoder.decode(kv.substring(0, i), "UTF-8"),
        java.net.URLDecoder.decode(kv.substring(i + 1), "UTF-8"))
    }

  private[sources] def colmapOf(m: Map[String, String], table: String): Option[Seq[(String, String)]] =
    m.get(table + ColmapSuffix).map(decodeColmap)

  /** The table's visible (logical→physical) column mapping at `version`
    * — None means identity. Metadata like [[checks]]: it time-travels,
    * clones and restores with the table.
    */
  def columnMapping(table: String, version: Option[Long] = None): Option[Seq[(String, String)]] = {
    val v = version.orElse(currentVersion).getOrElse(
      throw new IllegalStateException(s"no commits under $root"))
    colmapOf(readManifest(v), table)
  }

  /** physical→logical: project the scan into the visible view (order,
    * names, and column set of the mapping). Identity when unmapped.
    */
  private[sources] def toLogical(m: Map[String, String], table: String, df: DataFrame): DataFrame =
    colmapOf(m, table) match {
      case None => df
      case Some(pairs) => df.select(pairs.map { case (l, p) => df(p).as(l) }: _*)
    }

  /** logical→physical: rename a logical-named batch into the file
    * names. Columns the mapping doesn't know pass through unchanged
    * (mergeSchema's new columns — the caller extends the mapping).
    */
  private[sources] def toPhysical(m: Map[String, String], table: String, df: DataFrame): DataFrame =
    colmapOf(m, table) match {
      case None => df
      case Some(pairs) =>
        val byLogical = pairs.toMap
        df.select(df.columns.map(c => byLogical.get(c) match {
          case Some(p) => df(c).as(p)
          case None => df(c)
        }): _*)
    }

  /** Logical name → physical name for column arguments (stats ranges,
    * key columns, aggStats columns). Loud on a name the view doesn't
    * have — a silently-untranslated name would prune with the wrong
    * sidecar entry.
    */
  private[sources] def physicalName(m: Map[String, String], table: String, logical: String): String =
    colmapOf(m, table) match {
      case None => logical
      case Some(pairs) => pairs.collectFirst { case (l, p) if l == logical => p }
        .getOrElse(throw new NoSuchElementException(
          s"column '$logical' is not in table '$table''s visible columns " +
            s"(${pairs.map(_._1).mkString(", ")})"))
    }

  private[sources] def physicalRanges(m: Map[String, String], table: String,
                             ranges: Seq[FileStats.ColRange]): Seq[FileStats.ColRange] =
    ranges.map(r => r.copy(col = physicalName(m, table, r.col)))

  /** The table's VISIBLE schema at manifest `m`: the physical stored
    * schema with the column mapping applied (order, names, subset).
    * None when no schema line exists (pre-metadata manifests — those
    * predate column mapping, so identity).
    */
  private[sources] def logicalSchema(m: Map[String, String], table: String): Option[org.apache.spark.sql.types.StructType] =
    storedSchema(m, table).map { phys =>
      colmapOf(m, table) match {
        case None => phys
        case Some(pairs) =>
          val byName = phys.fields.map(f => f.name -> f).toMap
          org.apache.spark.sql.types.StructType(pairs.map { case (l, p) =>
            byName.getOrElse(p, throw new IllegalStateException(
              s"column mapping of '$table' names physical column '$p' " +
                s"absent from the stored schema ${phys.simpleString}"))
              .copy(name = l)
          })
      }
    }

  /** Every declared CHECK and generated-column expression of `table`
    * must still resolve against the post-change visible schema —
    * renaming or dropping a column out from under a standing guard
    * would turn enforcement into a runtime error on the next write
    * (Delta refuses the same way). Validation = analyze the expression
    * against an empty frame with the candidate schema.
    */
  private[sources] def requireExprsResolve(table: String, m: Map[String, String],
                                  candidate: org.apache.spark.sql.types.StructType,
                                  verb: String): Unit = {
    val empty = s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], candidate)
    val guards =
      decodeChecks(m.get(table + CheckSuffix)).map { case (n, e) => (s"CHECK '$n'", e) } ++
        decodeChecks(m.get(table + GenSuffix)).map { case (c, e) => (s"generated column '$c'", e) }
    guards.foreach { case (what, e) =>
      try empty.select(expr(e)).queryExecution.analyzed
      catch { case ex: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"$verb on table '$table' would break $what ($e): ${ex.getMessage} — " +
            "drop the guard first or keep the column")
      }
    }
  }

  /** RENAME COLUMN — metadata-only at any table size: one manifest
    * line re-labels the physical column; zero data IO. The new name is
    * immediately the only visible one (reads, incoming batches, DML
    * predicates); old versions time-travel to the old name.
    */
  private[sources] def dvEntries(m: Map[String, String]): Map[String, String] =
    m.filter { case (k, _) => k.endsWith(DvSuffix) }

  /** True iff `table` carries a deletion vector at version `v`. */
  def hasDeletionVector(table: String, v: Long): Boolean =
    readManifest(v).contains(table + DvSuffix)

  /** The raw `@colmap` line for `table` at `v` (None = identity) —
    * the change feed compares lines across its walk to refuse
    * mapping-change boundaries, and resolves logical read columns to
    * their physical file names.
    */
  private[sources] def colmapLineOf(table: String, v: Long): Option[String] =
    readManifest(v).get(table + ColmapSuffix)

  /** The checkpointed PHYSICAL schema of `table` at `v` (None on
    * pre-metadata manifests) — the change feed compares types across
    * its walk to refuse type-widening boundaries.
    */
  private[sources] def storedSchemaAt(table: String, v: Long): Option[org.apache.spark.sql.types.StructType] =
    storedSchema(readManifest(v), table)

  /** Logical→physical column resolution for `table` at `v` — identity
    * on unmapped tables and unmapped (post-evolution) columns.
    */
  private[sources] def physicalNameAt(table: String, v: Long, logical: String): String =
    colmapOf(readManifest(v), table) match {
      case None => logical
      case Some(pairs) =>
        pairs.collectFirst { case (l, p) if l == logical => p }.getOrElse(logical)
    }

  /** The manifest's `@dv` pointer for `table` at `v` — identity of the
    * vector (the change feed advances its DV cursor on pointer change,
    * the same way the file cursor advances on file-set change).
    */
  private[sources] def dvRelOf(table: String, v: Long): Option[String] =
    readManifest(v).get(table + DvSuffix)

  /** O(1)-ish probe: did ANYTHING about `table` change between v-1 and
    * v? Compares the table's manifest lines (data entry, file list, DV
    * pointer, maint flag) between the two cached views — a feed walking
    * a long version span skips every version that only touched OTHER
    * tables without building a single file set. (Cached-view string
    * compares; the common skip case short-circuits on identity.)
    */
  private[sources] def tableTouchedAt(table: String, v: Long): Boolean = {
    if (v <= 1L) return true
    val prev = readManifest(v - 1)
    val cur = readManifest(v)
    Seq(table, table + FilesSuffix, table + DvSuffix, table + MaintSuffix)
      .exists(k => prev.get(k) != cur.get(k))
  }

  /** Bytes of `table` data files ADDED at version `v` (not at v-1) —
    * the feed's admission-control weight for one version step, from
    * cached manifest views alone. Maintenance versions weigh zero (the
    * feed emits nothing for them).
    */
  private[sources] def addedBytesAt(table: String, v: Long): Long = {
    if (!tableTouchedAt(table, v)) return 0L
    if (readManifest(v).contains(table + MaintSuffix)) return 0L
    val prev = if (v <= 1L) Map.empty[String, Long] else fileSet(table, v - 1)
    (fileSet(table, v) -- prev.keySet).values.sum
  }

  /** The vector's parquet files as (absolute path, length) — one small
    * listing of the (tiny) DV directory; planner-side only.
    */
  private[sources] def dvAbsFiles(table: String, v: Long): Seq[(String, Long)] =
    dvRelOf(table, v).fold(Seq.empty[(String, Long)])(rel =>
      listRelFiles(splitRel(rel)).map { case (r, len) => (s"$root/$r", len) })

  /** True iff version `v` was a pure-maintenance publish for `table`
    * (compaction/clustering — rows invariant, files reorganized). The
    * change feed uses this to SKIP the version: at 100 TB a compaction
    * rewrites a table's whole file set, and without the flag every
    * downstream consumer would re-receive the table as remove+add
    * churn — the classic change-data-feed-from-file-diffs flood that
    * Delta's dataChange=false exists to prevent.
    */
  def isMaintenanceVersion(table: String, v: Long): Boolean =
    readManifest(v).contains(table + MaintSuffix)
  private[sources] def dataEntries(m: Map[String, String]): Map[String, String] =
    m.filterNot { case (k, _) => isMetaEntry(k) }
  private[sources] def tagsOf(m: Map[String, String], table: String): Set[String] =
    m.get(table + TagsSuffix).map(_.split(",").filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

  private[sources] def storedSchema(m: Map[String, String], table: String): Option[org.apache.spark.sql.types.StructType] =
    m.get(table + SchemaSuffix).map { b64 =>
      org.apache.spark.sql.types.DataType.fromJson(
        new String(java.util.Base64.getDecoder.decode(b64), StandardCharsets.UTF_8))
        .asInstanceOf[org.apache.spark.sql.types.StructType]
    }

  /** file-granular (relPath, length) list from the `@files` line. The
    * separator is `;` between entries and the LAST `:` within one (rel
    * paths embed table names, which the format does not restrict).
    */
  private[sources] def storedFiles(m: Map[String, String], table: String): Option[Seq[(String, Long)]] =
    m.get(table + FilesSuffix).map { v =>
      v.split(";").filter(_.nonEmpty).toSeq.map { e =>
        val i = e.lastIndexOf(':')
        (e.substring(0, i), e.substring(i + 1).toLong)
      }
    }

  private[sources] def schemaLine(table: String, schema: org.apache.spark.sql.types.StructType): (String, String) =
    (table + SchemaSuffix) -> java.util.Base64.getEncoder.encodeToString(
      schema.json.getBytes(StandardCharsets.UTF_8))

  private[sources] def filesLine(table: String, files: Seq[(String, Long)]): (String, String) =
    (table + FilesSuffix) -> files.map { case (r, l) => s"$r:$l" }.mkString(";")

  /** Expand manifest parts to (relFile, length) by listing each DIR part
    * once / stat-ing each file part — for parts the lake did not write
    * itself (externally staged dirs, manifests from before `@files`
    * lines), never per-read: lake writes know their files from
    * [[writeFiles]].
    */
  private[sources] def listRelFiles(parts: Seq[String]): Seq[(String, Long)] =
    parts.flatMap { r =>
      val p = new Path(root, r)
      if (fs.getFileStatus(p).isDirectory)
        FileStats.dataFiles(fs, p).map(f => s"$r/${f.getPath.getName}" -> f.getLen)
      else Seq(r -> fs.getFileStatus(p).getLen)
    }

  /** THE lake's batch write path: every data and deletion-vector file
    * the lake stages goes through here. `df`'s plan runs ONCE, as one
    * job; each task writes its partition through [[PartFileWriter]] (the
    * streaming sink's writer too) and returns its file's name, length,
    * rows and `statsCols` footer stats. Then, on the driver: files in
    * `rel` no task reported (failed attempts' residue) are deleted; if
    * no task wrote a row, ONE rowless file keeps the schema; and the
    * `_stats` / `_bloom` sidecars are written when `statsCols` /
    * `bloomCols` are non-empty (blooms sized from the reported rows).
    */
  private[graft] def writeFiles(df: DataFrame, rel: String,
                                statsCols: Seq[String] = Nil,
                                bloomCols: Seq[String] = Nil,
                                bloomFpp: Double = 0.01): WrittenDir = {
    val dir = new Path(root, rel)
    val spec = PartWriterSpec(s, dir.toString, df.schema,
      if (statsCols.isEmpty) None else Some(statsCols.toSet))
    val tasks = PartFileWriter.writeAll(df, spec)
    sweepUnreported(dir, tasks.map(_.name).toSet)
    val files =
      if (tasks.nonEmpty) tasks
      else new PartFileWriter(spec, 0, 0L).commit(keepEmpty = true).toSeq
    if (statsCols.nonEmpty)
      FileStats.writeSidecar(fs, dir, files.map(f => f.name -> f.stats).toMap)
    if (bloomCols.nonEmpty)
      FileStats.writeBloomSidecar(fs, dir, FileStats.harvestBlooms(s, dir.toString,
        bloomCols, files.map(f => f.name -> f.rows).toMap, bloomFpp))
    WrittenDir(rel, files)
  }

  /** Split manifest files (rel path, length) into those that might
    * hold a row matching `ranges` and those their own directory's
    * `_stats` sidecar proves cannot; a sidecar-less directory's files
    * might match (conservative). One sidecar open per distinct dir.
    */
  private[sources] def splitByStats(files: Seq[(String, Long)], ranges: Seq[FileStats.ColRange])
      : (Seq[(String, Long)], Seq[(String, Long)]) = {
    val tagged = files.groupBy { case (r, _) => new Path(root, r).getParent }.toSeq
      .flatMap { case (dir, fl) =>
        val st = FileStats.readSidecar(fs, dir)
        fl.map { case f @ (r, len) => f -> st.forall(stats => FileStats.prune(
          Seq(new org.apache.hadoop.fs.FileStatus(len, false, 1, 0L, 0L, new Path(root, r))),
          stats, ranges).nonEmpty) }
      }
    val (might, clean) = tagged.partition(_._2)
    (might.map(_._1), clean.map(_._1))
  }

  /** Delete every entry of staging dir `dir` not named in `keep` — what
    * failed task attempts or an earlier stage left there must never
    * become visible.
    */
  private[sources] def sweepUnreported(dir: Path, keep: Set[String]): Unit =
    if (fs.exists(dir))
      fs.listStatus(dir).filterNot(st => keep(st.getPath.getName))
        .foreach(st => fs.delete(st.getPath, true))

  /** Footer-truth schema of a just-written table part: what a stock
    * parquet read would infer, recorded once at publish so reads never
    * infer again. The slow path behind [[predictReadBack]]. When used
    * as the no-`@schema` FALLBACK over an existing multi-part entry it
    * reads ONE part's footer (the sorted-first part — deterministic,
    * not commit-ordered), which is exact for the homogeneous tables
    * that path supports: schema evolution always records `@schema`
    * (mergeSchema refuses to run without writing it), so a mixed-
    * schema metadata-less table is outside the contract either way.
    */
  private[sources] def writtenSchema(rel: String): org.apache.spark.sql.types.StructType =
    s.read.parquet(s"$root/${splitRel(rel).head}").schema

  /** Predict — without touching a footer — the schema a stock parquet
    * read of files written from `st` will infer. Verified empirically
    * (Spark 4.1): types round-trip identically for the standard type
    * set, and file-source inference reports EVERY field recursively
    * nullable (DataSource applies asNullable). Returns None for any
    * type whose round-trip is NOT identity (char/varchar collapse to
    * string, UDTs, intervals, null/void) — those callers pay one
    * footer read instead of guessing wrong.
    */
  private[sources] def predictReadBack(st: org.apache.spark.sql.types.StructType): Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.types._
    def safe(dt: DataType): Option[DataType] = dt match {
      case BooleanType | ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType | StringType | BinaryType | DateType |
           TimestampType | TimestampNTZType => Some(dt)
      case d: DecimalType => Some(d)
      case a: ArrayType => safe(a.elementType).map(e => ArrayType(e, containsNull = true))
      case m: MapType =>
        for { k <- safe(m.keyType); v <- safe(m.valueType) }
          yield MapType(k, v, valueContainsNull = true)
      case s: StructType =>
        val fs = s.fields.map(f =>
          safe(f.dataType).map(t => StructField(f.name, t, nullable = true, f.metadata)))
        if (fs.forall(_.isDefined)) Some(StructType(fs.map(_.get))) else None
      case _ => None
    }
    safe(st).map(_.asInstanceOf[StructType])
  }

  /** Apply `table`'s deletion vector (when present) to a RAW relation
    * df: tombstoned (file_name, row_index) positions leave via a
    * positional anti-join, the `_metadata` columns attached only for
    * the join and dropped after. DV-less tables skip this entirely —
    * their plans carry zero overhead. Tombstones key on file_name,
    * which is safe because every write path produces uuid'd part
    * names; [[deleteWhereMoR]] verifies table-wide name uniqueness
    * before publishing a vector.
    */
  private[sources] def applyDv(m: Map[String, String], table: String, df: DataFrame): DataFrame =
    m.get(table + DvSuffix) match {
      case None => df
      case Some(dvRel) =>
        val dv = s.read.parquet(absPaths(dvRel): _*)
          .select(col("file_name").as("__dv_fn"), col("row_index").as("__dv_ri"))
        val cols = df.columns
        df.withColumn("__fn", col("_metadata.file_name"))
          .withColumn("__ri", col("_metadata.row_index"))
          .join(dv, col("__fn") === col("__dv_fn") && col("__ri") === col("__dv_ri"),
            "left_anti")
          .select(cols.map(col): _*)
    }

  /** DataFrame for a table at manifest `m`: metadata-planned when the
    * manifest carries schema+files lines, stock listing read otherwise;
    * deletion vectors applied when present. The metadata-planned scan
    * carries the [[SnapshotsMetaOps.skippingPruner]] hook, so pushed
    * predicates skip files through the stats/bloom sidecars at
    * file-listing time — every read path (SQL text included) gets
    * [[readWhere]]-grade data skipping without naming ranges.
    */
  private[sources] def readTable(m: Map[String, String], table: String, rel: String): DataFrame =
    toLogical(m, table, applyDv(m, table, (storedSchema(m, table), storedFiles(m, table)) match {
      case (Some(schema), Some(files)) =>
        org.apache.spark.sql.GraftLakeShim.parquetByManifest(
          s, files.map { case (r, len) => (s"$root/$r", len) }, schema,
          skippingPruner(files))
      case _ => s.read.parquet(absPaths(rel): _*)
    }))

  /** A manifest value is one or more ';'-joined RELATIVE paths, each a
    * table directory or a single parquet file. File-granular entries
    * are what lets [[deleteWhere]] re-reference untouched files from an
    * older version (zero IO) instead of copying them; a plain commit
    * writes the common 1-dir case.
    */
  private[sources] def splitRel(rel: String): Seq[String] = rel.split(";").toSeq
  private[sources] def absPaths(rel: String): Seq[String] = splitRel(rel).map(r => s"$root/$r")

  /** One consistent view of every table at `version` (default: newest).
    * The manifest is resolved once, so all returned DataFrames belong
    * to the same committed snapshot.
    */
  def snapshot(version: Option[Long] = None): Map[String, DataFrame] = {
    val v = version.orElse(currentVersion)
      .getOrElse(throw new IllegalStateException(s"no commits under $root"))
    val m = readManifest(v)
    dataEntries(m).map { case (t, rel) => t -> readTable(m, t, rel) }
  }

  /** Single-table read from the newest (or given) snapshot. */
  def read(table: String, version: Option[Long] = None): DataFrame = {
    val v = version.orElse(currentVersion)
      .getOrElse(throw new IllegalStateException(s"no commits under $root"))
    val m = readManifest(v)
    val rel = dataEntries(m).getOrElse(table,
      throw new NoSuchElementException(s"table '$table' not in version $v under $root"))
    readTable(m, table, rel)
  }

  /** ONE scan over several tables of the same snapshot — the bucket-lake
    * layout, where each bucket is its own manifest table sharing one
    * schema. Tables absent from the snapshot are skipped (a bucket with
    * no rows has no manifest entry); at least one must be present.
    * Metadata-planned (union of the manifest file lists, no listing) when
    * every present table carries metadata; stock listing read otherwise.
    */
  def readTables(names: Seq[String], version: Option[Long] = None): DataFrame = {
    val v = version.orElse(currentVersion)
      .getOrElse(throw new IllegalStateException(s"no commits under $root"))
    val m = readManifest(v)
    val data = dataEntries(m)
    val present = names.filter(data.contains)
    require(present.nonEmpty, s"none of tables $names in version $v under $root")
    require(present.forall(n => !m.contains(n + DvSuffix)),
      "readTables is one raw multi-table scan and cannot apply per-table " +
        "deletion vectors — compact the MoR table(s) first")
    require(present.forall(n => !m.contains(n + ColmapSuffix)),
      "readTables is one raw multi-table scan and cannot apply per-table " +
        "column mappings — compact (materialize the rename/drop) first")
    val metas = present.map(n => (storedSchema(m, n), storedFiles(m, n)))
    if (metas.forall { case (sc, fl) => sc.isDefined && fl.isDefined })
      org.apache.spark.sql.GraftLakeShim.parquetByManifest(
        s,
        metas.flatMap(_._2.get).map { case (r, len) => (s"$root/$r", len) },
        metas.head._1.get)
    else
      s.read.parquet(present.flatMap(n => absPaths(data(n))): _*)
  }

  /** table → absolute data path at `version` (default: newest), resolved
    * from ONE manifest read — the primitive behind consistent multi-table
    * reads for callers that feed paths to a single scan (e.g. a bucketed
    * state lake reading many bucket dirs as one parquet source). Empty
    * when nothing is committed yet.
    */
  def tablePaths(version: Option[Long] = None): Map[String, Seq[String]] =
    version.orElse(currentVersion) match {
      case None => Map.empty
      case Some(v) =>
        val m = readManifest(v)
        require(dvEntries(m).isEmpty,
          "tablePaths exposes raw file paths, which would leak rows hidden by " +
            "a deletion vector — compact the MoR table(s) first")
        require(!m.keys.exists(_.endsWith(ColmapSuffix)),
          "tablePaths exposes raw file paths, which carry pre-rename physical " +
            "column names (and dropped columns) — compact (materialize) first")
        dataEntries(m).map { case (t, rel) => t -> absPaths(rel) }
    }

  /** Existence probe: is `table` committed at `version` (default head)?
    * Pure manifest lookup — no paths exposed, so (unlike [[tablePaths]])
    * an unrelated MoR table elsewhere in the lake cannot make it throw:
    * a replication bootstrap into a lake that happens to hold some
    * other DV-bearing table must not crash on the probe.
    */
  def hasTable(table: String, version: Option[Long] = None): Boolean =
    version.orElse(currentVersion).exists(v =>
      try dataEntries(readManifest(v)).contains(table) catch {
        // an uncommitted or vacuumed version holds nothing — a probe
        // answers false, it never throws
        case _: java.io.FileNotFoundException => false
      })

  /** A table's data files at a version, expanded to FILE granularity
    * (directory entries list their parquet files), so version diffs
    * compare the actual storage units the commit protocol moves.
    */
  private[sources] def fileSet(table: String, v: Long): Map[String, Long] = {
    val m = readManifest(v)
    storedFiles(m, table) match {
      // manifest metadata: the file set (with lengths) is already file-
      // granular — qualified identically to the listing branch so the
      // two representations set-match across versions
      case Some(files) =>
        files.map { case (r, len) =>
          fs.makeQualified(new Path(root, r)).toString -> len
        }.toMap
      case None => dataEntries(m).get(table).map { rel =>
        splitRel(rel).flatMap { r =>
          // makeQualified on BOTH branches: listStatus returns qualified
          // URIs (file:/…), a bare `new Path` does not — an unqualified
          // single-file entry would never set-match its qualified twin
          // and every file would look changed
          val p = fs.makeQualified(new Path(root, r))
          if (fs.getFileStatus(p).isDirectory)
            FileStats.dataFiles(fs, p).map(f => f.getPath.toString -> f.getLen)
          else Seq(p.toString -> fs.getFileStatus(p).getLen)
        }.toMap
      }.getOrElse(Map.empty[String, Long])
    }
  }

  /** Changes-between read — the lake's CDC-OUTPUT story, mirroring the
    * reference's cursor stream ("give me what changed since",
    * Stream.hs:244-284). Diffs `table`'s file sets between two
    * committed versions and reads only the difference:
    *
    *  - `_change = 'added'`: rows in files referenced at `toV` but not
    *    at `fromV` — for appends exactly the appended rows; for
    *    delete/update partial rewrites the POST-image of the touched
    *    files.
    *  - `_change = 'removed'`: rows in files referenced at `fromV` but
    *    not at `toV` — the PRE-image of the touched files.
    *
    * Rows in re-referenced (untouched) files never appear, so the cost
    * is O(changed files), not O(table) — the property that makes
    * downstream incremental consumers affordable at 100 TB. A row
    * updated in place surfaces on both sides (old value removed, new
    * value added). Both versions must still be within the vacuum
    * retention window; a collected version's files fail loudly here.
    */
}

object Snapshots {

  /** A serializable commit found a conflict-set table changed by a
    * concurrent transaction — the transaction must re-run from a fresh
    * snapshot (the lake analog of Postgres'
    * `could not serialize access`).
    */
  final class SerializationConflictException(msg: String)
    extends RuntimeException(msg)

  /** ATOMIC MULTI-STATEMENT SCOPE (`CALL graft.system.atomic`): while
    * open on this thread for a lake root, every verb's manifest
    * publish lands in a VIRTUAL version chain held here — verbs see
    * their in-scope predecessors (statement 2 reads statement 1's
    * insert) but the store sees NOTHING until the scope closes with
    * ONE real publish of the final state. The reference's
    * `withTransaction` (Stream.hs:166-231) composed with SQL text: an
    * exception anywhere in the script discards the scope — staged data
    * files without a manifest are the crashed-writer invariant the
    * protocol already vacuums. Thread-local by design: a scope is one
    * driver thread running one script; concurrent sessions keep their
    * own heads and the closing publish does first-committer-wins
    * against the real head.
    */
  private[sources] final class TxnScope(val base: Long,
                                        baseManifest: Map[String, String]) {
    private var count = 0
    private val states = scala.collection.mutable.Map[Long, Map[String, String]]()
    def head: Long = base + count
    def changed: Int = count
    def manifestAt(v: Long): Option[Map[String, String]] =
      if (v == base && base > 0L) Some(baseManifest)
      else states.get(v)
    def publishVirtual(m: Map[String, String]): Unit = {
      count += 1; states(base + count) = m
    }
    def finalManifest: Option[Map[String, String]] = states.get(head)
  }

  private val scopes = new ThreadLocal[scala.collection.mutable.Map[String, TxnScope]] {
    override def initialValue() = scala.collection.mutable.Map.empty
  }
  private[sources] def scopeOf(root: String): Option[TxnScope] = {
    val m = scopes.get
    if (m.isEmpty) None else m.get(root)
  }
  private[sources] def anyScopeOpen: Boolean = scopes.get.nonEmpty
  private[sources] def openScope(root: String, base: Long,
                                 baseManifest: Map[String, String]): TxnScope = {
    require(!scopes.get.contains(root),
      s"an atomic scope is already open for $root on this thread " +
        "(atomic CALLs do not nest)")
    val sc = new TxnScope(base, baseManifest)
    scopes.get.put(root, sc)
    sc
  }
  private[sources] def closeScope(root: String): Unit = scopes.get.remove(root)

  /** A write introduced rows that violate a table's CHECK constraint —
    * the write did NOT publish (the lake analog of Postgres'
    * `violates check constraint`).
    */
  final class ConstraintViolationException(msg: String)
    extends RuntimeException(msg)

  /** What a [[Snapshots.vacuum]] with the same arguments would do. */
  final case class VacuumPlan(versionsToDrop: Seq[Long],
                              dirsToDelete: Seq[String],
                              bytesReclaimed: Long)

  /** One table's operational facts at a version — see
    * [[Snapshots.tableDetail]].
    */
  final case class TableDetail(table: String, version: Long,
                               committedAt: java.sql.Timestamp,
                               numFiles: Int, sizeBytes: Long,
                               schemaDdl: String,
                               checks: Map[String, String],
                               generatedColumns: Map[String, String],
                               hasDeletionVector: Boolean,
                               consumedTags: Int,
                               properties: Map[String, String] = Map.empty)

  // ---- MERGE clause matrix (see SnapshotsDmlOps.mergeClauses) ----------

  /** Reserved prefix under which [[SnapshotsDmlOps.mergeClauses]]
    * exposes SOURCE columns on its joined frame. Clause conditions and
    * assignment values reference target columns by their own names and
    * source columns via [[srcCol]].
    */
  val SrcPrefix = "_mrg_src_"

  /** A source column inside a merge-clause condition or assignment. */
  def srcCol(name: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.col(SrcPrefix + name)

  /** Ordered WHEN MATCHED arms: the FIRST arm whose condition holds
    * (None = unconditional) applies; no arm → the row stays unchanged.
    */
  sealed trait WhenMatched { def cond: Option[org.apache.spark.sql.Column] }
  final case class MatchedUpdate(cond: Option[org.apache.spark.sql.Column],
                                 set: Map[String, org.apache.spark.sql.Column])
      extends WhenMatched
  final case class MatchedDelete(cond: Option[org.apache.spark.sql.Column])
      extends WhenMatched

  /** Ordered WHEN NOT MATCHED arms: first holding arm inserts its
    * values (which must assign every table column); no arm → the
    * source row is dropped.
    */
  final case class NotMatchedInsert(cond: Option[org.apache.spark.sql.Column],
                                    values: Map[String, org.apache.spark.sql.Column])

  /** Ordered WHEN NOT MATCHED BY SOURCE arms over target-only rows
    * (conditions may reference TARGET columns only — source columns
    * are all null there by construction).
    */
  sealed trait WhenNotMatchedBySource { def cond: Option[org.apache.spark.sql.Column] }
  final case class BySourceUpdate(cond: Option[org.apache.spark.sql.Column],
                                  set: Map[String, org.apache.spark.sql.Column])
      extends WhenNotMatchedBySource
  final case class BySourceDelete(cond: Option[org.apache.spark.sql.Column])
      extends WhenNotMatchedBySource
}
