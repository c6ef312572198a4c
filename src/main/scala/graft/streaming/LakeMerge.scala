package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Snapshots
import graft.sources.Snapshots.{MatchedDelete, MatchedUpdate, NotMatchedInsert, srcCol}

/** CDC MERGE into the lake — the analog of the reference's
  * `execute`/`execute_` write path (reference: Stream.hs:122-145):
  * where a pgstream user runs `execute [sql|INSERT/UPDATE/DELETE …|]`
  * against Postgres, a lake engine applies a decoded change batch into
  * table state as an upsert. This is the operator a CDC consumer
  * actually runs after [[Cdc.applyIncrement]] computes the new state.
  *
  * Layout: the state lake is ONE ordinary lake table, `state`
  * (o_orderkey, price, last_op, ts_ms), with sidecar stats on the key
  * and range-clustered on it (the `clusterBy` contract). A merge is one
  * [[Snapshots.mergeClauses]] call, so it runs the stats-pruned
  * partial rewrite every DML verb runs: the batch's key span bounds
  * the touched files, every other file is re-referenced untouched, and
  * a merge sized to more than one output file writes them range-
  * clustered, so the state stays key-disjoint merge after merge. The
  * span, not the key set, bounds the rewrite: a sparse batch whose keys
  * lie far apart rewrites every file between them. Visibility is ONE
  * atomic manifest commit — a reader resolves old or new state, never
  * a mix. This is the lake analog of the reference running `execute`
  * INSIDE `withTransaction` (reference: Stream.hs:122-145 inside
  * Stream.hs:166-231). A merge that dies before its manifest lands
  * leaves only unreferenced staged files (vacuum's orphan sweep), and
  * the next merge starts from the last committed manifest.
  *
  * Exactly-once under replay: the merge is latest-wins by (ts, op) over
  * state ∪ batch — exactly [[Cdc.applyIncrement]] — so a foreachBatch
  * retry of an already-applied batch reproduces the same state. The ts
  * guard on the MATCHED arms carries latest-wins ACROSS batches: a
  * change older than the stored row (a late re-delivery) loses to it,
  * where a plain upsert would overwrite it. StreamingSpec pins the fold
  * of merges against the fold of Cdc.applyIncrement.
  */
object LakeMerge {

  /** The state lake's one table. */
  val Table = "state"
  private val Key = "o_orderkey"

  /** Seed (REPLACE) the state lake at `path` from a full-state DataFrame
    * (schema: o_orderkey, price, last_op, ts_ms) in one atomic table
    * (re)definition.
    */
  def seed(s: SparkSession, path: String, state: DataFrame): Unit =
    seed(new Snapshots(s, path), state)

  private def seed(snap: Snapshots, state: DataFrame): Unit = {
    snap.replaceTable(Table, state, statsCols = Seq(Key), props = Map("clusterBy" -> Key))
    ()
  }

  /** MERGE a decoded change batch (schema: op, ts_ms, o_orderkey,
    * o_totalprice) into the state lake at `path`. Upsert semantics:
    * latest-wins per key by (ts, op); 'd' ops remove the key. A lake
    * with no state table yet is seeded from the batch's own
    * latest-wins state in one commit.
    */
  def mergeBatch(s: SparkSession, path: String, changes: DataFrame): Unit =
    mergeBatch(new Snapshots(s, path), changes)

  private[graft] def mergeBatch(snap: Snapshots, changes: DataFrame): Unit =
    if (!snap.hasTable(Table)) seed(snap, Cdc.applyChanges(changes, keepTs = true))
    else {
      // the merge source: each key's latest change, deletes KEPT (they
      // are what removes a key). It feeds the span job, the uniqueness
      // guard and the rewrite; pinning it keeps its lineage (typically
      // an envelope decode) from running three times. A micro-batch is
      // bounded by construction, and the pin is released before return.
      val src = Cdc.latestPerKey(changes)
        .select(col(Key), round(col("o_totalprice"), 2).as("price"), col("op"), col("ts_ms"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // the batch row wins iff Cdc.applyIncrement would pick it over
        // the stored row: newer ts, or equal ts and op not after last_op
        val newer = srcCol("ts_ms") > col("ts_ms") ||
          (srcCol("ts_ms") === col("ts_ms") && srcCol("op") <= col("last_op"))
        val set = Map("price" -> srcCol("price"), "last_op" -> srcCol("op"),
          "ts_ms" -> srcCol("ts_ms"))
        snap.mergeClauses(Table, src, Seq(Key),
          matched = Seq(MatchedDelete(Some(newer && srcCol("op") === "d")),
            MatchedUpdate(Some(newer), set)),
          notMatched = Seq(NotMatchedInsert(Some(srcCol("op") =!= "d"), set + (Key -> srcCol(Key)))),
          bySource = Nil, statsCols = Seq(Key))
      } finally { src.unpersist(blocking = false); () }
    }

  /** Current state read back: one manifest resolve, one scan. */
  def readState(s: SparkSession, path: String): DataFrame =
    new Snapshots(s, path).read(Table)

  /** State lake seeded from the snapshot ('r') rows, staged ONCE per sf
    * dir (idempotent, marker-gated — the [[Cdc.stagedEnvelopes]]
    * pattern). Seeding is test-fixture construction, not merge work: a
    * real consumer merges into a lake that already exists, so c03 must
    * time mergeBatch+readState, not a per-run re-seed of full table
    * state.
    */
  def stagedLake(s: SparkSession, dir: String): String = {
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val path = s.conf.get("spark.sql.warehouse.dir") + s"/orders_state_c03$tag"
    // the generation tag carries the LAYOUT: a persistent warehouse can
    // hold a lake staged by an older build (different on-disk protocol),
    // whose marker must not be trusted; bump it whenever layout changes
    graft.StagedFixture.ensure(s, path, "SEEDED_G4") {
      val decoded = Cdc.decode(Cdc.stagedEnvelopes(s, dir))
      seed(s, path, Cdc.applyChanges(decoded.where(col("op") === "r"), keepTs = true))
    }
    path
  }

  /** `c03_cdc_merge`: the execute-analog flow — MERGE the update+delete
    * batch into the seeded state lake, read back the post-merge table
    * state. The result must equal the one-shot apply (c01), which is
    * exactly what the DuckDB oracle checks. Repeated invocations re-merge
    * the same batch into already-merged state — a no-op by latest-wins
    * idempotence (the exact replay guarantee StreamingSpec proves), so
    * the key is stable under Verify-then-Bench and warm/timed re-runs
    * while timing only what a consumer actually pays per batch.
    */
  def c03CdcMerge(s: SparkSession, dir: String): DataFrame = {
    val path = stagedLake(s, dir)
    val decoded = Cdc.decode(Cdc.stagedEnvelopes(s, dir))
    mergeBatch(s, path, decoded.where(col("op") =!= "r"))
    // retention is the standing maintenance call of a merged-into lake:
    // keep a short time-travel window, bound storage across re-merges
    new Snapshots(s, path).vacuum(keepLast = 3)
    readState(s, path)
      .select(col("o_orderkey"), col("price"), col("last_op"))
      .orderBy("o_orderkey")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] =
    Map("c03_cdc_merge" -> c03CdcMerge _)

  /** Post-merge state == one-shot latest-wins apply over the whole
    * change stream — the same closed form as c01's oracle.
    */
  val oracles: Map[String, String] = Map(
    "c03_cdc_merge" ->
      """SELECT o_orderkey,
        |  round(CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2.0
        |             ELSE o_totalprice END, 2) AS price,
        |  CASE WHEN o_orderkey % 7 = 0 THEN 'u' ELSE 'r' END AS last_op
        |FROM orders
        |WHERE o_orderkey % 11 <> 0
        |ORDER BY o_orderkey""".stripMargin)
}
