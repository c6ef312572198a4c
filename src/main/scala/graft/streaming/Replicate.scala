package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{ChangeFeed, FileStats, Snapshots}

/** Lake-to-lake REPLICATION driven by the lake's own change feed —
  * the reference's north-star loop (README.md:10-14: stream changes
  * out of the primary store into a compute store) with the LAKE as
  * both ends: the change-feed source (D12) streams per-version diffs,
  * and each micro-batch lands in the replica through ONE span-pruned
  * [[Snapshots.applyChanges]] (live rows upserted, dead keys deleted,
  * one published version) — per batch O(touched files + batch),
  * never O(table), on both the read and write side.
  *
  * Per-key resolution: within a micro-batch (which may span several
  * source versions) the LAST version touching a key decides its fate —
  * an `added` row at that version is the key's final state (insert,
  * update, and compaction-rider churn all look identical here), no
  * added row means the key died. This collapses file-diff churn
  * (remove+re-add of rows that merely rode along in a rewritten file)
  * into value-identical upserts, and the maintenance flag (`@maint`)
  * keeps pure compactions out of the feed entirely.
  *
  * Exactly-once: the verb is idempotent at the row level (an upsert
  * of identical rows and a delete of absent keys both converge), so a
  * replayed micro-batch after a checkpoint restart re-lands harmlessly
  * — no batch-id ledger needed, the convergence IS the guarantee.
  */
object Replicate {

  /** foreachBatch body: apply one change-feed micro-batch to `dst`. */
  def applyBatch(dst: Snapshots, table: String, keyCol: String,
                 statsCols: Seq[String] = Nil)
                (batch: DataFrame, batchId: Long): Unit =
    applyBatchKeys(dst, table, Seq(keyCol), statsCols)(batch, batchId)

  /** Composite-key form: per-key resolution and the replica's
    * applyChanges match on every component. */
  def applyBatchKeys(dst: Snapshots, table: String, keyCols: Seq[String],
                     statsCols: Seq[String] = Nil)
                    (batch: DataFrame, batchId: Long): Unit = {
    // pin the batch FIRST — every downstream action (emptiness probe,
    // vmax, upsert span/write, dead-key span) would otherwise re-read
    // the feed's files
    val cached = batch.persist()
    try {
      if (cached.isEmpty) return
      val dataCols = batch.columns
        .filterNot(c => c == "_change" || c == "_commit_version").toSeq
      val vmax = cached.groupBy(keyCols.map(col): _*)
        .agg(max(col("_commit_version")).as("_vmax"))
        .select(keyCols.map(k => col(k).as(s"_rk_$k")) :+ col("_vmax"): _*)
      // `last` feeds four actions (upsert span agg + rewrite, dead span
      // agg + rewrite) — pin the join result too; batches are
      // change-sized, so both pins are small
      val cond = keyCols.map(k => col(k) === col(s"_rk_$k")).reduce(_ && _)
      val last = cached.join(vmax, cond && col("_commit_version") === col("_vmax"))
        .persist()
      try {
        val ups = last.where(col("_change") === "added")
          .select(dataCols.map(col): _*)
        val dead = last.groupBy(keyCols.map(col): _*)
          .agg(max(when(col("_change") === "added", 1).otherwise(0)).as("_has_add"))
          .where(col("_has_add") === 0).select(keyCols.map(col): _*)
        // existence probe, not tablePaths: the replica lake may hold an
        // UNRELATED merge-on-read table, and the bootstrap check must
        // not trip its deletion-vector guard
        val hasTable = dst.hasTable(table)
        if (!hasTable) {
          // bootstrap: the first batch's live rows found the replica;
          // keys already dead within the batch never existed here —
          // nothing to delete
          if (!ups.isEmpty)
            dst.commit(Map(table -> ups), Map(table -> statsCols))
        } else {
          // ONE fused verb per micro-batch: upserts and dead keys land
          // in a single span-pruned rewrite and a single published
          // version ([[Snapshots.applyChanges]]) — half the commit
          // rate and version churn of the mergeInto+deleteKeys pair,
          // and no observable upserted-but-not-yet-deleted
          // intermediate state for the replica's own readers
          dst.applyChanges(table, ups, dead, keyCols, statsCols)
        }
      } finally { last.unpersist(); () }
    } finally { cached.unpersist(); () }
  }

  /** Replication-source fixture, staged ONCE per sf dir: a lake driven
    * through every DML verb the replica must survive — commit,
    * range delete, range update, COMPACTION (a maintenance version the
    * feed must skip), and append — all in closed forms of the raw
    * orders table so DuckDB can recompute the head from scratch.
    */
  def stagedReplLake(s: SparkSession, dir: String): Snapshots = {
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val root = s.conf.get("spark.sql.warehouse.dir") + s"/repl_c12$tag"
    val snap = new Snapshots(s, root)
    graft.StagedFixture.ensure(s, root, "G1") {
      val cents = round(col("o_totalprice") * 100, 0).cast("long")
      val base = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_orderstatus"), cents.as("price_cents"))
      snap.commit(Map("orders" -> base.repartitionByRange(16, col("o_orderkey"))),
        Map("orders" -> Seq("o_orderkey")))                                // v1
      snap.deleteWhere("orders",
        Seq(FileStats.ColRange("o_orderkey", Some(3000L), Some(3999L))),
        Seq("o_orderkey"))                                                 // v2
      snap.updateWhere("orders",
        Seq(FileStats.ColRange("o_orderkey", Some(1000L), Some(1999L))),
        Map("price_cents" -> (col("price_cents") + 7L)), Seq("o_orderkey")) // v3
      snap.compact("orders", targetBytes = 1L << 22,
        sortCol = Some("o_orderkey"), statsCols = Seq("o_orderkey"))       // v4 @maint
      snap.append("orders", base.select(
        (col("o_orderkey") + 20000000L).as("o_orderkey"),
        col("o_orderstatus"), (col("price_cents") + 1L).as("price_cents")),
        statsCols = Seq("o_orderkey"))                                     // v5
    }
    snap
  }

  /** `c12_replicate`: the production bring-up pattern — PROVISION the
    * replica from a source snapshot, then TAIL the cursor (the
    * basebackup-plus-WAL shape; here: a template replica committed at
    * source v1, staged once per sf dir). Each run file-copies the
    * template (raw bytes, no jobs), then drives the feed from
    * `startingVersion = 1` — so the key times what a standing replica
    * PAYS: the incremental legs (range delete, range update, a skipped
    * compaction, append), one source version per micro-batch, through
    * applyChanges. key_sum pins row-level key presence,
    * total_cents pins that the update's +7 and the append's +1 landed
    * on exactly the right rows — a missed delete, double-applied
    * batch, or compaction-churn re-delivery flips the hash against
    * DuckDB's from-scratch recompute of the same head. (The
    * feed-driven BOOTSTRAP path — empty replica, startingVersion 0 —
    * is StreamingSpec's replication case.)
    */
  def c12Replicate(s: SparkSession, dir: String): DataFrame = {
    val src = stagedReplLake(s, dir)
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val conf = s.sparkContext.hadoopConfiguration
    val tmplRoot = s.conf.get("spark.sql.warehouse.dir") + s"/repl_tmpl_c12$tag"
    val fs = new Path(tmplRoot).getFileSystem(conf)
    val marker = new Path(tmplRoot, "_TMPL_G1")
    if (!fs.exists(marker)) {
      fs.delete(new Path(tmplRoot), true)
      val tmpl = new Snapshots(s, tmplRoot)
      tmpl.commit(Map("orders" -> src.read("orders", Some(1L))),
        Map("orders" -> Seq("o_orderkey")))
      fs.create(marker, true).close()
    }
    val dstRoot = s.conf.get("spark.sql.warehouse.dir") + s"/repl_dst_c12$tag"
    fs.delete(new Path(dstRoot), true)
    org.apache.hadoop.fs.FileUtil.copy(fs, new Path(tmplRoot),
      fs, new Path(dstRoot), false, conf)
    val dst = new Snapshots(s, dstRoot)
    val ckpt = java.nio.file.Files.createTempDirectory("repl_ckpt").toString
    val q = s.readStream
      .format(classOf[ChangeFeed].getName)
      .option("path", src.rootPath).option("table", "orders")
      .option("startingVersion", "1") // the template already holds v1
      .option("maxVersionsPerTrigger", "1")
      .load()
      .writeStream
      .foreachBatch(applyBatch(dst, "orders", "o_orderkey", Seq("o_orderkey")) _)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      if (!q.awaitTermination(300000))
        throw new IllegalStateException("c12 change-feed drain timed out")
    } finally q.stop()
    dst.read("orders")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum("price_cents").as("total_cents"),
        sum("o_orderkey").as("key_sum"))
      .orderBy("o_orderstatus")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] =
    Map("c12_replicate" -> c12Replicate _)

  val oracles: Map[String, String] = Map(
    "c12_replicate" ->
      """WITH c AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_cents
        |  FROM orders
        |), r AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    price_cents + CASE WHEN o_orderkey BETWEEN 1000 AND 1999
        |      THEN 7 ELSE 0 END AS price_cents
        |  FROM c WHERE o_orderkey NOT BETWEEN 3000 AND 3999
        |  UNION ALL
        |  SELECT o_orderkey + 20000000, o_orderstatus, price_cents + 1 FROM c
        |)
        |SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(price_cents) AS BIGINT) AS total_cents,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM r GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
}
