package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Jdbc

/** The reference's north-star pipeline, end to end: a database change
  * table → incremental poll → MERGE into lake state. pgstream's users
  * run exactly this loop (stream Postgres changes into a compute
  * pipeline; reference: README.md:10-14, Stream.hs:244-284); the
  * engine-side composition is:
  *
  *   [[Jdbc.readQuery]] (only rows past the watermark cross the wire)
  *     → decoded change batch
  *     → [[LakeMerge.mergeBatch]] (stats-pruned upsert into the lake's
  *       `state` table, replay-idempotent)
  *
  * The watermark (max change ts applied so far) is the resume token:
  * polling is at-least-once, and because the merge is replay-idempotent
  * the composed pipeline is effectively exactly-once — the same
  * contract as the foreachBatch path, with the poll taking the place
  * of micro-batch scheduling for sources Spark cannot stream natively.
  * JdbcSpec drives the whole loop against embedded Derby.
  */
object JdbcCdc {

  /** One poll-and-merge step: read changes with ts > `sinceTs` from
    * `changeTable` (schema: OP, TS_MS, O_ORDERKEY, O_TOTALPRICE),
    * merge them into the state lake at `statePath`, and return the new
    * watermark (`sinceTs` if the poll was empty). The watermark query
    * runs ON the database — an empty poll costs one scalar round trip.
    *
    * OVERLAP RE-READ (`lagMs`): a writer can COMPUTE a change's TS_MS
    * before the poll and COMMIT it after — a strict `> watermark`
    * predicate would then skip that row forever (the classic
    * audit-timestamp race). Each poll therefore re-reads the trailing
    * `lagMs` window behind its token; re-delivery is free because the
    * merge is replay-idempotent. The residual assumption is explicit:
    * a transaction straggling LONGER than lagMs is still lost — the
    * inherent limit of polling capture (log-based CDC is the real
    * fix; the reference's cursor stream has the same at-least-once
    * contract per committed row).
    */
  def ingestOnce(s: SparkSession, cs: Jdbc.ConnSettings, changeTable: String,
                 statePath: String, sinceTs: Long, lagMs: Long = 10000L): Long = {
    val lo = sinceTs - lagMs
    val hi = Jdbc.readQuery(s,
      cs, s"SELECT MAX(TS_MS) AS HI FROM $changeTable WHERE TS_MS > $lo")
      .head().getAs[Number](0)
    if (hi == null) return sinceTs
    val batch = Jdbc.readQuery(s, cs,
      s"SELECT OP, TS_MS, O_ORDERKEY, O_TOTALPRICE FROM $changeTable " +
        s"WHERE TS_MS > $lo AND TS_MS <= ${hi.longValue()}")
      .select(
        col("OP").as("op"), col("TS_MS").as("ts_ms"),
        col("O_ORDERKEY").as("o_orderkey"), col("O_TOTALPRICE").as("o_totalprice"))
    LakeMerge.mergeBatch(s, statePath, batch)
    math.max(hi.longValue(), sinceTs)
  }

  /** Audit-column + tombstone-table capture — the polling shape for
    * sources that expose a LIVE table rather than a change log. An
    * `UPDATED_MS` audit column catches inserts and updates, but a
    * DELETE leaves no row behind to carry a timestamp — the classic
    * hole in audit-column polling. The source closes it with a delete
    * trigger writing `(SEQ identity, ID, TS_MS)` tombstones (TS_MS =
    * the deleted row's audit time + 1, so per-key latest-wins ordering
    * puts the delete after the state it removes, and a later re-insert
    * with a fresh audit time wins back).
    *
    * Two RESUME TOKENS, not one: the tombstone of an OLD row carries a
    * LOW TS_MS, so a single shared timestamp watermark would skip it —
    * deletes advance on the tombstone table's own monotone SEQ while
    * upserts advance on the audit millis. Each poll reads only rows
    * past its token (both predicates push down; an empty poll is two
    * scalar round trips), merges ONE unioned batch — upserts and
    * deletes land atomically in the same lake publish — and returns the
    * advanced pair. At-least-once polling + replay-idempotent merge =
    * exactly-once, same as [[ingestOnce]]; JdbcSpec drives a real Derby
    * DELETE through the trigger into the lake and reads the removal
    * back out of [[graft.sources.Snapshots.readChanges]].
    */
  def ingestFromTable(s: SparkSession, cs: Jdbc.ConnSettings, srcTable: String,
                      tombTable: String, statePath: String,
                      sinceSrcMs: Long, sinceDelSeq: Long,
                      lagMs: Long = 10000L, lagSeq: Long = 1024L): (Long, Long) = {
    def scalarMax(sql: String): Option[Long] =
      Option(Jdbc.readQuery(s, cs, sql).head().getAs[Number](0)).map(_.longValue())
    // overlap re-read on BOTH tokens (see ingestOnce): an audit stamp
    // can commit after the poll that its value predates, and identity
    // SEQ values commit out of order too — the trailing window is
    // re-merged (idempotent) instead of lost
    val loSrc = sinceSrcMs - lagMs
    val loDel = sinceDelSeq - lagSeq
    val hiSrc = scalarMax(
      s"SELECT MAX(UPDATED_MS) AS HI FROM $srcTable WHERE UPDATED_MS > $loSrc")
    val hiDel = scalarMax(
      s"SELECT MAX(SEQ) AS HI FROM $tombTable WHERE SEQ > $loDel")
    if (hiSrc.isEmpty && hiDel.isEmpty) return (sinceSrcMs, sinceDelSeq)
    val parts = Seq(
      hiSrc.map(hi => Jdbc.readQuery(s, cs,
        s"SELECT 'u' AS OP, UPDATED_MS AS TS_MS, ID AS O_ORDERKEY, " +
          s"PRICE AS O_TOTALPRICE FROM $srcTable " +
          s"WHERE UPDATED_MS > $loSrc AND UPDATED_MS <= $hi")),
      hiDel.map(hi => Jdbc.readQuery(s, cs,
        s"SELECT 'd' AS OP, TS_MS, ID AS O_ORDERKEY, " +
          s"CAST(NULL AS DOUBLE) AS O_TOTALPRICE FROM $tombTable " +
          s"WHERE SEQ > $loDel AND SEQ <= $hi"))).flatten
    val batch = parts.reduce(_ unionByName _)
      .select(
        col("OP").as("op"), col("TS_MS").as("ts_ms"),
        col("O_ORDERKEY").as("o_orderkey"), col("O_TOTALPRICE").as("o_totalprice"))
    LakeMerge.mergeBatch(s, statePath, batch)
    (math.max(hiSrc.getOrElse(sinceSrcMs), sinceSrcMs),
      math.max(hiDel.getOrElse(sinceDelSeq), sinceDelSeq))
  }
}
