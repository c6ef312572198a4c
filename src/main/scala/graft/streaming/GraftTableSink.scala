package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType

/** `writeStream.toTable("graft.db.t")` — the WRITE half of the Delta
  * table-streaming contract (the read half is `readStream.table`,
  * ChangeFeedStream). Reference analog: the consumer end of
  * Stream.hs:244-284's loop, pushing a stream's output back into a
  * named table as statements.
  *
  * Architecture (the Delta/Iceberg streaming-sink design, public):
  * every micro-batch is a DISTRIBUTED direct write — each task streams
  * its partition straight into a per-epoch staging directory through
  * the lake's per-task parquet writer ([[graft.sources.PartFileWriter]],
  * the same body every batch lake write runs: identical bytes to
  * `df.write.parquet`, same codec, same layout, same session confs; no
  * foreachBatch re-shuffle, no driver-side rows) and reports its file's
  * length, rows and footer stats — followed by ONE driver-side manifest
  * publish ([[graft.sources.SnapshotsDmlOps.publishStreamEpoch]]) that
  * re-references the committed task files and writes their `_stats`
  * from the reports. Exactly-once rides the same
  * consumed-tag mechanism as every other ingest path: the tag is
  * `(streaming query id, epochId)` — the query id is stable across
  * restarts (it lives in the checkpoint), so a replayed epoch finds
  * its tag consumed and publishes nothing, while two DIFFERENT queries
  * appending to one table interleave freely. Task retries are handled
  * below the tag: only files named in the epoch's commit messages are
  * published, and orphans from failed attempts are deleted at commit.
  *
  * The staging directory carries a per-RUN nonce, so a restart's
  * replayed epoch stages into a fresh directory and the duplicate-tag
  * no-op can safely delete it without touching the published one.
  */
class GraftStreamingWrite(val root: String, val table: String,
                          writeSchema: StructType, queryId: String)
    extends StreamingWrite {

  private val spark = SparkSession.active
  private val nonce = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
  // every eligible column's stats: the publish keeps the table's cluster
  // columns when it declares some, all of them otherwise
  private val spec = graft.sources.PartWriterSpec(spark, s"$root/stream-$nonce",
    writeSchema, Some(Set.empty[String]))

  private def epochRel(epochId: Long) = s"stream-$nonce/e$epochId"
  private def tag(epochId: Long) =
    "st" + queryId.replaceAll("[^A-Za-z0-9]", "") + "-e" + epochId

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    GraftStreamWriterFactory(spec)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.toSeq.collect { case GraftStreamCommitMessage(Some(f)) => f }
    new graft.sources.Snapshots(spark, root)
      .publishStreamEpoch(table, epochRel(epochId), files, tag(epochId), writeSchema)
    ()
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val p = new Path(s"$root/${epochRel(epochId)}")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }
}

/** Driver key for the streaming TABLE SINK loop. */
object GraftTableSink {

  /** D18 `c27_stream_into_table`: the lake's table-streaming contract
    * CLOSED in both directions as pure text — `readStream.table(src)`
    * → transform → `writeStream.toTable(dst)`, across TWO source
    * commits and TWO runs of the SAME checkpoint (the second run picks
    * up only the new version; replayed epochs are tag-no-ops). Every
    * dst byte was written by the per-task direct parquet writers and
    * published as manifest epochs; the final aggregate over dst is the
    * oracle's closed form over orders. Fresh per-run namespace +
    * checkpoint keep bench repeats idempotent.
    */
  def c27StreamIntoTable(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val root = s.conf.get("spark.sql.warehouse.dir") + "/c21_catalog"
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root", root)
    graft.sources.Catalog.register(s, dir)
    val ns = "db_" + java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    s.sql(s"CREATE NAMESPACE graft.$ns")
    s.sql(s"CREATE TABLE graft.$ns.src (o_orderkey BIGINT, o_orderstatus STRING, price_cents BIGINT)")
    s.sql(s"CREATE TABLE graft.$ns.dst (o_orderstatus STRING, cents2 BIGINT)")
    val ckpt = s.conf.get("spark.sql.warehouse.dir") + s"/c27_ckpt_$ns"
    def drain(): Unit = {
      val q = s.readStream.table(s"graft.$ns.src")
        .selectExpr("o_orderstatus", "price_cents * 2 AS cents2")
        .writeStream.option("checkpointLocation", ckpt)
        .toTable(s"graft.$ns.dst")
      try q.processAllAvailable() finally q.stop()
    }
    s.sql(s"""INSERT INTO graft.$ns.src
             |SELECT o_orderkey, o_orderstatus,
             |       CAST(round(o_totalprice * 100, 0) AS BIGINT)
             |FROM orders WHERE o_orderkey % 2 = 0""".stripMargin)
    drain()
    s.sql(s"""INSERT INTO graft.$ns.src
             |SELECT o_orderkey, o_orderstatus,
             |       CAST(round(o_totalprice * 100, 0) AS BIGINT)
             |FROM orders WHERE o_orderkey % 2 <> 0""".stripMargin)
    drain() // same checkpoint: only the second commit flows, once
    s.sql(s"""SELECT o_orderstatus, count(*) AS n,
             |       CAST(sum(cents2) AS BIGINT) AS total2
             |FROM graft.$ns.dst
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** D20 `p02_pipeline_stream`: the CURATION PIPELINE's STREAMING twin
    * (p01 is the batch capstone) — one standing query composing the
    * verified streaming stages end-to-end: a doubled file source
    * (planted duplicates), watermarked
    * `dropDuplicatesWithinWatermark` (bounded state — the d01 contract
    * on an unbounded stream), a quality gate (pushable predicate), a
    * broadcast stream-static dimension join (st04's shape), and the
    * per-task direct parquet `writeStream.toTable` sink publishing
    * manifest epochs into the lake. The landed table IS the curated
    * corpus; the final fold over it reproduces DuckDB's closed form
    * over raw events — streaming vs batch answering identically is
    * the whole contract. Both duplicate legs surface in the same
    * micro-batch (one processAllAvailable drain reads all files), so
    * the dedup is exact and the oracle deterministic.
    */
  def p02PipelineStream(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val root = s.conf.get("spark.sql.warehouse.dir") + "/c21_catalog"
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root", root)
    graft.sources.Catalog.register(s, dir)
    val ns = "db_" + java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    s.sql(s"CREATE NAMESPACE graft.$ns")
    s.sql(s"""CREATE TABLE graft.$ns.curated
             |(event_id BIGINT, region STRING, event_type STRING, value DOUBLE)""".stripMargin)
    val raw = s.read.parquet(s"$dir/events.parquet").schema
    def leg = s.readStream.schema(raw).parquet(s"$dir/events*.parquet")
    val dim = broadcast(s.table("nation")
      .select(col("n_nationkey"), col("n_name").as("region")))
    val both = leg.unionByName(leg)
    val cleaned = both
      .withColumn("ev_ts", graft.operators.evTsMs(both))
      .withWatermark("ev_ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .where(col("value") >= 0.5)
      .join(dim, pmod(col("user_id"), lit(25)) === col("n_nationkey"))
      .select(col("event_id"), col("region"), col("event_type"), col("value"))
    val ckpt = s.conf.get("spark.sql.warehouse.dir") + s"/p02_ckpt_$ns"
    val q = cleaned.writeStream.option("checkpointLocation", ckpt)
      .toTable(s"graft.$ns.curated")
    try q.processAllAvailable() finally q.stop()
    s.sql(s"""SELECT region, event_type, count(*) AS n,
             |       CAST(round(sum(value), 2) AS DOUBLE) AS total
             |FROM graft.$ns.curated
             |GROUP BY region, event_type ORDER BY region, event_type""".stripMargin)
  }

  val defs: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
    Map("c27_stream_into_table" -> c27StreamIntoTable _,
      "p02_pipeline_stream" -> p02PipelineStream _)

  val oracles: Map[String, String] = Map(
    "p02_pipeline_stream" ->
      """SELECT n.n_name AS region, e.event_type, count(*) AS n,
        |  CAST(round(sum(e.value), 2) AS DOUBLE) AS total
        |FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
        |WHERE e.value >= 0.5
        |GROUP BY n.n_name, e.event_type
        |ORDER BY region, event_type""".stripMargin,
    "c27_stream_into_table" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT) * 2) AS BIGINT) AS total2
        |FROM orders
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
}

/** One task's report for an epoch: the file it wrote, None when its
  * partition had no rows.
  */
case class GraftStreamCommitMessage(file: Option[graft.sources.WrittenFile])
    extends WriterCommitMessage

/** Per-task writers for one query run; each epoch writes under its own
  * `e<epochId>` directory of the run's staging dir.
  */
case class GraftStreamWriterFactory(spec: graft.sources.PartWriterSpec)
    extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val w = new graft.sources.PartFileWriter(
        spec.copy(dir = s"${spec.dir}/e$epochId"), partitionId, taskId)
      override def write(record: InternalRow): Unit = w.write(record)
      override def commit(): WriterCommitMessage = GraftStreamCommitMessage(w.commit())
      override def abort(): Unit = w.abort()
      override def close(): Unit = w.close()
    }
}
