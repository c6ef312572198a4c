package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import graft.operators.t

/** Postgres CDC consumption — the engine-side analog of the reference's
  * north-star use (pgstream feeds Postgres changes into a compute
  * pipeline; reference: README.md:10-14). The wire protocol itself is
  * external to Spark; what the engine owns is (a) decoding a
  * Debezium-style change envelope (op/ts_ms/before/after — the public
  * JSON shape emitted by Debezium's Postgres connector) and (b) applying
  * the change stream to arrive at current table state.
  *
  * Scale: apply = one shuffle on the primary key; `row_number() = 1` by
  * (ts desc) is the standard latest-wins merge and AQE handles hot keys.
  * The same code runs under Structured Streaming `foreachBatch` for
  * incremental application.
  */
object Cdc {

  val envelopeSchema: StructType = StructType(Seq(
    StructField("op", StringType),
    StructField("ts_ms", LongType),
    StructField("before", StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_totalprice", DoubleType)))),
    StructField("after", StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_totalprice", DoubleType))))))

  /** Deterministic synthetic change stream derived from `orders`:
    * every key gets a snapshot read ('r'); keys %7==0 get an update
    * ('u', price*2 — exact in binary FP, so Spark and DuckDB round
    * identically); keys %11==0 get a delete ('d'). Emitted as JSON
    * envelope STRINGS so the decode path is real.
    */
  def syntheticEnvelopes(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select("o_orderkey", "o_totalprice")
    val snapshot = o.select(to_json(struct(
      lit("r").as("op"),
      (col("o_orderkey") * 10).as("ts_ms"),
      lit(null).cast(envelopeSchema("before").dataType).as("before"),
      struct(col("o_orderkey"), col("o_totalprice")).as("after"))).as("envelope"))
    val updates = o.filter(col("o_orderkey") % 7 === 0)
      .select(to_json(struct(
        lit("u").as("op"),
        (col("o_orderkey") * 10 + 1).as("ts_ms"),
        struct(col("o_orderkey"), col("o_totalprice")).as("before"),
        struct(col("o_orderkey"), (col("o_totalprice") * 2.0).as("o_totalprice")).as("after"))).as("envelope"))
    val deletes = o.filter(col("o_orderkey") % 11 === 0)
      .select(to_json(struct(
        lit("d").as("op"),
        (col("o_orderkey") * 10 + 2).as("ts_ms"),
        struct(col("o_orderkey"), col("o_totalprice")).as("before"),
        lit(null).cast(envelopeSchema("after").dataType).as("after"))).as("envelope"))
    snapshot.unionByName(updates).unionByName(deletes)
  }

  /** Envelopes staged to parquet once per sf dir (idempotent): the
    * operator keys (c01/c02/c03) start from STORED envelopes — what a
    * real consumer reads from its topic/landing zone — so Verify and
    * Bench time decode+apply, not the synthetic to_json fixture that
    * generates the test feed.
    */
  def stagedEnvelopes(s: SparkSession, dir: String): DataFrame = {
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val path = s.conf.get("spark.sql.warehouse.dir") + s"/cdc_envelopes$tag"
    graft.StagedFixture.ensure(s, path, "G1") {
      syntheticEnvelopes(s, dir)
        .repartition(s.sparkContext.defaultParallelism) // multi-split read-back
        .write.mode("overwrite").parquet(path)
    }
    s.read.parquet(path)
  }

  /** Decode JSON envelopes into typed change rows — ONE streaming
    * Jackson parse per envelope ([[graft.functions.CdcDecodeEnvelope]]).
    * The r12 `from_json` form re-parsed each envelope once per extracted
    * field (OptimizeJsonExprs prunes the schema per GetStructField, so
    * the four extractions were four differently-pruned JsonToStructs —
    * never common subexpressions); the typed decoder parses once into
    * the flattened row. Output is row-identical (CdcSpec pins it against
    * [[decodeFromJson]] on the staged envelopes plus malformed inputs).
    */
  def decode(envelopes: DataFrame): DataFrame =
    envelopes
      .select(graft.functions.CdcDecodeEnvelope.cdc_decode_envelope(col("envelope")).as("e"))
      .select(
        col("e.op").as("op"),
        col("e.ts_ms").as("ts_ms"),
        col("e.o_orderkey").as("o_orderkey"),
        col("e.o_totalprice").as("o_totalprice"))

  /** The r12 from_json decode, kept as the equivalence reference for
    * CdcSpec (the builtin is the semantics oracle for the typed decoder).
    */
  private[graft] def decodeFromJson(envelopes: DataFrame): DataFrame =
    envelopes
      .select(from_json(col("envelope"), envelopeSchema).as("e"))
      .select(
        col("e.op").as("op"),
        col("e.ts_ms").as("ts_ms"),
        coalesce(col("e.after.o_orderkey"), col("e.before.o_orderkey")).as("o_orderkey"),
        col("e.after.o_totalprice").as("o_totalprice"))

  /** Each key's latest change, deletes included: newest `ts_ms` first,
    * then the smallest `op`. The op tiebreak is deterministic on
    * purpose — a replayed batch can put the surviving state row and
    * its identical change row at the same ts, and the winner must not
    * depend on shuffle order.
    */
  private[streaming] def latestPerKey(changes: DataFrame): DataFrame = {
    val w = Window.partitionBy("o_orderkey").orderBy(col("ts_ms").desc, col("op"))
    changes.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Latest-wins merge: keep each key's most recent op; deletes remove
    * the key from current state. With `keepTs` the surviving row keeps
    * its change timestamp so state can re-enter a later merge
    * (incremental application — see [[applyIncrement]]).
    */
  def applyChanges(changes: DataFrame, keepTs: Boolean = false): DataFrame = {
    val current = latestPerKey(changes).filter(col("op") =!= "d")
    if (keepTs)
      current.select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"),
        col("op").as("last_op"), col("ts_ms"))
    else
      current.select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"),
        col("op").as("last_op"))
  }

  /** Current state re-expressed as change rows so it can merge with the
    * next micro-batch (op keeps its original kind; ts is the state ts,
    * so any newer change — including a delete — wins).
    */
  def stateAsChanges(state: DataFrame): DataFrame =
    state.select(col("last_op").as("op"), col("ts_ms"),
      col("o_orderkey"), col("price").as("o_totalprice"))

  /** One incremental step: previous state + a new batch of decoded
    * changes → next state. This is the body a foreachBatch CDC pipeline
    * runs per micro-batch (StreamingSpec drives it through
    * MemoryStream); cost per step is one shuffle on the key.
    */
  def applyIncrement(state: DataFrame, newChanges: DataFrame): DataFrame =
    applyChanges(stateAsChanges(state).unionByName(newChanges), keepTs = true)

  /** A6 `c01_cdc_apply`: encode → decode → apply, end to end. The
    * final global orderBy exists only for oracle determinism.
    */
  def c01CdcApply(s: SparkSession, dir: String): DataFrame =
    applyChanges(decode(stagedEnvelopes(s, dir))).orderBy("o_orderkey")

  /** `c02_cdc_apply_unsorted`: the operator as a pipeline would run it —
    * decode + latest-wins apply, no global sort (a range-partitioned
    * sort of full table state is pure oracle overhead at 100x). This is
    * the variant Bench times; rows-only check (output order is free).
    */
  def c02CdcApplyUnsorted(s: SparkSession, dir: String): DataFrame =
    applyChanges(decode(stagedEnvelopes(s, dir)))

  val defs: Map[String, (SparkSession, String) => DataFrame] =
    Map("c01_cdc_apply" -> c01CdcApply _,
      "c02_cdc_apply_unsorted" -> c02CdcApplyUnsorted _)

  val oracles: Map[String, String] = Map(
    "c01_cdc_apply" ->
      """SELECT o_orderkey,
        |  round(CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2.0
        |             ELSE o_totalprice END, 2) AS price,
        |  CASE WHEN o_orderkey % 7 = 0 THEN 'u' ELSE 'r' END AS last_op
        |FROM orders
        |WHERE o_orderkey % 11 <> 0
        |ORDER BY o_orderkey""".stripMargin)
}
