package graft.functions

import com.fasterxml.jackson.core.{JsonEncoding, JsonFactory, JsonFactoryBuilder, JsonParser, JsonToken}
import com.fasterxml.jackson.core.json.JsonReadFeature
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpectsInputTypes
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `cdc_decode_envelope(envelope)` → struct<op string, ts_ms bigint,
  * o_orderkey bigint, o_totalprice double> — the Debezium-envelope decode
  * of the CDC family (c01/c02/c03) as ONE streaming Jackson parse per
  * envelope.
  *
  * The r12 shape — `from_json(envelope, schema)` followed by four field
  * extractions — re-parses the document once per extraction after
  * OptimizeJsonExprs prunes the schema per GetStructField (JsonToStructs
  * instances with different pruned schemas are not common subexpressions),
  * so every envelope paid 4-5 Jackson parses plus a nested-row
  * materialization each. This expression parses once, straight into the
  * flattened decoded row the apply phase consumes:
  *
  *  - op      = e.op
  *  - ts_ms   = e.ts_ms
  *  - o_orderkey  = coalesce(e.after.o_orderkey, e.before.o_orderkey)
  *  - o_totalprice = e.after.o_totalprice
  *
  * Semantics match from_json's PERMISSIVE mode on this envelope shape:
  * missing/null fields decode to null, a mistyped scalar nulls only its
  * own field (a non-string `op` decodes to its JSON text, as the builtin
  * does), a malformed document decodes to a NULL row (never an error),
  * unknown fields are skipped, field order is irrelevant, and a repeated
  * key keeps its last value. CdcSpec pins the equivalence row-for-row against the
  * from_json form on the staged envelopes plus malformed/partial inputs.
  */
object CdcDecodeKernel {
  // from_json's JSONOptions defaults: single quotes, NaN/Infinity tokens
  private val factory: JsonFactory = new JsonFactoryBuilder()
    .enable(JsonReadFeature.ALLOW_SINGLE_QUOTES)
    .enable(JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS)
    .build()

  // Field converters, per-field PERMISSIVE like the builtin on this Spark
  // version: a mistyped value nulls only its own field.
  private def skip(p: JsonParser, v: JsonToken): Unit =
    if (v == JsonToken.START_OBJECT || v == JsonToken.START_ARRAY) p.skipChildren()

  /** StringType: strings verbatim, any other non-null token as its JSON
    * text (the builtin copies the structure through a generator too).
    */
  private def stringOf(p: JsonParser, v: JsonToken): UTF8String = v match {
    case JsonToken.VALUE_NULL => null
    case JsonToken.VALUE_STRING => UTF8String.fromString(p.getText)
    case _ =>
      val out = new java.io.ByteArrayOutputStream()
      val g = factory.createGenerator(out, JsonEncoding.UTF8)
      try g.copyCurrentStructure(p) finally g.close()
      UTF8String.fromBytes(out.toByteArray)
  }

  /** LongType: integer tokens that fit a long; anything else is null. */
  private def longOf(p: JsonParser, v: JsonToken): java.lang.Long =
    if (v == JsonToken.VALUE_NUMBER_INT && p.getNumberType != JsonParser.NumberType.BIG_INTEGER)
      java.lang.Long.valueOf(p.getLongValue)
    else { skip(p, v); null }

  /** DoubleType: number tokens and the builtin's non-finite strings. */
  private def doubleOf(p: JsonParser, v: JsonToken): java.lang.Double = v match {
    case JsonToken.VALUE_NUMBER_INT | JsonToken.VALUE_NUMBER_FLOAT =>
      java.lang.Double.valueOf(p.getDoubleValue)
    case JsonToken.VALUE_STRING => p.getText match {
      case "NaN" => java.lang.Double.NaN
      case "Infinity" | "+Infinity" | "+INF" => java.lang.Double.POSITIVE_INFINITY
      case "-Infinity" | "-INF" => java.lang.Double.NEGATIVE_INFINITY
      case _ => null
    }
    case _ => skip(p, v); null
  }

  /** Parse `o_orderkey` (and optionally `o_totalprice`) out of a
    * before/after sub-object positioned AT its value token. Returns
    * (key, price) as boxed values, null when absent/null/mistyped.
    */
  private def parseSide(p: JsonParser, wantPrice: Boolean): (java.lang.Long, java.lang.Double) = {
    var key: java.lang.Long = null
    var price: java.lang.Double = null
    val t = p.currentToken()
    if (t == JsonToken.VALUE_NULL) return (null, null)
    if (t != JsonToken.START_OBJECT) { p.skipChildren(); return (null, null) }
    var tok = p.nextToken()
    while (tok != JsonToken.END_OBJECT && tok != null) {
      val name = p.currentName()
      val v = p.nextToken()
      name match {
        case "o_orderkey" => key = longOf(p, v)
        case "o_totalprice" if wantPrice => price = doubleOf(p, v)
        case _ => skip(p, v)
      }
      tok = p.nextToken()
    }
    (key, price)
  }

  /** One envelope → decoded InternalRow(op, ts_ms, o_orderkey,
    * o_totalprice), or null for a malformed document (PERMISSIVE).
    */
  def decode(json: UTF8String): InternalRow = {
    if (json == null) return null
    try {
      val p = factory.createParser(json.getBytes)
      try {
        if (p.nextToken() != JsonToken.START_OBJECT) return null
        var op: UTF8String = null
        var tsMs: java.lang.Long = null
        var beforeKey: java.lang.Long = null
        var afterKey: java.lang.Long = null
        var afterPrice: java.lang.Double = null
        var tok = p.nextToken()
        while (tok != JsonToken.END_OBJECT && tok != null) {
          val name = p.currentName()
          val v = p.nextToken()
          name match {
            case "op" => op = stringOf(p, v)
            case "ts_ms" => tsMs = longOf(p, v)
            case "before" =>
              val (k, _) = parseSide(p, wantPrice = false)
              beforeKey = k
            case "after" =>
              val (k, pr) = parseSide(p, wantPrice = true)
              afterKey = k; afterPrice = pr
            case _ => skip(p, v)
          }
          tok = p.nextToken()
        }
        val row = new GenericInternalRow(4)
        row.update(0, op)
        if (tsMs == null) row.setNullAt(1) else row.setLong(1, tsMs.longValue())
        val key = if (afterKey != null) afterKey else beforeKey
        if (key == null) row.setNullAt(2) else row.setLong(2, key.longValue())
        if (afterPrice == null) row.setNullAt(3) else row.setDouble(3, afterPrice.doubleValue())
        row
      } finally p.close()
    } catch {
      case _: Exception => null // malformed → NULL row, from_json PERMISSIVE behavior
    }
  }
}

case class CdcDecodeEnvelope(child: Expression)
    extends UnaryExpression with GraftExpectsInputTypes {
  override def dataType: DataType = CdcDecodeEnvelope.schema
  override def nullable: Boolean = true
  override def prettyName: String = "cdc_decode_envelope"
  override def graftInputTypes: Seq[DataType] = Seq(StringType)

  override protected def nullSafeEval(json: Any): Any =
    CdcDecodeKernel.decode(json.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.CdcDecodeKernel.decode($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object CdcDecodeEnvelope {
  val schema: StructType = StructType(Seq(
    StructField("op", StringType),
    StructField("ts_ms", LongType),
    StructField("o_orderkey", LongType),
    StructField("o_totalprice", DoubleType)))

  def cdc_decode_envelope(c: Column): Column =
    GraftShim.column(CdcDecodeEnvelope(GraftShim.expression(c)))
}
