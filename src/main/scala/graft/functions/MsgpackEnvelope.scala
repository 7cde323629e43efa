package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.util.control.NonFatal

/** Typed Catalyst decode of the gateway's msgpack request envelope
  * (G2, `gateway.ts:189`): `binary -> struct<mod, fun, arg, ctx>`.
  *
  * The idiomatic Spark form of the wire decode — the envelope surfaces
  * as a typed struct column the optimizer can prune and push through,
  * instead of the `Map[Any,Any]` a generic decode UDF returns. Stays
  * inside whole-stage codegen via a static call (the same shape Spark's
  * own non-arithmetic expressions generate).
  *
  * Null contract: undecodable bytes, trailing garbage, or a non-map
  * top-level value yield a NULL struct; a well-formed map yields a row
  * whose individual fields are NULL where absent or differently typed.
  *
  * `arg` is typed VARIANT: the reference's `arg` is a dynamic `any`
  * (`gateway.ts:192`), so ANY well-formed msgpack value — int, string,
  * bool, double, binary, nested array/map — decodes losslessly into the
  * open variant encoding and stays queryable through `variant_get`
  * with pruning intact (the same Spark-4 path `q_variant_events`
  * exercises for JSON).
  */
case class MsgpackEnvelope(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"msgpack_envelope requires BINARY input, got ${child.dataType.catalogString}")
  override def dataType: DataType = MsgpackEnvelope.schema
  override def nullable: Boolean = true
  override def prettyName: String = "msgpack_envelope"

  override def nullSafeEval(bytes: Any): Any =
    MsgpackEnvelope.decodeRow(bytes.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.MsgpackEnvelope.decodeRow($c);
       |${ev.isNull} = ${ev.value} == null;
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MsgpackEnvelope {
  val schema: StructType = StructType(Seq(
    StructField("mod", StringType),
    StructField("fun", StringType),
    StructField("arg", VariantType),
    StructField("ctx", MapType(StringType, StringType))))

  /** Decoded-msgpack value → Spark VARIANT, recursively (msgpack's
    * dynamic value space embeds exactly: nil/bool/int/double/str/bin
    * plus nested arrays and string-keyed objects). */
  private def appendValue(b: org.apache.spark.types.variant.VariantBuilder, v: Any): Unit =
    v match {
      case null => b.appendNull()
      case l: Long => b.appendLong(l)
      case i: Int => b.appendLong(i.toLong)
      case s: String => b.appendString(s)
      case bo: Boolean => b.appendBoolean(bo)
      case d: Double => b.appendDouble(d)
      case bytes: Array[Byte] => b.appendBinary(bytes)
      case m: Map[_, _] =>
        val start = b.getWritePos
        val fields = new java.util.ArrayList[
          org.apache.spark.types.variant.VariantBuilder.FieldEntry]()
        m.foreach { case (k, mv) =>
          val key = String.valueOf(k) // msgpack allows non-string keys; variant doesn't
          val id = b.addKey(key)
          fields.add(new org.apache.spark.types.variant.VariantBuilder.FieldEntry(
            key, id, b.getWritePos - start))
          appendValue(b, mv)
        }
        b.finishWritingObject(start, fields)
      case xs: Seq[_] =>
        val start = b.getWritePos
        val offsets = new java.util.ArrayList[Integer]()
        xs.foreach { e =>
          offsets.add(Int.box(b.getWritePos - start))
          appendValue(b, e)
        }
        b.finishWritingArray(start, offsets)
      case other => b.appendString(String.valueOf(other))
    }

  private def toVariant(v: Any): org.apache.spark.unsafe.types.VariantVal = {
    val b = new org.apache.spark.types.variant.VariantBuilder(false)
    appendValue(b, v)
    val res = b.result()
    new org.apache.spark.unsafe.types.VariantVal(res.getValue, res.getMetadata)
  }

  /** Decode one envelope; null on malformed input (see class doc). */
  def decodeRow(bytes: Array[Byte]): InternalRow = try {
    Msgpack.decode(bytes) match {
      case m: Map[_, _] =>
        val mm = m.asInstanceOf[Map[Any, Any]]
        def str(k: String): UTF8String = mm.get(k) match {
          case Some(s: String) => UTF8String.fromString(s)
          case _ => null
        }
        // arg is the reference's dynamic `any` — absent field stays
        // NULL, any present value (even msgpack nil) becomes a variant
        val arg = mm.get("arg") match {
          case Some(v) => toVariant(v)
          case None => null
        }
        val ctx = mm.get("ctx") match {
          case Some(c: Map[_, _]) if c.forall { case (k, v) =>
              k.isInstanceOf[String] && v.isInstanceOf[String] } =>
            ArrayBasedMapData(
              c.keys.map(k => UTF8String.fromString(k.asInstanceOf[String])).toArray[Any],
              c.values.map(v => UTF8String.fromString(v.asInstanceOf[String])).toArray[Any])
          case _ => null
        }
        InternalRow(str("mod"), str("fun"), arg, ctx)
      case _ => null
    }
  } catch { case NonFatal(_) => null }
}
