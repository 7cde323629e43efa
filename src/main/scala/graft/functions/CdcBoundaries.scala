package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types._

/** Gear-style content-defined chunking boundaries over a string.
  *
  * h advances as `(h << 1) + GEAR(char)`; a boundary is cut when the low
  * `MASK` bits are zero (average chunk ≈ 64 chars) subject to
  * MIN=16 / MAX=256 chunk bounds. Because the hash depends only on a
  * sliding content window, an edit near the start of a document shifts
  * only the chunks it touches — downstream chunk-hash dedup then
  * recognizes the unchanged tail, which is the property that makes CDC
  * the right sharding primitive for near-dup detection at corpus scale
  * (whole-document hashing would invalidate everything).
  *
  * Returns the 1-based END position (inclusive) of each chunk in char
  * coordinates, last element == length(text). CodegenFallback: the work
  * is one tight JVM loop per row; codegen would only inline the call.
  */
case class CdcBoundaries(child: Expression) extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "cdc_boundaries"

  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(CdcBoundaries.boundaries(v.asInstanceOf[UTF8String].toString))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CdcBoundaries {
  val MinChunk = 16
  val MaxChunk = 256
  val Mask = 0x3fL // avg chunk 64

  /** Deterministic per-char gear table (LCG-generated). */
  private val Gear: Array[Long] = {
    var x = 0x9e3779b97f4a7c15L
    Array.fill(65536) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x
    }
  }

  /** The ASCII slice of the gear table as unsigned decimal strings —
    * inlined into the DuckDB oracle so the oracle runs the SAME chunker
    * (the table is part of the algorithm's public spec, not hidden
    * state). */
  def gearAsciiUnsigned: Seq[String] =
    Gear.take(128).map(java.lang.Long.toUnsignedString).toSeq

  def boundaries(s: String): Array[Int] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    var h = 0L
    var last = 0
    var i = 0
    while (i < s.length) {
      h = (h << 1) + Gear(s.charAt(i) & 0xffff)
      val len = i - last + 1
      if ((len >= MinChunk && (h & Mask) == 0L) || len >= MaxChunk) {
        out += i + 1
        last = i + 1
        h = 0L
      }
      i += 1
    }
    if (s.length > last || out.isEmpty) out += s.length
    out.toArray
  }
}
