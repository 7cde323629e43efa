package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types._

/** Rabin–Karp rolling hash over a string's bytes (document
  * fingerprinting for dedup sharding): h = Σ b_i · B^(n-1-i) mod M with
  * B = 257, M = 2^61 - 1 (a Mersenne prime — the mod reduces with shifts
  * and adds, no division). Codegen'd so fingerprinting stays inside
  * whole-stage codegen next to the rest of the projection.
  *
  * The accumulator is reduced BEFORE the ×257 step overflows: with
  * acc < M < 2^61, `acc·256 mod M` is computed from the split
  * acc = hi·2^53 + lo as `hi + (lo << 8)` (since 2^61 ≡ 1 mod M), so
  * every intermediate stays under 2^63 and the result is the true
  * Σ b·257^i mod (2^61-1). That makes the O(1) rolling/subtract
  * property real (257 is invertible mod M), and the value reproducible
  * by any engine that can do 128-bit or split-modular arithmetic —
  * the DuckDB oracle folds the same recurrence in HUGEINT.
  */
case class RollingHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"

  @inline private def mix(acc: Long, b: Int): Long = {
    // (acc * 257 + b) mod M without 64-bit overflow:
    // acc*256 ≡ (acc >>> 53) + ((acc & (2^53-1)) << 8)  (mod M)
    val m = (acc >>> 53) + ((acc & RollingHash.Low53) << 8) + acc + b // < 3·2^61
    val r = (m >>> 61) + (m & RollingHash.M)
    if (r >= RollingHash.M) r - RollingHash.M else r
  }

  override def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    var acc = 0L
    var i = 0
    while (i < bytes.length) { acc = mix(acc, bytes(i) & 0xff); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes"); val i = ctx.freshName("i")
      val acc = ctx.freshName("acc"); val m = ctx.freshName("m"); val r = ctx.freshName("r")
      s"""
         |byte[] $bytes = $c.getBytes();
         |long $acc = 0L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  long $m = ($acc >>> 53) + (($acc & ${RollingHash.Low53}L) << 8) + $acc + ($bytes[$i] & 0xff);
         |  long $r = ($m >>> 61) + ($m & ${RollingHash.M}L);
         |  $acc = ($r >= ${RollingHash.M}L) ? $r - ${RollingHash.M}L : $r;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RollingHash {
  val M: Long = (1L << 61) - 1
  val Low53: Long = (1L << 53) - 1

  /** Reference implementation for tests (same arithmetic, plain Scala). */
  def hash(s: String): Long = {
    val bytes = s.getBytes("UTF-8")
    var acc = 0L
    for (b <- bytes) {
      val m = (acc >>> 53) + ((acc & Low53) << 8) + acc + (b & 0xff)
      val r = (m >>> 61) + (m & M)
      acc = if (r >= M) r - M else r
    }
    acc
  }

  /** BigInt cross-check used by the spec: the definitionally-true value. */
  def hashBig(s: String): Long =
    s.getBytes("UTF-8").foldLeft(BigInt(0))((a, b) => (a * 257 + (b & 0xff)) % BigInt(M)).toLong
}
