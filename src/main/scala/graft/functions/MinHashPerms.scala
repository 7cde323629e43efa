package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** 16-permutation MinHash signature from per-shingle base hashes in one
  * fused pass: sig[k] = min over h of ((A + 40503k)·h + Bk + 97) mod P.
  *
  * Replaces the nested higher-order-function formulation
  * (`transform(sequence(0,15), k -> array_min(transform(hashes, ...)))`),
  * which Catalyst evaluates interpreted (HOFs are CodegenFallback) at
  * ~16·|shingles| lambda invocations per row. Same constants and
  * arithmetic as the SQL oracle — results are bit-identical; only the
  * evaluation strategy changes.
  */
case class MinHashPerms(child: Expression) extends UnaryExpression {

  // containsNull: an EMPTY hash list (a document too short to shingle)
  // yields [NULL × 16], exactly what the reference HOF produces
  // (array_min over an empty transform is NULL per slot) and what the
  // DuckDB oracle's list_min([]) emits — a Long.MaxValue sentinel here
  // would break signature parity for sub-3-word documents.
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "minhash_perms"

  override def nullSafeEval(v: Any): Any = {
    val hs = v.asInstanceOf[ArrayData]
    val n = hs.numElements()
    if (n == 0) return new GenericArrayData(new Array[Any](16)) // all-NULL
    val sig = Array.fill(16)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var k = 0
      while (k < 16) {
        val p = ((MinHashPerms.A + 40503L * k) * h + MinHashPerms.B * k + 97L) % MinHashPerms.P
        if (p < sig(k)) sig(k) = p
        k += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val sig = ctx.freshName("sig"); val i = ctx.freshName("i")
      val k = ctx.freshName("k"); val h = ctx.freshName("h"); val p = ctx.freshName("p")
      val n = ctx.freshName("n")
      s"""
         |int $n = $c.numElements();
         |if ($n == 0) {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(new Object[16]);
         |} else {
         |  long[] $sig = new long[16];
         |  java.util.Arrays.fill($sig, Long.MAX_VALUE);
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $h = $c.getLong($i);
         |    for (int $k = 0; $k < 16; $k++) {
         |      long $p = ((${MinHashPerms.A}L + 40503L * $k) * $h + ${MinHashPerms.B}L * $k + 97L)
         |                % ${MinHashPerms.P}L;
         |      if ($p < $sig[$k]) $sig[$k] = $p;
         |    }
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashPerms {
  // Must match Dedup.sigExpr / the DuckDB oracle exactly.
  val A = 2654435761L
  val B = 2654435769L
  val P = 2147483647L
}
