package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Winnowing fingerprint selection (Schleimer et al., SIGMOD'03) from
  * per-shingle base hashes in one fused pass: the DISTINCT set of
  * `min(h[i..i+3])` over every sliding window of 4 consecutive hashes
  * (the whole array when it is shorter than the window).
  *
  * Replaces the higher-order-function formulation
  * (`array_distinct(transform(sequence(0, n-4), i -> array_min(slice(...))))`),
  * which Catalyst evaluates interpreted — a fresh 4-element array per
  * window plus a lambda invocation per element made it the benched
  * cost center of q_dedup_winnow (≈18 s of a 35 s query at sf0.1).
  * Same arithmetic as the SQL oracle — results are bit-identical
  * including output order (first-occurrence order of each distinct
  * min, which both the HOF form and DuckDB's list_distinct preserve);
  * only the evaluation strategy changes.
  */
case class WinnowFps(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fps"

  override def nullSafeEval(v: Any): Any = {
    val hs = v.asInstanceOf[ArrayData]
    val n = hs.numElements()
    if (n == 0) return new GenericArrayData(Array.emptyLongArray)
    val nw = if (n >= 4) n - 3 else 1
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i < nw) {
      var m = hs.getLong(i)
      var j = i + 1
      val end = math.min(i + 4, n)
      while (j < end) { val x = hs.getLong(j); if (x < m) m = x; j += 1 }
      seen.add(m)
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator(); var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n"); val nw = ctx.freshName("nw")
      val seen = ctx.freshName("seen"); val i = ctx.freshName("i")
      val j = ctx.freshName("j"); val m = ctx.freshName("m")
      val end = ctx.freshName("end"); val out = ctx.freshName("out")
      val k = ctx.freshName("k"); val it = ctx.freshName("it")
      val x = ctx.freshName("x")
      // Raw java.util types + explicit boxing: Janino's generics support is
      // partial, and a <Long> type argument here silently fails whole-stage
      // compilation (Spark falls back to interpreted eval, losing the win
      // this expression exists for).
      s"""
         |int $n = $c.numElements();
         |java.util.LinkedHashSet $seen = new java.util.LinkedHashSet();
         |int $nw = $n >= 4 ? $n - 3 : ($n > 0 ? 1 : 0);
         |for (int $i = 0; $i < $nw; $i++) {
         |  long $m = $c.getLong($i);
         |  int $end = java.lang.Math.min($i + 4, $n);
         |  for (int $j = $i + 1; $j < $end; $j++) {
         |    long $x = $c.getLong($j); if ($x < $m) $m = $x;
         |  }
         |  $seen.add(java.lang.Long.valueOf($m));
         |}
         |long[] $out = new long[$seen.size()];
         |int $k = 0;
         |for (java.util.Iterator $it = $seen.iterator(); $it.hasNext(); $k++) {
         |  $out[$k] = ((java.lang.Long) $it.next()).longValue();
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
