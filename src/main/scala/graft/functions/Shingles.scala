package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Word n-gram shingles from a words array in one fused pass:
  * `shingles_n(words, n)[i] = words[i] ' ' … ' ' words[i+n-1]`, and the
  * empty array for documents under n words (matching Spark's descending
  * `sequence(1, 0)` guard and DuckDB's `range(1, len-(n-2))`).
  * `shingles3(words)` is the n=3 shorthand the dedup family uses.
  *
  * Replaces the higher-order-function formulation
  * (`transform(sequence(1, size-(n-1)), i -> concat_ws(' ', ...))`),
  * which Catalyst evaluates interpreted (HOFs are CodegenFallback) with
  * one lambda invocation and a slice/element_at per shingle. Values are
  * byte-identical — only the evaluation strategy changes — so every
  * DuckDB oracle over a gram relation is untouched. Gram builds front
  * the dedup family (3-grams), decontamination (5-grams), and the
  * Gopher repetition rule (2-grams); fusing them keeps those pipelines
  * inside whole-stage codegen.
  */
case class ShinglesN(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"shingle width must be positive, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = if (n == 3) "shingles3" else "shingles_n"

  override def nullSafeEval(v: Any): Any = {
    val ws = v.asInstanceOf[ArrayData]
    val m = ws.numElements()
    if (m < n) new GenericArrayData(Array.empty[Any])
    else {
      val out = new Array[Any](m - n + 1)
      val parts = new Array[UTF8String](n)
      var i = 0
      while (i < m - n + 1) {
        var j = 0
        // null slots must be passed as null (concatWs SKIPS them — the
        // replaced concat_ws HOF's semantics); an unguarded
        // getUTF8String on an UnsafeArrayData null slot reads the zeroed
        // offset as an EMPTY string, silently diverging between array
        // implementations and from the HOF oracle form
        while (j < n) {
          parts(j) = if (ws.isNullAt(i + j)) null else ws.getUTF8String(i + j)
          j += 1
        }
        out(i) = UTF8String.concatWs(ShinglesN.SEP, parts: _*)
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val sep = ctx.addReferenceObj("shSep", ShinglesN.SEP,
        classOf[UTF8String].getName)
      val arr = ctx.freshName("arr"); val i = ctx.freshName("i")
      val j = ctx.freshName("j"); val m = ctx.freshName("m")
      val parts = ctx.freshName("parts")
      val u = classOf[UTF8String].getName
      s"""
         |int $m = $c.numElements();
         |$u[] $arr = new $u[$m < $n ? 0 : $m - $n + 1];
         |$u[] $parts = new $u[$n];
         |for (int $i = 0; $i < $arr.length; $i++) {
         |  for (int $j = 0; $j < $n; $j++)
         |    $parts[$j] = $c.isNullAt($i + $j) ? null : $c.getUTF8String($i + $j);
         |  $arr[$i] = $u.concatWs($sep, $parts);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($arr);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShinglesN {
  private[functions] val SEP = UTF8String.fromString(" ")
}
