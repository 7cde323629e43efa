package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Multi-band hyperplane LSH codes for a 64-dim double vector in one
  * fused pass: for band b, code[b] = Σ_j (dot(v, plane_{b·bits+j}) ≥ 0 ?
  * 2^j : 0), where plane p's component i is the integer-exact LCG value
  * `((1103515245·(p·131+i) + 12345) mod 2^31) / 2^31 − 0.5`.
  *
  * Replaces bands·bits interpreted `aggregate(zip_with(...))` folds per
  * row (HOFs are CodegenFallback). The arithmetic — per-element multiply
  * then strict left-to-right double accumulation — is EXACTLY the HOF
  * formulation's and the DuckDB oracle's (list_reduce over a
  * list_transform), so even the sign bit of a near-zero plane sum is
  * identical across all three: results stay oracle-checkable, only the
  * evaluation strategy changes. (~3x on q_sim_neardup_pairs at sf0.1.)
  */
case class HyperplaneCodes(child: Expression, bands: Int, bits: Int)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hyperplane_codes"

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val dims = arr.numElements()
    val codes = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var code = 0L
      var j = 0
      while (j < bits) {
        val p = b * bits + j
        var acc = 0.0
        var i = 0
        while (i < dims) {
          val coef = ((1103515245L * (p * 131 + i) + 12345L) % 2147483648L).toDouble / 2147483648.0 - 0.5
          acc = acc + arr.getDouble(i) * coef
          i += 1
        }
        if (acc >= 0) code += (1L << j)
        j += 1
      }
      codes(b) = code
      b += 1
    }
    new GenericArrayData(codes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val codes = ctx.freshName("codes"); val b = ctx.freshName("b")
      val j = ctx.freshName("j"); val i = ctx.freshName("i")
      val p = ctx.freshName("p"); val acc = ctx.freshName("acc")
      val coef = ctx.freshName("coef"); val code = ctx.freshName("code")
      val dims = ctx.freshName("dims")
      s"""
         |long[] $codes = new long[$bands];
         |int $dims = $c.numElements();
         |for (int $b = 0; $b < $bands; $b++) {
         |  long $code = 0L;
         |  for (int $j = 0; $j < $bits; $j++) {
         |    int $p = $b * $bits + $j;
         |    double $acc = 0.0;
         |    for (int $i = 0; $i < $dims; $i++) {
         |      double $coef = (double) ((1103515245L * ($p * 131 + $i) + 12345L) % 2147483648L)
         |                     / 2147483648.0 - 0.5;
         |      $acc = $acc + $c.getDouble($i) * $coef;
         |    }
         |    if ($acc >= 0) $code += (1L << $j);
         |  }
         |  $codes[$b] = $code;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($codes);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
