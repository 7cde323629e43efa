package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Element-null contract shared by the array kernels below: a NULL
  * element in either input makes the result NULL, exactly like the
  * `aggregate(zip_with(...))` forms they replace (the fold's `acc + v`
  * turns NULL at the first NULL product and stays NULL). The
  * per-element check exists only when an input's `ArrayType` admits
  * NULL elements, so null-free array types pay nothing. */
private[functions] trait NullElementGuard { self: BinaryExpression =>
  private def elementsNullable(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  }
  private lazy val guardLeft = elementsNullable(left)
  private lazy val guardRight = elementsNullable(right)

  protected def nullElementAt(x: ArrayData, y: ArrayData, i: Int): Boolean =
    (guardLeft && x.isNullAt(i)) || (guardRight && y.isNullAt(i))

  /** Loop-body statement that marks the result NULL and leaves the
    * loop at the first NULL element; empty when neither side can hold
    * one. */
  protected def nullElementCode(a: String, b: String, i: String, isNull: String): String = {
    val checks = (if (guardLeft) Seq(s"$a.isNullAt($i)") else Nil) ++
      (if (guardRight) Seq(s"$b.isNullAt($i)") else Nil)
    if (checks.isEmpty) "" else s"if (${checks.mkString(" || ")}) { $isNull = true; break; }"
  }
}

/** Native Catalyst expression for cosine similarity over
  * ARRAY<DOUBLE> — the hot inner loop of similarity search (SURVEY.md
  * §4.3: a codegen expression avoids the per-element boxing and
  * intermediate arrays of the `aggregate(zip_with(...))` higher-order
  * formulation; stays inside whole-stage codegen).
  *
  * Numeric contract (oracle parity): each of dot/|x|²/|y|² accumulates
  * left-to-right over the array index, exactly like the oracle's
  * `list_sum(list_transform(range(1,65), i -> x[i]*y[i]))`, so results
  * are bit-identical to the HOF version it replaces; a NULL element
  * yields NULL ([[NullElementGuard]]).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with NullElementGuard {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"
  // nullable even over non-null inputs: a DIMENSION MISMATCH yields NULL
  // (see below), so the type must admit it
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    // mismatched dimensions are a data-quality fault, not a similarity:
    // truncating to the shorter vector would return a plausible-looking
    // score for a corrupt embedding — NULL keeps the fault visible (and
    // a NULL never enters a top-k: descending sorts put it last)
    if (y.numElements() != n) return null
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      if (nullElementAt(x, y, i)) return null
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi"); val yi = ctx.freshName("yi")
      val denom = ctx.freshName("denom")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    ${nullElementCode(a, b, i, ev.isNull)}
         |    double $xi = $a.getDouble($i);
         |    double $yi = $b.getDouble($i);
         |    $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |  }
         |  double $denom = java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny);
         |  ${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native Catalyst dot product over ARRAY<DOUBLE> — same left-to-right
  * fold as `aggregate(zip_with(x, y, (a, b) -> a * b), 0D, (acc, v) ->
  * acc + v)` (bit-identical results), without the per-row intermediate
  * array allocation and interpreted lambda evaluation of the HOF form
  * (HOFs never enter whole-stage codegen). Mismatched dimensions and
  * NULL elements yield NULL, like [[CosineSimilarity]]. */
case class DotProductD(left: Expression, right: Expression)
    extends BinaryExpression with NullElementGuard {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_d"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var dot = 0.0; var i = 0
    while (i < n) {
      if (nullElementAt(x, y, i)) return null
      dot += x.getDouble(i) * y.getDouble(i); i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    ${nullElementCode(a, b, i, ev.isNull)}
         |    $dot += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  ${ev.value} = $dot;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native Catalyst dot product over ARRAY<BIGINT> — exact integer sum,
  * replacing the interpreted `aggregate(zip_with(...))` fold in the SQ8 /
  * JL-projection hot loops (identical values: integer addition is
  * order-insensitive). NULL on dimension mismatch or a NULL element. */
case class DotProductL(left: Expression, right: Expression)
    extends BinaryExpression with NullElementGuard {
  override def dataType: DataType = LongType
  override def prettyName: String = "dot_l"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var dot = 0L; var i = 0
    while (i < n) {
      if (nullElementAt(x, y, i)) return null
      dot += x.getLong(i) * y.getLong(i); i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $dot = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    ${nullElementCode(a, b, i, ev.isNull)}
         |    $dot += $a.getLong($i) * $b.getLong($i);
         |  }
         |  ${ev.value} = $dot;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native Catalyst squared L2 distance over ARRAY<DOUBLE> — the same
  * left-to-right Σ(x−y)² fold as the `aggregate(zip_with(x, y, (a, b) ->
  * (a − b) * (a − b)), 0D, …)` HOF it replaces (bit-identical doubles —
  * identical IEEE op sequence), codegen'd. The PQ subdistance (d6) and
  * the ADC exact-L2 audit columns are the hot users. NULL on dimension
  * mismatch or a NULL element. */
case class SqDistD(left: Expression, right: Expression)
    extends BinaryExpression with NullElementGuard {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sqdist_d"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var s = 0.0; var i = 0
    while (i < n) {
      if (nullElementAt(x, y, i)) return null
      val dv = x.getDouble(i) - y.getDouble(i); s += dv * dv; i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val s = ctx.freshName("s"); val dv = ctx.freshName("dv")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    ${nullElementCode(a, b, i, ev.isNull)}
         |    double $dv = $a.getDouble($i) - $b.getDouble($i);
         |    $s += $dv * $dv;
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
