package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Count of character bigrams of `text` that appear in a fixed ASCII
  * profile set — `bigram_hits(text, 'th,he,in,…')` — in one pass over
  * the string's UTF-8 bytes with no intermediate array.
  *
  * Replaces the language-ID formulation
  * `size(filter(transform(sequence(1, length-1), i -> substring(text, i, 2)), b -> b IN (…)))`,
  * which materializes a bigram array per document and then runs one
  * interpreted HOF scan PER language profile. Byte-level scanning is
  * codepoint-exact for ASCII profiles: an ASCII byte never occurs
  * inside a multibyte UTF-8 sequence, so adjacent bytes (b[i], b[i+1])
  * both ASCII are exactly the adjacent-codepoint pairs — a bigram
  * involving any non-ASCII codepoint can never match an ASCII profile
  * in either formulation. Counts are therefore identical to the HOF
  * form (and the DuckDB oracle) on any input. */
case class BigramHits(child: Expression, profile: Seq[String]) extends UnaryExpression {
  profile.foreach(p => require(p.length == 2 && p(0) < 128 && p(1) < 128,
    s"bigram_hits profile entries must be 2 ASCII chars, got '$p'"))

  override def dataType: DataType = IntegerType
  override def prettyName: String = "bigram_hits"

  // 128×128 membership table indexed by the two ASCII bytes
  private lazy val table: Array[Boolean] = {
    val t = new Array[Boolean](128 * 128)
    profile.foreach(p => t(p(0).toInt * 128 + p(1).toInt) = true)
    t
  }

  override def nullSafeEval(v: Any): Any = {
    val t = v.asInstanceOf[UTF8String]
    val nb = t.numBytes()
    var cnt = 0
    var i = 0
    while (i < nb - 1) {
      val a = t.getByte(i)
      val b = t.getByte(i + 1)
      if (a >= 0 && b >= 0 && table(a * 128 + b)) cnt += 1
      i += 1
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tbl = ctx.addReferenceObj("bigramTable", table, "boolean[]")
      val i = ctx.freshName("i"); val nb = ctx.freshName("nb")
      val a = ctx.freshName("a"); val b = ctx.freshName("b")
      val cnt = ctx.freshName("cnt")
      s"""
         |int $nb = $c.numBytes();
         |int $cnt = 0;
         |for (int $i = 0; $i < $nb - 1; $i++) {
         |  byte $a = $c.getByte($i);
         |  byte $b = $c.getByte($i + 1);
         |  if ($a >= 0 && $b >= 0 && $tbl[$a * 128 + $b]) $cnt++;
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
