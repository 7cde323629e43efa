package graft

import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.unsafe.types.UTF8String

/** Everything graft adds to a Spark session, installed by one path:
  * [[Tables.configure]] adds it to the builder of every session graft
  * makes (the query harness, the corpus and chaos mains, the benchmark
  * runner, the test session); a session built elsewhere sets
  * `spark.sql.extensions=graft.GraftExtensions`. It wires in
  *
  *  - the native as-of join planner strategy ([[plans.AsOfStrategy]]),
  *    so [[plans.AsOfJoin]] logical nodes plan,
  *  - the [[plans.DeriveInFilters]] optimizer rule (OR-of-conjunctions
  *    → pushable IN conjuncts), and
  *  - the codegen expressions as SQL functions, one entry each in
  *    [[GraftExtensions.functionBuilders]] — the only function table.
  *
  * The DuckDB-dialect aliases are not part of it: several shadow Spark
  * built-ins (2-arg `regexp_extract`, `len`, 1-arg `encode`), and no
  * engine builder uses them. Sessions that run DuckDB oracle text opt in
  * with [[functions.DuckDbDialect.register]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => plans.AsOfStrategy)
    e.injectOptimizerRule(_ => plans.DeriveInFilters)
    GraftExtensions.functionBuilders.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
  }
}

object GraftExtensions {
  private def arity(name: String, exprs: Seq[Expression], n: Int): Unit =
    if (exprs.length != n)
      throw new AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map("functionName" -> name,
          "expectedNum" -> n.toString, "actualNum" -> exprs.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))

  /** A literal argument, validated as foldable, non-null and of the
    * accepted types at plan time, so a misuse surfaces as an
    * AnalysisException, not an NPE/ClassCastException from `eval()`. */
  private def literal[T](name: String, arg: String, paramType: String, e: Expression)(
      accept: PartialFunction[Any, T]): T =
    Option(if (e.foldable) e.eval() else null).collect(accept).getOrElse(
      throw new AnalysisException(
        errorClass = "NON_FOLDABLE_ARGUMENT",
        messageParameters = Map("funcName" -> name, "paramName" -> arg, "paramType" -> paramType)))

  private def litInt(name: String, arg: String, e: Expression): Int =
    literal(name, arg, "INT", e) {
      case n @ (_: java.lang.Integer | _: java.lang.Long | _: java.lang.Short | _: java.lang.Byte) =>
        n.asInstanceOf[Number].intValue()
    }

  private def litString(name: String, arg: String, e: Expression): String =
    literal(name, arg, "STRING", e) { case s: UTF8String => s.toString }

  val functionBuilders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> (exprs => { arity("cosine_sim", exprs, 2)
      functions.CosineSimilarity(exprs(0), exprs(1)) }),
    "dot_d" -> (exprs => { arity("dot_d", exprs, 2)
      functions.DotProductD(exprs(0), exprs(1)) }),
    "dot_l" -> (exprs => { arity("dot_l", exprs, 2)
      functions.DotProductL(exprs(0), exprs(1)) }),
    "sqdist_d" -> (exprs => { arity("sqdist_d", exprs, 2)
      functions.SqDistD(exprs(0), exprs(1)) }),
    "rolling_hash" -> (exprs => { arity("rolling_hash", exprs, 1)
      functions.RollingHash(exprs.head) }),
    "minhash_perms" -> (exprs => { arity("minhash_perms", exprs, 1)
      functions.MinHashPerms(exprs.head) }),
    "cdc_boundaries" -> (exprs => { arity("cdc_boundaries", exprs, 1)
      functions.CdcBoundaries(exprs.head) }),
    "hyperplane_codes" -> (exprs => { arity("hyperplane_codes", exprs, 3)
      functions.HyperplaneCodes(exprs.head,
        litInt("hyperplane_codes", "bands", exprs(1)),
        litInt("hyperplane_codes", "bits", exprs(2))) }),
    "msgpack_envelope" -> (exprs => { arity("msgpack_envelope", exprs, 1)
      functions.MsgpackEnvelope(exprs.head) }),
    "shingles3" -> (exprs => { arity("shingles3", exprs, 1)
      functions.ShinglesN(exprs.head, 3) }),
    "shingles_n" -> (exprs => { arity("shingles_n", exprs, 2)
      functions.ShinglesN(exprs.head, litInt("shingles_n", "n", exprs(1))) }),
    // profile: the CSV of ASCII bigrams, e.g. 'th,he,in'
    "bigram_hits" -> (exprs => { arity("bigram_hits", exprs, 2)
      functions.BigramHits(exprs.head,
        litString("bigram_hits", "profile", exprs(1)).split(",").toSeq) }),
    "winnow_fps" -> (exprs => { arity("winnow_fps", exprs, 1)
      functions.WinnowFps(exprs.head) }))
}
