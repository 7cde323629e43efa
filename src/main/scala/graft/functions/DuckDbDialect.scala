package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.Percentile
import org.apache.spark.sql.types.{DoubleType, TimestampType}

/** DuckDB-dialect FUNCTION NAMES as zero-cost aliases for Spark-native
  * expressions — the round-15 SQL-surface sweep (SqlCompatSpec) found
  * that the single biggest class of oracle texts Spark's frontend
  * rejects is plain function naming (`string_split` for `split`,
  * `epoch` for a seconds cast, `unnest` for `explode`, ...), not
  * semantics. Registering each name as a builder over the SAME Catalyst
  * expression the builtin resolves to keeps every alias inside
  * whole-stage codegen — this is dialect surface, not a UDF layer, so a
  * 100 TB plan through an alias is byte-identical to one through the
  * native name.
  *
  * Alias semantics were pinned against DuckDB 1.0 directly (SURVEY
  * round-15 addendum) and are arbitrated end-to-end by SqlCompatSpec:
  * every alias-reached oracle text must produce the DataFrame form's
  * exact values, and the DataFrame forms are themselves driver-verified
  * against DuckDB — so an alias whose semantics drift from DuckDB's
  * cannot silently pass. Names whose DuckDB behavior Spark cannot
  * reproduce with a plain expression mapping are deliberately ABSENT
  * and stay documented in the compat matrix instead:
  *
  *   - `strftime` — C-style % patterns vs Java date patterns.
  *   - `list(x ORDER BY y)`, `:=`, `{...}` — parser syntax,
  *     unreachable by any function registration. (`[...]` literals,
  *     `l[i]`, `l[a:b]` and `//` are equally parser-level, but their
  *     oracle texts were rewritten round 16 to the `list_value` /
  *     `list_extract` / `list_slice` / CAST(FLOOR(..)) forms both
  *     engines parse — see the aliases below.)
  *
  * Names with caveated mappings (`list_distinct` NULL-drop reorder,
  * `list_sum` BIGINT accumulator, 2-arg regexp defaults) carry their
  * caveats inline at the alias site.
  */
/** DuckDB's polymorphic `len`: string length OR list cardinality,
  * dispatched AFTER the child resolves (a registry builder runs before
  * analysis and cannot see types). RuntimeReplaceable, so the optimizer
  * swaps in the plain codegen'd Length/Size and this node never
  * executes. */
case class DuckLen(child: Expression) extends RuntimeReplaceable
    with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
  override lazy val replacement: Expression = child.dataType match {
    case _: org.apache.spark.sql.types.ArrayType => Size(child)
    case _ => Length(child)
  }
  override def prettyName: String = "len"
  override protected def withNewChildInternal(newChild: Expression): DuckLen =
    copy(child = newChild)
}

/** DuckDB's `list_sum`: NULL-skipping element sum, polymorphic over the
  * element type — BIGINT accumulator for integral lists, DOUBLE for
  * fractional ones (a registry builder runs pre-analysis and cannot see
  * the element type, so the dispatch lives here, like [[DuckLen]]).
  * The replacement builds RESOLVED NamedLambdaVariables (types known at
  * replacement time), so no lambda re-resolution is needed, and the
  * optimizer swaps in the plain codegen'd ArrayAggregate. Empty lists
  * fold to the zero, matching the pre-r16 alias; DuckDB returns NULL
  * there — no corpus text sums a possibly-empty list into an output
  * column, and one that did would fail the sweep loudly. */
case class DuckListSum(child: Expression) extends RuntimeReplaceable
    with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
  import org.apache.spark.sql.types._
  override lazy val replacement: Expression = {
    val elem = child.dataType match {
      case ArrayType(et, _) => et
      case _ => LongType
    }
    val (accType: DataType, zero: Expression) = elem match {
      case _: DoubleType | _: FloatType | _: DecimalType => (DoubleType, Literal(0.0))
      case _ => (LongType, Literal(0L))
    }
    val acc = NamedLambdaVariable("acc", accType, nullable = false)
    val x = NamedLambdaVariable("x", elem, nullable = true)
    val fin = NamedLambdaVariable("a", accType, nullable = false)
    ArrayAggregate(child, zero,
      LambdaFunction(Add(acc, Coalesce(Seq(Cast(x, accType), zero))), Seq(acc, x)),
      LambdaFunction(fin, Seq(fin)))
  }
  override def prettyName: String = "list_sum"
  override protected def withNewChildInternal(newChild: Expression): DuckListSum =
    copy(child = newChild)
}

object DuckDbDialect {

  /** (name, builder) pairs installed by [[register]]. */
  private val aliases: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // string_split(s, sep): LITERAL delimiter split, keeping empty
    // fields ('a  b' -> [a, '', b]) — StringSplitSQL is the literal
    // (non-regex) splitter, so seps like '.' or '|' stay safe where
    // the regex-based builtin `split` would misparse them
    "string_split" -> (exprs => StringSplitSQL(exprs(0), exprs(1))),
    // epoch(ts): DOUBLE seconds since epoch including the fractional
    // part (DuckDB 1.0: 1627991984.123456)
    "epoch" -> (exprs =>
      Divide(Cast(UnixMicros(Cast(exprs.head, TimestampType)), DoubleType),
        Literal(1e6))),
    // epoch_us(ts): BIGINT microseconds
    "epoch_us" -> (exprs => UnixMicros(Cast(exprs.head, TimestampType))),
    // unnest(arr) in a SELECT list: one output row per element
    "unnest" -> (exprs => Explode(exprs.head)),
    // quantile_cont: interpolated (type-widening) percentile — Spark's
    // exact Percentile aggregate interpolates identically
    "quantile_cont" -> (exprs => new Percentile(exprs(0), exprs(1))),
    // json_extract_string / ->> : unquoted string extraction
    "json_extract_string" -> (exprs => GetJsonObject(exprs(0), exprs(1))),
    // json_extract returns JSON TEXT — identical to get_json_object for
    // numeric/object values; STRING leaves would render quoted in
    // DuckDB, so any oracle relying on that diverges and the sweep
    // keeps it in the matrix rather than letting the alias lie
    "json_extract" -> (exprs => GetJsonObject(exprs(0), exprs(1))),
    "array_to_string" -> (exprs => ArrayJoin(exprs(0), exprs(1), None)),
    // to_days/to_seconds: integer -> day-time interval (timestamp math);
    // MakeDTInterval's implicit input casts coerce the int/decimal slots
    "to_days" -> (exprs =>
      MakeDTInterval(exprs.head, Literal(0), Literal(0), Literal(0))),
    "to_seconds" -> (exprs =>
      MakeDTInterval(Literal(0), Literal(0), Literal(0), exprs.head)),
    // regexp_matches: PARTIAL match (DuckDB anchors only if the pattern
    // does) = Spark RLIKE
    "regexp_matches" -> (exprs => RLike(exprs(0), exprs(1))),
    // list higher-order functions: the lambda syntax (x -> ...) is
    // already Spark SQL syntax; only the names differ
    "list_filter" -> (exprs => ArrayFilter(exprs(0), exprs(1))),
    "list_transform" -> (exprs => ArrayTransform(exprs(0), exprs(1))),
    // range(n) / range(a, b): DuckDB's EXCLUSIVE-upper-bound BIGINT
    // list — Spark's sequence is inclusive, so emit [a, b-1] and an
    // empty list when b <= a (sequence would throw on an inverted
    // bound with step 1)
    "range" -> (exprs => {
      val (a0, b0) = exprs.length match {
        case 1 => (Literal(0L), exprs(0))
        case 2 => (exprs(0), exprs(1))
        case n => throw new org.apache.spark.sql.AnalysisException(
          errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          messageParameters = Map("functionName" -> "range",
            "expectedNum" -> "1 or 2", "actualNum" -> n.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      }
      val a = Cast(a0, org.apache.spark.sql.types.LongType)
      val b = Cast(b0, org.apache.spark.sql.types.LongType)
      If(LessThanOrEqual(b, a),
        Literal.create(Array.empty[Long],
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType, containsNull = false)),
        new Sequence(a, Subtract(b, Literal(1L)), Some(Literal(1L))))
    }),
    // len: DuckDB's is polymorphic over strings AND lists; Spark's
    // builtin `len` is string-only, so this name deliberately SHADOWS
    // the builtin with a post-resolution dispatch (string semantics
    // unchanged — it replaces to the same Length expression)
    "len" -> (exprs => DuckLen(exprs.head)),
    "list_sort" -> (exprs => new ArraySort(exprs.head)),
    // list_distinct: DuckDB also drops NULLs and may reorder — safe in
    // the oracle corpus because every use feeds an order-insensitive
    // consumer (len / membership); a bare list_distinct in an output
    // column would diverge and the sweep would keep it in the matrix
    "list_distinct" -> (exprs => ArrayDistinct(exprs.head)),
    "starts_with" -> (exprs => StartsWith(exprs(0), exprs(1))),
    // list_sum: NULL-skipping element sum, polymorphic over the element
    // type (BIGINT accumulator for integral lists, DOUBLE for
    // fractional) — see [[DuckListSum]]
    "list_sum" -> (exprs => DuckListSum(exprs.head)),
    "list_min" -> (exprs => ArrayMin(exprs.head)),
    "list_max" -> (exprs => ArrayMax(exprs.head)),
    "list_intersect" -> (exprs => ArrayIntersect(exprs(0), exprs(1))),
    // list(x): insertion-order collect — every oracle use feeds an
    // order-insensitive consumer or re-sorts, same caveat as
    // list_distinct
    "list" -> (exprs => aggregate.CollectList(exprs.head)),
    // list_reduce(l, (acc, x) -> ...): DuckDB seeds with the FIRST
    // element and folds the tail (errors on an empty list — ANSI
    // element_at(l, 1) preserves that)
    "list_reduce" -> (exprs => {
      def lv(n: String) = UnresolvedNamedLambdaVariable(Seq(n))
      ArrayAggregate(
        Slice(exprs.head, Literal(2), Size(exprs.head)),
        ElementAt(exprs.head, Literal(1)),
        exprs(1),
        LambdaFunction(lv("a"), Seq(lv("a"))))
    }),
    // regexp_extract 2-arg: DuckDB defaults to group 0 (the whole
    // match); Spark's builtin defaults to group 1, which THROWS on a
    // groupless pattern. Explicit-index calls (all of the engine's own
    // SQL texts) behave identically, so the shadow only changes the
    // 2-arg default to DuckDB's.
    "regexp_extract" -> (exprs =>
      if (exprs.length == 2) RegExpExtract(exprs(0), exprs(1), Literal(0))
      else RegExpExtract(exprs(0), exprs(1), exprs(2))),
    // encode(str): DuckDB's 1-arg UTF-8 string->BLOB — exactly what a
    // Spark string->binary cast produces; the 2-arg charset form keeps
    // the builtin expression
    "encode" -> (exprs =>
      if (exprs.length == 1)
        Cast(exprs.head, org.apache.spark.sql.types.BinaryType)
      else Encode(exprs(0), exprs(1))),
    // regexp_replace with a LITERAL flags string containing 'g':
    // DuckDB's global replace = Spark's default 3-arg behavior, with
    // any i/m/s flags folded into the pattern as inline (?ims) groups.
    // Deliberately NOT handled: DuckDB's flagless/`i`-only forms are
    // FIRST-occurrence-only, which no Spark expression reproduces —
    // those stay documented in the compat matrix rather than silently
    // replacing all; and a non-'g' 4th arg keeps Spark's own position
    // semantics.
    "regexp_replace" -> (exprs => exprs match {
      case Seq(s, re, rep, f) if f.foldable && f.dataType.typeName == "string" &&
          f.eval() != null && f.eval().toString.contains("g") =>
        val flags = f.eval().toString.filter("ims".contains(_))
        val pattern = if (flags.isEmpty) re
          else Concat(Seq(Literal(s"(?$flags)"), re))
        RegExpReplace(s, pattern, rep)
      case Seq(s, re, rep) => RegExpReplace(s, re, rep)
      case Seq(s, re, rep, pos) => RegExpReplace(s, re, rep, pos)
      case _ => throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map("functionName" -> "regexp_replace",
          "expectedNum" -> "3 or 4", "actualNum" -> exprs.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))
    }),
    // ——— round-16 additions: the function-form spellings the oracle
    // texts moved to when the `[...]`/`//` parser syntax was rewritten
    // into the ANSI subset both engines parse (SqlCompatSpec arbitrates
    // each one end-to-end, as above). ———
    // list_value(...): DuckDB's function form of the [...] literal
    "list_value" -> (exprs => CreateArray(exprs)),
    // list_extract(l, i): 1-based, negative = from the end, out of
    // bounds = NULL (DuckDB 1.0 pinned) — ElementAt with
    // failOnError=false matches all three; index 0 still throws on
    // both engines' semantics boundary (DuckDB returns NULL there; no
    // oracle text indexes by 0, and a future one would fail LOUDLY in
    // the sweep rather than silently diverge)
    // (explicit INT casts on every index slot: the corpus' indexes come
    // from range() as BIGINT, and the analyzer's implicit casts only
    // widen — ElementAt/Slice demand INT and would fail otherwise)
    "list_extract" -> (exprs => ElementAt(exprs(0),
      Cast(exprs(1), org.apache.spark.sql.types.IntegerType), None, failOnError = false)),
    // list_slice(l, a, b): 1-based INCLUSIVE bounds, clamped at both
    // ends, empty when a > b or a > len (DuckDB 1.0 pinned). Spark's
    // Slice(l, start, length) clamps length past the end and returns
    // empty for start past the end, so length = greatest(b-a+1, 0)
    // reproduces all of it
    "list_slice" -> (exprs => {
      def int(e: Expression) = Cast(e, org.apache.spark.sql.types.IntegerType)
      Slice(exprs(0), int(exprs(1)),
        Greatest(Seq(Add(Subtract(int(exprs(2)), int(exprs(1))), Literal(1)), Literal(0))))
    }),
    // list_append(l, x) / list_prepend(x, l) — NOTE DuckDB's prepend
    // takes the ELEMENT first; Spark's ArrayPrepend takes the array
    "list_append" -> (exprs => ArrayAppend(exprs(0), exprs(1))),
    "list_prepend" -> (exprs => ArrayPrepend(exprs(1), exprs(0))),
    "list_contains" -> (exprs => ArrayContains(exprs(0), exprs(1))),
    "list_concat" -> (exprs => Concat(exprs)),
    // xor(a, b): DuckDB's bitwise xor function form (Spark only has the
    // ^ operator under a different precedence climate)
    "xor" -> (exprs => BitwiseXor(exprs(0), exprs(1))),
    // generate_series(a, b[, step]): INCLUSIVE bounds on both engines
    // (unlike `range`, whose upper bound is exclusive — see the range
    // alias above) — exactly Spark's Sequence
    "generate_series" -> (exprs =>
      if (exprs.length == 2) new Sequence(exprs(0), exprs(1))
      else Sequence(exprs(0), exprs(1), Some(exprs(2)))),
    // divide(a, b): DuckDB's function form of integer `//` — truncating
    // INTEGRAL division, exact at int64 (pinned: divide(-7,2) = -3,
    // divide(12345678901234567, 3) bit-exact). Spark's IntegralDivide
    // (`div`) has identical truncating semantics and REJECTS fractional
    // inputs loudly, which is wanted: DuckDB's divide on DOUBLEs is
    // plain `/`, so a fractional call site must not silently alias
    "divide" -> (exprs => IntegralDivide(exprs(0), exprs(1))),
    // regexp_extract_all 2-arg: DuckDB defaults to group 0 (all full
    // matches); Spark's builtin defaults to group 1 and THROWS on a
    // groupless pattern — same shadow rationale as regexp_extract
    "regexp_extract_all" -> (exprs =>
      if (exprs.length == 2) RegExpExtractAll(exprs(0), exprs(1), Literal(0))
      else RegExpExtractAll(exprs(0), exprs(1), exprs(2))))
    // NOT aliasable, found the hard way: `datediff`/`date_diff` — the
    // parser intercepts both names into visitTimestampdiff BEFORE the
    // function registry and rejects DuckDB's quoted unit literal, so no
    // registered builder is ever reached; the oracle texts spell the
    // day-boundary diff through epoch()/divide() instead.

  /** `FROM unnest(arr)` — DuckDB's table-valued unnest: one row per
    * element, renamed by the usual `AS t(x)` alias. Registered in the
    * TABLE function registry (scalar-position unnest is the Explode
    * alias above). Un-correlated uses plan as a plain cross join;
    * correlated uses need LATERAL, as for any Spark TVF. */
  private val unnestTable: Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    exprs => org.apache.spark.sql.catalyst.plans.logical.Generate(
      Explode(exprs.head), unrequiredChildIndex = Nil, outer = false,
      qualifier = None, generatorOutput = Nil,
      child = org.apache.spark.sql.catalyst.plans.logical.OneRowRelation())

  /** Installs the dialect in `spark` (idempotent) — its only install
    * path. Opt-in, for sessions that run DuckDB oracle text: several
    * aliases shadow Spark built-ins (2-arg `regexp_extract`, `len`,
    * 1-arg `encode`), so [[graft.GraftExtensions]] leaves them out. */
  def register(spark: SparkSession): Unit = {
    aliases.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
    spark.sessionState.tableFunctionRegistry
      .createOrReplaceTempFunction("unnest", unnestTable, "built-in")
  }
}
