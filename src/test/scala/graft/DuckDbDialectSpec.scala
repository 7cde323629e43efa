package graft

import org.apache.spark.sql.Row

/** Pins each DuckDB-dialect alias ([[functions.DuckDbDialect]]) to the
  * behavior measured DIRECTLY against DuckDB 1.0 (the semantics block
  * in the SURVEY round-15 addendum) — so an alias can only drift from
  * DuckDB by failing here, independently of whether any oracle text
  * happens to exercise the edge. Also proves the aliases stay inside
  * whole-stage codegen (no UDF fallback) and that the builtin-name
  * shadows (`len`, `regexp_extract`) preserve Spark behavior where
  * DuckDB and Spark agree. The dialect goes into its own session, which
  * shares the catalog but not the function registry, so the shared
  * session keeps Spark's built-ins for every later suite. */
class DuckDbDialectSpec extends SparkSpec {

  private lazy val dialect = {
    val s = spark.newSession()
    functions.DuckDbDialect.register(s)
    s
  }

  private def sql1(q: String): Any = dialect.sql(q).collect()(0).get(0)

  test("string_split: literal (non-regex) delimiter, empty fields kept") {
    assert(sql1("SELECT string_split('a  b', ' ')") ==
      scala.collection.immutable.ArraySeq("a", "", "b"))
    assert(sql1("SELECT string_split('', ' ')") ==
      scala.collection.immutable.ArraySeq(""))
    // a regex metacharacter as the separator stays literal
    assert(sql1("SELECT string_split('a.b.c', '.')") ==
      scala.collection.immutable.ArraySeq("a", "b", "c"))
  }

  test("epoch / epoch_us: DOUBLE seconds with fraction / BIGINT micros (DuckDB 1.0 values)") {
    assert(sql1("SELECT epoch(TIMESTAMP '2021-08-03 11:59:44.123456')") ==
      1627991984.123456)
    assert(sql1("SELECT epoch_us(TIMESTAMP '2021-08-03 11:59:44.123456')") ==
      1627991984123456L)
  }

  test("range: exclusive upper bound, empty on inverted/zero bounds, 1-arg form") {
    assert(sql1("SELECT range(1, 4)") == scala.collection.immutable.ArraySeq(1L, 2L, 3L))
    assert(sql1("SELECT range(3)") == scala.collection.immutable.ArraySeq(0L, 1L, 2L))
    assert(sql1("SELECT range(0)") == scala.collection.immutable.ArraySeq.empty[Long])
    assert(sql1("SELECT range(5, 5)") == scala.collection.immutable.ArraySeq.empty[Long])
    assert(sql1("SELECT range(5, 2)") == scala.collection.immutable.ArraySeq.empty[Long])
  }

  test("len: polymorphic over lists and strings (builtin shadow keeps string behavior)") {
    assert(sql1("SELECT len(array(1, 2, 3))") == 3)
    assert(sql1("SELECT len('abcd')") == 4)
  }

  test("list HOFs, min/max, reduce, sum keep DuckDB edge semantics") {
    assert(sql1("SELECT list_filter(array(1, 2, 3), x -> x > 1)") ==
      scala.collection.immutable.ArraySeq(2, 3))
    assert(sql1("SELECT list_transform(array(1, 2), x -> x * 10)") ==
      scala.collection.immutable.ArraySeq(10, 20))
    assert(sql1("SELECT list_min(array(3, 1, 2))") == 1)
    assert(sql1("SELECT list_max(array(3, 1, 2))") == 3)
    // list_sum skips NULLs (DuckDB: list_sum([NULL, 1]) = 1)
    assert(sql1("SELECT list_sum(array(1, 2, 3))") == 6L)
    assert(sql1("SELECT list_sum(array(CAST(NULL AS INT), 1))") == 1L)
    // list_reduce seeds with the first element and folds the tail
    assert(sql1("SELECT list_reduce(array(1, 2, 3, 4), (acc, x) -> acc + x)") == 10)
    assert(sql1("SELECT list_sort(array(3, 1, 2))") ==
      scala.collection.immutable.ArraySeq(1, 2, 3))
  }

  test("regexp_matches is a partial match; regexp_extract 2-arg defaults to group 0") {
    assert(sql1("SELECT regexp_matches('abcd', 'bc')") == true)
    assert(sql1("SELECT regexp_matches('abcd', '^bc$')") == false)
    // DuckDB 2-arg default: whole match — Spark's builtin default (group
    // 1) throws on this groupless pattern
    assert(sql1("SELECT regexp_extract('ab12cd', '[0-9]+')") == "12")
    // explicit index unchanged from Spark semantics
    assert(sql1("SELECT regexp_extract('ab12cd', '([0-9])([0-9])', 2)") == "2")
  }

  test("encode: 1-arg DuckDB form is the UTF-8 string->binary cast; 2-arg keeps the builtin") {
    assert(sql1("SELECT encode('abc')").asInstanceOf[Array[Byte]].toSeq ==
      "abc".getBytes("UTF-8").toSeq)
    assert(sql1("SELECT octet_length(encode('héllo'))") ==
      "héllo".getBytes("UTF-8").length)
    assert(sql1("SELECT encode('abc', 'UTF-8')").asInstanceOf[Array[Byte]].toSeq ==
      "abc".getBytes("UTF-8").toSeq)
  }

  test("temporal and json aliases: to_days/to_seconds intervals, json_extract_string") {
    assert(sql1("SELECT CAST(TIMESTAMP '2021-01-01 00:00:00' + to_days(5) AS STRING)")
      .toString.startsWith("2021-01-06"))
    assert(sql1("SELECT CAST(TIMESTAMP '2021-01-01 00:00:00' + to_seconds(90) AS STRING)")
      .toString.contains("00:01:30"))
    assert(sql1("""SELECT json_extract_string('{"k": "v"}', '$.k')""") == "v")
    assert(sql1("SELECT quantile_cont(x, 0.25) FROM (VALUES (1.0), (2.0), (10.0)) AS t(x)")
      .toString.toDouble == 1.5)
  }

  test("FROM unnest(...) resolves as a table function") {
    val rows = dialect.sql("SELECT i FROM unnest(range(1, 4)) AS t(i)").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
  }

  test("aliases stay codegen'd: no UDF/eval fallback in the physical plan") {
    val df = dialect.sql(
      "SELECT list_sum(list_transform(string_split('1 2 3', ' '), x -> CAST(x AS INT))) AS s")
    val physical = df.queryExecution.executedPlan.toString
    assert(!physical.contains("BatchEvalPython") && !physical.contains("ScalaUDF"),
      s"alias fell out of codegen:\n$physical")
    assert(df.collect()(0).getLong(0) == 6L)
  }

  test("dialect is opt-in: a configured session has cosine_sim but no aliases") {
    import org.apache.spark.sql.AnalysisException
    // a new session of the shared, Tables.configure-built one: same
    // extensions, fresh function registry
    val s2 = spark.newSession()
    def one(q: String): Any = s2.sql(q).collect()(0).get(0)
    assert(one("SELECT cosine_sim(array(1.0D, 0D), array(1.0D, 0D))") == 1.0)
    val e = intercept[AnalysisException](one("SELECT string_split('x y', ' ')"))
    assert(e.getCondition == "UNRESOLVED_ROUTINE", e.getMessage)
    // Spark's 2-arg regexp_extract: group 1, not DuckDB's whole match
    assert(one("SELECT regexp_extract('ab12cd', '([a-z])([0-9])')") == "b")
    functions.DuckDbDialect.register(s2)
    assert(s2.sql("SELECT list_min(range(3, 9)) AS m, len(string_split('x y', ' ')) AS n")
      .collect()(0) == Row(3L, 2))
    assert(s2.sql("SELECT i FROM unnest(range(0, 2)) AS t(i)").count() == 2L)
    assert(one("SELECT regexp_extract('ab12cd', '([a-z])([0-9])')") == "b1")
  }

  test("the shared session keeps Spark's built-ins after the dialect was registered") {
    // runs last: every case above registered the dialect in a session of its own
    assert(SparkSpec.session.sql("SELECT regexp_extract('ab12cd', '([a-z])([0-9])')")
      .collect()(0).get(0) == "b")
  }
}
