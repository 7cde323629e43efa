package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import graft.functions.Msgpack

/** GraftExtensions must wire the full custom surface (planner strategy,
  * optimizer rule, codegen functions) into every session
  * [[Tables.configure]] builds — the shared suite session is one — with
  * NO register call anywhere. */
class ExtensionsSpec extends SparkSpec {

  test("a session built with GraftExtensions resolves graft functions and plans AsOfJoin natively") {
    // functions resolve from SQL text without any register() call
    val r = spark.sql(
      """SELECT rolling_hash('abc') AS h,
        |  cosine_sim(array(1.0d, 0d), array(1.0d, 0d)) AS c,
        |  hyperplane_codes(array(1.0d, 0d), 1, 4) AS hp,
        |  minhash_perms(array(7L)) AS mh,
        |  cdc_boundaries('abcdef') AS cb""".stripMargin).collect()(0)
    assert(r.getAs[Long]("h") == graft.functions.RollingHash.hash("abc"))
    assert(r.getAs[Double]("c") == 1.0)
    assert(r.getAs[scala.collection.Seq[Long]]("hp").length == 1)
    assert(r.getAs[scala.collection.Seq[Long]]("mh").length == 16)
    // the injected planner strategy handles the native as-of node
    import spark.implicits._
    val l = Seq((1L, 10L, 100L)).toDF("id", "k", "t")
    val rt = Seq((10L, 50L, 1L, 42L)).toDF("rk", "rt", "tie", "payload")
    val lp = l.queryExecution.analyzed
    val rp = rt.queryExecution.analyzed
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
      p.output.find(_.name == n).get
    val out = org.apache.spark.sql.graftbridge.Bridge.ofRows(spark,
      graft.plans.AsOfJoin(lp, rp, attr(lp, "k"), attr(lp, "t"),
        attr(rp, "rk"), attr(rp, "rt"), attr(rp, "tie")))
      .select(col("id"), col("payload")).collect()
    assert(out.length == 1 && out(0).getLong(1) == 42L)
  }

  test("every functionBuilders name resolves from SQL text on the configured session") {
    val good = Msgpack.encode(Map("mod" -> "wx"))
      .map(b => f"${b & 0xff}%02X").mkString
    val calls = Seq(
      "cosine_sim" -> ("cosine_sim(array(1.0D, 0D), array(1.0D, 0D))", 1.0),
      "dot_d" -> ("dot_d(array(3.0D, 4.0D), array(0D, 5.0D))", 20.0),
      "dot_l" -> ("dot_l(array(3L, 4L), array(0L, 5L))", 20L),
      "sqdist_d" -> ("sqdist_d(array(3.0D, 4.0D), array(0D, 5.0D))", 10.0),
      "rolling_hash" -> ("rolling_hash('abc')", graft.functions.RollingHash.hash("abc")),
      "minhash_perms" -> ("size(minhash_perms(array(7L)))", 16),
      "cdc_boundaries" -> ("size(cdc_boundaries('abcdef')) > 0", true),
      "hyperplane_codes" -> ("size(hyperplane_codes(array(1.0D, 0D), 1, 4))", 1),
      "msgpack_envelope" -> (s"msgpack_envelope(X'$good').mod", "wx"),
      "shingles3" -> ("shingles3(array('a', 'b', 'c', 'd'))", Seq("a b c", "b c d")),
      "shingles_n" -> ("shingles_n(array('a', 'b', 'c'), 2)", Seq("a b", "b c")),
      "bigram_hits" -> ("bigram_hits('the', 'th,he,in')", 2),
      "winnow_fps" -> ("winnow_fps(array(5L, 3L, 4L, 6L, 2L))", Seq(3L, 2L)))
    assert(calls.map(_._1) == GraftExtensions.functionBuilders.map(_._1),
      "one call per table entry, in table order")
    val row = spark.sql(calls.map(_._2._1).mkString("SELECT ", ", ", "")).collect()(0)
    calls.zipWithIndex.foreach { case ((name, (_, want)), i) =>
      assert(row.get(i) == want, s"$name: ${row.get(i)}")
    }
  }

  test("literal and arity misuse raises a named AnalysisException, not an eval-time crash") {
    val df = spark.sql(
      "SELECT array('a', 'b', 'c') AS words, array(1.0D, 0D) AS e, 'the' AS text, 4 AS k")
    val cases = Seq(
      "shingles_n(words, k)" -> "NON_FOLDABLE_ARGUMENT",
      "hyperplane_codes(e, k, 4)" -> "NON_FOLDABLE_ARGUMENT",
      "bigram_hits(text, text)" -> "NON_FOLDABLE_ARGUMENT",
      "bigram_hits(text, CAST(NULL AS STRING))" -> "NON_FOLDABLE_ARGUMENT",
      "dot_d(e)" -> "WRONG_NUM_ARGS",
      "sqdist_d(e)" -> "WRONG_NUM_ARGS")
    cases.foreach { case (call, errorClass) =>
      val e = intercept[AnalysisException](df.selectExpr(call).collect())
      assert(e.getCondition.startsWith(errorClass), s"$call: ${e.getCondition}: ${e.getMessage}")
    }
  }

  test("DeriveInFilters: OR-of-conjunctions predicate yields pushed IN filters") {
    // single-relation: both attributes IN-derived and pushed to the scan
    val naive = Tables.part(spark, sf).filter(
      (col("p_brand") === "Brand#1" && col("p_size") === 1) ||
      (col("p_brand") === "Brand#2" && col("p_size") === 2))
    val p1 = naive.queryExecution.executedPlan.toString
    assert("p_brand#\\d+ IN \\(Brand#1,Brand#2\\)".r.findFirstIn(p1).isDefined,
      s"derived brand IN missing:\n${p1.take(800)}")
    assert("p_size#\\d+ IN \\(1,2\\)".r.findFirstIn(p1).isDefined,
      s"derived size IN missing:\n${p1.take(800)}")
    // q7 shape: the nation-pair disjunction filters AFTER the joins,
    // yet both nation scans receive the derived IN list
    def dims(nameAs: String, keyAs: String) = Tables.nation(spark, sf)
      .select(col("n_nationkey").as(keyAs), col("n_name").as(nameAs))
    val joined = Tables.supplier(spark, sf)
      .join(dims("supp_nation", "snk"), col("s_nationkey") === col("snk"))
      .join(Tables.customer(spark, sf), col("s_suppkey") % 25 === col("c_custkey") % 25)
      .join(dims("cust_nation", "cnk"), col("c_nationkey") === col("cnk"))
      .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
              (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
    val p2 = joined.queryExecution.optimizedPlan.toString
    // value dedup preserves encounter order, so the cust-side list
    // prints (NATION_2,NATION_1) — accept either order
    assert("n_name#\\d+ IN \\(NATION_[12],NATION_[12]\\)".r.findAllIn(p2).size >= 2,
      s"nation IN not derived onto both dim subtrees:\n${p2.take(1200)}")
    // semantics unchanged: same count with the rule excluded
    val excluded = "spark.sql.optimizer.excludedRules"
    spark.conf.set(excluded, plans.DeriveInFilters.ruleName)
    val plainCount = try {
      val plain = Tables.part(spark, sf).filter(
        (col("p_brand") === "Brand#1" && col("p_size") === 1) ||
        (col("p_brand") === "Brand#2" && col("p_size") === 2))
      assert(!plain.queryExecution.optimizedPlan.toString.contains(" IN ("),
        "the excluded rule must not derive the IN")
      plain.count()
    } finally spark.conf.unset(excluded)
    assert(naive.count() == plainCount)
  }

  test("cosine_sim: mismatched vector dimensions yield NULL, never a truncated score") {
    import spark.implicits._
    val rows = Seq(
      ("same", Seq(1.0, 0.0), Seq(1.0, 0.0)),
      ("short", Seq(1.0, 0.0), Seq(1.0)), // a truncated read would score 1.0
      ("long", Seq(1.0), Seq(1.0, 0.0)))
      .toDF("k", "x", "y")
      .selectExpr("k", "cosine_sim(x, y) AS s")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows("same").getDouble(1) == 1.0)
    assert(rows("short").isNullAt(1), "shorter right vector must yield NULL")
    assert(rows("long").isNullAt(1), "shorter left vector must yield NULL")
  }

  test("vector kernels: a NULL element yields NULL in codegen and interpreted eval, like the HOF fold") {
    // arrays derived from the row, so neither constant folding nor a
    // local-relation rewrite evaluates the kernels at plan time
    def out = spark.range(2).selectExpr(
        "id",
        "array(CAST(id * 3 AS DOUBLE), IF(id = 0, CAST(NULL AS DOUBLE), 4.0D)) AS x",
        "array(0.0D, CAST(id * 5 AS DOUBLE)) AS y",
        "array(id * 3, IF(id = 0, CAST(NULL AS BIGINT), 4L)) AS xl",
        "array(0L, id * 5) AS yl")
      .selectExpr("id", "cosine_sim(x, y)", "cosine_sim(y, x)", "dot_d(x, y)", "dot_d(y, x)",
        "dot_l(xl, yl)", "dot_l(yl, xl)", "sqdist_d(x, y)", "sqdist_d(y, x)",
        "aggregate(zip_with(x, y, (a, b) -> a * b), 0D, (acc, v) -> acc + v)")
      .orderBy("id").collect()
    val modes = Seq(
      "codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
      "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    for ((mode, confs) <- modes) {
      val old = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val rows = try out finally old.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      // row 0: x and xl hold a NULL element — every kernel and the HOF are NULL
      assert((1 until rows(0).length).forall(rows(0).isNullAt), s"$mode: ${rows(0)}")
      // row 1: x = [3, 4], y = [0, 5]
      assert(rows(1).toSeq.tail == Seq(0.8, 0.8, 20.0, 20.0, 20L, 20L, 10.0, 10.0, 20.0),
        s"$mode: ${rows(1)}")
    }
  }

  test("shingles: NULL words-array elements are skipped, matching the concat_ws HOF form") {
    import spark.implicits._
    // array('a', NULL, 'c', 'd'): an unguarded UnsafeArrayData read
    // turns the null slot into an EMPTY string ('a  c' with a double
    // space) while the HOF form skips it — the two must agree
    val out = Seq(Tuple1(Seq("a", null, "c", "d"))).toDF("words")
      .selectExpr(
        "shingles3(words) AS fused",
        "transform(sequence(1, size(words) - 2), " +
          "i -> concat_ws(' ', slice(words, i, 3))) AS hof")
      .as[(Seq[String], Seq[String])].head()
    assert(out._1 == out._2, s"fused ${out._1} must equal HOF ${out._2}")
    assert(out._1 == Seq("a c", "c d"),
      "null slots are skipped by concatWs in every window containing them")
  }

  test("DeriveInFilters: binary-literal disjunction converges (value-deduped IN, no optimizer loop)") {
    import spark.implicits._
    // equal binary literals are distinct Array[Byte] instances: a
    // reference-keyed dedupe would derive IN(b, [X'01', X'01']),
    // OptimizeIn would collapse it back to EqualTo, and the fixpoint
    // batch would re-derive forever (maxIterations blowup on EVERY
    // query of this shape, session-wide). Literal-equality dedupe
    // keeps the single-value case out of the >=2 guard entirely.
    // parquet-backed: a LocalRelation filter is evaluated away by
    // ConvertToLocalRelation before any IN could be derived
    val dir = java.nio.file.Files.createTempDirectory("graft_binin").toString
    Seq((Array[Byte](1), 1L), (Array[Byte](2), 2L)).toDF("b", "c")
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val q = df.filter(
      (col("b") === lit(Array[Byte](1)) && col("c") === 1L) ||
      (col("b") === lit(Array[Byte](1)) && col("c") === 2L))
    // optimization must terminate without the max-iterations warning
    // and keep the right answer
    assert(q.count() == 1L)
    val p = q.queryExecution.optimizedPlan.toString
    assert(!p.contains("IN (0x01,0x01)") && !p.contains("b IN"),
      s"no duplicate-value IN may be derived for the single-value binary case:\n$p")
    // two genuinely distinct binary values still derive the IN
    val q2 = df.filter(
      (col("b") === lit(Array[Byte](1)) && col("c") === 1L) ||
      (col("b") === lit(Array[Byte](2)) && col("c") === 2L))
    assert(q2.count() == 2L)
    assert("b#\\d+ IN ".r.findFirstIn(q2.queryExecution.optimizedPlan.toString).isDefined,
      "distinct binary values must still derive the pushable IN")
  }
}
