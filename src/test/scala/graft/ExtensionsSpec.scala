package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** GraftExtensions must wire the full custom surface (planner strategy +
  * codegen functions) into a session built with `withExtensions` — the
  * deployment path, equivalent to setting `spark.sql.extensions` — with
  * NO per-query register calls. */
class ExtensionsSpec extends SparkSpec {

  private def withExtSession[T](f: SparkSession => T): T = {
    spark // force the shared session first so we can restore it
    val old = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try f(s2) finally {
      old.foreach { o =>
        SparkSession.setDefaultSession(o)
        SparkSession.setActiveSession(o)
      }
    }
  }

  test("a session built with GraftExtensions resolves graft functions and plans AsOfJoin natively") {
    withExtSession { s2 =>
    {
      // functions resolve from SQL text without any register() call
      val r = s2.sql(
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
      // (no AsOfStrategy.register on s2)
      import s2.implicits._
      val l = Seq((1L, 10L, 100L)).toDF("id", "k", "t")
      val rt = Seq((10L, 50L, 1L, 42L)).toDF("rk", "rt", "tie", "payload")
      val lp = l.queryExecution.analyzed
      val rp = rt.queryExecution.analyzed
      def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
        p.output.find(_.name == n).get
      val out = org.apache.spark.sql.graftbridge.Bridge.ofRows(s2,
        graft.plans.AsOfJoin(lp, rp, attr(lp, "k"), attr(lp, "t"),
          attr(rp, "rk"), attr(rp, "rt"), attr(rp, "tie")))
        .select(col("id"), col("payload")).collect()
      assert(out.length == 1 && out(0).getLong(1) == 42L)
    }
    }
  }

  test("DeriveInFilters: OR-of-conjunctions predicate yields pushed IN filters") {
    withExtSession { s2 =>
      // single-relation: both attributes IN-derived and pushed to the scan
      val naive = Tables.part(s2, sf).filter(
        (col("p_brand") === "Brand#1" && col("p_size") === 1) ||
        (col("p_brand") === "Brand#2" && col("p_size") === 2))
      val p1 = naive.queryExecution.executedPlan.toString
      assert("p_brand#\\d+ IN \\(Brand#1,Brand#2\\)".r.findFirstIn(p1).isDefined,
        s"derived brand IN missing:\n${p1.take(800)}")
      assert("p_size#\\d+ IN \\(1,2\\)".r.findFirstIn(p1).isDefined,
        s"derived size IN missing:\n${p1.take(800)}")
      // q7 shape: the nation-pair disjunction filters AFTER the joins,
      // yet both nation scans receive the derived IN list
      def dims(nameAs: String, keyAs: String) = Tables.nation(s2, sf)
        .select(col("n_nationkey").as(keyAs), col("n_name").as(nameAs))
      val joined = Tables.supplier(s2, sf)
        .join(dims("supp_nation", "snk"), col("s_nationkey") === col("snk"))
        .join(Tables.customer(s2, sf), col("s_suppkey") % 25 === col("c_custkey") % 25)
        .join(dims("cust_nation", "cnk"), col("c_nationkey") === col("cnk"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
                (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      val p2 = joined.queryExecution.optimizedPlan.toString
      // value dedup preserves encounter order, so the cust-side list
      // prints (NATION_2,NATION_1) — accept either order
      assert("n_name#\\d+ IN \\(NATION_[12],NATION_[12]\\)".r.findAllIn(p2).size >= 2,
        s"nation IN not derived onto both dim subtrees:\n${p2.take(1200)}")
      // semantics unchanged: same count as the plain session without the rule
      val plainCount = Tables.part(spark, sf).filter(
        (col("p_brand") === "Brand#1" && col("p_size") === 1) ||
        (col("p_brand") === "Brand#2" && col("p_size") === 2)).count()
      assert(naive.count() == plainCount)
    }
  }

  test("cosine_sim: mismatched vector dimensions yield NULL, never a truncated score") {
    withExtSession { s2 =>
      import s2.implicits._
      graft.functions.VectorFunctions.register(s2)
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
  }

  test("vector kernels: a NULL element yields NULL in codegen and interpreted eval, like the HOF fold") {
    graft.functions.VectorFunctions.register(spark)
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
    withExtSession { s2 =>
      import s2.implicits._
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
  }

  test("DeriveInFilters: binary-literal disjunction converges (value-deduped IN, no optimizer loop)") {
    withExtSession { s2 =>
      import s2.implicits._
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
      val df = s2.read.parquet(dir)
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
}
