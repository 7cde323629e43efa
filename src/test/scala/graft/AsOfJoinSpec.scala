package graft

import graft.plans.AsOfJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Property tests for the native as-of join operator
  * (graft.plans.AsOfJoin): randomized keys/times INCLUDING nulls on both
  * sides, compared row-for-row against the composed join+window
  * formulation — the two must be extensionally equal. Also asserts the
  * loud type check at construction (v1 is LONG/TIMESTAMP only).
  */
class AsOfJoinSpec extends SparkSpec {

  private def nativeAsof(l: DataFrame, r: DataFrame): DataFrame = {
    val lp = l.queryExecution.analyzed
    val rp = r.queryExecution.analyzed
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
      p.output.find(_.name == n).get
    org.apache.spark.sql.graftbridge.Bridge.ofRows(spark,
      AsOfJoin(lp, rp, attr(lp, "k"), attr(lp, "t"),
        attr(rp, "rk"), attr(rp, "rt"), attr(rp, "tie")))
  }

  private def composedAsof(l: DataFrame, r: DataFrame): DataFrame = {
    val w = Window.partitionBy("id").orderBy(desc_nulls_last("rt"), desc_nulls_last("tie"))
    l.join(r, col("k") === col("rk") && col("rt") <= col("t"), "left")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  test("native as-of join == composed join+window on randomized data with nulls") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260812L)
    def opt(p: Double, v: => Long): Option[Long] = if (rnd.nextDouble() < p) None else Some(v)
    val lRows = (1 to 500).map(i =>
      (i.toLong, opt(0.1, rnd.nextInt(25).toLong), opt(0.1, rnd.nextInt(1000).toLong)))
    val rRows = (1 to 800).map(i =>
      (opt(0.1, rnd.nextInt(25).toLong), opt(0.1, rnd.nextInt(1000).toLong), i.toLong, rnd.nextLong()))
    val l = lRows.toDF("id", "k", "t")
    val r = rRows.toDF("rk", "rt", "tie", "payload")
    val cols = Seq("id", "k", "t", "rk", "rt", "tie", "payload").map(col)
    val native = nativeAsof(l, r).select(cols: _*).collect().map(_.toSeq).sortBy(_.toString)
    val composed = composedAsof(l, r).select(cols: _*).collect().map(_.toSeq).sortBy(_.toString)
    assert(native.length == lRows.length, "native must emit exactly one row per left row")
    assert(native.length == composed.length)
    native.zip(composed).foreach { case (n, c) => assert(n == c, s"native $n != composed $c") }
    // null-keyed and null-time left rows must survive with a null right side
    val nullLeft = nativeAsof(l, r).filter(col("k").isNull || col("t").isNull)
    assert(nullLeft.count() > 0)
    assert(nullLeft.filter(col("rk").isNotNull || col("rt").isNotNull).count() == 0)
  }

  test("as-of join rejects unsupported key types loudly at construction") {
    import spark.implicits._
    val l = Seq(("a", "b", "c")).toDF("id", "k", "t") // STRING — no LONG embedding
    val r = Seq((1L, 2L, 3L, 4L)).toDF("rk", "rt", "tie", "payload")
    val lp = l.queryExecution.analyzed
    val rp = r.queryExecution.analyzed
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
      p.output.find(_.name == n).get
    val e = intercept[IllegalArgumentException] {
      AsOfJoin(lp, rp, attr(lp, "k"), attr(lp, "t"),
        attr(rp, "rk"), attr(rp, "rt"), attr(rp, "tie"))
    }
    assert(e.getMessage.contains("LONG/TIMESTAMP"))
  }

  test("as-of join widens INT keys and DATE times (strategy casts, same results)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42L)
    // INT key, DATE time on both sides — previously rejected by v1
    val l = (1 to 300).map(i => (i.toLong, rnd.nextInt(20), rnd.nextInt(700)))
      .toDF("id", "k", "di")
      .select(col("id"), col("k"), date_add(lit("2024-01-01").cast("date"), col("di")).as("t"))
    val r = (1 to 500).map(i => (rnd.nextInt(20), rnd.nextInt(700), i.toLong))
      .toDF("rk", "di", "tie")
      .select(col("rk"), date_add(lit("2024-01-01").cast("date"), col("di")).as("rt"), col("tie"))
    val native = nativeAsof(l, r)
      .select("id", "k", "t", "rk", "rt", "tie").collect().map(_.toSeq).sortBy(_.toString)
    val composed = composedAsof(l, r)
      .select("id", "k", "t", "rk", "rt", "tie").collect().map(_.toSeq).sortBy(_.toString)
    assert(native.length == 300)
    assert(native.length == composed.length)
    native.zip(composed).foreach { case (n, c) => assert(n == c, s"native $n != composed $c") }
  }

  test("skewed key spills the right buffer to disk, stays correct, and stays codegen'd") {
    import spark.implicits._
    // One hot key carries 100k right rows — far beyond the forced-down
    // buffer thresholds, so the per-key buffer must go through the
    // spillable path (the r4 verdict's OOM scenario) instead of holding
    // every row of the group on heap.
    spark.conf.set("spark.sql.sortMergeJoinExec.buffer.in.memory.threshold", "32")
    spark.conf.set("spark.sql.sortMergeJoinExec.buffer.spill.threshold", "1024")
    val spilled = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) spilled.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val hot = 7L
      val rnd = new scala.util.Random(7L)
      val l = ((1 to 40).map(i => (i.toLong, hot, rnd.nextInt(100000).toLong)) ++
        (41 to 60).map(i => (i.toLong, (i % 3).toLong, rnd.nextInt(1000).toLong)))
        .toDF("id", "k", "t")
      // tie is unique so native (max tie) and composed (tie desc) agree
      val r = ((1 to 100000).map(i => (hot, rnd.nextInt(100000).toLong, i.toLong, rnd.nextLong())) ++
        (1 to 500).map(i => ((i % 3).toLong, rnd.nextInt(1000).toLong, 100000L + i, rnd.nextLong())))
        .toDF("rk", "rt", "tie", "payload")
      val df = nativeAsof(l, r)
      // materialize THIS QueryExecution so AQE finalizes the plan we assert on
      assert(df.collect().length == 60)
      val cols = Seq("id", "k", "t", "rk", "rt", "tie", "payload").map(col)
      val native = df.select(cols: _*).collect().map(_.toSeq).sortBy(_.toString)
      val composed = composedAsof(l, r).select(cols: _*).collect().map(_.toSeq).sortBy(_.toString)
      assert(native.length == 60)
      assert(native.length == composed.length)
      native.zip(composed).foreach { case (n, c) => assert(n == c, s"native $n != composed $c") }
      // the buffer really spilled (listener delivery is async — poll)
      var tries = 0
      while (spilled.get == 0 && tries < 40) { Thread.sleep(100); tries += 1 }
      assert(spilled.get > 0, "expected nonzero spill metrics from the hot-key buffer")
      // and the plan still runs inside whole-stage codegen
      val plan = df.queryExecution.executedPlan.toString
      assert("\\*\\(\\d+\\) AsOfJoin".r.findFirstIn(plan).isDefined,
        s"AsOfJoin not codegen'd under spill confs:\n${plan.take(1200)}")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.unset("spark.sql.sortMergeJoinExec.buffer.in.memory.threshold")
      spark.conf.unset("spark.sql.sortMergeJoinExec.buffer.spill.threshold")
    }
  }

  test("as-of join participates in whole-stage codegen") {
    import spark.implicits._
    val l = (1 to 50).map(i => (i.toLong, (i % 5).toLong, i.toLong)).toDF("id", "k", "t")
    val r = (1 to 50).map(i => ((i % 5).toLong, i.toLong, i.toLong, i * 10L)).toDF("rk", "rt", "tie", "payload")
    val df = nativeAsof(l, r)
    // materialize THIS df's QueryExecution (count() would plan a new one):
    // AQE finalizes the plan and codegen-collapse runs per stage
    assert(df.collect().length == 50)
    val plan = df.queryExecution.executedPlan.toString
    // the star prefix marks operators inside a WholeStageCodegen region
    assert("\\*\\(\\d+\\) AsOfJoin".r.findFirstIn(plan).isDefined,
      s"AsOfJoin not codegen'd:\n${plan.take(1200)}")
  }
}
