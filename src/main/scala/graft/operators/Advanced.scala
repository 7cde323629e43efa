package graft.operators

import graft._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Remaining SURVEY.md §2.2 surface: GROUPING SETS (SQL form), an as-of
  * join (latest dimension row at-or-before an event-time cutoff), a typed
  * `Aggregator` UDAF, and approximate distinct counting.
  */
object Advanced {

  /** GROUPING SETS via the SQL surface (the DataFrame API only exposes
    * rollup/cube; the analyzer handles arbitrary sets). */
  def qGroupingSets(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("graft_orders")
    Tables.customer(s, d).createOrReplaceTempView("graft_customer")
    Tables.nation(s, d).createOrReplaceTempView("graft_nation")
    s.sql(
      """SELECT n_name, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM graft_orders JOIN graft_customer ON o_custkey = c_custkey
        |JOIN graft_nation ON c_nationkey = n_nationkey
        |GROUP BY GROUPING SETS ((n_name), (o_orderpriority), ())""".stripMargin)
  }

  /** Correlated LATERAL subquery (SQL surface): each customer's top-2
    * orders by total price, written as the per-row subquery users
    * actually type. Spark 4 DECORRELATES the ORDER BY + LIMIT lateral
    * into a ranked join — the optimized plan is the window top-k, with
    * no per-row re-execution — which is exactly the property that makes
    * the construct usable at 100 TB. */
  def qLateralTopn(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("graft_orders")
    Tables.customer(s, d).createOrReplaceTempView("graft_customer")
    s.sql(
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        |FROM graft_customer c,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM graft_orders
        |         WHERE o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o""".stripMargin)
  }

  /** As-of join (SURVEY.md §4.3): for each event, the latest order of the
    * matching customer at or before a per-event cutoff. Composed from
    * built-ins (left range-join + windowed pick of the latest row) so
    * Catalyst keeps predicate pushdown; a dedicated SparkStrategy is the
    * escalation path if this shows up hot at scale.
    *
    * Deterministic pick: latest o_orderdate, ties broken by max
    * o_orderkey (DuckDB's native ASOF JOIN is tie-ambiguous, so the
    * oracle uses the same explicit window).
    */
  def qAsofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(
      col("event_id"), col("user_id"),
      expr("ts - make_interval(0, 0, 0, 8000 + (event_id * 13) % 6000, 0, 0, 0)").as("cutoff"))
    val o = Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
    val w = Window.partitionBy("event_id")
      .orderBy(desc_nulls_last("o_orderdate"), desc_nulls_last("o_orderkey"))
    ev.join(o, col("user_id") === col("o_custkey") && col("o_orderdate") <= col("cutoff"), "left")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("user_id"),
        col("o_orderkey").as("asof_orderkey"), col("o_orderdate").as("asof_orderdate"))
  }

  /** Typed Aggregator UDAF: quantity-weighted mean price. Accumulates
    * exact integer cents (inputs are 2-dp money and integral quantities)
    * so the merge order can't change the result — oracle-safe. */
  object WeightedMeanCents extends Aggregator[(Long, Long), (Long, Long), Double] {
    override def zero: (Long, Long) = (0L, 0L)
    override def reduce(b: (Long, Long), a: (Long, Long)): (Long, Long) =
      (b._1 + a._1 * a._2, b._2 + a._2)
    override def merge(x: (Long, Long), y: (Long, Long)): (Long, Long) =
      (x._1 + y._1, x._2 + y._2)
    override def finish(r: (Long, Long)): Double =
      if (r._2 == 0) 0.0 else r._1.toDouble / 100.0 / r._2.toDouble
    override def bufferEncoder = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong)
    override def outputEncoder = org.apache.spark.sql.Encoders.scalaDouble
  }

  def qUdafWeightedPrice(s: SparkSession, d: String): DataFrame = {
    val wavg = udaf(WeightedMeanCents)
    Tables.lineitem(s, d)
      .select(col("l_returnflag"),
        (col("l_extendedprice").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"),
        col("l_quantity").cast("long").as("qty"))
      .groupBy("l_returnflag")
      .agg(wavg(col("cents"), col("qty")).as("qty_weighted_price"),
        count(lit(1)).as("n"))
  }

  /** HLL approximate distinct vs exact. Oracle-checked: the exact
    * counts hash-match DuckDB, and the sketch estimates are exposed as
    * bounded-error booleans (|approx−exact|/exact ≤ 10%) — the sketch
    * internals themselves are engine-specific so raw estimates can't
    * hash-match, but the error contract can. AdvancedSpec additionally
    * bounds the raw relative error. */
  def qApproxDistinct(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    // Exact distincts as two-phase (dedup-then-count) aggregations
    // rather than multi-COUNT(DISTINCT) in one Aggregate: Spark plans
    // the latter with an Expand that replicates every input row once
    // per distinct column (4x shuffle volume here — it benched 6.2 s at
    // sf0.1 vs 1.5 s for this form). The dedup shuffles carry
    // map-side-combined partials, the HLL sketch runs in its own single
    // pass, and the three 3-row results join for free.
    def exactDistinct(c: String, as: String) =
      li.select(col("l_returnflag"), col(c)).distinct()
        .groupBy("l_returnflag").agg(count(lit(1)).as(as))
    val approx = li.groupBy("l_returnflag").agg(
      approx_count_distinct(col("l_orderkey")).as("ao"),
      approx_count_distinct(col("l_partkey"), 0.02).as("ap"))
    exactDistinct("l_orderkey", "exact_orders")
      .join(exactDistinct("l_partkey", "exact_parts"), "l_returnflag")
      .join(approx, "l_returnflag")
      .select(col("l_returnflag"), col("exact_orders"), col("exact_parts"),
        (abs(col("ao") - col("exact_orders")).cast("double") / col("exact_orders") <= 0.10)
          .as("approx_orders_ok"),
        (abs(col("ap") - col("exact_parts")).cast("double") / col("exact_parts") <= 0.10)
          .as("approx_parts_ok"))
  }

  /** Exact quantiles (interpolated percentile — same index/interpolation
    * formula in Spark and DuckDB's quantile_cont, so doubles hash-match)
    * plus a bounded-error boolean for the t-digest approx_percentile
    * sketch (the sketch itself is engine-specific, its error contract
    * isn't — same pattern as q_approx_distinct's HLL columns). */
  def qQuantileStats(s: SparkSession, d: String): DataFrame =
    // r18 (guide §4, VERDICT r17 item 5): one percentile BUFFER per
    // column, not one per requested percentage. The scalar form built
    // five independent value→count OpenHashMaps over the same 600k-row
    // pass (three for l_quantity, two for the ~583k-distinct
    // l_extendedprice — the dominant cost: each partial buffer
    // serializes its whole map into the shuffle). The array-percentage
    // form keeps ONE buffer per column and evaluates every percentage
    // against the same aggregated counts with the same interpolation —
    // bit-identical doubles by construction (same buffer, same
    // getPercentile per percentage).
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D))").as("qs"),
        expr("percentile(l_extendedprice, array(0.5D, 0.95D))").as("ps"),
        expr("approx_percentile(l_extendedprice, 0.5D, 10000)").as("amed"))
      .select(col("l_returnflag"),
        col("qs").getItem(1).as("median_qty"),
        col("qs").getItem(0).as("q1_qty"),
        col("qs").getItem(2).as("q3_qty"),
        col("ps").getItem(1).as("p95_price"),
        (abs(col("amed") - col("ps").getItem(0)) / col("ps").getItem(0) <= 0.01)
          .as("approx_median_ok"))

  /** Deterministic reproducible sampling — the 100 TB pattern for
    * debugging/eyeballing: an md5-bucket filter (~10% keyspace) rather
    * than rand()/TABLESAMPLE, so every engine, run, and partitioning
    * selects the SAME rows. The oracle runs the identical predicate. */
  def qDetSample(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      // r18: fixed-width lowercase hex compares lexicographically as it
      // does numerically — 6554 = 0x199a — so the conv() parse drops out
      .filter(expr("substring(md5(CAST(o_orderkey AS STRING)), 1, 4) < '199a'"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_sampled"), dsum(col("o_totalprice")).as("sampled_total"))

  /** The same as-of semantics on the NATIVE operator
    * (graft.plans.AsOfJoin: custom LogicalPlan + Strategy + merge-join
    * exec) — one merge pass per key group instead of join + window.
    * Shares q_asof_join's oracle (identical results by construction). */
  def qAsofJoinNative(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(
      col("event_id"), col("user_id"),
      expr("ts - make_interval(0, 0, 0, 8000 + (event_id * 13) % 6000, 0, 0, 0)").as("cutoff"))
    val o = Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
    val lPlan = ev.queryExecution.analyzed
    val rPlan = o.queryExecution.analyzed
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
      plan.output.find(_.name == n).get
    val node = graft.plans.AsOfJoin(lPlan, rPlan,
      attr(lPlan, "user_id"), attr(lPlan, "cutoff"),
      attr(rPlan, "o_custkey"), attr(rPlan, "o_orderdate"), attr(rPlan, "o_orderkey"))
    org.apache.spark.sql.graftbridge.Bridge.ofRows(s, node)
      .select(col("event_id"), col("user_id"),
        col("o_orderkey").as("asof_orderkey"), col("o_orderdate").as("asof_orderdate"))
  }

  /** HLL sketch PERSISTENCE + union (Apache DataSketches via Spark's
    * hll_sketch_agg family) — the pattern q_approx_distinct doesn't
    * exercise: sketches built per (flag, shard) partition survive as
    * binary columns ("sketch at rest" — at 100 TB you materialize one
    * sketch per day/partition once) and distinct counts for any shard
    * combination come from hll_union_agg over the tiny sketch relation
    * WITHOUT rescanning the fact data. The estimate is engine-specific,
    * so the oracle checks the exact counts plus the ≤5% error contract
    * (lgK=12 ⇒ ~1.6% expected). */
  def qHllSketchUnion(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val sketches = li
      .groupBy(col("l_returnflag"), (col("l_orderkey") % 8).as("shard"))
      .agg(expr("hll_sketch_agg(l_orderkey, 12)").as("sk"))
    val unioned = sketches.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_shards"),
        expr("hll_sketch_estimate(hll_union_agg(sk, true))").as("est"))
    val exact = li.select("l_returnflag", "l_orderkey").distinct()
      .groupBy("l_returnflag").agg(count(lit(1)).as("exact_orders"))
    exact.join(unioned, "l_returnflag")
      .select(col("l_returnflag"), col("exact_orders"), col("n_shards"),
        (abs(col("est") - col("exact_orders")).cast("double") / col("exact_orders") <= 0.05)
          .as("union_ok"))
  }

  /** HLL precision sweep — the sketch-sizing curve (the nprobe-sweep
    * idea applied to cardinality): one pass builds FIVE HLL sketches of
    * the order-key universe at lgK 4..12, and each row reports the
    * standard 3·RSE bound (RSE = 1.04/√m) against the exact distinct
    * count — the memory/accuracy tradeoff measured, which is how you
    * pick a sketch size before spending it ×10⁹ groups. Exact count and
    * bound are hash-checked; the estimates live in the contract
    * booleans (the q_approx_distinct convention — DuckDB has no
    * DataSketches HLL).
    *
    * Scale shape: all five sketches accumulate in ONE map-side-combined
    * aggregate pass; the exact side is the usual two-phase distinct. */
  def qHllPrecisionSweep(s: SparkSession, d: String): DataFrame = {
    val lgs = Seq(4, 6, 8, 10, 12)
    val li = Tables.lineitem(s, d)
    val exact = li.select("l_orderkey").distinct().agg(count(lit(1)).as("exact_n"))
    val aggs = lgs.map(k =>
      expr(s"hll_sketch_estimate(hll_sketch_agg(l_orderkey, $k))").as(s"e$k"))
    val ests = li.agg(aggs.head, aggs.tail: _*)
    val arr = lgs.map(k => s"named_struct('lg_k', $k, 'est', e$k)").mkString("array(", ", ", ")")
    val boundExpr = "3 * 1.04 / sqrt(CAST(shiftleft(1, x.lg_k) AS DOUBLE))"
    exact.crossJoin(ests)
      .select(col("exact_n"), explode(expr(arr)).as("x"))
      .select(col("x.lg_k").as("lg_k"),
        expr("CAST(shiftleft(1, x.lg_k) AS BIGINT)").as("m"),
        col("exact_n"),
        round(expr(boundExpr), 6).as("rse_bound"),
        (abs(col("x.est") - col("exact_n")).cast("double") / expr("nullif(exact_n, 0)") <=
          expr(boundExpr)).as("hll_ok"))
  }

  /** One-pass exact COLUMN PROFILER — the Deequ/Glue-style table
    * profile (per column: rows, nulls, distincts, min/max/mean) that
    * precedes any constraint suite, computed WITHOUT the multi-COUNT-
    * DISTINCT Expand blowup and without one scan per column: the
    * numeric columns unpivot map-side to (column, value) pairs, one
    * combined aggregate reduces to per-(column, value) counts (the
    * two-phase distinct shape), and the profile is a second aggregate
    * over that value-distribution relation — where min/max/mean and
    * the distinct count are all exact integer/decimal arithmetic.
    *
    * Scale shape: one fact scan with a constant 4× map-side fan-out,
    * two keyed aggregates, no Expand, no per-column rescans. */
  def qColumnProfile(s: SparkSession, d: String): DataFrame = {
    val stack = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .map(c => s"'$c', CAST($c AS DECIMAL(18,2))").mkString(", ")
    Tables.lineitem(s, d)
      .select(expr(s"stack(4, $stack)").as(Seq("col_name", "v")))
      .groupBy("col_name", "v").agg(count(lit(1)).as("c"))
      .groupBy("col_name")
      .agg(sum("c").cast("long").as("n_rows"),
        sum(when(col("v").isNull, col("c")).otherwise(0L)).as("n_null"),
        sum(when(col("v").isNotNull, 1L).otherwise(0L)).as("n_distinct"),
        round(min("v").cast("double"), 6).as("min_v"),
        round(max("v").cast("double"), 6).as("max_v"),
        expr("round(CAST(SUM(v * c) AS DOUBLE) / SUM(CASE WHEN v IS NOT NULL THEN c ELSE 0 END), 6)")
          .as("mean_v"))
  }

  /** KLL quantile sketches at rest (Apache DataSketches via Spark 4's
    * kll_* family) — the quantile counterpart of [[qHllSketchUnion]]:
    * one KLL sketch per (flag, shard) partition survives as a binary
    * column, and any shard combination's quantiles come from
    * kll_merge_agg over the tiny sketch relation WITHOUT rescanning the
    * fact data — at 100 TB this is how you answer "p50 per segment,
    * any segment grouping" from per-day sketches. KLL's guarantee is on
    * RANK (~1.1% at k=400), so the value-space contract bound is loose
    * (≤10%); the exact interpolated percentile is the hash-checked
    * column, per the sketch-error-contract convention. */
  def qKllQuantileMerge(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val sketches = li
      .groupBy(col("l_returnflag"), (col("l_orderkey") % 8).as("shard"))
      .agg(expr("kll_sketch_agg_double(l_quantity, 400)").as("sk"))
    val merged = sketches.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_shards"),
        expr("kll_sketch_get_quantile_double(kll_merge_agg_double(sk), 0.5D)").as("est"))
    li.groupBy("l_returnflag")
      .agg(expr("percentile(l_quantity, 0.5D)").as("median_qty"))
      .join(merged, "l_returnflag")
      .select(col("l_returnflag"), col("median_qty"), col("n_shards"),
        (abs(col("est") - col("median_qty")) / col("median_qty") <= 0.10).as("kll_median_ok"))
  }

  /** Frequent-items sketch (Spark 4 approx_top_k) vs the exact top-10
    * terms: the Misra-Gries-family guarantee is DETERMINISTIC — with
    * map size M the published a-priori error bound is ≤ 3.5·N/M, and
    * any term above that threshold is guaranteed tracked — so with
    * Zipfian text (top stopword counts ≫ εN) the containment and error
    * booleans are stable under any partitioning/merge order. The bound
    * below uses ε = 7/maxItemsTracked: the 3.5 a-priori constant plus a
    * 2× allowance for the sketch allocating its power-of-two map from
    * maxItemsTracked (implementation slack, still deterministic).
    * Exact side is hash-checked; the sketch runs in the same single
    * pass it would replace at 100 TB (one agg, no vocab shuffle). */
  def qApproxTopK(s: SparkSession, d: String): DataFrame = {
    val words = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("term"))
    val n = words.count() // corpus size for the εN bound (one cheap count scan)
    val approx = words.agg(expr("approx_top_k(term, 20, 8192)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item").as("term"), col("e.count").as("approx_cnt"))
    val exact = words.groupBy("term").agg(count(lit(1)).as("exact_cnt"))
      .orderBy(desc("exact_cnt"), col("term")).limit(10)
    exact.join(approx, Seq("term"), "left")
      .select(col("term"), col("exact_cnt"),
        col("approx_cnt").isNotNull.as("tracked_ok"),
        (coalesce(abs(col("approx_cnt") - col("exact_cnt")), lit(Long.MaxValue))
          <= lit(7L * n / 8192L + 1L)).as("count_ok"))
      .orderBy(desc("exact_cnt"), col("term"))
  }

  /** Theta sketches: distinct-count SET ALGEBRA at rest — the operation
    * HLL cannot do (HLL unions only; theta supports intersection and
    * difference on the sketch itself). One theta sketch of the distinct
    * order keys per return flag, then |A∩B| for every flag pair comes
    * from theta_intersection over the 3-row sketch relation — at 100 TB
    * this is audience-overlap / cross-segment-leakage analysis without
    * re-joining the fact table. Exact pair intersections (a distinct
    * self-join) are the hash-checked columns; the theta estimate gets
    * the ≤10% error-contract boolean (lgk=14 ⇒ ~0.8% expected). */
  def qThetaSetops(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val sk = li.groupBy("l_returnflag")
      .agg(expr("theta_sketch_agg(l_orderkey, 14)").as("sk"),
        countDistinct("l_orderkey").as("exact_n"))
    val pairs = sk.select(col("l_returnflag").as("flag_a"), col("sk").as("sk_a"), col("exact_n").as("exact_a"))
      .crossJoin(sk.select(col("l_returnflag").as("flag_b"), col("sk").as("sk_b"), col("exact_n").as("exact_b")))
      .filter(col("flag_a") < col("flag_b"))
      .withColumn("est_inter", expr("theta_sketch_estimate(theta_intersection(sk_a, sk_b))"))
    // r18 (guide §2.4: remove shuffles): the exact intersections used
    // two (flag, orderkey) distinct passes + an orderkey-keyed self-join
    // (the distinct output is partitioned by (flag, key), so the join
    // re-shuffled both sides by key — 3 corpus-sized exchanges). One
    // orderkey-grain collect_set + a map-side ordered-pair expansion
    // computes the same |A∩B| counts with ONE corpus-sized exchange:
    // count(keys with both flags) — value-identical integers, and the
    // pair expansion is order-insensitive (all a<b pairs of a set).
    // The ≤|flags| set per key keeps the explode bounded at any scale.
    val exactInter = li.groupBy("l_orderkey")
      .agg(collect_set(col("l_returnflag")).as("fs"))
      .select(explode(expr(
        "flatten(transform(fs, a -> transform(filter(fs, b -> b > a), b -> struct(a AS flag_a, b AS flag_b))))")).as("p"))
      .groupBy("p.flag_a", "p.flag_b").agg(count(lit(1)).as("exact_inter"))
    pairs.join(exactInter, Seq("flag_a", "flag_b"))
      // exact_inter ≥ 1 structurally: it is a COUNT(*) over an inner
      // join, so zero-intersection pairs emit NO row (in both engines)
      // rather than a zero denominator
      .select(col("flag_a"), col("flag_b"), col("exact_a"), col("exact_b"), col("exact_inter"),
        (abs(col("est_inter") - col("exact_inter")) / col("exact_inter") <= 0.10).as("inter_ok"))
  }

  /** SCD Type-2 dimension merge (Kimball's slowly-changing dimension,
    * the warehouse MERGE INTO shape without a table format): apply a
    * change batch to the customer dimension with effective dating —
    * matched keys CLOSE the current row (valid_to = batch date,
    * is_current = false) and OPEN a version-2 row; untouched dimension
    * rows pass through; batch inserts open version-1 rows. The change
    * batch derives deterministically from the dimension itself (segment
    * rewrite for custkey%10=3, inserts at key+10M for %100=7) so all
    * three merge paths carry live rows at every scale factor.
    *
    * Scale shape: one left-semi + one left-anti + one left join of the
    * dimension against the batch keyset, then a partition-local union —
    * no window, no global sort, shuffles only on the dimension key. In
    * the common CDC case (batch ≪ dim) the keyset broadcasts and the
    * dim-side joins are map-side; AQE's skew split covers hot keys. The
    * closed/opened rows are O(batch), so incremental maintenance cost
    * is proportional to the change set, not the dimension. */
  /** Three-clause MERGE INTO semantics (ANSI SQL:2003 / the warehouse
    * upsert contract) expressed as ONE full-outer join — Spark's
    * row-level MERGE needs a v2 table; on immutable columnar storage the
    * same semantics are a snapshot rewrite, which is exactly how
    * copy-on-write table formats execute it:
    *   WHEN MATCHED AND new_bal < 0 THEN DELETE
    *   WHEN MATCHED            THEN UPDATE SET acctbal = new_bal
    *   WHEN NOT MATCHED        THEN INSERT
    * The change set is derived deterministically from the dimension
    * (updates for custkey%4=0 — shifted so some go negative and take the
    * DELETE branch — inserts keyed above the existing id space). One
    * shuffle on the merge key; at 100 TB both sides would be bucketed on
    * it (q_bucketed_join's layout) and the merge would run
    * exchange-free. An `action` provenance column keeps all four
    * outcomes (kept/updated/inserted + implicit deletes as absent rows)
    * auditable — the oracle reproduces the clause logic in SQL. */
  def qMergeUpsert(s: SparkSession, d: String): DataFrame = {
    val target = Tables.customer(s, d).select(
      col("c_custkey").as("key"), col("c_mktsegment").as("segment"),
      expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE)").as("acctbal"))
    val source = Tables.customer(s, d).filter(col("c_custkey") % 4 === 0)
      .select(col("c_custkey").as("key"),
        expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) - 3000 AS DOUBLE)").as("new_bal"))
      // inserts live in the NEGATIVE key space: an additive offset
      // collides with real customer keys once 150000·SF crosses it
      // (SF ≥ 67), silently turning inserts into updates — and the
      // oracle, applying the same arithmetic, could never catch it
      .unionByName(Tables.customer(s, d).filter(col("c_custkey") % 10 === 7)
        .select((-col("c_custkey")).as("key"),
          expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) / 2 AS DOUBLE)").as("new_bal")))
    target.join(source, Seq("key"), "full_outer")
      .filter(
        // WHEN MATCHED AND new_bal < 0 THEN DELETE — drop the row
        !(col("acctbal").isNotNull && col("new_bal").isNotNull && col("new_bal") < 0))
      .select(col("key"),
        coalesce(col("segment"), lit("NEW")).as("segment"),
        when(col("new_bal").isNotNull, col("new_bal")).otherwise(col("acctbal")).as("acctbal"),
        when(col("acctbal").isNull, "inserted")
          .when(col("new_bal").isNotNull, "updated")
          .otherwise("kept").as("action"))
  }

  def qScd2Merge(s: SparkSession, d: String): DataFrame = {
    val dim = Tables.customer(s, d).select(
      col("c_custkey"), col("c_mktsegment").as("segment"),
      expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE)").as("acctbal"))
    val changed = dim.filter(col("c_custkey") % 10 === 3)
      .select(col("c_custkey"), concat(col("segment"), lit("_V2")).as("segment"),
        (col("acctbal") + 100.0).as("acctbal"))
    val inserts = dim.filter(col("c_custkey") % 100 === 7)
      // negative key space — collision-free with real keys at any SF
      .select((-col("c_custkey")).as("c_custkey"),
        lit("ONBOARD").as("segment"), lit(0.0).as("acctbal"))
    val batch = changed.unionByName(inserts)
    val keys = batch.select("c_custkey")
    val closed = dim.join(keys, Seq("c_custkey"), "left_semi")
      .select(col("c_custkey"), col("segment"), col("acctbal"),
        lit("1995-01-01").cast("date").as("valid_from"),
        lit("1998-06-01").cast("date").as("valid_to"),
        lit(false).as("is_current"), lit(1).as("version"))
    val untouched = dim.join(keys, Seq("c_custkey"), "left_anti")
      .select(col("c_custkey"), col("segment"), col("acctbal"),
        lit("1995-01-01").cast("date").as("valid_from"),
        lit(null).cast("date").as("valid_to"),
        lit(true).as("is_current"), lit(1).as("version"))
    val opened = batch
      .join(dim.select(col("c_custkey"), lit(1).as("existed")), Seq("c_custkey"), "left")
      .select(col("c_custkey"), col("segment"), col("acctbal"),
        lit("1998-06-01").cast("date").as("valid_from"),
        lit(null).cast("date").as("valid_to"),
        lit(true).as("is_current"),
        when(col("existed").isNotNull, 2).otherwise(1).as("version"))
    closed.unionByName(untouched).unionByName(opened)
  }

  /** Incremental view maintenance (the materialized-aggregate refresh
    * pattern): the stored aggregate over history (orders before
    * 1997-01-01) combines with the delta batch's aggregate (orders on
    * or after) through a full-outer key join — counts and decimal sums
    * are associative, so combine touches |keys| rows and the refresh
    * cost is ∝ the increment, never the fact table. The oracle is the
    * from-scratch single-pass aggregate: proving combine(old, delta) ≡
    * recompute is exactly the IVM correctness contract. `n_new` rides
    * along to show the delta's contribution.
    *
    * At 100 TB this is the difference between a nightly full scan and
    * a per-batch touch of a key-sized relation; the same combine shape
    * serves sketch-at-rest refresh (q_hll_sketch_union/q_kll_*) when
    * the aggregate is not algebraic. */
  def qIncrAgg(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_orderpriority"),
      col("o_orderdate"), expr("CAST(o_totalprice AS DECIMAL(18,2))").as("p"))
    val cut = lit("1997-01-01").cast("date")
    val hist = o.filter(col("o_orderdate") < cut).groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_h"), sum("p").as("t_h"))
    val delta = o.filter(col("o_orderdate") >= cut).groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_d"), sum("p").as("t_d"))
    hist.join(delta, Seq("o_orderpriority"), "full_outer")
      .select(col("o_orderpriority"),
        (coalesce(col("n_h"), lit(0L)) + coalesce(col("n_d"), lit(0L))).as("n_orders"),
        (coalesce(col("t_h"), lit(0).cast(DecimalType(18, 2))) +
          coalesce(col("t_d"), lit(0).cast(DecimalType(18, 2)))).cast("double").as("total"),
        coalesce(col("n_d"), lit(0L)).as("n_new"))
  }

  /** Exact-moment statistical profiling — stddev/skewness/kurtosis of
    * quantity plus the quantity↔price correlation per return flag: the
    * distribution-profiling pass a corpus gets before training, done
    * HASH-STABLY across engines. The trick: quantity is integral and
    * price has exactly 2 decimals, so the five raw power sums (Σq…Σq⁴,
    * Σp, Σp², Σqp) accumulate as exact integers (DECIMAL(38,0) on the
    * Spark side — Σp² overflows BIGINT at sf0.1 already) and are
    * order-insensitive under ANY partial-aggregation schedule; the
    * moment formulas then evaluate ONCE per group on the exact sums,
    * with a byte-identical expression tree in both engines (same parse,
    * same IEEE ops, same result — no float-summation-order flake).
    *
    * Scale: one scan, one map-side-combined shuffle of 8 decimal
    * partials per group — the textbook two-pass mean-centered algorithm
    * needs a scan per moment; raw power sums need one total and lose
    * nothing here because the domain is integer-exact. */
  def qStatsMoments(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d).select(col("l_returnflag"),
      expr("CAST(l_quantity AS BIGINT)").as("q"),
      expr("CAST(round(CAST(l_extendedprice AS DOUBLE) * 100) AS BIGINT)").as("p"))
    // r18 (guide §4): the per-row power chains ran in DECIMAL(38,0) —
    // every multiply a BigDecimal allocation per row per term. The
    // products are DOMAIN-bounded (TPC-H: q ≤ 50 so q⁴ ≤ 6.25e6; p ≤
    // ~1.1e7 cents so p² ≤ 1.3e14, q·p ≤ 5.5e8 — per-row bounds, not
    // corpus-size bounds), so they compute exactly in BIGINT and only
    // the SUM — which IS corpus-sized and does need 38 digits — casts
    // to decimal. Identical exact integer sums, same downstream doubles.
    l.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(q AS DECIMAL(38,0))")).as("s1"),
        sum(expr("CAST(q * q AS DECIMAL(38,0))")).as("s2"),
        sum(expr("CAST(q * q * q AS DECIMAL(38,0))")).as("s3"),
        sum(expr("CAST(q * q * q * q AS DECIMAL(38,0))")).as("s4"),
        sum(expr("CAST(p AS DECIMAL(38,0))")).as("t1"),
        sum(expr("CAST(p * p AS DECIMAL(38,0))")).as("t2"),
        sum(expr("CAST(q * p AS DECIMAL(38,0))")).as("sp"))
      .select(col("l_returnflag"), col("n"),
        expr(s"round($momM, 6)").as("mean_qty"),
        expr(s"round(sqrt($momVar), 6)").as("std_qty"),
        expr(s"round((CAST(s3 AS DOUBLE) / n - 3 * ($momM) * (CAST(s2 AS DOUBLE) / n) + 2 * ($momM) * ($momM) * ($momM)) / (sqrt($momVar) * sqrt($momVar) * sqrt($momVar)), 6)").as("skew_qty"),
        expr(s"round((CAST(s4 AS DOUBLE) / n - 4 * ($momM) * (CAST(s3 AS DOUBLE) / n) + 6 * ($momM) * ($momM) * (CAST(s2 AS DOUBLE) / n) - 3 * ($momM) * ($momM) * ($momM) * ($momM)) / (($momVar) * ($momVar)) - 3, 6)").as("kurt_qty"),
        expr(s"round((CAST(sp AS DOUBLE) / n - ($momM) * (CAST(t1 AS DOUBLE) / n)) / (sqrt($momVar) * sqrt(CAST(t2 AS DOUBLE) / n - (CAST(t1 AS DOUBLE) / n) * (CAST(t1 AS DOUBLE) / n))), 6)").as("corr_qty_price"))
  }

  /** The moment formulas, shared VERBATIM between the Spark select and
    * the DuckDB oracle so both engines execute the identical IEEE
    * expression tree over the identical exact integer sums. */
  private val momM = "CAST(s1 AS DOUBLE) / n"
  private val momVar = s"CAST(s2 AS DOUBLE) / n - ($momM) * ($momM)"

  private val momentsSelect: String =
    s"""SELECT l_returnflag, n,
       |  round($momM, 6) AS mean_qty,
       |  round(sqrt($momVar), 6) AS std_qty,
       |  round((CAST(s3 AS DOUBLE) / n - 3 * ($momM) * (CAST(s2 AS DOUBLE) / n) + 2 * ($momM) * ($momM) * ($momM)) / (sqrt($momVar) * sqrt($momVar) * sqrt($momVar)), 6) AS skew_qty,
       |  round((CAST(s4 AS DOUBLE) / n - 4 * ($momM) * (CAST(s3 AS DOUBLE) / n) + 6 * ($momM) * ($momM) * (CAST(s2 AS DOUBLE) / n) - 3 * ($momM) * ($momM) * ($momM) * ($momM)) / (($momVar) * ($momVar)) - 3, 6) AS kurt_qty,
       |  round((CAST(sp AS DOUBLE) / n - ($momM) * (CAST(t1 AS DOUBLE) / n)) / (sqrt($momVar) * sqrt(CAST(t2 AS DOUBLE) / n - (CAST(t1 AS DOUBLE) / n) * (CAST(t1 AS DOUBLE) / n))), 6) AS corr_qty_price""".stripMargin

  /** Skyline (Pareto frontier) of orders — the multi-criteria "best
    * offers" operator: keep every order not dominated by another
    * (dominator has total price ≥ AND order date ≤, strict in at least
    * one). Classic 2-D skyline = sort by price desc, keep rows whose
    * date beats the running minimum.
    *
    * Distributed shape: a naive NOT EXISTS self-join is O(n²) and a
    * global sort-scan is one task. Instead (1) `groupBy(price)` with
    * map-side combine collapses the fact to (price, earliest date) —
    * the only full shuffle, sized |distinct prices|; (2) the
    * strictly-higher-price running min is a TWO-LEVEL cumulative min:
    * a per-bucket window (buckets = price ranges, parallel) plus a
    * bucket-level offset relation that is tiny (one row per bucket —
    * its global window is single-partition by construction but over
    * ~dozens of rows); (3) surviving (price, date) pairs — the skyline
    * is small by nature — broadcast back to filter the fact. No step
    * moves more than the distinct-price projection through one task. */
  def qSkyline(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice").as("p"), col("o_orderdate").as("dte"))
    val g = o.groupBy("p").agg(min("dte").as("dmin"))
      .withColumn("bucket", floor(col("p") / 50000).cast("int"))
    val wLocal = Window.partitionBy("bucket").orderBy(col("p").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wBuckets = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = g.groupBy("bucket").agg(min("dmin").as("bmin"))
      .withColumn("omin", min("bmin").over(wBuckets))
      .select("bucket", "omin")
    val front = g.withColumn("lmin", min("dmin").over(wLocal))
      .join(broadcast(offs), Seq("bucket"))
      .withColumn("min_higher", least(col("lmin"), col("omin")))
      .filter(col("min_higher").isNull || col("dmin") < col("min_higher"))
      .select(col("p").as("fp"), col("dmin"))
    o.join(broadcast(front), o("p") === col("fp") && o("dte") === col("dmin"))
      .select(col("o_orderkey"), col("p").as("o_totalprice"), col("dte").as("o_orderdate"))
  }

  /** Data-quality constraint suite (the Deequ/great-expectations audit
    * every ingest gate runs before promoting a batch): completeness,
    * uniqueness, referential integrity, domain and range checks over
    * the warehouse tables, one row per constraint with the observed
    * numerator/denominator and a pass verdict.
    *
    * Scale shape: each table contributes ONE conditional-aggregation
    * pass (count + sum(when…) fold to a single row with map-side
    * combine — no per-constraint rescans); the referential check is a
    * broadcast anti-join count against the 1.5k-row customer dim. The
    * constraint rows union to a dozen — driver-sized audit output from
    * full-scan-sized input, the right 100 TB shape. */
  def qDqAudit(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    val c = Tables.customer(s, d)
    val docs = Tables.documents(s, d)
    def row(name: String, num: Column, den: Column, pass: Column) =
      struct(lit(name).as("constraint"), num.cast("long").as("num"),
        den.cast("long").as("den"), pass.as("pass"))
    val ordersAudit = o.agg(array(
        row("orders.o_custkey_complete",
          count(col("o_custkey")), count(lit(1)),
          count(col("o_custkey")) === count(lit(1))),
        row("orders.o_orderkey_unique",
          countDistinct(col("o_orderkey")), count(lit(1)),
          countDistinct(col("o_orderkey")) === count(lit(1))),
        row("orders.o_orderstatus_domain",
          sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)),
          count(lit(1)),
          sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)) === 0),
        row("orders.o_totalprice_positive",
          sum(when(col("o_totalprice") <= 0, 1).otherwise(0)), count(lit(1)),
          sum(when(col("o_totalprice") <= 0, 1).otherwise(0)) === 0)).as("rows"))
    val liAudit = li.agg(array(
        row("lineitem.l_quantity_range",
          sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1).otherwise(0)),
          count(lit(1)),
          sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1).otherwise(0)) === 0),
        row("lineitem.l_discount_range",
          sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1).otherwise(0)),
          count(lit(1)),
          sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1).otherwise(0)) === 0)).as("rows"))
    val custAudit = c.agg(array(
        row("customer.c_custkey_unique",
          countDistinct(col("c_custkey")), count(lit(1)),
          countDistinct(col("c_custkey")) === count(lit(1)))).as("rows"))
    val docAudit = docs.agg(array(
        row("documents.text_nonempty",
          sum(when(length(col("text")) === 0, 1).otherwise(0)), count(lit(1)),
          sum(when(length(col("text")) === 0, 1).otherwise(0)) === 0)).as("rows"))
    val orphans = o.join(broadcast(c),
        o("o_custkey") === c("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_orph"))
      .crossJoin(o.agg(count(lit(1)).as("n_all")))
      .select(array(row("orders.o_custkey_referential",
        col("n_orph"), col("n_all"), col("n_orph") === 0)).as("rows"))
    Seq(ordersAudit, liAudit, custAudit, docAudit, orphans)
      .reduce(_ unionAll _)
      .select(explode(col("rows")).as("r"))
      .select(col("r.constraint"), col("r.num"), col("r.den"), col("r.pass"))
  }

  /** Market-basket association rules (the co-occurrence mining step
    * behind "users who bought X also bought Y" and feature
    * co-occurrence audits): support / confidence / lift for brand
    * pairs that ship in the same order, top-20 by pair count.
    *
    * Scale shape: ONE corpus shuffle total — groupBy(order) builds each
    * basket's sorted distinct brand array, and everything else (pair
    * generation, singleton counts, basket total) derives from that
    * cached basket-array relation. Pairs come from an in-basket array
    * expression (codegen'd, fan-out bounded by basket size squared,
    * ≤ ~7 brands/order — never catalog², and no self-join re-shuffle);
    * singleton counts (≤ brand cardinality) broadcast onto the pair
    * aggregate, and the result is TakeOrdered — no global sort. The
    * part dim is broadcast into the fact scan. */
  def qAssocRules(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d).select(col("p_partkey"), col("p_brand"))
    val baskets = graft.CacheTracker.track(
      Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_orderkey").as("basket"))
        .agg(sort_array(array_distinct(collect_list(col("p_brand")))).as("its"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    baskets.count() // materialize before the 3-way fan-out (tot/items/pairs)
    // so the broadcast-side jobs hit the cache, not the basket pipeline
    val tot = baskets.agg(count(lit(1)).as("n_baskets"))
    val items = baskets.select(explode(col("its")).as("item"))
      .groupBy("item").agg(count(lit(1)).as("n_item"))
    val pairs = baskets.select(explode(expr(
        """CASE WHEN size(its) < 2 THEN CAST(array() AS ARRAY<STRUCT<brand_a: STRING, brand_b: STRING>>)
          |ELSE flatten(transform(sequence(1, size(its) - 1), i ->
          |  transform(sequence(i + 1, size(its)), j ->
          |    struct(element_at(its, i) AS brand_a, element_at(its, j) AS brand_b)))) END""".stripMargin)).as("t"))
      .groupBy(col("t.brand_a").as("brand_a"), col("t.brand_b").as("brand_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(items.toDF("brand_a", "n_a")), Seq("brand_a"))
      .join(broadcast(items.toDF("brand_b", "n_b")), Seq("brand_b"))
      .crossJoin(broadcast(tot))
      .select(col("brand_a"), col("brand_b"), col("n_ab"), col("n_a"), col("n_b"),
        round(col("n_ab").cast("double") / col("n_baskets"), 6).as("support"),
        round(col("n_ab").cast("double") / col("n_a"), 6).as("confidence"),
        round(col("n_ab").cast("double") * col("n_baskets") /
          (col("n_a").cast("double") * col("n_b")), 6).as("lift"))
      .orderBy(col("n_ab").desc, col("brand_a"), col("brand_b"))
      .limit(20)
  }

  /** Snapshot reconciliation diff (the CDC / data-versioning audit run
    * between two loads of a dimension): classify every key as
    * added / removed / changed / unchanged and report counts per
    * (status, segment). The "next" snapshot is derived
    * deterministically from the current one — updates on key%10=3,
    * deletes on key%13=5, inserts on key%100=7 — so the oracle can
    * rebuild both sides.
    *
    * Scale shape: ONE full-outer shuffle on the key; the
    * classification is map-side column compares (exact DECIMAL
    * equality, no row hashing needed); output is a dozen audit rows.
    * At 100 TB both snapshots would be bucketed on the key and the
    * join becomes zero-exchange. */
  def qSnapshotDiff(s: SparkSession, d: String): DataFrame = {
    val v1 = Tables.customer(s, d).select(col("c_custkey").as("k"),
      col("c_mktsegment").as("seg"),
      col("c_acctbal").cast(DecimalType(18, 2)).as("bal"))
    val upd = col("k") % 10 === 3
    val v2 = v1.filter(!(col("k") % 13 === 5))
      .select(col("k"),
        when(upd, concat(col("seg"), lit("_V2"))).otherwise(col("seg")).as("seg"),
        when(upd, col("bal") + lit(BigDecimal(100)).cast(DecimalType(18, 2)))
          .otherwise(col("bal")).as("bal"))
      // negative key space — collision-free with real keys at any SF
      .unionAll(v1.filter(col("k") % 100 === 7)
        .select((-col("k")).as("k"),
          lit("ONBOARD").as("seg"),
          lit(BigDecimal(0)).cast(DecimalType(18, 2)).as("bal")))
    v1.select(col("k"), col("seg").as("seg1"), col("bal").as("bal1"))
      .join(v2.select(col("k"), col("seg").as("seg2"), col("bal").as("bal2")),
        Seq("k"), "full_outer")
      .withColumn("status",
        when(col("seg1").isNull, "added")
          .when(col("seg2").isNull, "removed")
          .when(col("seg1") =!= col("seg2") || col("bal1") =!= col("bal2"), "changed")
          .otherwise("unchanged"))
      .withColumn("segment", coalesce(col("seg2"), col("seg1")))
      .groupBy("status", "segment")
      .agg(count(lit(1)).as("n_rows"))
  }

  /** Leave-one-out target encoding (the category→numeric feature-prep
    * step for tabular ML; LOO so a row never sees its own target —
    * the standard leakage guard): each sampled order's priority is
    * encoded as the mean total price of all OTHER orders in that
    * priority, computed in exact integer cents.
    *
    * Scale shape: one map-side-combined groupBy over 5 keys, the tiny
    * per-category table broadcast back onto the fact, and the sample
    * filter pushes below the join on the probe side — encoding cost
    * is one scan + one broadcast regardless of corpus size. */
  def qTargetEncode(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority"),
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
    val g = o.groupBy("o_orderpriority")
      .agg(sum("cents").as("sum_cents"), count(lit(1)).as("n_g"))
    o.join(broadcast(g), Seq("o_orderpriority"))
      .filter(col("o_orderkey") % 997 === 0)
      .select(col("o_orderkey"), col("o_orderpriority"), col("n_g"),
        round((col("sum_cents") - col("cents")).cast("double") /
          (col("n_g") - 1) / 100.0, 4).as("loo_enc"))
  }

  /** Equi-depth histogram (the optimizer statistic / data-profiling
    * primitive: 16 buckets of equal row count over order totals, with
    * exact integer-cent boundaries).
    *
    * Scale shape: the global rank that equi-depth needs uses the
    * range-partition + zipWithIndex pattern (q_quantile_norm /
    * q_vocab_encode) — range-partition on (cents, key), sort within
    * partitions, per-partition offsets from partition sizes — so there
    * is NO single-partition Window anywhere; the bucket aggregate is
    * an ordinary map-side-combined groupBy over 16 keys. */
  def qEquidepthHist(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, d).select(
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"),
      col("o_orderkey"))
    val n = o.count() // partition-size pass; zipWithIndex needs it anyway
    o.repartitionByRange(s.sessionState.conf.numShufflePartitions,
        col("cents").asc, col("o_orderkey").asc)
      .sortWithinPartitions(col("cents").asc, col("o_orderkey").asc)
      .select(col("cents")).as[Long].rdd
      .zipWithIndex()
      .toDF("cents", "g0")
      .withColumn("bucket", expr(s"CAST(g0 * 16 div CAST($n AS BIGINT) AS INT)"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        min("cents").as("lo_cents"), max("cents").as("hi_cents"))
  }

  /** Delete-one-group jackknife standard error of the mean order price
    * (the resampling-free uncertainty estimate a metrics pipeline can
    * afford at warehouse scale: g=32 deterministic hash groups instead
    * of B bootstrap resamples). Per-group (n, Σ) folds are exact
    * integers; the only floats are the 32 leave-one-out means, and
    * every cross-group float SUM is a left fold over the bucket-sorted
    * list (`aggregate` in Spark ≡ `list_reduce` over a prepended zero
    * in DuckDB) — addition order is pinned, so the doubles are
    * bit-identical in both engines.
    *
    * Scale shape: one map-side-combined groupBy over 32 keys; all
    * jackknife arithmetic runs on 32 rows. */
  def qJackknife(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(
      expr("o_orderkey % 32").as("bucket"),
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("c"))
    val g = o.groupBy("bucket").agg(count(lit(1)).as("n_b"), sum("c").as("s_b"))
    val tot = g.agg(sum("n_b").as("n"), sum("s_b").as("s"))
    g.crossJoin(broadcast(tot))
      .withColumn("loo_mean", expr("CAST(s - s_b AS DOUBLE) / (n - n_b) / 100.0"))
      .agg(count(lit(1)).as("n_groups"), max("n").as("n"),
        max(expr("CAST(s AS DOUBLE) / n / 100.0")).as("mean_price"),
        sort_array(collect_list(struct(col("bucket"), col("loo_mean")))).as("xs"))
      .withColumn("mean_dot", expr(
        "aggregate(xs, CAST(0.0 AS DOUBLE), (a, e) -> a + e.loo_mean) / nullif(n_groups, 0)"))
      .withColumn("jk_var", expr(
        """aggregate(xs, CAST(0.0 AS DOUBLE),
          | (a, e) -> a + (e.loo_mean - mean_dot) * (e.loo_mean - mean_dot))
          | * (n_groups - 1) / nullif(n_groups, 0)""".stripMargin.replace("\n", "")))
      .select(col("n"), col("n_groups"), round(col("mean_price"), 4).as("mean_price"),
        round(col("mean_dot"), 4).as("jk_mean"),
        round(expr("sqrt(jk_var)"), 6).as("jk_se"))
  }

  /** Population stability index (the drift metric ML monitoring runs
    * between a reference and a current window): order-price
    * distributions before vs. from 1997, 5M-cent buckets capped at 10,
    * Laplace +1 smoothing over the OBSERVED bucket set, one PSI per
    * priority. Per-bucket terms are identical float expressions in
    * both engines; the cross-bucket sum is the same pinned-order left
    * fold as q_jackknife, so no float-accumulation divergence.
    *
    * Scale shape: one conditional-aggregation shuffle to
    * (priority, bucket) cells with map-side combine; the fold runs
    * over ≤10 cells per priority. */
  def qPsiDrift(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_orderpriority"),
      expr("CAST(year(o_orderdate) >= 1997 AS INT)").as("cur"),
      expr("least(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) div 5000000, 9)").as("bucket"))
    val cells = o.groupBy("o_orderpriority", "bucket")
      .agg(sum(expr("1 - cur")).as("n_ref"), sum("cur").as("n_cur"))
    val wP = Window.partitionBy("o_orderpriority")
    cells
      .withColumn("t_ref", sum("n_ref").over(wP))
      .withColumn("t_cur", sum("n_cur").over(wP))
      .withColumn("k", count(lit(1)).over(wP))
      .withColumn("term", expr(
        """(CAST(n_ref + 1 AS DOUBLE) / (t_ref + k) - CAST(n_cur + 1 AS DOUBLE) / (t_cur + k))
          | * ln((CAST(n_ref + 1 AS DOUBLE) / (t_ref + k)) / (CAST(n_cur + 1 AS DOUBLE) / (t_cur + k)))"""
          .stripMargin.replace("\n", "")))
      .groupBy("o_orderpriority")
      .agg(max("t_ref").as("n_ref_total"), max("t_cur").as("n_cur_total"),
        sort_array(collect_list(struct(col("bucket"), col("term")))).as("xs"))
      .withColumn("psi", expr(
        "aggregate(xs, CAST(0.0 AS DOUBLE), (a, e) -> a + e.term)"))
      .select(col("o_orderpriority"), col("n_ref_total"), col("n_cur_total"),
        round(col("psi"), 6).as("psi"))
  }

  /** RFM customer segmentation (the recency/frequency/monetary scoring
    * every retention team runs): each customer gets 1–5 quintile scores
    * per dimension, then a named segment from the score triple, output
    * as (scores, segment) cells with counts and average spend. Quintile
    * boundaries come from exact global ranks via the range-partition +
    * zipWithIndex pattern (no single-partition Window over the dim);
    * the four boundary VALUES per dimension are driver-sized by
    * definition (they ARE the model — same train→broadcast pattern as
    * the ANN codebooks) and scores are value comparisons against them,
    * so ties score identically everywhere.
    *
    * Scale shape: one groupBy(custkey) over the fact table; three
    * range-partitioned sorts over the CUSTOMER-sized aggregate;
    * boundary broadcast; map-side scoring; final aggregate over ≤125
    * cells. */
  def qRfmSegments(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, d).select(col("o_custkey"), col("o_orderdate"),
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
    val cust = graft.CacheTracker.track(
      o.groupBy("o_custkey").agg(max("o_orderdate").as("last_d"),
          count(lit(1)).as("f"), sum("cents").as("m"))
        .crossJoin(broadcast(o.agg(max(col("o_orderdate")).as("max_d"))))
        .select(col("o_custkey"),
          expr("CAST(-datediff(max_d, last_d) AS BIGINT)").as("r"),
          col("f"), col("m"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val n = cust.count() // materializes the persist; count feeds the ranks
    def bounds(metric: String): Seq[Long] = {
      val targets = (1 to 4).map(k => k * n / 5 - 1).toSet
      cust.repartitionByRange(s.sessionState.conf.numShufflePartitions,
          col(metric).asc, col("o_custkey").asc)
        .sortWithinPartitions(col(metric).asc, col("o_custkey").asc)
        .select(col(metric)).as[Long].rdd
        .zipWithIndex()
        .filter { case (_, i) => targets.contains(i) }
        .map(_._1).collect().sorted.toSeq
    }
    def score(metric: String, bs: Seq[Long]) =
      bs.foldLeft(lit(1)) { (acc, b) =>
        acc + when(col(metric) > lit(b), 1).otherwise(0) }
    // r18 (guide §2.6): the three boundary extractions are independent
    // range-sort + zipWithIndex jobs over the same persisted relation —
    // overlap them from three driver threads (bounds unchanged)
    val Seq(rb, fb, mb) = graft.awaitAll(Seq(
      () => bounds("r"), () => bounds("f"), () => bounds("m")))
    val scored = cust
      .withColumn("r_score", score("r", rb))
      .withColumn("f_score", score("f", fb))
      .withColumn("m_score", score("m", mb))
      .withColumn("segment", expr(
        """CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
          |  WHEN m_score = 5 THEN 'big_spender'
          |  WHEN f_score >= 4 THEN 'loyal'
          |  WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
          |  WHEN r_score <= 2 THEN 'hibernating'
          |  ELSE 'regular' END""".stripMargin))
    scored.groupBy("r_score", "f_score", "m_score", "segment")
      .agg(count(lit(1)).as("n_customers"),
        round(sum("m").cast("double") / count(lit(1)) / 100.0, 4).as("avg_monetary"))
  }

  /** Decile lift table (the model-evaluation gain chart): customers
    * ranked by lifetime spend, split into spend deciles, and each
    * decile's urgent-order response rate compared against the
    * population rate — "does the top spend decile respond k× the
    * base rate", the standard targeting-model readout.
    *
    * Decile assignment reuses the [[qRfmSegments]] scale idiom: 9
    * boundary values extracted by range-partitioned zipWithIndex (no
    * global sort window over the customer relation), then a map-side
    * `> boundary` fold. The cumulative-lift window runs over the
    * 10-row decile aggregate — constant-sized at any corpus scale.
    *
    * Exact integer counts and cents; two rounded divisions at output. */
  def qDecileLift(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cust = graft.CacheTracker.track(
      Tables.orders(s, d)
        .select(col("o_custkey"),
          expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"),
          when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L).as("urgent"))
        .groupBy("o_custkey")
        .agg(sum("cents").as("m"), max("urgent").as("resp"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val n = cust.count()
    val targets = (1 to 9).map(k => k * n / 10 - 1).toSet
    val bs = cust.repartitionByRange(s.sessionState.conf.numShufflePartitions,
        col("m").asc, col("o_custkey").asc)
      .sortWithinPartitions(col("m").asc, col("o_custkey").asc)
      .select(col("m")).as[Long].rdd
      .zipWithIndex()
      .filter { case (_, i) => targets.contains(i) }
      .map(_._1).collect().sorted.toSeq
    val score = bs.foldLeft(lit(1)) { (acc, b) =>
      acc + when(col("m") > lit(b), 1).otherwise(0) }
    val g = cust.withColumn("decile", (lit(11) - score).cast("int"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"), sum("resp").as("n_responders"))
    val w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.withColumn("cc", sum("n_customers").over(w))
      .withColumn("cr", sum("n_responders").over(w))
      .crossJoin(broadcast(g.agg(sum("n_customers").as("tc"), sum("n_responders").as("tr"))))
      .select(col("decile"), col("n_customers"), col("n_responders"),
        round(col("n_responders").cast("double") / col("n_customers"), 6).as("resp_rate"),
        round((col("cr").cast("double") / col("cc"))
          / (col("tr").cast("double") / col("tc")), 6).as("cum_lift"))
  }

  /** Poisson bootstrap confidence intervals (Chamandy et al., "Estimating
    * Uncertainty for Massive Data Streams" — the one-pass bootstrap
    * web-scale systems use): instead of resampling n rows with
    * replacement (impossible distributed — it needs global coordination),
    * each row gets an independent Poisson(1) weight per replica, which
    * converges to multinomial resampling as n grows. 32 replicas of the
    * mean order value per priority class, in ONE pass: the per-(row,
    * replica) weight is an inverse-CDF lookup on the deterministic md5
    * coin (fixed 16-bit thresholds, identical literals in both engines
    * — never rand()), so the whole bootstrap is a map-side fan-out of
    * 32× followed by one keyed aggregate.
    *
    * Determinism: replica sums are exact integers; each replica mean
    * divides once; the across-replica mean/variance fold in ascending
    * replica order (the [[qJackknife]] contract). CI = point ± 1.96·SE.
    *
    * Scale shape: 32× map-side row fan-out (a constant, and the
    * standard tradeoff of the method) into a (group, replica)-keyed
    * aggregate — map-side combined, no global state; the per-group
    * replica vector is 32 doubles regardless of corpus size. */
  def qPoissonBootstrap(s: SparkSession, d: String): DataFrame = {
    // P(Poisson(1) <= k) * 65536 for k = 0..7 (capped): weight = number
    // of thresholds at or below the uniform 16-bit bucket. The count is a
    // SUM OF COMPARISONS, not a filter() HOF — the lambda form allocates
    // the 8-element array and interprets the predicate per row, and
    // benched 29 s vs 3.8 s for the arithmetic form at sf0.1. Each md5
    // digest is 32 hex chars = EIGHT independent 16-bit lanes, so one
    // digest serves replicas 8b..8b+7 (the q_cms_heavy_hitters trick):
    // 4 md5 calls per row instead of 32.
    val thresholds = Seq(24109, 48219, 60274, 64292, 65296, 65497, 65530, 65535)
    val rows = Tables.orders(s, d).select(col("o_orderpriority").as("grp"),
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"),
      col("o_orderkey"))
    val base = rows.groupBy("grp")
      .agg(count(lit(1)).as("n_orders"), sum("cents").cast("long").as("sc"))
    // TWO-LEVEL fan-out so each digest is computed once per (row, j)
    // and only its 32-char string rides into the 8-lane explode —
    // 4 md5 calls per source row total, never 1 per replica (8× less
    // hashing than a single 32-way explode computing md5(b div 8)
    // per output row; bucket values identical: b = j*8 + lane)
    val reps = rows
      .withColumn("j", explode(expr("sequence(0, 3)")))
      .withColumn("digest", expr(
        "md5(concat(CAST(o_orderkey AS STRING), '_', CAST(j AS STRING)))"))
      .withColumn("lane", explode(expr("sequence(0, 7)")))
      .withColumn("b", expr("j * 8 + lane"))
      // r18 (guide §4): the bucket fed ONLY the threshold comparisons,
      // and for fixed-width lowercase hex a lexicographic string compare
      // IS the numeric compare — so the per-lane conv() hex parse (one
      // string→decimal-string→long conversion per 32 lanes per order)
      // drops out and each threshold compares the 4-char lane substring
      // against its hex literal directly. Identical weights.
      .withColumn("hx", expr("substring(digest, lane * 4 + 1, 4)"))
      .withColumn("w", expr(thresholds.map(t => f"CAST(hx >= '$t%04x' AS INT)").mkString(" + ")))
      .groupBy("grp", "b")
      .agg(sum(expr("CAST(w AS BIGINT) * cents")).cast("long").as("swc"),
        sum("w").cast("long").as("sw"))
      .select(col("grp"), col("b"), (col("swc").cast("double") / col("sw")).as("mb"))
    val boots = reps.groupBy("grp")
      .agg(sort_array(collect_list(struct(col("b"), col("mb")))).as("ms"))
      .withColumn("mbar", expr("aggregate(ms, CAST(0 AS DOUBLE), (a, x) -> a + x.mb) / 32"))
      .withColumn("se_c", expr(
        "sqrt(aggregate(ms, CAST(0 AS DOUBLE), (a, x) -> a + (x.mb - mbar) * (x.mb - mbar)) / 31)"))
    base.join(boots, "grp")
      .select(col("grp").as("o_orderpriority"), col("n_orders"),
        round(col("sc").cast("double") / col("n_orders") / 100.0, 4).as("point_mean"),
        round(col("se_c") / 100.0, 6).as("boot_se"),
        round((col("sc").cast("double") / col("n_orders") - lit(1.96) * col("se_c")) / 100.0, 4)
          .as("ci_lo"),
        round((col("sc").cast("double") / col("n_orders") + lit(1.96) * col("se_c")) / 100.0, 4)
          .as("ci_hi"))
  }

  /** Winsorized mean (robust statistics: clamp to [p10, p90] before
    * averaging, so a fat tail can't drag the estimate) of lineitem
    * quantity per return flag, next to the raw mean. Quantity is a
    * bounded integer domain, so the percentiles are EXACT from the
    * per-value counts: p_k = smallest v with cumcount ≥ ⌈k·n/100⌉ —
    * integer rank arithmetic, no interpolation, no float percentile.
    *
    * Scale shape: one map-side-combined groupBy to (flag, value) cells
    * — ≤ 50 values per flag regardless of corpus size; the cumulative
    * window, bound extraction, and clamped re-aggregation all run on
    * those cells. */
  def qWinsorize(s: SparkSession, d: String): DataFrame = {
    val c = Tables.lineitem(s, d)
      .select(col("l_returnflag").as("flag"), expr("CAST(l_quantity AS BIGINT)").as("q"))
      .groupBy("flag", "q").agg(count(lit(1)).as("cnt"))
    val wc = Window.partitionBy("flag").orderBy("q")
    val wf = Window.partitionBy("flag")
    val b = c
      .withColumn("cq", sum("cnt").over(wc))
      .withColumn("n", sum("cnt").over(wf))
      .groupBy("flag")
      .agg(max("n").as("n"),
        min(when(col("cq") >= expr("(10 * n + 99) div 100"), col("q"))).as("p10"),
        min(when(col("cq") >= expr("(90 * n + 99) div 100"), col("q"))).as("p90"))
    c.join(broadcast(b), Seq("flag"))
      .groupBy(col("flag").as("l_returnflag"))
      .agg(max("n").as("n"), max("p10").as("p10"), max("p90").as("p90"),
        sum(expr("(CASE WHEN q < p10 THEN p10 WHEN q > p90 THEN p90 ELSE q END) * cnt")).as("ws"),
        sum(expr("q * cnt")).as("rs"))
      .select(col("l_returnflag"), col("p10"), col("p90"), col("n"),
        round(col("ws").cast("double") / col("n"), 4).as("wins_mean"),
        round(col("rs").cast("double") / col("n"), 4).as("raw_mean"))
  }

  /** Benford's-law first-digit audit of order totals — the
    * fabricated-data / broken-generator screen from forensic
    * accounting, applied as a data-quality check: naturally-occurring
    * multiplicative amounts have first-digit frequencies ≈ log10(1+1/d),
    * while synthetic or truncated columns deviate sharply. (TPC-H
    * totals are sums of uniform prices, so this corpus legitimately
    * deviates — the audit REPORTS the deviation; the spec asserts the
    * digit histogram and flags, not conformance.) Observed shares come
    * from exact BIGINT counts; the expected share ln(1+1/d)/ln(10) and
    * the comparison are per-digit doubles computed identically in both
    * engines.
    *
    * Scale shape: pure map-side digit extraction + a 9-key
    * map-side-combined aggregate — one scan, no join, no corpus-sized
    * shuffle at any scale. */
  def qBenford(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(expr("CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS STRING), 1, 1) AS BIGINT)")
        .as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_orders"))
      .withColumn("n_total", sum("n_orders").over(Window.partitionBy()))
      .select(col("digit"), col("n_orders"),
        expr("round(CAST(n_orders AS DOUBLE) / n_total, 6)").as("obs_frac"),
        expr("round(ln(1.0 + 1.0 / digit) / ln(10.0), 6)").as("exp_benford"),
        expr("abs(round(CAST(n_orders AS DOUBLE) / n_total, 6) - round(ln(1.0 + 1.0 / digit) / ln(10.0), 6)) < 0.02")
          .as("within_2pct"))

  /** Threshold-free classifier evaluation — ROC AUC via the Mann–Whitney
    * rank identity with full tie correction ("does the event's value
    * predict a purchase?"). AUC = (R⁺ − p(p+1)/2)/(p·q) where R⁺ is the
    * positives' rank sum with AVERAGE ranks on ties; doubling every rank
    * keeps the whole computation in exact BIGINT arithmetic — a tie
    * group at cumulative offset c with n members contributes
    * p_g·(2c + n + 1) to 2R⁺ — so the one double division at the end is
    * the only float op (the q_mutual_info fixed-point discipline).
    *
    * Scale shape: scores discretize to integer cents (floor — identical
    * IEEE op both engines), so the ranking runs over the DISTINCT-SCORE
    * relation (≤ |score domain| rows) — but that relation GROWS with
    * the corpus' score range, so the cumulative count uses the repo's
    * TWO-LEVEL pattern (the q_ks_test ECDF shape), never a
    * single-partition window: a per-1024-score-bucket window computes
    * the local prefix in parallel across buckets, and the per-bucket
    * totals — a ≤ ⌈domain/1024⌉-row relation — collect to the driver
    * for an exact exclusive prefix fold that broadcast-joins back as
    * bucket offsets (the bounded train→broadcast idiom). One
    * map-side-combined aggregate per score + a bucket-parallel window
    * + one final fold; PlanShapeSpec asserts no SinglePartition window
    * survives in the plan. AUC ≈ 0.5 on this corpus (value is
    * independent of type by construction) — the audit's point is
    * proving "no signal" exactly, the same way q_benford reports
    * legitimate deviation. */
  def qRocAuc(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // NULL scores are unrankable (the standard rank-sum convention drops
    // them) — and without the guard a null sc would flow a null bucket
    // into the driver-side prefix fold's getLong. Identity on this
    // corpus (value is non-null by generation), asserted by the oracle's
    // matching WHERE.
    val e = Tables.events(s, d).where(col("value").isNotNull).select(
      expr("CAST(floor(value * 100) AS BIGINT)").as("sc"),
      expr("CAST(event_type = 'purchase' AS INT)").as("y"))
    // distinct-score grain; persisted because the bucket-total pass and
    // the main pass both read it (released by the harness)
    val g = graft.CacheTracker.track(
      e.groupBy("sc").agg(count(lit(1)).as("n_s"), sum("y").as("p_s"))
        .withColumn("bucket", expr("CAST(floor(sc / 1024.0) AS BIGINT)"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // level 2: per-bucket totals → exact exclusive prefix on the driver
    val bucketTotals = g.groupBy("bucket").agg(sum("n_s").as("bn"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offs = bucketTotals.toSeq.map { case (b, n) => val o = acc; acc += n; (b, o) }
      .toDF("bucket", "off")
    // level 1: exclusive prefix WITHIN each bucket, parallel across buckets
    val wLocal = Window.partitionBy("bucket").orderBy("sc")
      .rowsBetween(Window.unboundedPreceding, -1)
    g.withColumn("la", coalesce(sum("n_s").over(wLocal), lit(0L)))
      .join(broadcast(offs), Seq("bucket"))
      .withColumn("cum", col("off") + col("la"))
      .agg(sum(expr("p_s * (2 * cum + n_s + 1)")).as("r2"),
        sum("p_s").as("p"), sum(expr("n_s - p_s")).as("q"))
      .select(col("p").cast("long").as("n_pos"), col("q").cast("long").as("n_neg"),
        round(expr("CAST(r2 - p * (p + 1) AS DOUBLE) / nullif(2.0 * p * q, 0.0)"), 6).as("auc"),
        round(expr("CAST(r2 - p * (p + 1) AS DOUBLE) / nullif(CAST(p * q AS DOUBLE), 0.0) - 1.0"), 6)
          .as("gini_rank"))
  }

  /** Empirical-Bayes rate shrinkage (beta-binomial, method-of-moments) —
    * the small-sample stabilizer behind every per-segment rate a
    * dashboard ships: raw per-brand return rates x/n are noisy for small
    * n, so each is shrunk toward the cross-brand prior mean with
    * strength α+β learned FROM the rates themselves
    * (α+β = m(1−m)/v − 1). Exactly the q_target_encode problem, solved
    * with a learned prior instead of an ad-hoc smoothing constant.
    *
    * Determinism: per-brand (x, n) are exact integers off one counted
    * aggregate; the cross-brand moment sums run as pinned-order left
    * folds over the brand-sorted rate list (the q_jackknife pattern), so
    * the doubles m, v — and every per-brand shrunken rate derived from
    * them — are bit-identical in both engines.
    *
    * Scale shape: one broadcast dim join (part) + one map-side-combined
    * aggregate to |brands| rows; all EB arithmetic runs on that bounded
    * relation. */
  def qEbShrinkage(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_partkey"), col("l_returnflag"))
      .join(broadcast(Tables.part(s, d).select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
    val g = li.groupBy("p_brand").agg(count(lit(1)).as("n"),
      sum(expr("CAST(l_returnflag = 'R' AS INT)")).as("x"))
    val prior = g
      .agg(count(lit(1)).as("g_n"),
        sort_array(collect_list(struct(col("p_brand"), expr("CAST(x AS DOUBLE) / n").as("r"))))
          .as("xs"))
      .withColumn("m", expr("aggregate(xs, CAST(0.0 AS DOUBLE), (a, e) -> a + e.r) / nullif(g_n, 0)"))
      .withColumn("v", expr(
        "aggregate(xs, CAST(0.0 AS DOUBLE), (a, e) -> a + (e.r - m) * (e.r - m)) / nullif(g_n - 1, 0)"))
      .select(col("g_n"), col("m"), col("v"),
        expr("m * (1.0 - m) / nullif(v, 0.0) - 1.0").as("ab"))
    g.crossJoin(broadcast(prior))
      .select(col("p_brand"), col("n").cast("long").as("n"), col("x").cast("long").as("x"),
        round(expr("CAST(x AS DOUBLE) / n"), 6).as("raw_rate"),
        round(col("m"), 6).as("prior_mean"),
        round(col("ab"), 4).as("prior_strength"),
        round(expr("(x + m * ab) / (n + ab)"), 6).as("shrunk_rate"))
  }

  val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_roc_auc" -> (qRocAuc _),
    "q_eb_shrinkage" -> (qEbShrinkage _),
    "q_decile_lift" -> (qDecileLift _),
    "q_poisson_bootstrap" -> (qPoissonBootstrap _),
    "q_benford" -> (qBenford _),
    "q_winsorize" -> (qWinsorize _),
    "q_rfm_segments" -> (qRfmSegments _),
    "q_jackknife" -> (qJackknife _),
    "q_psi_drift" -> (qPsiDrift _),
    "q_assoc_rules" -> (qAssocRules _),
    "q_snapshot_diff" -> (qSnapshotDiff _),
    "q_target_encode" -> (qTargetEncode _),
    "q_equidepth_hist" -> (qEquidepthHist _),
    "q_dq_audit" -> (qDqAudit _),
    "q_skyline" -> (qSkyline _),
    "q_incr_agg" -> (qIncrAgg _),
    "q_scd2_merge" -> (qScd2Merge _),
    "q_merge_upsert" -> (qMergeUpsert _),
    "q_stats_moments" -> (qStatsMoments _),
    "q_kll_quantile_merge" -> (qKllQuantileMerge _),
    "q_approx_top_k" -> (qApproxTopK _),
    "q_theta_setops" -> (qThetaSetops _),
    "q_hll_sketch_union" -> (qHllSketchUnion _),
    "q_hll_precision_sweep" -> (qHllPrecisionSweep _),
    "q_column_profile" -> (qColumnProfile _),
    "q_quantile_stats" -> (qQuantileStats _),
    "q_det_sample" -> (qDetSample _),
    "q_asof_join_native" -> (qAsofJoinNative _),
    "q_grouping_sets" -> (qGroupingSets _),
    "q_lateral_topn" -> (qLateralTopn _),
    "q_asof_join" -> (qAsofJoin _),
    "q_udaf_weighted_price" -> (qUdafWeightedPrice _),
    "q_approx_distinct" -> (qApproxDistinct _))

  private val asofOracle =
      """WITH ev AS (
        |  SELECT event_id, user_id,
        |    ts - to_days(CAST(8000 + (event_id * 13) % 6000 AS INTEGER)) AS cutoff
        |  FROM events),
        |j AS (
        |  SELECT event_id, user_id, o_orderkey, o_orderdate,
        |    ROW_NUMBER() OVER (PARTITION BY event_id
        |      ORDER BY o_orderdate DESC NULLS LAST, o_orderkey DESC NULLS LAST) AS rn
        |  FROM ev LEFT JOIN orders
        |    ON user_id = o_custkey AND o_orderdate <= cutoff)
        |SELECT event_id, user_id, o_orderkey AS asof_orderkey, o_orderdate AS asof_orderdate
        |FROM j WHERE rn = 1""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_roc_auc" ->
      """WITH e AS (SELECT CAST(floor(value * 100) AS BIGINT) AS sc,
        |    CAST(event_type = 'purchase' AS INT) AS y FROM events
        |  WHERE value IS NOT NULL),
        |g AS (SELECT sc, COUNT(*) AS n_s, CAST(SUM(y) AS BIGINT) AS p_s FROM e GROUP BY 1),
        |r AS (SELECT *, COALESCE(CAST(SUM(n_s) OVER (ORDER BY sc
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum FROM g),
        |a AS (SELECT CAST(SUM(p_s * (2 * cum + n_s + 1)) AS BIGINT) AS r2,
        |    CAST(SUM(p_s) AS BIGINT) AS p, CAST(SUM(n_s - p_s) AS BIGINT) AS q FROM r)
        |SELECT p AS n_pos, q AS n_neg,
        |  round(CAST(r2 - p * (p + 1) AS DOUBLE) / (2.0 * p * q), 6) AS auc,
        |  round(CAST(r2 - p * (p + 1) AS DOUBLE) / CAST(p * q AS DOUBLE) - 1.0, 6) AS gini_rank
        |FROM a""".stripMargin,
    "q_eb_shrinkage" ->
      """WITH li AS (SELECT p_brand, l_returnflag
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |g AS (SELECT p_brand, COUNT(*) AS n,
        |    CAST(SUM(CAST(l_returnflag = 'R' AS INT)) AS BIGINT) AS x
        |  FROM li GROUP BY 1),
        |pl AS (SELECT COUNT(*) AS g_n,
        |    list_transform(list_sort(list(list_value(p_brand, CAST(CAST(x AS DOUBLE) / n AS STRING)))), pr -> CAST(list_extract(pr, 2) AS DOUBLE)) AS xs FROM g),
        |pm AS (SELECT *, list_reduce(list_prepend(CAST(0.0 AS DOUBLE), xs),
        |    (a2, e) -> a2 + e) / g_n AS m FROM pl),
        |pv AS (SELECT *, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(xs, e -> (e - m) * (e - m))),
        |      (a2, e) -> a2 + e) / (g_n - 1) AS v FROM pm),
        |pr AS (SELECT m, v, m * (1.0 - m) / v - 1.0 AS ab FROM pv)
        |SELECT p_brand, n, x,
        |  round(CAST(x AS DOUBLE) / n, 6) AS raw_rate,
        |  round(m, 6) AS prior_mean,
        |  round(ab, 4) AS prior_strength,
        |  round((x + m * ab) / (n + ab), 6) AS shrunk_rate
        |FROM g CROSS JOIN pr""".stripMargin,
    "q_poisson_bootstrap" ->
      """WITH o AS (SELECT o_orderpriority AS grp,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    o_orderkey
        |  FROM orders),
        |base AS (SELECT grp, COUNT(*) AS n_orders, CAST(SUM(cents) AS BIGINT) AS sc
        |  FROM o GROUP BY 1),
        |reps AS (
        |  SELECT grp, b,
        |    list_sum(list_transform(range(1, 5), hxi -> CAST(instr('0123456789abcdef', substring(substring(md5(CAST(o_orderkey AS STRING) || '_' || CAST(divide(b, 8) AS STRING)), (b % 8) * 4 + 1, 4), CAST(hxi AS INT), 1)) - 1 AS BIGINT) * CAST(pow(16, 4 - hxi) AS BIGINT))) AS bucket,
        |    cents
        |  FROM o, LATERAL unnest(range(0, 32)) AS t(b)),
        |wts AS (
        |  SELECT grp, b,
        |    CAST(bucket >= 24109 AS INT) + CAST(bucket >= 48219 AS INT)
        |      + CAST(bucket >= 60274 AS INT) + CAST(bucket >= 64292 AS INT)
        |      + CAST(bucket >= 65296 AS INT) + CAST(bucket >= 65497 AS INT)
        |      + CAST(bucket >= 65530 AS INT) + CAST(bucket >= 65535 AS INT) AS w,
        |    cents
        |  FROM reps),
        |rm AS (
        |  SELECT grp, b,
        |    CAST(CAST(SUM(w * cents) AS BIGINT) AS DOUBLE) / CAST(SUM(w) AS BIGINT) AS mb
        |  FROM wts GROUP BY 1, 2),
        |bt AS (SELECT grp, list_transform(list_sort(list(list_value(CAST(b AS DOUBLE), mb))), pr -> list_extract(pr, 2)) AS ms FROM rm GROUP BY 1),
        |mb2 AS (SELECT *, list_reduce(list_prepend(CAST(0 AS DOUBLE), ms),
        |    (a, x) -> a + x) / 32 AS mbar FROM bt),
        |se AS (SELECT *, sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(ms, x -> (x - mbar) * (x - mbar))),
        |      (a, x) -> a + x) / 31) AS se_c FROM mb2)
        |SELECT base.grp AS o_orderpriority, n_orders,
        |  round(CAST(sc AS DOUBLE) / n_orders / 100.0, 4) AS point_mean,
        |  round(se_c / 100.0, 6) AS boot_se,
        |  round((CAST(sc AS DOUBLE) / n_orders - 1.96 * se_c) / 100.0, 4) AS ci_lo,
        |  round((CAST(sc AS DOUBLE) / n_orders + 1.96 * se_c) / 100.0, 4) AS ci_hi
        |FROM base JOIN se ON base.grp = se.grp""".stripMargin,
    "q_decile_lift" ->
      """WITH cust AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS m,
        |    CAST(MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS resp
        |  FROM orders GROUP BY 1),
        |t AS (SELECT COUNT(*) AS n FROM cust),
        |mr AS (SELECT m, ROW_NUMBER() OVER (ORDER BY m, o_custkey) AS rn FROM cust),
        |mb AS (SELECT m AS b FROM mr
        |  WHERE rn IN (SELECT divide((k * n), 10) FROM t,
        |    LATERAL unnest(list_value(1, 2, 3, 4, 5, 6, 7, 8, 9)) AS u(k))),
        |sc AS (SELECT c.*,
        |    CAST(11 - (1 + (SELECT COUNT(*) FROM mb WHERE c.m > mb.b)) AS INTEGER) AS decile
        |  FROM cust c),
        |g AS (SELECT decile, COUNT(*) AS n_customers,
        |    CAST(SUM(resp) AS BIGINT) AS n_responders
        |  FROM sc GROUP BY 1),
        |tt AS (SELECT CAST(SUM(n_customers) AS BIGINT) AS tc,
        |    CAST(SUM(n_responders) AS BIGINT) AS tr FROM g),
        |cum AS (SELECT g.*,
        |    CAST(SUM(n_customers) OVER (ORDER BY decile) AS BIGINT) AS cc,
        |    CAST(SUM(n_responders) OVER (ORDER BY decile) AS BIGINT) AS cr
        |  FROM g)
        |SELECT decile, n_customers, n_responders,
        |  round(CAST(n_responders AS DOUBLE) / n_customers, 6) AS resp_rate,
        |  round((CAST(cr AS DOUBLE) / cc) / (CAST(tr AS DOUBLE) / tc), 6) AS cum_lift
        |FROM cum CROSS JOIN tt""".stripMargin,
    "q_benford" ->
      """WITH dg AS (
        |  SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS STRING), 1, 1) AS BIGINT) AS digit
        |  FROM orders),
        |g AS (SELECT digit, COUNT(*) AS n_orders FROM dg GROUP BY 1),
        |t AS (SELECT digit, n_orders, CAST(SUM(n_orders) OVER () AS BIGINT) AS n_total FROM g)
        |SELECT digit, n_orders,
        |  round(CAST(n_orders AS DOUBLE) / n_total, 6) AS obs_frac,
        |  round(ln(1.0 + 1.0 / digit) / ln(10.0), 6) AS exp_benford,
        |  abs(round(CAST(n_orders AS DOUBLE) / n_total, 6) - round(ln(1.0 + 1.0 / digit) / ln(10.0), 6)) < 0.02 AS within_2pct
        |FROM t""".stripMargin,
    "q_winsorize" ->
      """WITH l AS (SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS q
        |  FROM lineitem),
        |c AS (SELECT flag, q, COUNT(*) AS cnt FROM l GROUP BY 1, 2),
        |cum AS (SELECT *,
        |    SUM(cnt) OVER (PARTITION BY flag ORDER BY q) AS cq,
        |    SUM(cnt) OVER (PARTITION BY flag) AS n
        |  FROM c),
        |b AS (SELECT flag, CAST(MAX(n) AS BIGINT) AS n,
        |    CAST(MIN(CASE WHEN cq >= divide((10 * n + 99), 100) THEN q END) AS BIGINT) AS p10,
        |    CAST(MIN(CASE WHEN cq >= divide((90 * n + 99), 100) THEN q END) AS BIGINT) AS p90
        |  FROM cum GROUP BY 1),
        |w AS (SELECT c.flag,
        |    CAST(MAX(b.n) AS BIGINT) AS n, CAST(MAX(p10) AS BIGINT) AS p10,
        |    CAST(MAX(p90) AS BIGINT) AS p90,
        |    CAST(SUM((CASE WHEN q < p10 THEN p10 WHEN q > p90 THEN p90 ELSE q END) * cnt) AS BIGINT) AS ws,
        |    CAST(SUM(q * cnt) AS BIGINT) AS rs
        |  FROM c JOIN b ON c.flag = b.flag GROUP BY 1)
        |SELECT flag AS l_returnflag, p10, p90, n,
        |  round(CAST(ws AS DOUBLE) / n, 4) AS wins_mean,
        |  round(CAST(rs AS DOUBLE) / n, 4) AS raw_mean
        |FROM w""".stripMargin,
    "q_rfm_segments" ->
      """WITH o AS (SELECT o_custkey, o_orderdate,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |cust AS (SELECT o_custkey,
        |    CAST(-divide(CAST(epoch(CAST((SELECT MAX(o_orderdate) FROM o) AS DATE)) AS BIGINT) - CAST(epoch(CAST(MAX(o_orderdate) AS DATE)) AS BIGINT), 86400) AS BIGINT) AS r,
        |    COUNT(*) AS f, CAST(SUM(cents) AS BIGINT) AS m
        |  FROM o GROUP BY 1),
        |t AS (SELECT COUNT(*) AS n FROM cust),
        |rr AS (SELECT r, ROW_NUMBER() OVER (ORDER BY r, o_custkey) AS rn FROM cust),
        |rb AS (SELECT r AS b FROM rr
        |  WHERE rn IN (SELECT divide((k * n), 5) FROM t, LATERAL unnest(list_value(1, 2, 3, 4)) AS u(k))),
        |fr AS (SELECT f, ROW_NUMBER() OVER (ORDER BY f, o_custkey) AS rn FROM cust),
        |fb AS (SELECT f AS b FROM fr
        |  WHERE rn IN (SELECT divide((k * n), 5) FROM t, LATERAL unnest(list_value(1, 2, 3, 4)) AS u(k))),
        |mr AS (SELECT m, ROW_NUMBER() OVER (ORDER BY m, o_custkey) AS rn FROM cust),
        |mb AS (SELECT m AS b FROM mr
        |  WHERE rn IN (SELECT divide((k * n), 5) FROM t, LATERAL unnest(list_value(1, 2, 3, 4)) AS u(k))),
        |sc AS (SELECT c.*,
        |    CAST(1 + (SELECT COUNT(*) FROM rb WHERE c.r > rb.b) AS INTEGER) AS r_score,
        |    CAST(1 + (SELECT COUNT(*) FROM fb WHERE c.f > fb.b) AS INTEGER) AS f_score,
        |    CAST(1 + (SELECT COUNT(*) FROM mb WHERE c.m > mb.b) AS INTEGER) AS m_score
        |  FROM cust c),
        |seg AS (SELECT *,
        |    CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
        |      WHEN m_score = 5 THEN 'big_spender'
        |      WHEN f_score >= 4 THEN 'loyal'
        |      WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
        |      WHEN r_score <= 2 THEN 'hibernating'
        |      ELSE 'regular' END AS segment
        |  FROM sc)
        |SELECT r_score, f_score, m_score, segment, COUNT(*) AS n_customers,
        |  round(CAST(SUM(m) AS DOUBLE) / COUNT(*) / 100.0, 4) AS avg_monetary
        |FROM seg GROUP BY 1, 2, 3, 4""".stripMargin,
    "q_jackknife" ->
      """WITH o AS (SELECT o_orderkey % 32 AS bucket,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM orders),
        |gg AS (SELECT bucket, COUNT(*) AS n_b, CAST(SUM(c) AS BIGINT) AS s_b
        |  FROM o GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_b) AS BIGINT) AS n, CAST(SUM(s_b) AS BIGINT) AS s FROM gg),
        |l AS (SELECT bucket, CAST(s - s_b AS DOUBLE) / (n - n_b) / 100.0 AS loo_mean,
        |    n, s FROM gg CROSS JOIN t),
        |a AS (SELECT COUNT(*) AS n_groups, MAX(n) AS n,
        |    MAX(CAST(s AS DOUBLE) / n / 100.0) AS mean_price,
        |    list_transform(list_sort(list(list_value(CAST(bucket AS DOUBLE), loo_mean))), pr -> list_extract(pr, 2)) AS xs FROM l),
        |m AS (SELECT *, list_reduce(list_prepend(CAST(0.0 AS DOUBLE), xs),
        |    (a2, e) -> a2 + e) / n_groups AS mean_dot FROM a),
        |v AS (SELECT *, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(xs, e -> (e - mean_dot) * (e - mean_dot))),
        |      (a2, e) -> a2 + e) * (n_groups - 1) / n_groups AS jk_var FROM m)
        |SELECT n, n_groups, round(mean_price, 4) AS mean_price,
        |  round(mean_dot, 4) AS jk_mean, round(sqrt(jk_var), 6) AS jk_se FROM v""".stripMargin,
    "q_psi_drift" ->
      """WITH o AS (SELECT o_orderpriority, CAST(year(o_orderdate) >= 1997 AS INT) AS cur,
        |    least(divide(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT), 5000000), 9) AS bucket
        |  FROM orders),
        |cells AS (SELECT o_orderpriority, bucket, CAST(SUM(1 - cur) AS BIGINT) AS n_ref,
        |    CAST(SUM(cur) AS BIGINT) AS n_cur FROM o GROUP BY 1, 2),
        |w AS (SELECT *, CAST(SUM(n_ref) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS t_ref,
        |    CAST(SUM(n_cur) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS t_cur,
        |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS k FROM cells),
        |tm AS (SELECT *,
        |    (CAST(n_ref + 1 AS DOUBLE) / (t_ref + k) - CAST(n_cur + 1 AS DOUBLE) / (t_cur + k))
        |     * ln((CAST(n_ref + 1 AS DOUBLE) / (t_ref + k)) / (CAST(n_cur + 1 AS DOUBLE) / (t_cur + k))) AS term
        |  FROM w),
        |agg AS (SELECT o_orderpriority, MAX(t_ref) AS n_ref_total, MAX(t_cur) AS n_cur_total,
        |    list_transform(list_sort(list(list_value(CAST(bucket AS DOUBLE), term))), pr -> list_extract(pr, 2)) AS xs FROM tm GROUP BY 1)
        |SELECT o_orderpriority, n_ref_total, n_cur_total,
        |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), xs), (a2, e) -> a2 + e), 6) AS psi
        |FROM agg""".stripMargin,
    "q_assoc_rules" ->
      """WITH b AS (
        |  SELECT DISTINCT l_orderkey AS basket, p_brand AS item
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |tot AS (SELECT COUNT(DISTINCT basket) AS n_baskets FROM b),
        |items AS (SELECT item, COUNT(*) AS n_item FROM b GROUP BY 1),
        |pairs AS (
        |  SELECT a.item AS brand_a, c.item AS brand_b, COUNT(*) AS n_ab
        |  FROM b a JOIN b c ON a.basket = c.basket AND a.item < c.item
        |  GROUP BY 1, 2)
        |SELECT brand_a, brand_b, n_ab, ia.n_item AS n_a, ib.n_item AS n_b,
        |  round(CAST(n_ab AS DOUBLE) / n_baskets, 6) AS support,
        |  round(CAST(n_ab AS DOUBLE) / ia.n_item, 6) AS confidence,
        |  round(CAST(n_ab AS DOUBLE) * n_baskets /
        |    (CAST(ia.n_item AS DOUBLE) * ib.n_item), 6) AS lift
        |FROM pairs JOIN items ia ON brand_a = ia.item
        |JOIN items ib ON brand_b = ib.item
        |CROSS JOIN tot
        |ORDER BY n_ab DESC, brand_a, brand_b LIMIT 20""".stripMargin,
    "q_snapshot_diff" ->
      """WITH v1 AS (SELECT c_custkey AS k, c_mktsegment AS seg,
        |    CAST(c_acctbal AS DECIMAL(18,2)) AS bal FROM customer),
        |v2 AS (
        |  SELECT k,
        |    CASE WHEN k % 10 = 3 THEN seg || '_V2' ELSE seg END AS seg,
        |    CASE WHEN k % 10 = 3 THEN bal + 100 ELSE bal END AS bal
        |  FROM v1 WHERE NOT (k % 13 = 5)
        |  UNION ALL
        |  SELECT -k, 'ONBOARD', CAST(0 AS DECIMAL(18,2))
        |  FROM v1 WHERE k % 100 = 7),
        |j AS (
        |  SELECT coalesce(a.k, b.k) AS k, a.seg AS seg1, a.bal AS bal1,
        |    b.seg AS seg2, b.bal AS bal2
        |  FROM v1 a FULL OUTER JOIN v2 b ON a.k = b.k)
        |SELECT CASE WHEN seg1 IS NULL THEN 'added'
        |    WHEN seg2 IS NULL THEN 'removed'
        |    WHEN seg1 <> seg2 OR bal1 <> bal2 THEN 'changed'
        |    ELSE 'unchanged' END AS status,
        |  coalesce(seg2, seg1) AS segment,
        |  COUNT(*) AS n_rows
        |FROM j GROUP BY 1, 2""".stripMargin,
    "q_target_encode" ->
      """WITH o AS (SELECT o_orderkey, o_orderpriority,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |g AS (SELECT o_orderpriority, CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |    COUNT(*) AS n_g
        |  FROM o GROUP BY 1)
        |SELECT o_orderkey, o.o_orderpriority, n_g,
        |  round(CAST(sum_cents - cents AS DOUBLE) / (n_g - 1) / 100.0, 4) AS loo_enc
        |FROM o JOIN g ON o.o_orderpriority = g.o_orderpriority
        |WHERE o_orderkey % 997 = 0""".stripMargin,
    "q_equidepth_hist" ->
      """WITH o AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    o_orderkey
        |  FROM orders),
        |t AS (SELECT COUNT(*) AS n FROM o),
        |r AS (SELECT cents,
        |    divide((ROW_NUMBER() OVER (ORDER BY cents, o_orderkey) - 1) * 16, (SELECT n FROM t)) AS bucket
        |  FROM o)
        |SELECT CAST(bucket AS INTEGER) AS bucket, COUNT(*) AS n_rows,
        |  CAST(MIN(cents) AS BIGINT) AS lo_cents, CAST(MAX(cents) AS BIGINT) AS hi_cents
        |FROM r GROUP BY 1""".stripMargin,
    "q_dq_audit" ->
      """SELECT 'orders.o_custkey_complete' AS constraint,
        |  CAST(COUNT(o_custkey) AS BIGINT) AS num, CAST(COUNT(*) AS BIGINT) AS den,
        |  COUNT(o_custkey) = COUNT(*) AS pass FROM orders
        |UNION ALL
        |SELECT 'orders.o_orderkey_unique',
        |  CAST(COUNT(DISTINCT o_orderkey) AS BIGINT), CAST(COUNT(*) AS BIGINT),
        |  COUNT(DISTINCT o_orderkey) = COUNT(*) FROM orders
        |UNION ALL
        |SELECT 'orders.o_orderstatus_domain',
        |  CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(COUNT(*) AS BIGINT),
        |  SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) = 0 FROM orders
        |UNION ALL
        |SELECT 'orders.o_totalprice_positive',
        |  CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(COUNT(*) AS BIGINT),
        |  SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) = 0 FROM orders
        |UNION ALL
        |SELECT 'lineitem.l_quantity_range',
        |  CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(COUNT(*) AS BIGINT),
        |  SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) = 0 FROM lineitem
        |UNION ALL
        |SELECT 'lineitem.l_discount_range',
        |  CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(COUNT(*) AS BIGINT),
        |  SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) = 0 FROM lineitem
        |UNION ALL
        |SELECT 'customer.c_custkey_unique',
        |  CAST(COUNT(DISTINCT c_custkey) AS BIGINT), CAST(COUNT(*) AS BIGINT),
        |  COUNT(DISTINCT c_custkey) = COUNT(*) FROM customer
        |UNION ALL
        |SELECT 'documents.text_nonempty',
        |  CAST(SUM(CASE WHEN length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(COUNT(*) AS BIGINT),
        |  SUM(CASE WHEN length(text) = 0 THEN 1 ELSE 0 END) = 0 FROM documents
        |UNION ALL
        |SELECT 'orders.o_custkey_referential',
        |  CAST((SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
        |  CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
        |  (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) = 0""".stripMargin,
    "q_skyline" ->
      """SELECT b.o_orderkey, b.o_totalprice, b.o_orderdate
        |FROM orders b
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders a
        |  WHERE a.o_totalprice >= b.o_totalprice AND a.o_orderdate <= b.o_orderdate
        |    AND (a.o_totalprice > b.o_totalprice OR a.o_orderdate < b.o_orderdate))""".stripMargin,
    "q_incr_agg" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  CAST(SUM(CASE WHEN o_orderdate >= DATE '1997-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS n_new
        |FROM orders GROUP BY 1""".stripMargin,
    "q_scd2_merge" ->
      """WITH dim AS (SELECT c_custkey, c_mktsegment AS segment,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal FROM customer),
        |chg AS (SELECT c_custkey, segment || '_V2' AS segment, acctbal + 100.0 AS acctbal
        |        FROM dim WHERE c_custkey % 10 = 3),
        |ins AS (SELECT -c_custkey AS c_custkey, 'ONBOARD' AS segment,
        |        0.0 AS acctbal FROM dim WHERE c_custkey % 100 = 7),
        |batch AS (SELECT * FROM chg UNION ALL SELECT * FROM ins)
        |SELECT d.c_custkey, d.segment, d.acctbal,
        |  DATE '1995-01-01' AS valid_from, DATE '1998-06-01' AS valid_to,
        |  FALSE AS is_current, 1 AS version
        |FROM dim d WHERE d.c_custkey IN (SELECT c_custkey FROM batch)
        |UNION ALL
        |SELECT d.c_custkey, d.segment, d.acctbal,
        |  DATE '1995-01-01', CAST(NULL AS DATE), TRUE, 1
        |FROM dim d WHERE d.c_custkey NOT IN (SELECT c_custkey FROM batch)
        |UNION ALL
        |SELECT b.c_custkey, b.segment, b.acctbal,
        |  DATE '1998-06-01', CAST(NULL AS DATE), TRUE,
        |  CASE WHEN d.c_custkey IS NOT NULL THEN 2 ELSE 1 END
        |FROM batch b LEFT JOIN dim d ON b.c_custkey = d.c_custkey""".stripMargin,
    "q_merge_upsert" ->
      """WITH target AS (
        |  SELECT c_custkey AS key, c_mktsegment AS segment,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal
        |  FROM customer),
        |source AS (
        |  SELECT c_custkey AS key,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) - 3000 AS DOUBLE) AS new_bal
        |  FROM customer WHERE c_custkey % 4 = 0
        |  UNION ALL
        |  SELECT -c_custkey AS key,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) / 2 AS DOUBLE) AS new_bal
        |  FROM customer WHERE c_custkey % 10 = 7)
        |SELECT COALESCE(t.key, s.key) AS key,
        |  COALESCE(t.segment, 'NEW') AS segment,
        |  CASE WHEN s.new_bal IS NOT NULL THEN s.new_bal ELSE t.acctbal END AS acctbal,
        |  CASE WHEN t.acctbal IS NULL THEN 'inserted'
        |    WHEN s.new_bal IS NOT NULL THEN 'updated'
        |    ELSE 'kept' END AS action
        |FROM target t FULL OUTER JOIN source s ON t.key = s.key
        |WHERE NOT (t.acctbal IS NOT NULL AND s.new_bal IS NOT NULL AND s.new_bal < 0)""".stripMargin,
    "q_stats_moments" ->
      s"""WITH l AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
         |    CAST(round(CAST(l_extendedprice AS DOUBLE) * 100) AS BIGINT) AS p
         |  FROM lineitem),
         |sums AS (
         |  SELECT l_returnflag, COUNT(*) AS n,
         |    SUM(q) AS s1, SUM(q * q) AS s2, SUM(q * q * q) AS s3,
         |    SUM(q * q * q * q) AS s4,
         |    SUM(p) AS t1, SUM(p * p) AS t2, SUM(q * p) AS sp
         |  FROM l GROUP BY 1)
         |$momentsSelect
         |FROM sums""".stripMargin,
    "q_kll_quantile_merge" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS median_qty,
        |  COUNT(DISTINCT l_orderkey % 8) AS n_shards,
        |  TRUE AS kll_median_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q_approx_top_k" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |e AS (SELECT term, COUNT(*) AS exact_cnt FROM w GROUP BY 1
        |      ORDER BY exact_cnt DESC, term LIMIT 10)
        |SELECT term, exact_cnt, TRUE AS tracked_ok, TRUE AS count_ok FROM e""".stripMargin,
    "q_theta_setops" ->
      """WITH d AS (SELECT DISTINCT l_returnflag AS flag, l_orderkey FROM lineitem),
        |n AS (SELECT flag, COUNT(*) AS n FROM d GROUP BY 1),
        |i AS (SELECT a.flag AS flag_a, b.flag AS flag_b, COUNT(*) AS exact_inter
        |      FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey AND a.flag < b.flag
        |      GROUP BY 1, 2)
        |SELECT flag_a, flag_b, na.n AS exact_a, nb.n AS exact_b, exact_inter,
        |  TRUE AS inter_ok
        |FROM i JOIN n na ON na.flag = flag_a JOIN n nb ON nb.flag = flag_b""".stripMargin,
    "q_hll_sketch_union" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_orderkey) AS exact_orders,
        |  COUNT(DISTINCT l_orderkey % 8) AS n_shards,
        |  TRUE AS union_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q_lateral_topn" ->
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        |FROM customer c,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
        |         WHERE o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o""".stripMargin,
    "q_asof_join_native" -> asofOracle,
    "q_grouping_sets" ->
      """SELECT n_name, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY GROUPING SETS ((n_name), (o_orderpriority), ())""".stripMargin,
    "q_asof_join" ->
      """WITH ev AS (
        |  SELECT event_id, user_id,
        |    ts - to_days(CAST(8000 + (event_id * 13) % 6000 AS INTEGER)) AS cutoff
        |  FROM events),
        |j AS (
        |  SELECT event_id, user_id, o_orderkey, o_orderdate,
        |    ROW_NUMBER() OVER (PARTITION BY event_id
        |      ORDER BY o_orderdate DESC NULLS LAST, o_orderkey DESC NULLS LAST) AS rn
        |  FROM ev LEFT JOIN orders
        |    ON user_id = o_custkey AND o_orderdate <= cutoff)
        |SELECT event_id, user_id, o_orderkey AS asof_orderkey, o_orderdate AS asof_orderdate
        |FROM j WHERE rn = 1""".stripMargin,
    "q_quantile_stats" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS median_qty,
        |  quantile_cont(l_quantity, 0.25) AS q1_qty,
        |  quantile_cont(l_quantity, 0.75) AS q3_qty,
        |  quantile_cont(l_extendedprice, 0.95) AS p95_price,
        |  TRUE AS approx_median_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q_det_sample" ->
      """SELECT o_orderpriority, COUNT(*) AS n_sampled,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sampled_total
        |FROM orders
        |WHERE list_sum(list_transform(range(1, 5), hxi -> CAST(instr('0123456789abcdef', substring(substring(md5(CAST(o_orderkey AS STRING)), 1, 4), CAST(hxi AS INT), 1)) - 1 AS BIGINT) * CAST(pow(16, 4 - hxi) AS BIGINT))) < 6554
        |GROUP BY 1""".stripMargin,
    "q_hll_precision_sweep" ->
      """WITH ex AS (SELECT COUNT(DISTINCT l_orderkey) AS exact_n FROM lineitem)
        |SELECT CAST(k AS INTEGER) AS lg_k, CAST((1 << k) AS BIGINT) AS m, exact_n,
        |  round(3 * 1.04 / sqrt(CAST((1 << k) AS DOUBLE)), 6) AS rse_bound,
        |  TRUE AS hll_ok
        |FROM ex, LATERAL unnest(list_value(4, 6, 8, 10, 12)) AS t(k)""".stripMargin,
    "q_column_profile" ->
      """WITH m AS (
        |  SELECT 'l_quantity' AS col_name, CAST(l_quantity AS DECIMAL(18,2)) AS v FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', CAST(l_extendedprice AS DECIMAL(18,2)) FROM lineitem
        |  UNION ALL SELECT 'l_discount', CAST(l_discount AS DECIMAL(18,2)) FROM lineitem
        |  UNION ALL SELECT 'l_tax', CAST(l_tax AS DECIMAL(18,2)) FROM lineitem),
        |vc AS (SELECT col_name, v, COUNT(*) AS c FROM m GROUP BY 1, 2)
        |SELECT col_name, CAST(SUM(c) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN v IS NULL THEN c ELSE 0 END) AS BIGINT) AS n_null,
        |  CAST(SUM(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_distinct,
        |  round(CAST(MIN(v) AS DOUBLE), 6) AS min_v,
        |  round(CAST(MAX(v) AS DOUBLE), 6) AS max_v,
        |  round(CAST(SUM(v * c) AS DOUBLE) / SUM(CASE WHEN v IS NOT NULL THEN c ELSE 0 END), 6) AS mean_v
        |FROM vc GROUP BY 1""".stripMargin,
    "q_approx_distinct" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_orderkey) AS exact_orders,
        |  COUNT(DISTINCT l_partkey) AS exact_parts,
        |  TRUE AS approx_orders_ok,
        |  TRUE AS approx_parts_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q_udaf_weighted_price" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           * CAST(l_quantity AS BIGINT)) AS DOUBLE) / 100.0
        |    / CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS qty_weighted_price,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)
}
