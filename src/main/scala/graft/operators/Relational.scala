package graft.operators

import graft._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The full relational surface (SURVEY.md §2.2): scans, projections,
  * filters, joins (incl. broadcast dims + semi/anti), aggregations,
  * window functions, sorts/top-k, set ops, cube/rollup, scalar
  * string/date/math/JSON functions.
  *
  * All money arithmetic goes through DECIMAL(18,2) so sums are exact and
  * order-independent — see `graft.dsum`. Every query has a DuckDB oracle in
  * `Relational.oracle` with identical semantics and column names.
  *
  * Scale notes: dimension tables (region/nation/supplier/part) are joined
  * with an explicit `broadcast()` hint — they stay tiny at every scale
  * factor (FIXTURES.md). Fact-fact joins (orders⋈lineitem, customer⋈orders)
  * shuffle on their keys and rely on AQE for skew/coalesce at scale. Top-k
  * uses orderBy+limit which Spark plans as TakeOrderedAndProject (no global
  * sort materialization).
  */
object Relational {


  /** The TPC-H discounted-revenue sum — exact decimal arithmetic, cast
    * to double only at the END (one rounding, mirroring the oracle's
    * shared `disc` expression); one definition so a precision change
    * can never drift between q1/q3/q5. */
  private def discRevenue: org.apache.spark.sql.Column =
    sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))).cast("double")

  /** TPC-H Q1-style pricing summary: scan → filter → hash agg (partial +
    * final automatic) → small result. Filter pushes to the parquet scan. */
  def q1PricingSummary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        discRevenue.as("sum_disc_price"),
        sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))
          * (lit(1) + dec(col("l_tax")))).cast("double").as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** TPC-H Q3-style: 3-way join, agg, deterministic top-10
    * (TakeOrderedAndProject — never a full global sort). */
  def q3ShippingPriority(s: SparkSession, d: String): DataFrame = {
    val cutoff = to_timestamp(lit("1998-03-15 00:00:00"))
    Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") < cutoff)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") > cutoff)
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(discRevenue.as("revenue"))
      .orderBy(desc("revenue"), col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-style: fact joins shuffle; nation/region/supplier broadcast. */
  def q5RegionRevenue(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
              col("o_orderdate") < to_timestamp(lit("1997-01-01 00:00:00")))
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.supplier(s, d)),
        col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .groupBy("n_name")
      .agg(discRevenue.as("revenue"))
      .orderBy(desc("revenue"), col("n_name"))

  /** Top-3 orders per customer — row_number window with deterministic
    * tie-break; per-group top-k, no global sort. */
  def qWindowTopK(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
  }

  /** Running totals + lag/lead/rank/ntile over a deterministic total order
    * per supplier. Exercises frame specs (rowsBetween). */
  def qWindowRunning(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("l_suppkey")
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    Tables.lineitem(s, d)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate"), col("l_extendedprice"))
      .withColumn("running_rev",
        sum(dec(col("l_extendedprice")))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double"))
      .withColumn("prev_price", lag(col("l_extendedprice"), 1).over(w))
      .withColumn("next_price", lead(col("l_extendedprice"), 1).over(w))
      .withColumn("rnk", rank().over(w))
      .withColumn("bucket4", ntile(4).over(w))
      .drop("l_shipdate")
  }

  /** Trailing 7-day revenue per supplier via a RANGE (value-based)
    * window frame — the interval-frame spec the rows-frame queries
    * (qWindowRunning/qWindowExtra) cannot express: the frame holds
    * every row whose ship date falls in the trailing week, however
    * many rows share a day (same-day rows are PEERS and all enter the
    * frame — no tie-break needed for frame aggregates). The ORDER BY
    * key is an integer day ordinal so both engines bound the frame
    * identically; money sums as DECIMAL inside the frame and converts
    * to double once. One shuffle on the partition key; the frame scan
    * is the standard sliding-aggregate sort within partitions. */
  def qWindowInterval(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("l_suppkey").orderBy(col("ord")).rangeBetween(-6, 0)
    Tables.lineitem(s, d)
      .withColumn("ord", datediff(col("l_shipdate"), lit("1992-01-01").cast("date")))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
        sum(dec(col("l_extendedprice"))).over(w).cast("double").as("rev_7d"),
        count(lit(1)).over(w).as("n_7d"))
  }

  /** ROLLUP over (nation, priority): hierarchical subtotals. */
  def qRollupRevenue(s: SparkSession, d: String): DataFrame = {
    val j = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .select("n_name", "o_orderpriority", "o_totalprice")
    j.rollup(j("n_name"), j("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
  }

  /** CUBE over (returnflag, linestatus). */
  def qCubeLineitem(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))

  /** Set operations: intersect / except / union-distinct of customer keys
    * vs ordering customer keys, tagged into one result. */
  def qSetOps(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).select(col("c_custkey").as("k"))
    val ord = Tables.orders(s, d).select(col("o_custkey").as("k"))
    cust.intersect(ord).withColumn("op", lit("intersect"))
      .unionByName(cust.except(ord).withColumn("op", lit("except")))
      .unionByName(cust.union(ord).distinct().withColumn("op", lit("union_distinct")))
      .select("op", "k")
  }

  /** Semi/anti joins: customers with vs without RECENT orders (the
    * recency filter keeps the anti side non-empty — virtually every
    * customer has SOME order at every scale factor), counted per
    * nation. */
  def qSemiAnti(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
    val ordKeys = Tables.orders(s, d)
      .filter(col("o_orderdate") >= to_timestamp(lit("2000-06-01 00:00:00")))
      .select(col("o_custkey"))
    val nation = broadcast(Tables.nation(s, d))
    val withOrders = cust.join(ordKeys, col("c_custkey") === col("o_custkey"), "left_semi")
      .join(nation, col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name").agg(count(lit(1)).as("n"))
      .withColumn("grp", lit("with_orders"))
    val noOrders = cust.join(ordKeys, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(nation, col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name").agg(count(lit(1)).as("n"))
      .withColumn("grp", lit("no_orders"))
    withOrders.unionByName(noOrders).select("n_name", "grp", "n")
  }

  /** Exact distinct aggregation per group. */
  def qDistinctStats(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .groupBy("c_nationkey")
      .agg(
        countDistinct(col("c_mktsegment")).as("n_segments"),
        countDistinct(col("c_custkey")).as("n_cust"),
        count(lit(1)).as("n"),
        dsum(col("c_acctbal")).as("total_bal"))

  /** Global deterministic top-N by price (sort + limit). */
  def qTopNLineitems(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(desc("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      .limit(20)

  /** Fixed-width histogram of a measure — the binning family: 20
    * integer-exact buckets (floor-divide, top bucket clamps the tail),
    * per-bucket count, exact-decimal mass, and bounds. Map-side bucket
    * assignment + one shuffle on the 20-value bucket key; at any scale
    * this is a single pass. */
  def qPriceHistogram(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .withColumn("bucket", least(floor(col("l_extendedprice") / 5000), lit(19)).cast("int"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        dsum(col("l_extendedprice")).as("bucket_total"),
        min("l_extendedprice").as("lo"),
        max("l_extendedprice").as("hi"))

  /** Scalar string functions over part (row-level, codegen'd — no UDFs). */
  def qStringOps(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select(
      col("p_partkey"),
      upper(col("p_brand")).as("brand_u"),
      substring(col("p_name"), 1, 5).as("name5"),
      concat(col("p_type"), lit("#"), col("p_size").cast("string")).as("type_size"),
      length(col("p_name")).as("name_len"),
      col("p_name").like("%widget%").as("is_widget"),
      regexp_replace(col("p_name"), lit(" "), lit("_")).as("name_us"),
      lpad(col("p_size").cast("string"), 4, "0").as("size_pad"),
      regexp_extract(col("p_brand"), "[0-9]+", 0).as("brand_num"),
      reverse(col("p_name")).as("name_rev"),
      trim(lower(col("p_type"))).as("type_l"))

  /** Date/time functions: year/month extraction + per-month agg. */
  def qDateOps(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
      .agg(
        count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("total"),
        min(col("o_orderdate")).as("first_dt"),
        max(col("o_orderdate")).as("last_dt"))

  /** Scalar math functions (row-level). pow via x*x (libm-free); ln rounded
    * to 6 dp to absorb last-ulp libm differences vs the oracle. */
  def qMathOps(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      abs(dec(col("l_discount")) - dec(lit(0.05)))
        .cast("double").as("abs_disc_diff"),
      sqrt(col("l_extendedprice")).as("sqrt_price"),
      (col("l_quantity") * col("l_quantity")).as("qty_sq"),
      round(log(col("l_extendedprice")), 6).as("ln_price"),
      floor(col("l_extendedprice")).cast("long").as("floor_price"),
      ceil(col("l_extendedprice")).cast("long").as("ceil_price"),
      (col("l_orderkey") % 7).as("mod7"),
      greatest(col("l_discount"), col("l_tax")).as("max_rate"),
      least(col("l_discount"), col("l_tax")).as("min_rate"),
      signum(col("l_discount") - col("l_tax")).as("rate_sign"))

  /** JSON extraction from events.props (a JSON string) + aggregation. */
  def qJsonEvents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("k", from_json(col("props"), lit("k INT")).getField("k"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(col("k")).cast("long").as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        dsum(col("value")).as("sum_value"))


  /** Semi-structured props through Spark 4's VARIANT type — the modern
    * path for schema-flexible columns (`parse_json` → binary variant →
    * typed `variant_get` extraction), complementing the fixed-schema
    * `from_json` form in [[qJsonEvents]]. The variant parse and field
    * extraction are row-level and codegen-friendly; the aggregate
    * shuffles 10 keys. */
  def qVariantEvents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("k", expr("variant_get(parse_json(props), '$.k', 'int')"))
      // sign-preserving % (not pmod), matching the oracle's DuckDB `%`
      // exactly — divergent only if a future corpus emits negative k,
      // which is precisely when an unaligned modulus would silently fail
      .groupBy((col("k") % lit(10)).as("k_mod"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("k")).cast("long").as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))

  /** Full outer join: even-custkey customers vs all orders — both
    * left-orphan (customer without orders) and right-orphan (order whose
    * customer was filtered) rows occur. */
  def qFullOuter(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).filter(col("c_custkey") % 2 === 0)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "full_outer")
      .select(
        when(col("c_custkey").isNull, "order_only")
          .when(col("o_orderkey").isNull, "customer_only")
          .otherwise("both").as("match_type"))
      .groupBy("match_type")
      .agg(count(lit(1)).as("n"))

  /** Multiset set ops: INTERSECT ALL / EXCEPT ALL over supplier-key
    * multisets (with duplicates), then counted per key. */
  def qSetOpsAll(s: SparkSession, d: String): DataFrame = {
    // a strictly outnumbers b per key (≈80% vs ≈50% of rows) so the
    // EXCEPT ALL leg carries real multiset differences
    val a = Tables.lineitem(s, d).filter(col("l_quantity") < 40).select(col("l_suppkey").as("k"))
    val b = Tables.lineitem(s, d).filter(col("l_discount") > 0.05).select(col("l_suppkey").as("k"))
    a.intersectAll(b).withColumn("op", lit("intersect_all"))
      .unionByName(a.exceptAll(b).withColumn("op", lit("except_all")))
      .groupBy("op", "k").agg(count(lit(1)).as("n"))
  }

  /** Remaining window-function family: first/last/nth value over full
    * frames, percent_rank, cume_dist — deterministic total order. */
  def qWindowExtra(s: SparkSession, d: String): DataFrame = {
    val order = Window.partitionBy("l_suppkey")
      .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    val full = order.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.lineitem(s, d)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .withColumn("cheapest", first(col("l_extendedprice")).over(full))
      .withColumn("dearest", last(col("l_extendedprice")).over(full))
      .withColumn("second_cheapest", nth_value(col("l_extendedprice"), 2).over(full))
      .withColumn("pct_rank", percent_rank().over(order))
      .withColumn("cume", cume_dist().over(order))
  }

  /** Range join: for each order, how many OTHER orders the same
    * customer placed within ±30 days — equi key (custkey) + time-range
    * residual, the canonical interval-join shape. Spark shuffles on the
    * equi key only and evaluates the range as a join residual, so the
    * plan scales like a plain key join; the histogram keeps output
    * small. */
  def qRangeJoin(s: SparkSession, d: String): DataFrame = {
    val o1 = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val o2 = Tables.orders(s, d).select(
      col("o_orderkey").as("k2"), col("o_custkey").as("c2"), col("o_orderdate").as("d2"))
    o1.join(o2,
        col("o_custkey") === col("c2") && col("o_orderkey") =!= col("k2") &&
        col("d2") >= col("o_orderdate") - expr("INTERVAL 30 DAYS") &&
        col("d2") <= col("o_orderdate") + expr("INTERVAL 30 DAYS"), "left")
      .groupBy("o_orderkey")
      .agg(count(col("k2")).as("nearby"))
      .groupBy("nearby")
      .agg(count(lit(1)).as("n_orders"))
  }

  val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_window_interval" -> (qWindowInterval _),
    "q_range_join" -> (qRangeJoin _),
    "q_full_outer" -> (qFullOuter _),
    "q_setops_all" -> (qSetOpsAll _),
    "q_window_extra" -> (qWindowExtra _),
    "q1_pricing_summary" -> (q1PricingSummary _),
    "q3_shipping_priority" -> (q3ShippingPriority _),
    "q5_region_revenue" -> (q5RegionRevenue _),
    "q_window_topk" -> (qWindowTopK _),
    "q_window_running" -> (qWindowRunning _),
    "q_rollup_revenue" -> (qRollupRevenue _),
    "q_cube_lineitem" -> (qCubeLineitem _),
    "q_setops" -> (qSetOps _),
    "q_semi_anti" -> (qSemiAnti _),
    "q_distinct_stats" -> (qDistinctStats _),
    "q_topn_lineitems" -> (qTopNLineitems _),
    "q_price_histogram" -> (qPriceHistogram _),
    "q_string_ops" -> (qStringOps _),
    "q_date_ops" -> (qDateOps _),
    "q_math_ops" -> (qMathOps _),
    "q_json_events" -> (qJsonEvents _),
    "q_variant_events" -> (qVariantEvents _))

  private val disc = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"

  val oracle: Map[String, String] = Map(
    "q_window_interval" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY l_suppkey ORDER BY divide(CAST(epoch(CAST(l_shipdate AS DATE)) AS BIGINT) - CAST(epoch(CAST(DATE '1992-01-01' AS DATE)) AS BIGINT), 86400)
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rev_7d,
        |  COUNT(*) OVER (
        |    PARTITION BY l_suppkey ORDER BY divide(CAST(epoch(CAST(l_shipdate AS DATE)) AS BIGINT) - CAST(epoch(CAST(DATE '1992-01-01' AS DATE)) AS BIGINT), 86400)
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS n_7d
        |FROM lineitem""".stripMargin,
    "q_range_join" ->
      """WITH j AS (
        |  SELECT o1.o_orderkey, COUNT(o2.o_orderkey) AS nearby
        |  FROM orders o1 LEFT JOIN orders o2
        |    ON o1.o_custkey = o2.o_custkey AND o1.o_orderkey <> o2.o_orderkey
        |    AND o2.o_orderdate >= o1.o_orderdate - INTERVAL 30 DAY
        |    AND o2.o_orderdate <= o1.o_orderdate + INTERVAL 30 DAY
        |  GROUP BY 1)
        |SELECT nearby, COUNT(*) AS n_orders FROM j GROUP BY nearby""".stripMargin,
    "q_full_outer" ->
      """SELECT CASE WHEN c_custkey IS NULL THEN 'order_only'
        |            WHEN o_orderkey IS NULL THEN 'customer_only'
        |            ELSE 'both' END AS match_type, COUNT(*) AS n
        |FROM (SELECT * FROM customer WHERE c_custkey % 2 = 0) c
        |FULL JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1""".stripMargin,
    "q_setops_all" ->
      """WITH a AS (SELECT l_suppkey AS k FROM lineitem WHERE l_quantity < 40),
        |b AS (SELECT l_suppkey AS k FROM lineitem WHERE l_discount > 0.05),
        |u AS (
        |  SELECT 'intersect_all' AS op, k FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b) t1
        |  UNION ALL
        |  SELECT 'except_all' AS op, k FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b) t2)
        |SELECT op, k, COUNT(*) AS n FROM u GROUP BY op, k""".stripMargin,
    "q_window_extra" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
        |  FIRST_VALUE(l_extendedprice) OVER wf AS cheapest,
        |  LAST_VALUE(l_extendedprice) OVER wf AS dearest,
        |  NTH_VALUE(l_extendedprice, 2) OVER wf AS second_cheapest,
        |  PERCENT_RANK() OVER w AS pct_rank,
        |  CUME_DIST() OVER w AS cume
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_extendedprice, l_orderkey, l_linenumber),
        |  wf AS (PARTITION BY l_suppkey ORDER BY l_extendedprice, l_orderkey, l_linenumber
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin,
    "q1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         |  CAST(SUM($disc) AS DOUBLE) AS sum_disc_price,
         |  CAST(SUM($disc * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
         |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q3_shipping_priority" ->
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority, CAST(SUM($disc) AS DOUBLE) AS revenue
         |FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON o_orderkey = l_orderkey
         |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
         |  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_region_revenue" ->
      s"""SELECT n_name, CAST(SUM($disc) AS DOUBLE) AS revenue
         |FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON o_orderkey = l_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q_window_topk" ->
      """SELECT * FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
        |  FROM orders) t WHERE rn <= 3""".stripMargin,
    "q_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) OVER wf AS DOUBLE) AS running_rev,
        |  LAG(l_extendedprice, 1) OVER w AS prev_price,
        |  LEAD(l_extendedprice, 1) OVER w AS next_price,
        |  CAST(RANK() OVER w AS INTEGER) AS rnk,
        |  CAST(NTILE(4) OVER w AS INTEGER) AS bucket4,
        |  l_extendedprice
        |FROM lineitem
        |WINDOW wf AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |       w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber)""".stripMargin,
    "q_rollup_revenue" ->
      """SELECT n_name, o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP(n_name, o_orderpriority)""".stripMargin,
    "q_cube_lineitem" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,
    "q_setops" ->
      """WITH cust AS (SELECT c_custkey AS k FROM customer), ord AS (SELECT o_custkey AS k FROM orders)
        |SELECT 'intersect' AS op, k FROM (SELECT k FROM cust INTERSECT SELECT k FROM ord) t1
        |UNION ALL SELECT 'except' AS op, k FROM (SELECT k FROM cust EXCEPT SELECT k FROM ord) t2
        |UNION ALL SELECT 'union_distinct' AS op, k FROM (SELECT k FROM cust UNION SELECT k FROM ord) t3""".stripMargin,
    "q_price_histogram" ->
      """SELECT CAST(LEAST(FLOOR(l_extendedprice / 5000), 19) AS INTEGER) AS bucket,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS bucket_total,
        |  MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q_semi_anti" ->
      """SELECT n_name, 'with_orders' AS grp, COUNT(*) AS n
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_custkey IN (SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '2000-06-01 00:00:00') GROUP BY n_name
        |UNION ALL
        |SELECT n_name, 'no_orders' AS grp, COUNT(*) AS n
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '2000-06-01 00:00:00') GROUP BY n_name""".stripMargin,
    "q_distinct_stats" ->
      """SELECT c_nationkey, COUNT(DISTINCT c_mktsegment) AS n_segments,
        |  COUNT(DISTINCT c_custkey) AS n_cust, COUNT(*) AS n,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer GROUP BY c_nationkey""".stripMargin,
    "q_topn_lineitems" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20""".stripMargin,
    "q_string_ops" ->
      """SELECT p_partkey, UPPER(p_brand) AS brand_u, SUBSTRING(p_name, 1, 5) AS name5,
        |  p_type || '#' || CAST(p_size AS STRING) AS type_size,
        |  CAST(LENGTH(p_name) AS INTEGER) AS name_len,
        |  (p_name LIKE '%widget%') AS is_widget,
        |  REPLACE(p_name, ' ', '_') AS name_us,
        |  LPAD(CAST(p_size AS STRING), 4, '0') AS size_pad,
        |  regexp_extract(p_brand, '[0-9]+', 0) AS brand_num,
        |  REVERSE(p_name) AS name_rev,
        |  TRIM(LOWER(p_type)) AS type_l
        |FROM part""".stripMargin,
    "q_date_ops" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS y, CAST(month(o_orderdate) AS INTEGER) AS m,
        |  COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  MIN(o_orderdate) AS first_dt, MAX(o_orderdate) AS last_dt
        |FROM orders GROUP BY 1, 2""".stripMargin,
    "q_math_ops" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(ABS(CAST(l_discount AS DECIMAL(18,2)) - CAST(0.05 AS DECIMAL(18,2))) AS DOUBLE) AS abs_disc_diff,
        |  SQRT(l_extendedprice) AS sqrt_price,
        |  l_quantity * l_quantity AS qty_sq,
        |  ROUND(LN(l_extendedprice), 6) AS ln_price,
        |  CAST(FLOOR(l_extendedprice) AS BIGINT) AS floor_price,
        |  CAST(CEIL(l_extendedprice) AS BIGINT) AS ceil_price,
        |  l_orderkey % 7 AS mod7,
        |  GREATEST(l_discount, l_tax) AS max_rate,
        |  LEAST(l_discount, l_tax) AS min_rate,
        |  CAST(SIGN(l_discount - l_tax) AS DOUBLE) AS rate_sign
        |FROM lineitem""".stripMargin,
    "q_variant_events" ->
      """SELECT CAST(CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS INTEGER) AS k_mod,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        |  MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
        |FROM events GROUP BY 1""".stripMargin,
    "q_json_events" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        |  MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin)
}
