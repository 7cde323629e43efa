package graft.operators

import graft._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deeper TPC-H-style relational coverage over the available columns:
  * EXISTS/correlated patterns, nation-pair volume analysis, conditional
  * (CASE) aggregation ratios, bracketed OR-of-ANDs predicates, and
  * scalar-subquery comparisons — the query shapes Catalyst's subquery
  * decorrelation, semi-join planning, and predicate simplification exist
  * for. All oracle-checked.
  */
object TpchDeep {

  private def discCol: org.apache.spark.sql.Column =
    dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))

  /** Q4-style: orders having a late-shipping lineitem (EXISTS → left-semi
    * join; Catalyst plans the correlated EXISTS as a semi join). */
  def q4PriorityExists(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val late = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_shipdate"))
    o.join(late,
        col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
  }

  /** Q7-style volume shipping between two nations (either direction),
    * grouped by supplier/customer nation and ship year.
    *
    * Plan note (100 TB): Catalyst alone does not derive per-dim IN-lists
    * from the OR-of-conjunctions nation-pair predicate;
    * [[graft.plans.DeriveInFilters]] does, and pushes `n_name IN (pair)`
    * to BOTH nation scans before any fact join. The supplier side prunes lineitem map-side via a
    * broadcast join (2/25 of rows survive); the customer side prunes
    * orders before the orderkey shuffle. Only ~8% of each fact table
    * reaches the big lineitem⋈orders join, versus round 1's plan that
    * joined everything and filtered last (it was the slowest query in
    * the suite at 5.5 s). The final filter keeps only cross-nation
    * pairs, as in the original predicate. */
  def q7VolumeShipping(s: SparkSession, d: String): DataFrame = {
    val n1 = Tables.nation(s, d)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, d)
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    val supp = broadcast(Tables.supplier(s, d)
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .select(col("s_suppkey"), col("supp_nation")))
    // customer is too large to broadcast at full scale: shuffle-join it
    // against the already-pruned nation dim, leaving orders carrying
    // cust_nation for only the two relevant nations.
    val cust = Tables.customer(s, d)
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .select(col("c_custkey"), col("cust_nation"))
    val prunedOrders = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("cust_nation"))
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
        col("l_extendedprice"), col("l_discount"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(prunedOrders, col("l_orderkey") === col("o_orderkey"))
      .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
              (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"), year(col("l_shipdate")).as("l_year"))
      .agg(sum(discCol).cast("double").as("revenue"))
  }

  /** Q14-style promo revenue share per month: conditional aggregation,
    * exact-decimal numerator/denominator → deterministic double ratio. */
  def q14PromoShare(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .groupBy(year(col("l_shipdate")).as("y"), month(col("l_shipdate")).as("m"))
      .agg(
        (sum(when(col("p_type") === "PROMO", discCol).otherwise(dec(lit(0))))
          .cast("double") * 100.0 /
         sum(discCol).cast("double")).as("promo_share"),
        count(lit(1)).as("n"))

  /** Q19-style bracketed predicate: OR of (brand × size-range ×
    * qty-range) conjunction groups — Catalyst folds these into a single
    * scan filter. */
  def q19Brackets(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 20)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
          col("l_quantity").between(10, 35)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(20, 40) &&
          col("l_quantity").between(20, 50)))
      .agg(sum(discCol).cast("double").as("revenue"), count(lit(1)).as("n"))

  /** Q6-style forecasting-revenue-change: revenue forgone to small
    * discounts on small-quantity lineitems shipped in one year.
    * lineitem-only: the whole predicate pushes to the parquet scan
    * (shipdate range prunes row groups via min/max stats), the
    * aggregate is a map-side partial + single-row exchange — one pass,
    * no join, at any scale. */
  def q6ForecastRevenue(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_lineitems"))

  /** Customers above their nation's average balance — correlated scalar
    * subquery shape, decorrelated to an aggregate + join. Exact-decimal
    * average so the threshold is engine-stable. */
  def qAboveAvgCustomers(s: SparkSession, d: String): DataFrame = {
    val natAvg = Tables.customer(s, d)
      .groupBy(col("c_nationkey").as("nk"))
      .agg((sum(dec(col("c_acctbal"))).cast("double") / count(lit(1))).as("nation_avg"))
    Tables.customer(s, d)
      .join(natAvg, col("c_nationkey") === col("nk"))
      .filter(col("c_acctbal") > col("nation_avg"))
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
        col("nation_avg"))
  }

  /** Q22-style: wealthy-but-idle customers — scalar subquery (global
    * positive-balance average) + anti join (no orders), counted per
    * nation. */
  def q22IdleCustomers(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val globalAvg = c.filter(col("c_acctbal") > 0)
      .agg((sum(dec(col("c_acctbal"))).cast("double") / count(lit(1))).as("avg_bal"))
    c.crossJoin(broadcast(globalAvg))
      .filter(col("c_acctbal") > col("avg_bal"))
      // anti against recent orders — "idle lately", keeps the path live
      .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= to_timestamp(lit("2000-06-01 00:00:00")))
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
  }

  /** Q10-style returned-item report: revenue lost to returns per
    * customer, top 20 — join + conditional filter + agg + deterministic
    * top-k. */
  def q10ReturnedItems(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(sum(discCol).cast("double").as("revenue"), count(lit(1)).as("n_items"))
      .orderBy(desc("revenue"), col("c_custkey"))
      .limit(20)

  /** Q13-style: distribution of customers by order count (left join so
    * zero-order customers land in the 0 bucket, then a second
    * aggregation over the counts). */
  def q13OrderCountDist(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))

  /** Q18-style large-volume customers: orders whose total quantity
    * exceeds a threshold (aggregate-filtered IN-subquery shape). */
  def q18LargeOrders(s: SparkSession, d: String): DataFrame = {
    val big = Tables.lineitem(s, d)
      .groupBy("l_orderkey")
      .agg(dsum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > 150)
    Tables.orders(s, d)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("total_qty"))
  }

  /** Q17-style small-quantity revenue: lineitems below 20% of their
    * part's average quantity (correlated scalar subquery, decorrelated
    * to a per-part aggregate + join). The threshold compare is kept in
    * exact integer-scaled decimals (5·qty·cnt < Σqty) rather than a
    * double `0.2·avg`, so the boundary is engine-stable. */
  def q17SmallQtyRevenue(s: SparkSession, d: String): DataFrame = {
    val parts = broadcast(Tables.part(s, d)
      .filter(col("p_brand") === "Brand#1")
      .select(col("p_partkey")))
    val li = Tables.lineitem(s, d)
      .join(parts, col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val perPart = li.groupBy(col("l_partkey").as("pk"))
      .agg(count(lit(1)).as("cnt"), sum(dec(col("l_quantity"))).as("sum_qty"))
    li.join(perPart, col("l_partkey") === col("pk"))
      .filter(dec(col("l_quantity")) * lit(5) * col("cnt") < col("sum_qty"))
      .agg((sum(dec(col("l_extendedprice"))).cast("double") / 7.0).as("avg_yearly"),
        count(lit(1)).as("n"))
  }

  /** Q21-style waiting suppliers: late lineitems (shipped >60 days after
    * the order date — this corpus has no commit/receipt dates) in
    * multi-supplier orders where no OTHER supplier was late — the
    * EXISTS + NOT EXISTS-on-the-same-fact decorrelation stress shape
    * (planned as a left-semi plus a left-anti with a non-equi residual
    * on the supplier key). */
  def q21WaitingSuppliers(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
    val late = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .select(col("l_orderkey"), col("l_suppkey"))
    late
      .join(li.select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2")),
        col("l_orderkey") === col("o2") && col("l_suppkey") =!= col("s2"), "left_semi")
      .join(late.select(col("l_orderkey").as("o3"), col("l_suppkey").as("s3")),
        col("l_orderkey") === col("o3") && col("l_suppkey") =!= col("s3"), "left_anti")
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("numwait"))
  }

  /** Q8-style national market share: of the ECONOMY-part volume sold to
    * ASIA-region customers, the share supplied by NATION_1, per order
    * year. Both fact sides are pruned before the orderkey shuffle (part
    * filter via broadcast onto lineitem; region filter via the
    * customer→nation chain onto orders) — the q7 lesson applied from the
    * start. The share is a double ratio of two exact-decimal sums. */
  def q8MarketShare(s: SparkSession, d: String): DataFrame = {
    val econParts = broadcast(Tables.part(s, d)
      .filter(col("p_type") === "ECONOMY").select(col("p_partkey")))
    val suppNation = broadcast(Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("snk"))
      .select(col("s_suppkey"), col("supp_nation")))
    val asiaCust = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)
          .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey").as("cnk"))),
        col("c_nationkey") === col("cnk"))
      .select(col("c_custkey"))
    val asiaOrders = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      .join(asiaCust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_orderdate"))
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))
      .join(econParts, col("l_partkey") === col("p_partkey"))
      .join(suppNation, col("l_suppkey") === col("s_suppkey"))
      .join(asiaOrders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        (sum(when(col("supp_nation") === "NATION_1", discCol)
            .otherwise(dec(lit(0)))).cast("double") /
          sum(discCol).cast("double")).as("mkt_share"),
        count(lit(1)).as("n"))
  }

  /** Q9-style profit by supplier nation and year. The corpus has no
    * partsupp table, so supply cost is modeled as p_retailprice·qty/10;
    * revenue and cost are carried as SEPARATE exact-decimal sums and
    * combined in doubles only at the end (engine-stable). */
  def q9ProductProfit(s: SparkSession, d: String): DataFrame = {
    val redParts = broadcast(Tables.part(s, d)
      .filter(col("p_name").contains("red"))
      .select(col("p_partkey"), col("p_retailprice")))
    val suppNation = broadcast(Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("snk"))
      .select(col("s_suppkey"), col("supp_nation")))
    Tables.lineitem(s, d)
      .join(redParts, col("l_partkey") === col("p_partkey"))
      .join(suppNation, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("supp_nation"), year(col("l_shipdate")).as("o_year"))
      .agg(
        (sum(discCol).cast("double") -
          sum(dec(col("p_retailprice")) * dec(col("l_quantity"))).cast("double") / 10.0)
          .as("profit"),
        count(lit(1)).as("n"))
  }

  /** Q15-style top supplier(s) for 2001-Q1: revenue view + scalar-max
    * subquery, double equality safe because both sides derive from the
    * same exact-decimal sum. */
  def q15TopSupplier(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= to_timestamp(lit("2001-01-01 00:00:00")) &&
        col("l_shipdate") < to_timestamp(lit("2001-04-01 00:00:00")))
      .groupBy(col("l_suppkey"))
      .agg(sum(discCol).cast("double").as("total_rev"))
    val top = rev.agg(max(col("total_rev")).as("max_rev"))
    Tables.supplier(s, d)
      .join(rev, col("s_suppkey") === col("l_suppkey"))
      .crossJoin(broadcast(top))
      .filter(col("total_rev") === col("max_rev"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev"))
  }

  /** Q2-style minimum-cost supplier (no partsupp in this corpus, so
    * "supplies part P" is derived from lineitem and "cost" is the
    * supplier's account balance): for each LARGE-type part, the
    * EUROPE-region supplier(s) with the minimum balance among its
    * suppliers — the correlated-scalar-min + equality-join-back
    * decorrelation shape. Double equality on the min is safe: both
    * sides of the compare are the same stored value. */
  def q2MinCostSupplier(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    val euroSupp = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)
          .join(broadcast(Tables.region(s, d).filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val ps = pairs.join(broadcast(euroSupp), col("l_suppkey") === col("s_suppkey"))
    val minBal = ps.groupBy(col("l_partkey").as("mk"))
      .agg(min(col("s_acctbal")).as("min_bal"))
    ps.join(minBal, col("l_partkey") === col("mk"))
      .filter(col("s_acctbal") === col("min_bal"))
      .join(broadcast(Tables.part(s, d).filter(col("p_type") === "LARGE")
          .select(col("p_partkey"), col("p_name"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("s_name"), col("n_name"), col("p_partkey"), col("p_name"),
        col("s_acctbal"))
      .orderBy(desc("s_acctbal"), col("p_partkey"), col("s_name"))
      .limit(50)
  }

  /** Q16-style supplier counts by part attributes with a NOT IN
    * subquery excluding "complained-about" suppliers (name contains
    * '7') — the NOT IN anti-join planning shape, expressed through the
    * SQL surface since the DataFrame API has no IN-subquery. */
  def q16SupplierCount(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("graft_q16_lineitem")
    Tables.part(s, d).createOrReplaceTempView("graft_q16_part")
    Tables.supplier(s, d).createOrReplaceTempView("graft_q16_supplier")
    s.sql(
      """SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM graft_q16_lineitem)
        |JOIN graft_q16_part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 9, 13, 17)
        |  AND l_suppkey NOT IN (
        |    SELECT s_suppkey FROM graft_q16_supplier WHERE s_name LIKE '%7%')
        |GROUP BY p_brand, p_type, p_size""".stripMargin)
  }

  val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q2_min_cost_supplier" -> (q2MinCostSupplier _),
    "q16_supplier_count" -> (q16SupplierCount _),
    "q8_market_share" -> (q8MarketShare _),
    "q9_product_profit" -> (q9ProductProfit _),
    "q15_top_supplier" -> (q15TopSupplier _),
    "q17_small_qty_revenue" -> (q17SmallQtyRevenue _),
    "q21_waiting_suppliers" -> (q21WaitingSuppliers _),
    "q13_ordercount_dist" -> (q13OrderCountDist _),
    "q18_large_orders" -> (q18LargeOrders _),
    "q10_returned_items" -> (q10ReturnedItems _),
    "q4_priority_exists" -> (q4PriorityExists _),
    "q6_forecast_revenue" -> (q6ForecastRevenue _),
    "q7_volume_shipping" -> (q7VolumeShipping _),
    "q14_promo_share" -> (q14PromoShare _),
    "q19_brackets" -> (q19Brackets _),
    "q_above_avg_customers" -> (qAboveAvgCustomers _),
    "q22_idle_customers" -> (q22IdleCustomers _))

  private val discSql = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"

  val oracle: Map[String, String] = Map(
    "q6_forecast_revenue" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lineitems
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin,
    "q2_min_cost_supplier" ->
      """WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |es AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |ps AS (SELECT l_partkey, s_suppkey, s_name, s_acctbal, n_name
        |  FROM pairs JOIN es ON l_suppkey = s_suppkey),
        |mb AS (SELECT l_partkey AS mk, MIN(s_acctbal) AS min_bal FROM ps GROUP BY 1)
        |SELECT s_name, n_name, p_partkey, p_name, s_acctbal
        |FROM ps JOIN mb ON l_partkey = mk AND s_acctbal = min_bal
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_type = 'LARGE'
        |ORDER BY s_acctbal DESC, p_partkey, s_name LIMIT 50""".stripMargin,
    "q16_supplier_count" ->
      """SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 9, 13, 17)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7%')
        |GROUP BY p_brand, p_type, p_size""".stripMargin,
    "q8_market_share" ->
      s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
         |  CAST(SUM(CASE WHEN n1.n_name = 'NATION_1' THEN $discSql
         |           ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
         |    / CAST(SUM($discSql) AS DOUBLE) AS mkt_share,
         |  COUNT(*) AS n
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |JOIN region ON n2.n_regionkey = r_regionkey
         |WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
         |GROUP BY 1""".stripMargin,
    "q9_product_profit" ->
      s"""SELECT n_name AS supp_nation, CAST(year(l_shipdate) AS INTEGER) AS o_year,
         |  CAST(SUM($discSql) AS DOUBLE)
         |    - CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))
         |               * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / 10.0 AS profit,
         |  COUNT(*) AS n
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |WHERE p_name LIKE '%red%'
         |GROUP BY 1, 2""".stripMargin,
    "q15_top_supplier" ->
      s"""WITH rev AS (
         |  SELECT l_suppkey, CAST(SUM($discSql) AS DOUBLE) AS total_rev
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '2001-01-01 00:00:00'
         |    AND l_shipdate < TIMESTAMP '2001-04-01 00:00:00'
         |  GROUP BY 1)
         |SELECT s_suppkey, s_name, total_rev
         |FROM supplier JOIN rev ON s_suppkey = l_suppkey
         |WHERE total_rev = (SELECT MAX(total_rev) FROM rev)""".stripMargin,
    "q17_small_qty_revenue" ->
      """WITH pp AS (
        |  SELECT l_partkey AS pk, COUNT(*) AS cnt,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#1' GROUP BY 1)
        |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly,
        |  COUNT(*) AS n
        |FROM lineitem JOIN pp ON l_partkey = pk
        |WHERE CAST(l_quantity AS DECIMAL(18,2)) * 5 * cnt < sum_qty""".stripMargin,
    "q21_waiting_suppliers" ->
      """SELECT s_name, COUNT(*) AS numwait
        |FROM lineitem l1 JOIN orders ON l1.l_orderkey = o_orderkey
        |JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3 JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
        |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY s_name""".stripMargin,
    "q13_ordercount_dist" ->
      """WITH cc AS (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |SELECT c_count, COUNT(*) AS custdist FROM cc GROUP BY c_count""".stripMargin,
    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 150)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin,
    "q10_returned_items" ->
      s"""SELECT c_custkey, c_name, n_name, CAST(SUM($discSql) AS DOUBLE) AS revenue,
         |  COUNT(*) AS n_items
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |GROUP BY 1, 2, 3 ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q4_priority_exists" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority""".stripMargin,
    "q7_volume_shipping" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |  CAST(year(l_shipdate) AS INTEGER) AS l_year,
         |  CAST(SUM($discSql) AS DOUBLE) AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
         |GROUP BY 1, 2, 3""".stripMargin,
    "q14_promo_share" ->
      s"""SELECT CAST(year(l_shipdate) AS INTEGER) AS y, CAST(month(l_shipdate) AS INTEGER) AS m,
         |  CAST(SUM(CASE WHEN p_type = 'PROMO' THEN $discSql ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
         |    * 100.0 / CAST(SUM($discSql) AS DOUBLE) AS promo_share,
         |  COUNT(*) AS n
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY 1, 2""".stripMargin,
    "q19_brackets" ->
      s"""SELECT CAST(SUM($discSql) AS DOUBLE) AS revenue, COUNT(*) AS n
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
         |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 35)
         |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 40 AND l_quantity BETWEEN 20 AND 50)""".stripMargin,
    "q_above_avg_customers" ->
      """WITH na AS (
        |  SELECT c_nationkey AS nk,
        |    CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS nation_avg
        |  FROM customer GROUP BY 1)
        |SELECT c_custkey, c_nationkey, c_acctbal, nation_avg
        |FROM customer JOIN na ON c_nationkey = nk
        |WHERE c_acctbal > nation_avg""".stripMargin,
    "q22_idle_customers" ->
      """WITH g AS (
        |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_bal
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c_nationkey, COUNT(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM customer, g
        |WHERE c_acctbal > avg_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '2000-06-01 00:00:00')
        |GROUP BY c_nationkey""".stripMargin)
}
