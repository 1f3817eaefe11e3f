package graft.operators

import graft.{Catalog, Sql}
import graft.Sql._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Relational operator surface (SURVEY.md §2D).
  *
  * The reference implements no relational operators — its capability envelope
  * is the workload classes it accelerates: shuffle-heavy sort/repartition
  * (Terasort, `/root/reference/README.md:49-53`) and TPC-DS-style
  * join/aggregation plans (`README.md:56-58`). Each query here is one §2D row
  * expressed as a declarative DataFrame plan so Catalyst handles pushdown,
  * pruning, join strategy and AQE handles runtime partition balance (the
  * reference's pre-scheduler, `MapOutputTracker.scala:201-210`, SURVEY §4.2).
  *
  * Scale notes are per-query; the common rules: dimension tables are
  * broadcast (no shuffle of the fact side), aggregations rely on partial
  * (map-side) aggregation, and no query collects to the driver.
  */
object Relational {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Catalog.table(spark, dir, name)

  // --- scan → filter → project → hash agg → sort (TPC-H Q1 shape) ---------
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= ts("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsumRevenue(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  // --- filter + project + scalar expressions ------------------------------
  def q2FilterProject(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "part")
      .filter(col("p_size").between(10, 30) && col("p_type").isin("PROMO", "ECONOMY"))
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("name_upper"),
        concat_ws("/", col("p_brand"), col("p_type")).as("brand_type"),
        (dec(col("p_retailprice")) * dec(lit(1.10))).cast(DoubleType).as("list_price"),
        asLong(col("p_size") * 2).as("double_size"))
      .orderBy("p_partkey")

  // --- 3-way join + agg + top-k (TPC-H Q3 shape); dim side broadcast ------
  def q3TopRevenue(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val ord = t(spark, dir, "orders").filter(col("o_orderdate") < ts("1999-01-01"))
    val li = t(spark, dir, "lineitem").filter(col("l_shipdate") > ts("1999-01-01"))
    // customer is a SCALING dimension (1.5k rows/SF unit — billions at
    // 100 TB): no broadcast hint. Accurate file stats broadcast it while
    // small and flip to a shuffled join when it outgrows the threshold; a
    // hint would pin the broadcast at any size (the r16 corpus-broadcast
    // audit's defect class). orders⋈lineitem stays the dominant exchange.
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(dsumRevenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  // --- semi join (EXISTS) + agg (TPC-H Q4 shape) --------------------------
  def q4OrderPriority(spark: SparkSession, dir: String): DataFrame = {
    val ord = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= ts("1996-01-01") && col("o_orderdate") < ts("1998-01-01"))
    val bigLines = t(spark, dir, "lineitem").filter(col("l_quantity") >= 45)
    ord.join(bigLines, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  // --- 6-way star join (TPC-H Q5 shape) -----------------------------------
  def q5LocalSupplier(spark: SparkSession, dir: String): DataFrame = {
    val region = t(spark, dir, "region").filter(col("r_name") =!= "AFRICA")
    val nation = t(spark, dir, "nation")
    val cust = t(spark, dir, "customer")
    val supp = t(spark, dir, "supplier")
    val ord = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= ts("1996-01-01") && col("o_orderdate") < ts("1999-01-01"))
    val li = t(spark, dir, "lineitem")
    // nation/region are FIXED dims (25/5 rows at any SF): hinted broadcast
    // is permanently right. customer/supplier SCALE with SF — no hint, so
    // stats broadcast them while small and shuffle them once they outgrow
    // the threshold. The plan's only unavoidable shuffles are
    // orders⋈lineitem and the final aggregation.
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp,
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(dsumRevenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  // --- single-pass filtered agg (TPC-H Q6 shape) --------------------------
  def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(
        col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1998-01-01") &&
          col("l_discount").between(0.015, 0.065) && col("l_quantity") < 24)
      .agg(moneySum(units(col("l_extendedprice")), units(col("l_discount")), MoneyProduct)
        .cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_rows"))

  // --- anti join (NOT EXISTS) ---------------------------------------------
  def q7CustomersWithoutOrders(spark: SparkSession, dir: String): DataFrame = {
    val ord95 = t(spark, dir, "orders")
      .filter(col("o_orderdate") < ts("1995-07-01"))
    t(spark, dir, "customer")
      .join(ord95, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy("c_custkey")
  }

  // --- window: rank / top-N per group -------------------------------------
  def q8WindowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(spark, dir, "orders")
      .withColumn("rnk", asLong(row_number().over(w)))
      .filter(col("rnk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rnk"))
      .orderBy("o_custkey", "rnk")
  }

  // --- window: running aggregate + lag ------------------------------------
  def q9WindowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") < ts("1995-07-01"))
      .withColumn("running_qty",
        moneySum(units(col("l_quantity")), Money)
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast(DoubleType))
      .withColumn("prev_qty", lag(col("l_quantity"), 1).over(w))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate"), col("running_qty"), col("prev_qty"))
      .orderBy("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber")
  }

  // --- global top-k (TakeOrderedAndProject, no full sort) -----------------
  def q10TopK(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(100)

  // --- set operations ------------------------------------------------------
  def q11SetOps(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
    val a = cust.filter(col("c_mktsegment") === "MACHINERY").select(col("c_custkey"))
    val b = cust.filter(col("c_acctbal") > 5000).select(col("c_custkey"))
    a.union(b).distinct().withColumn("op", lit("union"))
      .unionByName(a.intersect(b).withColumn("op", lit("intersect")))
      .unionByName(a.except(b).withColumn("op", lit("except")))
      .orderBy("op", "c_custkey")
  }

  // --- distinct aggregation ------------------------------------------------
  /** Two-stage per distinct key (the t8/p6/x8 discipline): groupBy the
    * (flag, key) pair — one shuffle with map-side combine — then count
    * per flag, and join the three tiny (≤3-row) results. NEVER the
    * multi-`countDistinct` single agg: Spark plans that as an Expand
    * that TRIPLES every corpus row before the shuffle (x8's scaladoc
    * benched even the single-distinct Expand form 4× slower).
    *
    * The first-stage groupBy keeps a NULL key as its own group, which
    * `count(DISTINCT key)` (both engines) would EXCLUDE — so the pattern
    * filters `key IS NOT NULL` first. On non-null TPC-H keys the filter
    * is a pushed-down no-op; on a nullable key it aligns the per-group
    * COUNTS with countDistinct, with one residual caveat: a group whose
    * key is NULL on EVERY row vanishes from the filtered aggregate, so
    * the inner joins below drop that group's row entirely where
    * count(DISTINCT) would report it with 0 — reuse on such data needs
    * left joins + coalesce(.., 0) (r15 review). */
  def q12DistinctAgg(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    def nd(key: String, as: String) =
      li.filter(col(key).isNotNull)
        .groupBy(col("l_returnflag"), col(key)).agg(Map.empty[String, String])
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as(as))
    nd("l_partkey", "nd_parts")
      .join(nd("l_suppkey", "nd_supps"), Seq("l_returnflag"))
      .join(li.groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_rows")),
        Seq("l_returnflag"))
      .orderBy("l_returnflag")
  }

  // --- CUBE ----------------------------------------------------------------
  def q13Cube(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  // --- ROLLUP --------------------------------------------------------------
  def q14Rollup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(dsum(col("o_totalprice")).as("sum_price"), count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  // --- GROUP BY + HAVING (scale-free predicate) ---------------------------
  def q15Having(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_suppkey"))
      .agg(dsum(col("l_quantity")).as("total_qty"), count(lit(1)).as("n_rows"))
      .filter(col("total_qty") / col("n_rows") > 25.5)
      .orderBy("l_suppkey")

  // --- scalar function coverage (string/date/math) ------------------------
  def q16ScalarFns(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .filter(col("o_orderkey") % 100 === 0)
      .select(
        col("o_orderkey"),
        asLong(year(col("o_orderdate"))).as("yr"),
        asLong(month(col("o_orderdate"))).as("mon"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        substring(col("o_orderpriority"), 1, 1).as("pri_code"),
        lower(col("o_orderstatus")).as("status_lower"),
        concat_ws("-", col("o_orderstatus"), col("o_orderpriority")).as("status_pri"),
        asLong(floor(col("o_totalprice") / 1000)).as("price_bucket"),
        sqrt(col("o_totalprice")).as("price_sqrt"),
        asLong(length(col("o_orderpriority"))).as("pri_len"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN")).as("status_or_open"))
      .orderBy("o_orderkey")

  // --- conditional aggregation (TPC-H Q14 promo-ratio shape) --------------
  def q17PromoRatio(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1997-01-01") && col("l_shipdate") < ts("1998-01-01"))
    val part = t(spark, dir, "part")
    val price = col("l_extendedprice"); val disc = col("l_discount")
    // promo revenue ≡ sum(when(promo, revenue).otherwise(0)): a non-promo
    // row adds 0 × 0 (non-null, as the 0 it stood for)
    val promo = col("p_type") === "PROMO"
    // part scales with SF — stats-driven join strategy, no broadcast pin
    li.join(part, col("l_partkey") === col("p_partkey"))
      .groupBy(date_trunc("month", col("l_shipdate")).as("mon"))
      .agg(
        moneySum(when(promo, units(price)).otherwise(0L),
          when(promo, revenueFactor(disc)).otherwise(0L), Revenue)
          .cast(DoubleType).as("promo_revenue"),
        dsumRevenue(price, disc).as("total_revenue"))
      .withColumn("promo_ratio", col("promo_revenue") / col("total_revenue"))
      .orderBy("mon")
  }

  // --- range (non-equi) join ----------------------------------------------
  def q18RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val ord = t(spark, dir, "orders")
    // Equi key + range predicate: planned as SMJ/SHJ on the equi key with the
    // range as a post-join filter — no cartesian blowup at scale.
    li.join(ord,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") >= col("o_orderdate") &&
          col("l_shipdate") < col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        dsumRevenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
      .orderBy("o_orderpriority")
  }

  // --- Terasort shape: range partition + in-partition sort ----------------
  def q19Terasort(spark: SparkSession, dir: String): DataFrame =
    // The reference's flagship benchmark (`/root/reference/README.md:49-53`).
    // repartitionByRange samples key quantiles (balanced ranges — what the
    // reference's pre-scheduler approximated with round-robin placement),
    // then each partition sorts locally: a single shuffle, globally ordered.
    t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .repartitionByRange(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      .sortWithinPartitions("l_extendedprice", "l_orderkey", "l_linenumber")

  // --- two-stage salted aggregation (skew pattern) ------------------------
  def q20SaltedAgg(spark: SparkSession, dir: String): DataFrame =
    // Demonstrates the manual skew-mitigation pattern: pre-aggregate on
    // (key, salt) to spread a hot key over 8 reducers, then merge partials.
    // Result is identical to a plain groupBy (the oracle).
    t(spark, dir, "lineitem")
      .withColumn("salt", pmod(col("l_orderkey"), lit(8)))
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(moneySum(units(col("l_quantity")), Money).as("partial_qty"),
        count(lit(1)).as("partial_n"))
      .groupBy(col("l_returnflag"))
      .agg(moneySum(col("partial_qty"), sumType(Money)).cast(DoubleType).as("sum_qty"),
        sum(col("partial_n")).as("n_rows"))
      .orderBy("l_returnflag")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary" -> q1PricingSummary,
    "q2_filter_project" -> q2FilterProject,
    "q3_top_revenue" -> q3TopRevenue,
    "q4_order_priority" -> q4OrderPriority,
    "q5_local_supplier" -> q5LocalSupplier,
    "q6_forecast_revenue" -> q6ForecastRevenue,
    "q7_customers_without_orders" -> q7CustomersWithoutOrders,
    "q8_window_rank" -> q8WindowRank,
    "q9_window_running" -> q9WindowRunning,
    "q10_topk" -> q10TopK,
    "q11_set_ops" -> q11SetOps,
    "q12_distinct_agg" -> q12DistinctAgg,
    "q13_cube" -> q13Cube,
    "q14_rollup" -> q14Rollup,
    "q15_having" -> q15Having,
    "q16_scalar_fns" -> q16ScalarFns,
    "q17_promo_ratio" -> q17PromoRatio,
    "q18_range_join" -> q18RangeJoin,
    "q19_terasort" -> q19Terasort,
    "q20_salted_agg" -> q20SaltedAgg)

  private val SumQty = "CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)"
  private val Rev = graft.Sql.RevSql // one definition, Sql.scala

  val oracles: Map[String, String] = Map(
    "q1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  $SumQty AS sum_qty,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
         |  CAST(SUM($Rev) AS DOUBLE) AS sum_disc_price,
         |  CAST($SumQty / COUNT(l_quantity) AS DOUBLE) AS avg_qty,
         |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(l_extendedprice) AS DOUBLE) AS avg_price,
         |  COUNT(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_filter_project" ->
      """SELECT p_partkey, UPPER(p_name) AS name_upper,
        |  CONCAT_WS('/', p_brand, p_type) AS brand_type,
        |  CAST(CAST(p_retailprice AS DECIMAL(12,2)) * CAST(1.10 AS DECIMAL(12,2)) AS DOUBLE) AS list_price,
        |  CAST(p_size * 2 AS BIGINT) AS double_size
        |FROM part
        |WHERE p_size BETWEEN 10 AND 30 AND p_type IN ('PROMO','ECONOMY')
        |ORDER BY p_partkey""".stripMargin,
    "q3_top_revenue" ->
      s"""SELECT l_orderkey, o_orderdate, CAST(SUM($Rev) AS DOUBLE) AS revenue
         |FROM customer, orders, lineitem
         |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
         |  AND l_orderkey = o_orderkey
         |  AND o_orderdate < TIMESTAMP '1999-01-01'
         |  AND l_shipdate > TIMESTAMP '1999-01-01'
         |GROUP BY l_orderkey, o_orderdate
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q4_order_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q5_local_supplier" ->
      s"""SELECT n_name, CAST(SUM($Rev) AS DOUBLE) AS revenue
         |FROM region, nation, customer, supplier, orders, lineitem
         |WHERE r_name <> 'AFRICA' AND n_regionkey = r_regionkey
         |  AND s_nationkey = n_nationkey AND c_nationkey = s_nationkey
         |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
         |  AND l_suppkey = s_suppkey
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1999-01-01'
         |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.015 AND 0.065 AND l_quantity < 24""".stripMargin,
    "q7_customers_without_orders" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate < TIMESTAMP '1995-07-01')
        |ORDER BY c_custkey""".stripMargin,
    "q8_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders) t
        |WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin,
    "q9_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) OVER (
        |    PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty,
        |  LAG(l_quantity, 1) OVER (
        |    PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber) AS prev_qty
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '1995-07-01'
        |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber""".stripMargin,
    "q10_topk" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin,
    "q11_set_ops" ->
      """WITH a AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'),
        |     b AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
        |SELECT 'union' AS op, c_custkey FROM (SELECT c_custkey FROM a UNION SELECT c_custkey FROM b) u
        |UNION ALL
        |SELECT 'intersect' AS op, c_custkey FROM (SELECT c_custkey FROM a INTERSECT SELECT c_custkey FROM b) i
        |UNION ALL
        |SELECT 'except' AS op, c_custkey FROM (SELECT c_custkey FROM a EXCEPT SELECT c_custkey FROM b) e
        |ORDER BY op, c_custkey""".stripMargin,
    "q12_distinct_agg" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS nd_parts,
        |  COUNT(DISTINCT l_suppkey) AS nd_supps,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q13_cube" ->
      s"""SELECT l_returnflag, l_linestatus, $SumQty AS sum_qty, COUNT(*) AS n_rows
         |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q14_rollup" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
        |  COUNT(*) AS n_orders
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q15_having" ->
      s"""SELECT l_suppkey, $SumQty AS total_qty, COUNT(*) AS n_rows
         |FROM lineitem GROUP BY l_suppkey
         |HAVING $SumQty / COUNT(*) > 25.5
         |ORDER BY l_suppkey""".stripMargin,
    "q16_scalar_fns" ->
      """SELECT o_orderkey,
        |  CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
        |  CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS mon,
        |  DATE_TRUNC('month', o_orderdate) AS month_start,
        |  SUBSTRING(o_orderpriority, 1, 1) AS pri_code,
        |  LOWER(o_orderstatus) AS status_lower,
        |  CONCAT_WS('-', o_orderstatus, o_orderpriority) AS status_pri,
        |  CAST(FLOOR(o_totalprice / 1000) AS BIGINT) AS price_bucket,
        |  SQRT(o_totalprice) AS price_sqrt,
        |  CAST(LENGTH(o_orderpriority) AS BIGINT) AS pri_len,
        |  COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_or_open
        |FROM orders WHERE o_orderkey % 100 = 0 ORDER BY o_orderkey""".stripMargin,
    "q17_promo_ratio" ->
      s"""SELECT DATE_TRUNC('month', l_shipdate) AS mon,
         |  CAST(SUM(CASE WHEN p_type = 'PROMO' THEN $Rev ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS promo_revenue,
         |  CAST(SUM($Rev) AS DOUBLE) AS total_revenue,
         |  CAST(SUM(CASE WHEN p_type = 'PROMO' THEN $Rev ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
         |    / CAST(SUM($Rev) AS DOUBLE) AS promo_ratio
         |FROM lineitem, part
         |WHERE l_partkey = p_partkey
         |  AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
         |GROUP BY DATE_TRUNC('month', l_shipdate) ORDER BY mon""".stripMargin,
    "q18_range_join" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n_lines, CAST(SUM($Rev) AS DOUBLE) AS revenue
         |FROM lineitem, orders
         |WHERE l_orderkey = o_orderkey
         |  AND l_shipdate >= o_orderdate
         |  AND l_shipdate < o_orderdate + INTERVAL 60 DAY
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q19_terasort" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice, l_orderkey, l_linenumber""".stripMargin,
    "q20_salted_agg" ->
      s"""SELECT l_returnflag, $SumQty AS sum_qty, COUNT(*) AS n_rows
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
}
