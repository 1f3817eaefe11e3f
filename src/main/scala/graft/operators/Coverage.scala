package graft.operators

import graft.Catalog
import graft.Sql._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Third-wave SURVEY.md §2D coverage: the SQL-subquery surface (correlated
  * EXISTS / IN / correlated scalar — exercising Catalyst's subquery
  * decorrelation), the full ranking-window family, and array/map/date scalar
  * function breadth.
  *
  * The subquery queries are deliberately written as SQL text (not DataFrame
  * combinators): the engine's users write EXISTS/IN, and the point is that
  * Catalyst DECORRELATES them into the same semi/anti/aggregate-join plans
  * the DataFrame API produces — q21/q22/q23's physical plans contain no
  * per-row subquery execution, so they scale like any other join.
  */
object Coverage {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Catalog.table(spark, dir, name)

  private def view(spark: SparkSession, dir: String, name: String): String = {
    val v = s"cov_$name"
    t(spark, dir, name).createOrReplaceTempView(v)
    v
  }

  /** Uncorrelated scalar subquery + correlated EXISTS. Planned as: scalar
    * subquery executes once (broadcast as a literal), EXISTS becomes a
    * left-semi hash join on s_suppkey — one shuffle, no row-at-a-time
    * subquery evaluation. */
  def q21Exists(spark: SparkSession, dir: String): DataFrame = {
    val s = view(spark, dir, "supplier"); val l = view(spark, dir, "lineitem")
    spark.sql(
      s"""SELECT s_suppkey, s_name, s_acctbal
         |FROM $s s
         |WHERE s_acctbal > (SELECT CAST(SUM(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE)
         |                          / COUNT(*) FROM $s)
         |  AND EXISTS (SELECT 1 FROM $l li
         |              WHERE li.l_suppkey = s.s_suppkey AND li.l_quantity >= 48)
         |ORDER BY s_suppkey""".stripMargin)
  }

  /** IN + NOT IN subqueries (semi/anti join decorrelation; keys are
    * non-null, so NOT IN's three-valued-logic trap does not bite). */
  def q22InSubquery(spark: SparkSession, dir: String): DataFrame = {
    val o = view(spark, dir, "orders"); val c = view(spark, dir, "customer")
    val l = view(spark, dir, "lineitem")
    spark.sql(
      s"""SELECT o_orderpriority, COUNT(*) AS n_orders
         |FROM $o
         |WHERE o_custkey IN (SELECT c_custkey FROM $c WHERE c_mktsegment = 'AUTOMOBILE')
         |  AND o_orderkey NOT IN (SELECT l_orderkey FROM $l WHERE l_quantity >= 49)
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }

  /** Correlated scalar aggregate subquery: orders more than 2x their
    * customer's average order value. Decorrelated into a per-customer
    * aggregate joined back — one aggregation + one join, not N subqueries. */
  def q23CorrScalar(spark: SparkSession, dir: String): DataFrame = {
    val o = view(spark, dir, "orders")
    spark.sql(
      s"""SELECT o_orderkey, o_custkey, o_totalprice
         |FROM $o o
         |WHERE o_totalprice > 2 * (SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
         |                                 / COUNT(*)
         |                          FROM $o o2 WHERE o2.o_custkey = o.o_custkey)
         |ORDER BY o_orderkey""".stripMargin)
  }

  /** Correlated MIN subquery (TPC-H Q2 shape, lineitem standing in for
    * partsupp): the cheapest supplier(s) per sampled part. Decorrelates to
    * a per-part MIN aggregate joined back. The aggregate goes through the
    * standard DECIMAL(12,2) round-trip (CLAUDE.md rule — MIN is
    * order-independent, but the rule is applied uniformly so this shape
    * stays safe if the aggregate ever changes); the output column is a raw
    * source projection. */
  def q27MinCost(spark: SparkSession, dir: String): DataFrame = {
    val l = view(spark, dir, "lineitem")
    spark.sql(
      s"""SELECT DISTINCT l_partkey, l_suppkey, l_extendedprice
         |FROM $l l
         |WHERE l_partkey % 40 = 0
         |  AND CAST(l_extendedprice AS DECIMAL(12,2)) =
         |      (SELECT MIN(CAST(l2.l_extendedprice AS DECIMAL(12,2))) FROM $l l2
         |       WHERE l2.l_partkey = l.l_partkey)
         |ORDER BY l_partkey, l_suppkey""".stripMargin)
  }

  /** Global-share HAVING (TPC-H Q11 shape): suppliers whose revenue exceeds
    * a fixed fraction of the corpus total. The share comparison runs in
    * EXACT decimal arithmetic (sum * 10000 > 11 * total) — no double
    * division anywhere near the predicate. */
  def q28GlobalShare(spark: SparkSession, dir: String): DataFrame = {
    val l = view(spark, dir, "lineitem")
    spark.sql(
      s"""SELECT l_suppkey,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
         |FROM $l GROUP BY l_suppkey
         |HAVING SUM(CAST(l_extendedprice AS DECIMAL(12,2))) * 10000 >
         |       11 * (SELECT SUM(CAST(l_extendedprice AS DECIMAL(12,2))) FROM $l)
         |ORDER BY l_suppkey""".stripMargin)
  }

  /** Ranking-window family in one pass: lag/lead, dense_rank, ntile,
    * first_value, percent_rank, cume_dist — all over one window spec, so
    * the plan is a single sort per partition. */
  def x15WindowSuite(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    t(spark, dir, "orders")
      .filter(col("o_orderkey") % 7 === 0)
      .select(
        col("o_orderkey"), col("o_orderstatus"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        asLong(dense_rank().over(w)).as("drank"),
        asLong(ntile(4).over(w)).as("quartile"),
        first(col("o_orderkey")).over(w).as("first_key"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cdist"))
      .orderBy("o_orderkey")
  }

  /** Array + map scalar functions over per-order line collections. The
    * collect is deterministic: struct-sorted before any order-sensitive use.
    * Outputs are scalars (joined strings / elements), never raw arrays —
    * cross-engine array renderings differ, scalar projections do not. */
  def x16ArrayMapFns(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_orderkey") % 20 === 0)
      .groupBy(col("l_orderkey"))
      .agg(array_sort(collect_list(struct(col("l_linenumber"), col("l_quantity"))))
        .as("lines"))
      .select(
        col("l_orderkey"),
        transform(col("lines"), _.getField("l_linenumber")).as("nums"),
        transform(col("lines"), _.getField("l_quantity")).as("qtys"))
      .select(
        col("l_orderkey"),
        asLong(size(col("nums"))).as("n_lines"),
        array_join(col("nums"), ",").as("line_csv"),
        asLong(element_at(col("nums"), 1)).as("first_line"),
        array_contains(col("nums"), 3).as("has_line3"),
        aggregate(col("qtys"), lit(0L), (acc, q) => acc + floor(q).cast(LongType)).as("qty_units"),
        // map keyed by POSITION: l_linenumber is not unique per order in
        // this corpus, and Spark rejects duplicate map keys
        element_at(map_from_arrays(sequence(lit(1), size(col("qtys"))), col("qtys")), 1)
          .as("first_qty"))
      .orderBy("l_orderkey")

  /** Date/time scalar breadth: add/diff/truncate/extract. Engine-specific
    * conventions are aligned explicitly (Spark's dayofweek is 1-based
    * Sunday; DuckDB's is 0-based — the oracle adds 1); date-valued results
    * are projected as ISO strings so both engines compare textually. */
  def x17DateFns(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .filter(col("o_orderkey") % 50 === 0)
      .select(
        col("o_orderkey"),
        date_format(date_add(col("o_orderdate"), 30), "yyyy-MM-dd").as("plus30"),
        date_format(add_months(col("o_orderdate"), 2), "yyyy-MM-dd").as("plus2mo"),
        date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"),
        asLong(datediff(ts("1998-01-01"), col("o_orderdate"))).as("days_to_98"),
        asLong(dayofweek(col("o_orderdate"))).as("dow"),
        asLong(dayofyear(col("o_orderdate"))).as("doy"),
        asLong(quarter(col("o_orderdate"))).as("qtr"),
        date_format(date_trunc("week", col("o_orderdate")), "yyyy-MM-dd").as("week_start"),
        asLong(unix_timestamp(col("o_orderdate"))).as("epoch_s"))
      .orderBy("o_orderkey")

  // One unique external-table/partitioned-data base per JVM (see
  // Extended.roundtripBase for the rationale), cleaned on shutdown.
  private lazy val covBase: String =
    Catalog.tempDirWithCleanup("graft-coverage").toString

  // Layouts already written this JVM, keyed by (kind, sf dir): x18/x19 are
  // about the READ-side plan (shuffle-free join / partition pruning), so
  // the one-time layout write must not be re-paid — or re-timed — on every
  // invocation. Names carry the dir hash so multiple sf dirs coexist.
  private val writtenLayouts = scala.collection.mutable.Set.empty[String]
  // md5 prefix, not String.hashCode: a 32-bit hash collision between two
  // sf dirs in one JVM would silently serve one dir's bucketed/partitioned
  // layout for the other (writtenLayouts keys on the full dir string, so
  // nothing would catch the overwrite)
  private def dirTag(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  /** Write `lineitem`/`orders` as bucketed external tables (8 buckets on the
    * join key, sorted within buckets) and return them as catalog reads.
    * Exposed for the spec, which asserts the join plans WITHOUT a shuffle. */
  def bucketedTables(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val tag = dirTag(dir)
    val (liName, ordName) = (s"cov_li_bucketed_$tag", s"cov_ord_bucketed_$tag")
    synchronized {
      if (!writtenLayouts.contains(s"bucketed:$dir")) {
        t(spark, dir, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
          .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .option("path", s"$covBase/li_bucketed_$tag").saveAsTable(liName)
        t(spark, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"))
          .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .option("path", s"$covBase/ord_bucketed_$tag").saveAsTable(ordName)
        writtenLayouts += s"bucketed:$dir"
      }
    }
    (spark.table(liName), spark.table(ordName))
  }

  /** Co-partitioned (bucketed) join — the Spark-native form of the
    * reference's co-registered shuffle placement
    * (`MapOutputTracker.scala:219-255`, SURVEY.md §2A row 3): both tables
    * are pre-hashed into 8 aligned buckets on the join key, so the join
    * plans with NO Exchange on either side (asserted in ExtensionsSpec) —
    * at 100 TB this is the difference between re-shuffling two fact tables
    * per query and never shuffling them at all. */
  def x18BucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val (li, ord) = bucketedTables(spark, dir)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        dsumRevenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** Partitioned write + partition-pruned read: orders land in one
    * directory per o_orderstatus; the status predicate then prunes entire
    * partitions at planning time (the scan never opens non-F files) — the
    * standard large-table layout lever, visible as `PartitionFilters` in
    * the scan node. */
  def x19PartitionPruning(spark: SparkSession, dir: String): DataFrame = {
    val root = s"$covBase/orders_parted_${dirTag(dir)}"
    synchronized {
      if (!writtenLayouts.contains(s"parted:$dir")) {
        t(spark, dir, "orders").write.mode("overwrite")
          .partitionBy("o_orderstatus").parquet(root)
        writtenLayouts += s"parted:$dir"
      }
    }
    spark.read.parquet(root)
      .filter(col("o_orderstatus") === "F")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderpriority")
  }

  /** Statistical aggregates computed DETERMINISTICALLY: variance/stddev/
    * correlation derived from exact DECIMAL component sums (S1, S2, cross
    * products) with the final double arithmetic written identically in both
    * engines — the built-in streaming stddev/corr are float-order-dependent
    * and can never hash-match across engines. Still one partial+final
    * aggregation pass at scale. */
  def q24Stats(spark: SparkSession, dir: String): DataFrame = {
    // cents; a product of two is the DECIMAL(25,4) dec(a) * dec(b)
    val q = units(col("l_quantity")); val p = units(col("l_extendedprice"))
    val agg = t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        moneySum(q, Money).cast(DoubleType).as("s1"),
        moneySum(q, q, MoneyProduct).cast(DoubleType).as("s2"),
        moneySum(p, Money).cast(DoubleType).as("sp"),
        moneySum(p, p, MoneyProduct).cast(DoubleType).as("sp2"),
        moneySum(q, p, MoneyProduct).cast(DoubleType).as("sqp"))
    val n = col("n").cast(DoubleType)
    // derived statistics rounded to 9 decimals: the component sums are
    // exact, but the composed double arithmetic can differ by 1 ULP across
    // engines (same policy as the 6-decimal cosine rounding)
    agg.select(
      col("l_returnflag"), col("n"),
      round(col("s1") / n, 9).as("mean_qty"),
      round((col("s2") - col("s1") * col("s1") / n) / (n - 1), 9).as("var_qty"),
      round(sqrt((col("s2") - col("s1") * col("s1") / n) / (n - 1)), 9).as("stddev_qty"),
      round((col("sqp") - col("s1") * col("sp") / n) /
        sqrt((col("s2") - col("s1") * col("s1") / n) *
          (col("sp2") - col("sp") * col("sp") / n)), 9).as("corr_qty_price"))
      .orderBy("l_returnflag")
  }

  /** LEFT OUTER join preserving zero-match rows + two-level aggregation
    * (TPC-H Q13 shape): orders-per-customer distribution INCLUDING
    * customers with no qualifying orders — count(o_orderkey) counts
    * non-null matches only, which is the outer-join-specific semantics an
    * inner join cannot express. */
  def q25OuterCounts(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .join(t(spark, dir, "orders").filter(col("o_orderpriority") =!= "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"))
      .groupBy(col("n_orders"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("n_orders")

  /** Keep-latest dedup (the production "latest record per key" pattern):
    * row_number over (key, time desc, tiebreak desc) = 1. One shuffle on
    * the key; at scale this is the standard CDC-compaction plan. */
  def q26KeepLatest(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Catalog.eventsNorm(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("event_type").as("last_event_type"),
        asLong(unix_micros(col("ts"))).as("last_ts_us"))
      .orderBy("user_id")
  }

  /** FULL OUTER join with coalesced sides: per-nation supplier vs customer
    * counts where either side may be absent (suppliers filtered to positive
    * balances). Exercises null-extension on BOTH sides. */
  def x20FullOuter(spark: SparkSession, dir: String): DataFrame = {
    val s = t(spark, dir, "supplier").filter(col("s_acctbal") > 3000)
      .groupBy(col("s_nationkey")).agg(count(lit(1)).as("n_suppliers"))
    val c = t(spark, dir, "customer").filter(col("c_acctbal") > 8000)
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_customers"))
    s.join(c, col("s_nationkey") === col("c_nationkey"), "full_outer")
      .select(
        coalesce(col("s_nationkey"), col("c_nationkey")).as("nationkey"),
        coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"),
        coalesce(col("n_customers"), lit(0L)).as("n_customers"))
      .orderBy("nationkey")
  }

  /** Widest plan in the registry (TPC-DS-style star): fact ⋈ orders ⋈ 5
    * dimensions with a rollup — the multi-join shape the reference was
    * benchmarked on (TPC-DS, `README.md:56-58`). Only the FIXED dims
    * (nation/region, 25/5 rows at any SF) carry broadcast hints; the
    * scaling dims (customer/supplier/part) are left to stats so the plan
    * adapts when they outgrow the threshold. lineitem ⋈ orders is
    * fact-to-fact and correctly shuffles on the order key at scale
    * (locally AQE may broadcast it — either plan is right for its size). */
  def q29WideStar(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem").filter(col("l_shipdate") >= ts("1996-01-01"))
    // TWO-LEVEL aggregation under the rollup (r19, guide §2.3 "aggregate
    // before you shuffle"): the joined fact stream first reduces to one
    // row per (r_name, n_name, c_mktsegment) — ≤ |regions|×|nations|×
    // |segments| rows, with ordinary map-side partials — and rollup's
    // 3-set Expand (plus the collect_set ObjectHashAggregate) then runs
    // over that bounded frame instead of ×3-ing the registry's widest
    // joined row stream. Exactness: n_lines is a sum of disjoint counts;
    // revenue partials stay in EXACT decimal until the single final cast
    // to double (associative — the oracle's one-level decimal sum yields
    // the same value bit-for-bit); n_segments = distinct segments, and
    // the pre-agg emits each (group, segment) exactly once, so the
    // outer collect_set sees the same set (both levels skip NULLs the
    // way COUNT(DISTINCT) does).
    val perSeg = li
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(t(spark, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(t(spark, dir, "part"), col("l_partkey") === col("p_partkey"))
      .join(broadcast(t(spark, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(spark, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"), col("c_mktsegment"))
      .agg(count(lit(1)).as("pn"),
        moneySum(units(col("l_extendedprice")), revenueFactor(col("l_discount")), Revenue)
          .as("prev"))
    perSeg
      .rollup(col("r_name"), col("n_name"))
      .agg(sum(col("pn")).as("n_lines"),
        moneySum(col("prev"), sumType(Revenue)).cast(DoubleType).as("revenue"),
        // size(collect_set), NOT countDistinct: a mixed distinct+regular
        // agg plans a RewriteDistinctAggregates Expand (×2 projections)
        // ON TOP of rollup's — and the set is now built over the tiny
        // pre-aggregated frame (NULL handling matches COUNT(DISTINCT):
        // both skip)
        asLong(size(collect_set(col("c_mktsegment")))).as("n_segments"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
  }

  /** Two-nation volume shipping (TPC-H Q7 shape): supplier nation and
    * customer nation must form one of two ordered pairs — a disjunctive
    * CROSS-table predicate over a 4-way join, grouped by year. Both nation
    * dims broadcast (fixed 25 rows); customer/supplier scale with SF so
    * their join strategy is left to stats; the fact-side joins shuffle on
    * their keys. */
  def q31VolumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val sn = t(spark, dir, "nation").select(col("n_nationkey").as("s_nk"),
      col("n_name").as("supp_nation"))
    val cn = t(spark, dir, "nation").select(col("n_nationkey").as("c_nk"),
      col("n_name").as("cust_nation"))
    t(spark, dir, "lineitem")
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(t(spark, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(sn), col("s_nationkey") === col("s_nk"))
      .join(broadcast(cn), col("c_nationkey") === col("c_nk"))
      .filter(
        (col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
        (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        asLong(year(col("l_shipdate"))).as("l_year"))
      .agg(dsumRevenue(col("l_extendedprice"), col("l_discount")).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** Disjunctive join predicate (TPC-H Q19 shape): OR of AND-groups mixing
    * both sides. Catalyst extracts the common `l_partkey = p_partkey`
    * conjunct as the equi-join key and keeps the disjunction as a post-join
    * filter, while per-side conjuncts (quantity/size bounds) are pushed to
    * the scans — the standard partial-CNF pushdown test. */
  def q30Disjunctive(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val p = t(spark, dir, "part")
    // part scales with SF — no broadcast pin; stats pick the strategy
    li.join(p, col("l_partkey") === col("p_partkey") && (
      (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 15)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(10, 30) &&
        col("l_quantity").between(10, 25)) ||
      (col("p_type") === "PROMO" && col("l_quantity") >= 40)))
      .agg(count(lit(1)).as("n_lines"),
        dsumRevenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
  }

  /** Null-safe equality (`<=>` / IS NOT DISTINCT FROM) vs plain `=` over a
    * nullable computed column — the three-valued-logic corner worth its own
    * verified query. */
  def x22NullSafeEq(spark: SparkSession, dir: String): DataFrame = {
    val nullableStatus = when(col("o_orderstatus") =!= "P", col("o_orderstatus"))
    t(spark, dir, "orders")
      .filter(col("o_orderkey") % 25 === 0)
      .select(col("o_orderkey"), nullableStatus.as("st"))
      .select(
        col("o_orderkey"),
        coalesce(col("st"), lit("?")).as("status_or_q"),
        (col("st") <=> lit("F")).as("nse_f"),
        (col("st") <=> lit(null).cast("string")).as("nse_null"),
        (col("st") === lit("F")).isNull.as("eq_yields_null"))
      .orderBy("o_orderkey")
  }

  /** String-function breadth: regexp_replace, translate, lpad, repeat,
    * reverse, position, levenshtein — each with a DuckDB twin of identical
    * semantics. */
  def x23StringFns(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "part")
      .filter(col("p_partkey") % 20 === 0)
      .select(
        col("p_partkey"),
        regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"),
        translate(col("p_type"), "AEO", "aeo").as("translated"),
        lpad(col("p_brand"), 12, "*").as("padded"),
        reverse(col("p_name")).as("reversed"),
        asLong(instr(col("p_type"), "PROMO")).as("promo_pos"),
        asLong(levenshtein(col("p_brand"), col("p_type"))).as("lev_brand_type"),
        repeat(substring(col("p_name"), 1, 3), 2).as("head_twice"))
      .orderBy("p_partkey")

  /** Plain-text source/sink roundtrip (the line-oriented format §2D's
    * source row still lacked): part names written as .text lines, read
    * back, aggregated. p_name is newline-free, so line = row exactly. */
  def x24TextSource(spark: SparkSession, dir: String): DataFrame = {
    val root = s"$covBase/part_names_${dirTag(dir)}"
    synchronized {
      if (!writtenLayouts.contains(s"text:$dir")) {
        t(spark, dir, "part").select(col("p_name")).write.mode("overwrite").text(root)
        writtenLayouts += s"text:$dir"
      }
    }
    spark.read.text(root)
      .select(substring(col("value"), 1, 1).as("initial"))
      .groupBy(col("initial")).agg(count(lit(1)).as("n_names"))
      .orderBy("initial")
  }

  /** Custom table-valued function (Catalyst Generator) via LATERAL VIEW:
    * [[graft.expr.TokenizeGenerator]] expands each sampled document into
    * (pos, tok) rows inside the scan stage. */
  def x21CustomTvf(spark: SparkSession, dir: String): DataFrame = {
    graft.expr.Generators.register(spark)
    val d = view(spark, dir, "documents")
    spark.sql(
      s"""SELECT doc_id, CAST(pos AS BIGINT) AS pos, tok
         |FROM $d LATERAL VIEW graft_tokens(text) t AS pos, tok
         |WHERE doc_id % 25 = 0
         |ORDER BY doc_id, pos""".stripMargin)
  }

  /** Pre-build the x18/x19 table layouts (idempotent, memoized): called
    * from Bench's UNTIMED warmup so those queries measure the read-side
    * plan — the shuffle-free join / pruned scan — not the one-time layout
    * write a production deployment amortizes across all its queries. */
  def prepareLayouts(spark: SparkSession, dir: String): Unit = {
    bucketedTables(spark, dir)
    x19PartitionPruning(spark, dir) // builds the partitioned copy; plan unused
    x24TextSource(spark, dir) // builds the text layout; plan unused
    ()
  }

  /** TPC-H Q21 shape ("suppliers who kept orders waiting"), adapted to this
    * corpus's columns: suppliers whose lineitem came back RETURNED
    * (`l_returnflag = 'R'`) on a multi-supplier order where NO other
    * supplier's line was returned — i.e. the sole culprit. The interesting
    * plan property is the same as Q21's: a SEMI and an ANTI self-join of
    * the fact table against different filtered views of ITSELF on the same
    * key (both shuffle on l_orderkey, so AQE plans them back-to-back on
    * one exchange), then a count + top-k. */
  def q32SoleCulprit(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val returned = li.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_suppkey"))
    val others = li.select(col("l_orderkey"), col("l_suppkey").as("o_supp"))
    val returnedOthers = returned.select(col("l_orderkey"),
      col("l_suppkey").as("r_supp"))
    val culprit = returned
      .join(others,
        returned("l_orderkey") === others("l_orderkey") &&
          col("l_suppkey") =!= col("o_supp"), "left_semi")
      .join(returnedOthers,
        returned("l_orderkey") === returnedOthers("l_orderkey") &&
          col("l_suppkey") =!= col("r_supp"), "left_anti")
    culprit.groupBy(col("l_suppkey"))
      .agg(asLong(count(lit(1))).as("numwait"))
      .orderBy(col("numwait").desc, col("l_suppkey"))
      .limit(20)
  }

  /** Event-sequence FUNNEL over the events table: how many users complete
    * view → click (≤ 30 min later) → purchase (≤ 30 min after that
    * qualifying click). The product-analytics sequence shape: each stage is
    * a user-keyed equi-join with a time-range predicate riding it, and each
    * stage's output is the distinct set feeding the next — so at 100 TB
    * every join shuffles on user_id (AQE-splittable) and only (user, ts)
    * pairs flow between stages, never event payloads. */
  def q33Funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Catalog.eventsNorm(spark, dir)
    def stage(kind: String, u: String, t: String) =
      ev.filter(col("event_type") === kind)
        .select(col("user_id").as(u), col("ts").as(t))
    val views = stage("view", "user_id", "v_ts")
    val clicks = stage("click", "c_user", "c_ts")
    val purchases = stage("purchase", "p_user", "p_ts")
    val win = expr("INTERVAL 30 MINUTES")
    // clicks that qualified (followed a view within the window), distinct:
    // one click can follow many views but must count once downstream
    val qc = views.join(clicks,
        col("c_user") === col("user_id") &&
          col("c_ts") >= col("v_ts") && col("c_ts") <= col("v_ts") + win)
      .select(col("c_user"), col("c_ts")).distinct()
    val s3users = qc.join(purchases,
        col("p_user") === col("c_user") &&
          col("p_ts") >= col("c_ts") && col("p_ts") <= col("c_ts") + win)
      .select(col("c_user")).distinct()
    val r1 = views.agg(asLong(countDistinct(col("user_id"))).as("n_users"))
      .select(lit("1_view").as("stage"), col("n_users"))
    val r2 = qc.agg(asLong(countDistinct(col("c_user"))).as("n_users"))
      .select(lit("2_click").as("stage"), col("n_users"))
    val r3 = s3users.agg(asLong(count(lit(1))).as("n_users"))
      .select(lit("3_purchase").as("stage"), col("n_users"))
    r1.union(r2).union(r3).orderBy("stage")
  }

  /** q34: month-over-month revenue growth — the AGG-THEN-WINDOW analytic
    * shape (time-series trend over an aggregate, vs x13/x15's windows over
    * raw rows). The window input is the MONTHLY aggregate (a handful of
    * rows at any corpus size — partial aggregation collapses the fact scan
    * first), so the unpartitioned window sort is a constant-size
    * single-task step no matter how large lineitem grows; the growth ratio
    * divides two exact decimal-summed revenues (deterministic doubles),
    * rounded to 6. First month's growth is NULL by construction. */
  def q34MonthlyGrowth(spark: SparkSession, dir: String): DataFrame = {
    val monthly = t(spark, dir, "lineitem")
      .groupBy(date_trunc("month", col("l_shipdate")).as("month"))
      .agg(dsumRevenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
    val w = Window.orderBy("month")
    monthly
      .withColumn("prev", lag(col("revenue"), 1).over(w))
      .select(col("month"), col("revenue"),
        round((col("revenue") - col("prev")) / col("prev"), 6).as("growth"))
      .orderBy("month")
  }

  /** q35: TPC-H Q22 shape ("global sales opportunity") on this corpus's
    * columns — customers from a nation subset whose balance beats the
    * subset's positive-balance average and who never placed an URGENT
    * order (this corpus gives every customer ~10 orders, so the classic
    * "never ordered" anti-set is empty at every SF; the priority
    * restriction keeps the anti-join non-vacuous). SQL text on purpose
    * (like q21-q23): the scalar average runs ONCE as a ScalarSubquery
    * (broadcast as a literal, not joined), and the NOT EXISTS
    * decorrelates to a left-anti hash join on c_custkey — no per-row
    * subquery execution anywhere in the physical plan. */
  def q35AboveAvgInactive(spark: SparkSession, dir: String): DataFrame = {
    val c = view(spark, dir, "customer")
    val o = view(spark, dir, "orders")
    val nations = "(0, 3, 6, 9, 12, 15, 18, 21, 24)"
    val avgBal =
      s"""SELECT CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
         |            / COUNT(c_acctbal) AS DOUBLE)
         |FROM $c WHERE c_acctbal > 0 AND c_nationkey IN $nations""".stripMargin
    spark.sql(
      s"""SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS numcust,
         |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
         |FROM $c c
         |WHERE c_nationkey IN $nations
         |  AND c_acctbal > ($avgBal)
         |  AND NOT EXISTS (SELECT 1 FROM $o o WHERE o.o_custkey = c.c_custkey
         |                  AND o.o_orderpriority = '1-URGENT')
         |GROUP BY c_nationkey
         |ORDER BY c_nationkey""".stripMargin)
  }

  /** x25: unionByName with allowMissingColumns — schema-evolution union
    * (two corpus slices with drifted projections, absent columns
    * null-filled BY NAME, not by position — positional union would
    * silently misalign). The two branches stay separate scans with the
    * union above them; each branch's projection pushes into its own scan. */
  def x25UnionByName(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val a = li.filter(col("l_returnflag") === "A")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    val b = li.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    a.unionByName(b, allowMissingColumns = true)
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** q36: per-user behavior TRAJECTORIES — the sequence-building stage for
    * behavioral training data: each user's time-ordered event-type
    * sequence compacted to (length, #type-transitions, endpoints, and an
    * order-sensitive fingerprint). Ordering is the engine-wide
    * deterministic total order (ts, event_id). The Spark side builds the
    * per-user sequence as a sorted struct array (state bounded by the
    * user's own event count — the inherent cost of sequence building; a
    * pathological power-user key is AQE/salting territory upstream);
    * the oracle reaches the same values through lag + ordered string_agg,
    * so agreement is evidence of the SEMANTICS, not of one shared
    * formulation. */
  def q36UserTrajectories(spark: SparkSession, dir: String): DataFrame = {
    val seq0 = sort_array(collect_list(struct(
      col("ts"), col("event_id"), col("event_type"))))
    val types = col("types")
    val n = size(types)
    val transitions = size(filter(
      zip_with(slice(types, lit(1), n - 1), slice(types, lit(2), n - 1),
        (a, b) => a =!= b),
      x => x))
    Catalog.eventsNorm(spark, dir)
      .groupBy(col("user_id"))
      .agg(seq0.as("seq"))
      .select(col("user_id"),
        transform(col("seq"), x => x.getField("event_type")).as("types"))
      .select(col("user_id"),
        asLong(n).as("n_events"),
        asLong(when(n <= 1, lit(0)).otherwise(transitions)).as("n_transitions"),
        element_at(types, 1).as("first_type"),
        element_at(types, -1).as("last_type"),
        md5(concat_ws(">", types)).as("traj_fp"))
      .orderBy("user_id")
  }

  /** q37: RETENTION COHORTS — the product-analytics matrix: users grouped
    * by the week of their first event, each cohort's active-user count at
    * every week offset, with retention as the fraction of the cohort's
    * week-0 size. Weeks are exact integer FLOOR division of the micros
    * epoch by one week — spelled `(x - pmod(x, w)) div w` on the Spark
    * side because `div` alone truncates toward zero while DuckDB's `//`
    * floors, and the two diverge on pre-1970 timestamps (the numerator is
    * an exact multiple of w, so the `div` is exact floor for either
    * sign); the per-cell count is a plain count(*) over the
    * pre-DISTINCTed (user, week) pairs — the t8 discipline, no
    * corpus-sized countDistinct under the low-cardinality cohort key.
    *
    * SCALE SHAPE: one distinct on (user_id, week) (the dominant shuffle,
    * AQE-splittable on user skew), a per-user min (same key — partial
    * aggregated), a user-keyed equi-join, and a tiny |weeks|² cell
    * aggregate; the window for cohort size runs over the cell table, not
    * the corpus. */
  def q37RetentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val weeks = Catalog.eventsNorm(spark, dir)
      .select(col("user_id"),
        expr("(unix_micros(ts) - pmod(unix_micros(ts), 604800000000))" +
          " div 604800000000").as("wk"))
      .distinct()
    val cohort = weeks.groupBy(col("user_id")).agg(min(col("wk")).as("cwk"))
    val cells = weeks.join(cohort, Seq("user_id"))
      .groupBy(col("cwk"), (col("wk") - col("cwk")).as("off"))
      .agg(asLong(count(lit(1))).as("n_active"))
    val w = Window.partitionBy(col("cwk"))
    cells
      .withColumn("n_cohort",
        max(when(col("off") === 0, col("n_active"))).over(w))
      .select(asLong(col("cwk")).as("cohort_week"),
        asLong(col("off")).as("week_offset"),
        col("n_active"),
        (col("n_active").cast(DoubleType) / col("n_cohort").cast(DoubleType))
          .as("retention"))
      .orderBy("cohort_week", "week_offset")
  }

  private[graft] val SessionGapUs = 43200000000L // 12 h — see q38 scaladoc

  /** q38: within-session event CO-OCCURRENCE with LIFT — the market-basket
    * association statistic (lift = P(a,b)/(P(a)·P(b)), Brin et al. 1997)
    * over behavioral sessions: sessionize each user's stream with a 12-hour
    * inactivity gap (the testdata's median inter-event gap is ~7 h, so a
    * web-style 30-min gap would make every event its own session), reduce
    * each session to its DISTINCT event-type set, and score every unordered
    * type pair. Lift is computed from exact BIGINT counts — deliberately
    * lift rather than (log-scaled) PMI: no `ln` crosses the engine
    * boundary, per the t11 linear-idf determinism rule.
    *
    * Gap semantics mirror Spark's session_window: a new session starts only
    * when the gap strictly EXCEEDS the threshold (CLAUDE.md: merges at
    * exactly-gap). Session identity is (user_id, running new-session sum)
    * under the engine-wide (ts, event_id) total order.
    *
    * SCALE SHAPE: the sessionizing window is PARTITIONED by user (never
    * global); the distinct (user, sid, type) projection bounds everything
    * downstream — the self-join runs on (user_id, sid) with ≤ |types| rows
    * per side per session, singles/pairs aggregate to ≤ |types|² rows, and
    * the session total is a scalar subquery (one extra pass over the
    * distinct frame, broadcast as a literal — the q28 discipline, not a
    * cartesian). Event payloads never leave the first projection. */
  def q38CooccurrenceLift(spark: SparkSession, dir: String): DataFrame = {
    Catalog.eventsNorm(spark, dir).createOrReplaceTempView("cov_events_norm")
    spark.sql(
      s"""WITH e AS (
         |  SELECT user_id, ts, event_id, event_type,
         |    CASE WHEN lag(unix_micros(ts)) OVER w IS NULL
         |           OR unix_micros(ts) - lag(unix_micros(ts)) OVER w
         |              > $SessionGapUs
         |         THEN 1 ELSE 0 END AS ns
         |  FROM cov_events_norm
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |s AS (SELECT user_id, event_type,
         |        sum(ns) OVER (PARTITION BY user_id
         |                      ORDER BY ts, event_id) AS sid
         |      FROM e),
         |st AS (SELECT DISTINCT user_id, sid, event_type FROM s),
         |singles AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
         |            FROM st GROUP BY event_type),
         |pairs AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
         |            CAST(count(*) AS BIGINT) AS n_ab
         |          FROM st a JOIN st b
         |            ON a.user_id = b.user_id AND a.sid = b.sid
         |               AND a.event_type < b.event_type
         |          GROUP BY 1, 2),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_sessions
         |        FROM (SELECT DISTINCT user_id, sid FROM st)),
         |sc AS (SELECT (SELECT n_sessions FROM tot) AS n_sessions)
         |SELECT p.type_a, p.type_b, p.n_ab, sa.n AS n_a, sb.n AS n_b,
         |  (SELECT n_sessions FROM sc) AS n_sessions,
         |  CAST(p.n_ab * (SELECT n_sessions FROM sc) AS DOUBLE)
         |    / CAST(sa.n * sb.n AS DOUBLE) AS lift
         |FROM pairs p
         |JOIN singles sa ON sa.event_type = p.type_a
         |JOIN singles sb ON sb.event_type = p.type_b
         |ORDER BY type_a, type_b""".stripMargin)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q38_cooccurrence_lift" -> q38CooccurrenceLift,
    "q37_retention_cohorts" -> q37RetentionCohorts,
    "q36_user_trajectories" -> q36UserTrajectories,
    "q35_above_avg_inactive" -> q35AboveAvgInactive,
    "x25_union_by_name" -> x25UnionByName,
    "q34_monthly_growth" -> q34MonthlyGrowth,
    "q33_funnel" -> q33Funnel,
    "q32_sole_culprit" -> q32SoleCulprit,
    "q29_wide_star" -> q29WideStar,
    "q30_disjunctive" -> q30Disjunctive,
    "q31_volume_shipping" -> q31VolumeShipping,
    "x22_null_safe_eq" -> x22NullSafeEq,
    "x23_string_fns" -> x23StringFns,
    "x24_text_source" -> x24TextSource,
    "x21_custom_tvf" -> x21CustomTvf,
    "q25_outer_counts" -> q25OuterCounts,
    "q26_keep_latest" -> q26KeepLatest,
    "q27_min_cost" -> q27MinCost,
    "q28_global_share" -> q28GlobalShare,
    "x20_full_outer" -> x20FullOuter,
    "q21_exists_subquery" -> q21Exists,
    "q22_in_subquery" -> q22InSubquery,
    "q23_corr_scalar" -> q23CorrScalar,
    "q24_stats" -> q24Stats,
    "x15_window_suite" -> x15WindowSuite,
    "x16_array_map_fns" -> x16ArrayMapFns,
    "x17_date_fns" -> x17DateFns,
    "x18_bucketed_join" -> x18BucketedJoin,
    "x19_partition_pruning" -> x19PartitionPruning)

  val oracles: Map[String, String] = Map(
    "q38_cooccurrence_lift" ->
      s"""WITH e AS (
         |  SELECT user_id, ts, event_id, event_type,
         |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
         |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
         |              > ${Coverage.SessionGapUs}
         |         THEN 1 ELSE 0 END AS ns
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |s AS (SELECT user_id, event_type,
         |        sum(ns) OVER (PARTITION BY user_id
         |                      ORDER BY ts, event_id) AS sid
         |      FROM e),
         |st AS (SELECT DISTINCT user_id, sid, event_type FROM s),
         |singles AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
         |            FROM st GROUP BY event_type),
         |pairs AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
         |            CAST(count(*) AS BIGINT) AS n_ab
         |          FROM st a JOIN st b
         |            ON a.user_id = b.user_id AND a.sid = b.sid
         |               AND a.event_type < b.event_type
         |          GROUP BY 1, 2),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_sessions
         |        FROM (SELECT DISTINCT user_id, sid FROM st))
         |SELECT p.type_a, p.type_b, p.n_ab, sa.n AS n_a, sb.n AS n_b,
         |  (SELECT n_sessions FROM tot) AS n_sessions,
         |  CAST(p.n_ab * (SELECT n_sessions FROM tot) AS DOUBLE)
         |    / CAST(sa.n * sb.n AS DOUBLE) AS lift
         |FROM pairs p
         |JOIN singles sa ON sa.event_type = p.type_a
         |JOIN singles sb ON sb.event_type = p.type_b
         |ORDER BY type_a, type_b""".stripMargin,
    "q37_retention_cohorts" ->
      """WITH wk AS (SELECT DISTINCT user_id,
        |              epoch_us(ts) // 604800000000 AS wk FROM events),
        |c AS (SELECT user_id, min(wk) AS cwk FROM wk GROUP BY user_id),
        |cell AS (SELECT c.cwk, w.wk - c.cwk AS off,
        |           CAST(count(*) AS BIGINT) AS n_active
        |         FROM wk w JOIN c ON w.user_id = c.user_id
        |         GROUP BY c.cwk, w.wk - c.cwk),
        |t AS (SELECT *, max(CASE WHEN off = 0 THEN n_active END)
        |        OVER (PARTITION BY cwk) AS n_cohort FROM cell)
        |SELECT CAST(cwk AS BIGINT) AS cohort_week,
        |  CAST(off AS BIGINT) AS week_offset, n_active,
        |  CAST(n_active AS DOUBLE) / CAST(n_cohort AS DOUBLE) AS retention
        |FROM t ORDER BY cohort_week, week_offset""".stripMargin,
    // q36: lag + ordered string_agg formulation (vs Spark's sorted array)
    // — same (ts, event_id) total order, independently derived
    "q36_user_trajectories" ->
      """WITH o AS (SELECT user_id, event_type, ts, event_id,
        |             lag(event_type) OVER (PARTITION BY user_id
        |                                   ORDER BY ts, event_id) AS prev
        |           FROM events)
        |SELECT user_id,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND prev <> event_type
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_transitions,
        |  first(event_type ORDER BY ts, event_id) AS first_type,
        |  last(event_type ORDER BY ts, event_id) AS last_type,
        |  md5(string_agg(event_type, '>' ORDER BY ts, event_id)) AS traj_fp
        |FROM o GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q35_above_avg_inactive" ->
      """SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
        |FROM customer c
        |WHERE c_nationkey IN (0, 3, 6, 9, 12, 15, 18, 21, 24)
        |  AND c_acctbal > (
        |    SELECT CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
        |                / COUNT(c_acctbal) AS DOUBLE)
        |    FROM customer
        |    WHERE c_acctbal > 0
        |      AND c_nationkey IN (0, 3, 6, 9, 12, 15, 18, 21, 24))
        |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |                  AND o.o_orderpriority = '1-URGENT')
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,
    "x25_union_by_name" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |       CAST(NULL AS DOUBLE) AS l_extendedprice
        |FROM lineitem WHERE l_returnflag = 'A'
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, CAST(NULL AS DOUBLE) AS l_quantity,
        |       l_extendedprice
        |FROM lineitem WHERE l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q34_monthly_growth" ->
      s"""WITH m AS (SELECT date_trunc('month', l_shipdate) AS month,
        |             ${graft.Sql.SumRevSql} AS revenue
        |           FROM lineitem GROUP BY date_trunc('month', l_shipdate))
        |SELECT month, revenue,
        |  round((revenue - lag(revenue) OVER (ORDER BY month))
        |        / lag(revenue) OVER (ORDER BY month), 6) AS growth
        |FROM m ORDER BY month""".stripMargin,
    "q33_funnel" ->
      """WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
        |c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
        |qc AS (SELECT DISTINCT c.user_id, c.ts
        |       FROM v JOIN c ON c.user_id = v.user_id
        |        AND epoch_us(c.ts) >= epoch_us(v.ts)
        |        AND epoch_us(c.ts) <= epoch_us(v.ts) + 1800000000),
        |s3 AS (SELECT DISTINCT qc.user_id
        |       FROM qc JOIN p ON p.user_id = qc.user_id
        |        AND epoch_us(p.ts) >= epoch_us(qc.ts)
        |        AND epoch_us(p.ts) <= epoch_us(qc.ts) + 1800000000)
        |SELECT '1_view' AS stage, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM v
        |UNION ALL
        |SELECT '2_click', CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM qc
        |UNION ALL
        |SELECT '3_purchase', CAST(COUNT(*) AS BIGINT) FROM s3
        |ORDER BY stage""".stripMargin,
    "q32_sole_culprit" ->
      """WITH r AS (SELECT l_orderkey, l_suppkey FROM lineitem
        |           WHERE l_returnflag = 'R')
        |SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS numwait
        |FROM r
        |WHERE EXISTS (SELECT 1 FROM lineitem l2
        |        WHERE l2.l_orderkey = r.l_orderkey
        |          AND l2.l_suppkey <> r.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM r r2
        |        WHERE r2.l_orderkey = r.l_orderkey
        |          AND r2.l_suppkey <> r.l_suppkey)
        |GROUP BY l_suppkey
        |ORDER BY numwait DESC, l_suppkey LIMIT 20""".stripMargin,
    "x24_text_source" ->
      """SELECT substr(p_name, 1, 1) AS initial, COUNT(*) AS n_names
        |FROM part GROUP BY substr(p_name, 1, 1) ORDER BY initial""".stripMargin,
    "q29_wide_star" ->
      s"""SELECT r_name, n_name, COUNT(*) AS n_lines,
        |  ${graft.Sql.SumRevSql} AS revenue,
        |  COUNT(DISTINCT c_mktsegment) AS n_segments
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN part ON l_partkey = p_partkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,
    "q31_volume_shipping" ->
      s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
        |  ${graft.Sql.SumRevSql} AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE (sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_7')
        |   OR (sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_3')
        |GROUP BY sn.n_name, cn.n_name, EXTRACT(YEAR FROM l_shipdate)
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "q30_disjunctive" ->
      s"""SELECT COUNT(*) AS n_lines,
        |  ${graft.Sql.SumRevSql} AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        | AND ((p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |        AND l_quantity BETWEEN 1 AND 15)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 30
        |        AND l_quantity BETWEEN 10 AND 25)
        |   OR (p_type = 'PROMO' AND l_quantity >= 40))""".stripMargin,
    "x22_null_safe_eq" ->
      """SELECT o_orderkey,
        |  COALESCE(st, '?') AS status_or_q,
        |  st IS NOT DISTINCT FROM 'F' AS nse_f,
        |  st IS NOT DISTINCT FROM NULL AS nse_null,
        |  (st = 'F') IS NULL AS eq_yields_null
        |FROM (SELECT o_orderkey,
        |        CASE WHEN o_orderstatus <> 'P' THEN o_orderstatus END AS st
        |      FROM orders WHERE o_orderkey % 25 = 0) t
        |ORDER BY o_orderkey""".stripMargin,
    "x23_string_fns" ->
      """SELECT p_partkey,
        |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
        |  translate(p_type, 'AEO', 'aeo') AS translated,
        |  lpad(p_brand, 12, '*') AS padded,
        |  reverse(p_name) AS reversed,
        |  CAST(strpos(p_type, 'PROMO') AS BIGINT) AS promo_pos,
        |  CAST(levenshtein(p_brand, p_type) AS BIGINT) AS lev_brand_type,
        |  repeat(substr(p_name, 1, 3), 2) AS head_twice
        |FROM part WHERE p_partkey % 20 = 0
        |ORDER BY p_partkey""".stripMargin,
    // generate_series cannot take lateral column args in DuckDB; the
    // indexed two-arg lambda + struct unnest expresses the same expansion
    "x21_custom_tvf" ->
      s"""WITH d AS (SELECT doc_id,
         |    ${graft.functions.Text.sqlTokens("text")} AS toks
         |  FROM documents WHERE doc_id % 25 = 0),
         |e AS (SELECT doc_id,
         |    unnest(list_transform(toks, (t, i) -> {'tok': t, 'pos': i})) AS u
         |  FROM d)
         |SELECT doc_id, CAST(u.pos - 1 AS BIGINT) AS pos, u.tok AS tok
         |FROM e ORDER BY doc_id, pos""".stripMargin,
    "q27_min_cost" ->
      """SELECT DISTINCT l_partkey, l_suppkey, l_extendedprice
        |FROM lineitem l
        |WHERE l_partkey % 40 = 0
        |  AND CAST(l_extendedprice AS DECIMAL(12,2)) =
        |      (SELECT MIN(CAST(l2.l_extendedprice AS DECIMAL(12,2))) FROM lineitem l2
        |       WHERE l2.l_partkey = l.l_partkey)
        |ORDER BY l_partkey, l_suppkey""".stripMargin,
    "q28_global_share" ->
      """SELECT l_suppkey,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM lineitem GROUP BY l_suppkey
        |HAVING SUM(CAST(l_extendedprice AS DECIMAL(12,2))) * 10000 >
        |       11 * (SELECT SUM(CAST(l_extendedprice AS DECIMAL(12,2))) FROM lineitem)
        |ORDER BY l_suppkey""".stripMargin,
    "q25_outer_counts" ->
      """SELECT n_orders, COUNT(*) AS n_customers FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS n_orders
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey) t
        |GROUP BY n_orders ORDER BY n_orders""".stripMargin,
    "q26_keep_latest" ->
      """SELECT user_id, event_id AS last_event_id,
        |  event_type AS last_event_type,
        |  CAST(epoch_us(ts) AS BIGINT) AS last_ts_us
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |        ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |      FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "x20_full_outer" ->
      """WITH s AS (SELECT s_nationkey, COUNT(*) AS n_suppliers
        |           FROM supplier WHERE s_acctbal > 3000 GROUP BY s_nationkey),
        |c AS (SELECT c_nationkey, COUNT(*) AS n_customers
        |      FROM customer WHERE c_acctbal > 8000 GROUP BY c_nationkey)
        |SELECT COALESCE(s_nationkey, c_nationkey) AS nationkey,
        |  COALESCE(n_suppliers, 0) AS n_suppliers,
        |  COALESCE(n_customers, 0) AS n_customers
        |FROM s FULL OUTER JOIN c ON s_nationkey = c_nationkey
        |ORDER BY nationkey""".stripMargin,
    "q24_stats" ->
      """WITH a AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS s2,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sp,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sp2,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sqp
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  round(s1 / CAST(n AS DOUBLE), 9) AS mean_qty,
        |  round((s2 - s1 * s1 / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1), 9) AS var_qty,
        |  round(sqrt((s2 - s1 * s1 / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)), 9) AS stddev_qty,
        |  round((sqp - s1 * sp / CAST(n AS DOUBLE)) /
        |    sqrt((s2 - s1 * s1 / CAST(n AS DOUBLE)) *
        |      (sp2 - sp * sp / CAST(n AS DOUBLE))), 9) AS corr_qty_price
        |FROM a ORDER BY l_returnflag""".stripMargin,
    "x18_bucketed_join" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n_lines,
        |  ${graft.Sql.SumRevSql} AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "x19_partition_pruning" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q21_exists_subquery" ->
      """SELECT s_suppkey, s_name, s_acctbal
        |FROM supplier s
        |WHERE s_acctbal > (SELECT CAST(SUM(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE)
        |                          / COUNT(*) FROM supplier)
        |  AND EXISTS (SELECT 1 FROM lineitem li
        |              WHERE li.l_suppkey = s.s_suppkey AND li.l_quantity >= 48)
        |ORDER BY s_suppkey""".stripMargin,
    "q22_in_subquery" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
        |  AND o_orderkey NOT IN (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 49)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q23_corr_scalar" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders o
        |WHERE o_totalprice > 2 * (SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        |                                 / COUNT(*)
        |                          FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin,
    "x15_window_suite" ->
      """SELECT o_orderkey, o_orderstatus,
        |  LAG(o_totalprice, 1) OVER w AS prev_price,
        |  LEAD(o_totalprice, 1) OVER w AS next_price,
        |  CAST(DENSE_RANK() OVER w AS BIGINT) AS drank,
        |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        |  FIRST_VALUE(o_orderkey) OVER w AS first_key,
        |  PERCENT_RANK() OVER w AS pct_rank,
        |  CUME_DIST() OVER w AS cdist
        |FROM orders WHERE o_orderkey % 7 = 0
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "x16_array_map_fns" ->
      """WITH g AS (
        |  SELECT l_orderkey,
        |    list(l_linenumber ORDER BY l_linenumber, l_quantity) AS nums,
        |    list(l_quantity ORDER BY l_linenumber, l_quantity) AS qtys
        |  FROM lineitem WHERE l_orderkey % 20 = 0 GROUP BY l_orderkey)
        |SELECT l_orderkey,
        |  CAST(len(nums) AS BIGINT) AS n_lines,
        |  array_to_string(nums, ',') AS line_csv,
        |  CAST(nums[1] AS BIGINT) AS first_line,
        |  list_contains(nums, 3) AS has_line3,
        |  CAST(list_sum(list_transform(qtys, q -> CAST(floor(q) AS BIGINT))) AS BIGINT) AS qty_units,
        |  list_extract(map_extract(map(generate_series(1, len(qtys)), qtys), 1), 1) AS first_qty
        |FROM g ORDER BY l_orderkey""".stripMargin,
    "x17_date_fns" ->
      """SELECT o_orderkey,
        |  strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
        |  strftime(o_orderdate + INTERVAL 2 MONTH, '%Y-%m-%d') AS plus2mo,
        |  strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
        |  CAST(date_diff('day', o_orderdate, TIMESTAMP '1998-01-01') AS BIGINT) AS days_to_98,
        |  CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
        |  CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
        |  strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS week_start,
        |  CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
        |FROM orders WHERE o_orderkey % 50 = 0
        |ORDER BY o_orderkey""".stripMargin)
}
