package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator surface (SURVEY.md §2.12): scans, joins (inner /
  * semi / anti / broadcast), hash aggregation, rollup, windows, sort/top-k
  * and set operations over the TPC-H-ish testdata.
  *
  * Every query is a declarative DataFrame plan — filters and projections
  * reach the parquet scan, aggregates get map-side partial combine, and
  * dimension tables are broadcast so fact-table joins shuffle only when a
  * repartition is genuinely required. Double aggregates are rounded so the
  * DuckDB oracle comparison is stable across summation orders.
  */
object Relational {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** TPC-H Q1-flavored pricing summary: single scan, hash agg with partial
    * combine; grouping keys are low-cardinality so the shuffle is tiny.
    */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t(spark, dir, "lineitem")
      .filter($"l_shipdate" < lit("1999-01-01"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        round(sum($"l_quantity"), 2).as("sum_qty"),
        round(sum($"l_extendedprice"), 2).as("sum_base_price"),
        round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("sum_disc_price"),
        round(avg($"l_quantity"), 4).as("avg_qty"),
        round(avg($"l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  /** Revenue per nation: fact-to-fact join on keys, dimensions broadcast
    * (nation is 25 rows at any scale — a shuffle join there would be a
    * planning bug at 100 TB).
    */
  def revenueByNation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val customer = t(spark, dir, "customer").select($"c_custkey", $"c_nationkey")
    val orders = t(spark, dir, "orders").select($"o_orderkey", $"o_custkey")
    val lineitem = t(spark, dir, "lineitem")
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
    val nation = t(spark, dir, "nation").select($"n_nationkey", $"n_name")
    // customer scales with SF — shuffle join there (AQE may still
    // broadcast at small SF); only the fixed-25-row nation is hinted.
    lineitem
      .join(orders, $"l_orderkey" === $"o_orderkey")
      .join(customer, $"o_custkey" === $"c_custkey")
      .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("revenue"),
        count(lit(1)).as("line_count"))
  }

  /** Top 10 orders by revenue — total sort is avoided: partial top-k per
    * partition (TakeOrderedAndProject) after a keyed aggregation.
    * Tie-broken on o_orderkey so the result set is deterministic.
    */
  def topOrders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = t(spark, dir, "orders").select($"o_orderkey", $"o_orderdate")
    t(spark, dir, "lineitem")
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
      .groupBy($"l_orderkey")
      .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("revenue"))
      .join(orders, $"l_orderkey" === $"o_orderkey")
      .select($"o_orderkey", to_date($"o_orderdate").cast("string").as("o_orderdate"), $"revenue")
      .orderBy($"revenue".desc, $"o_orderkey")
      .limit(10)
  }

  /** Left-semi join: customers having at least one high-value open order. */
  def semiJoinCustomers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bigOpen = t(spark, dir, "orders")
      .filter($"o_orderstatus" === "O" && $"o_totalprice" > 100000.0)
      .select($"o_custkey")
    t(spark, dir, "customer")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .join(bigOpen, $"c_custkey" === $"o_custkey", "left_semi")
  }

  /** Left-anti join: customers who never had an order fail. */
  def antiJoinCustomers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = t(spark, dir, "orders")
      .filter($"o_orderstatus" === "F").select($"o_custkey")
    t(spark, dir, "customer")
      .select($"c_custkey", $"c_name", $"c_acctbal")
      .join(orders, $"c_custkey" === $"o_custkey", "left_anti")
      .withColumn("c_acctbal", round($"c_acctbal", 2))
  }

  /** Window ranking: top-3 orders per customer by totalprice. The window
    * shuffle partitions by o_custkey — at scale this is the canonical
    * partial top-k per key; rank ties broken by orderkey for determinism.
    */
  def topOrdersPerCustomer(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    t(spark, dir, "orders")
      .select($"o_custkey", $"o_orderkey", $"o_totalprice")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"o_custkey", $"o_orderkey", round($"o_totalprice", 2).as("o_totalprice"),
        $"rn".cast("long").as("rn"))
  }

  /** Window lag: days since the customer's previous order (analytic
    * function over an event-ordered per-key window).
    */
  def orderGaps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"d", $"o_orderkey")
    t(spark, dir, "orders")
      .select($"o_custkey", $"o_orderkey", to_date($"o_orderdate").as("d"))
      .withColumn("prev_d", lag($"d", 1).over(w))
      .withColumn("gap_days", datediff($"d", $"prev_d").cast("long"))
      .select($"o_custkey", $"o_orderkey", $"d".cast("string").as("o_orderdate"),
        $"gap_days")
  }

  /** Rollup over (returnflag, linestatus): grouping-set aggregation with
    * subtotals and a grand total.
    */
  def rollupSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t(spark, dir, "lineitem")
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(round(sum($"l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n"))
  }

  /** Cube over (orderstatus, orderpriority). */
  def cubeSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t(spark, dir, "orders")
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(round(sum($"o_totalprice"), 2).as("sum_price"), count(lit(1)).as("n"))
  }

  /** Set operations: BUILDING-segment customers with open orders
    * (intersect) minus those who also have a failed order (except),
    * unioned with the highest-balance customers.
    */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val customer = t(spark, dir, "customer")
    val orders = t(spark, dir, "orders")
    val building = customer.filter($"c_mktsegment" === "BUILDING").select($"c_custkey")
    val open = orders.filter($"o_orderstatus" === "O").select($"o_custkey".as("c_custkey"))
    val failed = orders.filter($"o_orderstatus" === "F").select($"o_custkey".as("c_custkey"))
    val rich = customer.filter($"c_acctbal" > 9000.0).select($"c_custkey")
    building.intersect(open).except(failed).union(rich).distinct()
  }

  /** Distinct aggregation: exact distinct part/supplier counts per
    * returnflag (two-phase distinct-agg shuffle).
    */
  def distinctCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t(spark, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        countDistinct($"l_partkey").as("distinct_parts"),
        countDistinct($"l_suppkey").as("distinct_supps"),
        count(lit(1)).as("n"))
  }

  /** Exact percentiles with linear interpolation (the sort-based exact
    * operator; at 100 TB the approx_percentile sketch in q29's family is
    * the first choice, this is the ground truth it's judged against).
    */
  def priceQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // ONE percentile aggregate with an array of percentages: the exact
    // percentile buffer is a value→count map over ~all-distinct prices,
    // so three scalar percentile() calls would maintain and shuffle
    // three copies of that map per group (measured 3.1 s → ~1.2 s at
    // sf0.1 from sharing it)
    t(spark, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        expr("percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D))").as("ps"),
        count(lit(1)).as("n"))
      .select($"l_returnflag",
        round($"ps"(0), 4).as("p25"),
        round($"ps"(1), 4).as("p50"),
        round($"ps"(2), 4).as("p75"),
        $"n")
  }

  /** Approximate quantiles — the sketch path that replaces [[priceQuantiles]]
    * at 100 TB: percentile_approx's KLL-style sketch is constant-memory
    * and mergeable, where the exact percentile buffer grows with distinct
    * values. Oracle pattern as q29: the sketch value itself is
    * engine-specific, so the query materializes |approx − exact| ≤ 1%
    * tolerance booleans next to the exact quantiles and the oracle pins
    * them `true` — exact hash compare, sketch still exercised end-to-end.
    * (accuracy 10000 → rank error ≤ n/10⁴; adjacent prices differ ≪ 1%.)
    */
  def approxQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t(spark, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        percentile_approx($"l_extendedprice",
          array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)).as("ap"),
        expr("percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D))").as("ep"),
        count(lit(1)).as("n"))
      .select($"l_returnflag", $"n",
        round($"ep"(0), 4).as("p25"),
        round($"ep"(1), 4).as("p50"),
        round($"ep"(2), 4).as("p75"),
        (abs($"ap"(0) - $"ep"(0)) <= lit(0.01) * $"ep"(0)).as("p25_within_tol"),
        (abs($"ap"(1) - $"ep"(1)) <= lit(0.01) * $"ep"(1)).as("p50_within_tol"),
        (abs($"ap"(2) - $"ep"(2)) <= lit(0.01) * $"ep"(2)).as("p75_within_tol"))
  }

  /** Pivot: order revenue as a (status × priority) matrix — groupBy +
    * pivot with the value list pinned so the schema is static (an
    * unpinned pivot needs an extra distinct-values job).
    */
  def pivotRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t(spark, dir, "orders")
      .groupBy($"o_orderstatus")
      .pivot("o_orderpriority",
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
      .agg(round(sum($"o_totalprice"), 2))
  }

  /** RANGE-frame window: 7-day trailing order revenue per customer —
    * the frame is bounded by VALUE distance (6 days back from the
    * current row's date), not row count, so multiple orders on one day
    * all fall in every frame that covers that day.
    */
  def movingRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"d_days")
      .rangeBetween(-6, Window.currentRow)
    t(spark, dir, "orders")
      .select($"o_custkey", $"o_orderkey",
        datediff(to_date($"o_orderdate"), lit("1970-01-01")).as("d_days"),
        $"o_totalprice")
      .withColumn("rev_7d", round(sum($"o_totalprice").over(w), 2))
      .select($"o_custkey", $"o_orderkey", $"d_days".cast("long").as("d_days"), $"rev_7d")
  }

  /** Bag-semantics set operations: UNION ALL / INTERSECT ALL /
    * EXCEPT ALL keep duplicate multiplicity (the q10 twin uses set
    * semantics). Multiplicity matters for yield accounting in data
    * pipelines, so both variants are on the surface.
    */
  def setOpsAll(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = t(spark, dir, "orders")
    val open = orders.filter($"o_orderstatus" === "O").select($"o_custkey")
    val failed = orders.filter($"o_orderstatus" === "F").select($"o_custkey")
    val urgent = orders.filter($"o_orderpriority" === "1-URGENT").select($"o_custkey")
    open.intersectAll(urgent).exceptAll(failed).unionAll(failed.limit(0))
      .groupBy($"o_custkey").agg(count(lit(1)).as("multiplicity"))
  }

  /** Correlated subqueries through the SQL surface: orders priced above
    * their own customer's average (correlated scalar subquery) that also
    * have at least one high-quantity lineitem (correlated EXISTS) —
    * Catalyst decorrelates both into joins; DataFrame API can't express
    * them directly, so this query runs through ops.Tables + spark.sql.
    */
  def correlatedSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables.register(spark, dir)
    spark.sql(
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
        |FROM orders o
        |WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM orders i
        |                            WHERE i.o_custkey = o.o_custkey)
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)""".stripMargin)
  }

  /** Approximate distinct counts: HLL++ sketch per group — the 100 TB
    * shape for cardinality estimation (one pass, mergeable partials,
    * constant memory vs exact distinct's two-phase shuffle).
    *
    * The sketch estimate is engine-specific and can't be oracle-hashed
    * directly; materializing a ±5% tolerance check as booleans next to
    * the exact distinct counts makes the whole row exactly comparable
    * (the oracle emits `true`) while still exercising the sketch path.
    *
    * The exact counts deliberately do NOT share the sketch aggregation:
    * mixing countDistinct with other aggregates makes Catalyst expand
    * each input row once per distinct group, and the partial aggregate
    * then keys on (flag, partkey, gid) — carrying the two multi-KB HLL
    * buffers through a ~corpus-cardinality hash map (measured 8 s at
    * sf0.1). Split, the sketches fold in one clean pass over 3 groups
    * and each exact count is a pre-combined distinct + tiny count; the
    * three 3-row results broadcast-join back together.
    */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = t(spark, dir, "lineitem")
    val sketches = li
      .groupBy($"l_returnflag")
      .agg(
        approx_count_distinct($"l_partkey", 0.01).as("approx_parts"),
        approx_count_distinct($"l_suppkey", 0.01).as("approx_supps"),
        count(lit(1)).as("n"))
    def exactDistinct(key: Column, out: String): DataFrame =
      li.select($"l_returnflag", key.as("k")).distinct()
        .groupBy($"l_returnflag").agg(count(lit(1)).as(out))
    sketches
      .join(broadcast(exactDistinct($"l_partkey", "exact_parts")), Seq("l_returnflag"))
      .join(broadcast(exactDistinct($"l_suppkey", "exact_supps")), Seq("l_returnflag"))
      .select($"l_returnflag", $"n", $"exact_parts", $"exact_supps",
        (abs($"approx_parts" - $"exact_parts") <= lit(0.05) * $"exact_parts")
          .as("parts_within_tol"),
        (abs($"approx_supps" - $"exact_supps") <= lit(0.05) * $"exact_supps")
          .as("supps_within_tol"))
  }

  /** HLL sketch MERGEABILITY demonstration (q138): one DataSketches HLL
    * per source, then a global estimate from `hll_union_agg` over the
    * per-source sketches — never re-touching the rows. Mergeability is
    * THE 100-TB property: per-shard sketches union in KB-sized state
    * where an exact global distinct re-shuffles the corpus. The sketch
    * estimates are engine-specific, so (the q29 pattern) the oracle
    * checks exact distincts plus ±5% tolerance booleans; the exact
    * columns double as the accuracy ground truth.
    */
  def sketchUnion(spark: SparkSession, dir: String, tol: Double = 0.05): DataFrame = {
    import spark.implicits._
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select($"source", $"text")
    val per = d.groupBy($"source")
      .agg(hll_sketch_agg($"text").as("sk"),
        count_distinct($"text").as("n_exact"))
    Memo.withPersisted(per) {
      val perRows = per.select($"source", $"n_exact",
        (abs(hll_sketch_estimate($"sk") - $"n_exact") <=
          lit(tol) * $"n_exact").as("within_tol"))
      val globalExact = d.agg(count_distinct($"text").as("g"))
      val merged = per.agg(hll_sketch_estimate(hll_union_agg($"sk")).as("est"))
        .crossJoin(broadcast(globalExact))
        .select(lit("__ALL__").as("source"), $"g".as("n_exact"),
          (abs($"est" - $"g") <= lit(tol) * $"g").as("within_tol"))
      perRows.unionByName(merged).localCheckpoint(true)
    }
  }

  /** Explicit GROUPING SETS (q140): doc counts/char averages at four
    * aggregation grains — (lang, source), (lang), (source), () — in ONE
    * pass, with `grouping_id()` disambiguating the grain of each output
    * row (rollup/cube are the two fixed lattices; arbitrary sets are the
    * general operator a metrics layer compiles to). Spark plans one
    * Expand + one shuffle — same cost as cube, grains chosen freely.
    */
  def groupingSetsSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .groupingSets(
        Seq(Seq($"lang", $"source"), Seq($"lang"), Seq($"source"), Seq()),
        $"lang", $"source")
      .agg(grouping_id().as("gid"), count(lit(1)).as("n_docs"),
        round(avg($"n_chars"), 4).as("avg_chars"))
  }

  /** Distribution-rank window suite (q141): ntile quartile,
    * percent_rank, cume_dist and the running 3rd-order price
    * (nth_value over an EXPLICIT rows frame — engines default that
    * frame differently) per customer's order history. The four
    * rank-family functions q06/q07/q42 don't cover, one shuffle on the
    * customer key, total order pinned by (date, key) so every rank is
    * deterministic.
    */
  def windowSuite(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    t(spark, dir, "orders")
      .select($"o_custkey", $"o_orderkey", $"o_orderdate", $"o_totalprice")
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("pct_rank", round(percent_rank().over(w), 6))
      .withColumn("cume", round(cume_dist().over(w), 6))
      .withColumn("third_price", nth_value($"o_totalprice", 3).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"o_custkey", $"o_orderkey", $"quartile", $"pct_rank",
        $"cume", round($"third_price", 2).as("third_price"))
  }

  /** Unpivot / melt (q142): the per-language corpus stats rotated from
    * one wide row per lang to (lang, metric, value) long form — the
    * reshape every metrics store and plotting layer wants, and the
    * inverse of q38's pivot. Spark's native `unpivot` (Expand under the
    * hood, no join, no union-of-selects); values cast to double first
    * so the long column is one type.
    */
  def unpivotStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wide = spark.read.parquet(s"$dir/documents.parquet")
      .groupBy($"lang")
      .agg(count(lit(1)).cast("double").as("n_docs"),
        sum(length($"text")).cast("double").as("total_chars"),
        round(avg($"n_chars"), 4).as("avg_chars"))
    wide.unpivot(Array($"lang"),
      Array($"n_docs", $"total_chars", $"avg_chars"), "metric", "value")
  }

  /** Multi-way star join with two broadcast dims + selective filter:
    * revenue by part brand for one region's suppliers.
    */
  def brandRevenueByRegion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val supplier = t(spark, dir, "supplier").select($"s_suppkey", $"s_nationkey")
    val nation = t(spark, dir, "nation").select($"n_nationkey", $"n_regionkey")
    val region = t(spark, dir, "region").filter($"r_name" === "ASIA").select($"r_regionkey")
    val part = t(spark, dir, "part").select($"p_partkey", $"p_brand")
    val asiaSuppliers = supplier
      .join(broadcast(nation), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
      .select($"s_suppkey")
    // asiaSuppliers and part both scale with SF — no forced broadcast
    // (a hint would OOM a 1000-executor job once the key set outgrows
    // the driver); AQE broadcasts them automatically while they fit.
    t(spark, dir, "lineitem")
      .select($"l_suppkey", $"l_partkey", $"l_extendedprice", $"l_discount")
      .join(asiaSuppliers, $"l_suppkey" === $"s_suppkey", "left_semi")
      .join(part, $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand")
      .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("revenue"),
        count(lit(1)).as("n"))
  }

  /** Column profiling — the stats-collection pass every ingest runs
    * before trusting a new table: per numeric column, row/null/distinct
    * counts and min/max/avg/stddev. One single-column scan per profiled
    * column (parquet reads just that column; the per-column jobs are
    * independent and a scheduler runs them concurrently), each a
    * map-side-combined global aggregate. The exact distinct is the one
    * shuffle per column; Spark plans the mixed distinct/non-distinct
    * aggregate as a two-phase partial agg, not an Expand (the q29
    * lesson).
    */
  def columnProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = t(spark, dir, "lineitem")
    def profile(name: String): DataFrame =
      li.select(col(name).as("v"))
        .agg(
          count(lit(1)).as("n_rows"),
          count($"v").as("n_non_null"),
          countDistinct($"v").as("n_distinct"),
          round(min($"v"), 4).as("min_val"),
          round(max($"v"), 4).as("max_val"),
          round(avg($"v"), 4).as("avg_val"),
          round(stddev_samp($"v"), 4).as("stddev_val"))
        .select(lit(name).as("col_name"), $"*")
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .map(profile).reduce(_ unionAll _)
  }

  /** Pairwise Pearson correlation + the price~quantity regression line
    * over the lineitem numeric columns (q115) — the dependence screen
    * run after [[columnProfile]] before anyone trusts a "random" column
    * for stratification or sampling keys. One single-pass global
    * aggregate: every corr/regr is a co-moment the partial-aggregation
    * layer combines, so the 100-TB cost is the scan, not the agg.
    */
  def numericCorrelation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t(spark, dir, "lineitem")
      .select($"l_quantity".as("q"), $"l_extendedprice".as("p"),
        $"l_discount".as("d"), $"l_tax".as("x"))
      .agg(
        round(corr($"q", $"p"), 4).as("corr_qty_price"),
        round(corr($"q", $"d"), 4).as("corr_qty_disc"),
        round(corr($"q", $"x"), 4).as("corr_qty_tax"),
        round(corr($"p", $"d"), 4).as("corr_price_disc"),
        round(corr($"p", $"x"), 4).as("corr_price_tax"),
        round(corr($"d", $"x"), 4).as("corr_disc_tax"),
        round(regr_slope($"p", $"q"), 4).as("slope_price_qty"),
        round(regr_intercept($"p", $"q"), 4).as("icept_price_qty"))
  }

  /** Bloom-filter semi-join pruning (q114): the explicit form of
    * Spark's runtime-filter optimization, using Spark's own sketch
    * expressions (see [[graft.functions.SketchOps]]). The "hot" order
    * keys (totalprice above `priceFloor`) are aggregated into a bloom
    * filter; the KB-sized serialized sketch comes back to the driver
    * (the same bounded-collect pattern as a broadcast hash-join build)
    * and is folded into the lineitem scan as a literal, so the probe is
    * a shuffle-free codegen'd filter at the scan. The payoff at 100 TB:
    * the probe side is cut to ~hot fraction BEFORE the join shuffle,
    * for the price of one aggregate over the small side and zero
    * repartitioning.
    *
    * Output contract: exact counts (hot orders, exact semi-join rows,
    * total probe rows) plus two tolerance booleans the oracle pins to
    * true — the bloom never drops a real match (`superset_ok`, a hard
    * guarantee) and its false-positive rate stays under `maxFpRate`
    * (1M bits over ≲15k keys at the bench scale: ~0 observed).
    */
  def bloomPrune(spark: SparkSession, dir: String,
      priceFloor: Double = 400000.0, maxFpRate: Double = 0.02): DataFrame = {
    import spark.implicits._
    graft.functions.SketchOps.register(spark)
    val hotKeys = t(spark, dir, "orders")
      .filter($"o_totalprice" > priceFloor)
      .select($"o_orderkey")
    val bf = hotKeys
      .agg(call_function("bloom_agg", xxhash64($"o_orderkey"),
        lit(65536L), lit(1048576L)).as("bf"))
      .head().getAs[Array[Byte]](0)
    val li = t(spark, dir, "lineitem").select($"l_orderkey")
    val bloomed = li.filter(
      call_function("bloom_contains", lit(bf), xxhash64($"l_orderkey")))
    val exact = li.join(hotKeys, $"l_orderkey" === $"o_orderkey", "left_semi")
    val counts = li.agg(count(lit(1)).as("n_total"))
      .crossJoin(hotKeys.agg(count(lit(1)).as("n_hot")))
      .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
      .crossJoin(bloomed.agg(count(lit(1)).as("n_bloom")))
    counts.select($"n_hot", $"n_total", $"n_exact",
      ($"n_bloom" >= $"n_exact").as("superset_ok"),
      (($"n_bloom" - $"n_exact").cast("double") <=
        ($"n_total" - $"n_exact") * maxFpRate).as("fp_ok"))
  }

  /** Spearman rank correlation between lineitem's discrete numerics
    * (q149) — the monotone-association counterpart to q115's Pearson,
    * robust to the price columns' heavy tails. Fractional (midrank)
    * ranks are derived from each column's VALUE-FREQUENCY table, not a
    * global sort: fr(v) = #{x < v} + (#{x = v} + 1)/2, computed as a
    * cumulative window over the ≤64 distinct values each of these
    * columns takes, then broadcast-joined back onto the scan. That is
    * the scale-safe construction for discrete columns — the corpus-wide
    * work is three map-side-combined frequency aggregates and three
    * broadcast joins, no total sort, no single-partition rank window
    * (continuous columns would get q144's percent_rank or binning
    * treatment instead). Ranks are exact integer-derived rationals, so
    * the final Pearson-on-ranks co-moments match DuckDB bit-for-bit
    * before the round(4).
    */
  def spearmanCorrelation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = t(spark, dir, "lineitem")
      .select($"l_quantity", $"l_discount", $"l_tax")
    def ranks(c: String): DataFrame = {
      val freq = li.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
      freq
        .withColumn("cum", sum($"cnt").over(
          Window.orderBy(col(c))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col(c),
          (($"cum" - $"cnt") + ($"cnt" + 1) / lit(2.0)).as(s"fr_$c"))
    }
    val ranked = li
      .join(broadcast(ranks("l_quantity")), Seq("l_quantity"))
      .join(broadcast(ranks("l_discount")), Seq("l_discount"))
      .join(broadcast(ranks("l_tax")), Seq("l_tax"))
    ranked.agg(
      round(corr($"fr_l_quantity", $"fr_l_discount"), 4).as("rho_qty_disc"),
      round(corr($"fr_l_quantity", $"fr_l_tax"), 4).as("rho_qty_tax"),
      round(corr($"fr_l_discount", $"fr_l_tax"), 4).as("rho_disc_tax"),
      round(corr($"l_quantity", $"l_discount"), 4).as("pearson_qty_disc"))
  }

  /** Benford leading-digit audit of order totals (q150): the fraud/
    * data-quality screen comparing the observed first-digit distribution
    * of o_totalprice against Benford's law p(d) = log10(1 + 1/d), with
    * each digit's chi-square contribution. The digit comes from the
    * DECIMAL string of floor(price) — integer-exact on both engines
    * (double→int casts round differently between Spark and DuckDB, so
    * the floor is explicit). One map-side-combined 9-group aggregate
    * over the scan; the expected-share join is a 9-row literal grid.
    */
  def benfordPrices(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val digits = t(spark, dir, "orders")
      .filter($"o_totalprice" > 0)
      .select(substring(floor($"o_totalprice").cast("long").cast("string"),
        1, 1).cast("long").as("digit"))
      .groupBy($"digit").agg(count(lit(1)).as("n"))
    val total = digits.agg(sum($"n").as("total"))
    digits.crossJoin(broadcast(total))
      .select($"digit", $"n",
        round($"n".cast("double") / $"total", 6).as("observed"),
        round(log10(lit(1.0) + lit(1.0) / $"digit"), 6).as("benford"),
        round(pow($"n" - $"total" * log10(lit(1.0) + lit(1.0) / $"digit"), 2)
          / ($"total" * log10(lit(1.0) + lit(1.0) / $"digit")), 4).as("chi2"))
  }

  /** Slowly-changing-dimension (type 2) history build over each
    * customer's order-priority stream (q151): collapse consecutive
    * same-priority runs into [valid_from, valid_to) versions — lag() to
    * find change points, lead() on the changes to close each interval —
    * then audit per customer: version count, closed-version day span,
    * first/last priority. The warehouse op that turns an event log into
    * a dimension table; the per-customer audit keeps the output
    * customer-sized while its sums depend on every interval bound.
    * One customer-keyed window shuffle; both window passes and the
    * final aggregate share the same partitioning, and dates are
    * epoch-day integers (exact on both engines).
    */
  def scd2History(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"d", $"o_orderkey")
    val orders = t(spark, dir, "orders")
      .select($"o_custkey", $"o_orderkey", $"o_orderpriority",
        datediff(to_date($"o_orderdate"), lit("1970-01-01")).as("d"))
    val changes = orders
      .withColumn("prev", lag($"o_orderpriority", 1).over(w))
      .filter($"prev".isNull || $"prev" =!= $"o_orderpriority")
      .withColumn("valid_to", lead($"d", 1).over(w))
    changes
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_versions"),
        sum(when($"valid_to".isNotNull, $"valid_to" - $"d")).as("closed_days"),
        // scalar (d, orderkey) key: list/struct ordering semantics differ
        // across engines; the packed integer (epoch-day ≪ 44 | orderkey,
        // orderkey < 2^44 at any plausible SF) compares identically
        min_by($"o_orderpriority", $"d" * lit(1L << 44) + $"o_orderkey")
          .as("first_priority"),
        max_by($"o_orderpriority", $"d" * lit(1L << 44) + $"o_orderkey")
          .as("current_priority"))
      .select($"o_custkey", $"n_versions",
        coalesce($"closed_days", lit(0L)).as("closed_days"),
        $"first_priority", $"current_priority")
  }

  /** Overlapping-interval union per customer (q156): each order opens a
    * 7-day activity window [d, d+7); overlapping or touching windows
    * merge into coverage islands. This is true interval algebra — unlike
    * the point-gap sessionization of q25, containment and chained
    * overlap are handled by the running max-of-ends: a window starts a
    * new island iff its start exceeds the max end of ALL earlier windows
    * (not merely its predecessor's end). Island id = running count of
    * such breaks; per-customer report = islands, covered days, longest
    * island. Integer epoch-day arithmetic end-to-end.
    *
    * Scale: one shuffle on o_custkey; both window passes, the island
    * grouping and the final per-customer aggregate all share that
    * partitioning, so Catalyst plans a single Exchange. The windows run
    * over each customer's own orders (bounded per key), never globally.
    */
  /** RFM customer segmentation (q173): recency (last order epoch-day),
    * frequency (order count), monetary (2-dp-rounded total spend) per
    * customer, each scored 1-5 against exact interpolated quintile
    * boundaries, then rolled up per (R,F,M) segment. Boundaries come
    * from ONE `percentile(metric, [.2,.4,.6,.8])` aggregate — the
    * distributed sorted-buffer, identical to DuckDB's quantile_cont
    * (q125 precedent) — and scores are 1 + Σ(v > bᵢ) comparisons, so no
    * global rank sort exists anywhere (the naive row_number approach is
    * a single-partition window over every customer — the q141
    * anti-pattern). Monetary is rounded BEFORE scoring so a last-ulp
    * summation difference can't flip a boundary comparison.
    */
  def rfmSegmentation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = t(spark, dir, "orders")
      .groupBy($"o_custkey")
      .agg(max(datediff(to_date($"o_orderdate"), lit("1970-01-01"))
          .cast("long")).as("last_day"),
        count(lit(1)).as("freq"),
        // per-row prices are 2-dp; summing exact integer cents keeps the
        // customer total order-independent and bit-identical across engines
        (sum(round($"o_totalprice" * 100).cast("long")) / 100.0)
          .as("monetary"))
    val bounds = cust.agg(
      expr("percentile(last_day, array(0.2, 0.4, 0.6, 0.8))").as("rb"),
      expr("percentile(freq, array(0.2, 0.4, 0.6, 0.8))").as("fb"),
      expr("percentile(monetary, array(0.2, 0.4, 0.6, 0.8))").as("mb"))
    def score(v: Column, b: Column): Column =
      (1 to 4).map(i => when(v > element_at(b, i), 1L).otherwise(0L))
        .reduce(_ + _) + 1L
    cust.crossJoin(broadcast(bounds))
      .select($"o_custkey", $"freq", $"monetary",
        score($"last_day".cast("double"), $"rb").as("r_score"),
        score($"freq".cast("double"), $"fb").as("f_score"),
        score($"monetary", $"mb").as("m_score"))
      .groupBy($"r_score", $"f_score", $"m_score")
      .agg(count(lit(1)).as("n_customers"),
        round(avg($"freq"), 4).as("avg_freq"),
        // group average in pure integer cents with explicit half-up
        // ((2s+n) div 2n): double round() is engine-dependent on exact
        // half-cents, integer division is not
        (expr("(2 * sum(cast(round(monetary * 100) as bigint))"
          + " + count(1)) div (2 * count(1))") / 100.0).as("avg_monetary"))
  }

  def intervalMerge(spark: SparkSession, dir: String,
      spanDays: Int = 7): DataFrame = {
    import spark.implicits._
    val byCust = Window.partitionBy($"o_custkey").orderBy($"d", $"o_orderkey")
    val orders = t(spark, dir, "orders")
      .select($"o_custkey", $"o_orderkey",
        datediff(to_date($"o_orderdate"), lit("1970-01-01"))
          .cast("long").as("d"))
      .withColumn("fin", $"d" + spanDays)
    val islands = orders
      .withColumn("max_end_before",
        max($"fin").over(byCust.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("is_new", when($"max_end_before".isNull
        || $"d" > $"max_end_before", 1L).otherwise(0L))
      .withColumn("island", sum($"is_new").over(
        byCust.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"o_custkey", $"island")
      .agg(min($"d").as("start"), max($"fin").as("fin"),
        count(lit(1)).as("n_orders"))
    islands
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_islands"),
        sum($"fin" - $"start").as("covered_days"),
        max($"fin" - $"start").as("longest_island_days"),
        sum($"n_orders").as("n_orders"))
  }

  /** Referential-integrity audit (q217): for every foreign key of the
    * star schema, the child row count, the NULL-key count, and the
    * ORPHAN count (non-null keys with no parent) — the constraint check
    * Spark doesn't enforce (no FK DDL) but every warehouse load must
    * verify, because a broken FK silently turns inner joins into row
    * loss. One row per relationship.
    *
    * Scale: each FK is one left join of the child's KEY COLUMN against
    * the parent's distinct key — the join ships keys, never payloads;
    * parents here are dimension-sized and AQE broadcasts them.
    */
  def fkAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fks = Seq(
      ("orders", "o_custkey", "customer", "c_custkey"),
      ("lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("lineitem", "l_partkey", "part", "p_partkey"),
      ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
      ("customer", "c_nationkey", "nation", "n_nationkey"),
      ("supplier", "s_nationkey", "nation", "n_nationkey"),
      ("nation", "n_regionkey", "region", "r_regionkey"))
    fks.map { case (ct, cc, pt, pc) =>
      val child = t(spark, dir, ct).select(col(cc).as("k"))
      val parent = t(spark, dir, pt).select(col(pc).as("k")).distinct()
        .withColumn("present", lit(1L))
      child.join(parent, Seq("k"), "left")
        .agg(count(lit(1)).as("n_rows"),
          sum(when($"k".isNull, 1L).otherwise(0L)).as("n_null_keys"),
          sum(when($"k".isNotNull && $"present".isNull, 1L).otherwise(0L))
            .as("n_orphans"))
        .select(lit(s"$ct.$cc -> $pt.$pc").as("relationship"),
          $"n_rows", $"n_null_keys", $"n_orphans",
          ($"n_orphans" === 0).as("intact"))
    }.reduce(_ unionByName _)
  }

  /** Order-total reconciliation (q218): o_totalprice audited against
    * the sum of its line items' extended amounts, in exact integer
    * cents — the accounting-style detail-vs-header check every
    * warehouse load runs (and the first thing that catches partial
    * loads or double-applied discounts). Emitted per order status:
    * order counts, how many orders mismatch beyond one cent, and the
    * worst absolute discrepancy.
    *
    * Scale: one lineitem aggregate keyed on order, one key-wise join
    * to headers, one status rollup — all exact i64 cents.
    */
  def orderReconciliation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lineSums = t(spark, dir, "lineitem")
      .select($"l_orderkey",
        round($"l_extendedprice" * 100).cast("long").as("cents"))
      .groupBy($"l_orderkey").agg(sum($"cents").as("line_cents"))
    t(spark, dir, "orders")
      .select($"o_orderkey", $"o_orderstatus",
        round($"o_totalprice" * 100).cast("long").as("header_cents"))
      .join(lineSums, $"o_orderkey" === $"l_orderkey", "left")
      .select($"o_orderstatus",
        coalesce($"line_cents", lit(0L)).as("line_cents"),
        $"header_cents")
      .withColumn("diff_cents", abs($"header_cents" - $"line_cents"))
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(when($"diff_cents" > 1L, 1L).otherwise(0L)).as("n_mismatched"),
        max($"diff_cents").as("max_diff_cents"),
        sum($"header_cents").as("total_header_cents"))
      .withColumn("frac_mismatched",
        round($"n_mismatched" / $"n_orders".cast("double"), 6))
  }

  /** Small-quantity order revenue per brand (q259, the TPC-H Q17
    * shape): lineitems whose quantity is below 20% of their PART's
    * average quantity — the correlated-scalar-subquery classic, planned
    * the scalable way: ONE per-part aggregate joined back to the fact
    * table (never a per-row subquery). The threshold compares in exact
    * integers — qty < 0.2·avg ⟺ 5·qty·cnt < Σqty, with the
    * whole-number-valued quantities cast to i64 — and money sums in
    * cents (the q218 discipline), so no float threshold can flip a row
    * between engines.
    *
    * Scale: per-part agg is map-side combined; the join back is
    * partkey-keyed (AQE broadcasts the part-sized aggregate when it
    * fits); the brand rollup is |brands| rows.
    */
  def smallQuantityRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select($"l_partkey", $"l_quantity".cast("long").as("qty"),
        round($"l_extendedprice" * 100).cast("long").as("price_cents"))
    val perPart = li.groupBy($"l_partkey")
      .agg(count(lit(1)).as("cnt"), sum($"qty").as("sum_qty"))
    val part = spark.read.parquet(s"$dir/part.parquet")
      .select($"p_partkey", $"p_brand")
    li.join(perPart, Seq("l_partkey"))
      .filter(lit(5L) * $"qty" * $"cnt" < $"sum_qty")
      .join(part, $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n_small_lines"),
        sum($"price_cents").as("revenue_cents"),
        round(avg($"qty"), 6).as("avg_small_qty"))
  }

  /** Order-holding suppliers (q260, the TPC-H Q21 shape adapted to this
    * schema's columns): on finished multi-supplier orders, the supplier
    * whose latest lineitem ship date UNIQUELY equals the order's latest
    * ship date was the one holding the order up; count those per
    * supplier. Ties for latest (two suppliers sharing the max date)
    * disqualify the order — "uniquely last" is the blame criterion, and
    * it also keeps the result deterministic with no tie-break rule to
    * mirror.
    *
    * Scale: everything keys on orderkey — per-(order, supplier) max, a
    * per-order rollup, one join back — then a supplier-sized count;
    * no window, no correlated probe. Date comparisons are exact
    * timestamp equality on both engines.
    */
  /** Dominant suppliers of a part family (q266, the TPC-H Q20 shape —
    * the two-level nested semi-join — adapted to this schema, which has
    * no partsupp/availqty): suppliers who, for at least one shipped
    * part whose name starts with 's', shipped MORE THAN TWICE their
    * fair share of that part's total quantity (share > 2/n_suppliers).
    * The correlated sub-aggregates plan the scalable way: one
    * per-(part, supplier) aggregate, one per-part aggregate, an exact
    * integer threshold (sq·ns > 2·tq — quantities are whole-valued
    * doubles cast to i64, so no float share can flip a row), then a
    * DISTINCT supplier set semi-joined into the supplier dimension.
    *
    * Plan shape (pinned in PlanContractSpec): lineitem is filtered by a
    * LEFT SEMI join against the name-filtered part keys (level 1), and
    * the supplier table is filtered by a LEFT SEMI join against the
    * qualifying-supplier set (level 2) — neither probe side's payload
    * ever joins through, exactly Q20's EXISTS/IN nesting. Both semi
    * sides are key-only and dimension-sized → AQE broadcasts them.
    */
  def dominantPartSuppliers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fParts = spark.read.parquet(s"$dir/part.parquet")
      .filter($"p_name".startsWith("s")).select($"p_partkey")
    val fl = spark.read.parquet(s"$dir/lineitem.parquet")
      .join(fParts, $"l_partkey" === $"p_partkey", "left_semi")
      .select($"l_partkey", $"l_suppkey", $"l_quantity".cast("long").as("q"))
    val perPartSupp = fl.groupBy($"l_partkey", $"l_suppkey")
      .agg(sum($"q").as("sq"))
    // derived from the (part, supplier) aggregate, NOT a second
    // lineitem pass: Σ per-supplier sums == the part total, and the
    // rows of perPartSupp are exactly the distinct suppliers
    val perPart = perPartSupp.groupBy($"l_partkey")
      .agg(sum($"sq").as("tq"), count(lit(1)).as("ns"))
    val qual = perPartSupp.join(perPart, Seq("l_partkey"))
      .filter($"sq" * $"ns" > lit(2L) * $"tq")
      .select($"l_suppkey").distinct()
    spark.read.parquet(s"$dir/supplier.parquet")
      .join(qual, $"s_suppkey" === $"l_suppkey", "left_semi")
      .join(spark.read.parquet(s"$dir/nation.parquet"),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"s_name", $"n_name")
  }

  /** Lapsed high-balance customers (q267, the TPC-H Q22 shape on this
    * schema): customers whose account balance exceeds the positive-
    * balance average but who placed NO order on/after the cutoff —
    * the anti-join + scalar-average-filter classic (Q22's phone-prefix
    * country code becomes the market segment), rolled up per segment.
    * The average compares in exact integers — bal > avg ⟺
    * cents·n_pos > sum_pos_cents with cents = round(bal·100) i64 (the
    * q259 discipline: rounding the raw value, never a float sum, and
    * cents·n ≤ 1e6·1e7 well inside i64) — so no float threshold can
    * flip a customer between engines.
    *
    * Plan shape (pinned in PlanContractSpec): the scalar aggregate is a
    * one-row broadcast (the house crossJoin-total idiom) and the
    * "no recent order" probe is a LEFT ANTI join of customers against
    * the date-filtered order custkeys — never a per-row NOT EXISTS
    * probe. The anti side is key-only; the date filter is pushed to the
    * orders scan.
    */
  def lapsedHighBalanceCustomers(spark: SparkSession, dir: String,
      cutoff: String = "2001-01-01"): DataFrame = {
    import spark.implicits._
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .select($"c_custkey", $"c_mktsegment",
        round($"c_acctbal" * 100).cast("long").as("cents"))
    val stat = broadcast(cust.filter($"cents" > 0L)
      .agg(count(lit(1)).as("n_pos"), sum($"cents").as("sum_pos_cents")))
    val recent = spark.read.parquet(s"$dir/orders.parquet")
      .filter($"o_orderdate" >= lit(cutoff))
      .select($"o_custkey")
    cust.crossJoin(stat)
      .filter($"cents" * $"n_pos" > $"sum_pos_cents")
      .join(recent, $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
        sum($"cents").as("total_acctbal_cents"),
        max($"cents").as("max_acctbal_cents"))
  }

  /** High-value part concentration (q273, the TPC-H Q11 shape): parts
    * whose shipped value exceeds 1.5× the average per-part value — the
    * GROUP BY + HAVING-against-a-global-scalar classic, planned the
    * scalable way: per-part exact cent sums once, the global (total,
    * n_parts) on a one-row broadcast, and the threshold compared as
    * c·10 > 15·(total div n_parts) — the floored average keeps every
    * factor far inside i64 at any corpus size (the naive c·np·10 >
    * 15·t cross-multiplication overflows past ~10× this scale), and
    * floor-div equals `//` on the non-negative operands so the
    * boundary is engine-identical.
    *
    * Plan shape: one map-side-combined per-part aggregate, one
    * broadcast cross join, a scan-stage filter — no second pass, no
    * correlated probe.
    */
  def partValueConcentration(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pc = spark.read.parquet(s"$dir/lineitem.parquet")
      .select($"l_partkey",
        round($"l_extendedprice" * 100).cast("long").as("cents"))
      .groupBy($"l_partkey").agg(sum($"cents").as("value_cents"))
    val g = broadcast(pc.agg(sum($"value_cents").as("t"),
      count(lit(1)).as("np")))
    pc.crossJoin(g)
      .withColumn("avg_floor", expr("t div np"))
      .filter($"value_cents" * 10L > lit(15L) * $"avg_floor")
      .select($"l_partkey", $"value_cents",
        round($"value_cents" / greatest($"avg_floor", lit(1L))
          .cast("double"), 6).as("avg_multiple"))
  }

  /** Part-supplier census excluding flagged suppliers (q274, the TPC-H
    * Q16 shape): distinct supplier counts per (brand, type, size) over
    * lineitems whose supplier is NOT on the blacklist (negative account
    * balance) — the NOT IN + COUNT DISTINCT classic. The NOT IN plans
    * as a LEFT ANTI join of the fact table against the key-only
    * blacklist (never a per-row subquery; the blacklist is
    * dimension-sized → broadcast), and the distinct count shuffles
    * (group, supplier) pairs, not payloads.
    */
  def partSupplierCensus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val flagged = spark.read.parquet(s"$dir/supplier.parquet")
      .filter($"s_acctbal" < 0).select($"s_suppkey")
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select($"l_partkey", $"l_suppkey")
      .join(flagged, $"l_suppkey" === $"s_suppkey", "left_anti")
    li.join(spark.read.parquet(s"$dir/part.parquet")
        .select($"p_partkey", $"p_brand", $"p_type", $"p_size"),
        $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand", $"p_type", $"p_size")
      .agg(count_distinct($"l_suppkey").as("supplier_cnt"))
      .select($"p_brand", $"p_type", $"p_size".cast("long").as("p_size"),
        $"supplier_cnt")
  }

  /** Customer order-count distribution (q278, the TPC-H Q13 shape): how
    * many customers placed exactly k non-urgent orders, INCLUDING k = 0
    * — the left-outer-join + histogram-of-counts classic (the zero
    * bucket is the whole point: an inner join silently drops customers
    * who never ordered). Q13's "%special%requests%" comment exclusion
    * becomes the 1-URGENT priority class (this schema has no o_comment).
    *
    * Scale: the fact side aggregates FIRST (per-custkey counts,
    * map-side combined, priority filter pushed to the scan), so the
    * outer join carries one row per customer, never one per order; the
    * final histogram is ≤ max-orders-per-customer rows.
    */
  def customerOrderDistribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perCust = spark.read.parquet(s"$dir/orders.parquet")
      .filter($"o_orderpriority" =!= "1-URGENT")
      .groupBy($"o_custkey").agg(count(lit(1)).as("n"))
    spark.read.parquet(s"$dir/customer.parquet")
      .select($"c_custkey")
      .join(perCust, $"c_custkey" === $"o_custkey", "left")
      .select(coalesce($"n", lit(0L)).as("c_count"))
      .groupBy($"c_count")
      .agg(count(lit(1)).as("custdist"))
  }

  /** Top-revenue supplier (q279, the TPC-H Q15 shape): the supplier(s)
    * whose 1998-Q1 discounted revenue equals the maximum over ALL
    * suppliers — the revenue-view + scalar-max-HAVING classic. Revenue
    * sums in exact i64 at e-4 dollars: price (2 dp) × (1 − discount)
    * (2 dp) × 10⁴ is an INTEGER in decimal, so the per-row round() has
    * no half-boundary to split the engines (rounding to cents instead
    * WOULD hit exact .005 boundaries — the q259 discipline, one scale
    * finer), and the equality against the max is exact. Bounds: ≤ 1e9
    * per line, ~1e5 lines per supplier even at 100 TB → ≪ i64.
    *
    * Scale: ONE per-supplier aggregate over the date-pruned scan feeds
    * both the scalar max (a one-row broadcast) and the winner filter;
    * the supplier dimension joins AFTER the filter (≤ a handful of
    * winner rows).
    */
  def topRevenueSupplier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rev = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter($"l_shipdate" >= lit("1998-01-01") &&
        $"l_shipdate" < lit("1998-04-01"))
      .select($"l_suppkey",
        round($"l_extendedprice" * (lit(1.0) - $"l_discount") * 10000)
          .cast("long").as("rev_e4"))
      .groupBy($"l_suppkey").agg(sum($"rev_e4").as("total_revenue_e4"))
    val mx = broadcast(rev.agg(max($"total_revenue_e4").as("max_rev")))
    rev.crossJoin(mx)
      .filter($"total_revenue_e4" === $"max_rev")
      .join(spark.read.parquet(s"$dir/supplier.parquet")
        .select($"s_suppkey", $"s_name"), $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name", $"total_revenue_e4")
  }

  def orderHoldingSuppliers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fOrders = spark.read.parquet(s"$dir/orders.parquet")
      .filter($"o_orderstatus" === "F").select($"o_orderkey")
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .join(fOrders, $"l_orderkey" === $"o_orderkey")
      .select($"l_orderkey", $"l_suppkey", $"l_shipdate")
    val perOrderSupp = li.groupBy($"l_orderkey", $"l_suppkey")
      .agg(max($"l_shipdate").as("s_max"))
    val perOrder = perOrderSupp.groupBy($"l_orderkey")
      .agg(count(lit(1)).as("n_supp"), max($"s_max").as("o_max"))
    val latest = perOrderSupp
      .join(perOrder, Seq("l_orderkey"))
      .filter($"n_supp" >= 2 && $"s_max" === $"o_max")
    val unique = latest.groupBy($"l_orderkey")
      .agg(count(lit(1)).as("n_latest"), min($"l_suppkey").as("supp"))
      .filter($"n_latest" === 1)
    unique.groupBy($"supp".as("s_suppkey"))
      .agg(count(lit(1)).as("n_held_orders"))
      .join(spark.read.parquet(s"$dir/supplier.parquet")
        .select($"s_suppkey", $"s_name"), Seq("s_suppkey"))
      .select($"s_suppkey", $"s_name", $"n_held_orders")
  }

  // -------------------------------------------------------------------
  // Round-11 completion of the TPC-H 1..22 shape sweep. The schema has
  // no partsupp/shipmode/commitdate columns, so each query keeps its
  // original PLAN shape (the thing a 100-TB user cares about) on the
  // columns this star schema does have; every money/quantity threshold
  // follows the exact-integer discipline (q259/q279) so no float
  // boundary can split the engines.
  // -------------------------------------------------------------------

  /** Min-cost supplier per part (q281, the TPC-H Q2 shape): for each
    * STANDARD-type part of size ≥ 40, the EUROPE-region supplier(s)
    * whose observed unit price (min lineitem extendedprice, exact
    * cents) equals the per-part regional minimum — the correlated-min
    * classic, planned the scalable way: ONE per-(part, supplier)
    * aggregate over the semi-filtered fact table, a per-part min
    * derived FROM that aggregate (never a second lineitem pass, never a
    * per-row subquery), and the winner filter as an exact-cent equality
    * join-back. All ties survive (no arbitrary tie-break to mirror).
    *
    * Scale: the part filter and the region-supplier set are
    * dimension-sized key-only semi sides → AQE broadcasts both; the
    * only fact shuffle is the (partkey, suppkey) aggregate.
    */
  def minCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fParts = spark.read.parquet(s"$dir/part.parquet")
      .filter($"p_type" === "STANDARD" && $"p_size" >= 40)
      .select($"p_partkey")
    val region = spark.read.parquet(s"$dir/region.parquet")
      .filter($"r_name" === "EUROPE").select($"r_regionkey")
    val euroNations = spark.read.parquet(s"$dir/nation.parquet")
      .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
      .select($"n_nationkey", $"n_name")
    val euroSupp = spark.read.parquet(s"$dir/supplier.parquet")
      .join(broadcast(euroNations), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"s_name", $"n_name")
    val supply = spark.read.parquet(s"$dir/lineitem.parquet")
      .join(fParts, $"l_partkey" === $"p_partkey", "left_semi")
      .join(broadcast(euroSupp.select($"s_suppkey")),
        $"l_suppkey" === $"s_suppkey", "left_semi")
      .select($"l_partkey", $"l_suppkey",
        round($"l_extendedprice" * 100).cast("long").as("cents"))
      .groupBy($"l_partkey", $"l_suppkey")
      .agg(min($"cents").as("cost_cents"))
    val perPart = supply.groupBy($"l_partkey")
      .agg(min($"cost_cents").as("min_cents"))
    supply.join(perPart, Seq("l_partkey"))
      .filter($"cost_cents" === $"min_cents")
      .join(broadcast(euroSupp), $"l_suppkey" === $"s_suppkey")
      .select($"l_partkey".as("p_partkey"), $"s_suppkey", $"s_name",
        $"n_name", $"cost_cents")
  }

  /** Late-order priority census (q282, the TPC-H Q4 shape): orders per
    * priority class for which AT LEAST ONE lineitem shipped more than
    * 60 days after the order date — the EXISTS classic, planned as a
    * LEFT SEMI join on the order key whose extra inequality references
    * both sides (so it rides the join, not a pushed filter). The semi
    * probe carries (orderkey, shipdate) only; exact timestamp
    * arithmetic on both engines.
    */
  def latePriorityCensus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .select($"o_orderkey", $"o_orderdate", $"o_orderpriority")
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select($"l_orderkey", $"l_shipdate")
    orders.join(li, $"o_orderkey" === $"l_orderkey" &&
        $"l_shipdate" > $"o_orderdate" + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
  }

  /** Local-supplier volume (q283, the TPC-H Q5 shape): 1996 revenue per
    * ASIA nation counting only lineitems whose CUSTOMER and SUPPLIER
    * share the nation — Q5's signature twist (the c/s nationkey
    * equality makes the supplier join non-key-aligned with the order
    * join). Revenue in exact e-4 integers. Nation/region are broadcast;
    * supplier is 100·SF rows → broadcast; the customer join shuffles
    * on custkey (AQE may broadcast at small SF).
    */
  def localSupplierVolume(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val region = spark.read.parquet(s"$dir/region.parquet")
      .filter($"r_name" === "ASIA").select($"r_regionkey")
    val asiaNations = spark.read.parquet(s"$dir/nation.parquet")
      .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
      .select($"n_nationkey", $"n_name")
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .filter($"o_orderdate" >= lit("1996-01-01") &&
        $"o_orderdate" < lit("1997-01-01"))
      .select($"o_orderkey", $"o_custkey")
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .select($"c_custkey", $"c_nationkey")
    val supp = spark.read.parquet(s"$dir/supplier.parquet")
      .select($"s_suppkey", $"s_nationkey")
    spark.read.parquet(s"$dir/lineitem.parquet")
      .select($"l_orderkey", $"l_suppkey",
        round($"l_extendedprice" * (lit(1.0) - $"l_discount") * 10000)
          .cast("long").as("rev_e4"))
      .join(orders, $"l_orderkey" === $"o_orderkey")
      .join(cust, $"o_custkey" === $"c_custkey")
      .join(broadcast(supp), $"l_suppkey" === $"s_suppkey" &&
        $"s_nationkey" === $"c_nationkey")
      .join(broadcast(asiaNations), $"s_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(sum($"rev_e4").as("revenue_e4"), count(lit(1)).as("n_lines"))
  }

  /** Forecast revenue change (q284, the TPC-H Q6 shape): the pure
    * scan-pushdown scalar — 1997 shipments with discount in
    * [0.05, 0.07] and quantity < 24, summing price×discount in exact
    * e-4 integers (2 dp × 2 dp × 10⁴ is an integer in decimal, so the
    * per-row round has no half-boundary). ALL THREE predicates must
    * reach the parquet scan (pinned in PlanContractSpec) — at 100 TB
    * this query is row-group pruning or it is nothing. The discount
    * bounds compare the stored doubles against the same literal bits
    * on both engines, so the 2-dp grid has no boundary ambiguity.
    */
  def forecastRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$dir/lineitem.parquet")
      .filter($"l_shipdate" >= lit("1997-01-01") &&
        $"l_shipdate" < lit("1998-01-01") &&
        $"l_discount" >= 0.05 && $"l_discount" <= 0.07 &&
        $"l_quantity" < 24)
      .agg(sum(round($"l_extendedprice" * $"l_discount" * 10000)
          .cast("long")).as("revenue_e4"),
        count(lit(1)).as("n_lines"))
  }

  /** Nation-pair shipping volume (q285, the TPC-H Q7 shape): 1996–1997
    * revenue between NATION_3 and NATION_7 in BOTH directions, grouped
    * by (supplier nation, customer nation, ship year) — the
    * two-alias-of-one-dimension classic: nation joins the pipeline
    * twice under different roles, and the pair filter is the
    * disjunction of the two orientations. Exact e-4 revenue; year as
    * i64 on both engines.
    */
  def nationPairVolume(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nation = spark.read.parquet(s"$dir/nation.parquet")
      .select($"n_nationkey", $"n_name")
    val supp = spark.read.parquet(s"$dir/supplier.parquet")
      .join(broadcast(nation), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name".as("supp_nation"))
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"n_name".as("cust_nation"))
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .select($"o_orderkey", $"o_custkey")
    spark.read.parquet(s"$dir/lineitem.parquet")
      .filter($"l_shipdate" >= lit("1996-01-01") &&
        $"l_shipdate" < lit("1998-01-01"))
      .select($"l_orderkey", $"l_suppkey",
        year($"l_shipdate").cast("long").as("l_year"),
        round($"l_extendedprice" * (lit(1.0) - $"l_discount") * 10000)
          .cast("long").as("rev_e4"))
      .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
      .join(orders, $"l_orderkey" === $"o_orderkey")
      .join(cust, $"o_custkey" === $"c_custkey")
      .filter(($"supp_nation" === "NATION_3" && $"cust_nation" === "NATION_7") ||
        ($"supp_nation" === "NATION_7" && $"cust_nation" === "NATION_3"))
      .groupBy($"supp_nation", $"cust_nation", $"l_year")
      .agg(sum($"rev_e4").as("revenue_e4"))
  }

  /** National market share (q286, the TPC-H Q8 shape): NATION_5's share
    * of PROMO-part revenue delivered into AMERICA-region customers, per
    * order year — the conditional-sum-over-total ratio classic. Both
    * sums are exact e-4 integers; only the final share divides (i64 →
    * double, round 6 — identical IEEE operands on both engines; sums
    * stay ≪ 2⁵³ through 100× this scale, the q273 bound note).
    */
  def nationalMarketShare(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val promoParts = spark.read.parquet(s"$dir/part.parquet")
      .filter($"p_type" === "PROMO").select($"p_partkey")
    val region = spark.read.parquet(s"$dir/region.parquet")
      .filter($"r_name" === "AMERICA").select($"r_regionkey")
    val amNations = spark.read.parquet(s"$dir/nation.parquet")
      .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
      .select($"n_nationkey")
    val amCust = spark.read.parquet(s"$dir/customer.parquet")
      .join(broadcast(amNations), $"c_nationkey" === $"n_nationkey",
        "left_semi")
      .select($"c_custkey")
    val supp = spark.read.parquet(s"$dir/supplier.parquet")
      .join(broadcast(spark.read.parquet(s"$dir/nation.parquet")
          .select($"n_nationkey", $"n_name")),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name".as("supp_nation"))
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .select($"o_orderkey", $"o_custkey",
        year($"o_orderdate").cast("long").as("o_year"))
    spark.read.parquet(s"$dir/lineitem.parquet")
      .join(promoParts, $"l_partkey" === $"p_partkey", "left_semi")
      .select($"l_orderkey", $"l_suppkey",
        round($"l_extendedprice" * (lit(1.0) - $"l_discount") * 10000)
          .cast("long").as("rev_e4"))
      .join(orders, $"l_orderkey" === $"o_orderkey")
      .join(amCust, $"o_custkey" === $"c_custkey", "left_semi")
      .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
      .groupBy($"o_year")
      .agg(sum(when($"supp_nation" === "NATION_5", $"rev_e4")
          .otherwise(0L)).as("nation_e4"),
        sum($"rev_e4").as("total_e4"))
      .select($"o_year", $"nation_e4", $"total_e4",
        round($"nation_e4" / $"total_e4".cast("double"), 6)
          .as("mkt_share"))
  }

  /** Product-line profit (q287, the TPC-H Q9 shape): per (supplier
    * nation, ship year) profit on 'widget' parts, with Q9's
    * ps_supplycost replaced by the part's retail price as the cost
    * basis (the only cost column this schema has): profit_e4 =
    * rev_e4 − retail_e4 · qty, every factor an exact i64 (retail price
    * 2 dp → ·10⁴ integer; quantities whole-valued). The name filter is
    * a substring LIKE on the dimension, semi-pruning the fact scan.
    */
  def productLineProfit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val parts = spark.read.parquet(s"$dir/part.parquet")
      .filter($"p_name".contains("widget"))
      .select($"p_partkey",
        (round($"p_retailprice" * 100) * 100).cast("long").as("retail_e4"))
    val supp = spark.read.parquet(s"$dir/supplier.parquet")
      .join(broadcast(spark.read.parquet(s"$dir/nation.parquet")
          .select($"n_nationkey", $"n_name")),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name")
    spark.read.parquet(s"$dir/lineitem.parquet")
      .select($"l_partkey", $"l_suppkey",
        year($"l_shipdate").cast("long").as("l_year"),
        $"l_quantity".cast("long").as("qty"),
        round($"l_extendedprice" * (lit(1.0) - $"l_discount") * 10000)
          .cast("long").as("rev_e4"))
      .join(broadcast(parts), $"l_partkey" === $"p_partkey")
      .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
      .groupBy($"n_name".as("nation"), $"l_year")
      .agg(sum($"rev_e4" - $"retail_e4" * $"qty").as("profit_e4"),
        count(lit(1)).as("n_lines"))
  }

  /** Returned-item customer ranking (q288, the TPC-H Q10 shape): the 20
    * customers with the highest 1997-Q3 revenue on RETURNED lineitems —
    * filter → join → aggregate → top-k. Revenue in exact e-4 integers;
    * the top-k orders by (revenue DESC, custkey) so ties cannot split
    * the engines, and it plans as TakeOrdered (never a global sort).
    * The nation name joins AFTER the limit (20 rows).
    */
  def returnedItemCustomers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .filter($"o_orderdate" >= lit("1997-07-01") &&
        $"o_orderdate" < lit("1997-10-01"))
      .select($"o_orderkey", $"o_custkey")
    val perCust = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter($"l_returnflag" === "R")
      .select($"l_orderkey",
        round($"l_extendedprice" * (lit(1.0) - $"l_discount") * 10000)
          .cast("long").as("rev_e4"))
      .join(orders, $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_custkey")
      .agg(sum($"rev_e4").as("revenue_e4"))
      .orderBy($"revenue_e4".desc, $"o_custkey")
      .limit(20)
    perCust
      .join(spark.read.parquet(s"$dir/customer.parquet")
        .select($"c_custkey", $"c_name", $"c_nationkey"),
        $"o_custkey" === $"c_custkey")
      .join(broadcast(spark.read.parquet(s"$dir/nation.parquet")
        .select($"n_nationkey", $"n_name")),
        $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"c_name", $"n_name", $"revenue_e4")
  }

  /** Shipping-lateness priority census (q289, the TPC-H Q12 shape):
    * 1998 lineitems classed LATE (shipped > 90 days after the order
    * date) vs ONTIME — Q12's shipmode becomes the lateness class this
    * schema can express — with Q12's signature conditional counts: how
    * many lines belong to critical-priority orders (1-URGENT / 2-HIGH)
    * vs not, per class. One fact-to-fact join on the order key; the
    * ship-year filter is pushed to the scan.
    */
  def latenessPriorityCensus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .select($"o_orderkey", $"o_orderdate", $"o_orderpriority")
    spark.read.parquet(s"$dir/lineitem.parquet")
      .filter($"l_shipdate" >= lit("1998-01-01") &&
        $"l_shipdate" < lit("1999-01-01"))
      .select($"l_orderkey", $"l_shipdate")
      .join(orders, $"l_orderkey" === $"o_orderkey")
      .select(when($"l_shipdate" > $"o_orderdate" + expr("INTERVAL 90 DAYS"),
          "LATE").otherwise("ONTIME").as("ship_class"),
        $"o_orderpriority")
      .groupBy($"ship_class")
      .agg(sum(when($"o_orderpriority" === "1-URGENT" ||
          $"o_orderpriority" === "2-HIGH", 1L).otherwise(0L))
          .as("high_line_count"),
        sum(when($"o_orderpriority" === "1-URGENT" ||
          $"o_orderpriority" === "2-HIGH", 0L).otherwise(1L))
          .as("low_line_count"))
  }

  /** Promo revenue share (q290, the TPC-H Q14 shape): the share of
    * September-1997 revenue carried by PROMO-type parts — one month of
    * the fact table against the broadcast part dimension, a
    * conditional e-4 sum over the total, the division only at the end
    * (round 6). The month filter must be pushed to the scan.
    */
  def promoRevenueShare(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val part = spark.read.parquet(s"$dir/part.parquet")
      .select($"p_partkey", $"p_type")
    spark.read.parquet(s"$dir/lineitem.parquet")
      .filter($"l_shipdate" >= lit("1997-09-01") &&
        $"l_shipdate" < lit("1997-10-01"))
      .select($"l_partkey",
        round($"l_extendedprice" * (lit(1.0) - $"l_discount") * 10000)
          .cast("long").as("rev_e4"))
      .join(broadcast(part), $"l_partkey" === $"p_partkey")
      .agg(sum(when($"p_type" === "PROMO", $"rev_e4").otherwise(0L))
          .as("promo_e4"),
        sum($"rev_e4").as("total_e4"))
      .select($"promo_e4", $"total_e4",
        round(lit(100.0) * $"promo_e4" / $"total_e4".cast("double"), 6)
          .as("promo_share_pct"))
  }

  /** Large-volume customers (q291, the TPC-H Q18 shape): orders whose
    * total quantity exceeds 300 units, with their customer — the
    * GROUP-BY-HAVING-IN classic, planned as: per-order quantity sums
    * (map-side combined, exact i64 on the whole-valued quantities),
    * the HAVING filter on the aggregate, then joins to orders and
    * customer AFTER the filter (≤ dozens of rows ride the joins, never
    * the fact table). Total price in exact cents.
    */
  def largeVolumeCustomers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val big = spark.read.parquet(s"$dir/lineitem.parquet")
      .select($"l_orderkey", $"l_quantity".cast("long").as("qty"))
      .groupBy($"l_orderkey")
      .agg(sum($"qty").as("total_qty"))
      .filter($"total_qty" > 300L)
    big.join(spark.read.parquet(s"$dir/orders.parquet")
        .select($"o_orderkey", $"o_custkey",
          round($"o_totalprice" * 100).cast("long").as("total_price_cents"),
          $"o_orderdate"),
        $"l_orderkey" === $"o_orderkey")
      .join(spark.read.parquet(s"$dir/customer.parquet")
        .select($"c_custkey", $"c_name"),
        $"o_custkey" === $"c_custkey")
      .select($"c_custkey", $"c_name", $"o_orderkey", $"o_orderdate",
        $"total_price_cents", $"total_qty")
  }

  /** Disjunctive-predicate revenue (q292, the TPC-H Q19 shape): revenue
    * over three (brand, size-window, quantity-window) OR-arms — the
    * classic test that an OR-of-ANDs spanning BOTH join sides still
    * yields a sane plan: the part dimension broadcasts, the
    * quantity-only envelope (qty ≤ 30, the union of the arms) is
    * pushed to the fact scan, and the exact arm disjunction evaluates
    * post-join. Exact e-4 revenue; whole-valued quantities as i64.
    */
  def disjunctiveRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val part = spark.read.parquet(s"$dir/part.parquet")
      .select($"p_partkey", $"p_brand", $"p_size")
    val arm = ($"p_brand" === "Brand#5" &&
        $"p_size".between(1, 10) && $"qty".between(1L, 11L)) ||
      ($"p_brand" === "Brand#15" &&
        $"p_size".between(1, 20) && $"qty".between(10L, 20L)) ||
      ($"p_brand" === "Brand#25" &&
        $"p_size".between(1, 30) && $"qty".between(20L, 30L))
    spark.read.parquet(s"$dir/lineitem.parquet")
      .filter($"l_quantity" <= 30.0) // pre-cast → reaches the scan
      .select($"l_partkey", $"l_quantity".cast("long").as("qty"),
        round($"l_extendedprice" * (lit(1.0) - $"l_discount") * 10000)
          .cast("long").as("rev_e4"))
      .join(broadcast(part), $"l_partkey" === $"p_partkey")
      .filter(arm)
      .agg(sum($"rev_e4").as("revenue_e4"), count(lit(1)).as("n_lines"))
  }
}
