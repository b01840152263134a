package graft.queries

import graft.Tables
import graft.functions.ProductAgg
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Relational operator inventory (SURVEY §2.2-§2.4, §2.6-§2.8) expressed over
  * the shared fixtures, each paired with a DuckDB oracle in [[oracles]].
  *
  * Determinism conventions (so Spark and DuckDB hash-match):
  *  - money math in DECIMAL (exact, order-independent sums);
  *  - ratios derived from exact quantities with identical expression trees
  *    (double ops on identical inputs are identical IEEE results);
  *  - every query's output has a unique total order (keys included) so
  *    LIMIT/top-k cannot straddle ties;
  *  - final projections never expose DECIMAL: the driver reads Spark parquet
  *    via pyarrow (Decimal keeps trailing zeros, '137431.00') but fetches the
  *    oracle via duckdb→pandas (DECIMAL→float64, '137431.0'), so exact
  *    decimals are cast to DOUBLE at the very end on BOTH sides — identical
  *    value, identical shortest-repr. Likewise DuckDB HUGEINT sums are CAST
  *    AS BIGINT in oracles so null-free integer columns stay int on both.
  */
object RelationalQueries {

  private val D2 = DecimalType(18, 2)
  private val D4 = DecimalType(38, 4)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1+A2-flavored pricing summary — the flagship aggregation (scan →
    // partial agg → shuffle on 2 low-cardinality keys → final agg; at 100 TB
    // map-side combine reduces the shuffle to |groups|×|mappers| rows).
    "q1_agg" -> ((s, dir) => {
      // bare-column timestamp bound, not to_date(col) <= d: a function wrap
      // blocks parquet predicate pushdown; ts < day+1 is the same rows
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") < lit("1998-09-03").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).cast(D2).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(D2)).cast(D4).cast("double").as("sum_base_price"),
          sum(col("l_extendedprice").cast(D2) * (lit(1).cast(D2) - col("l_discount").cast(D2)))
            .cast(D4).cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    }),

    // S2+P1+P3 — projection + equality filter; both reach the parquet scan
    // (PushedFilters + 3-column ReadSchema).
    "q_scan_filter" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_returnflag") === "R" && col("l_linenumber") === 1)
        .select(col("l_orderkey"), col("l_partkey"),
          col("l_extendedprice").as("price"))),

    // P4 — range predicates + conjunction (date + numeric); bounds on the
    // bare timestamp column so both reach the parquet scan (PushedFilters).
    "q_range_filter" -> ((s, dir) =>
      Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
                col("o_orderdate") < lit("1996-01-01").cast("timestamp") &&
                col("o_totalprice") > 50000.0)
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("odate"),
          col("o_totalprice").as("total"))),

    // P5 — IN-list membership filter.
    "q_in_filter" -> ((s, dir) =>
      Tables.orders(s, dir)
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))),

    // P6 — null-guard + positivity filter (gold `vwap_signals.py:46-51`).
    "q_nullguard" -> ((s, dir) =>
      Tables.customer(s, dir)
        .filter(col("c_acctbal").isNotNull && col("c_acctbal") > 0.0)
        .select(col("c_custkey"), col("c_acctbal").as("bal"))),

    // P7 — non-strict schema coercion: cast-all-columns, bad → null.
    "q_cast_coerce" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .select(
          col("l_orderkey").cast("string").as("okey_s"),
          col("l_quantity").cast("long").as("qty_l"),
          col("l_linenumber").cast("double").as("ln_d"),
          to_date(col("l_shipdate")).as("ship_d"),
          col("l_returnflag").cast("int").as("flag_i"))
        .filter(col("qty_l") >= 25)),

    // P8 — derived columns (arithmetic + conditional F5).
    "q_derived_cols" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice").cast(D2) * (lit(1).cast(D2) - col("l_discount").cast(D2)))
            .cast(D4).cast("double").as("net"),
          when(col("l_discount") > 0.05, lit("DISC")).otherwise(lit("FULL")).as("kind"))
        .filter(col("l_linenumber") <= 2)),

    // J1 — left equi-join with a broadcast-able dim (orders × customer).
    "q_left_join" -> ((s, dir) =>
      Tables.orders(s, dir)
        .join(broadcast(Tables.customer(s, dir)),
          col("o_custkey") === col("c_custkey"), "left")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(D2)).cast(D4).cast("double").as("seg_total"))),

    // Q3-shape: 3-way join (dim filtered → broadcast) + agg + top-k by
    // revenue. The canonical shuffle-on-orderkey analytics query.
    "q3_shipping_priority" -> ((s, dir) => {
      val cust = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1995-03-16").cast("timestamp"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), to_date(col("o_orderdate")).as("odate"))
        .agg(sum(col("l_extendedprice").cast(D2) *
          (lit(1).cast(D2) - col("l_discount").cast(D2))).cast(D4).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // Q5-shape: 5-way star join down the region→nation→customer/supplier
    // hierarchy, dims broadcast, one fact shuffle.
    "q5_local_supplier" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val ord = Tables.orders(s, dir)
      val cust = Tables.customer(s, dir)
      val supp = Tables.supplier(s, dir)
      val nat = Tables.nation(s, dir)
      val reg = Tables.region(s, dir).filter(col("r_name") === "EUROPE")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("l_extendedprice").cast(D2) *
          (lit(1).cast(D2) - col("l_discount").cast(D2))).cast(D4).cast("double").as("revenue"))
    }),

    // TPC-H Q10 shape — returned-item revenue per customer: the 4-way
    // star (fact ⋈ orders, dim customer/nation broadcast), top 20 by
    // revenue under a total order. Completes the q1/q3/q5 relational trio
    // with the returnflag-filtered variant.
    "q10_returned_items" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
      li.join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, dir)),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum(col("l_extendedprice").cast(D2) *
          (lit(1).cast(D2) - col("l_discount").cast(D2)))
          .cast(D4).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
    }),

    // J3 — anti-join: order dates with no lineitem shipped that day.
    "q_anti_join" -> ((s, dir) => {
      val odates = Tables.orders(s, dir).select(to_date(col("o_orderdate")).as("d")).distinct()
      val sdates = Tables.lineitem(s, dir).select(to_date(col("l_shipdate")).as("d")).distinct()
      odates.join(sdates, Seq("d"), "left_anti")
    }),

    // semi-join — EXISTS: customers having at least one urgent order.
    "q_semi_join" -> ((s, dir) => {
      val urgent = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      Tables.customer(s, dir).join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"))
    }),

    // A1 — group-by count (records per date, `bronze/main.py:275-281`).
    "q_count_by_date" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(to_date(col("l_shipdate")).as("d"))
        .agg(count(lit(1)).as("n"))),

    // A3 — exact product aggregate (custom Aggregator; map-side combined).
    "q_product_agg" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_linenumber") <= 2)
        .groupBy(col("l_orderkey"))
        .agg(ProductAgg.product(lit(1.0) + col("l_discount")).as("disc_product"))
        .select(col("l_orderkey"),
          round(col("disc_product"), 6).as("disc_product"))),

    // A9 — multi-dimensional aggregate: CUBE over two keys (partial/final
    // agg + grouping sets expansion, all map-side combined).
    "q_cube_agg" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).cast(D2).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))),

    // A5 — distinct + countDistinct.
    "q_distinct" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(to_date(col("l_shipdate"))).as("n_dates"))),

    // A6 — dedup on key keep-last (`bronze/splits.py:45`): latest order per
    // customer, row_number over desc order with a unique tiebreaker.
    "q_dedup_keep_last" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(to_date(col("o_orderdate")).desc, col("o_orderkey").desc)
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"),
          to_date(col("o_orderdate")).as("odate"))
    }),

    // A7 — scalar stats incl. null-count.
    "q_scalar_stats" -> ((s, dir) =>
      Tables.orders(s, dir).agg(
        max(to_date(col("o_orderdate"))).as("max_date"),
        min(to_date(col("o_orderdate"))).as("min_date"),
        count(lit(1)).as("n"),
        sum(when(col("o_totalprice").isNull, 1).otherwise(0)).as("null_prices"))),

    // A8 — anomaly thresholds: per-date counts vs global mean, through the
    // pipeline's own report (floor 0 never fires: every count is ≥ 1).
    "q_anomaly_counts" -> ((s, dir) =>
      graft.pipeline.Validation.countAnomalies(
        Tables.lineitem(s, dir).select(to_date(col("l_shipdate")).as("d")), "d")
        .select(col("d"), col("n"))),

    // O3 — top-k: TakeOrderedAndProject, unique tiebreaker.
    "q_topk" -> ((s, dir) =>
      Tables.orders(s, dir)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
        .select(col("o_orderkey"), col("o_totalprice").as("total"))),

    // U1 — union-all of schema-aligned frames (unionByName).
    "q_union_all" -> ((s, dir) => {
      val hi = Tables.orders(s, dir).filter(col("o_totalprice") > 150000.0)
        .select(col("o_orderkey"), lit("HI").as("band"))
      val lo = Tables.orders(s, dir).filter(col("o_totalprice") < 20000.0)
        .select(col("o_orderkey"), lit("LO").as("band"))
      hi.unionByName(lo)
    }),

    // U3 — except (set difference).
    "q_except" -> ((s, dir) => {
      val all = Tables.customer(s, dir).select(col("c_custkey"))
      val withOrders = Tables.orders(s, dir).select(col("o_custkey").as("c_custkey")).distinct()
      all.except(withOrders)
    }),

    // U3+ — BAG-semantics set difference (exceptAll): per-value
    // multiplicity max(|A|−|B|, 0) — the multiset op DISTINCT except
    // can't express. Total order multiplicities minus urgent-order
    // multiplicities = each customer appears once per NON-urgent order.
    "q_except_all" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      o.select(col("o_custkey"))
        .exceptAll(o.filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey")))
    }),

    // U3+ — BAG-semantics intersection (intersectAll): per-value
    // multiplicity min(|A|,|B|) — here min(total orders, urgent orders)
    // per customer = the urgent multiset again, proving the op exact.
    "q_intersect_all" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      o.select(col("o_custkey"))
        .intersectAll(o.filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey")))
    }),

    // F1-F4 — date kitchen sink: epoch-ms→date, format, year/quarter.
    "q_date_functions" -> ((s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderkey"),
          to_date(col("o_orderdate")).as("odate"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate_str"),
          year(col("o_orderdate")).as("yr"),
          quarter(col("o_orderdate")).as("qtr"))
        .filter(col("o_orderkey") <= 2000)),

    // F6/F7 — greatest-of-3 + abs.
    "q_greatest_abs" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          greatest(col("l_quantity"),
            abs(col("l_quantity") - lit(25.0)),
            lit(10.0)).as("g"))
        .filter(col("l_orderkey") <= 1000)),

    // F12 — ordered string-agg of grouped values (`metadata.json:237-248`).
    "q_string_agg" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_orderkey") <= 200)
        .groupBy(col("l_orderkey"))
        .agg(concat_ws(",", array_sort(collect_list(col("l_linenumber")))).as("lines"))),

    // O4 — exact-n pseudo-random sample (`silver/validation.py:145`):
    // md5-ordered top-n instead of rand(seed) + limit. Same statistical
    // intent (the md5 order is uncorrelated with any data order), but
    // deterministic across engines, re-runs, AND repartitions — so it's
    // hash-checkable against the oracle, and it plans as
    // TakeOrderedAndProject (per-partition top-n, no global sort).
    "q_sample_n" -> ((s, dir) =>
      Tables.orders(s, dir)
        .orderBy(md5(col("o_orderkey").cast("string").cast("binary")),
          col("o_orderkey"))
        .limit(50)
        .select(col("o_orderkey"), col("o_custkey"))),

    // F14 — JSON field extraction from the events props column.
    "q_json_extract" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"),
          get_json_object(col("props"), "$.device").as("device"))
        .filter(col("event_id") <= 500)),

    // RFM customer segmentation: recency/frequency/monetary quartile
    // scores, segment = concat. Quartile membership via strict compares
    // against broadcast percentile thresholds (selections — the q_mad
    // doctrine) instead of a global rank window, so the pass is one hash
    // aggregate on custkey plus per-row projections; ties land on the
    // same side of every boundary in any engine or partitioning.
    "q_rfm" -> ((s, dir) => {
      val per = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(max(to_date(col("o_orderdate"))).as("last_d"),
          count(lit(1)).as("frequency"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("monetary_c"))
      val anchor = per.agg(max(col("last_d")).as("maxd"))
      val base = per.crossJoin(broadcast(anchor))
        .select(col("o_custkey"),
          datediff(col("maxd"), col("last_d")).as("recency_d"),
          col("frequency"), col("monetary_c"))
      val th = base.agg(
        expr("percentile(recency_d, 0.25)").as("r1"),
        expr("percentile(recency_d, 0.5)").as("r2"),
        expr("percentile(recency_d, 0.75)").as("r3"),
        expr("percentile(frequency, 0.25)").as("f1"),
        expr("percentile(frequency, 0.5)").as("f2"),
        expr("percentile(frequency, 0.75)").as("f3"),
        expr("percentile(monetary_c, 0.25)").as("m1"),
        expr("percentile(monetary_c, 0.5)").as("m2"),
        expr("percentile(monetary_c, 0.75)").as("m3"))
      def tier(c: org.apache.spark.sql.Column, a: String, b: String,
               cc: String) =
        lit(1) + (c > col(a)).cast("int") + (c > col(b)).cast("int") +
          (c > col(cc)).cast("int")
      base.crossJoin(broadcast(th))
        .select(col("o_custkey"), col("recency_d"), col("frequency"),
          col("monetary_c"),
          // low recency is GOOD: invert the tier
          (lit(5) - tier(col("recency_d"), "r1", "r2", "r3")).as("r_score"),
          tier(col("frequency"), "f1", "f2", "f3").as("f_score"),
          tier(col("monetary_c"), "m1", "m2", "m3").as("m_score"))
        .withColumn("segment", concat(col("r_score").cast("string"),
          col("f_score").cast("string"), col("m_score").cast("string")))
    })
  )

  def oracles: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(SUM(l_quantity) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_base_price,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q_scan_filter" ->
      """SELECT l_orderkey, l_partkey, l_extendedprice AS price
        |FROM lineitem WHERE l_returnflag = 'R' AND l_linenumber = 1""".stripMargin,
    "q_range_filter" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS odate,
        |  o_totalprice AS total
        |FROM orders
        |WHERE CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
        |  AND CAST(o_orderdate AS DATE) < DATE '1996-01-01'
        |  AND o_totalprice > 50000.0""".stripMargin,
    "q_in_filter" ->
      """SELECT o_orderpriority, COUNT(*) AS n FROM orders
        |WHERE o_orderpriority IN ('1-URGENT','2-HIGH') GROUP BY 1""".stripMargin,
    "q_nullguard" ->
      """SELECT c_custkey, c_acctbal AS bal
        |FROM customer WHERE c_acctbal IS NOT NULL AND c_acctbal > 0.0""".stripMargin,
    "q_cast_coerce" ->
      """SELECT CAST(l_orderkey AS VARCHAR) AS okey_s,
        |  CAST(l_quantity AS BIGINT) AS qty_l,
        |  CAST(l_linenumber AS DOUBLE) AS ln_d,
        |  CAST(l_shipdate AS DATE) AS ship_d,
        |  TRY_CAST(l_returnflag AS INTEGER) AS flag_i
        |FROM lineitem WHERE CAST(l_quantity AS BIGINT) >= 25""".stripMargin,
    "q_derived_cols" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS DOUBLE) AS net,
        |  CASE WHEN l_discount > 0.05 THEN 'DISC' ELSE 'FULL' END AS kind
        |FROM lineitem WHERE l_linenumber <= 2""".stripMargin,
    "q_left_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS DOUBLE) AS seg_total
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "q3_shipping_priority" ->
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS odate,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND CAST(o_orderdate AS DATE) < DATE '1995-03-15'
        |  AND CAST(l_shipdate AS DATE) > DATE '1995-03-15'
        |GROUP BY 1, 2
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_local_supplier" ->
      """SELECT n_name,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'
        |GROUP BY n_name""".stripMargin,
    "q10_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey ASC
        |LIMIT 20""".stripMargin,

    "q_anti_join" ->
      """SELECT d FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders)
        |WHERE d NOT IN (SELECT DISTINCT CAST(l_shipdate AS DATE) FROM lineitem)""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')""".stripMargin,
    "q_count_by_date" ->
      "SELECT CAST(l_shipdate AS DATE) AS d, COUNT(*) AS n FROM lineitem GROUP BY 1",
    "q_product_agg" ->
      """SELECT l_orderkey, ROUND(PRODUCT(1.0 + l_discount), 6) AS disc_product
        |FROM lineitem WHERE l_linenumber <= 2 GROUP BY l_orderkey""".stripMargin,
    "q_cube_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(SUM(l_quantity) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty, COUNT(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
    "q_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT CAST(l_shipdate AS DATE)) AS n_dates
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q_dedup_keep_last" ->
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS odate FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
        |    ORDER BY CAST(o_orderdate AS DATE) DESC, o_orderkey DESC) AS rn
        |  FROM orders) WHERE rn = 1""".stripMargin,
    "q_scalar_stats" ->
      """SELECT MAX(CAST(o_orderdate AS DATE)) AS max_date,
        |  MIN(CAST(o_orderdate AS DATE)) AS min_date, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_prices
        |FROM orders""".stripMargin,
    "q_anomaly_counts" ->
      """WITH counts AS (
        |  SELECT CAST(l_shipdate AS DATE) AS d, COUNT(*) AS n FROM lineitem GROUP BY 1),
        |m AS (SELECT CAST(SUM(n) AS DOUBLE) / COUNT(*) AS mean_n FROM counts)
        |SELECT d, n FROM counts, m
        |WHERE n < mean_n * 0.5 OR n > mean_n * 2.0""".stripMargin,
    "q_topk" ->
      """SELECT o_orderkey, o_totalprice AS total
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,
    "q_union_all" ->
      """SELECT o_orderkey, 'HI' AS band FROM orders WHERE o_totalprice > 150000.0
        |UNION ALL
        |SELECT o_orderkey, 'LO' AS band FROM orders WHERE o_totalprice < 20000.0""".stripMargin,
    "q_except" ->
      """SELECT c_custkey FROM customer
        |EXCEPT SELECT DISTINCT o_custkey AS c_custkey FROM orders""".stripMargin,
    "q_except_all" ->
      """SELECT o_custkey FROM orders
        |EXCEPT ALL
        |SELECT o_custkey FROM orders
        |WHERE o_orderpriority = '1-URGENT'""".stripMargin,
    "q_intersect_all" ->
      """SELECT o_custkey FROM orders
        |INTERSECT ALL
        |SELECT o_custkey FROM orders
        |WHERE o_orderpriority = '1-URGENT'""".stripMargin,
    "q_date_functions" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS odate,
        |  STRFTIME(o_orderdate, '%Y-%m-%d') AS odate_str,
        |  CAST(YEAR(o_orderdate) AS INTEGER) AS yr,
        |  CAST(QUARTER(o_orderdate) AS INTEGER) AS qtr
        |FROM orders WHERE o_orderkey <= 2000""".stripMargin,
    "q_greatest_abs" ->
      """SELECT l_orderkey, l_linenumber,
        |  GREATEST(l_quantity, ABS(l_quantity - 25.0), 10.0) AS g
        |FROM lineitem WHERE l_orderkey <= 1000""".stripMargin,
    "q_string_agg" ->
      """SELECT l_orderkey,
        |  STRING_AGG(l_linenumber, ',' ORDER BY l_linenumber) AS lines
        |FROM lineitem WHERE l_orderkey <= 200 GROUP BY l_orderkey""".stripMargin,
    "q_json_extract" ->
      """SELECT event_id, JSON_EXTRACT_STRING(props, '$.device') AS device
        |FROM events WHERE event_id <= 500""".stripMargin,
    "q_sample_n" ->
      """SELECT o_orderkey, o_custkey FROM orders
        |ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey
        |LIMIT 50""".stripMargin,

    "q_rfm" ->
      """WITH per AS (
        |  SELECT o_custkey, MAX(CAST(o_orderdate AS DATE)) AS last_d,
        |    COUNT(*) AS frequency,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS monetary_c
        |  FROM orders GROUP BY 1),
        |a AS (SELECT MAX(last_d) AS maxd FROM per),
        |b AS (
        |  SELECT o_custkey, CAST(maxd - last_d AS INT) AS recency_d,
        |    frequency, monetary_c
        |  FROM per CROSS JOIN a),
        |th AS (SELECT
        |  quantile_cont(recency_d, 0.25) AS r1,
        |  quantile_cont(recency_d, 0.5)  AS r2,
        |  quantile_cont(recency_d, 0.75) AS r3,
        |  quantile_cont(frequency, 0.25) AS f1,
        |  quantile_cont(frequency, 0.5)  AS f2,
        |  quantile_cont(frequency, 0.75) AS f3,
        |  quantile_cont(monetary_c, 0.25) AS m1,
        |  quantile_cont(monetary_c, 0.5)  AS m2,
        |  quantile_cont(monetary_c, 0.75) AS m3 FROM b),
        |s AS (
        |  SELECT o_custkey, recency_d, frequency, monetary_c,
        |    5 - (1 + CASE WHEN recency_d > r1 THEN 1 ELSE 0 END
        |           + CASE WHEN recency_d > r2 THEN 1 ELSE 0 END
        |           + CASE WHEN recency_d > r3 THEN 1 ELSE 0 END) AS r_score,
        |    1 + CASE WHEN frequency > f1 THEN 1 ELSE 0 END
        |      + CASE WHEN frequency > f2 THEN 1 ELSE 0 END
        |      + CASE WHEN frequency > f3 THEN 1 ELSE 0 END AS f_score,
        |    1 + CASE WHEN monetary_c > m1 THEN 1 ELSE 0 END
        |      + CASE WHEN monetary_c > m2 THEN 1 ELSE 0 END
        |      + CASE WHEN monetary_c > m3 THEN 1 ELSE 0 END AS m_score
        |  FROM b CROSS JOIN th)
        |SELECT o_custkey, recency_d, frequency, monetary_c,
        |  r_score, f_score, m_score,
        |  CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) ||
        |    CAST(m_score AS VARCHAR) AS segment
        |FROM s""".stripMargin
  )
}
