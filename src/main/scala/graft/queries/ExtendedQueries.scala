package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Coverage extensions past the reference's own operator set (SURVEY §2):
  * the rest of the window-function family (rank/dense_rank/ntile,
  * percent_rank/cume_dist, navigation incl. lead, RANGE frames, per-group
  * top-k), the rest of the grouping family (ROLLUP, GROUPING SETS, pivot,
  * unpivot, FILTER-clause conditional aggs + HAVING), subqueries (correlated
  * EXISTS, scalar), array/lateral ops (posexplode, array scalar fns), set
  * intersect, full-outer join, a non-equi band (range) join, calendar
  * gap-fill, string/math scalar breadth, and order-insensitive exact
  * statistics (stddev/variance, Pearson r, interpolated percentiles).
  *
  * Determinism rules are the same as [[RelationalQueries]]: exact types on
  * every aggregation path (longs/decimals), doubles only through identical
  * expression trees on both engines, and unique total orders under any
  * rank/limit so ties cannot straddle engines.
  */
object ExtendedQueries {

  private val D2 = DecimalType(18, 2)
  private val D4 = DecimalType(38, 4)

  /** Deterministic synthetic coordinates planted on doc ids (the
    * PII-salting precedent: the fixture carries no geo columns, so both
    * engines rebuild the identical points from the same closed form). */
  private def geoPoints(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id").as("id"),
      (lit(-10.0) + (col("doc_id") * 7919 % 2000) / 100.0).as("lat"),
      (lit(-20.0) + (col("doc_id") * 104729 % 4000) / 100.0).as("lon"))

  /** Shared pipeline of the decomposition family (q_decompose /
    * q_decomp_anomaly): per-ticker centered 5-day window in 5×cents
    * integer units plus the (ticker, dow) seasonal-mean join — one tree so
    * every consumer's doubles are bit-identical to the oracle's. Columns:
    * ticker, date, close, n5, sum5, det5, s5. */
  private def decomposedBars(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("ticker")).orderBy(col("date"))
      .rowsBetween(-2, 2)
    val base = Tables.bars(s, dir).select(col("ticker"), col("date"),
      col("close"),
      round(col("close") * 100).cast("long").as("c"),
      pmod(datediff(col("date"), to_date(lit("1970-01-05"))), lit(7))
        .cast("long").as("dow"))
    val t = base
      .withColumn("n5", count(lit(1)).over(w))
      .withColumn("sum5", sum(col("c")).over(w))
      .withColumn("det5",
        when(col("n5") === 5, col("c") * 5 - col("sum5")))
    val seas = t.filter(col("det5").isNotNull)
      .groupBy(col("ticker"), col("dow"))
      .agg((sum(col("det5")).cast("double") /
        count(lit(1)).cast("double")).as("s5"))
    t.join(seas, Seq("ticker", "dow"), "left")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // spatial neighbor join: all point pairs within 1 squared degree via
    // the 3×3 grid-bucket equi-join (each pair meets exactly once — no
    // post-join dedup); planar d² is pure ±/× doubles, so the oracle
    // replays the exact IEEE tree (haversine trig is not cross-engine
    // bit-stable; it belongs in a caller-owned re-scoring pass).
    "q_geo_neighbors" -> ((s, dir) =>
      graft.operators.GeoOps.gridNeighborPairs(geoPoints(s, dir),
        cellDeg = 1.0, maxD2 = 1.0)),

    // grid-cell density rollup — the heatmap aggregation.
    "q_geo_density" -> ((s, dir) =>
      graft.operators.GeoOps.cellDensity(geoPoints(s, dir), cellDeg = 5.0)),
    // rank family. rank/dense_rank rank a coarse bucket (real ties —
    // deterministic because equal keys get equal ranks); ntile runs over a
    // fully tiebroken order so bucket boundaries are unique.
    "q_rank_windows" -> ((s, dir) => {
      // floor, not cast: DuckDB casts double→int by rounding, Spark by
      // truncation — floor() agrees on both engines.
      val byBucket = Window.partitionBy(col("o_orderpriority"))
        .orderBy(floor(col("o_totalprice") / 50000).cast("int").desc)
      val unique = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir)
        .filter(col("o_orderkey") <= 5000)
        .select(col("o_orderkey"), col("o_orderpriority"),
          rank().over(byBucket).as("rnk"),
          dense_rank().over(byBucket).as("drnk"),
          ntile(4).over(unique).as("tile"))
    }),

    // navigation fns over an unbounded frame: first/last/nth close per
    // ticker. One shuffle on ticker; frame is computed per-partition.
    "q_nav_windows" -> ((s, dir) => {
      val w = Window.partitionBy(col("ticker"))
        .orderBy(col("date"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.bars(s, dir)
        .select(col("ticker"), col("date"),
          first(col("close")).over(w).as("first_close"),
          last(col("close")).over(w).as("last_close"),
          nth_value(col("close"), 2).over(w).as("second_close"))
    }),

    // RANGE frame: trailing 7 calendar days (not 7 rows) of volume per
    // ticker — the frame spec the reference never needed but a trading
    // engine does (gaps over weekends shrink the window). Ordered on an
    // integer day number so Spark and DuckDB share frame semantics exactly;
    // long sums are exact.
    "q_range_frame" -> ((s, dir) => {
      val w = Window.partitionBy(col("ticker"))
        .orderBy(datediff(col("date"), lit("1992-01-01")))
        .rangeBetween(-6, Window.currentRow)
      Tables.bars(s, dir)
        .select(col("ticker"), col("date"),
          sum(col("volume")).over(w).as("vol_7d"))
    }),

    // ROLLUP — hierarchical subtotals (complement of q_cube_agg's CUBE).
    "q_rollup_agg" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).cast(D2).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))),

    // GROUPING SETS with grouping() to disambiguate the null rows — only
    // expressible through SQL text; exercises the spark.sql surface.
    "q_grouping_sets" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("li_gsets")
      s.sql("""SELECT l_returnflag, l_linestatus,
              |  CAST(grouping(l_returnflag) AS INT) AS g_flag,
              |  CAST(CAST(SUM(l_quantity) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty
              |FROM li_gsets
              |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""".stripMargin)
    }),

    // pivot: segment counts per nation, fixed pivot values (at scale the
    // value list must be static anyway — an implicit distinct is a job).
    "q_pivot" -> ((s, dir) => {
      val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
      val pivoted = Tables.customer(s, dir)
        .groupBy(col("c_nationkey"))
        .pivot("c_mktsegment", segs)
        .agg(count(lit(1)))
      pivoted.select(col("c_nationkey") +:
        segs.map(v => coalesce(col(v), lit(0L)).as(v.toLowerCase)): _*)
    }),

    // lateral/generator: posexplode of the embedding vector — one row per
    // (vec_id, dim). Narrow (no shuffle); float→double is exact widening.
    "q_explode" -> ((s, dir) =>
      Tables.embeddings(s, dir)
        .filter(col("vec_id") <= 50)
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), col("pos"),
          col("col").cast("double").as("val"))),

    // array scalar functions (size / max / min) — order-free, exact.
    "q_array_fns" -> ((s, dir) =>
      Tables.embeddings(s, dir)
        .filter(col("vec_id") <= 100)
        .select(col("vec_id"),
          size(col("embedding")).as("n_dims"),
          array_max(col("embedding")).cast("double").as("mx"),
          array_min(col("embedding")).cast("double").as("mn"))),

    // higher-order array lambdas (transform / filter / aggregate) — the
    // floats are quantized to integer milli-units inside the transform, so
    // the fold and the filter count are exact on both engines.
    "q_hof_fns" -> ((s, dir) =>
      Tables.embeddings(s, dir)
        .filter(col("vec_id") <= 100)
        .select(col("vec_id"),
          transform(col("embedding"),
            x => round(x.cast("double") * 1000).cast("long")).as("q"))
        .select(col("vec_id"),
          size(filter(col("q"), _ > 0L)).as("n_pos"),
          aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("q_sum"),
          aggregate(col("q"), lit(0L),
            (acc, x) => acc + abs(x)).as("q_l1"))),

    // calendar feature extraction — ISO week / ISO weekday, month-end flag,
    // days-in-month, leap year. All integer-valued, engine-exact; the ISO
    // weekday is derived from Spark's Sunday-1 dayofweek to match isodow.
    "q_calendar_features" -> ((s, dir) =>
      Tables.orders(s, dir)
        .filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"),
          to_date(col("o_orderdate")).as("odate"),
          weekofyear(col("o_orderdate")).as("iso_week"),
          ((dayofweek(col("o_orderdate")) + 5) % 7 + 1).as("iso_dow"),
          dayofyear(col("o_orderdate")).as("doy"),
          (to_date(col("o_orderdate")) === last_day(col("o_orderdate")))
            .as("is_month_end"),
          dayofmonth(last_day(col("o_orderdate"))).as("days_in_month"),
          (year(col("o_orderdate")) % 4 === 0 &&
            (year(col("o_orderdate")) % 100 =!= 0 ||
             year(col("o_orderdate")) % 400 === 0)).as("is_leap"))),

    // array ordering / dedup / slicing — outputs stay scalar (the driver's
    // compare str()s values, and numpy vs list array reprs differ), so the
    // sliced top-3 is folded to a sum and membership to booleans.
    "q_array_ops" -> ((s, dir) =>
      Tables.embeddings(s, dir)
        .filter(col("vec_id") <= 100)
        .select(col("vec_id"),
          transform(col("embedding"),
            x => round(x.cast("double") * 1000).cast("long")).as("q"))
        .select(col("vec_id"),
          size(array_distinct(col("q"))).as("n_distinct"),
          array_contains(col("q"), 0L).as("has_zero"),
          aggregate(slice(sort_array(col("q"), asc = false), 1, 3),
            lit(0L), (acc, x) => acc + x).as("top3_sum"),
          element_at(sort_array(col("q")), 1).as("lo"),
          element_at(sort_array(col("q")), -1).as("hi"))),

    // MapType construction + lookup: per-nation segment→count map built from
    // grouped entries, then keyed extraction. Outputs are scalars (the map
    // never crosses the compare); lookup misses coalesce to 0.
    "q_map_fns" -> ((s, dir) => {
      val counts = Tables.customer(s, dir)
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("cnt"))
      counts.groupBy(col("c_nationkey"))
        .agg(map_from_entries(collect_list(struct(col("c_mktsegment"),
          col("cnt")))).as("m"))
        .select(col("c_nationkey"),
          size(col("m")).as("n_segments"),
          coalesce(element_at(col("m"), lit("BUILDING")), lit(0L))
            .as("building"),
          coalesce(element_at(col("m"), lit("MACHINERY")), lit(0L))
            .as("machinery"))
    }),

    // explicit CROSS JOIN (tiny × tiny — broadcast nested loop, never a
    // shuffled cartesian).
    "q_cross_join" -> ((s, dir) =>
      Tables.region(s, dir).select(col("r_name"))
        .crossJoin(Tables.nation(s, dir).select(col("n_name")))
        .select(col("r_name"), col("n_name"))),

    // UNION DISTINCT (q_union_all covers the ALL variant) — distinct months
    // seen on either side of the order/ship timeline.
    "q_union_distinct" -> ((s, dir) =>
      Tables.orders(s, dir).select(trunc(col("o_orderdate"), "month").as("m"))
        .union(Tables.lineitem(s, dir)
          .select(trunc(col("l_shipdate"), "month").as("m")))
        .distinct()),

    // schema-evolution union: two generations of the same feed where the
    // newer one carries an extra column. unionByName(allowMissingColumns)
    // aligns by NAME and null-fills the older generation — the exact
    // semantics of appending evolving parquet batches (cf. the
    // mergeSchema read in sources.Storage). Zero-shuffle: both sides are
    // scans and the union is a plan-level concat.
    "q_union_evolve" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val gen1 = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val gen2 = o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority").as("priority_tag"))
      gen1.unionByName(gen2, allowMissingColumns = true)
    }),

    // OUTER explode: rows whose array is empty survive with a NULL
    // element (explode_outer) — the left-join-shaped generator a plain
    // explode silently drops rows on. Long words (> 7 chars) leave some
    // docs empty-handed, so the outer semantics are actually exercised.
    "q_explode_outer" -> ((s, dir) =>
      Tables.documents(s, dir).filter(col("doc_id") < 100)
        .select(col("doc_id"), explode_outer(expr(
          "filter(split(lower(trim(text)), '\\\\s+'), w -> length(w) > 7)"))
          .as("long_word"))),

    // positional explode: token with its 0-based ordinal — the ordinal is
    // what sequence labeling / packing pipelines need and a plain explode
    // drops. Per-row generator, no shuffle; the oracle rebuilds the
    // ordinal with generate_series over the same split.
    "q_posexplode" -> ((s, dir) =>
      Tables.documents(s, dir).filter(col("doc_id") < 200)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "word")))),

    // centered moving average (±2 rows) — symmetric frames are the one
    // rolling shape cum−lag can't express directly; the 5-row frame is
    // constant-size so WindowExec's per-row re-aggregation stays O(5·rows).
    // Decimal addends → frame-order-independent, one double division.
    "q_centered_ma" -> ((s, dir) => {
      val w = Window.partitionBy(col("ticker")).orderBy(col("date"))
        .rowsBetween(-2, 2)
      Tables.bars(s, dir).select(col("ticker"), col("date"), col("close"),
        round(sum(col("close").cast(DecimalType(18, 2))).over(w)
            .cast("double") / count(lit(1)).over(w), 6).as("cma5"))
    }),

    // classical decomposition: close = trend (centered 5-day MA) +
    // day-of-week seasonal + residual. Exactness: detrending happens in
    // 5×cents INTEGER units (det5 = 5·c − Σ₅c — no division until the
    // final projection), dow is pure integer date arithmetic anchored on
    // a fixed Monday (engine dayofweek conventions differ), and the one
    // seasonal mean is a single shared double division. Seasonal means
    // join back on (ticker, dow) — a 7-row-per-ticker dim.
    // UNROUNDED (the q_holt doctrine): every output is a double from an
    // expression tree the oracle shares verbatim, so the bits match;
    // rounding would actually BREAK parity on dyadic halves (observed:
    // resid landing on ...5 at 1e-6 split HALF_UP vs HALF_EVEN)
    "q_decompose" -> ((s, dir) =>
      decomposedBars(s, dir)
        .select(col("ticker"), col("date"), col("close"),
          when(col("n5") === 5, col("sum5").cast("double") / 500.0)
            .as("trend"),
          (col("s5") / 500.0).as("seasonal"),
          when(col("det5").isNotNull && col("s5").isNotNull,
            (col("det5").cast("double") - col("s5")) / 500.0)
            .as("resid"))),

    // anomaly screen on the DESEASONALIZED series: days whose
    // decomposition residual exceeds 3× the ticker's median |resid| — the
    // scale-free alert a raw z-on-price misfires on every seasonal swing,
    // thresholded per ticker so a volatile name doesn't drown a quiet one.
    // Exactness: the flag is a strict comparison over the same shared-tree
    // doubles q_decompose emits, and the threshold is a median (selection
    // + one interpolation — the q_mad doctrine), so no double summation
    // can perturb the result. One hash aggregate on ticker after the
    // decomposition's existing window; the per-ticker medians broadcast.
    "q_decomp_anomaly" -> ((s, dir) => {
      val d = decomposedBars(s, dir)
        .select(col("ticker"),
          when(col("det5").isNotNull && col("s5").isNotNull,
            (col("det5").cast("double") - col("s5")) / 500.0)
            .as("resid"))
        .filter(col("resid").isNotNull)
      val med = d.groupBy(col("ticker"))
        .agg(expr("percentile(abs(resid), 0.5)").as("med_abs"))
      d.join(broadcast(med), "ticker")
        .groupBy(col("ticker"))
        .agg(count(lit(1)).as("n_days"),
          sum(when(abs(col("resid")) > col("med_abs") * 3.0, 1L)
            .otherwise(0L)).as("n_anomalies"),
          min(col("med_abs")).as("med_abs_resid"))
    }),

    // regexp extraction — digit runs only (a regex subset Java and RE2
    // treat identically).
    "q_regexp" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0)))
            .as("n_numbers"),
          regexp_extract(col("text"), "[0-9]+", 0).as("first_number"),
          length(regexp_replace(col("text"), "[0-9]+", "")).as("len_no_digits"))),

    // INTERSECT — the set op q_except doesn't cover.
    "q_intersect" -> ((s, dir) => {
      val withOrders = Tables.orders(s, dir)
        .select(col("o_custkey").as("c_custkey")).distinct()
      val rich = Tables.customer(s, dir)
        .filter(col("c_acctbal") > 5000.0).select(col("c_custkey"))
      rich.intersect(withOrders)
    }),

    // FULL OUTER join of two daily activity series — null-preserving on
    // both sides; shuffle on the date key only.
    "q_full_outer" -> ((s, dir) => {
      val odc = Tables.orders(s, dir)
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("n_ord"))
      val sdc = Tables.lineitem(s, dir)
        .groupBy(to_date(col("l_shipdate")).as("d"))
        .agg(count(lit(1)).as("n_ship"))
      odc.join(sdc, Seq("d"), "full_outer")
    }),

    // non-equi band join: suppliers bucketed into acctbal bands. The band
    // table is a literal → broadcast nested-loop join, the right plan for
    // any small-dim range join at 100 TB (never a cartesian shuffle).
    "q_band_join" -> ((s, dir) => {
      val bands = broadcast(s.createDataFrame(Seq(
        ("A", -1000.0, 0.0), ("B", 0.0, 2500.0), ("C", 2500.0, 5000.0),
        ("D", 5000.0, 7500.0), ("E", 7500.0, 10000.0)))
        .toDF("band", "lo", "hi"))
      Tables.supplier(s, dir)
        .join(bands, col("s_acctbal") >= col("lo") && col("s_acctbal") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"),
          sum(col("s_acctbal").cast(D2)).cast(D4).cast("double").as("bal_total"))
    }),

    // Bloom-pruned semi-join (the runtime-filter pattern, user-facing):
    // the filtering side's keys go into a compact bloom that prefilters
    // the fact scan BEFORE the semi-join's shuffle — the regime where the
    // dim side is too big to broadcast as a hash table but its ~MB bloom
    // still ships with the task binary. The semi-join's exact equality
    // then drops the bloom's false positives, so the RESULT is identical
    // to the plain semi-join (which is exactly what the oracle runs) —
    // the bloom changes shuffled volume, never the answer.
    "q_bloom_semi_join" -> ((s, dir) => {
      val hot = Tables.orders(s, dir)
        .filter(col("o_totalprice") > 150000.0)
        .select(col("o_orderkey"))
      val bloom = hot.stat.bloomFilter(
        "o_orderkey", math.max(hot.count(), 1L), 0.01)
      Tables.lineitem(s, dir)
        .filter(graft.functions.BloomExpressions.mightContain(
          bloom, col("l_orderkey")))
        .join(hot, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(D2)).cast("double").as("sum_qty"))
    }),

    // scalar string-function breadth: one projection exercising the
    // everyday string surface. Per-row, codegen'd, no shuffle.
    "q_string_functions" -> ((s, dir) =>
      Tables.part(s, dir).filter(col("p_partkey") <= 500)
        .select(col("p_partkey"),
          upper(col("p_name")).as("up"),
          lower(col("p_brand")).as("lo"),
          length(col("p_name")).as("len"),
          substring(col("p_name"), 1, 5).as("pre"),
          lpad(col("p_brand"), 12, "_").as("padded"),
          regexp_replace(col("p_name"), "[aeiou]", "").as("novowels"),
          concat_ws("|", col("p_brand"), col("p_type")).as("joined"),
          reverse(col("p_brand")).as("rev"),
          translate(col("p_type"), " ", "_").as("xlated"))),

    // scalar math-function breadth: identical expression trees on both
    // engines, rounded where transcendental.
    "q_math_functions" -> ((s, dir) =>
      Tables.supplier(s, dir)
        .select(col("s_suppkey"),
          round(sqrt(abs(col("s_acctbal"))), 6).as("rt"),
          round(exp(col("s_acctbal") / 10000.0), 6).as("ex"),
          round(log(abs(col("s_acctbal")) + 1.0), 6).as("ln"),
          pow(col("s_suppkey"), 2).cast("long").as("sq"),
          pmod(col("s_suppkey"), lit(7)).as("m7"),
          signum(col("s_acctbal")).cast("int").as("sgn"),
          ceil(col("s_acctbal")).cast("long").as("ce"),
          floor(col("s_acctbal")).cast("long").as("fl"))),

    // lead + lag navigation in one pass (lag alone is covered by the
    // indicator suite; lead completes the pair).
    "q_lead_lag" -> ((s, dir) => {
      val w = Window.partitionBy(col("ticker")).orderBy(col("date"))
      Tables.bars(s, dir).filter(col("ticker") < "T2")
        .select(col("ticker"), col("date"),
          lag(col("close"), 1).over(w).as("prev_close"),
          lead(col("close"), 1).over(w).as("next_close"),
          lead(col("close"), 5).over(w).as("close_5ahead"))
    }),

    // unpivot / melt: wide OHLC columns → long (field, value) rows. Narrow
    // per-row generation, no shuffle.
    "q_unpivot" -> ((s, dir) =>
      Tables.bars(s, dir).filter(col("ticker") < "T2")
        .unpivot(Array(col("ticker"), col("date")),
          Array(col("open").cast("double").as("open"),
            col("close").cast("double").as("close")),
          "field", "value")),

    // distribution window functions: percent_rank/cume_dist over a coarse
    // bucket (real ties — both are rank-derived rationals, so the doubles
    // are identical on any engine).
    "q_dist_windows" -> ((s, dir) => {
      val byBucket = Window.partitionBy(col("o_orderpriority"))
        .orderBy(floor(col("o_totalprice") / 50000).cast("int"))
      Tables.orders(s, dir)
        .filter(col("o_orderkey") <= 5000)
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(percent_rank().over(byBucket), 6).as("pr"),
          round(cume_dist().over(byBucket), 6).as("cd"))
    }),

    // FILTER-clause conditional aggregation + HAVING — one partial-combined
    // pass computes all three conditional counts (no per-branch scans).
    "q_filtered_agg" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("ord_fa")
      s.sql("""SELECT o_orderpriority,
              |  COUNT(*) AS n,
              |  COUNT(*) FILTER (WHERE o_totalprice > 200000.0) AS n_big,
              |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_final,
              |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              |       FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS tot_final
              |FROM ord_fa
              |GROUP BY o_orderpriority
              |HAVING COUNT(*) > 100""".stripMargin)
    }),

    // correlated EXISTS subquery — Catalyst decorrelates to a left-semi
    // join on the correlation key (one shuffle, no per-row probing).
    "q_exists_subquery" -> ((s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("cust_ex")
      Tables.orders(s, dir).createOrReplaceTempView("ord_ex")
      s.sql("""SELECT c_custkey, c_acctbal FROM cust_ex c
              |WHERE c_acctbal > 9000.0 AND EXISTS (
              |  SELECT 1 FROM ord_ex o
              |  WHERE o.o_custkey = c.c_custkey
              |    AND o.o_orderpriority = '1-URGENT')""".stripMargin)
    }),

    // scalar subquery: compare each row against a global aggregate. Plans
    // as one reusable subquery result broadcast into the filter, not a
    // per-row re-evaluation.
    "q_scalar_subquery" -> ((s, dir) => {
      Tables.supplier(s, dir).createOrReplaceTempView("supp_sq")
      // mean from a decimal sum: partition-order-independent, so the
      // threshold comparison can't flip between engines
      s.sql("""SELECT s_suppkey, s_name, s_acctbal FROM supp_sq
              |WHERE s_acctbal > (
              |  SELECT CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE)
              |         / COUNT(*) * 1.8 FROM supp_sq)""".stripMargin)
    }),

    // top-k per group: the windowed variant of q_topk. row_number over a
    // unique total order (tiebreak on key), filtered to k — Spark runs this
    // as one shuffle on the group key with rank pushdown
    // (WindowGroupLimit), never a global sort.
    "q_topk_per_group" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 5)
    }),

    // calendar gap-fill / resample: one row per (ticker, calendar day in the
    // ticker's [min,max] range), close carried forward over gaps. The spine
    // is generated per ticker (sequence+explode — narrow after one agg) and
    // the carry-forward is last(ignoreNulls) over the same ticker shuffle the
    // join uses. Forward-fill is value equality, so engines agree exactly.
    "q_gap_fill" -> ((s, dir) => {
      val bars = Tables.bars(s, dir).filter(col("ticker") < "T3")
      val spine = bars.groupBy(col("ticker"))
        .agg(min(col("date")).as("d0"), max(col("date")).as("d1"))
        .select(col("ticker"),
          explode(expr("sequence(d0, d1, interval 1 day)")).as("date"))
      val w = Window.partitionBy(col("ticker")).orderBy(col("date"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(bars.select(col("ticker"), col("date"), col("close")),
          Seq("ticker", "date"), "left")
        .select(col("ticker"), col("date"),
          last(col("close"), ignoreNulls = true).over(w).as("close_ff"),
          col("close").isNull.as("imputed"))
    }),

    // exact interpolated percentiles (percentile_cont semantics on both
    // engines); rounded so the one double interpolation step can't drift.
    "q_percentile" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(round(expr("percentile(o_totalprice, 0.25)"), 4).as("p25"),
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.75)"), 4).as("p75"))),

    // exact distributed correlation: Pearson r from decimal power sums, so
    // the result is independent of partition/merge order (built-in corr()
    // is a streaming double accumulation — not reproducible run-to-run at
    // cluster scale). Final arithmetic in double, same tree both engines.
    "q_corr" -> ((s, dir) => {
      val x = col("l_quantity").cast(D2)
      val y = col("l_extendedprice").cast(D2)
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).cast("double").as("n"),
          sum(x).cast("double").as("sx"),
          sum(y).cast("double").as("sy"),
          sum((x * y).cast(D4)).cast("double").as("sxy"),
          sum((x * x).cast(D4)).cast("double").as("sxx"),
          sum((y * y).cast(D4)).cast("double").as("syy"))
        .select(col("l_returnflag"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
             sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6).as("r"))
    }),

    // order-insensitive exact moments: stddev/variance derived from exact
    // decimal sums (sum, sum of squares), so the result is independent of
    // partitioning/merge order — the only way a distributed stddev can be
    // bit-reproducible run-to-run. Final arithmetic in double with the
    // identical expression tree on both engines.
    "q_stats_agg" -> ((s, dir) => {
      val p = col("l_extendedprice").cast(D2)
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).cast("double").as("n"),
          sum(p).cast("double").as("s"),
          sum((p * p).cast(D4)).cast("double").as("sq"))
        .select(col("l_returnflag"),
          col("n").cast("long").as("n_rows"),
          round((col("sq") - col("s") * col("s") / col("n")) /
            (col("n") - lit(1.0)), 4).as("var_samp"),
          round(sqrt((col("sq") - col("s") * col("s") / col("n")) /
            (col("n") - lit(1.0))), 4).as("std_samp"))
    }),

    // MERGE/upsert: updates replace same-key base rows, unmatched updates
    // insert — one anti-join on the key + union (MergeOps.upsert). The
    // update/insert batches are derived deterministically from orders so
    // the oracle can restate the merge as a CASE + UNION ALL.
    "q_upsert" -> ((s, dir) => {
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice").as("total"))
      val updates = Tables.orders(s, dir)
        .filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), lit("0-MERGED").as("o_orderpriority"),
          (col("o_totalprice") + 1000.0).as("total"))
      val inserts = Tables.orders(s, dir)
        .filter(col("o_orderkey") % 1000 === 1)
        .select((col("o_orderkey") + lit(10000000L)).as("o_orderkey"),
          lit("9-INSERTED").as("o_orderpriority"),
          col("o_totalprice").as("total"))
      graft.operators.MergeOps.upsert(
        base, updates.unionByName(inserts), Seq("o_orderkey"))
    }),

    // exact distributed OLS regression per ticker: slope/intercept from
    // exact integer/decimal power sums (order- and partitioning-independent),
    // combined in double with the identical expression tree on both engines.
    "q_regr" -> ((s, dir) => {
      val b = Tables.bars(s, dir).select(col("ticker"),
        datediff(col("date"), lit("1992-01-01")).as("x"),
        col("close").cast(D2).as("y"))
      val sums = b.groupBy(col("ticker")).agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("x").cast("long")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("x").cast("long") * col("x")).cast("double").as("sxx"),
        sum((col("x") * col("y")).cast(D4)).cast("double").as("sxy"))
      sums.select(col("ticker"), col("n").cast("long").as("n_days"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
        round((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) / col("n"), 6)
          .as("intercept"))
    }),

    // string-similarity join: Levenshtein edit distance between
    // consecutive part names (both engines implement classic Levenshtein).
    "q_edit_distance" -> ((s, dir) => {
      val p = Tables.part(s, dir).filter(col("p_partkey") <= 300)
      val a = p.select(col("p_partkey").as("k_a"), col("p_name").as("name_a"))
      val b = p.select(col("p_partkey").as("k_b"), col("p_name").as("name_b"))
      a.join(b, col("k_b") === col("k_a") + 1)
        .select(col("k_a"),
          levenshtein(col("name_a"), col("name_b")).as("dist"))
    }),

    // Jaro-Winkler similarity via the native codegen expression — the
    // graded cousin of q_edit_distance's Levenshtein; textbook constants
    // (p=0.1, boost 0.7, prefix cap 4) match DuckDB's implementation, so
    // the oracle replays the scores directly.
    "q_jaro_winkler" -> ((s, dir) => {
      val p = Tables.part(s, dir).filter(col("p_partkey") <= 300)
      val a = p.select(col("p_partkey").as("k_a"), col("p_name").as("name_a"))
      val b = p.select(col("p_partkey").as("k_b"), col("p_name").as("name_b"))
      a.join(b, col("k_b") === col("k_a") + 1)
        .select(col("k_a"),
          round(graft.functions.StringSimilarity.jaroWinklerCol(
            col("name_a"), col("name_b")), 6).as("jw"))
    }),

    // CSV sink + source round-trip: write a slice as headered CSV, read it
    // back with an explicit schema, return the parsed rows. The oracle
    // states the same rows straight from parquet — equality proves the
    // text round-trip is lossless for string/date/long.
    "q_csv_roundtrip" -> ((s, dir) => {
      val out = s"/tmp/graft_csv_rt/${java.lang.Integer.toHexString(dir.hashCode)}"
      Tables.bars(s, dir).filter(col("ticker") === "T7")
        .select(col("ticker"), col("date"), col("volume"))
        .repartition(1)
        .write.mode("overwrite").option("header", "true").csv(out)
      s.read.option("header", "true")
        .schema("ticker STRING, date DATE, volume LONG")
        .csv(out)
    }),

    // JSON-lines sink + source round-trip incl. a nested struct column;
    // doubles survive because Spark writes shortest-repr and reads it back
    // to the identical IEEE value.
    "q_jsonl_roundtrip" -> ((s, dir) => {
      val out = s"/tmp/graft_jsonl_rt/${java.lang.Integer.toHexString(dir.hashCode)}"
      Tables.bars(s, dir).filter(col("ticker") === "T13")
        .select(col("ticker"), col("date"),
          struct(col("open"), col("close")).as("px"), col("volume"))
        .repartition(1)
        .write.mode("overwrite").json(out)
      s.read
        .schema("ticker STRING, date DATE, px STRUCT<open: DOUBLE, close: DOUBLE>, volume LONG")
        .json(out)
        .select(col("ticker"), col("date"),
          col("px.open").as("open"), col("px.close").as("close"), col("volume"))
    }),

    // exact distributed skewness: central moments rebuilt from integer-cent
    // power sums — cents are exact in long/decimal(38,0) on Spark and
    // HUGEINT in DuckDB, so every sum is order-independent and identical;
    // skew is scale-invariant so cents give the same value as dollars.
    // Final math in double with the identical tree both engines.
    "q_moments" -> ((s, dir) => {
      val c = round(col("o_totalprice") * 100).cast("long")
      val cd = c.cast(DecimalType(38, 0))
      val sums = Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).cast("double").as("n"),
          sum(c).cast("double").as("s1"),
          sum(cd * cd).cast("double").as("s2"),
          sum(cd * cd * cd).cast("double").as("s3"))
      sums.select(col("o_orderpriority"), col("n").cast("long").as("n_rows"),
        round({
          val m = col("s1") / col("n")
          val m2 = col("s2") / col("n") - m * m
          val m3 = col("s3") / col("n") - lit(3.0) * m * (col("s2") / col("n")) +
            lit(2.0) * m * m * m
          m3 / sqrt(m2 * m2 * m2)
        }, 6).as("skew"))
    }),

    // Smoothed target (mean) encoding per category — the leakage-safe ML
    // feature op: enc = (Σ_cat + k·global_mean)/(n_cat + k), k=10, all
    // through exact cent sums and one shared IEEE tree.
    "q_target_encode" -> ((s, dir) => {
      val cents = round(col("o_totalprice") * 100).cast("long")
      val byCat = Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).cast("double").as("n"),
          sum(cents).cast("double").as("sc"))
      val glob = byCat.agg(sum(col("sc")).as("gs"), sum(col("n")).as("gn"))
      byCat.crossJoin(broadcast(glob))
        .select(col("o_orderpriority"), col("n").cast("long").as("n_rows"),
          round(col("sc") / col("n") / 100.0, 6).as("raw_mean"),
          round((col("sc") + lit(10.0) * (col("gs") / col("gn"))) /
            (col("n") + lit(10.0)) / 100.0, 6).as("encoded"))
    }),

    // Population stability index between the parity split's value
    // distributions (train/serve drift monitor): fixed-width bins with a
    // Laplace prior so empty bins stay defined, per-bin contributions
    // rounded to DECIMAL before the sum (order-independent), log2 both
    // engines (the q_unigram_lm parity doctrine).
    "q_psi" -> ((s, dir) => {
      val e = Tables.events(s, dir).select(
        least(floor(col("value") / 50), lit(11)).cast("int").as("b"),
        (col("user_id") % 2).as("g"))
      val cnt = e.groupBy("g", "b").agg(count(lit(1)).as("c"))
      val tot = cnt.groupBy("g").agg(sum(col("c")).as("t"))
      val spine = e.sparkSession.range(12).select(col("id").cast("int").as("b"))
      val p = (coalesce(col("ca"), lit(0L)) + lit(1)).cast("double") /
        (col("ta") + lit(12)).cast("double")
      val q = (coalesce(col("cb"), lit(0L)) + lit(1)).cast("double") /
        (col("tb") + lit(12)).cast("double")
      spine
        .crossJoin(broadcast(tot.where(col("g") === 0).select(col("t").as("ta"))))
        .crossJoin(broadcast(tot.where(col("g") === 1).select(col("t").as("tb"))))
        .join(cnt.where(col("g") === 0).select(col("b"), col("c").as("ca")),
          Seq("b"), "left")
        .join(cnt.where(col("g") === 1).select(col("b"), col("c").as("cb")),
          Seq("b"), "left")
        .select(round((p - q) * log2(p / q), 6)
          .cast(DecimalType(28, 6)).as("contrib"))
        .agg(sum(col("contrib")).cast("double").as("psi"),
          count(lit(1)).as("n_bins"))
    }),

    // Weekday (business-day) span between order and ship dates via the
    // closed form g(n) = 5·(n div 7) + min(n mod 7, 5) counted from an
    // anchor Monday — all integer arithmetic, no calendar table, O(1) per
    // row where a calendar join would shuffle a dim. (Exchange-holiday
    // precision lives in functions.TradingCalendar — spec'd, driver-side;
    // this is the pure-SQL-replayable weekday arithmetic.)
    "q_weekday_span" -> ((s, dir) => {
      val j = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          to_date(col("l_shipdate")).as("d_ship"))
        .join(Tables.orders(s, dir)
          .select(col("o_orderkey"), to_date(col("o_orderdate")).as("d_ord")),
          col("l_orderkey") === col("o_orderkey"))
      j.select(col("l_orderkey"), col("l_linenumber"),
          expr("5 * (datediff(d_ship, DATE'1991-12-30') div 7) + " +
            "least(pmod(datediff(d_ship, DATE'1991-12-30'), 7), 5) - " +
            "(5 * (datediff(d_ord, DATE'1991-12-30') div 7) + " +
            "least(pmod(datediff(d_ord, DATE'1991-12-30'), 7), 5))")
            .cast("int").as("weekdays"))
    }),

    // Mutual information between lang and source (bits) — the dependence
    // measure next to q_chi_square's significance test. Observed cells
    // only (0·log0 = 0 drops empties), exact count ratios through one
    // shared tree, contributions decimal-summed.
    "q_mutual_info" -> ((s, dir) => {
      val c = Tables.documents(s, dir)
        .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
      val rt = c.groupBy("lang").agg(sum(col("o")).as("rt"))
      val ct = c.groupBy("source").agg(sum(col("o")).as("ct"))
      val n = c.agg(sum(col("o")).as("nn"))
      val pij = col("o").cast("double") / col("nn")
      val ratio = (col("o").cast("double") * col("nn")) /
        (col("rt").cast("double") * col("ct"))
      c.join(broadcast(rt), "lang").join(broadcast(ct), "source")
        .crossJoin(broadcast(n))
        .select(round(pij * log2(ratio), 6)
          .cast(DecimalType(28, 6)).as("contrib"))
        .agg(sum(col("contrib")).cast("double").as("mi_bits"),
          count(lit(1)).as("n_cells"))
    }),

    // Welch's two-sample t-test per event type: users deterministically
    // bucketed A/B by id parity, value compared through exact micro-unit
    // power sums (the q_moments doctrine), then one shared IEEE formula
    // tree for mean/variance/t — the experimentation-analytics kernel.
    // At scale: one (type, bucket)-keyed agg, then a 5-row self-join.
    "q_ab_test" -> ((s, dir) => {
      val micro = round(col("value") * 1000000).cast("long")
      val md = micro.cast(DecimalType(38, 0))
      val g = Tables.events(s, dir)
        .groupBy(col("event_type"), (col("user_id") % 2).as("grp"))
        .agg(count(lit(1)).cast("double").as("n"),
          sum(micro).cast("double").as("s1"),
          sum(md * md).cast("double").as("s2"))
      def side(v: Int, suf: String) = g.where(col("grp") === v)
        .select(col("event_type"), col("n").as(s"n$suf"),
          col("s1").as(s"s1$suf"), col("s2").as(s"s2$suf"))
      def mean(suf: String) = col(s"s1$suf") / col(s"n$suf")
      def variance(suf: String) =
        (col(s"s2$suf") - col(s"s1$suf") * col(s"s1$suf") / col(s"n$suf")) /
          (col(s"n$suf") - lit(1.0))
      side(0, "a").join(side(1, "b"), "event_type")
        .select(col("event_type"),
          col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
          round(mean("a") / 1e6, 6).as("mean_a"),
          round(mean("b") / 1e6, 6).as("mean_b"),
          round((mean("a") - mean("b")) /
            sqrt(variance("a") / col("na") + variance("b") / col("nb")), 6)
            .as("t_stat"))
    }),

    // Chi-square independence test (lang × source over documents),
    // INCLUDING empty cells — (0−E)²/E contributes E, so the cell grid is
    // the dim cross join, not the observed pairs. Per-cell contributions
    // round to DECIMAL(28,6) before the sum (the q_unigram_lm doctrine:
    // decimal addition is order-independent where double addition is not).
    "q_chi_square" -> ((s, dir) => {
      val c = Tables.documents(s, dir)
        .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
      val rt = c.groupBy("lang").agg(sum("o").as("rt"))
      val ct = c.groupBy("source").agg(sum("o").as("ct"))
      val n = c.agg(sum("o").as("nn"))
      val e = (col("rt") * col("ct")).cast("double") / col("nn")
      val o = coalesce(col("o"), lit(0L)).cast("double")
      rt.crossJoin(ct)
        .join(c, Seq("lang", "source"), "left")
        .crossJoin(broadcast(n))
        .select(col("lang"), col("source"),
          round((o - e) * (o - e) / e, 6)
            .cast(DecimalType(28, 6)).as("contrib"))
        .agg(sum(col("contrib")).cast("double").as("chi2"),
          ((countDistinct(col("lang")) - 1) *
            (countDistinct(col("source")) - 1)).as("dof"),
          count(lit(1)).as("n_cells"))
    }),

    // ORC sink + source round-trip: binary columnar, so doubles/longs/dates
    // survive bit-exactly with no text parse step. Oracle states the same
    // rows straight from parquet — equality proves losslessness.
    "q_orc_roundtrip" -> ((s, dir) => {
      val out = s"/tmp/graft_orc_rt/${java.lang.Integer.toHexString(dir.hashCode)}"
      Tables.bars(s, dir).filter(col("ticker") === "T21")
        .select(col("ticker"), col("date"), col("open"), col("close"),
          col("volume"))
        .repartition(1)
        .write.mode("overwrite").orc(out)
      s.read.orc(out)
    }),

    // interval-overlap self-join, binned: candidate pairs come from an
    // equi-join on a month-grain bin (each interval explodes to the months
    // it covers), the exact overlap predicate filters, and DISTINCT dedups
    // pairs sharing several bins. At scale this is a shuffle hash join on
    // the bin key instead of the O(n²) theta join the naive phrasing
    // forces; the oracle IS that naive theta join, proving the rewrite
    // exact.
    "q_interval_overlap" -> ((s, dir) => {
      val iv = Tables.orders(s, dir).filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey").as("key"),
          col("o_orderdate").cast("date").as("ds"),
          date_add(col("o_orderdate").cast("date"), 14).as("de"))
      graft.operators.IntervalJoin.overlapPairs(iv, iv, "key", "ds", "de",
        grain = "month")
    }),

    // 2-D skyline (Pareto frontier): a part is dominated iff another part
    // is strictly cheaper AND strictly larger. Two phases:
    //   1. LOCAL frontier per hash bucket — the same running-max-size-over-
    //      strictly-cheaper predicate, windowed inside the bucket. Every
    //      global skyline point survives its bucket's filter (fewer
    //      comparisons can only keep more), and every dominated point's
    //      minimal dominator chain ends at a bucket-local survivor — so
    //      the survivor union is a superset of the skyline that still
    //      contains a dominator for every dominated row.
    //   2. GLOBAL pass over that small union — the only unpartitioned
    //      window, now fed |frontier|-ish rows instead of the whole table.
    // O(n log n) total where the oracle's NOT EXISTS is quadratic; the
    // independent formulation doubles as a stronger proof. At 100 TB the
    // bucket count scales with the cluster; phase 2's input stays ~the
    // frontier size regardless of corpus size.
    "q_skyline" -> ((s, dir) => {
      val p = Tables.part(s, dir).select(col("p_partkey"), col("p_size"),
        col("p_retailprice"),
        round(col("p_retailprice") * 100).cast("long").as("price_c"))
      val lw = Window.partitionBy(col("bucket")).orderBy(col("price_c"))
        .rangeBetween(Window.unboundedPreceding, -1)
      val local = p
        .withColumn("bucket", pmod(hash(col("p_partkey")), lit(32)))
        .withColumn("local_best", max(col("p_size")).over(lw))
        .filter(col("local_best").isNull ||
          col("local_best") <= col("p_size"))
        .drop("bucket", "local_best")
      val w = Window.orderBy(col("price_c"))
        .rangeBetween(Window.unboundedPreceding, -1)
      local.withColumn("best_cheaper_size", max(col("p_size")).over(w))
        .filter(col("best_cheaper_size").isNull ||
          col("best_cheaper_size") <= col("p_size"))
        .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
    }),

    // null-safe equi-join (<=>): the join mode where NULL keys match each
    // other. The nullable key is synthesized (custkey bucket 0 → NULL) so
    // both inputs carry a genuine NULL group a plain equi-join would drop.
    "q_nullsafe_join" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val a = o.groupBy(expr("nullif(o_custkey % 50, 0)").as("k"))
        .agg(count(lit(1)).as("n_all"))
      val b = o.filter(col("o_orderpriority") === "1-URGENT")
        .groupBy(expr("nullif(o_custkey % 50, 0)").as("k2"))
        .agg(count(lit(1)).as("n_urgent"))
      a.join(b, col("k") <=> col("k2"), "left")
        .select(col("k"), col("n_all"), col("n_urgent"))
    }),

    // tumbling-window dedup: keep the first event per (user, 10-minute
    // epoch-aligned window) — the batch twin of streaming
    // dropDuplicatesWithinWatermark. Deterministic: the window start is
    // integer-µs arithmetic and the keep-pick is totally ordered by
    // (ts, event_id).
    "q_window_dedup" -> ((s, dir) => {
      val ev = Tables.events(s, dir).withColumn("win_start",
        expr("timestamp_micros((unix_micros(ts) div 600000000) * 600000000)"))
      val w = Window.partitionBy(col("user_id"), col("win_start"))
        .orderBy(col("ts"), col("event_id"))
      ev.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("user_id"), col("win_start"), col("event_id"),
          col("event_type"))
    }),

    // histogram binning: fixed-width buckets via floor division (engine-
    // identical), count + exact decimal mass per bin — the score-
    // distribution summary every corpus-quality dashboard needs. One
    // map-side-combined aggregation at any scale.
    "q_histogram" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupBy(floor(col("o_totalprice") / 25000).cast("int").as("bin"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(D2)).cast(D4).cast("double").as("mass"))),

    // Benford first-significant-digit audit: leading digit taken from the
    // CENTS integer's string form (double→string formatting differs
    // across engines; integer→string doesn't, and shifting the decimal
    // point never changes the leading digit). Expected mass
    // ln(1+1/d)/ln(10); observed freq is an exact integer division.
    // One map-combined 9-group aggregation — the classic forensic
    // anomaly screen over any monetary column.
    "q_benford" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val digit = substring(
        round(col("l_extendedprice") * 100).cast("long").cast("string"), 1, 1)
      li.select(digit.as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(li.agg(count(lit(1)).as("total"))))
        .withColumn("freq", col("n").cast("double") / col("total").cast("double"))
        .withColumn("benford_p",
          log(lit(1.0) + lit(1.0) / col("digit").cast("double")) / log(lit(10.0)))
        .select(col("digit"), col("n"), col("freq"),
          round(col("benford_p"), 6).as("benford_p"),
          round(col("freq") - col("benford_p"), 6).as("dev"))
    }),

    // column profiling: null-rate / distinct-count / lexical min-max per
    // column in ONE pass over the table (every aggregate pair lives in the
    // same projection — not a scan per column), stacked to a row per
    // column. The data-quality profile every lake onboarding runs.
    "q_profile" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val profiled = o.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("o_orderpriority").isNull, 1L).otherwise(0L)).as("nn_prio"),
        countDistinct(col("o_orderpriority")).as("nd_prio"),
        min(col("o_orderpriority").cast("string")).as("mn_prio"),
        max(col("o_orderpriority").cast("string")).as("mx_prio"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("nn_cust"),
        countDistinct(col("o_custkey")).as("nd_cust"),
        min(col("o_custkey").cast("string")).as("mn_cust"),
        max(col("o_custkey").cast("string")).as("mx_cust"))
      profiled.select(lit("o_orderpriority").as("column"),
          col("n_rows"), col("nn_prio").as("n_nulls"),
          col("nd_prio").as("n_distinct"),
          col("mn_prio").as("min_str"), col("mx_prio").as("max_str"))
        .unionByName(profiled.select(lit("o_custkey").as("column"),
          col("n_rows"), col("nn_cust").as("n_nulls"),
          col("nd_cust").as("n_distinct"),
          col("mn_cust").as("min_str"), col("mx_cust").as("max_str")))
    }),

    // referential-integrity check: count FK orphans both directions with
    // anti-join semantics stated as aggregates — the validation pass any
    // medallion promotion gate runs before publishing.
    "q_fk_orphans" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(col("l_orderkey")).distinct()
      val ok = Tables.orders(s, dir).select(col("o_orderkey")).distinct()
      val liOrphans = li.join(ok, col("l_orderkey") === col("o_orderkey"),
        "left_anti").agg(count(lit(1)).as("n")).select(
        lit("lineitem_without_order").as("check"), col("n"))
      val okChildless = ok.join(li, col("l_orderkey") === col("o_orderkey"),
        "left_anti").agg(count(lit(1)).as("n")).select(
        lit("order_without_lineitem").as("check"), col("n"))
      liOrphans.unionByName(okChildless)
    }),

    // z-order (Morton) values: the 2-D bit interleave a z-ordered file
    // layout sorts on, exposed and oracle-checked — pure mask-shift
    // integer arithmetic the oracle reproduces verbatim.
    "q_zorder" -> ((s, dir) =>
      Tables.part(s, dir).select(col("p_partkey"),
        graft.functions.GraftFunctions.zorder2(
          col("p_size"), col("p_partkey") % 500).as("z"))),

    // order-independent table checksum (Storage.tableChecksum): the
    // integrity manifest validated after migrations/compactions — row
    // order, file layout, and partitioning may change, content must not.
    // SUMs of 32-bit md5 windows are exact and commutative on any engine.
    // The op returns the sums as decimal(38,0) (a long sum wraps past
    // ~2^31 rows); the compared form is the digit STRING — the driver
    // reads Spark decimals as decimal.Decimal but oracle decimals as
    // float64, whose reprs diverge.
    "q_table_checksum" -> ((s, dir) =>
      graft.sources.Storage.tableChecksum(
        s.read.parquet(s"$dir/lineitem.parquet"),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_returnflag", "l_linestatus"))
        .select(col("n_rows"), col("sum_h1").cast("string").as("sum_h1"),
          col("sum_h2").cast("string").as("sum_h2"))),

    // z-score outlier flags: per-ticker mean/std rebuilt from integer-cent
    // power sums (exact, order-independent — the q_moments doctrine), stats
    // broadcast back, |z| > 1.5 rows flagged. The outlier-filter pass every
    // training corpus runs before fitting anything.
    "q_outliers" -> ((s, dir) => {
      val c = round(col("close") * 100).cast("long")
      val cd = c.cast(DecimalType(38, 0))
      val b = Tables.bars(s, dir)
      val stats = b.groupBy(col("ticker")).agg(
        count(lit(1)).cast("double").as("n"),
        sum(c).cast("double").as("s1"),
        sum(cd * cd).cast("double").as("s2"))
      b.join(broadcast(stats), "ticker")
        .withColumn("z", {
          val mu = col("s1") / col("n")
          val sd = sqrt((col("s2") - col("s1") * col("s1") / col("n")) /
            (col("n") - lit(1.0)))
          (c.cast("double") - mu) / sd
        })
        .filter(abs(col("z")) > 1.5)
        .select(col("ticker"), col("date"), col("close"),
          round(col("z"), 4).as("z"))
    }),

    // winsorization: clip each ticker's closes to its own [p05, p95] —
    // exact interpolated percentiles (q_percentile doctrine) broadcast
    // back, one shuffle total.
    "q_winsorize" -> ((s, dir) => {
      val b = Tables.bars(s, dir)
      val pct = b.groupBy(col("ticker")).agg(
        expr("percentile(close, 0.05)").as("lo"),
        expr("percentile(close, 0.95)").as("hi"))
      b.join(broadcast(pct), "ticker")
        .select(col("ticker"), col("date"), col("close"),
          round(least(greatest(col("close"), col("lo")), col("hi")), 4)
            .as("close_w"))
    }),

    // robust statistics: exact per-group median and median absolute
    // deviation. percentile() is exact interpolation on both engines; the
    // per-ticker medians broadcast back so the second pass is one shuffle.
    "q_mad" -> ((s, dir) => {
      val b = Tables.bars(s, dir)
      val med = b.groupBy(col("ticker"))
        .agg(expr("percentile(close, 0.5)").as("med"))
      b.join(broadcast(med), "ticker")
        .groupBy(col("ticker"))
        .agg(round(min(col("med")), 4).as("med"),
          round(expr("percentile(abs(close - med), 0.5)"), 4).as("mad"))
    })
  )

  /** 8-hex-digit window of `expr` (1-based `start`) as its integer value —
    * the [[graft.sources.Storage.tableChecksum]] oracle's hex→int, built
    * from the same per-char CASE trick as the hash-bucket CTE. */
  private def hexWindowSql(expr: String, start: Int): String =
    (0 until 8).map { j =>
      val i = start + j
      val p = 1L << (4 * (7 - j))
      s"CAST(CASE WHEN ascii(substr($expr,$i,1)) >= 97 THEN ascii(substr($expr,$i,1))-87 ELSE ascii(substr($expr,$i,1))-48 END AS BIGINT) * $p"
    }.mkString("(", " + ", ")")

  private val geoPointsCte =
    """WITH p AS (
      |  SELECT doc_id AS id,
      |    -10.0 + (doc_id * 7919 % 2000) / 100.0 AS lat,
      |    -20.0 + (doc_id * 104729 % 4000) / 100.0 AS lon
      |  FROM documents)""".stripMargin

  def oracles: Map[String, String] = Map(

    // geo replay: same planted points, 3x3 cell expansion, exact planar d2
    "q_geo_neighbors" -> (geoPointsCte +
      """,
        |c AS (
        |  SELECT id, lat, lon,
        |    CAST(FLOOR(lon / 1.0) AS BIGINT) AS cx,
        |    CAST(FLOOR(lat / 1.0) AS BIGINT) AS cy
        |  FROM p),
        |n AS (
        |  SELECT c.id, c.lat, c.lon, c.cx + dx.x AS ncx, c.cy + dy.y AS ncy
        |  FROM c, UNNEST([-1, 0, 1]) AS dx(x), UNNEST([-1, 0, 1]) AS dy(y)),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |    (a.lon - b.lon) * (a.lon - b.lon)
        |      + (a.lat - b.lat) * (a.lat - b.lat) AS d2
        |  FROM n a JOIN c b
        |    ON a.ncx = b.cx AND a.ncy = b.cy AND a.id < b.id)
        |SELECT id_a, id_b, ROUND(d2, 6) AS d2
        |FROM pairs WHERE d2 <= 1.0""".stripMargin),

    "q_geo_density" -> (geoPointsCte +
      """
        |SELECT CAST(FLOOR(lon / 5.0) AS BIGINT) AS cx,
        |  CAST(FLOOR(lat / 5.0) AS BIGINT) AS cy,
        |  COUNT(*) AS n_points
        |FROM p GROUP BY 1, 2""".stripMargin),
    "q_table_checksum" ->
      s"""WITH h AS (
         |  SELECT md5(CAST(l_orderkey AS VARCHAR) || '|' ||
         |    CAST(l_partkey AS VARCHAR) || '|' ||
         |    CAST(l_suppkey AS VARCHAR) || '|' ||
         |    CAST(l_linenumber AS VARCHAR) || '|' ||
         |    l_returnflag || '|' || l_linestatus) AS hx
         |  FROM lineitem)
         |SELECT COUNT(*) AS n_rows,
         |  CAST(SUM(${hexWindowSql("hx", 1)}) AS VARCHAR) AS sum_h1,
         |  CAST(SUM(${hexWindowSql("hx", 9)}) AS VARCHAR) AS sum_h2
         |FROM h""".stripMargin,
    "q_rank_windows" ->
      """SELECT o_orderkey, o_orderpriority,
        |  RANK() OVER (PARTITION BY o_orderpriority
        |    ORDER BY CAST(FLOOR(o_totalprice / 50000) AS INT) DESC) AS rnk,
        |  DENSE_RANK() OVER (PARTITION BY o_orderpriority
        |    ORDER BY CAST(FLOOR(o_totalprice / 50000) AS INT) DESC) AS drnk,
        |  NTILE(4) OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey) AS tile
        |FROM orders WHERE o_orderkey <= 5000""".stripMargin,
    "q_nav_windows" -> (Tables.barsSql +
      """
        |SELECT ticker, date,
        |  FIRST_VALUE(close) OVER w AS first_close,
        |  LAST_VALUE(close) OVER w AS last_close,
        |  NTH_VALUE(close, 2) OVER w AS second_close
        |FROM bars
        |WINDOW w AS (PARTITION BY ticker ORDER BY date
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin),
    "q_range_frame" -> (Tables.barsSql +
      """
        |SELECT ticker, date,
        |  CAST(SUM(volume) OVER (PARTITION BY ticker
        |    ORDER BY (date - DATE '1992-01-01')
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS vol_7d
        |FROM bars""".stripMargin),
    "q_rollup_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(SUM(l_quantity) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty, COUNT(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
        |  CAST(SUM(l_quantity) AS DECIMAL(18,2)) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""".stripMargin,
    "q_pivot" ->
      """SELECT c_nationkey,
        |  COUNT(*) FILTER (c_mktsegment = 'AUTOMOBILE') AS automobile,
        |  COUNT(*) FILTER (c_mktsegment = 'BUILDING') AS building,
        |  COUNT(*) FILTER (c_mktsegment = 'FURNITURE') AS furniture,
        |  COUNT(*) FILTER (c_mktsegment = 'HOUSEHOLD') AS household,
        |  COUNT(*) FILTER (c_mktsegment = 'MACHINERY') AS machinery
        |FROM customer GROUP BY c_nationkey""".stripMargin,
    "q_explode" ->
      """SELECT vec_id, i AS pos, CAST(embedding[i + 1] AS DOUBLE) AS val
        |FROM embeddings, range(64) t(i) WHERE vec_id <= 50""".stripMargin,
    "q_array_fns" ->
      """SELECT vec_id, CAST(len(embedding) AS INT) AS n_dims,
        |  CAST(list_max(embedding) AS DOUBLE) AS mx,
        |  CAST(list_min(embedding) AS DOUBLE) AS mn
        |FROM embeddings WHERE vec_id <= 100""".stripMargin,
    "q_hof_fns" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        |  FROM embeddings WHERE vec_id <= 100)
        |SELECT vec_id,
        |  CAST(len(list_filter(q, x -> x > 0)) AS INT) AS n_pos,
        |  CAST(list_sum(q) AS BIGINT) AS q_sum,
        |  CAST(list_sum(list_transform(q, x -> ABS(x))) AS BIGINT) AS q_l1
        |FROM q""".stripMargin,
    "q_calendar_features" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS odate,
        |  CAST(WEEK(o_orderdate) AS INT) AS iso_week,
        |  CAST(ISODOW(o_orderdate) AS INT) AS iso_dow,
        |  CAST(DAYOFYEAR(o_orderdate) AS INT) AS doy,
        |  CAST(o_orderdate AS DATE) = LAST_DAY(o_orderdate) AS is_month_end,
        |  CAST(DAY(LAST_DAY(o_orderdate)) AS INT) AS days_in_month,
        |  YEAR(o_orderdate) % 4 = 0 AND
        |    (YEAR(o_orderdate) % 100 <> 0 OR YEAR(o_orderdate) % 400 = 0)
        |    AS is_leap
        |FROM orders WHERE o_orderkey <= 2000""".stripMargin,
    "q_array_ops" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        |  FROM embeddings WHERE vec_id <= 100)
        |SELECT vec_id,
        |  CAST(len(list_distinct(q)) AS INT) AS n_distinct,
        |  list_contains(q, 0) AS has_zero,
        |  CAST(list_sum(list_sort(q, 'DESC')[1:3]) AS BIGINT) AS top3_sum,
        |  list_sort(q)[1] AS lo,
        |  list_sort(q)[-1] AS hi
        |FROM q""".stripMargin,
    "q_map_fns" ->
      """WITH counts AS (
        |  SELECT c_nationkey, c_mktsegment, COUNT(*) AS cnt
        |  FROM customer GROUP BY 1, 2),
        |m AS (
        |  SELECT c_nationkey, map(list(c_mktsegment), list(cnt)) AS m
        |  FROM counts GROUP BY c_nationkey)
        |SELECT c_nationkey,
        |  CAST(cardinality(m) AS INT) AS n_segments,
        |  COALESCE(m['BUILDING'][1], 0) AS building,
        |  COALESCE(m['MACHINERY'][1], 0) AS machinery
        |FROM m""".stripMargin,
    "q_cross_join" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation""".stripMargin,
    "q_union_distinct" ->
      """SELECT DATE_TRUNC('month', o_orderdate)::DATE AS m FROM orders
        |UNION
        |SELECT DATE_TRUNC('month', l_shipdate)::DATE AS m FROM lineitem""".stripMargin,
    "q_union_evolve" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(NULL AS VARCHAR) AS priority_tag
        |FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice,
        |  o_orderpriority AS priority_tag
        |FROM orders WHERE o_orderkey % 2 = 1""".stripMargin,
    "q_explode_outer" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      w -> length(w) > 7) AS arr
        |  FROM documents WHERE doc_id < 100)
        |SELECT t.doc_id, u.long_word
        |FROM t LEFT JOIN LATERAL
        |  (SELECT UNNEST(t.arr) AS long_word) u ON TRUE""".stripMargin,

    "q_posexplode" ->
      """SELECT doc_id, CAST(i - 1 AS INT) AS pos, arr[i] AS word
        |FROM (SELECT doc_id, string_split(text, ' ') AS arr
        |      FROM documents WHERE doc_id < 200) t,
        |     LATERAL (SELECT unnest(generate_series(1, len(t.arr))) AS i) g""".stripMargin,
    "q_centered_ma" -> (Tables.barsSql +
      """
        |SELECT ticker, date, close,
        |  ROUND(CAST(SUM(CAST(close AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |    / COUNT(*) OVER w, 6) AS cma5
        |FROM bars
        |WINDOW w AS (PARTITION BY ticker ORDER BY date
        |             ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)""".stripMargin),
    "q_decompose" -> (Tables.barsSql +
      """
        |, ints AS (
        |  SELECT ticker, date, close,
        |    CAST(ROUND(close * 100) AS BIGINT) AS c,
        |    CAST((CAST(date AS DATE) - DATE '1970-01-05') % 7 AS BIGINT)
        |      AS dow
        |  FROM bars),
        |t AS (
        |  SELECT *, COUNT(*) OVER w AS n5, SUM(c) OVER w AS sum5,
        |    CASE WHEN COUNT(*) OVER w = 5
        |         THEN c * 5 - SUM(c) OVER w END AS det5
        |  FROM ints
        |  WINDOW w AS (PARTITION BY ticker ORDER BY date
        |               ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)),
        |seas AS (
        |  SELECT ticker, dow,
        |    CAST(SUM(det5) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS s5
        |  FROM t WHERE det5 IS NOT NULL GROUP BY 1, 2)
        |SELECT t.ticker, t.date, t.close,
        |  CASE WHEN n5 = 5
        |       THEN CAST(sum5 AS DOUBLE) / 500.0 END AS trend,
        |  s5 / 500.0 AS seasonal,
        |  CASE WHEN det5 IS NOT NULL AND s5 IS NOT NULL
        |       THEN (CAST(det5 AS DOUBLE) - s5) / 500.0
        |  END AS resid
        |FROM t LEFT JOIN seas USING (ticker, dow)""".stripMargin),
    "q_decomp_anomaly" -> (Tables.barsSql +
      """
        |, ints AS (
        |  SELECT ticker, date, close,
        |    CAST(ROUND(close * 100) AS BIGINT) AS c,
        |    CAST((CAST(date AS DATE) - DATE '1970-01-05') % 7 AS BIGINT)
        |      AS dow
        |  FROM bars),
        |t AS (
        |  SELECT *, COUNT(*) OVER w AS n5, SUM(c) OVER w AS sum5,
        |    CASE WHEN COUNT(*) OVER w = 5
        |         THEN c * 5 - SUM(c) OVER w END AS det5
        |  FROM ints
        |  WINDOW w AS (PARTITION BY ticker ORDER BY date
        |               ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)),
        |seas AS (
        |  SELECT ticker, dow,
        |    CAST(SUM(det5) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS s5
        |  FROM t WHERE det5 IS NOT NULL GROUP BY 1, 2),
        |d AS (
        |  SELECT t.ticker,
        |    CASE WHEN det5 IS NOT NULL AND s5 IS NOT NULL
        |         THEN (CAST(det5 AS DOUBLE) - s5) / 500.0
        |    END AS resid
        |  FROM t LEFT JOIN seas USING (ticker, dow)),
        |r AS (SELECT * FROM d WHERE resid IS NOT NULL),
        |med AS (
        |  SELECT ticker, quantile_cont(abs(resid), 0.5) AS med_abs
        |  FROM r GROUP BY ticker)
        |SELECT r.ticker, COUNT(*) AS n_days,
        |  CAST(SUM(CASE WHEN ABS(resid) > med_abs * 3.0
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
        |  MIN(med_abs) AS med_abs_resid
        |FROM r JOIN med USING (ticker) GROUP BY r.ticker""".stripMargin),
    "q_regexp" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_numbers,
        |  regexp_extract(text, '[0-9]+') AS first_number,
        |  CAST(LENGTH(regexp_replace(text, '[0-9]+', '', 'g')) AS INT)
        |    AS len_no_digits
        |FROM documents""".stripMargin,
    "q_intersect" ->
      """SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0
        |INTERSECT
        |SELECT DISTINCT o_custkey AS c_custkey FROM orders""".stripMargin,
    "q_full_outer" ->
      """WITH odc AS (SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n_ord
        |             FROM orders GROUP BY 1),
        |     sdc AS (SELECT CAST(l_shipdate AS DATE) AS d, COUNT(*) AS n_ship
        |             FROM lineitem GROUP BY 1)
        |SELECT COALESCE(odc.d, sdc.d) AS d, n_ord, n_ship
        |FROM odc FULL OUTER JOIN sdc ON odc.d = sdc.d""".stripMargin,
    "q_band_join" ->
      """SELECT band, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS DOUBLE) AS bal_total
        |FROM supplier
        |JOIN (VALUES ('A',-1000.0,0.0),('B',0.0,2500.0),('C',2500.0,5000.0),
        |             ('D',5000.0,7500.0),('E',7500.0,10000.0)) b(band, lo, hi)
        |  ON s_acctbal >= lo AND s_acctbal < hi
        |GROUP BY band""".stripMargin,
    "q_bloom_semi_join" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN
        |  (SELECT o_orderkey FROM orders WHERE o_totalprice > 150000)
        |GROUP BY 1""".stripMargin,
    "q_string_functions" ->
      """SELECT p_partkey,
        |  UPPER(p_name) AS up, LOWER(p_brand) AS lo,
        |  CAST(LENGTH(p_name) AS INT) AS len,
        |  SUBSTRING(p_name, 1, 5) AS pre,
        |  LPAD(p_brand, 12, '_') AS padded,
        |  regexp_replace(p_name, '[aeiou]', '', 'g') AS novowels,
        |  p_brand || '|' || p_type AS joined,
        |  REVERSE(p_brand) AS rev,
        |  translate(p_type, ' ', '_') AS xlated
        |FROM part WHERE p_partkey <= 500""".stripMargin,
    "q_math_functions" ->
      """SELECT s_suppkey,
        |  ROUND(SQRT(ABS(s_acctbal)), 6) AS rt,
        |  ROUND(EXP(s_acctbal / 10000.0), 6) AS ex,
        |  ROUND(LN(ABS(s_acctbal) + 1.0), 6) AS ln,
        |  CAST(POW(s_suppkey, 2) AS BIGINT) AS sq,
        |  CAST(s_suppkey % 7 AS BIGINT) AS m7,
        |  CAST(SIGN(s_acctbal) AS INT) AS sgn,
        |  CAST(CEIL(s_acctbal) AS BIGINT) AS ce,
        |  CAST(FLOOR(s_acctbal) AS BIGINT) AS fl
        |FROM supplier""".stripMargin,
    "q_lead_lag" -> (Tables.barsSql +
      """
        |SELECT ticker, date,
        |  LAG(close, 1) OVER w AS prev_close,
        |  LEAD(close, 1) OVER w AS next_close,
        |  LEAD(close, 5) OVER w AS close_5ahead
        |FROM bars WHERE ticker < 'T2'
        |WINDOW w AS (PARTITION BY ticker ORDER BY date)""".stripMargin),
    "q_unpivot" -> (Tables.barsSql +
      """
        |SELECT ticker, date, field, CAST(value AS DOUBLE) AS value
        |FROM (SELECT ticker, date, CAST(open AS DOUBLE) AS open,
        |             CAST(close AS DOUBLE) AS close
        |      FROM bars WHERE ticker < 'T2') b
        |UNPIVOT (value FOR field IN (open, close))""".stripMargin),
    "q_dist_windows" ->
      """SELECT o_orderkey, o_orderpriority,
        |  ROUND(PERCENT_RANK() OVER (PARTITION BY o_orderpriority
        |    ORDER BY CAST(FLOOR(o_totalprice / 50000) AS INT)), 6) AS pr,
        |  ROUND(CUME_DIST() OVER (PARTITION BY o_orderpriority
        |    ORDER BY CAST(FLOOR(o_totalprice / 50000) AS INT)), 6) AS cd
        |FROM orders WHERE o_orderkey <= 5000""".stripMargin,
    "q_filtered_agg" ->
      """SELECT o_orderpriority,
        |  COUNT(*) AS n,
        |  COUNT(*) FILTER (WHERE o_totalprice > 200000.0) AS n_big,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_final,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |       FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS tot_final
        |FROM orders
        |GROUP BY o_orderpriority
        |HAVING COUNT(*) > 100""".stripMargin,
    "q_exists_subquery" ->
      """SELECT c_custkey, c_acctbal FROM customer c
        |WHERE c_acctbal > 9000.0 AND EXISTS (
        |  SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |    AND o.o_orderpriority = '1-URGENT')""".stripMargin,
    "q_scalar_subquery" ->
      """SELECT s_suppkey, s_name, s_acctbal FROM supplier
        |WHERE s_acctbal > (
        |  SELECT CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |         / COUNT(*) * 1.8 FROM supplier)""".stripMargin,
    "q_topk_per_group" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t WHERE rn <= 5""".stripMargin,
    "q_gap_fill" -> (Tables.barsSql +
      """
        |, flt AS (SELECT * FROM bars WHERE ticker < 'T3'),
        |rng AS (SELECT ticker, MIN(date) AS d0, MAX(date) AS d1
        |        FROM flt GROUP BY 1),
        |spine AS (
        |  SELECT ticker, CAST(UNNEST(generate_series(CAST(d0 AS TIMESTAMP),
        |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS date
        |  FROM rng),
        |j AS (SELECT s.ticker, s.date, b.close
        |      FROM spine s LEFT JOIN flt b
        |        ON b.ticker = s.ticker AND b.date = s.date)
        |SELECT ticker, date,
        |  LAST_VALUE(close IGNORE NULLS) OVER (PARTITION BY ticker
        |    ORDER BY date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS close_ff,
        |  close IS NULL AS imputed
        |FROM j""".stripMargin),
    "q_percentile" ->
      """SELECT o_orderpriority,
        |  ROUND(quantile_cont(o_totalprice, 0.25), 4) AS p25,
        |  ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |  ROUND(quantile_cont(o_totalprice, 0.75), 4) AS p75
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "q_corr" ->
      """WITH m AS (
        |  SELECT l_returnflag,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) *
        |      CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) *
        |      CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag,
        |  ROUND((n * sxy - sx * sy) /
        |    (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)), 6) AS r
        |FROM m""".stripMargin,
    "q_stats_agg" ->
      """WITH m AS (
        |  SELECT l_returnflag,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS sq
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
        |  ROUND((sq - s * s / n) / (n - 1.0), 4) AS var_samp,
        |  ROUND(SQRT((sq - s * s / n) / (n - 1.0)), 4) AS std_samp
        |FROM m""".stripMargin,
    "q_upsert" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 7 = 0 THEN '0-MERGED'
        |       ELSE o_orderpriority END AS o_orderpriority,
        |  CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1000.0
        |       ELSE o_totalprice END AS total
        |FROM orders
        |UNION ALL
        |SELECT o_orderkey + 10000000 AS o_orderkey,
        |  '9-INSERTED' AS o_orderpriority, o_totalprice AS total
        |FROM orders WHERE o_orderkey % 1000 = 1""".stripMargin,
    "q_regr" -> (Tables.barsSql +
      """,
        |m AS (
        |  SELECT ticker,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(x AS BIGINT)) AS DOUBLE) AS sx,
        |    CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x AS BIGINT) * x) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(x * y AS DECIMAL(38,4))) AS DOUBLE) AS sxy
        |  FROM (SELECT ticker,
        |          CAST(date - DATE '1992-01-01' AS INTEGER) AS x,
        |          CAST(close AS DECIMAL(18,2)) AS y
        |        FROM bars)
        |  GROUP BY ticker)
        |SELECT ticker, CAST(n AS BIGINT) AS n_days,
        |  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |  ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
        |    AS intercept
        |FROM m""".stripMargin),
    "q_edit_distance" ->
      """SELECT a.p_partkey AS k_a,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
        |FROM part a JOIN part b ON b.p_partkey = a.p_partkey + 1
        |WHERE a.p_partkey <= 300 AND b.p_partkey <= 300""".stripMargin,
    "q_jaro_winkler" ->
      """SELECT a.p_partkey AS k_a,
        |  ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
        |FROM part a JOIN part b ON b.p_partkey = a.p_partkey + 1
        |WHERE a.p_partkey <= 300 AND b.p_partkey <= 300""".stripMargin,

    "q_csv_roundtrip" -> (Tables.barsSql +
      """
        |SELECT ticker, date, volume FROM bars WHERE ticker = 'T7'""".stripMargin),
    "q_jsonl_roundtrip" -> (Tables.barsSql +
      """
        |SELECT ticker, date, open, close, volume FROM bars WHERE ticker = 'T13'""".stripMargin),
    "q_moments" ->
      """WITH c AS (
        |  SELECT o_orderpriority,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
        |  FROM orders),
        |m AS (
        |  SELECT o_orderpriority,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(c) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(c AS HUGEINT) * c) AS DOUBLE) AS s2,
        |    CAST(SUM(CAST(c AS HUGEINT) * c * c) AS DOUBLE) AS s3
        |  FROM c GROUP BY o_orderpriority)
        |SELECT o_orderpriority, CAST(n AS BIGINT) AS n_rows,
        |  ROUND((s3 / n - 3.0 * (s1 / n) * (s2 / n) + 2.0 * (s1 / n) * (s1 / n) * (s1 / n)) /
        |    SQRT((s2 / n - (s1 / n) * (s1 / n)) * (s2 / n - (s1 / n) * (s1 / n)) *
        |         (s2 / n - (s1 / n) * (s1 / n))), 6) AS skew
        |FROM m""".stripMargin,
    "q_weekday_span" ->
      """WITH j AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(l_shipdate AS DATE) AS d_ship,
        |    CAST(o_orderdate AS DATE) AS d_ord
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT l_orderkey, l_linenumber,
        |  CAST(
        |    5 * (datediff('day', DATE '1991-12-30', d_ship) // 7)
        |    + LEAST(datediff('day', DATE '1991-12-30', d_ship) % 7, 5)
        |    - (5 * (datediff('day', DATE '1991-12-30', d_ord) // 7)
        |       + LEAST(datediff('day', DATE '1991-12-30', d_ord) % 7, 5))
        |  AS INT) AS weekdays
        |FROM j""".stripMargin,

    "q_mutual_info" ->
      """WITH c AS (
        |  SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY 1, 2),
        |rt AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS rt FROM c GROUP BY 1),
        |ct AS (SELECT source, CAST(SUM(o) AS BIGINT) AS ct FROM c GROUP BY 1),
        |n AS (SELECT CAST(SUM(o) AS BIGINT) AS nn FROM c)
        |SELECT
        |  CAST(SUM(CAST(ROUND(
        |    (CAST(o AS DOUBLE) / nn) *
        |    LOG2((CAST(o AS DOUBLE) * nn) / (CAST(rt AS DOUBLE) * ct)), 6)
        |    AS DECIMAL(28,6))) AS DOUBLE) AS mi_bits,
        |  COUNT(*) AS n_cells
        |FROM c JOIN rt USING (lang) JOIN ct USING (source), n""".stripMargin,

    "q_target_encode" ->
      """WITH byCat AS (
        |  SELECT o_orderpriority, CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) AS sc
        |  FROM orders GROUP BY 1),
        |g AS (SELECT SUM(sc) AS gs, SUM(n) AS gn FROM byCat)
        |SELECT o_orderpriority, CAST(n AS BIGINT) AS n_rows,
        |  ROUND(sc / n / 100.0, 6) AS raw_mean,
        |  ROUND((sc + 10.0 * (gs / gn)) / (n + 10.0) / 100.0, 6) AS encoded
        |FROM byCat, g""".stripMargin,

    "q_psi" ->
      """WITH e AS (
        |  SELECT CAST(LEAST(FLOOR(value / 50), 11) AS INT) AS b,
        |    user_id % 2 AS g
        |  FROM events),
        |cnt AS (SELECT g, b, COUNT(*) AS c FROM e GROUP BY 1, 2),
        |tot AS (SELECT g, CAST(SUM(c) AS BIGINT) AS t FROM cnt GROUP BY 1),
        |spine AS (SELECT CAST(UNNEST(range(0, 12)) AS INT) AS b),
        |grid AS (
        |  SELECT spine.b,
        |    CAST(COALESCE(ca.c, 0) + 1 AS DOUBLE) / (ta.t + 12) AS p,
        |    CAST(COALESCE(cb.c, 0) + 1 AS DOUBLE) / (tb.t + 12) AS q
        |  FROM spine
        |  CROSS JOIN (SELECT t FROM tot WHERE g = 0) ta
        |  CROSS JOIN (SELECT t FROM tot WHERE g = 1) tb
        |  LEFT JOIN (SELECT b, c FROM cnt WHERE g = 0) ca ON ca.b = spine.b
        |  LEFT JOIN (SELECT b, c FROM cnt WHERE g = 1) cb ON cb.b = spine.b)
        |SELECT
        |  CAST(SUM(CAST(ROUND((p - q) * LOG2(p / q), 6) AS DECIMAL(28,6)))
        |    AS DOUBLE) AS psi,
        |  COUNT(*) AS n_bins
        |FROM grid""".stripMargin,

    "q_ab_test" ->
      """WITH m AS (
        |  SELECT event_type, user_id % 2 AS grp,
        |    CAST(ROUND(value * 1000000) AS BIGINT) AS micro
        |  FROM events),
        |g AS (
        |  SELECT event_type, grp, CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(micro) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(micro AS HUGEINT) * micro) AS DOUBLE) AS s2
        |  FROM m GROUP BY 1, 2),
        |a AS (SELECT * FROM g WHERE grp = 0),
        |b AS (SELECT * FROM g WHERE grp = 1)
        |SELECT a.event_type,
        |  CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
        |  ROUND((a.s1 / a.n) / 1e6, 6) AS mean_a,
        |  ROUND((b.s1 / b.n) / 1e6, 6) AS mean_b,
        |  ROUND(((a.s1 / a.n) - (b.s1 / b.n)) /
        |    SQRT(((a.s2 - a.s1 * a.s1 / a.n) / (a.n - 1.0)) / a.n +
        |         ((b.s2 - b.s1 * b.s1 / b.n) / (b.n - 1.0)) / b.n), 6)
        |    AS t_stat
        |FROM a JOIN b ON a.event_type = b.event_type""".stripMargin,

    "q_chi_square" ->
      """WITH c AS (
        |  SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY 1, 2),
        |rt AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS rt FROM c GROUP BY 1),
        |ct AS (SELECT source, CAST(SUM(o) AS BIGINT) AS ct FROM c GROUP BY 1),
        |n AS (SELECT CAST(SUM(o) AS BIGINT) AS nn FROM c),
        |cells AS (
        |  SELECT rt.lang, ct.source,
        |    CAST(ROUND(
        |      (CAST(COALESCE(c.o, 0) AS DOUBLE)
        |         - CAST(rt.rt * ct.ct AS DOUBLE) / n.nn)
        |      * (CAST(COALESCE(c.o, 0) AS DOUBLE)
        |         - CAST(rt.rt * ct.ct AS DOUBLE) / n.nn)
        |      / (CAST(rt.rt * ct.ct AS DOUBLE) / n.nn), 6)
        |      AS DECIMAL(28,6)) AS contrib
        |  FROM rt CROSS JOIN ct
        |  LEFT JOIN c ON c.lang = rt.lang AND c.source = ct.source, n)
        |SELECT CAST(SUM(contrib) AS DOUBLE) AS chi2,
        |  (COUNT(DISTINCT lang) - 1) * (COUNT(DISTINCT source) - 1) AS dof,
        |  COUNT(*) AS n_cells
        |FROM cells""".stripMargin,

    "q_orc_roundtrip" -> (Tables.barsSql +
      """
        |SELECT ticker, date, open, close, volume FROM bars WHERE ticker = 'T21'""".stripMargin),
    "q_interval_overlap" ->
      """WITH iv AS (
        |  SELECT o_orderkey AS key, CAST(o_orderdate AS DATE) AS ds,
        |         CAST(o_orderdate AS DATE) + 14 AS de
        |  FROM orders WHERE o_orderkey % 97 = 0)
        |SELECT a.key AS key_a, b.key AS key_b,
        |  CAST(least(a.de, b.de) - greatest(a.ds, b.ds) + 1 AS INTEGER) AS overlap_days
        |FROM iv a JOIN iv b
        |  ON a.key < b.key AND a.ds <= b.de AND b.ds <= a.de""".stripMargin,
    "q_skyline" ->
      """SELECT p.p_partkey, p.p_retailprice, p.p_size
        |FROM part p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part q
        |  WHERE CAST(ROUND(q.p_retailprice * 100) AS BIGINT)
        |        < CAST(ROUND(p.p_retailprice * 100) AS BIGINT)
        |    AND q.p_size > p.p_size)""".stripMargin,
    "q_nullsafe_join" ->
      """WITH a AS (
        |  SELECT nullif(o_custkey % 50, 0) AS k, COUNT(*) AS n_all
        |  FROM orders GROUP BY 1),
        |b AS (
        |  SELECT nullif(o_custkey % 50, 0) AS k2, COUNT(*) AS n_urgent
        |  FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1)
        |SELECT a.k, a.n_all, b.n_urgent
        |FROM a LEFT JOIN b ON a.k IS NOT DISTINCT FROM b.k2""".stripMargin,
    "q_window_dedup" ->
      """WITH e AS (
        |  SELECT *, make_timestamp((epoch_us(ts) // 600000000) * 600000000) AS win_start
        |  FROM events),
        |r AS (
        |  SELECT user_id, win_start, event_id, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, win_start
        |      ORDER BY ts, event_id) AS rn
        |  FROM e)
        |SELECT user_id, win_start, event_id, event_type FROM r WHERE rn = 1""".stripMargin,
    "q_profile" ->
      """WITH p AS (
        |  SELECT COUNT(*) AS n_rows,
        |    SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS nn_prio,
        |    COUNT(DISTINCT o_orderpriority) AS nd_prio,
        |    MIN(CAST(o_orderpriority AS VARCHAR)) AS mn_prio,
        |    MAX(CAST(o_orderpriority AS VARCHAR)) AS mx_prio,
        |    SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS nn_cust,
        |    COUNT(DISTINCT o_custkey) AS nd_cust,
        |    MIN(CAST(o_custkey AS VARCHAR)) AS mn_cust,
        |    MAX(CAST(o_custkey AS VARCHAR)) AS mx_cust
        |  FROM orders)
        |SELECT 'o_orderpriority' AS "column", n_rows,
        |  CAST(nn_prio AS BIGINT) AS n_nulls, nd_prio AS n_distinct,
        |  mn_prio AS min_str, mx_prio AS max_str FROM p
        |UNION ALL
        |SELECT 'o_custkey' AS "column", n_rows,
        |  CAST(nn_cust AS BIGINT) AS n_nulls, nd_cust AS n_distinct,
        |  mn_cust AS min_str, mx_cust AS max_str FROM p""".stripMargin,
    "q_fk_orphans" ->
      """WITH li AS (SELECT DISTINCT l_orderkey FROM lineitem),
        |ok AS (SELECT DISTINCT o_orderkey FROM orders)
        |SELECT 'lineitem_without_order' AS check, COUNT(*) AS n
        |FROM li WHERE l_orderkey NOT IN (SELECT o_orderkey FROM ok)
        |UNION ALL
        |SELECT 'order_without_lineitem' AS check, COUNT(*) AS n
        |FROM ok WHERE o_orderkey NOT IN (SELECT l_orderkey FROM li)""".stripMargin,
    "q_zorder" ->
      """WITH q AS (SELECT p_partkey, CAST(p_size AS BIGINT) AS x,
        |                  CAST(p_partkey % 500 AS BIGINT) AS y FROM part),
        |s1 AS (SELECT p_partkey, ((x | (x << 8)) & 16711935) AS xa,
        |              ((y | (y << 8)) & 16711935) AS ya FROM q),
        |s2 AS (SELECT p_partkey, ((xa | (xa << 4)) & 252645135) AS xb,
        |              ((ya | (ya << 4)) & 252645135) AS yb FROM s1),
        |s3 AS (SELECT p_partkey, ((xb | (xb << 2)) & 858993459) AS xc,
        |              ((yb | (yb << 2)) & 858993459) AS yc FROM s2),
        |s4 AS (SELECT p_partkey, ((xc | (xc << 1)) & 1431655765) AS xd,
        |              ((yc | (yc << 1)) & 1431655765) AS yd FROM s3)
        |SELECT p_partkey, (xd | (yd << 1)) AS z FROM s4""".stripMargin,
    "q_histogram" ->
      """SELECT CAST(FLOOR(o_totalprice / 25000) AS INT) AS bin, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS DOUBLE) AS mass
        |FROM orders GROUP BY 1""".stripMargin,
    "q_benford" ->
      """WITH d AS (
        |  SELECT substr(CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
        |    AS VARCHAR), 1, 1) AS digit
        |  FROM lineitem),
        |g AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1),
        |t AS (SELECT COUNT(*) AS total FROM d)
        |SELECT digit, n,
        |  CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS freq,
        |  ROUND(LN(1.0 + 1.0 / CAST(digit AS DOUBLE)) / LN(10.0), 6) AS benford_p,
        |  ROUND(CAST(n AS DOUBLE) / CAST(total AS DOUBLE)
        |    - LN(1.0 + 1.0 / CAST(digit AS DOUBLE)) / LN(10.0), 6) AS dev
        |FROM g, t""".stripMargin,
    "q_outliers" -> (Tables.barsSql +
      """,
        |c AS (SELECT ticker, date, close,
        |        CAST(ROUND(close * 100) AS BIGINT) AS cents FROM bars),
        |st AS (SELECT ticker,
        |         CAST(COUNT(*) AS DOUBLE) AS n,
        |         CAST(SUM(cents) AS DOUBLE) AS s1,
        |         CAST(SUM(CAST(cents AS HUGEINT) * cents) AS DOUBLE) AS s2
        |       FROM c GROUP BY ticker)
        |SELECT c.ticker, c.date, c.close,
        |  ROUND((CAST(c.cents AS DOUBLE) - st.s1 / st.n) /
        |    SQRT((st.s2 - st.s1 * st.s1 / st.n) / (st.n - 1.0)), 4) AS z
        |FROM c JOIN st ON c.ticker = st.ticker
        |WHERE ABS((CAST(c.cents AS DOUBLE) - st.s1 / st.n) /
        |    SQRT((st.s2 - st.s1 * st.s1 / st.n) / (st.n - 1.0))) > 1.5""".stripMargin),
    "q_winsorize" -> (Tables.barsSql +
      """,
        |pct AS (SELECT ticker, quantile_cont(close, 0.05) AS lo,
        |               quantile_cont(close, 0.95) AS hi
        |        FROM bars GROUP BY ticker)
        |SELECT b.ticker, b.date, b.close,
        |  ROUND(LEAST(GREATEST(b.close, p.lo), p.hi), 4) AS close_w
        |FROM bars b JOIN pct p ON b.ticker = p.ticker""".stripMargin),
    "q_mad" -> (Tables.barsSql +
      """,
        |med AS (SELECT ticker, quantile_cont(close, 0.5) AS med
        |        FROM bars GROUP BY ticker)
        |SELECT b.ticker, ROUND(MIN(m.med), 4) AS med,
        |  ROUND(quantile_cont(abs(b.close - m.med), 0.5), 4) AS mad
        |FROM bars b JOIN med m ON b.ticker = m.ticker
        |GROUP BY b.ticker""".stripMargin)
  )
}
