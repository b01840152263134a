package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic cardinality sketches.
  *
  * Spark's `approx_count_distinct` (HyperLogLog++) is the right tool on a
  * cluster, but its register layout is engine-private, so no external
  * oracle can replay the estimate bit-for-bit. For cross-engine verified
  * pipelines we carry a KMV (k-minimum-values / bottom-k) sketch instead
  * [Bar-Yossef et al. 2002]: hash every value with md5, keep the k
  * smallest hashes, and estimate distinct = (k-1) * H / h_(k) where H is
  * the hash-space size and h_(k) the k-th smallest hash. Every step —
  * md5, lexicographic bottom-k, 48-bit prefix, integer division — is
  * expressible in ANSI SQL, so DuckDB (the driver's oracle) reproduces
  * the estimate EXACTLY, unlike HLL where only bounds can be asserted.
  *
  * Determinism choices:
  *  - 12-hex-digit (48-bit) prefix: fits a signed 64-bit integer both in
  *    `conv(...,16,10)` (Spark) and `('0x'||x)::BIGINT` (DuckDB), and
  *    (k-1) * 2^48 stays in int64 for any practical k.
  *  - integer division (`div`), not float: no rounding-mode drift.
  *  - when fewer than k distinct hashes exist the count itself is exact,
  *    so the estimate degrades to the true distinct count.
  *
  * Scale shape: one hash projection, one distinct (map-side partial), one
  * bounded per-group top-k — the same cost profile as any groupBy agg; no
  * driver collection, no global sort (the window is per-group and the
  * group cardinality is the distinct-hash count, already reduced).
  *
  * Reference capability: approximate distinct surfaces in the published
  * query tier (SURVEY §2 A5/A9 family); the reference's engine delegates
  * to its own sketch the same way we delegate to this one.
  */
object Sketches {

  /** 2^48: size of the truncated hash space. */
  val HashSpace: Long = 1L << 48

  /** 48-bit integer hash of a string column via the md5 hex prefix — the
    * exact expression an ANSI-SQL oracle can replay. */
  def md5Hash48(c: Column): Column =
    conv(substring(md5(c), 1, 12), 16, 10).cast("long")

  /** Per-group KMV distinct estimate of `valueCol`.
    *
    * Output: (groupCols..., est_distinct: bigint). Exact below k distinct
    * values; (k-1)*2^48 div h_(k) at or above.
    */
  def kmvDistinct(df: DataFrame, groupCol: String, valueCol: String,
                  k: Int = 64): DataFrame = {
    require(k >= 2 && (k - 1) <= Long.MaxValue / HashSpace,
      s"k=$k out of the int64-safe range")
    val hashes = df
      .select(col(groupCol), md5Hash48(col(valueCol)).as("h"))
      .distinct() // distinct hash multiset per group — KMV's input
    val w = Window.partitionBy(groupCol).orderBy(col("h"))
    hashes
      .withColumn("rn", row_number().over(w))
      .groupBy(col(groupCol))
      .agg(
        max(when(col("rn") <= k, col("h"))).as("kth"),
        count(lit(1)).as("n_hashes"))
      .select(
        col(groupCol),
        when(col("n_hashes") < k, col("n_hashes"))
          .otherwise(expr(s"${(k - 1) * HashSpace}L div kth"))
          .as("est_distinct"),
        col("n_hashes"))
  }

  /** Per-group KMV sketch in mergeable form: the sorted bottom-k hash
    * array plus the distinct-hash count. Mergeability is THE scale
    * property of a sketch — bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪
    * bottom-k(B)), so sketches combine associatively like any partial
    * aggregate: build once per partition/group/day, merge k-sized arrays
    * instead of re-scanning data. */
  def kmvSketch(df: DataFrame, groupCol: String, valueCol: String,
                k: Int = 64): DataFrame = {
    require(k >= 2 && (k - 1) <= Long.MaxValue / HashSpace,
      s"k=$k out of the int64-safe range")
    val hashes = df
      .select(col(groupCol), md5Hash48(col(valueCol)).as("h"))
      .distinct()
    val w = Window.partitionBy(groupCol).orderBy(col("h"))
    hashes
      .withColumn("rn", row_number().over(w))
      .groupBy(col(groupCol))
      .agg(
        sort_array(collect_list(when(col("rn") <= k, col("h"))))
          .as("sketch"),
        count(lit(1)).as("n_hashes"))
  }

  /** Set-operation estimates for every pair of group sketches: union
    * cardinality from the merged bottom-k, Jaccard from the fraction of
    * the merged bottom-k present in both sides, and intersection =
    * (matches · union_est) div k [Beyer et al., SIGMOD'07]. All integer
    * arithmetic over the k-sized arrays — the pair join carries 2k longs
    * per row, never the underlying values. Exact (not estimated) when the
    * merged distinct count is below k. */
  def kmvSetOps(sketches: DataFrame, groupCol: String,
                k: Int = 64): DataFrame = {
    val a = sketches.select(col(groupCol).as("ga"), col("sketch").as("sa"))
    val b = sketches.select(col(groupCol).as("gb"), col("sketch").as("sb"))
    val merged = array_sort(array_union(col("sa"), col("sb")))
    a.join(b, col("ga") < col("gb"))
      .withColumn("m", slice(merged, 1, k))
      .withColumn("m_full", size(merged) >= k)
      .withColumn("union_est",
        when(!col("m_full"), size(col("m")).cast("long"))
          .otherwise(expr(s"${(k - 1) * HashSpace}L div element_at(m, $k)")))
      .withColumn("matches",
        size(array_intersect(col("m"),
          array_intersect(col("sa"), col("sb")))).cast("long"))
      .withColumn("intersect_est",
        when(!col("m_full"), col("matches"))
          .otherwise(expr(s"(matches * union_est) div $k")))
      .select(col("ga"), col("gb"), col("union_est"),
        col("matches"), col("intersect_est"))
  }

  /** DuckDB replay of [[kmvSketch]] + [[kmvSetOps]] over `table`. */
  def kmvSetOpsOracleSql(table: String, groupCol: String, valueCol: String,
                         k: Int = 64): String =
    s"""WITH h AS (
       |  SELECT DISTINCT $groupCol,
       |    ('0x' || substr(md5($valueCol), 1, 12))::BIGINT AS h
       |  FROM $table),
       |r AS (
       |  SELECT $groupCol, h,
       |    row_number() OVER (PARTITION BY $groupCol ORDER BY h) AS rn
       |  FROM h),
       |sk AS (
       |  SELECT $groupCol AS g,
       |    list_sort(list(h) FILTER (WHERE rn <= $k)) AS sketch
       |  FROM r GROUP BY 1),
       |pairs AS (
       |  SELECT a.g AS ga, b.g AS gb,
       |    list_sort(list_distinct(list_concat(a.sketch, b.sketch))) AS mg,
       |    a.sketch AS sa, b.sketch AS sb
       |  FROM sk a JOIN sk b ON a.g < b.g),
       |est AS (
       |  SELECT ga, gb, len(mg) >= $k AS m_full,
       |    mg[1:$k] AS m, sa, sb
       |  FROM pairs)
       |SELECT ga, gb,
       |  CASE WHEN NOT m_full THEN CAST(len(m) AS BIGINT)
       |       ELSE ${(k - 1) * HashSpace} // m[$k] END AS union_est,
       |  CAST(len(list_intersect(m, list_intersect(sa, sb))) AS BIGINT)
       |    AS matches,
       |  CASE WHEN NOT m_full
       |       THEN CAST(len(list_intersect(m, list_intersect(sa, sb))) AS BIGINT)
       |       ELSE (len(list_intersect(m, list_intersect(sa, sb)))
       |             * (${(k - 1) * HashSpace} // m[$k])) // $k
       |  END AS intersect_est
       |FROM est""".stripMargin

  /** Count-min sketch [Cormode & Muthukrishnan 2005]: `d` md5-derived hash
    * rows × `w` buckets of exact long counters. Like [[kmvDistinct]], the
    * whole structure is deterministic (seeded string hashes, integer
    * counters), so a SQL oracle replays the ESTIMATES bit-for-bit — the
    * property Spark's own CountMinSketch agg can't offer cross-engine.
    *
    * Scale shape: the counter build explodes d rows per input row but the
    * map-side partial agg collapses them to ≤ d·w rows per partition
    * before the (single) exchange; the finished sketch is d·w longs —
    * broadcastable, mergeable by simple counter addition, the standard
    * one-pass heavy-hitter structure for streams. Estimation joins the
    * broadcast sketch — no second shuffle of the corpus.
    */
  def cmsHash(c: Column, j: Int, w: Int): Column =
    pmod(conv(substring(md5(concat(lit(s"cms$j:"), c.cast("string"))), 1, 12),
      16, 10).cast("long"), lit(w.toLong))

  /** Per-distinct-item CMS frequency estimate: min over the d counters the
    * item hashes into. est_cnt >= true count always (one-sided error). */
  def cmsEstimates(df: DataFrame, valueCol: String, d: Int, w: Int): DataFrame =
    cmsEstimatesFromCounts(
      df.groupBy(col(valueCol).cast("string").as("item"))
        .agg(count(lit(1)).as("item_cnt")), d, w)

  /** [[cmsEstimates]] over a pre-aggregated (item, item_cnt) table — ONE
    * corpus scan total: the counters are the per-bucket SUM of item
    * counts (identical integers to counting raw rows, since every
    * occurrence of an item lands in the same buckets), and the same
    * reduced table probes the broadcast sketch. Callers that already
    * have frequencies (or maintain them incrementally) skip the corpus
    * entirely. */
  def cmsEstimatesFromCounts(itemCounts: DataFrame, d: Int, w: Int): DataFrame = {
    require(d >= 1 && w >= 2, s"need d >= 1, w >= 2; got d=$d w=$w")
    val hashed = itemCounts.select(col("item"), col("item_cnt"),
      explode(array((0 until d).map(j =>
        struct(lit(j).as("j"), cmsHash(col("item"), j, w).as("bucket"))): _*))
        .as("jb"))
      .select(col("item"), col("item_cnt"),
        col("jb.j").as("j"), col("jb.bucket").as("bucket"))
    val counters = hashed.groupBy("j", "bucket")
      .agg(sum(col("item_cnt")).as("cnt"))
    hashed.join(broadcast(counters), Seq("j", "bucket"))
      .groupBy("item").agg(min(col("cnt")).as("est_cnt"))
  }

  /** DuckDB replay of [[cmsEstimates]] joined with exact counts. */
  def cmsOracleSql(table: String, valueCol: String, d: Int, w: Int): String = {
    val js = (0 until d).mkString(", ")
    s"""WITH it AS (SELECT CAST($valueCol AS VARCHAR) AS item FROM $table),
       |js AS (SELECT UNNEST([$js]) AS j),
       |h AS (
       |  SELECT item, j,
       |    ('0x' || substr(md5('cms' || j || ':' || item), 1, 12))::BIGINT
       |      % $w AS bucket
       |  FROM it, js),
       |counters AS (SELECT j, bucket, COUNT(*) AS cnt FROM h GROUP BY 1, 2),
       |probes AS (
       |  SELECT DISTINCT item, j, bucket FROM h),
       |est AS (
       |  SELECT item, MIN(cnt) AS est_cnt
       |  FROM probes JOIN counters USING (j, bucket) GROUP BY 1),
       |exact AS (SELECT item, COUNT(*) AS exact_cnt FROM it GROUP BY 1)
       |SELECT item, exact_cnt, est_cnt
       |FROM exact JOIN est USING (item)""".stripMargin
  }

  /** The DuckDB replay of [[kmvDistinct]] — same hash, same k, same
    * integer arithmetic, so the driver's oracle hash-matches exactly. */
  def kmvOracleSql(table: String, groupCol: String, valueCol: String,
                   k: Int = 64): String =
    s"""WITH h AS (
       |  SELECT DISTINCT $groupCol,
       |    ('0x' || substr(md5($valueCol), 1, 12))::BIGINT AS h
       |  FROM $table),
       |r AS (
       |  SELECT $groupCol, h,
       |    row_number() OVER (PARTITION BY $groupCol ORDER BY h) AS rn
       |  FROM h)
       |SELECT $groupCol,
       |  CASE WHEN count(*) < $k THEN count(*)
       |       ELSE ${(k - 1) * HashSpace} // max(CASE WHEN rn <= $k THEN h END)
       |  END AS est_distinct,
       |  count(*) AS n_hashes
       |FROM r GROUP BY $groupCol""".stripMargin
}
