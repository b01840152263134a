package graft

import org.apache.spark.sql.functions._

/** Accuracy assertions the hash oracle is blind to: the KMV sketch
  * hash-matches DuckDB (so correctness-vs-oracle is covered), but only
  * this spec pins that the *estimate* is actually close to the true
  * distinct count — a sketch that replayed exactly yet estimated garbage
  * would pass the oracle check. Also pins the analytic bounds of the
  * information-theoretic scores and of the CMS overestimate. */
class QueryBoundsSpec extends SparkSpecBase {

  test("q_approx_distinct: KMV estimate accurate, and exact below k") {
    val approx = SparkEntry.queries("q_approx_distinct")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = Tables.documents(spark, sf)
      .groupBy(col("lang"))
      .agg(countDistinct(col("source")).as("nd"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (lang, nd) =>
      val (est, nHashes) = approx(lang)
      if (nd < 64) {
        // below k the sketch IS the exact distinct count (mod 48-bit
        // collisions, absent at fixture scale)
        assert(est === nd, s"lang=$lang est=$est exact=$nd (sub-k)")
      } else {
        // KMV rse ~ 1/sqrt(k-2) ≈ 12.7% at k=64; allow 3σ
        assert(math.abs(est - nd) <= math.max(3L, math.ceil(nd * 0.4).toLong),
          s"lang=$lang est=$est exact=$nd")
      }
      assert(nHashes <= nd, s"distinct hashes cannot exceed distinct values")
    }
  }

  test("kmvDistinct scales its accuracy with k") {
    import graft.functions.Sketches
    // one group, 5000 synthetic distinct values: estimate must tighten
    // from k=16 to k=256
    val df = spark.range(5000).toDF("i")
      .select(org.apache.spark.sql.functions.lit("g").as("g"),
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("v"), col("i")).as("v"))
    def err(k: Int): Double = {
      val est = Sketches.kmvDistinct(df, "g", "v", k)
        .collect().head.getLong(1)
      math.abs(est - 5000.0) / 5000.0
    }
    val e16 = err(16); val e256 = err(256)
    assert(e256 <= 0.10, s"k=256 should be within 10%: $e256")
    assert(e256 <= e16 + 0.02, s"larger k should not be worse: $e16 vs $e256")
  }

  test("information-theoretic scores respect their analytic bounds") {
    // PSI = sum (p-q)log2(p/q) >= 0 (Gibbs); MI >= 0; both 0 only under
    // identical/independent distributions the fixture doesn't produce
    val psi = SparkEntry.queries("q_psi")(spark, sf).collect().head.getDouble(0)
    assert(psi >= 0.0, s"PSI must be non-negative, got $psi")
    val mi = SparkEntry.queries("q_mutual_info")(spark, sf)
      .collect().head.getDouble(0)
    assert(mi >= 0.0, s"MI must be non-negative, got $mi")
    // chi-square >= 0 and consistent cell-grid size (langs x sources)
    val chi = SparkEntry.queries("q_chi_square")(spark, sf).collect().head
    assert(chi.getDouble(0) >= 0.0)
    val nl = Tables.documents(spark, sf).select("lang").distinct().count()
    val ns = Tables.documents(spark, sf).select("source").distinct().count()
    assert(chi.getLong(2) === nl * ns, "grid must cover every cell incl. empties")
  }

  test("CMS overestimate stays within the d,w analytic envelope") {
    // E[overestimate] <= N/w per row; with d rows the min is far tighter —
    // assert the loose 3N/w bound per item (N = corpus rows, w = 256)
    val rows = SparkEntry.queries("q_cms_counts")(spark, sf).collect()
    val n = Tables.lineitem(spark, sf).count()
    val bound = math.max(3L, 3L * n / 256)
    rows.foreach { r =>
      val over = r.getLong(2) - r.getLong(1)
      assert(over >= 0L, "CMS must never underestimate")
      assert(over <= bound, s"item=${r.getString(0)} over=$over bound=$bound")
    }
  }
}
