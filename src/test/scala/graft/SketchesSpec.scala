package graft

import graft.functions.Sketches

/** KMV sketch algebra: exactness below k, mergeability (the partial-
  * aggregation property), and set-operation estimate quality. */
class SketchesSpec extends SparkSpecBase {

  test("set ops are EXACT below k: union, matches, intersection") {
    import spark.implicits._
    // groups of 30/30 ids overlapping in 10 — all under k=64, so the
    // "estimates" must equal the true set sizes
    val rows = (1 to 30).map(i => ("a", s"v$i")) ++
      (21 to 50).map(i => ("b", s"v$i"))
    val sk = Sketches.kmvSketch(rows.toDF("g", "v"), "g", "v")
    val out = Sketches.kmvSetOps(sk, "g").collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("union_est") === 50L)
    assert(r.getAs[Long]("matches") === 10L)
    assert(r.getAs[Long]("intersect_est") === 10L)
  }

  test("CMS estimates are one-sided: est >= exact always, == when w is wide") {
    import spark.implicits._
    // 50 items, zipfish counts (item i appears i times)
    val rows = (1 to 50).flatMap(i => Seq.fill(i)(s"item$i")).toDF("v")
    val exact = (1 to 50).map(i => s"item$i" -> i.toLong).toMap
    // wide sketch: 3×1024 counters over 50 items — collisions vanishingly
    // unlikely with md5-derived rows; if one occurs only >= must hold
    val wide = Sketches.cmsEstimates(rows, "v", d = 3, w = 1024).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wide.keySet === exact.keySet)
    wide.foreach { case (k, est) => assert(est >= exact(k)) }
    assert(wide.count { case (k, est) => est === exact(k) } >= 45)
    // narrow sketch: 2×8 counters — collisions guaranteed, still one-sided
    val narrow = Sketches.cmsEstimates(rows, "v", d = 2, w = 8).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    narrow.foreach { case (k, est) => assert(est >= exact(k)) }
    assert(narrow.exists { case (k, est) => est > exact(k) })
  }

  test("sketches are mergeable: sketch(A ∪ B) == bottom-k of merged sketches") {
    import spark.implicits._
    val k = 32
    val a = (1 to 300).map(i => ("a", s"x$i"))
    val b = (200 to 500).map(i => ("b", s"x$i"))
    val sk = Sketches.kmvSketch((a ++ b).toDF("g", "v"), "g", "v", k)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val direct = Sketches.kmvSketch(
      (a ++ b).map { case (_, v) => ("u", v) }.toDF("g", "v"), "g", "v", k)
      .collect().map(_.getSeq[Long](1)).head
    val merged = (sk("a") ++ sk("b")).distinct.sorted.take(k)
    assert(merged === direct)
  }

  test("estimate error is within the KMV bound on a 5k-distinct union") {
    import spark.implicits._
    val k = 64
    val a = (1 to 3000).map(i => ("a", s"id$i"))
    val b = (2001 to 5000).map(i => ("b", s"id$i"))
    val out = Sketches.kmvSetOps(
      Sketches.kmvSketch((a ++ b).toDF("g", "v"), "g", "v", k), "g", k)
      .collect().head
    val (union, inter) = (out.getAs[Long]("union_est"),
      out.getAs[Long]("intersect_est"))
    // standard error of KMV is ~1/sqrt(k-2) ≈ 12.7% at k=64; allow 4σ
    assert(math.abs(union - 5000.0) / 5000.0 < 0.51, s"union_est=$union")
    assert(inter > 0 && inter < 5000, s"intersect_est=$inter")
  }
}
