package graft

import graft.operators.GraphOps

class GraphOpsSpec extends SparkSpecBase {

  private def edf(pairs: (Long, Long)*) = {
    import spark.implicits._
    pairs.toDF("src", "dst")
  }

  test("pageRank: hand-computed dangling redistribution on A→B") {
    // N=2, SCALE=1e12, r0 = 5e11 each; B is dangling.
    // rA' = 15e12/100/2 + 85*(0 + 5e11/2)/100      = 7.5e10 + 2.125e11
    // rB' = 7.5e10 + 85*(5e11 + 2.5e11)/100        = 7.5e10 + 6.375e11
    val r = GraphOps.pageRank(edf((1L, 2L)), iters = 1).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(1L) === 287500000000L)
    assert(r(2L) === 712500000000L)
    assert(r.values.sum === GraphOps.RankScale) // mass conserved exactly here
  }

  test("pageRank matches an independent in-test fixed-point replica") {
    val rnd = new scala.util.Random(11)
    val pairs = (0 until 120).map(_ => (rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
      .filter(p => p._1 != p._2).distinct
    val iters = 3
    // replica: same integer arithmetic, scalar loops
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val n = nodes.size
    val od = pairs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var r = nodes.map(_ -> GraphOps.RankScale / n).toMap
    for (_ <- 1 to iters) {
      val contrib = pairs.groupBy(_._2).view.mapValues(
        _.map(p => r(p._1) / od(p._1)).sum).toMap
      val dang = nodes.filterNot(od.contains).map(r).sum
      r = nodes.map(v => v -> ((15L * GraphOps.RankScale) / 100 / n +
        (85L * (contrib.getOrElse(v, 0L) + dang / n)) / 100)).toMap
    }
    val got = GraphOps.pageRank(edf(pairs: _*), iters).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got === r)
    // truncation loses at most one fixed-point ulp per edge+node per iter
    assert(GraphOps.RankScale - got.values.sum >= 0)
    assert(GraphOps.RankScale - got.values.sum <= (pairs.size + n).toLong * iters)
  }

  test("triangleCounts: K4 plus a pendant edge") {
    // K4 on 1..4 → 4 triangles, each node on 3; node 5 pendant → absent
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a != b) yield (a, b)
    val tri = GraphOps.triangleCounts(edf((k4 :+ (4L, 5L)): _*)).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(tri === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangleCounts matches a brute-force enumeration on a random graph") {
    val rnd = new scala.util.Random(23)
    val pairs = (0 until 150).map(_ => (rnd.nextInt(15).toLong, rnd.nextInt(15).toLong))
      .filter(p => p._1 != p._2).distinct
    val und = pairs.map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).distinct
    val undSet = und.toSet
    val ns = und.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val expect = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for {
      i <- ns.indices; j <- i + 1 until ns.size; k <- j + 1 until ns.size
      (a, b, c) = (ns(i), ns(j), ns(k))
      if undSet((a, b)) && undSet((b, c)) && undSet((a, c))
    } { expect(a) += 1; expect(b) += 1; expect(c) += 1 }
    val got = GraphOps.triangleCounts(edf(pairs: _*)).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got === expect.toMap)
  }

  test("labelPropagation: two triangles + bridge settle into two communities") {
    // hand-traced 3 synchronous rounds (most-frequent, tie → min label):
    // triangle {1,2,3} converges to label 1, triangle {4,5,6} to label 3
    val g = edf((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L),
      (3L, 4L))
    val got = GraphOps.labelPropagation(g, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L))
  }

  test("bfsDistances: hop counts on a directed path, bounded by maxHops") {
    val g = edf((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 6L))
    val got = GraphOps.bfsDistances(g, source = 1L, maxHops = 3).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // node 5 is 4 hops out → absent at maxHops = 3
    assert(got === Map(1L -> 0, 2L -> 1, 6L -> 1, 3L -> 2, 4L -> 3))
  }
}
