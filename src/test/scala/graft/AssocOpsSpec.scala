package graft

import graft.operators.AssocOps

class AssocOpsSpec extends SparkSpecBase {

  private def baskets(rows: (Long, Long)*) = {
    import spark.implicits._
    rows.toDF("basket", "item")
  }

  test("frequentPairs: hand-counted pairs, apriori prune drops rare items") {
    // baskets: 1={a,b,c} 2={a,b} 3={a,b} 4={c,d}; with minPairCount=2 only
    // (a,b) survives (cnt 3); d (item_cnt 1) is pruned before the self-join.
    val b = baskets((1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 2L),
      (3L, 1L), (3L, 2L), (4L, 3L), (4L, 4L))
    val out = AssocOps.frequentPairs(b, "basket", "item", 2L).collect()
    assert(out.length === 1)
    assert(out.head.getLong(0) === 1L && out.head.getLong(1) === 2L)
    assert(out.head.getLong(2) === 3L)
  }

  test("frequentPairs: duplicate (basket,item) rows count once") {
    val b = baskets((1L, 1L), (1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L))
    val out = AssocOps.frequentPairs(b, "basket", "item", 2L).collect()
    assert(out.length === 1 && out.head.getLong(2) === 2L)
  }

  test("associationRules: support/confidence/lift hand-check") {
    // 4 baskets; a in 3, b in 3, (a,b) in 2.
    val b = baskets((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (3L, 1L),
      (4L, 2L))
    val out = AssocOps.associationRules(b, "basket", "item", 2L).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getDouble(r.fieldIndex("support")) === 0.5)
    assert(r.getDouble(r.fieldIndex("conf_ab")) === math.rint(2.0 / 3 * 1e6) / 1e6)
    assert(r.getDouble(r.fieldIndex("lift")) ===
      math.rint(2.0 * 4 / (3.0 * 3) * 1e6) / 1e6)
  }

  test("cooccurrenceCosine: orthogonal items score 0-row, identical score 1") {
    import spark.implicits._
    // users 1,2 see only x; users 3,4 see only y → no shared group → no row.
    val d = Seq((1L, "x"), (2L, "x"), (3L, "y"), (4L, "y")).toDF("u", "it")
    assert(AssocOps.cooccurrenceCosine(d, "u", "it").count() === 0L)
    // identical occurrence vectors → cosine 1.0
    val e = Seq((1L, "x"), (1L, "y"), (2L, "x"), (2L, "y")).toDF("u", "it")
    val row = AssocOps.cooccurrenceCosine(e, "u", "it").collect().head
    assert(row.getDouble(row.fieldIndex("cosine")) === 1.0)
  }

  test("plan: item-count dims broadcast; one pair-agg exchange") {
    val b = baskets((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L))
    val plan = AssocOps.associationRules(b, "basket", "item", 1L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"))
  }
}
