package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract invariants. */
class ContractSpec extends AnyFunSuite with SparkSpecBase {

  test("every query ANALYZES against the current fixtures") {
    // Analysis gate: df.schema forces Catalyst analysis of the returned
    // plan, so a fixture dtype drift (round 5: events.ts became
    // TIMESTAMP_NTZ and three queries started throwing at analysis) fails
    // with the query's NAME instead of surfacing as one aggregate
    // run-everything failure — or worse, a silent CORRECTNESS dropout.
    // NOTE: this is NOT execution-free for every entry — constructors that
    // train or materialize eagerly (kmeansCentroids, semanticDedup's
    // persist/count/CC, the dedup ops' materializing probes) run real
    // Spark jobs inside fn(spark, sf), so this test executes a share of
    // the workload and a query that hangs at execution hangs here too.
    // That is acceptable: the gate's job is failing BY NAME, not speed.
    // Piggybacked structural sweep (same construction pass, optimizer
    // only — no extra execution): every unpartitioned logical Window in
    // the WHOLE catalog must be on the justified-bounded whitelist below,
    // and the whitelist must stay exact so an entry can't go stale.
    val globalWin = scala.collection.mutable.SortedSet.empty[String]
    val cartesian = scala.collection.mutable.SortedSet.empty[String]
    val broken = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val df = fn(spark, sf)
          df.schema
          val bare = df.queryExecution.optimizedPlan.collect {
            case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty => w
          }
          if (bare.nonEmpty) globalWin += name
          if (df.queryExecution.executedPlan.exists(
              _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]))
            cartesian += name
          None
        }
        catch { case e: Throwable =>
          Some(s"$name: ${Option(e.getMessage).getOrElse(e.toString).linesIterator.take(2).mkString(" ")}")
        }
    }
    assert(broken.isEmpty,
      s"${broken.size} queries fail analysis:\n${broken.mkString("\n")}")
    // Each entry's global window runs over a pre-bounded frame, never the
    // raw data: q_heaps — 50-doc buckets (|docs|/50 rows); q_skyline — the
    // bucketed local-frontier reduction's survivors (PlanSpec pins the
    // two-phase shape); q_zipf — the vocabulary rank (bounded by the
    // language); q_priority_sample — row_number over an orderBy.limit(k+1)
    // (TakeOrderedAndProject feeds ≤ 51 rows in).
    val whitelist = Set("q_heaps", "q_skyline", "q_zipf", "q_priority_sample")
    assert(globalWin.toSet === whitelist,
      s"unpartitioned-window drift — plan sweep found ${globalWin.mkString(", ")} " +
        s"vs whitelist ${whitelist.toSeq.sorted.mkString(", ")}")
    // a CartesianProductExec is a partition-crossing product with NO
    // broadcast — unlike the deliberate broadcast NLJs (band joins,
    // scalar crossJoins), it never survives a scale-up; nothing in the
    // catalog is allowed to plan one
    assert(cartesian.isEmpty,
      s"CartesianProductExec in: ${cartesian.mkString(", ")}")
  }

  test("every query is oracle-checked or explicitly rows-only") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    // an oracle without a query would silently never run
    assert(os.subsetOf(qs), s"orphan oracles: ${(os -- qs).toSeq.sorted}")
    // a query without an oracle silently degrades to the driver's weaker
    // rows-only check — nothing is allowed there anymore: q_approx_distinct
    // graduated in r7 when the HLL was replaced by the deterministic KMV
    // sketch DuckDB can replay exactly
    assert((qs -- os) === Set.empty[String],
      s"un-oracled queries: ${(qs -- os).toSeq.sorted}")
  }

  test("query names are unique across modules (no silent map overwrites)") {
    val modules = Seq(
      "Relational" -> graft.queries.RelationalQueries.queries.keySet,
      "Domain" -> graft.queries.DomainQueries.queries.keySet,
      "Text" -> graft.queries.TextQueries.queries.keySet,
      "Event" -> graft.queries.EventQueries.queries.keySet,
      "Declared" -> graft.queries.DeclaredQueries.queries.keySet,
      "Extended" -> graft.queries.ExtendedQueries.queries.keySet,
      "Graph" -> graft.queries.GraphQueries.queries.keySet,
      "Assoc" -> graft.queries.AssocQueries.queries.keySet,
      "Warehouse" -> graft.queries.WarehouseQueries.queries.keySet,
      "Tpch" -> graft.queries.TpchQueries.queries.keySet,
      "Eval" -> graft.queries.EvalQueries.queries.keySet)
    for {
      (na, a) <- modules; (nb, b) <- modules if na < nb
      dup = a.intersect(b) if dup.nonEmpty
    } fail(s"$na and $nb both define: ${dup.toSeq.sorted}")
    assert(modules.map(_._2.size).sum === SparkEntry.queries.size)
    // a change to this count is a declared scope decision: record it in CHANGES.md
    assert(SparkEntry.queries.size === 302)
  }
}
