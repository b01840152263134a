package graft

import graft.queries.{DeclaredCatalog, DeclaredQueries}

/** Every canned query in the reference's Datasette catalog must run
  * unchanged over this engine's gold views — the switch-over contract. */
class DeclaredCatalogSpec extends SparkSpecBase {

  test("all 19 catalog queries run verbatim and project the declared columns") {
    assert(DeclaredCatalog.sql.size === 19)
    DeclaredCatalog.sql.keys.foreach { name =>
      withClue(s"$name: ") {
        val df = DeclaredCatalog.run(spark, sf, name)
        val n = df.count()
        assert(n >= 0)
        assert(df.columns.nonEmpty)
      }
    }
  }

  test("a warm pass over the 23 catalog queries compiles no generated classes") {
    // a first pass generates ~225 distinct classes here; GraftSession's
    // codegen cache cap (1000) holds them, where Spark's default of 100
    // makes every warm pass recompile ~90
    def pass(): Unit = {
      DeclaredCatalog.sql.keys.foreach(DeclaredCatalog.run(spark, sf, _).collect())
      DeclaredQueries.queries.values.foreach(_(spark, sf).collect())
    }
    assert(DeclaredCatalog.sql.size + DeclaredQueries.queries.size === 23)
    pass()
    val c0 = GraftSession.codegenCompiles()
    pass()
    assert(GraftSession.codegenCompiles() - c0 === 0)
  }

  test("catalog invariants: limits respected, union compares both directions") {
    assert(DeclaredCatalog.run(spark, sf, "recent_hvcs").count() <= 100)
    assert(DeclaredCatalog.run(spark, sf, "best_patterns_all_time").count() <= 20)
    val cmp = DeclaredCatalog.run(spark, sf, "falling_vs_stairstepping").collect()
    assert(cmp.map(_.getString(0)).toSet === Set("Falling", "Rising"))
  }

  test("trending filters agree with the enrichment semantics") {
    val t = DeclaredCatalog.run(spark, sf, "trending_stairstepping_stocks")
    // every trending row's latest close is above its pattern top
    assert(t.filter(org.apache.spark.sql.functions.col("latest_close") <=
      org.apache.spark.sql.functions.col("top_price")).count() === 0)
  }
}
