package graft

import graft.queries.{DeclaredCatalog, DeclaredQueries}
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.CreateViewCommand
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.ListenerBusBridge
import org.apache.spark.sql.util.QueryExecutionListener

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
    // ...and registers no view: each CreateViewCommand re-analyses a
    // cached plan, and registering all 11 views per query made ~180 a pass
    ListenerBusBridge.waitUntilEmpty(spark.sparkContext)
    val views = new java.util.concurrent.atomic.AtomicInteger
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.logical.isInstanceOf[CreateViewCommand]) views.incrementAndGet()
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val c0 = GraftSession.codegenCompiles()
    try {
      pass()
      ListenerBusBridge.waitUntilEmpty(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(GraftSession.codegenCompiles() - c0 === 0)
    assert(views.get === 0)
  }

  test("a second session serves a directory another session built") {
    def hvcs(s: SparkSession) = DeclaredCatalog.query(s, sf,
      "SELECT * FROM daily_high_volume_closes_stocks").collect().map(_.toString).sorted
    def topGainers(s: SparkSession) =
      DeclaredQueries.queries("q_decl_top_gainers")(s, sf).collect().toSeq
    val expected = hvcs(spark)
    val other = spark.newSession()
    assert(DeclaredCatalog.run(other, sf, "recent_hvcs").count() ===
      DeclaredCatalog.run(spark, sf, "recent_hvcs").count())
    assert(hvcs(other) === expected)
    assert(topGainers(other) === topGainers(spark))
  }

  test("switching directories A, B, A serves each call its own directory's rows") {
    // dir B holds tickers T0..T49 of sf's lineitem; every view row is
    // computed per ticker, so B's rows are exactly A's rows of those tickers
    val dirB = Files.createTempDirectory("graft_decl_b").toString
    Tables.lineitem(spark, sf).filter(col("l_partkey") % 100 < 50)
      .write.parquet(s"$dirB/lineitem.parquet")
    def rows(dir: String): Map[String, Seq[String]] = Map(
      "hvc" -> DeclaredCatalog.query(spark, dir,
        "SELECT ticker, date, volume, volume_avg_ratio FROM daily_high_volume_closes_stocks"),
      "patterns" -> DeclaredQueries.queries("q_decl_recent_strong")(spark, dir))
      .map { case (k, df) => k -> df.collect().map(_.toString).toSeq.sorted }
    def inB(row: String): Boolean = row.drop(2).takeWhile(_.isDigit).toInt < 50
    try {
      val a1 = rows(sf)
      val b = rows(dirB)
      val a2 = rows(sf)
      assert(a2 === a1)
      a1.foreach { case (k, aRows) =>
        withClue(s"$k: ") {
          assert(aRows.exists(!inB(_)))
          assert(b(k).nonEmpty)
          assert(b(k) === aRows.filter(inB))
        }
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dirB))
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
