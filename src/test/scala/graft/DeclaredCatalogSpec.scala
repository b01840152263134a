package graft

import graft.operators.{PatternOps, SilverOps}
import graft.queries.{DeclaredCatalog, DeclaredQueries}
import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.View
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.command.CreateViewCommand
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.ListenerBusBridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Every canned query in the reference's Datasette catalog must run
  * unchanged over this engine's catalog views (derived from the raw,
  * unadjusted fixture bars) — the switch-over contract. */
class DeclaredCatalogSpec extends SparkSpecBase {

  private def stored = spark.sparkContext.getRDDStorageInfo.length

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

  test("every view is served from its one cached node, with a truncated lineage") {
    // a pass fills every table's cached blocks; the first job over them
    // truncates their lineage, so tasks no longer ship the derivation
    DeclaredCatalog.sql.keys.foreach(DeclaredCatalog.run(spark, sf, _).collect())
    DeclaredQueries.queries.values.foreach(_(spark, sf).collect())
    val views = DeclaredCatalog.catalogTables(spark, sf).keySet ++
      Set("stairstepping_patterns", "falling_down_stairs_patterns")
    assert(views.size === 11)
    views.foreach { v =>
      withClue(s"$v: ") {
        val qe = DeclaredCatalog.synchronized {
          DeclaredCatalog.registerViews(spark, sf)
          spark.table(v).queryExecution
        }
        // what the view expands to: the cached node, under the rename at most
        val body = qe.analyzed.collectFirst { case view: View => view.child }.get
        assert(body.collect { case p => p.nodeName }.size <= 2)
        val cached = qe.withCachedData.collect { case r: InMemoryRelation => r }
        assert(cached.size === 1)
        assert(cached.head.cacheBuilder.cachedColumnBuffers.isCheckpointed)
      }
    }
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

  test("a warm pass over the catalog plans no shuffle and runs one job per query") {
    // every served table is one partition, so no ORDER BY,
    // global aggregate or join needs an exchange; the one exchange left is
    // q_decl_recent_positive's broadcast of its MAX(end_date)
    val queries: Seq[(String, () => DataFrame)] =
      DeclaredCatalog.sql.keys.toSeq.sorted.map(n => n -> (() => DeclaredCatalog.run(spark, sf, n))) ++
        DeclaredQueries.queries.toSeq.sortBy(_._1).map { case (n, q) => n -> (() => q(spark, sf)) }
    assert(queries.size === 23)
    queries.foreach(_._2().collect())
    val aqe = new AdaptiveSparkPlanHelper {}
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusBridge.waitUntilEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val seen = try queries.map { case (n, q) =>
      val j0 = jobs.get
      val df = q()
      df.collect()
      ListenerBusBridge.waitUntilEmpty(spark.sparkContext)
      val exchanges = aqe.collectWithSubqueries(df.queryExecution.executedPlan) {
        case _: ShuffleExchangeExec => "shuffle"
        case _: BroadcastExchangeExec => "broadcast"
      }
      n -> (jobs.get - j0, exchanges)
    } finally spark.sparkContext.removeSparkListener(listener)
    val expected = queries.map { case (n, _) =>
      n -> (if (n == "q_decl_recent_positive") (2, Seq("broadcast")) else (1, Nil))
    }
    assert(seen === expected)
    assert(seen.map(_._2._1).sum === 24)
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
      val before = stored
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
      // releasing B removes its cache entries, and the next call builds it again
      DeclaredCatalog.release(dirB)
      assert(stored === before)
      assert(rows(dirB) === b)
      assert(stored > before)
    } finally {
      DeclaredCatalog.release(dirB)
      FileUtils.deleteQuietly(new File(dirB))
    }
  }

  test("dropped served blocks make the next call build the dir again, not fail") {
    // clearCache (Verify and Bench call it between queries) drops checkpointed
    // blocks that the derived tables' cached plans still scan. Unpersisting
    // equal plans of the daily HVC table and the rising patterns drops two of
    // them without clearing the rest of the shared session's cache.
    def rows() = DeclaredQueries.queries("q_decl_recent_strong")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    val expected = rows()
    val before = stored
    val dailyHvc = PatternOps.highVolumeCloses(
      SilverOps.indicators(Tables.bars(spark, sf)), threshold = 1.5).coalesce(1)
    dailyHvc.unpersist(blocking = true)
    PatternOps.stairPatterns(dailyHvc, ascending = true, minSteps = 2).coalesce(1)
      .unpersist(blocking = true)
    assert(stored === before - 2)
    assert(rows() === expected)
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
