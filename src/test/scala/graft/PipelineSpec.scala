package graft

import graft.pipeline.{Lake, Pipeline}
import graft.sources.{Checkpoints, Storage}
import java.nio.file.Files
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpecBase {

  test("medallion pipeline end-to-end: bronze → silver → gold") {
    val lake = Lake(Files.createTempDirectory("graft_lake").toString)
    Pipeline.runAll(spark, sf, lake)

    val bronze = Storage.readTable(spark, lake.bronze("stocks"))
    val daily = Storage.readTable(spark, lake.silver("daily_aggregates"))
    val weekly = Storage.readTable(spark, lake.silver("weekly_aggregates"))
    val gold = Storage.readTable(spark, lake.gold("vwap_signals"))

    assert(bronze.count() > 0)
    assert(daily.count() === bronze.count())
    assert(weekly.count() < daily.count())
    assert(gold.count() > 0)
    // bronze carries the bar date as a column in either layout
    assert(bronze.columns.contains("date"))
    // checkpoints recorded
    val cp = Checkpoints.load(lake.checkpointPath)
    assert(cp.contains("bronze_stocks_last_date"))
    assert(cp.contains("silver_last_full_rewrite"))
  }

  test("flat bronze produces byte-identical silver to date-grain") {
    val lakeD = Lake(Files.createTempDirectory("graft_lake_d").toString)
    val lakeF = Lake(Files.createTempDirectory("graft_lake_f").toString)
    Pipeline.runBronze(spark, sf, lakeD, grain = "date")
    Pipeline.runSilver(spark, lakeD)
    Pipeline.runBronze(spark, sf, lakeF)
    // `auto` at sf0.001 lands one unpartitioned table: no `col=value`
    // directory anywhere under bronze/stocks, and the splits dim as one file
    def under(ref: graft.sources.TableRef) = {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(java.nio.file.Paths.get(ref.path))
      try walk.iterator.asScala.toList finally walk.close()
    }
    assert(under(lakeF.bronze("stocks")).exists(_.toString.endsWith(".parquet")))
    assert(!under(lakeF.bronze("stocks")).exists(p =>
      Files.isDirectory(p) && p.getFileName.toString.contains("=")))
    assert(under(lakeF.bronze("splits")).count(_.toString.endsWith(".parquet")) === 1)
    Pipeline.runSilver(spark, lakeF)
    val d = Storage.readTable(spark, lakeD.silver("daily_aggregates"))
    val f = Storage.readTable(spark, lakeF.silver("daily_aggregates"))
    assert(d.except(f).count() === 0)
    assert(f.except(d).count() === 0)
    // both layouts checkpoint the written table's last date
    for (lake <- Seq(lakeD, lakeF))
      assert(Checkpoints.load(lake.checkpointPath)("bronze_stocks_last_date")
        === Storage.maxDate(spark, lake.bronze("stocks")).get.toString)
  }

  test("bronze over an empty source checkpoints an empty high-water mark") {
    val dir = Files.createTempDirectory("graft_sf_empty").toString
    Tables.lineitem(spark, sf).limit(0).write.parquet(s"$dir/lineitem.parquet")
    val lake = Lake(Files.createTempDirectory("graft_lake_empty").toString)
    Pipeline.runBronze(spark, dir, lake)
    assert(Checkpoints.load(lake.checkpointPath)("bronze_stocks_last_date")
      === "")
  }

  test("a warm build compiles no generated classes") {
    // one build generates ~153 distinct classes here; GraftSession's
    // codegen cache cap (1000) holds them all, where Spark's default of 100
    // makes every warm build recompile ~150
    Pipeline.runAll(spark, sf, Lake(Files.createTempDirectory("graft_cg1").toString))
    val lake = Lake(Files.createTempDirectory("graft_cg2").toString)
    val c0 = GraftSession.codegenCompiles()
    Pipeline.runAll(spark, sf, lake)
    assert(GraftSession.codegenCompiles() - c0 === 0)
  }

  test("silver append path: no new splits → incremental, not rewrite") {
    val lake = Lake(Files.createTempDirectory("graft_lake2").toString)
    Pipeline.runAll(spark, sf, lake)
    // second run with identical bronze: nothing newer than the checkpoint
    assert(!Pipeline.shouldFullRewrite(spark, lake))
    val before = Storage.readTable(spark, lake.silver("daily_aggregates")).count()
    Pipeline.runSilver(spark, lake)
    val after = Storage.readTable(spark, lake.silver("daily_aggregates")).count()
    assert(after === before) // empty append, no duplication
  }

  test("incremental append produces the same silver daily table as a full rewrite") {
    import graft.sources.Storage
    import graft.queries.DomainQueries

    val lakeInc = Lake(Files.createTempDirectory("graft_lake_inc").toString)
    val bars = Tables.bars(spark, sf)
    val splits = DomainQueries.syntheticSplits(spark)
    // all synthetic splits execute before 1997-11; a later cutoff means the
    // day-2 increment has no retroactive splits → the append path engages
    val cutoff = java.sql.Date.valueOf("1998-01-31")

    // day 1: bronze holds only history up to the cutoff → full rewrite
    Storage.writeTable(bars.filter(col("date") <= lit(cutoff)).repartition(col("date")),
      lakeInc.bronze("stocks"), partitionBy = Seq("date"))
    Storage.writeTable(splits, lakeInc.bronze("splits"))
    Pipeline.runSilver(spark, lakeInc)
    val afterFirst = Storage.readTable(spark, lakeInc.silver("daily_aggregates")).count()

    // day 2: new dates arrive (no new splits) → append path must engage
    Storage.writeTable(bars.repartition(col("date")),
      lakeInc.bronze("stocks"), partitionBy = Seq("date"))
    assert(!Pipeline.shouldFullRewrite(spark, lakeInc))
    Pipeline.runSilver(spark, lakeInc)

    val incremental = Storage.readTable(spark, lakeInc.silver("daily_aggregates"))
    assert(incremental.count() > afterFirst)

    // reference result: one-shot full rewrite over the complete bronze
    val lakeFull = Lake(Files.createTempDirectory("graft_lake_full").toString)
    Storage.writeTable(bars.repartition(col("date")),
      lakeFull.bronze("stocks"), partitionBy = Seq("date"))
    Storage.writeTable(splits, lakeFull.bronze("splits"))
    Pipeline.runSilver(spark, lakeFull)
    val full = Storage.readTable(spark, lakeFull.silver("daily_aggregates"))

    assert(incremental.count() === full.count())
    assert(incremental.except(full).count() === 0)
    assert(full.except(incremental).count() === 0)
  }

  test("a split newer than silver's high-water mark forces a full rewrite") {
    import graft.sources.Storage
    val lake = Lake(Files.createTempDirectory("graft_lake_split").toString)
    Pipeline.runAll(spark, sf, lake)
    assert(!Pipeline.shouldFullRewrite(spark, lake))
    // a retroactive split lands after the silver max date
    val maxDate = Storage.maxDate(spark, lake.silver("daily_aggregates")).get
    import spark.implicits._
    val lateSplit = Seq(("T1",
      java.sql.Date.valueOf(maxDate.plusDays(5)), 1.0, 2.0))
      .toDF("ticker", "execution_date", "split_from", "split_to")
    Storage.readTable(spark, lake.bronze("splits")).unionByName(lateSplit)
      .write.mode("overwrite").parquet(s"${lake.root}/bronze/splits_new")
    // swap in the new splits table
    Storage.deleteTable(spark, lake.bronze("splits"))
    spark.read.parquet(s"${lake.root}/bronze/splits_new")
      .write.parquet(lake.bronze("splits").path)
    assert(Pipeline.shouldFullRewrite(spark, lake))
  }

  test("split validation: silver closes match independent recomputation within $0.01") {
    val lake = Lake(Files.createTempDirectory("graft_lakev").toString)
    Pipeline.runAll(spark, sf, lake)
    val report = graft.pipeline.Validation.validateSplits(spark, lake)
    assert(report.checked > 0)
    assert(report.ok, s"mismatches=${report.mismatches} maxErr=${report.maxAbsError}")
  }

  test("count anomaly report flags planted outlier dates") {
    import spark.implicits._
    val normal = (1 to 30).flatMap(d => (1 to 100).map(i => (f"2024-01-$d%02d", i)))
    val outlier = (1 to 3).map(i => ("2024-02-01", i)) // tiny date
    val df = (normal ++ outlier).toDF("date", "i")
    val anomalies = graft.pipeline.Validation.countAnomalies(df).collect()
    assert(anomalies.length === 1)
    assert(anomalies.head.getString(0) === "2024-02-01")
    assert(anomalies.head.getString(2) === "below_half_mean")
  }

  test("clean drops bronze only") {
    val lake = Lake(Files.createTempDirectory("graft_lake3").toString)
    Pipeline.runAll(spark, sf, lake)
    Pipeline.runClean(spark, lake)
    assert(!Storage.tableExists(spark, lake.bronze("stocks")))
    assert(Storage.tableExists(spark, lake.silver("daily_aggregates")))
  }

  test("source ingest lands missing trading days and is idempotent") {
    import graft.sources.FixtureBarsSource
    import graft.functions.TradingCalendar
    val lake = Lake(Files.createTempDirectory("graft_ingest").toString)
    val today = java.time.LocalDate.parse("2024-01-31")
    val source = new FixtureBarsSource(Seq("T0", "T1"))
    val (days, hit) = Pipeline.runIngest(spark, source, lake, 2024, today)
    val expected = TradingCalendar
      .tradingDays(java.time.LocalDate.parse("2024-01-01"), today).size
    assert(days === expected && !hit)
    val bronze = Storage.readTable(spark, lake.bronze("stocks"))
    assert(bronze.count() === expected * 2L)
    assert(Checkpoints.load(lake.checkpointPath)("bronze_stocks_last_date")
      === "2024-01-31")
    // second run: nothing missing, nothing fetched, nothing duplicated
    val (days2, _) = Pipeline.runIngest(spark, source, lake, 2024, today)
    assert(days2 === 0)
    assert(Storage.readTable(spark, lake.bronze("stocks")).count() === expected * 2L)
  }

  test("clock-gated ingest skips an in-progress trading day") {
    import graft.sources.FixtureBarsSource
    val lake = Lake(Files.createTempDirectory("graft_ingestg").toString)
    val source = new FixtureBarsSource(Seq("T0"))
    // Wed 2024-01-10 10:30 ET: mid-session — today must NOT be fetched
    val midSession = java.time.Instant.parse("2024-01-10T15:30:00Z")
    Pipeline.runIngest(spark, source, lake, 2024, midSession)
    val stored = Storage.readTable(spark, lake.bronze("stocks"))
      .select(col("date")).collect().map(_.getDate(0).toLocalDate).toSet
    assert(stored.max === java.time.LocalDate.parse("2024-01-09"))
    // 16:35 ET the same day: publish delay elapsed — today lands
    val afterPublish = java.time.Instant.parse("2024-01-10T21:35:00Z")
    val (days, _) = Pipeline.runIngest(spark, source, lake, 2024, afterPublish)
    assert(days === 1)
    val stored2 = Storage.readTable(spark, lake.bronze("stocks"))
      .select(col("date")).collect().map(_.getDate(0).toLocalDate).toSet
    assert(stored2.max === java.time.LocalDate.parse("2024-01-10"))
  }

  test("source ingest under a quota cutoff keeps the NEWEST days") {
    import graft.sources.FixtureBarsSource
    val lake = Lake(Files.createTempDirectory("graft_ingestq").toString)
    val today = java.time.LocalDate.parse("2024-01-31")
    val quotaDay = java.time.LocalDate.parse("2024-01-10")
    val source = new FixtureBarsSource(Seq("T0"), quotaDates = Set(quotaDay))
    // parallelism 1 → deterministic: newest-first until the 403 day
    val (days, hit) = Pipeline.runIngest(spark, source, lake, 2024, today,
      parallelism = 1)
    assert(hit, "quota must be reported")
    val stored = Storage.readTable(spark, lake.bronze("stocks"))
      .select(col("date")).collect().map(_.getDate(0).toLocalDate).toSet
    assert(stored.size === days)
    assert(stored.forall(_.isAfter(quotaDay)),
      "a quota cutoff must cost the OLDEST days, never the newest")
    assert(stored.contains(today.minusDays(1)) || stored.contains(today))
  }

  test("first-run ingest with zero fetched rows returns (0, true), no throw") {
    // an immediate 403 on a fresh lake: bronze never materializes — the
    // checkpoint probe must not explode on the missing path, and the
    // checkpoint must still be written (empty high-water mark)
    val lake = Lake(Files.createTempDirectory("graft_ingest0").toString)
    val alwaysQuota = new graft.sources.BarsSource {
      override def fetchDay(date: java.time.LocalDate) =
        throw new graft.sources.PlanLimitExceeded("quota exhausted")
    }
    val (days, hit) = Pipeline.runIngest(spark, alwaysQuota, lake, 2024,
      java.time.LocalDate.parse("2024-01-31"), parallelism = 1)
    assert(days === 0 && hit)
    assert(Checkpoints.load(lake.checkpointPath)("bronze_stocks_last_date")
      === "")
  }
}
