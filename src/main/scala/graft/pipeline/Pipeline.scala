package graft.pipeline

import graft.Tables
import graft.operators.{GoldOps, PatternOps, SilverOps}
import graft.queries.DomainQueries
import graft.sources.{Checkpoints, Storage, TableRef}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The medallion pipeline end-to-end: bronze ingest → silver transform →
  * gold analytics, with the reference's incremental-batch control flow
  * (reference `bronze/main.py`, `silver/main.py`, `gold/main.py` — SURVEY §3).
  *
  * Spark-first deltas from the reference, deliberate:
  *  - bronze writes only the new date partitions via dynamic partition
  *    overwrite instead of read-concat-rewrite of the whole dataset;
  *  - no ticker batching: silver is one job per table, partitioning does
  *    the memory management;
  *  - append-vs-full-rewrite stays a driver decision off checkpoint state
  *    (`silver/incremental.py:20-66`), but both paths are plain writes.
  */
final case class Lake(root: String) {
  def bronze(name: String): TableRef = TableRef(root, "bronze", name)
  def silver(name: String): TableRef = TableRef(root, "silver", name)
  def gold(name: String): TableRef = TableRef(root, "gold", name)
  def checkpointPath: String = s"$root/checkpoints.json"
}

/** Stage timer, printed only when GRAFT_PIPELINE_TIMING is set — shared by
  * the pipeline orchestrator and the scale benchmark. The bench flips
  * [[record]] on around its pipeline_full loop to get a per-stage
  * breakdown into BENCH json (accumulated across reps; caller divides). */
object Timing {
  private val recorded =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
  @volatile private var recording = false
  def record(on: Boolean): Unit = { recorded.clear(); recording = on }
  def snapshot(tag: String): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    recorded.asScala.toMap.collect {
      case (k, v) if k.startsWith(tag + ".") =>
        k.stripPrefix(tag + ".") -> v.doubleValue
    }
  }
  def stage[A](tag: String, name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val a = f
    val secs = (System.nanoTime() - t0) / 1e9
    if (recording)
      recorded.compute(s"$tag.$name",
        (_, prev) => java.lang.Double.valueOf(
          if (prev == null) secs else prev.doubleValue + secs))
    if (sys.env.contains("GRAFT_PIPELINE_TIMING"))
      println(f"[$tag] $name%-10s $secs%.2f s")
    a
  }
}

object Pipeline {

  /** Bronze: land the daily bars (fixture-backed stand-in for the REST
    * ingest S6-S8), plus the splits dim.
    *
    * Layout (`grain`): `date` is the reference's Hive layout and keeps
    * incremental ingest O(day) via dynamic partition overwrite; `auto`
    * (default) takes it only once a day holds ≥ 16 MB (at 100 TB / 5 y
    * that's ~80 GB/day), and otherwise, an empty source included, writes
    * one unpartitioned table. Below that threshold directories are mostly
    * fixed cost: every written file costs ~11 ms whatever the codec
    * (Spark 4.1, `local[4]`), so 5 years as 60 month directories of ~13 KB
    * wrote in ~1.4 s against ~0.2 s flat, and reading back more than 32
    * partition paths adds a partition-discovery job. The flat table is
    * the aggregate's output as is (AQE sizes its files: one at bench
    * scale, ~64 MB each above it). Either layout lands through
    * [[Storage.writeTable]], whose protocol leaves the previous table
    * readable if the reload fails. Both layouts read back identically;
    * PipelineSpec proves silver is byte-identical on top of each. */
  def runBronze(spark: SparkSession, sfDir: String, lake: Lake,
                grain: String = "auto"): Unit = {
    val raw = Tables.bars(spark, sfDir)
    // ONE date-span probe over the source, for every grain: its min/max
    // size `auto`'s day count, and its max is the checkpoint high-water
    // mark. Reading max(date) back from the written table instead costs
    // another job, and in the flat layout (what `auto` picks at test and
    // bench scale) `date` is a data column, not a partition column.
    // Empty source ⇒ null min/max.
    val span = raw.agg(min(col("date")), max(col("date"))).first()
    val lastDate =
      if (span.isNullAt(1)) None else Some(span.getDate(1).toLocalDate)
    val byDate = grain match {
      case "date" => true
      case "auto" => lastDate.exists { hi =>
        // scan-free volume estimate: optimizer stats = source file bytes
        val bytes = raw.queryExecution.optimizedPlan.stats.sizeInBytes
        val days = math.max(1L, java.time.temporal.ChronoUnit.DAYS.between(
          span.getDate(0).toLocalDate, hi) + 1)
        bytes / days >= BigInt(16L << 20)
      }
      case other => throw new IllegalArgumentException(s"bronze grain: $other")
    }
    val stocks = lake.bronze("stocks")
    // independent: the tiny splits write hides under the stocks write
    Jobs.overlap(spark, "bronze.writes")(
      // by date: one shuffle on the partition key so each date directory
      // gets exactly one writer (otherwise: |dirs| × |tasks| tiny files)
      "stocks" -> (() => Storage.writeTable(
        if (byDate) raw.repartition(col("date")) else raw, stocks,
        partitionBy = if (byDate) Seq("date") else Nil)),
      // two unioned ranges: one file instead of one per range partition
      "splits" -> (() => Storage.writeTable(
        DomainQueries.syntheticSplits(spark).coalesce(1), lake.bronze("splits"))))
    Checkpoints.save(lake.checkpointPath,
      Checkpoints.load(lake.checkpointPath) +
        ("bronze_stocks_last_date" -> lastDate.map(_.toString).getOrElse("")))
  }

  /** Bronze ingest from a live [[graft.sources.BarsSource]] — the
    * reference's actual bronze flow (`bronze/main.py:56-205`): plan the
    * missing trading days (required minus stored, NEWEST first so a quota
    * cutoff loses the oldest days), fetch them in parallel with
    * cancel-on-403, append the fetched days as date partitions, advance
    * the checkpoint. Fetching is driver-scale (a few thousand small HTTP
    * calls); the write is one partitioned append. Returns (days fetched,
    * hit plan limit). */
  def runIngest(spark: SparkSession, source: graft.sources.BarsSource,
                lake: Lake, startYear: Int, today: java.time.LocalDate,
                parallelism: Int = 4): (Int, Boolean) = {
    import spark.implicits._
    val ref = lake.bronze("stocks")
    val stored: Set[java.time.LocalDate] =
      if (!Storage.tableExists(spark, ref)) Set.empty
      else Storage.readTable(spark, ref).select(col("date")).distinct()
        .collect().map(_.getDate(0).toLocalDate).toSet
    val missing = graft.sources.IngestPlanner.missingDates(startYear, today, stored)
    val (rows, doneDates, hitLimit) =
      graft.sources.ParallelFetch.fetchAll(source, missing, parallelism)(Jobs.ec)
    if (rows.nonEmpty) {
      val bars = rows.toDF()
        .select(col("ticker"), col("date").cast("date"),
          col("open"), col("high"), col("low"), col("close"),
          col("volume"), col("transactions"))
        .repartition(col("date"))
      Storage.writeTable(bars, ref, SaveMode.Append, partitionBy = Seq("date"))
    }
    // first run with zero fetched rows (immediate 403, or every day empty):
    // the bronze path does not exist yet — the contract is (0, hitLimit)
    // with an empty checkpoint, not an AnalysisException from the probe
    val maxDate =
      if (Storage.tableExists(spark, ref)) Storage.maxDate(spark, ref)
      else None
    Checkpoints.save(lake.checkpointPath,
      Checkpoints.load(lake.checkpointPath) +
        ("bronze_stocks_last_date" -> maxDate.map(_.toString).getOrElse("")))
    (doneDates.size, hitLimit)
  }

  /** Clock-gated ingest (reference `bronze/main.py` guarded by
    * `utils/calendar.py:74-116`): derives the newest fetchable day from
    * the wall clock via [[graft.functions.TradingCalendar.ingestEndDate]],
    * so a cron'd run during (or within the publish delay after) a trading
    * session never ingests a partial day. The date-explicit overload stays
    * the testable core. */
  def runIngest(spark: SparkSession, source: graft.sources.BarsSource,
                lake: Lake, startYear: Int,
                now: java.time.Instant): (Int, Boolean) =
    runIngest(spark, source, lake, startYear,
      graft.functions.TradingCalendar.ingestEndDate(now))

  /** Should silver fully rewrite? First run, or any split executed after
    * silver's high-water mark (retroactive adjustment invalidates history). */
  def shouldFullRewrite(spark: SparkSession, lake: Lake): Boolean = {
    if (!Storage.tableExists(spark, lake.silver("daily_aggregates"))) return true
    val lastSilver = Storage.maxDate(spark, lake.silver("daily_aggregates"))
    lastSilver match {
      case None => true
      case Some(d) =>
        Storage.readTable(spark, lake.bronze("splits"))
          .filter(col("execution_date") > lit(java.sql.Date.valueOf(d)))
          .limit(1).count() > 0
    }
  }

  /** Silver: split-adjust, roll up to three grains, compute indicators.
    * Append path processes only bars newer than the checkpoint; rewrite
    * path rebuilds everything (same code, different input slice + mode). */
  def runSilver(spark: SparkSession, lake: Lake): Unit = {
    val full = shouldFullRewrite(spark, lake)
    val bronze = Storage.readTable(spark, lake.bronze("stocks"))
    val splits = Storage.readTable(spark, lake.bronze("splits"))

    val (input, mode) =
      if (full) (bronze, SaveMode.Overwrite)
      else {
        val last = Storage.maxDate(spark, lake.silver("daily_aggregates")).get
        (bronze.filter(col("date") > lit(java.sql.Date.valueOf(last))), SaveMode.Append)
      }

    // cast-validate on write (`schemas.py:108-117`): non-strict coercion to
    // the declared silver schema
    val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val daily = graft.functions.GraftFunctions.coerceTo(
      SilverOps.applySplits(input, splits), graft.Schemas.silverDaily)
      .persist(disk)
    try {
      Timing.stage("pipesub", "silver.daily")(
        Storage.writeTable(daily, lake.silver("daily_aggregates"), mode))
      // weekly/monthly + indicators always derive from the full silver
      // daily table (windows need history regardless of how much daily was
      // new). Cached: four derivations consume it, and re-reading means
      // re-running partition discovery + scan per consumer. On the
      // full-rewrite path the just-written table IS the computed frame,
      // already cached by the write above — reuse it instead of a
      // read-back scan.
      val allDaily =
        if (full) daily
        else Storage.readTable(spark, lake.silver("daily_aggregates")).persist(disk)
      // three independent chains over the cached daily frame; each rollup
      // feeds its aggregate AND its indicator table, so it is cached
      def grain(bucket: String, aggT: String, indT: String): () => Unit = () => {
        val r = SilverOps.rollup(allDaily, bucket).persist(disk)
        try {
          Storage.writeTable(r, lake.silver(aggT))
          Storage.writeTable(SilverOps.indicators(r), lake.silver(indT))
        } finally r.unpersist(false)
      }
      try Jobs.overlap(spark, "silver.derived")(
        "weekly" -> grain("week", "weekly_aggregates", "weekly_indicators"),
        "monthly" -> grain("month", "monthly_aggregates", "monthly_indicators"),
        "daily_indicators" -> (() => Storage.writeTable(
          SilverOps.indicators(allDaily), lake.silver("daily_indicators"))))
      finally if (allDaily ne daily) allDaily.unpersist(false)
    } finally daily.unpersist(false)

    if (full) Checkpoints.save(lake.checkpointPath,
      Checkpoints.load(lake.checkpointPath) +
        ("silver_last_full_rewrite" -> java.time.Instant.now().toString))
  }

  /** Gold: VWAP signals + HVC pattern tables off silver. */
  def runGold(spark: SparkSession, lake: Lake): Unit = {
    val daily = Storage.readTable(spark, lake.silver("daily_aggregates"))

    val ind = Storage.readTable(spark, lake.silver("daily_indicators"))
    // hvc feeds its own table plus both stair-pattern directions — cache it
    // so the indicator scan + HVC windows run once, not three times.
    val hvc = PatternOps.highVolumeCloses(ind, threshold = 1.5)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // materialize BEFORE the concurrent consumers fork (the caching
      // doctrine: an unmaterialized cache does not dedupe in-flight work)
      hvc.count()
      // four independent writes, each a small job wave with a ~0.3-0.5 s
      // commit tail that serialized would leave most cores idle
      def write(table: String)(df: => DataFrame) =
        table -> (() => Storage.writeTable(df, lake.gold(table)))
      Jobs.overlap(spark, "gold.writes")(
        write("vwap_signals")(GoldOps.vwapSignals(daily)),
        write("daily_high_volume_closes")(hvc),
        write("stairstepping_patterns")(
          PatternOps.stairPatterns(hvc, ascending = true, minSteps = 2)),
        write("falling_down_stairs_summary")(PatternOps.bestPatternPerTicker(
          PatternOps.stairPatterns(hvc, ascending = false, minSteps = 2))))
    } finally hvc.unpersist(false)
  }

  /** Clean: drop bronze (the reference's `clean` CLI). */
  def runClean(spark: SparkSession, lake: Lake): Unit = {
    Storage.deleteTable(spark, lake.bronze("stocks"))
    Storage.deleteTable(spark, lake.bronze("splits"))
  }

  def runAll(spark: SparkSession, sfDir: String, lake: Lake): Unit = {
    Timing.stage("pipeline", "bronze")(runBronze(spark, sfDir, lake))
    Timing.stage("pipeline", "silver")(runSilver(spark, lake))
    Timing.stage("pipeline", "gold")(runGold(spark, lake))
  }
}
