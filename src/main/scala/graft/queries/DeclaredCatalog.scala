package graft.queries

import graft.Tables
import graft.operators.{PatternOps, SilverOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.PlanFrame
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** The reference's COMPLETE declared query catalog: all 19 canned queries
  * from `metadata.json` (databases/hvcs/queries), registered verbatim
  * over views this object derives itself from the raw fixture bars
  * (`Tables.bars`, not split-adjusted), not over the gold lake the pipeline
  * writes. A Datasette-style consumer of the reference can point at these
  * views and run every saved query unchanged.
  *
  * Table notes:
  *  - `*_high_volume_closes_*` at daily/weekly/monthly grain: HVCs off the
  *    indicator run at that grain (20-period MA per grain,
  *    `metadata.json:11/:71/:131`), ratio exposed as `volume_avg_ratio`.
  *  - `stairstepping_hvcs_stocks`: every rising run, enriched with the
  *    live-market columns ([[PatternOps.enrichPatterns]]).
  *  - `stairstepping_summary_stocks` / `falling_down_stairs_summary_stocks`:
  *    best pattern per ticker in each direction, summary column dialect.
  *  - `_etfs` views alias the `_stocks` tables: the reference runs the same
  *    pipeline twice over different ticker universes (stocks vs ETFs); the
  *    fixture has one universe, and universe separation is an input concern,
  *    not an operator. Threshold 1.5 (vs the docs' 3.0) for the same reason
  *    the rest of the repo uses it: the synthetic fixture's volume ratios
  *    are tamer than real markets'.
  *
  * Serving: each table is persisted `MEMORY_AND_DISK` with its columnar
  * cache blocks locally checkpointed in place (`checkpointed`), and each
  * view is registered over the one cached node. A query analyses a leaf,
  * not the derivation, and its tasks ship no lineage.
  *
  * Layout: each table is served as one partition (`coalesce(1)`). A leaf
  * reporting `SinglePartition` satisfies every ordering and distribution,
  * so the catalog's `ORDER BY`s, global aggregates and the derived tables'
  * per-ticker windows plan no exchange, and a query without a broadcast
  * runs one job. Every input served so far is small (the sf0.1 fixture's
  * scan-free estimate is 7.5 MB), and there one partition was measured
  * faster than the derivation's partitions at every size, sf0.1 included.
  * A size rule that keeps several partitions for a large input needs a
  * measured workload on each side of it first.
  *
  * The trade-off is fault tolerance: a locally checkpointed block cannot be
  * recomputed. If an executor holding one is lost, queries over its table
  * fail loudly ("Checkpoint block … not found") until the JVM builds the
  * catalog again. That is acceptable here: under graft's `local[N]` the
  * blocks live in the driver's own block manager at `MEMORY_AND_DISK`, so
  * memory pressure spills them to disk instead of dropping them. Views over
  * the gold lake's parquet would restore recomputation.
  *
  * Dropping the cache: `spark.catalog.clearCache()` (Verify and Bench call
  * it between queries), or unpersisting a frame with an equal plan, drops
  * checkpointed blocks that the cached plans of the derived tables still
  * scan, so those would fail with the same error. Instead the next call
  * for the dir sees the dropped blocks and builds its tables again.
  * `unpersist` or `uncacheTable` on a view itself matches no cache entry
  * (entries are keyed by the derivation; the view is the cached node), so
  * it changes nothing, and `spark.catalog.isCached` reads false on the
  * views for the same reason. `release(dir)` is the way to shed a dir: it
  * removes the dir's cache entries and views in every session.
  */
object DeclaredCatalog {

  /** Canned SQL, verbatim from `metadata.json` (cited per entry). */
  val sql: Map[String, String] = Map(
    "recent_strong_patterns" ->
      "SELECT ticker, hvc_count as steps, pattern_end_date as ended, pattern_gain_pct as gain_pct, latest_close as current_price, price_change_since_pct as change_since_pct, above_pattern_high as trending FROM stairstepping_hvcs_stocks WHERE days_since_pattern <= 30 AND hvc_count >= 4 ORDER BY pattern_end_date DESC",
    "best_patterns_all_time" ->
      "SELECT ticker, hvc_count as steps, first_close, last_close, pattern_gain_pct as gain_pct, pattern_start_date as started, pattern_end_date as ended FROM stairstepping_hvcs_stocks ORDER BY pattern_gain_pct DESC LIMIT 20",
    "active_patterns" ->
      "SELECT ticker, hvc_count as steps, pattern_end_date as ended, last_close as pattern_high, latest_close as current_price, price_change_since_pct as gain_since_pct, days_since_pattern as days_ago FROM stairstepping_hvcs_stocks WHERE above_pattern_high = 1 AND days_since_pattern <= 60 ORDER BY price_change_since_pct DESC",
    "recent_hvcs" ->
      "SELECT date, ticker, volume_avg_ratio as vol_ratio, volume FROM daily_high_volume_closes_stocks ORDER BY date DESC LIMIT 100",
    "strongest_stairstepping_stocks" ->
      "SELECT ticker, steps, first_hvc, last_hvc, bottom_price, top_price, gain_pct, latest_close, change_since_pct, still_trending FROM stairstepping_summary_stocks ORDER BY steps DESC, last_hvc DESC LIMIT 50",
    "trending_stairstepping_stocks" ->
      "SELECT ticker, steps, last_hvc, top_price, latest_close, change_since_pct, days_since_pattern FROM stairstepping_summary_stocks WHERE still_trending = 1 ORDER BY steps DESC, change_since_pct DESC",
    "recent_weekly_hvcs_stocks" ->
      "SELECT date, ticker, volume_avg_ratio as vol_ratio, volume FROM weekly_high_volume_closes_stocks ORDER BY date DESC LIMIT 100",
    "recent_weekly_hvcs_etfs" ->
      "SELECT date, ticker, volume_avg_ratio as vol_ratio, volume FROM weekly_high_volume_closes_etfs ORDER BY date DESC LIMIT 100",
    "strongest_weekly_hvcs_stocks" ->
      "SELECT ticker, date, volume_avg_ratio as vol_ratio, volume, close FROM weekly_high_volume_closes_stocks ORDER BY volume_avg_ratio DESC LIMIT 50",
    "strongest_weekly_hvcs_etfs" ->
      "SELECT ticker, date, volume_avg_ratio as vol_ratio, volume, close FROM weekly_high_volume_closes_etfs ORDER BY volume_avg_ratio DESC LIMIT 50",
    "recent_monthly_hvcs_stocks" ->
      "SELECT date, ticker, volume_avg_ratio as vol_ratio, volume FROM monthly_high_volume_closes_stocks ORDER BY date DESC LIMIT 100",
    "recent_monthly_hvcs_etfs" ->
      "SELECT date, ticker, volume_avg_ratio as vol_ratio, volume FROM monthly_high_volume_closes_etfs ORDER BY date DESC LIMIT 100",
    "strongest_monthly_hvcs_stocks" ->
      "SELECT ticker, date, volume_avg_ratio as vol_ratio, volume, close FROM monthly_high_volume_closes_stocks ORDER BY volume_avg_ratio DESC LIMIT 50",
    "strongest_monthly_hvcs_etfs" ->
      "SELECT ticker, date, volume_avg_ratio as vol_ratio, volume, close FROM monthly_high_volume_closes_etfs ORDER BY volume_avg_ratio DESC LIMIT 50",
    "strongest_falling_stocks" ->
      "SELECT ticker, steps, first_hvc, last_hvc, top_price, bottom_price, loss_pct, latest_close, change_since_pct, still_trending FROM falling_down_stairs_summary_stocks ORDER BY steps DESC, last_hvc DESC LIMIT 50",
    "still_falling_stocks" ->
      "SELECT ticker, steps, last_hvc, bottom_price, latest_close, change_since_pct, days_since_pattern FROM falling_down_stairs_summary_stocks WHERE still_trending = 1 ORDER BY steps DESC, change_since_pct ASC",
    "recent_falling_patterns" ->
      "SELECT ticker, steps, last_hvc as ended, top_price, bottom_price, loss_pct, latest_close, change_since_pct, still_trending FROM falling_down_stairs_summary_stocks WHERE days_since_pattern <= 60 AND steps >= 3 ORDER BY last_hvc DESC",
    "worst_falling_patterns" ->
      "SELECT ticker, steps, top_price, bottom_price, loss_pct, first_hvc as started, last_hvc as ended FROM falling_down_stairs_summary_stocks ORDER BY loss_pct ASC LIMIT 20",
    "falling_vs_stairstepping" ->
      "SELECT 'Falling' as pattern_type, COUNT(*) as count, AVG(steps) as avg_steps FROM falling_down_stairs_summary_stocks UNION ALL SELECT 'Rising' as pattern_type, COUNT(*) as count, AVG(steps) as avg_steps FROM stairstepping_summary_stocks")

  // Temp views are per session and their names are global within it, so
  // the built DataFrames are cached per (session, dir) and a session's
  // views are registered only when it last served another dir: serving
  // dir B re-registers, so B never reads A's tables. `tables` and
  // `servedDir` are guarded by this object's lock.
  private val tables = mutable.Map.empty[(SparkSession, String), Served]
  private val servedDir = mutable.Map.empty[SparkSession, String]

  /** A dir's views in `s`: each frame's plan is its table's one cached
    * node (under the HVC rename), not the derivation. `persisted` are the
    * frames `served` persisted, in build order. `blocks` are captured here,
    * before anything can drop them. */
  private final class Served(s: SparkSession, derived: Map[String, DataFrame],
      persisted: Seq[DataFrame]) {
    private val plans = derived.map { case (name, df) => name -> df.queryExecution.withCachedData }
    val frames: Map[String, DataFrame] = plans.map { case (name, plan) => name -> PlanFrame(s, plan) }
    private val blocks = plans.values.flatMap(_.collect {
      case r: InMemoryRelation => r.cacheBuilder.cachedColumnBuffers
    }).toSeq

    /** False once `clearCache` or an `unpersist` dropped any table's blocks. */
    def live: Boolean = blocks.forall(_.getStorageLevel != StorageLevel.NONE)

    /** Removes the cache entries, derived tables first, so no dependent
      * entry is re-planned over one already gone. */
    def unpersist(): Unit = persisted.reverseIterator.foreach(_.unpersist(blocking = true))
  }

  /** The raw rising/falling pattern tables [[DeclaredQueries]] serves. The
    * catalog tables derive from them, but they are not part of the export. */
  private val patternViews = Set("stairstepping_patterns", "falling_down_stairs_patterns")

  /** Build (cached per session and dir) and register every view the
    * declared surfaces read in `s`: the 9 catalog tables plus the two
    * pattern views. Registers nothing while `s` already serves `dir` and
    * its blocks are live. */
  def registerViews(s: SparkSession, dir: String): Unit = synchronized {
    val frames = built(s, dir)
    if (!servedDir.get(s).contains(dir)) {
      servedDir -= s // a failure part-way leaves the views unclaimed
      frames.foreach { case (name, df) => df.createOrReplaceTempView(name) }
      servedDir(s) = dir
    }
  }

  /** `text` analysed over `dir`'s views in `s`. Registration and analysis
    * hold one lock, so a concurrent switch to another dir cannot rebind
    * the views in between. */
  def query(s: SparkSession, dir: String, text: String): DataFrame = synchronized {
    registerViews(s, dir)
    s.sql(text)
  }

  /** The publishable catalog tables (view name → DataFrame), i.e. every
    * table the 19 canned queries run over — the export set for
    * [[graft.publish.Publisher]]. */
  def catalogTables(s: SparkSession, dir: String): Map[String, DataFrame] =
    built(s, dir) -- patternViews

  /** Stops serving `dir` in every session: unpersists its tables (removing
    * the cache entries, not only the blocks), forgets them, and drops the
    * views of each session that serves `dir`. The next call for `dir`
    * builds it again. */
  def release(dir: String): Unit = synchronized {
    tables.keys.filter(_._2 == dir).toSeq.foreach { case key @ (s, _) =>
      val entry = tables.remove(key).get
      entry.unpersist()
      if (servedDir.get(s).contains(dir)) {
        servedDir -= s
        entry.frames.keys.foreach(s.catalog.dropTempView)
      }
    }
  }

  /** `df` persisted, with its columnar cache blocks marked for local
    * checkpointing before any job touches them: the first job that fills
    * the blocks truncates their lineage, and they stay the same compressed
    * batches. An equal plan another session already persisted keeps its
    * (already checkpointed) blocks. */
  private def checkpointed(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    df.queryExecution.withCachedData match {
      case leaf: InMemoryRelation =>
        val blocks = leaf.cacheBuilder.cachedColumnBuffers
        if (!blocks.isCheckpointed) blocks.localCheckpoint()
      case plan => throw new IllegalStateException(
        s"persisted catalog frame is not served from the cache:\n${plan.treeString}")
    }
    df
  }

  /** `dir`'s views in `s`, built again (and `s`'s views unclaimed) when
    * their blocks were dropped. */
  private def built(s: SparkSession, dir: String): Map[String, DataFrame] = synchronized {
    if (tables.get((s, dir)).exists(!_.live)) {
      tables -= ((s, dir))
      servedDir -= s
    }
    tables.getOrElseUpdate((s, dir), {
      val persisted = mutable.ArrayBuffer.empty[DataFrame]
      def served(df: DataFrame): DataFrame = {
        val p = checkpointed(df.coalesce(1))
        persisted += p
        p
      }
      val daily = Tables.bars(s, dir)
      def hvcOf(bars: DataFrame) = PatternOps.highVolumeCloses(
        SilverOps.indicators(bars), threshold = 1.5).transform(served)
      // one indicator+HVC chain per grain; the daily one also feeds the
      // pattern tables (computed once, persisted)
      val hvcByGrain = Seq(
        "daily" -> hvcOf(daily),
        "weekly" -> hvcOf(SilverOps.rollup(daily, "week")),
        "monthly" -> hvcOf(SilverOps.rollup(daily, "month")))
      val hvcViews = hvcByGrain.flatMap { case (g, hvc) =>
        val catalogShape = hvc.withColumnRenamed("volume_ratio", "volume_avg_ratio")
        Seq(s"${g}_high_volume_closes_stocks" -> catalogShape,
          s"${g}_high_volume_closes_etfs" -> catalogShape)
      }
      val dailyHvc = hvcByGrain.head._2
      val rising = PatternOps.stairPatterns(dailyHvc, ascending = true, minSteps = 2)
        .transform(served)
      val falling = PatternOps.stairPatterns(dailyHvc, ascending = false, minSteps = 2)
        .transform(served)

      val hvcsTable = PatternOps.enrichPatterns(rising, daily, rising = true)
        .select(col("ticker"), col("hvc_count"),
          col("start_date").as("pattern_start_date"),
          col("end_date").as("pattern_end_date"),
          col("first_close"), col("last_close"),
          col("gain_pct").as("pattern_gain_pct"),
          col("latest_close"),
          col("change_since_pct").as("price_change_since_pct"),
          col("trending_flag").as("above_pattern_high"),
          col("days_since_pattern"))
        .transform(served)

      def summary(patterns: DataFrame, rising: Boolean) = {
        val (hiCol, loCol, pctName) =
          if (rising) ("last_close", "first_close", "gain_pct")
          else ("first_close", "last_close", "loss_pct")
        PatternOps.enrichPatterns(
            PatternOps.bestPatternPerTicker(patterns), daily, rising)
          .select(col("ticker"), col("hvc_count").as("steps"),
            col("start_date").as("first_hvc"), col("end_date").as("last_hvc"),
            col(loCol).as("bottom_price"), col(hiCol).as("top_price"),
            col("gain_pct").as(pctName), col("latest_close"),
            col("change_since_pct"),
            col("trending_flag").as("still_trending"),
            col("days_since_pattern"))
          .transform(served)
      }

      val views = (hvcViews ++ Seq(
        "stairstepping_hvcs_stocks" -> hvcsTable,
        "stairstepping_summary_stocks" -> summary(rising, rising = true),
        "falling_down_stairs_summary_stocks" -> summary(falling, rising = false),
        "stairstepping_patterns" -> rising,
        "falling_down_stairs_patterns" -> falling))
        .toMap
      new Served(s, views, persisted.toSeq)
    }).frames
  }

  /** Run one catalog query by name over `dir`'s tables. */
  def run(s: SparkSession, dir: String, name: String): DataFrame =
    query(s, dir, sql(name))
}
