package graft.queries

import graft.Tables
import graft.operators.{GoldOps, PatternOps, SilverOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The reference's stock-market pipeline semantics (SURVEY §2.3-§2.5, §2.11)
  * exercised over the shared fixtures via the canonical [[Tables.bars]]
  * mapping, with synthetic splits derived deterministically from the ticker
  * id so the DuckDB oracle can rebuild the identical dim.
  */
object DomainQueries {

  /** Synthetic splits dim: every 5th ticker has a forward split (1:2..1:4)
    * executing mid-history; every 15th a second 1:2 split 400 days later —
    * exercising the multi-split product compounding path. */
  def syntheticSplits(s: SparkSession): DataFrame = {
    val first = s.range(0, 100, 5).select(
      concat(lit("T"), col("id")).as("ticker"),
      date_add(to_date(lit("1994-01-01")), ((col("id") * 37) % 1000).cast("int"))
        .as("execution_date"),
      lit(1.0).as("split_from"),
      (lit(2) + col("id") % 3).cast("double").as("split_to"))
    val second = s.range(0, 100, 15).select(
      concat(lit("T"), col("id")).as("ticker"),
      date_add(to_date(lit("1994-01-01")), (((col("id") * 37) % 1000) + 400).cast("int"))
        .as("execution_date"),
      lit(1.0).as("split_from"),
      lit(2.0).as("split_to"))
    first.unionByName(second)
  }

  private val splitsSql =
    """splits AS (
      |  SELECT 'T' || k AS ticker,
      |         DATE '1994-01-01' + CAST((k*37) % 1000 AS INTEGER) AS execution_date,
      |         1.0 AS split_from, CAST(2 + (k % 3) AS DOUBLE) AS split_to
      |  FROM range(0, 100, 5) t(k)
      |  UNION ALL
      |  SELECT 'T' || k, DATE '1994-01-01' + CAST((k*37) % 1000 + 400 AS INTEGER),
      |         1.0, 2.0
      |  FROM range(0, 100, 15) t(k)
      |)""".stripMargin

  /** Indicators CTE — mirrors [[SilverOps.indicators]] exactly: strict
    * min-periods rolling means via decimal sums, floored volume MA.
    * Parameterized over the source relation (daily bars, weekly roll-up…). */
  private[queries] def indCteSqlFor(src: String): String =
    s"""ind AS (
       |  SELECT ticker, date, close, high, low, volume,
       |    LAG(close, 1) OVER wt AS prev_close,
       |    CASE WHEN COUNT(close) OVER w20 = 20
       |         THEN CAST(SUM(CAST(close AS DECIMAL(18,2))) OVER w20 AS DOUBLE) / 20 END AS sma_20,
       |    CASE WHEN COUNT(close) OVER w50 = 50
       |         THEN CAST(SUM(CAST(close AS DECIMAL(18,2))) OVER w50 AS DOUBLE) / 50 END AS sma_50,
       |    CASE WHEN COUNT(volume) OVER w20 = 20
       |         THEN CAST(FLOOR(CAST(SUM(volume) OVER w20 AS DOUBLE) / 20) AS BIGINT) END AS volume_ma_20
       |  FROM $src
       |  WINDOW
       |    wt AS (PARTITION BY ticker ORDER BY date),
       |    w20 AS (PARTITION BY ticker ORDER BY date ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
       |    w50 AS (PARTITION BY ticker ORDER BY date ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
       |)""".stripMargin

  private[queries] val indCteSql: String = indCteSqlFor("bars")
  private val indSql = indCteSql

  /** Weekly roll-up CTE (Sunday anchor, order-correct first/last). */
  private[queries] val weeklyCteSql: String =
    """wk AS (
      |  SELECT ticker, date - CAST(DAYOFWEEK(date) AS INTEGER) AS date,
      |    ARG_MIN(open, date) AS open, MAX(high) AS high, MIN(low) AS low,
      |    ARG_MAX(close, date) AS close,
      |    CAST(SUM(volume) AS BIGINT) AS volume,
      |    CAST(SUM(transactions) AS BIGINT) AS transactions
      |  FROM bars GROUP BY 1, 2)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](

    // J1+J2+A3+F10 — retroactive split adjustment over bars.
    "q_split_adjust" -> ((s, dir) =>
      SilverOps.applySplits(Tables.bars(s, dir), syntheticSplits(s))
        .select(col("ticker"), col("date"), col("close"), col("volume"))),

    // W1+W2 — strict SMA 20/50 + previous close (lag).
    "q_sma" -> ((s, dir) =>
      SilverOps.indicators(Tables.bars(s, dir))
        .select("ticker", "date", "close", "prev_close", "sma_20", "sma_50")),

    // W3 — ATR(14) over derived true range.
    "q_atr" -> ((s, dir) =>
      SilverOps.indicators(Tables.bars(s, dir))
        .select("ticker", "date", "true_range", "atr_14")),

    // Recursive indicator — EMA(α=0.25) via the per-ticker ordered fold
    // (no SQL window expresses output-recursion; see SilverOps.ema).
    // α=0.25 ⇒ β=0.75, both exact binary doubles, so the fold and the
    // oracle's recursive CTE run the identical IEEE op sequence.
    "q_ema" -> ((s, dir) =>
      SilverOps.ema(Tables.bars(s, dir), alpha = 0.25)),

    // MACD + signal + histogram from the single three-accumulator fold.
    "q_macd" -> ((s, dir) =>
      SilverOps.macd(Tables.bars(s, dir))
        .select(col("ticker"), col("date"), col("close"),
          col("macd"), col("signal"), col("histogram"))),

    // Wilder-smoothed RSI (α=0.0625 — binary-exact Wilder-16 variant;
    // q_rsi keeps the simple-average RSI-14 surface).
    "q_rsi_wilder" -> ((s, dir) =>
      SilverOps.wilderRsi(Tables.bars(s, dir))),

    // Kaufman adaptive MA — the adaptive-α member of the fold family;
    // integer-cents efficiency ratio, binary-exact 5/8 / 1/16 constants.
    "q_kama" -> ((s, dir) =>
      SilverOps.kama(Tables.bars(s, dir))),

    // Holt level+trend smoothing — the forecasting fold; α=1/2, β=1/4
    // binary-exact, one-step-ahead forecast emitted per bar. Emitted RAW
    // (no rounding): the α/β halves-and-quarters recursion lands values
    // exactly on 6-dp half boundaries, where Spark's round (HALF_UP on the
    // shortest decimal repr) and DuckDB's (scaled-double rint) disagree —
    // but the recursion itself is bit-identical across engines, so the
    // unrounded doubles hash-match where the rounded ones can't.
    "q_holt" -> ((s, dir) =>
      SilverOps.holt(Tables.bars(s, dir))
        .select(col("ticker"), col("date"), col("close"),
          col("level"), col("trend"), col("forecast"))),

    // Holt-Winters ADDITIVE triple smoothing (level + trend + 5-slot
    // pseudo-weekly seasonal vector) — q_holt's doctrine extended: α=1/2,
    // β=γ=1/4 binary-exact, emitted RAW, the oracle pivots the seasonal
    // vector into 5 recursive-CTE columns with one CASE per slot.
    "q_holt_winters" -> ((s, dir) =>
      SilverOps.holtWinters(Tables.bars(s, dir))
        .select(col("ticker"), col("date"), col("close"), col("level"),
          col("trend"), col("seasonal"), col("forecast"))),

    // Forecast-accuracy metrics per ticker over the Holt one-step
    // forecasts: MAE, RMSE, sMAPE and MASE (scaled by the naive
    // lag-1 error), all from rows 2..n. Per-row error terms are doubles
    // from the shared recursion, summed as DECIMAL(38,12) so aggregation
    // order can't perturb the means (the q_logloss doctrine).
    "q_forecast_accuracy" -> ((s, dir) => {
      val dec = DecimalType(38, 12)
      val w = Window.partitionBy(col("ticker")).orderBy(col("date"))
      val base = SilverOps.holt(Tables.bars(s, dir))
        .withColumn("rn", row_number().over(w))
        .withColumn("prev_close", lag(col("close"), 1).over(w))
        .filter(col("rn") >= 2)
        .select(col("ticker"),
          abs(col("close") - col("forecast")).cast(dec).as("ae"),
          ((col("close") - col("forecast")) * (col("close") - col("forecast")))
            .cast(dec).as("se"),
          (abs(col("close") - col("forecast")) * 2.0 /
            (abs(col("close")) + abs(col("forecast")))).cast(dec).as("sm"),
          abs(col("close") - col("prev_close")).cast(dec).as("nae"))
      base.groupBy(col("ticker"))
        .agg(count(lit(1)).as("n"),
          sum(col("ae")).as("s_ae"), sum(col("se")).as("s_se"),
          sum(col("sm")).as("s_sm"), sum(col("nae")).as("s_nae"))
        .select(col("ticker"), col("n"),
          round(col("s_ae").cast("double") / col("n").cast("double"), 6)
            .as("mae"),
          round(sqrt(col("s_se").cast("double") / col("n").cast("double")), 6)
            .as("rmse"),
          round(col("s_sm").cast("double") / col("n").cast("double"), 6)
            .as("smape"),
          round(col("s_ae").cast("double") / col("s_nae").cast("double"), 6)
            .as("mase"))
    }),

    // Two-sided CUSUM change-point alarms — the recursion is pure BIGINT
    // cents, so no rounding doctrine is needed; thresholds sized to the
    // fixture's ~3e6-cent median daily move (k≈0.7σ, h≈3σ).
    "q_cusum" -> ((s, dir) =>
      SilverOps.cusum(Tables.bars(s, dir),
        driftCents = 2000000L, thresholdCents = 10000000L)),

    // W4 — volume MA(20) with floor cast + volume ratio.
    "q_volratio" -> ((s, dir) =>
      SilverOps.indicators(Tables.bars(s, dir))
        .select("ticker", "date", "volume", "volume_ma_20", "volume_ratio")),

    // Rolling extrema — min/max are non-invertible aggregates, so neither
    // the running-sum doctrine nor a sane sliding frame applies; these run
    // the O(rows) monotonic-deque fold (SilverOps.rollingExtrema).
    "q_stoch" -> ((s, dir) =>
      SilverOps.stochastic(Tables.bars(s, dir))
        .withColumn("pct_k", round(col("pct_k"), 6))
        .withColumn("pct_d", round(col("pct_d"), 6))),

    "q_donchian" -> ((s, dir) =>
      SilverOps.donchian(Tables.bars(s, dir))
        .select(col("ticker"), col("date"), col("close"),
          col("upper").as("ch_upper"), col("lower").as("ch_lower"),
          col("mid").as("ch_mid"),
          col("breakout_up"), col("breakout_down"))),

    // On-balance volume — signed cumulative BIGINT, pure running frame.
    "q_obv" -> ((s, dir) => SilverOps.obv(Tables.bars(s, dir))),

    // Ichimoku cloud — three deque windows in one fold + O(1) lag/lead
    // displacement; midpoints exact, no rounding.
    "q_ichimoku" -> ((s, dir) => SilverOps.ichimoku(Tables.bars(s, dir))),

    // Rolling median(15) via the dual-heap fold; odd n makes the median an
    // order statistic — selection, not arithmetic, exact cross-engine.
    "q_rolling_median" -> ((s, dir) =>
      SilverOps.rollingMedian(Tables.bars(s, dir), n = 15)),

    // Return series: simple/log daily returns + cumulative growth from
    // the series start — lag + one running-frame first_value, exact
    // divisions (log return rounded, the one transcendental).
    "q_returns" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("ticker").orderBy("date")
      val run = w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
      Tables.bars(s, dir).select(col("ticker"), col("date"), col("close"))
        .withColumn("prev", lag(col("close"), 1).over(w))
        .withColumn("pct_return", col("close") / col("prev") - 1.0)
        .withColumn("log_return", round(log(col("close") / col("prev")), 6))
        .withColumn("cum_growth", col("close") / first(col("close")).over(run))
        .drop("prev")
    }),

    // Trailing-20 Pearson correlation (close vs volume) from integer
    // running co-moments — exact cents-scaled sums make cum − lag(cum, 20)
    // bit-identical cross-engine (see SilverOps.rollingCorr).
    "q_rolling_corr" -> ((s, dir) =>
      SilverOps.rollingCorr(Tables.bars(s, dir))),

    // W5/W6+F4+F9 — anchored VWAP YTD/QTD + boolean signals.
    "q_vwap_signals" -> ((s, dir) =>
      GoldOps.vwapSignals(Tables.bars(s, dir))),

    // W7+A2 — Sunday-anchored weekly OHLCV roll-up (order-correct
    // first/last via min_by/max_by).
    "q_weekly_rollup" -> ((s, dir) =>
      SilverOps.rollup(Tables.bars(s, dir), "week")),

    // W8+A2 — monthly roll-up.
    "q_monthly_rollup" -> ((s, dir) =>
      SilverOps.rollup(Tables.bars(s, dir), "month")),

    // HVC — daily-grain high-volume closes (volume ≥ 3× MA20).
    "q_hvc_daily" -> ((s, dir) =>
      PatternOps.highVolumeCloses(SilverOps.indicators(Tables.bars(s, dir)))
        .select("ticker", "date", "close", "volume", "volume_ma_20", "volume_ratio")),

    // HVC at weekly grain — the indicator re-runs per timeframe, so the MA
    // is a 20-WEEK average (`metadata.json:71`, `silver/main.py:107-109`).
    "q_hvc_weekly" -> ((s, dir) =>
      PatternOps.highVolumeCloses(
        SilverOps.indicators(SilverOps.rollup(Tables.bars(s, dir), "week")),
        threshold = 2.0)
        .select("ticker", "date", "close", "volume", "volume_ma_20", "volume_ratio")),

    // W9+F12 — stair-stepping: consecutive ascending HVC islands (≥2 steps
    // here so the small fixtures yield rows; threshold is a parameter).
    "q_stairstep" -> ((s, dir) =>
      PatternOps.stairPatterns(
        PatternOps.highVolumeCloses(
          SilverOps.indicators(Tables.bars(s, dir)), threshold = 1.5),
        ascending = true, minSteps = 2)),

    // As-of join: each bar picks up the most recent split execution ≤ its
    // date (one shuffle; union + carry-forward window composition).
    "q_asof_join" -> ((s, dir) =>
      graft.operators.AsOfJoin.asOf(
        Tables.bars(s, dir).select("ticker", "date", "close"),
        syntheticSplits(s), Seq("ticker"),
        "date", "execution_date", Seq("split_from", "split_to"))
        .select(col("ticker"), col("date"), col("close"),
          col("split_from"), col("split_to"),
          col("matched_time").as("last_exec_date"))),

    // As-of with a match-staleness tolerance (Polars join_asof(tolerance)):
    // matches older than 90 days are nulled out. Oracle = ASOF join + the
    // same CASE nulling.
    "q_asof_tolerance" -> ((s, dir) =>
      graft.operators.AsOfJoin.asOfWithTolerance(
        Tables.bars(s, dir).select("ticker", "date", "close"),
        syntheticSplits(s), Seq("ticker"),
        "date", "execution_date", Seq("split_from", "split_to"),
        toleranceDays = 90)
        .select(col("ticker"), col("date"), col("close"),
          col("split_from"), col("split_to"),
          col("matched_time").as("last_exec_date"))),

    // Forward as-of: each bar picks up the EARLIEST split execution ≥ its
    // date. Oracle runs DuckDB's backward-only ASOF on negated day
    // numbers, which is the forward join exactly (equality included).
    "q_asof_forward" -> ((s, dir) =>
      graft.operators.AsOfJoin.asOfForward(
        Tables.bars(s, dir).select("ticker", "date", "close"),
        syntheticSplits(s), Seq("ticker"),
        "date", "execution_date", Seq("split_from", "split_to"))
        .select(col("ticker"), col("date"), col("close"),
          col("split_from"), col("split_to"),
          col("matched_time").as("next_exec_date"))),

    // Nearest as-of: both directional carries over ONE exchange, winner
    // by time distance, ties backward.
    "q_asof_nearest" -> ((s, dir) =>
      graft.operators.AsOfJoin.asOfNearest(
        Tables.bars(s, dir).select("ticker", "date", "close"),
        syntheticSplits(s), Seq("ticker"),
        "date", "execution_date", Seq("split_from", "split_to"))
        .select(col("ticker"), col("date"), col("close"),
          col("split_from"), col("split_to"),
          col("matched_time").as("nearest_exec_date"), col("matched_dir"))),

    // Falling-down-stairs + best-per-ticker ranking.
    "q_falling_best" -> ((s, dir) =>
      PatternOps.bestPatternPerTicker(
        PatternOps.stairPatterns(
          PatternOps.highVolumeCloses(
            SilverOps.indicators(Tables.bars(s, dir)), threshold = 1.5),
          ascending = false, minSteps = 2)))
  ) ++ indicatorQueries

  import org.apache.spark.sql.expressions.Window
  import org.apache.spark.sql.types.DecimalType

  /** Wilder-free technical indicators past the reference's SMA/ATR/volume
    * set: Bollinger bands, SMA-based RSI, drawdown-from-peak, and a Sharpe
    * ratio — each on the engine-exact numerics doctrine (integer cents /
    * micro-units through the sums; doubles only in identical final trees;
    * rolling sums as running cum − lag diffs, never sliding frames). */
  private def indicatorQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Bollinger(20, 2): mean ± 2 std of the trailing 20 closes, strict
    // (null until 20 rows). Sums over integer cents via the cum-diff
    // rewrite — exact, and O(1) per row where a sliding frame re-adds 20.
    "q_bollinger" -> ((s, dir) => {
      val w = Window.partitionBy(col("ticker")).orderBy(col("date"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val d38 = DecimalType(38, 0)
      val base = Tables.bars(s, dir)
        .withColumn("c", round(col("close") * 100).cast("long"))
        .withColumn("cum1", sum(col("c")).over(run))
        .withColumn("cum2", sum(col("c").cast(d38) * col("c")).over(run))
        .withColumn("rn", row_number().over(w))
      val s1 = (col("cum1") - coalesce(lag(col("cum1"), 20).over(w), lit(0L)))
        .cast("double")
      val s2 = (col("cum2") - coalesce(lag(col("cum2"), 20).over(w),
        lit(0).cast(d38))).cast("double")
      val mean = s1 / 20.0
      val sd = sqrt((s2 - s1 * s1 / 20.0) / 19.0)
      base.select(col("ticker"), col("date"), col("close"),
        when(col("rn") >= 20, round(mean / 100.0, 4)).as("bb_mid"),
        when(col("rn") >= 20, round((mean + lit(2.0) * sd) / 100.0, 4)).as("bb_up"),
        when(col("rn") >= 20, round((mean - lit(2.0) * sd) / 100.0, 4)).as("bb_dn"))
    }),

    // SMA-variant RSI(14) over cent diffs; a loss-free window → 100 by
    // convention on both engines (no inf-propagation dependence).
    "q_rsi" -> ((s, dir) => {
      val w = Window.partitionBy(col("ticker")).orderBy(col("date"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val base = Tables.bars(s, dir)
        .withColumn("c", round(col("close") * 100).cast("long"))
        .withColumn("dc", col("c") - lag(col("c"), 1).over(w))
        .withColumn("gain", greatest(col("dc"), lit(0L)))
        .withColumn("loss", greatest(-col("dc"), lit(0L)))
        .withColumn("cumg", sum(col("gain")).over(run))
        .withColumn("cuml", sum(col("loss")).over(run))
        .withColumn("rn", row_number().over(w))
      val g14 = col("cumg") - coalesce(lag(col("cumg"), 14).over(w), lit(0L))
      val l14 = col("cuml") - coalesce(lag(col("cuml"), 14).over(w), lit(0L))
      base.select(col("ticker"), col("date"), col("close"),
        when(col("rn") >= 15,
          when(l14 === 0L, lit(100.0))
            .otherwise(round(lit(100.0) - lit(100.0) /
              (lit(1.0) + g14.cast("double") / l14.cast("double")), 4)))
          .as("rsi_14"))
    }),

    // drawdown from the running peak — cummax is order-exact on doubles;
    // the division is one IEEE op shared by both engines.
    "q_drawdown" -> ((s, dir) => {
      val run = Window.partitionBy(col("ticker")).orderBy(col("date"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.bars(s, dir).select(col("ticker"), col("date"), col("close"),
        max(col("close")).over(run).as("peak"),
        round(col("close") / max(col("close")).over(run) - 1.0, 6)
          .as("drawdown"))
    }),

    // lag-1 autocorrelation of daily returns per ticker: Pearson r between
    // (r_t, r_{t-1}) from micro-unit integer power sums — the mean-reversion
    // probe, exact and order-independent through every aggregate.
    "q_autocorr" -> ((s, dir) => {
      val w = Window.partitionBy(col("ticker")).orderBy(col("date"))
      val d38 = DecimalType(38, 0)
      val r8 = round((col("close") / lag(col("close"), 1).over(w) - 1.0) * 1e8)
        .cast("long")
      val paired = Tables.bars(s, dir)
        .withColumn("x", r8)
        .withColumn("y", lag(col("x"), 1).over(w))
        .filter(col("x").isNotNull && col("y").isNotNull)
      val sums = paired.groupBy(col("ticker")).agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("x").cast(d38) * col("x")).cast("double").as("sxx"),
        sum(col("y").cast(d38) * col("y")).cast("double").as("syy"),
        sum(col("x").cast(d38) * col("y")).cast("double").as("sxy"))
      sums.select(col("ticker"), col("n").cast("long").as("n_pairs"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
           sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 4)
          .as("autocorr_1"))
    }),

    // deterministic mode: most frequent trade quantity per return flag —
    // counts ranked under a total order (count desc, value asc) so ties
    // cannot straddle engines (built-in mode() tiebreaks are unspecified).
    "q_mode" -> ((s, dir) => {
      val counts = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_quantity").cast("int").as("qty"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("cnt").desc, col("qty"))
      counts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("l_returnflag"), col("qty").as("mode_qty"), col("cnt"))
    }),

    // per-ticker Sharpe of daily returns: the return is one IEEE division,
    // then micro-unit (1e-8) integers through every sum so the moments are
    // order-independent and engine-identical.
    "q_sharpe" -> ((s, dir) => {
      val w = Window.partitionBy(col("ticker")).orderBy(col("date"))
      val d38 = DecimalType(38, 0)
      val r8 = round((col("close") / lag(col("close"), 1).over(w) - 1.0) * 1e8)
        .cast("long")
      val sums = Tables.bars(s, dir)
        .withColumn("r8", r8)
        .filter(col("r8").isNotNull)
        .groupBy(col("ticker"))
        .agg(count(lit(1)).cast("double").as("n"),
          sum(col("r8")).cast("double").as("s1"),
          sum(col("r8").cast(d38) * col("r8")).cast("double").as("s2"))
      sums.select(col("ticker"), col("n").cast("long").as("n_days"),
        round((col("s1") / col("n")) / 1e8, 8).as("mean_ret"),
        round((col("s1") / col("n")) /
          sqrt((col("s2") - col("s1") * col("s1") / col("n")) /
            (col("n") - 1.0)), 4).as("sharpe"))
    }),

    // Sortino ratio: mean return over DOWNSIDE deviation (target 0,
    // population form over all n days) — penalizes only losses where
    // Sharpe penalizes all variance. Same integer micro-unit returns and
    // decimal power sums as q_sharpe; null when no losing day exists.
    "q_sortino" -> ((s, dir) => {
      val w = Window.partitionBy(col("ticker")).orderBy(col("date"))
      val d38 = DecimalType(38, 0)
      val r8 = round((col("close") / lag(col("close"), 1).over(w) - 1.0) * 1e8)
        .cast("long")
      val d8 = when(col("r8") < 0, col("r8")).otherwise(lit(0L))
      val sums = Tables.bars(s, dir)
        .withColumn("r8", r8)
        .filter(col("r8").isNotNull)
        .groupBy(col("ticker"))
        .agg(count(lit(1)).cast("double").as("n"),
          sum(col("r8")).cast("double").as("s1"),
          sum(d8.cast(d38) * d8).cast("double").as("s2d"))
      sums.select(col("ticker"), col("n").cast("long").as("n_days"),
        round((col("s1") / col("n")) / 1e8, 8).as("mean_ret"),
        when(col("s2d") > 0.0,
          round((col("s1") / col("n")) / sqrt(col("s2d") / col("n")), 4))
          .as("sortino"))
    }),

    // CAPM beta vs an equal-weight market: the market return per date is the
    // mean of micro-unit integer returns — exact integer sum, ONE double
    // division, re-rounded to micro-units — so both the per-ticker x and the
    // per-date y flow through the covariance sums as integers. The tiny
    // per-date market table broadcasts back to the bars.
    "q_beta" -> ((s, dir) => {
      val w = Window.partitionBy(col("ticker")).orderBy(col("date"))
      val d38 = DecimalType(38, 0)
      val r = Tables.bars(s, dir)
        .withColumn("x",
          round((col("close") / lag(col("close"), 1).over(w) - 1.0) * 1e8)
            .cast("long"))
        .filter(col("x").isNotNull)
      val market = r.groupBy(col("date")).agg(
        round(sum(col("x")).cast("double") / count(lit(1))).cast("long")
          .as("m8"))
      val paired = r.join(broadcast(market), "date")
      val sums = paired.groupBy(col("ticker")).agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("m8")).cast("double").as("sy"),
        sum(col("m8").cast(d38) * col("m8")).cast("double").as("syy"),
        sum(col("x").cast(d38) * col("m8")).cast("double").as("sxy"))
      sums.select(col("ticker"), col("n").cast("long").as("n_days"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("syy") - col("sy") * col("sy")), 4).as("beta"))
    })
  )

  private def withBars(extra: String, body: String) =
    Tables.barsSql + (if (extra.nonEmpty) ",\n" + extra else "") + "\n" + body

  private[queries] def hvcCteSql(threshold: String): String = hvcSql(threshold)

  /** Island decomposition CTEs with a name suffix so ascending and
    * descending variants can coexist in one oracle query. */
  private[queries] def stairsCteSql(cmp: String, minSteps: Int,
                                    suffix: String = ""): String =
    stairsSql(cmp, minSteps)
      .replaceAll("\\bflagged\\b", s"flagged$suffix")
      .replaceAll("\\bbrk\\b", s"brk$suffix")
      .replaceAll("\\bisl\\b", s"isl$suffix")
      .replaceAll("\\bpat\\b", s"pat$suffix")

  /** HVC CTE at a given ratio threshold (shared by pattern oracles). */
  private def hvcSql(threshold: String) =
    s"""hvc AS (
       |  SELECT ticker, date, close, volume, volume_ma_20,
       |         CAST(volume AS DOUBLE) / CAST(volume_ma_20 AS DOUBLE) AS volume_ratio
       |  FROM ind
       |  WHERE volume_ma_20 IS NOT NULL AND volume_ma_20 > 0
       |    AND CAST(volume AS DOUBLE) / CAST(volume_ma_20 AS DOUBLE) >= $threshold
       |)""".stripMargin

  /** Island decomposition + per-pattern summary (direction parametrised). */
  private def stairsSql(cmp: String, minSteps: Int) =
    s"""flagged AS (
       |  SELECT *, LAG(close, 1) OVER (PARTITION BY ticker ORDER BY date) AS prev_close
       |  FROM hvc),
       |brk AS (
       |  SELECT *, CASE WHEN prev_close IS NULL OR NOT (close $cmp prev_close)
       |                 THEN 1 ELSE 0 END AS brk FROM flagged),
       |isl AS (
       |  SELECT *, SUM(brk) OVER (PARTITION BY ticker ORDER BY date
       |    ROWS UNBOUNDED PRECEDING) AS island FROM brk),
       |pat AS (
       |  SELECT ticker, COUNT(*) AS hvc_count,
       |    MIN(date) AS start_date, MAX(date) AS end_date,
       |    ARG_MIN(close, date) AS first_close, ARG_MAX(close, date) AS last_close,
       |    STRING_AGG(STRFTIME(date, '%Y-%m-%d'), ',' ORDER BY date) AS dates_str,
       |    STRING_AGG(CAST(CAST(close AS DECIMAL(18,2)) AS VARCHAR), ',' ORDER BY date) AS closes_str,
       |    (ARG_MAX(close, date) / ARG_MIN(close, date) - 1.0) * 100.0 AS gain_pct
       |  FROM isl GROUP BY ticker, island
       |  HAVING COUNT(*) >= $minSteps
       |)""".stripMargin

  def oracles: Map[String, String] = Map(
    "q_split_adjust" -> withBars(
      s"""$splitsSql,
         |factors AS (
         |  SELECT b.ticker, b.date, PRODUCT(
         |    CASE WHEN b.date < s.execution_date
         |         THEN s.split_from / s.split_to ELSE 1.0 END) AS adj_factor
         |  FROM bars b JOIN splits s ON b.ticker = s.ticker
         |  GROUP BY b.ticker, b.date
         |)""".stripMargin,
      """SELECT b.ticker, b.date,
        |  b.close * COALESCE(f.adj_factor, 1.0) AS close,
        |  CAST(FLOOR(b.volume / COALESCE(f.adj_factor, 1.0)) AS BIGINT) AS volume
        |FROM bars b LEFT JOIN factors f
        |  ON b.ticker = f.ticker AND b.date = f.date""".stripMargin),

    "q_asof_join" -> withBars(splitsSql,
      """SELECT b.ticker, b.date, b.close, s.split_from, s.split_to,
        |  s.execution_date AS last_exec_date
        |FROM bars b ASOF LEFT JOIN splits s
        |  ON b.ticker = s.ticker AND b.date >= s.execution_date""".stripMargin),

    "q_asof_tolerance" -> withBars(splitsSql,
      """SELECT b.ticker, b.date, b.close,
        |  CASE WHEN b.date - s.execution_date > 90 THEN NULL
        |       ELSE s.split_from END AS split_from,
        |  CASE WHEN b.date - s.execution_date > 90 THEN NULL
        |       ELSE s.split_to END AS split_to,
        |  CASE WHEN b.date - s.execution_date > 90 THEN NULL
        |       ELSE s.execution_date END AS last_exec_date
        |FROM bars b ASOF LEFT JOIN splits s
        |  ON b.ticker = s.ticker AND b.date >= s.execution_date""".stripMargin),

    "q_asof_nearest" -> withBars(
      s"""$splitsSql,
         |bk AS (
         |  SELECT b.ticker, b.date, b.close, s.split_from AS bf,
         |         s.split_to AS bt, s.execution_date AS bd
         |  FROM bars b ASOF LEFT JOIN splits s
         |    ON b.ticker = s.ticker AND b.date >= s.execution_date),
         |fw AS (
         |  SELECT b.ticker, b.date, s.split_from AS ff, s.split_to AS ft,
         |         s.execution_date AS fd
         |  FROM (SELECT *, -(date - DATE '1970-01-01') AS nd FROM bars) b
         |  ASOF LEFT JOIN
         |       (SELECT *, -(execution_date - DATE '1970-01-01') AS nd
         |        FROM splits) s
         |    ON b.ticker = s.ticker AND b.nd >= s.nd)""".stripMargin,
      """SELECT k.ticker, k.date, k.close,
        |  CASE WHEN takeb THEN k.bf ELSE f.ff END AS split_from,
        |  CASE WHEN takeb THEN k.bt ELSE f.ft END AS split_to,
        |  CASE WHEN takeb THEN k.bd ELSE f.fd END AS nearest_exec_date,
        |  CASE WHEN takeb THEN 'backward'
        |       WHEN f.fd IS NOT NULL THEN 'forward' END AS matched_dir
        |FROM bk k JOIN fw f ON k.ticker = f.ticker AND k.date = f.date,
        |LATERAL (SELECT k.bd IS NOT NULL AND (f.fd IS NULL
        |           OR (k.date - k.bd) <= (f.fd - k.date)) AS takeb) c""".stripMargin),

    "q_asof_forward" -> withBars(splitsSql,
      """SELECT b.ticker, b.date, b.close, s.split_from, s.split_to,
        |  s.execution_date AS next_exec_date
        |FROM (SELECT *, -(date - DATE '1970-01-01') AS nd FROM bars) b
        |ASOF LEFT JOIN
        |     (SELECT *, -(execution_date - DATE '1970-01-01') AS nd
        |      FROM splits) s
        |  ON b.ticker = s.ticker AND b.nd >= s.nd""".stripMargin),

    "q_sma" -> withBars(indSql,
      "SELECT ticker, date, close, prev_close, sma_20, sma_50 FROM ind"),

    // the EMA recursion replayed as a recursive CTE: row n joins the
    // frontier row n-1 per ticker — same seed, same 0.25/0.75 literals,
    // same operation order as the Spark fold
    "q_ema" -> (Tables.barsSql.replace("WITH bars", "WITH RECURSIVE bars") +
      """,
        |o AS (SELECT ticker, date, close,
        |        ROW_NUMBER() OVER (PARTITION BY ticker ORDER BY date) AS rn
        |      FROM bars),
        |r AS (
        |  SELECT ticker, date, close, rn, close AS ema FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.ticker, o.date, o.close, o.rn,
        |    0.25 * o.close + 0.75 * r.ema
        |  FROM o JOIN r ON o.ticker = r.ticker AND o.rn = r.rn + 1)
        |SELECT ticker, date, close, ema FROM r""".stripMargin),

    // MACD recursion: the CTE frontier carries all three accumulators
    // (fast, slow, signal), exactly like the Spark fold's struct state
    "q_macd" -> (Tables.barsSql.replace("WITH bars", "WITH RECURSIVE bars") +
      """,
        |o AS (SELECT ticker, date, close,
        |        ROW_NUMBER() OVER (PARTITION BY ticker ORDER BY date) AS rn
        |      FROM bars),
        |r AS (
        |  SELECT ticker, date, close, rn,
        |    close AS ef, close AS es,
        |    close - close AS macd, close - close AS sig
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.ticker, o.date, o.close, o.rn, nf, ns,
        |    nf - ns, 0.25 * (nf - ns) + 0.75 * r.sig
        |  FROM o JOIN r ON o.ticker = r.ticker AND o.rn = r.rn + 1,
        |  LATERAL (SELECT 0.1875 * o.close + 0.8125 * r.ef AS nf,
        |                  0.0625 * o.close + 0.9375 * r.es AS ns) c)
        |SELECT ticker, date, close, macd,
        |  sig AS signal, macd - sig AS histogram
        |FROM r""".stripMargin),

    // KAMA recursion: integer-cents deltas make the trailing volatility
    // sum exact; the frontier carries kama; same constants and IEEE order
    // as the fold (scr² written as scr*scr — POWER may not be a plain
    // product in every engine)
    "q_kama" -> (Tables.barsSql.replace("WITH bars", "WITH RECURSIVE bars") +
      """,
        |o0 AS (SELECT ticker, date, close,
        |         CAST(ROUND(close * 100) AS BIGINT) AS cents,
        |         ROW_NUMBER() OVER (PARTITION BY ticker ORDER BY date) AS rn
        |       FROM bars),
        |od AS (SELECT ticker, date, close, cents, rn,
        |         ABS(cents - LAG(cents, 1) OVER wt) AS delta,
        |         ABS(cents - LAG(cents, 10) OVER wt) AS chg
        |       FROM o0 WINDOW wt AS (PARTITION BY ticker ORDER BY date)),
        |ov AS (SELECT *, SUM(delta) OVER (PARTITION BY ticker ORDER BY date
        |         ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS vol
        |       FROM od),
        |r AS (
        |  SELECT ticker, date, close, rn, CAST(close AS DOUBLE) AS kama
        |  FROM ov WHERE rn = 10
        |  UNION ALL
        |  SELECT o.ticker, o.date, o.close, o.rn,
        |    r.kama + scr * scr * (o.close - r.kama)
        |  FROM ov o JOIN r ON o.ticker = r.ticker AND o.rn = r.rn + 1,
        |  LATERAL (SELECT (CASE WHEN o.vol = 0 THEN 0.0
        |                        ELSE CAST(o.chg AS DOUBLE) / CAST(o.vol AS DOUBLE)
        |                   END) * 0.5625 + 0.0625 AS scr) c)
        |SELECT o0.ticker, o0.date, o0.close, r.kama AS kama
        |FROM o0 LEFT JOIN r ON o0.ticker = r.ticker AND o0.rn = r.rn""".stripMargin),

    // Holt recursion: frontier carries (level, trend); the emitted
    // forecast is the PRE-update level+trend — same IEEE order as the fold
    "q_holt" -> (Tables.barsSql.replace("WITH bars", "WITH RECURSIVE bars") +
      """,
        |o AS (SELECT ticker, date, close,
        |        ROW_NUMBER() OVER (PARTITION BY ticker ORDER BY date) AS rn
        |      FROM bars),
        |r AS (
        |  SELECT ticker, date, close, rn,
        |    close AS lev, close - close AS tr, close AS fc
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.ticker, o.date, o.close, o.rn,
        |    c.nl, 0.25 * (c.nl - r.lev) + 0.75 * r.tr, r.lev + r.tr
        |  FROM o JOIN r ON o.ticker = r.ticker AND o.rn = r.rn + 1,
        |  LATERAL (SELECT 0.5 * o.close + 0.5 * (r.lev + r.tr) AS nl) c)
        |SELECT ticker, date, close, lev AS level, tr AS trend, fc AS forecast
        |FROM r""".stripMargin),

    // Holt-Winters recursion: the 5-slot seasonal vector rides along as
    // five pivoted columns; chained LATERALs sequence the dependent
    // sub-expressions exactly like the Scala fold (sold → nl → nt/ns).
    "q_holt_winters" -> (Tables.barsSql
      .replace("WITH bars", "WITH RECURSIVE bars") +
      """,
        |o AS (SELECT ticker, date, close,
        |        ROW_NUMBER() OVER (PARTITION BY ticker ORDER BY date) AS rn
        |      FROM bars),
        |r AS (
        |  SELECT ticker, date, close, rn,
        |    close AS lev, close - close AS tr, close - close AS sv,
        |    close AS fc,
        |    close - close AS s0, close - close AS s1, close - close AS s2,
        |    close - close AS s3, close - close AS s4
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.ticker, o.date, o.close, o.rn,
        |    c2.nl, c2.nt, c2.ns,
        |    r.lev + r.tr + c1.sold,
        |    CASE WHEN c1.slot = 0 THEN c2.ns ELSE r.s0 END,
        |    CASE WHEN c1.slot = 1 THEN c2.ns ELSE r.s1 END,
        |    CASE WHEN c1.slot = 2 THEN c2.ns ELSE r.s2 END,
        |    CASE WHEN c1.slot = 3 THEN c2.ns ELSE r.s3 END,
        |    CASE WHEN c1.slot = 4 THEN c2.ns ELSE r.s4 END
        |  FROM o JOIN r ON o.ticker = r.ticker AND o.rn = r.rn + 1,
        |  LATERAL (SELECT (o.rn - 1) % 5 AS slot,
        |    CASE (o.rn - 1) % 5 WHEN 0 THEN r.s0 WHEN 1 THEN r.s1
        |      WHEN 2 THEN r.s2 WHEN 3 THEN r.s3 ELSE r.s4 END AS sold) c1,
        |  LATERAL (SELECT
        |    0.5 * (o.close - c1.sold) + 0.5 * (r.lev + r.tr) AS nl,
        |    0.25 * ((0.5 * (o.close - c1.sold) + 0.5 * (r.lev + r.tr))
        |      - r.lev) + 0.75 * r.tr AS nt,
        |    0.25 * (o.close
        |      - (0.5 * (o.close - c1.sold) + 0.5 * (r.lev + r.tr)))
        |      + 0.75 * c1.sold AS ns) c2)
        |SELECT ticker, date, close, lev AS level, tr AS trend,
        |  sv AS seasonal, fc AS forecast
        |FROM r""".stripMargin),

    // Forecast accuracy re-runs the q_holt recursion, lags the close for
    // the naive MASE scale, and aggregates DECIMAL(38,12) error terms.
    "q_forecast_accuracy" -> (Tables.barsSql
      .replace("WITH bars", "WITH RECURSIVE bars") +
      """,
        |o AS (SELECT ticker, date, close,
        |        ROW_NUMBER() OVER (PARTITION BY ticker ORDER BY date) AS rn
        |      FROM bars),
        |r AS (
        |  SELECT ticker, date, close, rn,
        |    close AS lev, close - close AS tr, close AS fc
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.ticker, o.date, o.close, o.rn,
        |    c.nl, 0.25 * (c.nl - r.lev) + 0.75 * r.tr, r.lev + r.tr
        |  FROM o JOIN r ON o.ticker = r.ticker AND o.rn = r.rn + 1,
        |  LATERAL (SELECT 0.5 * o.close + 0.5 * (r.lev + r.tr) AS nl) c),
        |e AS (
        |  SELECT ticker, rn,
        |    CAST(ABS(close - fc) AS DECIMAL(38,12)) AS ae,
        |    CAST((close - fc) * (close - fc) AS DECIMAL(38,12)) AS se,
        |    CAST(ABS(close - fc) * 2.0 / (ABS(close) + ABS(fc))
        |      AS DECIMAL(38,12)) AS sm,
        |    CAST(ABS(close - LAG(close) OVER (PARTITION BY ticker
        |      ORDER BY date)) AS DECIMAL(38,12)) AS nae
        |  FROM r)
        |SELECT ticker, COUNT(*) AS n,
        |  ROUND(CAST(SUM(ae) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS mae,
        |  ROUND(SQRT(CAST(SUM(se) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)), 6)
        |    AS rmse,
        |  ROUND(CAST(SUM(sm) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS smape,
        |  ROUND(CAST(SUM(ae) AS DOUBLE) / CAST(SUM(nae) AS DOUBLE), 6)
        |    AS mase
        |FROM e WHERE rn >= 2 GROUP BY ticker""".stripMargin),

    // CUSUM recursion: the frontier carries the post-reset (sp, sn) state;
    // emitted s_pos/s_neg are the pre-reset values. All-BIGINT arithmetic —
    // bit-exact with no rounding doctrine.
    "q_cusum" -> (Tables.barsSql.replace("WITH bars", "WITH RECURSIVE bars") +
      """,
        |o AS (SELECT ticker, date, close,
        |        CAST(ROUND(close * 100) AS BIGINT) AS cents,
        |        ROW_NUMBER() OVER (PARTITION BY ticker ORDER BY date) AS rn
        |      FROM bars),
        |r AS (
        |  SELECT ticker, date, close, cents, rn,
        |    CAST(0 AS BIGINT) AS out_sp, CAST(0 AS BIGINT) AS out_sn,
        |    0 AS alarm, CAST(0 AS BIGINT) AS sp, CAST(0 AS BIGINT) AS sn
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.ticker, o.date, o.close, o.cents, o.rn,
        |    c.nsp, c.nsn,
        |    CASE WHEN c.nsp > 10000000 OR c.nsn > 10000000 THEN 1 ELSE 0 END,
        |    CASE WHEN c.nsp > 10000000 OR c.nsn > 10000000 THEN 0 ELSE c.nsp END,
        |    CASE WHEN c.nsp > 10000000 OR c.nsn > 10000000 THEN 0 ELSE c.nsn END
        |  FROM o JOIN r ON o.ticker = r.ticker AND o.rn = r.rn + 1,
        |  LATERAL (SELECT
        |    GREATEST(CAST(0 AS BIGINT), r.sp + (o.cents - r.cents) - 2000000) AS nsp,
        |    GREATEST(CAST(0 AS BIGINT), r.sn - (o.cents - r.cents) - 2000000) AS nsn) c)
        |SELECT ticker, date, close, out_sp AS s_pos, out_sn AS s_neg, alarm
        |FROM r""".stripMargin),

    // Wilder RSI recursion: the frontier carries prev close + both
    // smoothed averages; same α literals and IEEE order as the fold
    "q_rsi_wilder" -> (Tables.barsSql.replace("WITH bars",
      "WITH RECURSIVE bars") +
      """,
        |o AS (SELECT ticker, date, close,
        |        ROW_NUMBER() OVER (PARTITION BY ticker ORDER BY date) AS rn
        |      FROM bars),
        |r AS (
        |  SELECT ticker, date, close, rn,
        |    CAST(0 AS DOUBLE) AS ag, CAST(0 AS DOUBLE) AS al
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.ticker, o.date, o.close, o.rn,
        |    0.0625 * GREATEST(o.close - r.close, 0) + 0.9375 * r.ag,
        |    0.0625 * GREATEST(r.close - o.close, 0) + 0.9375 * r.al
        |  FROM o JOIN r ON o.ticker = r.ticker AND o.rn = r.rn + 1)
        |SELECT ticker, date, close,
        |  CASE WHEN ag = 0 AND al = 0 THEN NULL
        |       WHEN al = 0 THEN 100
        |       ELSE 100 - 100 / (1 + ag / al) END AS rsi_wilder
        |FROM r""".stripMargin),

    "q_atr" -> withBars(
      """tr AS (
        |  SELECT ticker, date,
        |    LAG(close, 1) OVER wt AS prev_close, high, low
        |  FROM bars WINDOW wt AS (PARTITION BY ticker ORDER BY date)),
        |trv AS (
        |  SELECT ticker, date,
        |    CASE WHEN prev_close IS NULL THEN high - low
        |         ELSE GREATEST(high - low, ABS(high - prev_close), ABS(low - prev_close))
        |    END AS true_range
        |  FROM tr)""".stripMargin,
      """SELECT ticker, date, true_range,
        |  CASE WHEN COUNT(true_range) OVER w14 = 14
        |       THEN CAST(SUM(CAST(true_range AS DECIMAL(18,6))) OVER w14 AS DOUBLE) / 14
        |  END AS atr_14
        |FROM trv
        |WINDOW w14 AS (PARTITION BY ticker ORDER BY date
        |  ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)""".stripMargin),

    "q_volratio" -> withBars(indSql,
      """SELECT ticker, date, volume, volume_ma_20,
        |  CASE WHEN volume_ma_20 IS NOT NULL AND volume_ma_20 > 0
        |       THEN CAST(volume AS DOUBLE) / CAST(volume_ma_20 AS DOUBLE) END AS volume_ratio
        |FROM ind""".stripMargin),

    // sliding MIN/MAX frames are fine for the ORACLE (DuckDB-only); the
    // Spark side runs the deque fold precisely to avoid that shape
    "q_stoch" -> withBars(
      """ext AS (
        |  SELECT ticker, date, close,
        |    CASE WHEN COUNT(*) OVER w14 = 14 THEN MIN(low)  OVER w14 END AS mn,
        |    CASE WHEN COUNT(*) OVER w14 = 14 THEN MAX(high) OVER w14 END AS mx
        |  FROM bars
        |  WINDOW w14 AS (PARTITION BY ticker ORDER BY date
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
        |k AS (
        |  SELECT ticker, date, close,
        |    CASE WHEN mx > mn THEN 100.0 * (close - mn) / (mx - mn) END AS pct_k
        |  FROM ext)""".stripMargin,
      """SELECT ticker, date, close, ROUND(pct_k, 6) AS pct_k,
        |  ROUND((pct_k + LAG(pct_k, 1) OVER wt + LAG(pct_k, 2) OVER wt) / 3.0, 6) AS pct_d
        |FROM k WINDOW wt AS (PARTITION BY ticker ORDER BY date)""".stripMargin),

    "q_donchian" -> withBars(
      """ext AS (
        |  SELECT ticker, date, close,
        |    CASE WHEN COUNT(*) OVER w20 = 20 THEN MAX(high) OVER w20 END AS mx,
        |    CASE WHEN COUNT(*) OVER w20 = 20 THEN MIN(low)  OVER w20 END AS mn
        |  FROM bars
        |  WINDOW w20 AS (PARTITION BY ticker ORDER BY date
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))""".stripMargin,
      """SELECT ticker, date, close, mx AS ch_upper, mn AS ch_lower,
        |  (mx + mn) / 2.0 AS ch_mid,
        |  close > LAG(mx, 1) OVER wt AS breakout_up,
        |  close < LAG(mn, 1) OVER wt AS breakout_down
        |FROM ext WINDOW wt AS (PARTITION BY ticker ORDER BY date)""".stripMargin),

    "q_obv" -> withBars(
      """prevs AS (
        |  SELECT ticker, date, close, volume,
        |    LAG(close, 1) OVER (PARTITION BY ticker ORDER BY date) AS prev_close
        |  FROM bars)""".stripMargin,
      """SELECT ticker, date, close,
        |  CAST(SUM(CASE WHEN prev_close IS NULL OR close = prev_close THEN 0
        |                WHEN close > prev_close THEN volume ELSE -volume END)
        |    OVER (PARTITION BY ticker ORDER BY date ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS obv
        |FROM prevs""".stripMargin),

    "q_ichimoku" -> withBars(
      """ext AS (
        |  SELECT ticker, date, close,
        |    CASE WHEN COUNT(*) OVER w9 = 9
        |         THEN (MAX(high) OVER w9 + MIN(low) OVER w9) / 2.0 END AS tenkan,
        |    CASE WHEN COUNT(*) OVER w26 = 26
        |         THEN (MAX(high) OVER w26 + MIN(low) OVER w26) / 2.0 END AS kijun,
        |    CASE WHEN COUNT(*) OVER w52 = 52
        |         THEN (MAX(high) OVER w52 + MIN(low) OVER w52) / 2.0 END AS sb0
        |  FROM bars
        |  WINDOW
        |    w9  AS (PARTITION BY ticker ORDER BY date ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
        |    w26 AS (PARTITION BY ticker ORDER BY date ROWS BETWEEN 25 PRECEDING AND CURRENT ROW),
        |    w52 AS (PARTITION BY ticker ORDER BY date ROWS BETWEEN 51 PRECEDING AND CURRENT ROW))""".stripMargin,
      """SELECT ticker, date, close, tenkan, kijun,
        |  LAG((tenkan + kijun) / 2.0, 26) OVER wt AS senkou_a,
        |  LAG(sb0, 26) OVER wt AS senkou_b,
        |  LEAD(close, 26) OVER wt AS chikou
        |FROM ext WINDOW wt AS (PARTITION BY ticker ORDER BY date)""".stripMargin),

    "q_returns" -> withBars("",
      """SELECT ticker, date, close,
        |  close / LAG(close, 1) OVER wt - 1.0 AS pct_return,
        |  ROUND(LN(close / LAG(close, 1) OVER wt), 6) AS log_return,
        |  close / FIRST_VALUE(close) OVER (PARTITION BY ticker ORDER BY date
        |    ROWS UNBOUNDED PRECEDING) AS cum_growth
        |FROM bars WINDOW wt AS (PARTITION BY ticker ORDER BY date)""".stripMargin),

    "q_rolling_median" -> withBars("",
      """SELECT ticker, date, close,
        |  CASE WHEN COUNT(*) OVER w15 = 15
        |       THEN MEDIAN(close) OVER w15 END AS median_15
        |FROM bars
        |WINDOW w15 AS (PARTITION BY ticker ORDER BY date
        |  ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)""".stripMargin),

    // integer co-moment sums (HUGEINT-exact in DuckDB, DECIMAL(38,0) in
    // Spark) → identical doubles into the identical-association formula
    "q_rolling_corr" -> withBars(
      """ints AS (
        |  SELECT ticker, date,
        |    CAST(ROUND(close * 100) AS BIGINT) AS xc, volume AS yc
        |  FROM bars),
        |cums AS (
        |  SELECT ticker, date,
        |    SUM(xc) OVER run AS cx, SUM(yc) OVER run AS cy,
        |    SUM(CAST(xc AS HUGEINT) * yc) OVER run AS cxy,
        |    SUM(CAST(xc AS HUGEINT) * xc) OVER run AS cxx,
        |    SUM(CAST(yc AS HUGEINT) * yc) OVER run AS cyy,
        |    COUNT(*) OVER run AS cn
        |  FROM ints
        |  WINDOW run AS (PARTITION BY ticker ORDER BY date
        |    ROWS UNBOUNDED PRECEDING)),
        |tr AS (
        |  SELECT ticker, date,
        |    CAST(cx  - COALESCE(LAG(cx,  20) OVER wt, 0) AS DOUBLE) AS sx,
        |    CAST(cy  - COALESCE(LAG(cy,  20) OVER wt, 0) AS DOUBLE) AS sy,
        |    CAST(cxy - COALESCE(LAG(cxy, 20) OVER wt, 0) AS DOUBLE) AS sxy,
        |    CAST(cxx - COALESCE(LAG(cxx, 20) OVER wt, 0) AS DOUBLE) AS sxx,
        |    CAST(cyy - COALESCE(LAG(cyy, 20) OVER wt, 0) AS DOUBLE) AS syy,
        |    cn - COALESCE(LAG(cn, 20) OVER wt, 0) AS nn
        |  FROM cums WINDOW wt AS (PARTITION BY ticker ORDER BY date))""".stripMargin,
      """SELECT ticker, date,
        |  CASE WHEN nn = 20 AND 20.0 * sxx - sx * sx > 0.0
        |            AND 20.0 * syy - sy * sy > 0.0
        |       THEN ROUND((20.0 * sxy - sx * sy) /
        |            SQRT((20.0 * sxx - sx * sx) * (20.0 * syy - sy * sy)), 6)
        |  END AS corr_n
        |FROM tr""".stripMargin),

    "q_vwap_signals" -> withBars(
      """base AS (
        |  SELECT ticker, date, close, volume,
        |    CAST(YEAR(date) AS INTEGER) AS year,
        |    CAST(QUARTER(date) AS INTEGER) AS quarter,
        |    CAST(close AS DECIMAL(18,2)) * volume AS pv
        |  FROM bars WHERE close IS NOT NULL AND volume > 0),
        |cums AS (
        |  SELECT *,
        |    SUM(pv) OVER wy AS cum_pv_ytd, SUM(volume) OVER wy AS cum_vol_ytd,
        |    SUM(pv) OVER wq AS cum_pv_qtd, SUM(volume) OVER wq AS cum_vol_qtd
        |  FROM base
        |  WINDOW
        |    wy AS (PARTITION BY ticker, year ORDER BY date ROWS UNBOUNDED PRECEDING),
        |    wq AS (PARTITION BY ticker, year, quarter ORDER BY date ROWS UNBOUNDED PRECEDING))""".stripMargin,
      """SELECT ticker, date, year, quarter, close, volume,
        |  CAST(cum_pv_ytd AS DOUBLE) / CAST(cum_vol_ytd AS DOUBLE) AS ytd_vwap,
        |  CAST(cum_pv_qtd AS DOUBLE) / CAST(cum_vol_qtd AS DOUBLE) AS qtd_vwap,
        |  close > CAST(cum_pv_ytd AS DOUBLE) / CAST(cum_vol_ytd AS DOUBLE) AS above_ytd_vwap,
        |  close > CAST(cum_pv_qtd AS DOUBLE) / CAST(cum_vol_qtd AS DOUBLE) AS above_qtd_vwap,
        |  close > CAST(cum_pv_ytd AS DOUBLE) / CAST(cum_vol_ytd AS DOUBLE)
        |    AND close > CAST(cum_pv_qtd AS DOUBLE) / CAST(cum_vol_qtd AS DOUBLE) AS above_both
        |FROM cums""".stripMargin),

    "q_weekly_rollup" -> withBars("",
      """SELECT ticker, date - CAST(DAYOFWEEK(date) AS INTEGER) AS date,
        |  ARG_MIN(open, date) AS open, MAX(high) AS high, MIN(low) AS low,
        |  ARG_MAX(close, date) AS close,
        |  CAST(SUM(volume) AS BIGINT) AS volume,
        |  CAST(SUM(transactions) AS BIGINT) AS transactions
        |FROM bars GROUP BY 1, 2""".stripMargin),

    "q_monthly_rollup" -> withBars("",
      """SELECT ticker, CAST(DATE_TRUNC('month', date) AS DATE) AS date,
        |  ARG_MIN(open, date) AS open, MAX(high) AS high, MIN(low) AS low,
        |  ARG_MAX(close, date) AS close,
        |  CAST(SUM(volume) AS BIGINT) AS volume,
        |  CAST(SUM(transactions) AS BIGINT) AS transactions
        |FROM bars GROUP BY 1, 2""".stripMargin),

    "q_hvc_daily" -> withBars(indSql + ",\n" + hvcSql("3.0"),
      "SELECT ticker, date, close, volume, volume_ma_20, volume_ratio FROM hvc"),

    "q_hvc_weekly" -> withBars(
      weeklyCteSql + ",\n" + indCteSqlFor("wk") + ",\n" + hvcSql("2.0"),
      "SELECT ticker, date, close, volume, volume_ma_20, volume_ratio FROM hvc"),

    "q_stairstep" -> withBars(
      indSql + ",\n" + hvcSql("1.5") + ",\n" + stairsSql(">", 2),
      """SELECT ticker, hvc_count, start_date, end_date, first_close, last_close,
        |  dates_str, closes_str, gain_pct FROM pat""".stripMargin),

    "q_falling_best" -> withBars(
      indSql + ",\n" + hvcSql("1.5") + ",\n" + stairsSql("<", 2),
      """SELECT ticker, hvc_count, start_date, end_date, first_close, last_close,
        |  dates_str, closes_str, gain_pct FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY ticker
        |    ORDER BY hvc_count DESC, end_date DESC, start_date DESC) AS rn
        |  FROM pat) WHERE rn = 1""".stripMargin),

    "q_bollinger" -> withBars(
      """cents AS (
        |  SELECT ticker, date, close,
        |    CAST(ROUND(close * 100) AS BIGINT) AS c,
        |    ROW_NUMBER() OVER w AS rn,
        |    CAST(SUM(CAST(ROUND(close * 100) AS BIGINT)) OVER w20 AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(CAST(ROUND(close * 100) AS BIGINT) AS HUGEINT)
        |         * CAST(ROUND(close * 100) AS BIGINT)) OVER w20 AS DOUBLE) AS s2
        |  FROM bars
        |  WINDOW w AS (PARTITION BY ticker ORDER BY date),
        |         w20 AS (PARTITION BY ticker ORDER BY date
        |                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))""".stripMargin,
      """SELECT ticker, date, close,
        |  CASE WHEN rn >= 20 THEN ROUND((s1 / 20.0) / 100.0, 4) END AS bb_mid,
        |  CASE WHEN rn >= 20 THEN ROUND((s1 / 20.0 +
        |    2.0 * SQRT((s2 - s1 * s1 / 20.0) / 19.0)) / 100.0, 4) END AS bb_up,
        |  CASE WHEN rn >= 20 THEN ROUND((s1 / 20.0 -
        |    2.0 * SQRT((s2 - s1 * s1 / 20.0) / 19.0)) / 100.0, 4) END AS bb_dn
        |FROM cents""".stripMargin),

    "q_rsi" -> withBars(
      """cents AS (
        |  SELECT ticker, date, close,
        |    CAST(ROUND(close * 100) AS BIGINT)
        |      - LAG(CAST(ROUND(close * 100) AS BIGINT), 1)
        |        OVER (PARTITION BY ticker ORDER BY date) AS dc,
        |    ROW_NUMBER() OVER (PARTITION BY ticker ORDER BY date) AS rn
        |  FROM bars),
        |gl AS (
        |  SELECT *, GREATEST(dc, 0) AS gain, GREATEST(-dc, 0) AS loss
        |  FROM cents),
        |sums AS (
        |  SELECT ticker, date, close, rn,
        |    CAST(SUM(gain) OVER w14 AS BIGINT) AS g14,
        |    CAST(SUM(loss) OVER w14 AS BIGINT) AS l14
        |  FROM gl
        |  WINDOW w14 AS (PARTITION BY ticker ORDER BY date
        |                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))""".stripMargin,
      """SELECT ticker, date, close,
        |  CASE WHEN rn >= 15 THEN
        |    CASE WHEN l14 = 0 THEN 100.0
        |         ELSE ROUND(100.0 - 100.0 /
        |           (1.0 + CAST(g14 AS DOUBLE) / CAST(l14 AS DOUBLE)), 4) END
        |  END AS rsi_14
        |FROM sums""".stripMargin),

    "q_drawdown" -> withBars("",
      """SELECT ticker, date, close,
        |  MAX(close) OVER w AS peak,
        |  ROUND(close / MAX(close) OVER w - 1.0, 6) AS drawdown
        |FROM bars
        |WINDOW w AS (PARTITION BY ticker ORDER BY date
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin),

    "q_autocorr" -> withBars(
      """r AS (
        |  SELECT ticker, date,
        |    CAST(ROUND((close / LAG(close, 1)
        |      OVER (PARTITION BY ticker ORDER BY date) - 1.0) * 1e8) AS BIGINT) AS x
        |  FROM bars),
        |p AS (
        |  SELECT ticker, x,
        |    LAG(x, 1) OVER (PARTITION BY ticker ORDER BY date) AS y
        |  FROM r),
        |sums AS (
        |  SELECT ticker, CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy
        |  FROM p WHERE x IS NOT NULL AND y IS NOT NULL GROUP BY ticker)""".stripMargin,
      """SELECT ticker, CAST(n AS BIGINT) AS n_pairs,
        |  ROUND((n * sxy - sx * sy) /
        |    (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)), 4) AS autocorr_1
        |FROM sums""".stripMargin),

    "q_mode" ->
      ("""WITH counts AS (
        |  SELECT l_returnflag, CAST(l_quantity AS INTEGER) AS qty,
        |    COUNT(*) AS cnt
        |  FROM lineitem GROUP BY 1, 2),
        |r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |    ORDER BY cnt DESC, qty) AS rn
        |  FROM counts)
        |SELECT l_returnflag, qty AS mode_qty, cnt FROM r WHERE rn = 1""".stripMargin),

    "q_sharpe" -> withBars(
      """r AS (
        |  SELECT ticker,
        |    CAST(ROUND((close / LAG(close, 1)
        |      OVER (PARTITION BY ticker ORDER BY date) - 1.0) * 1e8) AS BIGINT) AS r8
        |  FROM bars),
        |sums AS (
        |  SELECT ticker, CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(r8) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(r8 AS HUGEINT) * r8) AS DOUBLE) AS s2
        |  FROM r WHERE r8 IS NOT NULL GROUP BY ticker)""".stripMargin,
      """SELECT ticker, CAST(n AS BIGINT) AS n_days,
        |  ROUND((s1 / n) / 1e8, 8) AS mean_ret,
        |  ROUND((s1 / n) / SQRT((s2 - s1 * s1 / n) / (n - 1.0)), 4) AS sharpe
        |FROM sums""".stripMargin),

    "q_sortino" -> withBars(
      """r AS (
        |  SELECT ticker,
        |    CAST(ROUND((close / LAG(close, 1)
        |      OVER (PARTITION BY ticker ORDER BY date) - 1.0) * 1e8) AS BIGINT) AS r8
        |  FROM bars),
        |sums AS (
        |  SELECT ticker, CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(r8) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(CASE WHEN r8 < 0 THEN r8 ELSE 0 END AS HUGEINT)
        |      * CASE WHEN r8 < 0 THEN r8 ELSE 0 END) AS DOUBLE) AS s2d
        |  FROM r WHERE r8 IS NOT NULL GROUP BY ticker)""".stripMargin,
      """SELECT ticker, CAST(n AS BIGINT) AS n_days,
        |  ROUND((s1 / n) / 1e8, 8) AS mean_ret,
        |  CASE WHEN s2d > 0.0
        |       THEN ROUND((s1 / n) / SQRT(s2d / n), 4) END AS sortino
        |FROM sums""".stripMargin),

    "q_beta" -> withBars(
      """r AS (
        |  SELECT ticker, date,
        |    CAST(ROUND((close / LAG(close, 1)
        |      OVER (PARTITION BY ticker ORDER BY date) - 1.0) * 1e8) AS BIGINT) AS x
        |  FROM bars
        |  QUALIFY x IS NOT NULL),
        |market AS (
        |  SELECT date,
        |    CAST(ROUND(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m8
        |  FROM r GROUP BY date),
        |sums AS (
        |  SELECT r.ticker, CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(r.x) AS DOUBLE) AS sx,
        |    CAST(SUM(market.m8) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(market.m8 AS HUGEINT) * market.m8) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(r.x AS HUGEINT) * market.m8) AS DOUBLE) AS sxy
        |  FROM r JOIN market USING (date) GROUP BY r.ticker)""".stripMargin,
      """SELECT ticker, CAST(n AS BIGINT) AS n_days,
        |  ROUND((n * sxy - sx * sy) / (n * syy - sy * sy), 4) AS beta
        |FROM sums""".stripMargin)
  )
}
