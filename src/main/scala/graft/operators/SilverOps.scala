package graft.operators

import graft.functions.{GraftFunctions => F}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

/** Silver-layer transforms: retroactive split adjustment, time-bucket
  * roll-ups, technical indicators (reference `silver/` — SURVEY §2.3-§2.5).
  *
  * Scale notes (100 TB): every operator here shuffles at most once, on
  * `ticker` (window functions) or `(ticker, bucket)` (roll-ups). The splits
  * dim is tiny (~500 rows in the reference), grouped per ticker and
  * broadcast, so split adjustment adds zero shuffles of the bars. The
  * reference's manual 250/500-ticker batching loops (`silver/main.py:133-146`)
  * are deliberately absent — partitioning replaces them (SURVEY §4).
  */
object SilverOps {

  private val D2 = DecimalType(18, 2)
  private val D6 = DecimalType(18, 6)

  /** J1+J2+A3+F8/F10 — retroactive split adjustment
    * (`silver/splits.py:17-105`).
    *
    * For every bar dated before a split's execution date, price scales by
    * `split_from/split_to` and volume by its inverse (floor-cast to long,
    * `silver/splits.py:92-97`). Multiple splits compound: the splits dim is
    * grouped into one array per ticker, sorted so the fold order is fixed,
    * broadcast onto the bars by ticker, and each bar folds the product of
    * the ratios dated after it — one scan, no shuffle of the bars. A null
    * ratio is skipped, as SQL `product` skips nulls; no splits is factor 1.0.
    *
    * `splits` schema: (ticker, execution_date, split_from, split_to).
    */
  def applySplits(bars: DataFrame, splits: DataFrame): DataFrame = {
    val byTicker = splits.groupBy("ticker").agg(array_sort(collect_list(struct(
      col("execution_date").as("on"),
      (col("split_from").cast("double") / col("split_to").cast("double")).as("ratio"))))
      .as("splits"))
    val factor = aggregate(
      filter(col("splits"), s => col("date") < s("on") && s("ratio").isNotNull),
      lit(1.0), (f, s) => f * s("ratio"))

    bars.join(broadcast(byTicker), Seq("ticker"), "left")
      .withColumn("adj_factor", coalesce(factor, lit(1.0)))
      .select(col("ticker"), col("date"),
        (col("open") * col("adj_factor")).as("open"),
        (col("high") * col("adj_factor")).as("high"),
        (col("low") * col("adj_factor")).as("low"),
        (col("close") * col("adj_factor")).as("close"),
        floor(col("volume") / col("adj_factor")).cast("long").as("volume"),
        col("transactions"))
  }

  /** W7/W8 + A2 — weekly/monthly OHLCV roll-up (`silver/aggregates.py`).
    *
    * open/close use `min_by`/`max_by` on date — order-correct first/last
    * regardless of physical row order (SURVEY §7.4 #4: Spark's `first()` in
    * groupBy is nondeterministic; never use it).
    *
    * @param bucket "week" (Sunday-anchored, §7.4 #1) or "month"
    */
  def rollup(daily: DataFrame, bucket: String): DataFrame = {
    val b = bucket match {
      case "week"  => F.weekBucket(col("date"))
      case "month" => F.monthBucket(col("date"))
      case other   => throw new IllegalArgumentException(s"bucket: $other")
    }
    daily
      .groupBy(col("ticker"), b.as("date"))
      .agg(
        min_by(col("open"), col("date")).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max_by(col("close"), col("date")).as("close"),
        sum(col("volume")).cast("long").as("volume"),
        sum(col("transactions")).cast("long").as("transactions"))
  }

  /** W1-W4 — the indicator suite (`silver/indicators.py`): SMA 20/50/200,
    * previous close, ATR 14, volume MA 20 + ratio. One shuffle on ticker;
    * all windows share the same partitioning so Spark plans a single sort.
    *
    * Numeric determinism: rolling means are computed as
    * `cast(decimal-sum as double) / n` — the decimal sum is exact and
    * order-independent, so Spark and any oracle agree bit-for-bit (a plain
    * windowed AVG over doubles is summation-order-dependent).
    *
    * Complexity: WindowExec evaluates a sliding `rowsBetween(-(n-1), 0)`
    * frame by re-aggregating the whole frame per row — O(rows × frame),
    * billions of decimal adds for SMA-200 over 10M+ rows. Running
    * (unbounded-preceding) frames ARE incremental, so every rolling sum
    * here is the difference of a running sum and its n-row lag: the same
    * exact decimal addends, O(rows). Two Window operators (lags consume
    * the running sums), one sort, still one shuffle on ticker.
    */
  def indicators(daily: DataFrame): DataFrame = {
    val w = F.tickerWindow()
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val withPrev = daily
      .withColumn("prev_close", lag(col("close"), 1).over(w))
    val withTr = withPrev
      .withColumn("true_range",
        F.trueRange(col("high"), col("low"), col("prev_close")))

    val cums = withTr
      .withColumn("c_cum", sum(col("close").cast(D2)).over(run))
      .withColumn("c_cnt", count(col("close")).over(run))
      .withColumn("tr_cum", sum(col("true_range").cast(D6)).over(run))
      .withColumn("tr_cnt", count(col("true_range")).over(run))
      .withColumn("v_cum", sum(col("volume")).over(run))
      .withColumn("v_cnt", count(col("volume")).over(run))

    // trailing-n sum/count of the column behind `cum`/`cnt`: exact decimal
    // difference; count guard reproduces the strict min-periods semantics
    def lastN(cum: String, cnt: String, n: Int): (Column, Column) = (
      col(cum) - coalesce(lag(col(cum), n).over(w), lit(0)),
      col(cnt) - coalesce(lag(col(cnt), n).over(w), lit(0L)))

    def smaN(n: Int): Column = {
      val (s, c) = lastN("c_cum", "c_cnt", n)
      when(c === n, s.cast("double") / n)
    }

    cums
      .withColumn("sma_20", smaN(20))
      .withColumn("sma_50", smaN(50))
      .withColumn("sma_200", smaN(200))
      .withColumn("atr_14", {
        val (s, c) = lastN("tr_cum", "tr_cnt", 14)
        when(c === 14, s.cast("double") / 14)
      })
      .withColumn("volume_ma_20", {
        val (s, c) = lastN("v_cum", "v_cnt", 20)
        when(c === 20, floor(s.cast("double") / 20).cast("long"))
      })
      .withColumn("volume_ratio",
        when(col("volume_ma_20").isNotNull && col("volume_ma_20") > 0,
          col("volume").cast("double") / col("volume_ma_20").cast("double")))
      .drop("c_cum", "c_cnt", "tr_cum", "tr_cnt", "v_cum", "v_cnt")
  }

  /** (ticker, date, value): one bar of a single-series fold. */
  private type Bar = (String, java.sql.Date, Double)
  /** (ticker, date, close, high, low): one bar of an extrema fold. */
  private[graft] type Ohlc = (String, java.sql.Date, Double, Double, Double)

  /** The recursive-fold family's one driver. Its members are per-ticker
    * ordered folds that NO SQL window frame can express: each output
    * depends on the previous *output* ([[ema]], [[macd]], [[wilderRsi]],
    * [[kama]], [[holt]], [[holtWinters]], [[cusum]]) or on a non-invertible
    * trailing aggregate ([[rollingExtrema]], [[rollingMedian]],
    * [[ichimoku]]), so the W-family's running-cumulative doctrine doesn't
    * apply. Each member supplies only its recursion: `step` receives one
    * ticker's bars, `(ticker, date, in…)` cast to (string, date, double…)
    * and sorted by date, and returns its output rows, named
    * `ticker, date, out…`.
    *
    * Shape: one shuffle on `ticker`, then a per-key ordered fold — the
    * same sequential-scan-per-key plan Flink/kdb run for recursive
    * indicators. Per-key state is the ticker's full daily history, which
    * is calendar-bounded (~250 rows/year — the same boundedness argument
    * the W-family windows rely on); keys scale out across executors. The
    * fold runs as a typed `flatMapGroups` (compiled JVM loop): the
    * Catalyst alternative — collect_list + higher-order `aggregate`
    * appending to an array accumulator — is interpreted, copies the
    * accumulator array per element, and measured 2× slower at sf0.1
    * (2.9 s vs 1.4 s end-to-end; 3.9× on the macd triple fold); a
    * recursion is exactly the "genuine per-group imperative logic" the
    * typed API exists for.
    *
    * Input contract: ONE bar per (ticker, date). Duplicate dates make the
    * date-sorted fold order-nondeterministic (equal keys sort arbitrarily),
    * so two runs over the same input could silently disagree. The driver
    * fails loud at the offending key instead, before any step runs;
    * callers with dirty feeds dedupe (keep-last) upstream. */
  private def foldByTicker[I <: Product : TypeTag : ClassTag, O <: Product : TypeTag](
      daily: DataFrame, in: Seq[String], out: Seq[String])(
      step: (String, Array[I]) => Iterator[O]): DataFrame = {
    val ss = daily.sparkSession
    import ss.implicits._
    def day(r: I): Long = r.productElement(1).asInstanceOf[java.sql.Date].getTime
    daily
      .select(col("ticker").cast("string") +: col("date").cast("date") +:
        in.map(col(_).cast("double")): _*)
      .as[I]
      .groupByKey(_.productElement(0).asInstanceOf[String])
      .flatMapGroups { (t: String, it: Iterator[I]) =>
        val s = it.toArray.sortBy(day)
        for (j <- 1 until s.length)
          require(day(s(j)) != day(s(j - 1)),
            s"duplicate date ${s(j).productElement(1)} for key $t: the " +
              "recursive-fold family folds one bar per (ticker, date) — " +
              "dedupe upstream before folding")
        step(t, s)
      }
      .toDF("ticker" +: "date" +: out: _*)
  }

  /** Exponential moving average per ticker: `ema_t = α·x_t + (1−α)·ema_{t−1}`,
    * seeded `ema_0 = x_0` — the first member of the recursive-fold family
    * ([[foldByTicker]]).
    *
    * Float parity: the fold evaluates `α·x + β·prev` — callers wanting
    * cross-engine bit-identity (the oracle) pick α with exact binary
    * representation (0.25 ⇒ β = 0.75 exact); an inexact α would put a SQL
    * `0.75`-style literal one ulp adrift per step. */
  def ema(daily: DataFrame, alpha: Double, valueCol: String = "close"): DataFrame = {
    val beta = 1.0 - alpha
    foldByTicker(daily, Seq(valueCol), Seq(valueCol, "ema")) {
      (t: String, s: Array[Bar]) =>
        var prev = 0.0
        var first = true
        s.iterator.map { case (_, d, x) =>
          val e = if (first) { first = false; x } else alpha * x + beta * prev
          prev = e
          (t, d, x, e)
        }
    }
  }

  /** MACD (fast EMA − slow EMA, signal = EMA of MACD, histogram = MACD −
    * signal) in ONE per-ticker fold carrying all three recursive
    * accumulators — not three [[ema]] calls stitched with (ticker, date)
    * joins, which would shuffle the bars three times and join twice for
    * the same answer. The signal line is an EMA *of a derived recursive
    * series*, so no window/join composition avoids the fold anyway.
    *
    * Defaults are the binary-exact α variants (0.1875/0.0625/0.25 — each
    * k/2^m, so α and 1−α are both exact doubles and the oracle's decimal
    * literals reproduce the identical IEEE sequence); the classic
    * 2/13 · 2/27 · 2/10 MACD(12,26,9) alphas are representable but not
    * exactly, which would put the oracle one ulp adrift per step. */
  def macd(daily: DataFrame, alphaFast: Double = 0.1875,
           alphaSlow: Double = 0.0625, alphaSignal: Double = 0.25,
           valueCol: String = "close"): DataFrame = {
    val (bF, bS, bG) = (1.0 - alphaFast, 1.0 - alphaSlow, 1.0 - alphaSignal)
    foldByTicker(daily, Seq(valueCol),
        Seq(valueCol, "macd", "signal", "histogram")) {
      (t: String, s: Array[Bar]) =>
        var (pf, ps, pg) = (0.0, 0.0, 0.0)
        var first = true
        s.iterator.map { case (_, d, x) =>
          val f = if (first) x else alphaFast * x + bF * pf
          val sl = if (first) x else alphaSlow * x + bS * ps
          val m = f - sl
          val g = if (first) m else alphaSignal * m + bG * pg
          first = false
          pf = f; ps = sl; pg = g
          (t, d, x, m, g, m - g)
        }
    }
  }

  /** Wilder-smoothed RSI: average gain/loss are themselves EMAs
    * (`avg_t = α·move_t + (1−α)·avg_{t−1}`), so like [[ema]]/[[macd]] this
    * is output-recursive and runs as the per-ticker compiled fold. Seeds:
    * the first bar has no move — both averages start at 0 and the RSI is
    * NULL until a move exists; an all-gain history pins RSI at 100 (the
    * avgLoss=0 convention). The classic α=1/14 is not binary-exact; the
    * default α=0.0625 (Wilder-16) keeps the oracle's literals on the
    * identical IEEE sequence — q_rsi keeps the simple-average RSI-14 for
    * the TradingView-parity surface. */
  def wilderRsi(daily: DataFrame, alpha: Double = 0.0625,
                valueCol: String = "close"): DataFrame = {
    val beta = 1.0 - alpha
    foldByTicker(daily, Seq(valueCol), Seq(valueCol, "rsi_wilder")) {
      (t: String, s: Array[Bar]) =>
        var prevClose = Double.NaN
        var ag = 0.0
        var al = 0.0
        s.iterator.map { case (_, d, x) =>
          if (!prevClose.isNaN) {
            val gain = math.max(x - prevClose, 0.0)
            val loss = math.max(prevClose - x, 0.0)
            ag = alpha * gain + beta * ag
            al = alpha * loss + beta * al
          }
          prevClose = x
          val rsi: Option[Double] =
            if (ag == 0.0 && al == 0.0) None
            else if (al == 0.0) Some(100.0)
            else Some(100.0 - 100.0 / (1.0 + ag / al))
          (t, d, x, rsi)
        }
    }
  }

  /** Kaufman Adaptive Moving Average — the fourth member of the recursive
    * fold family ([[ema]]/[[macd]]/[[wilderRsi]]): the smoothing constant
    * itself adapts per step, `sc_t = (er_t·(fast−slow) + slow)²` with
    * efficiency ratio `er_t = |c_t − c_{t−n}| / Σ|c_i − c_{i−1}|`, then
    * `kama_t = kama_{t−1} + sc_t·(c_t − kama_{t−1})`.
    *
    * Cross-engine exactness: the ER numerator/denominator are CENTS-scaled
    * integers (close is exact 2-decimal), so the trailing-n volatility sum
    * is order-independent and the ER division is one shared IEEE op; the
    * default smoothing constants are the binary-exact variant fast = 5/8,
    * slow = 1/16 (fast − slow = 0.5625 exact — the classic 2/3 and 2/31
    * are not exactly representable and would put a SQL oracle one ulp
    * adrift per step, the Wilder-16 argument). Seeded `kama_n = c_n`
    * (0-based index n−1), NULL before the ER window fills. */
  def kama(daily: DataFrame, n: Int = 10, fastSC: Double = 0.625,
           slowSC: Double = 0.0625, valueCol: String = "close"): DataFrame = {
    require(n >= 1, s"ER window must be >= 1, got $n")
    val diff = fastSC - slowSC
    foldByTicker(daily, Seq(valueCol), Seq(valueCol, "kama")) {
      (t: String, s: Array[Bar]) =>
        val cents = s.map(x => math.round(x._3 * 100))
        val deltas = new Array[Long](s.length) // |Δcents|, deltas(0) unused
        var i = 1
        while (i < s.length) {
          deltas(i) = math.abs(cents(i) - cents(i - 1)); i += 1
        }
        var vol = 0L
        var prevK = 0.0
        s.indices.iterator.map { j =>
          if (j >= 1) vol += deltas(j)
          if (j >= n + 1) vol -= deltas(j - n) // trailing n deltas
          val k: Option[Double] =
            if (j < n - 1) None
            else if (j == n - 1) { prevK = s(j)._3; Some(prevK) }
            else {
              val change = math.abs(cents(j) - cents(j - n))
              val er = if (vol == 0L) 0.0 else change.toDouble / vol.toDouble
              val scRoot = er * diff + slowSC
              val sc = scRoot * scRoot
              prevK = prevK + sc * (s(j)._3 - prevK)
              Some(prevK)
            }
          (t, s(j)._2, s(j)._3, k)
        }
    }
  }

  /** Holt double-exponential smoothing (level + trend) — the forecasting
    * member of the recursive-fold family. Per bar: the one-step-ahead
    * forecast is level+trend BEFORE folding the new observation in, then
    * l' = α·x + (1−α)(l+t), t' = β·(l'−l) + (1−β)·t. Seed: l=x₀, t=0 —
    * the first forecast is pinned to the first close.
    *
    * Default α=0.5, β=0.25 are binary-exact (k/2^m), so the fold and the
    * oracle's recursive CTE execute the identical IEEE sequence — the
    * [[ema]] float-parity doctrine. Two doubles of state. */
  def holt(daily: DataFrame, alpha: Double = 0.5, beta: Double = 0.25,
           valueCol: String = "close"): DataFrame = {
    val (ba, bb) = (1.0 - alpha, 1.0 - beta)
    foldByTicker(daily, Seq(valueCol),
        Seq(valueCol, "level", "trend", "forecast")) {
      (t: String, s: Array[Bar]) =>
        var lev = 0.0
        var tr = 0.0
        s.indices.iterator.map { j =>
          val x = s(j)._3
          val (fc, nl, nt) =
            if (j == 0) (x, x, 0.0)
            else {
              val f = lev + tr
              val l2 = alpha * x + ba * (lev + tr)
              val t2 = beta * (l2 - lev) + bb * tr
              (f, l2, t2)
            }
          lev = nl; tr = nt
          (t, s(j)._2, x, nl, nt, fc)
        }
    }
  }

  /** Holt-Winters ADDITIVE triple smoothing (level + trend + a periodic
    * seasonal vector of `period` slots) — [[holt]] extended with the
    * seasonal recursion: with i = (row index) mod period and s = the
    * slot's current seasonal,
    *   forecast = l + t + s          (before folding the observation in)
    *   l' = α·(x − s) + (1−α)(l + t)
    *   t' = β·(l' − l) + (1−β)·t
    *   s' = γ·(x − l') + (1−γ)·s     (only slot i updates)
    * Seed: l=x₀, t=0, every seasonal 0 — seasonals develop over the first
    * cycles, which keeps the seed oracle-trivial.
    *
    * Defaults α=0.5, β=γ=0.25 are binary-exact (k/2^m), so fold and
    * recursive-CTE oracle execute the identical IEEE sequence (the [[ema]]
    * doctrine); the oracle carries the seasonal vector as `period`
    * pivoted columns with a CASE per slot. 2+period doubles of state. */
  def holtWinters(daily: DataFrame, alpha: Double = 0.5, beta: Double = 0.25,
                  gamma: Double = 0.25, period: Int = 5,
                  valueCol: String = "close"): DataFrame = {
    require(period > 0, s"period must be positive: $period")
    val (ba, bb, bg) = (1.0 - alpha, 1.0 - beta, 1.0 - gamma)
    foldByTicker(daily, Seq(valueCol),
        Seq(valueCol, "level", "trend", "seasonal", "forecast")) {
      (t: String, s: Array[Bar]) =>
        var lev = 0.0
        var tr = 0.0
        val seas = new Array[Double](period)
        s.indices.iterator.map { j =>
          val x = s(j)._3
          val slot = j % period
          val sOld = seas(slot)
          val (fc, nl, nt, nsv) =
            if (j == 0) (x, x, 0.0, 0.0)
            else {
              val f = lev + tr + sOld
              val l2 = alpha * (x - sOld) + ba * (lev + tr)
              val t2 = beta * (l2 - lev) + bb * tr
              val s2 = gamma * (x - l2) + bg * sOld
              (f, l2, t2, s2)
            }
          lev = nl; tr = nt; seas(slot) = nsv
          (t, s(j)._2, x, nl, nt, nsv, fc)
        }
    }
  }

  /** Two-sided CUSUM change-point detector over day-over-day moves, in
    * integer cents — the drift-detection member of the recursive-fold
    * family (cf. Page 1954; the reference's anomaly thresholds are static
    * per-row screens, this is the sequential-test upgrade). State:
    * s⁺ = max(0, s⁺ + Δ − k), s⁻ = max(0, s⁻ − Δ − k); an alarm fires when
    * either side crosses `thresholdCents`, and both sides reset to 0 for
    * the next row (standard restart-after-signal CUSUM).
    *
    * Determinism: the whole recursion is BIGINT arithmetic on
    * `round(close·100)` cents — no float drift anywhere, so the oracle's
    * recursive CTE reproduces it bit-exactly with no rounding doctrine
    * needed. */
  def cusum(daily: DataFrame, driftCents: Long, thresholdCents: Long,
            valueCol: String = "close"): DataFrame = {
    require(driftCents >= 0 && thresholdCents > 0,
      s"need driftCents >= 0 < thresholdCents, got $driftCents/$thresholdCents")
    foldByTicker(daily, Seq(valueCol),
        Seq(valueCol, "s_pos", "s_neg", "alarm")) {
      (t: String, s: Array[Bar]) =>
        var sp = 0L
        var sn = 0L
        var prevCents = 0L
        s.indices.iterator.map { j =>
          val cents = math.round(s(j)._3 * 100)
          val (outSp, outSn, alarm) =
            if (j == 0) (0L, 0L, 0)
            else {
              val d = cents - prevCents
              val nsp = math.max(0L, sp + d - driftCents)
              val nsn = math.max(0L, sn - d - driftCents)
              val a = if (nsp > thresholdCents || nsn > thresholdCents) 1 else 0
              if (a == 1) { sp = 0L; sn = 0L } else { sp = nsp; sn = nsn }
              (nsp, nsn, a)
            }
          prevCents = cents
          (t, s(j)._2, s(j)._3, outSp, outSn, alarm)
        }
    }
  }

  /** Trailing (min low, max high) of one ticker's date-sorted bars for
    * every window n ∈ `ns`, in one pass: `at(w, j)` covers rows
    * j−ns(w)+1..j, and is (None, None) until the window holds ns(w) rows
    * (strict min-periods, [[indicators]]' SMA semantics).
    *
    * The third case of the window discipline: the W-family's running-sum
    * doctrine (trailing sum = cum − lag(cum, n)) requires an *invertible*
    * aggregate; min/max are not invertible, so no running frame recovers
    * them, and a literal `rowsBetween(-(n-1), 0)` frame re-scans n rows per
    * row in WindowExec (the O(rows×frame) shape PlanSpec bans). The
    * monotonic deque is the O(rows) answer: each row index enters and
    * leaves each deque at most once, so the pass is amortized constant per
    * row and window regardless of n. */
  private[graft] def trailingExtrema(s: Array[Ohlc], ns: IndexedSeq[Int])
  : (Int, Int) => (Option[Double], Option[Double]) = {
    val m = s.length
    val mins = Array.ofDim[Double](ns.length, m)
    val maxs = Array.ofDim[Double](ns.length, m)
    for (w <- ns.indices) {
      val n = ns(w)
      // index deques: head = current window extremum; values strictly
      // decrease (max) / increase (min) toward the tail
      val dqMax = new java.util.ArrayDeque[Int](math.min(n + 1, m + 1))
      val dqMin = new java.util.ArrayDeque[Int](math.min(n + 1, m + 1))
      var i = 0
      while (i < m) {
        if (!dqMax.isEmpty && dqMax.peekFirst <= i - n) dqMax.pollFirst()
        if (!dqMin.isEmpty && dqMin.peekFirst <= i - n) dqMin.pollFirst()
        while (!dqMax.isEmpty && s(dqMax.peekLast)._4 <= s(i)._4) dqMax.pollLast()
        while (!dqMin.isEmpty && s(dqMin.peekLast)._5 >= s(i)._5) dqMin.pollLast()
        dqMax.addLast(i); dqMin.addLast(i)
        maxs(w)(i) = s(dqMax.peekFirst)._4
        mins(w)(i) = s(dqMin.peekFirst)._5
        i += 1
      }
    }
    (w, j) =>
      if (j >= ns(w) - 1) (Some(mins(w)(j)), Some(maxs(w)(j))) else (None, None)
  }

  /** Trailing-n rolling extrema (max of `high`, min of `low`) per ticker:
    * [[trailingExtrema]]'s one-window case, run as a [[foldByTicker]]
    * fold. `min_low`/`max_high` are NULL until the window holds n rows. */
  def rollingExtrema(daily: DataFrame, n: Int): DataFrame = {
    require(n >= 1, s"window must be >= 1, got $n")
    foldByTicker(daily, Seq("close", "high", "low"),
        Seq("close", "high", "low", "min_low", "max_high")) {
      (t: String, s: Array[Ohlc]) =>
        val at = trailingExtrema(s, IndexedSeq(n))
        s.indices.iterator.map { j =>
          val (_, d, c, h, l) = s(j)
          val (mn, mx) = at(0, j)
          (t, d, c, h, l, mn, mx)
        }
    }
  }

  /** Trailing-n rolling median per ticker (n odd ⇒ the exact middle order
    * statistic — selection, not arithmetic, so any engine agrees
    * bit-for-bit). Like the extrema: the median is not an invertible
    * aggregate, so no running frame recovers it and a sliding frame
    * re-sorts n rows per row; the dual-heap-with-lazy-deletion fold
    * (lower max-heap / upper min-heap, stale entries pruned at the top)
    * is O(rows·log n) — the textbook sliding-window-median structure,
    * run as a [[foldByTicker]] fold. Strict min-periods: NULL until the
    * window holds n rows. */
  def rollingMedian(daily: DataFrame, n: Int,
                    valueCol: String = "close"): DataFrame = {
    require(n >= 1 && n % 2 == 1, s"window must be odd and >= 1, got $n")
    foldByTicker(daily, Seq(valueCol), Seq(valueCol, s"median_$n")) {
      (t: String, s: Array[Bar]) =>
        import java.{util => ju}
        val lo = new ju.PriorityQueue[java.lang.Double](ju.Collections.reverseOrder[java.lang.Double]())
        val hi = new ju.PriorityQueue[java.lang.Double]()
        val stale = new ju.HashMap[java.lang.Double, Integer]()
        var loN = 0; var hiN = 0 // live (non-stale) element counts
        // invariant: whenever loN/hiN > 0 the corresponding heap top is a
        // LIVE element — every mutation that could leave a stale top
        // prunes immediately, so membership tests against peek are sound
        def prune(q: ju.PriorityQueue[java.lang.Double]): Unit = {
          while (!q.isEmpty && stale.getOrDefault(q.peek, 0) > 0) {
            stale.merge(q.peek, -1, (a, b) => a + b); q.poll()
          }
        }
        def rebalance(): Unit = {
          if (loN > hiN + 1) { // tops are live: poll moves a live element
            hi.add(lo.poll()); loN -= 1; hiN += 1; prune(lo)
          } else if (loN < hiN) {
            lo.add(hi.poll()); hiN -= 1; loN += 1; prune(hi)
          }
        }
        def insert(x: Double): Unit = {
          if (loN == 0 || x <= lo.peek) { lo.add(x); loN += 1 }
          else { hi.add(x); hiN += 1 }
          rebalance()
        }
        def erase(x: Double): Unit = {
          // x belongs to lo's live set iff x <= its live max; an equal
          // value straddling both heaps cancels an interchangeable lo
          // instance — order statistics don't distinguish equal elements
          stale.merge(x, 1, (a, b) => a + b)
          if (loN > 0 && x <= lo.peek) { loN -= 1; prune(lo) }
          else { hiN -= 1; prune(hi) }
          rebalance()
        }
        s.indices.iterator.map { j =>
          insert(s(j)._3)
          if (j >= n) erase(s(j - n)._3)
          // n odd ⇒ lo holds the strict majority; its live top IS the median
          val med = if (j >= n - 1) Some(lo.peek.doubleValue) else None
          (t, s(j)._2, s(j)._3, med)
        }
    }
  }

  /** Ichimoku cloud: conversion/base lines are window midpoints
    * `(max_high_n + min_low_n)/2`, the two senkou spans are midpoints
    * displaced `disp` bars back onto the current row (lag — the chart's
    * forward plot, expressed as data), chikou is close displaced forward
    * (lead). The three windows' extrema come from ONE [[trailingExtrema]]
    * fold — not three [[rollingExtrema]] calls stitched with (ticker, date)
    * joins, which would shuffle the bars three times for the same answer
    * (the [[macd]] single-fold argument) — then one lag/lead window over
    * the same ticker partitioning; offset functions are O(1)/row, so the
    * whole indicator is two passes regardless of the three window lengths.
    * Midpoints are single IEEE adds/halvings of exact values — no rounding
    * needed for cross-engine equality. */
  def ichimoku(daily: DataFrame, t: Int = 9, k: Int = 26, s2: Int = 52,
               disp: Int = 26): DataFrame = {
    val w = F.tickerWindow()
    foldByTicker(daily, Seq("close", "high", "low"),
        Seq("close", "mn_t", "mx_t", "mn_k", "mx_k", "mn_s", "mx_s")) {
      (tk: String, s: Array[Ohlc]) =>
        val at = trailingExtrema(s, IndexedSeq(t, k, s2))
        s.indices.iterator.map { j =>
          val ((n0, x0), (n1, x1), (n2, x2)) = (at(0, j), at(1, j), at(2, j))
          (tk, s(j)._2, s(j)._3, n0, x0, n1, x1, n2, x2)
        }
    }
      .withColumn("tenkan", (col("mx_t") + col("mn_t")) / 2.0)
      .withColumn("kijun", (col("mx_k") + col("mn_k")) / 2.0)
      .withColumn("senkou_a",
        lag((col("tenkan") + col("kijun")) / 2.0, disp).over(w))
      .withColumn("senkou_b",
        lag((col("mx_s") + col("mn_s")) / 2.0, disp).over(w))
      .withColumn("chikou", lead(col("close"), disp).over(w))
      .select("ticker", "date", "close", "tenkan", "kijun", "senkou_a",
        "senkou_b", "chikou")
  }

  /** Stochastic oscillator %K/%D over the deque extrema:
    * `%K = 100·(close − minLow_n)/(maxHigh_n − minLow_n)`,
    * `%D = (K_t + K_{t−1} + K_{t−2})/3` (left-associated, so the oracle's
    * `(k + LAG(k,1) + LAG(k,2))/3.0` runs the identical IEEE sequence).
    * NULL while the window is short or the range is degenerate
    * (maxHigh == minLow); %D NULL-propagates from any missing %K. */
  def stochastic(daily: DataFrame, n: Int = 14): DataFrame = {
    val w = F.tickerWindow()
    rollingExtrema(daily, n)
      .withColumn("pct_k",
        when(col("max_high") > col("min_low"),
          lit(100.0) * (col("close") - col("min_low")) /
            (col("max_high") - col("min_low"))))
      .withColumn("pct_d",
        (col("pct_k") + lag(col("pct_k"), 1).over(w) +
          lag(col("pct_k"), 2).over(w)) / 3.0)
      .select("ticker", "date", "close", "pct_k", "pct_d")
  }

  /** Donchian channel: upper = trailing-n max high, lower = trailing-n min
    * low, mid = (upper + lower)/2; breakout flags compare close against the
    * *previous* bar's channel (entering today's close into today's channel
    * would never break out — today's high/low already contain it). */
  def donchian(daily: DataFrame, n: Int = 20): DataFrame = {
    val w = F.tickerWindow()
    rollingExtrema(daily, n)
      .withColumn("upper", col("max_high"))
      .withColumn("lower", col("min_low"))
      .withColumn("mid", (col("upper") + col("lower")) / 2.0)
      .withColumn("breakout_up", col("close") > lag(col("upper"), 1).over(w))
      .withColumn("breakout_down", col("close") < lag(col("lower"), 1).over(w))
      .select("ticker", "date", "close", "upper", "lower", "mid",
        "breakout_up", "breakout_down")
  }

  /** On-balance volume: signed cumulative volume
    * (`+volume` on an up-close, `−volume` on a down-close, 0 on flat or the
    * first bar). Pure running frame over exact BIGINT addends — the
    * W-family cumulative shape, no fold needed. */
  def obv(daily: DataFrame): DataFrame = {
    val w = F.tickerWindow()
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = lag(col("close"), 1).over(w)
    daily
      .withColumn("signed_vol",
        when(prev.isNull || col("close") === prev, lit(0L))
          .when(col("close") > prev, col("volume"))
          .otherwise(-col("volume")))
      .withColumn("obv", sum(col("signed_vol")).over(run))
      .select("ticker", "date", "close", "obv")
  }

  /** Trailing-n Pearson correlation between two bar columns (default
    * close vs volume) from *integer* running co-moments: close is exact
    * 2-decimal, so `xc = round(close·100)` is an exact integer and every
    * co-moment sum (Σx, Σy, Σxy, Σx², Σy²) is integer-exact and
    * order-independent — the property double sums lack (both engines'
    * window aggregation may re-associate float addends; integer/decimal
    * sums are associative, so the cum − lag(cum, n) trailing-difference
    * doctrine stays bit-exact). Cums accumulate as DECIMAL(38,0) (long would
    * overflow on Σx² at ~60k rows/key), the five trailing sums are cast to
    * double (each ≤ 2^53 — exact), and the final formula
    * `(n·Σxy − Σx·Σy)/√((n·Σx² − Σx²)·(n·Σy² − Σy²))` is written with the
    * identical association in the oracle SQL, so the lone rounding steps
    * are the same IEEE ops on identical inputs. */
  def rollingCorr(daily: DataFrame, n: Int = 20): DataFrame = {
    val w = F.tickerWindow()
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val d38 = DecimalType(38, 0)
    val base = daily
      .withColumn("xc", round(col("close") * 100).cast("long"))
      .withColumn("yc", col("volume").cast("long"))
    val cums = base
      .withColumn("cx", sum(col("xc").cast(d38)).over(run))
      .withColumn("cy", sum(col("yc").cast(d38)).over(run))
      // cast BEFORE multiplying (the rollingBeta doctrine): volume ≥
      // ~3.04e9 would make the long×long square wrap silently under
      // ANSI-off; decimal products are exact at any magnitude and the
      // values are bit-identical where the long form didn't overflow
      .withColumn("cxy", sum(col("xc").cast(d38) * col("yc")).over(run))
      .withColumn("cxx", sum(col("xc").cast(d38) * col("xc")).over(run))
      .withColumn("cyy", sum(col("yc").cast(d38) * col("yc")).over(run))
      .withColumn("cn", count(lit(1)).over(run))
    def lastN(c: String): Column =
      (col(c) - coalesce(lag(col(c), n).over(w), lit(0).cast(d38)))
        .cast("double")
    val cntN = col("cn") - coalesce(lag(col("cn"), n).over(w), lit(0L))
    val (sx, sy, sxy, sxx, syy) =
      (lastN("cx"), lastN("cy"), lastN("cxy"), lastN("cxx"), lastN("cyy"))
    val varx = lit(n.toDouble) * sxx - sx * sx
    val vary = lit(n.toDouble) * syy - sy * sy
    cums
      .withColumn("corr_n",
        when(cntN === n && varx > 0.0 && vary > 0.0,
          round((lit(n.toDouble) * sxy - sx * sy) / sqrt(varx * vary), 6)))
      .select("ticker", "date", "corr_n")
  }

  /** Trailing-n CAPM beta per ticker vs the equal-weight market return —
    * the time-varying version of the whole-history beta (DomainQueries
    * `q_beta`), under the rollingCorr doctrine: integer 1e-8-unit returns,
    * DECIMAL(38,0) running sums, trailing sums as cum − lag(cum, n), and
    * one shared double expression tree so both engines emit identical
    * bits.
    *
    * Scale shape: the market return is a per-DATE aggregate (tiny —
    * calendar-bounded) broadcast back to the bars; the rolling pass is the
    * usual single shuffle on ticker with O(1) running-frame state. No
    * sliding frames, no per-row rescans. */
  def rollingBeta(daily: DataFrame, n: Int = 20): DataFrame = {
    val w = F.tickerWindow()
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val d38 = DecimalType(38, 0)
    val r = daily
      .withColumn("x",
        round((col("close") / lag(col("close"), 1).over(w) - 1.0) * 1e8)
          .cast("long"))
      .filter(col("x").isNotNull)
    val market = r.groupBy(col("date")).agg(
      round(sum(col("x")).cast("double") / count(lit(1))).cast("long")
        .as("m8"))
    val cums = r.join(broadcast(market), "date")
      .withColumn("cx", sum(col("x").cast(d38)).over(run))
      .withColumn("cm", sum(col("m8").cast(d38)).over(run))
      // cast BEFORE multiplying (q_beta doctrine): day-over-day bar ratios
      // can push x to ~1e10, so a long×long product would overflow int64
      .withColumn("cxm", sum(col("x").cast(d38) * col("m8")).over(run))
      .withColumn("cmm", sum(col("m8").cast(d38) * col("m8")).over(run))
      .withColumn("cn", count(lit(1)).over(run))
    def lastN(c: String): Column =
      (col(c) - coalesce(lag(col(c), n).over(w), lit(0).cast(d38)))
        .cast("double")
    val cntN = col("cn") - coalesce(lag(col("cn"), n).over(w), lit(0L))
    val (sx, sm, sxm, smm) = (lastN("cx"), lastN("cm"), lastN("cxm"), lastN("cmm"))
    val varm = lit(n.toDouble) * smm - sm * sm
    cums
      // + 0.0 canonicalizes IEEE negative zero (round can yield -0.0,
      // whose repr differs cross-engine; -0.0 + 0.0 = +0.0 exactly)
      .withColumn("beta_n",
        when(cntN === n && varm > 0.0,
          round((lit(n.toDouble) * sxm - sx * sm) / varm, 4) + lit(0.0)))
      .select("ticker", "date", "beta_n")
  }
}
