package graft

import graft.operators.SilverOps
import org.apache.spark.sql.functions._

/** Rolling-extrema family: the monotonic-deque fold (min/max are not
  * invertible, so neither the running-sum doctrine nor a sliding frame
  * applies — see SilverOps.rollingExtrema) plus the OBV cumulative and the
  * integer-co-moment trailing correlation.
  */
class RollingOpsSpec extends SparkSpecBase {

  import java.sql.Date
  private def d(i: Int): Date =
    Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong))

  test("deque fold matches the brute-force trailing min/max window") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val raw = for (t <- Seq("A", "B"); i <- 0 until 60) yield {
      val base = rnd.nextInt(10000) / 100.0
      val spread = rnd.nextInt(500) / 100.0
      (t, d(i), base, base + spread, base - spread)
    }
    val bars = raw.toDF("ticker", "date", "close", "high", "low")
    val byTicker = raw.groupBy(_._1).map { case (t, g) => t -> g.sortBy(_._2.getTime) }
    // (windows, (ticker, window index, row) → (min low, max high)): the
    // one-window DataFrame fold, and the multi-window deque pass itself
    val n = 14
    val single = SilverOps.rollingExtrema(bars, n).collect()
      .map(r => (r.getString(0), r.getDate(1).toString) ->
        ((if (r.isNullAt(5)) None else Some(r.getDouble(5))),
         (if (r.isNullAt(6)) None else Some(r.getDouble(6))))).toMap
    val multi = IndexedSeq(3, 9, 14)
    val multiAt = byTicker.map { case (t, s) =>
      t -> SilverOps.trailingExtrema(s.toArray, multi) }
    val inputs = Seq[(IndexedSeq[Int], (String, Int, Int) => (Option[Double], Option[Double]))](
      IndexedSeq(n) -> ((t, _, j) => single((t, byTicker(t)(j)._2.toString))),
      multi -> ((t, w, j) => multiAt(t)(w, j)))
    for ((ns, got) <- inputs; (t, s) <- byTicker; (wn, w) <- ns.zipWithIndex;
         j <- s.indices) {
      val expect =
        if (j < wn - 1) (None, None)
        else {
          val win = s.slice(j - wn + 1, j + 1)
          (Some(win.map(_._5).min), Some(win.map(_._4).max))
        }
      assert(got(t, w, j) === expect,
        s"mismatch at windows $ns, n=$wn, $t ${s(j)._2}")
    }
  }

  test("recursive folds reject a duplicate (ticker, date), naming the date") {
    import spark.implicits._
    // a duplicate date makes the date-sorted fold order-nondeterministic,
    // so the fold family fails loud instead of folding it
    val dirty = Seq(("X", d(1), 10.0), ("X", d(2), 11.0), ("X", d(2), 99.0),
      ("X", d(3), 12.0)).toDF("ticker", "date", "close")
    val dirtyOhlc = dirty.withColumn("high", col("close"))
      .withColumn("low", col("close"))
    val folds = Seq[(String, org.apache.spark.sql.DataFrame)](
      "ema" -> SilverOps.ema(dirty, 0.25),
      "macd" -> SilverOps.macd(dirty),
      "wilderRsi" -> SilverOps.wilderRsi(dirty),
      "kama" -> SilverOps.kama(dirty, n = 2),
      "holt" -> SilverOps.holt(dirty),
      "holtWinters" -> SilverOps.holtWinters(dirty),
      "cusum" -> SilverOps.cusum(dirty, 0L, 100L),
      "rollingExtrema" -> SilverOps.rollingExtrema(dirtyOhlc, 2),
      "rollingMedian" -> SilverOps.rollingMedian(dirty, 3),
      "ichimoku" -> SilverOps.ichimoku(dirtyOhlc, 1, 2, 3, 1))
    folds.foreach { case (name, df) =>
      val ex = intercept[org.apache.spark.SparkException](df.collect())
      val msgs = Iterator.iterate[Throwable](ex)(_.getCause)
        .takeWhile(_ != null).flatMap(e => Option(e.getMessage))
      assert(msgs.exists(_.contains(s"duplicate date ${d(2)}")),
        s"$name must name the duplicate date: ${ex.getMessage}")
    }
  }

  test("stochastic %K/%D conventions: short-window and flat-range NULLs") {
    import spark.implicits._
    // 5 flat bars then a spike: with n=3 the first two rows are short,
    // rows 2-4 have max==min (flat) → NULL, row 5's window spans the spike
    val bars = Seq(
      ("A", d(0), 10.0, 10.0, 10.0), ("A", d(1), 10.0, 10.0, 10.0),
      ("A", d(2), 10.0, 10.0, 10.0), ("A", d(3), 10.0, 10.0, 10.0),
      ("A", d(4), 10.0, 10.0, 10.0), ("A", d(5), 20.0, 20.0, 10.0))
      .toDF("ticker", "date", "close", "high", "low")
    val k = SilverOps.stochastic(bars, n = 3).collect()
      .map(r => r.getDate(1).toString ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(k(d(0).toString) === None) // short
    assert(k(d(4).toString) === None) // flat: max == min
    assert(k(d(5).toString) === Some(100.0)) // close == window max
  }

  test("donchian breakout compares against the previous bar's channel") {
    import spark.implicits._
    val bars = Seq(
      ("A", d(0), 10.0, 11.0, 9.0), ("A", d(1), 10.5, 11.0, 10.0),
      ("A", d(2), 12.0, 12.5, 10.0)) // close 12 > prior upper 11 → breakout
      .toDF("ticker", "date", "close", "high", "low")
    val rows = SilverOps.donchian(bars, n = 2).collect()
      .map(r => r.getDate(1).toString ->
        (if (r.isNullAt(6)) None else Some(r.getBoolean(6)))).toMap
    assert(rows(d(1).toString) === None)      // prior channel not yet full
    assert(rows(d(2).toString) === Some(true))
  }

  test("OBV signed cumulative: up adds, down subtracts, flat and seed are 0") {
    import spark.implicits._
    val bars = Seq(
      ("A", d(0), 10.0, 100L), ("A", d(1), 12.0, 200L),
      ("A", d(2), 12.0, 300L), ("A", d(3), 9.0, 400L))
      .toDF("ticker", "date", "close", "volume")
    val obv = SilverOps.obv(bars).collect()
      .map(r => r.getDate(1).toString -> r.getLong(3)).toMap
    assert(obv === Map(
      d(0).toString -> 0L, d(1).toString -> 200L,
      d(2).toString -> 200L, d(3).toString -> -200L))
  }

  test("ichimoku single fold equals the three-fold composition") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val raw = for (t <- Seq("A", "B"); i <- 0 until 70) yield {
      val base = rnd.nextInt(10000) / 100.0
      val sp = rnd.nextInt(300) / 100.0
      (t, d(i), base, base + sp, base - sp)
    }
    val bars = raw.toDF("ticker", "date", "close", "high", "low")
    val (t9, k26, s52, disp) = (9, 26, 52, 13) // disp < rows so lags land
    val got = SilverOps.ichimoku(bars, t9, k26, s52, disp)
    // composition: three independent single-window folds joined back
    def mid(n: Int, name: String) =
      SilverOps.rollingExtrema(bars, n).select(col("ticker"), col("date"),
        ((col("max_high") + col("min_low")) / 2.0).as(name))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("ticker").orderBy("date")
    val expect = mid(t9, "tenkan")
      .join(mid(k26, "kijun"), Seq("ticker", "date"))
      .join(mid(s52, "sb0"), Seq("ticker", "date"))
      .join(bars.select("ticker", "date", "close"), Seq("ticker", "date"))
      .withColumn("senkou_a",
        lag((col("tenkan") + col("kijun")) / 2.0, disp).over(w))
      .withColumn("senkou_b", lag(col("sb0"), disp).over(w))
      .withColumn("chikou", lead(col("close"), disp).over(w))
      .select("ticker", "date", "close", "tenkan", "kijun", "senkou_a",
        "senkou_b", "chikou")
    assert(got.collect().map(_.toString).toSet ===
      expect.collect().map(_.toString).toSet)
  }

  test("dual-heap rolling median matches brute-force selection, " +
    "duplicates included") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    // small value domain forces duplicates (the equal-value-straddling-
    // both-heaps case) and repeated insert/erase of identical doubles
    val raw = for (t <- Seq("A", "B"); i <- 0 until 80) yield
      (t, d(i), rnd.nextInt(12).toDouble)
    val n = 7
    val got = SilverOps.rollingMedian(raw.toDF("ticker", "date", "close"), n)
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    for ((t, grp) <- raw.groupBy(_._1)) {
      val s = grp.sortBy(_._2.getTime)
      for (j <- s.indices) {
        val expect =
          if (j < n - 1) None
          else Some(s.slice(j - n + 1, j + 1).map(_._3).sorted.apply(n / 2))
        assert(got((t, s(j)._2.toString)) === expect, s"$t ${s(j)._2}")
      }
    }
  }

  test("rolling corr hits ±1 exactly on linear series and NULLs until full") {
    import spark.implicits._
    // volume exactly proportional to cents (slope +200 / −200 around a
    // positive base): integer co-moments make the ±1 algebra exact
    val up = (0 until 25).map(i => ("U", d(i), (i + 1) * 1.0, (200 * (i + 1)).toLong))
    val dn = (0 until 25).map(i => ("D", d(i), (i + 1) * 1.0, (100000 - 200 * (i + 1)).toLong))
    val bars = (up ++ dn).toDF("ticker", "date", "close", "volume")
    val corr = SilverOps.rollingCorr(bars, n = 20).collect()
      .map(r => (r.getString(0), r.getDate(1).toString) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(corr(("U", d(18).toString)) === None) // 19 rows: short
    assert(corr(("U", d(19).toString)) === Some(1.0))
    assert(corr(("U", d(24).toString)) === Some(1.0))
    assert(corr(("D", d(24).toString)) === Some(-1.0))
    // degenerate variance (constant volume) → NULL, not NaN
    val flat = (0 until 25).map(i => ("F", d(i), (i + 1) * 1.0, 500L))
      .toDF("ticker", "date", "close", "volume")
    val fc = SilverOps.rollingCorr(flat, n = 20).collect()
    assert(fc.forall(_.isNullAt(2)))
  }
}
