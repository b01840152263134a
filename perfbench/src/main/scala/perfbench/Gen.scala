package perfbench

import graft.functions.TradingCalendar
import graft.sources.{BarRow, BarsSource}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.time.LocalDate
import java.util.concurrent.atomic.AtomicLong

/** Seeded input generators. Every generated value is a pure function of
  * (seed, key), so one seed gives identical inputs on every run, whatever the
  * partitioning. The program under test sees only the files written here and
  * the [[SeededBarsSource]] object. */
object Gen {

  /** SplitMix64 finalizer: a stateless, well-mixed 64-bit hash. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform double in [0, 1) keyed by (seed, a, b, c). */
  def unit(seed: Long, a: Long, b: Long = 0L, c: Long = 0L): Double =
    (mix(mix(mix(seed ^ 0x5DEECE66DL) ^ a) ^ b ^ (c << 32)) >>> 11) * (1.0 / (1L << 53))

  def cents(x: Double): Double = math.round(x * 100.0) / 100.0

  /** Sunday-start week and first-of-month keys, as silver rolls them up. */
  def weekOf(d: LocalDate): LocalDate = d.minusDays(d.getDayOfWeek.getValue % 7)
  def monthOf(d: LocalDate): LocalDate = d.withDayOfMonth(1)

  final case class BarsInput(rows: Long, days: Seq[LocalDate], tickers: Int) {
    def dailyRows: Long = days.size.toLong * tickers
    def weeklyRows: Long = days.map(weekOf).distinct.size.toLong * tickers
    def monthlyRows: Long = days.map(monthOf).distinct.size.toLong * tickers
  }

  /** Lineitem-shaped bars input: only the four columns `Tables.bars` reads.
    * One bar per (ticker, trading day) in [from, to], `rowsPerBar` lineitem
    * rows each; `l_partkey % 100` is the ticker, so `tickers` ≤ 100. */
  def lineitem(spark: SparkSession, seed: Long, from: LocalDate, to: LocalDate,
               tickers: Int, rowsPerBar: Int, dir: String, files: Int): BarsInput = {
    require(tickers >= 1 && tickers <= 100, s"tickers: $tickers")
    val days = TradingCalendar.tradingDays(from, to)
    val n = days.size.toLong * tickers * rowsPerBar
    val dates = typedLit(days.map(java.sql.Date.valueOf).toArray)
    def h(k: Int) = xxhash64(lit(seed), col("id"), lit(k))
    spark.range(0L, n, 1L, files)
      .select(
        ((col("id") / rowsPerBar).cast("long") % tickers +
          pmod(h(1), lit(5000L)) * 100L).as("l_partkey"),
        element_at(dates, (col("id") / (rowsPerBar.toLong * tickers)).cast("int") + 1)
          .as("l_shipdate"),
        (lit(900.0) + pmod(h(2), lit(9000000L)).cast("double") / 100.0)
          .as("l_extendedprice"),
        (lit(1.0) + pmod(h(3), lit(50L)).cast("double")).as("l_quantity"))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    BarsInput(n, days, tickers)
  }

  /** Seeded splits for the daily-append lake: about one ticker in six
    * splits once, on a trading day inside `history` — never after it, so
    * no appended day makes silver rewrite retroactively. */
  def splits(spark: SparkSession, seed: Long, tickers: Seq[String],
             history: Seq[LocalDate]): DataFrame = {
    import spark.implicits._
    tickers.zipWithIndex.collect {
      case (t, i) if unit(seed, i, 7) < 0.17 =>
        val d = history((unit(seed, i, 8) * history.size * 0.9).toInt)
        (t, java.sql.Date.valueOf(d), 1.0, if (unit(seed, i, 9) < 0.5) 2.0 else 3.0)
    }.toDF("ticker", "execution_date", "split_from", "split_to")
  }

  final case class Corpus(docs: Int, exactDups: Seq[Long], nearDups: Seq[Long],
                          lowQuality: Seq[Long], bytes: Long)

  /** Documents corpus (`doc_id`, `text`, `lang`, `source`, `n_chars`) with
    * planted shares: `exactShare` are copies of an earlier clean doc that
    * differ only in case and whitespace; `nearShare` are copies with one
    * word replaced; `lowShare` fail the quality gate (too short, repetitive,
    * punctuation-heavy, or carrying an e-mail address). The rest are clean,
    * 40–120 words drawn from a seeded vocabulary. */
  def documents(spark: SparkSession, seed: Long, n: Int, dir: String,
                exactShare: Double = 0.1, nearShare: Double = 0.1,
                lowShare: Double = 0.1): Corpus = {
    import spark.implicits._
    val vocab = (0 until 4000).map { i =>
      val len = 3 + (unit(seed, i, 1) * 7).toInt
      (0 until len).map(k => ('a' + (unit(seed, i, 2, k) * 26).toInt).toChar).mkString
    }
    def clean(id: Int): Array[String] = {
      val words = 40 + (unit(seed, id, 3) * 80).toInt
      Array.tabulate(words)(k => vocab((unit(seed, id, 4, k) * vocab.size).toInt))
    }
    val texts = new Array[String](n)
    val exact, near, low = Seq.newBuilder[Long]
    for (id <- 0 until n) {
      val u = unit(seed, id, 5)
      // copies need an earlier clean original: pick among the first ids
      val orig = (unit(seed, id, 6) * math.max(1, id / 2)).toInt
      val origClean = id > 0 && unit(seed, orig, 5) >= exactShare + nearShare + lowShare
      texts(id) =
        if (u < exactShare && origClean) {
          exact += id
          "  " + texts(orig).toUpperCase.replace(" ", "   \n") + " "
        } else if (u < exactShare + nearShare && origClean) {
          near += id
          val w = clean(orig)
          w((unit(seed, id, 7) * w.length).toInt) = "zzqx" + id
          w.mkString(" ")
        } else if (u < exactShare + nearShare + lowShare) {
          low += id
          (id % 4) match {
            case 0 => clean(id).take(5).mkString(" ")
            case 1 => Array.fill(60)(vocab(id % vocab.size)).mkString(" ")
            case 2 => clean(id).map(_ + "!!,;").mkString(" ")
            case _ => (clean(id) :+ s"user$id@example.com").mkString(" ")
          }
        } else clean(id).mkString(" ")
    }
    texts.zipWithIndex.map { case (t, id) =>
      (id.toLong, t, "en", s"src${id % 17}", t.length.toLong)
    }.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Corpus(n, exact.result(), near.result(), low.result(),
      Files.bytes(s"$dir/documents.parquet"))
  }
}

/** Seeded day-by-day market-data source for `Pipeline.runIngest`. Each
  * ticker's close follows a seeded sine cycle plus noise, and about one day
  * in fifteen carries a volume spike, so high-volume closes and stair
  * patterns exist. Counts the bytes a JSON REST payload of the rows served
  * would carry (the reference ingests JSON). */
final class SeededBarsSource(seed: Long, val tickers: Seq[String], tracer: () => Tracer)
    extends BarsSource {
  val payloadBytes = new AtomicLong(0L)

  override def fetchDay(date: LocalDate): Seq[BarRow] = tracer().leaf("sources.fetch") {
    val day = date.toEpochDay
    val rows = tickers.zipWithIndex.map { case (t, i) =>
      def u(k: Int) = Gen.unit(seed, i, day, k)
      val base = 20.0 + 180.0 * Gen.unit(seed, i, 0, 1)
      val period = 40.0 + 160.0 * Gen.unit(seed, i, 0, 2)
      val close = Gen.cents(base * (1.0 + 0.25 * math.sin(2 * math.Pi * day / period +
        6.28 * Gen.unit(seed, i, 0, 3))) * (1.0 + 0.02 * (u(1) - 0.5)))
      val open = Gen.cents(close * (1.0 + 0.01 * (u(2) - 0.5)))
      val vol = ((2e5 + 8e5 * Gen.unit(seed, i, 0, 4)) * (0.8 + 0.4 * u(3)) *
        (if (u(4) < 0.066) 3.0 else 1.0)).toLong
      BarRow(t, date, open, Gen.cents(math.max(open, close) * (1.0 + 0.01 * u(5))),
        Gen.cents(math.min(open, close) * (1.0 - 0.01 * u(6))), close, vol, vol / 40 + 1)
    }
    payloadBytes.addAndGet(rows.map(r =>
      s"""{"T":"${r.ticker}","d":"${r.date}","o":${r.open},"h":${r.high},"l":${r.low},"c":${r.close},"v":${r.volume},"n":${r.transactions}}""".length + 1L).sum)
    rows
  }
}

/** On-disk file accounting for a directory tree (every regular file). */
object Files {
  import java.nio.file.{Files => JFiles, Path, Paths}
  import scala.jdk.CollectionConverters._

  /** path → (size, mtime) of every regular file under `dir`. */
  def listing(dir: String): Map[String, (Long, Long)] = {
    val root = Paths.get(dir)
    if (!JFiles.exists(root)) Map.empty
    else {
      val s = JFiles.walk(root)
      try s.iterator().asScala.filter(JFiles.isRegularFile(_)).map { p: Path =>
        p.toString -> (JFiles.size(p), JFiles.getLastModifiedTime(p).toMillis)
      }.toMap
      finally s.close()
    }
  }

  def bytes(dir: String): Long = listing(dir).values.map(_._1).sum

  /** Files new or rewritten between two listings: (count, bytes). */
  def written(before: Map[String, (Long, Long)],
              after: Map[String, (Long, Long)]): (Long, Long) = {
    val fresh = after.filter { case (p, v) => !before.get(p).contains(v) }
    (fresh.size.toLong, fresh.values.map(_._1).sum)
  }

  /** Copies the tree under `from` to `to`. */
  def copy(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val s = JFiles.walk(src)
    try s.iterator().asScala.foreach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (JFiles.isDirectory(p)) JFiles.createDirectories(dst) else JFiles.copy(p, dst)
    } finally s.close()
  }

  def delete(dir: String): Unit = {
    val root = Paths.get(dir)
    if (JFiles.exists(root)) {
      val s = JFiles.walk(root)
      try s.iterator().asScala.toList.reverse.foreach(JFiles.delete)
      finally s.close()
    }
  }
}
