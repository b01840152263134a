package perfbench

import graft.pipeline.{Lake, Pipeline, Validation, CurationPipeline, CurationStats}
import graft.queries.{DeclaredCatalog, DeclaredQueries}
import graft.sources.{Checkpoints, Storage}
import graft.functions.TradingCalendar
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import java.time.LocalDate

/** What a run shares with every workload. `tracer` is swapped for a
  * recording one when the traced half of a `--trace 1` run starts. */
final class Ctx(val spark: SparkSession, val seed: Long, val cpus: Int, val work: String) {
  @volatile var tracer: Tracer = new Tracer(false)
  private var dirs = 0
  /** A fresh directory path under the run's work directory. */
  def fresh(tag: String): String = { dirs += 1; s"$work/$tag-$dirs" }
  def note(s: String): Unit = println(s"[perfbench] $s")
}

/** Untimed outcome of one operation: whether its output verified, plus the
  * storage it left behind (files and bytes written, rows delivered). */
final case class OpResult(ok: Boolean, filesWritten: Long = 0L,
                          bytesWritten: Long = 0L, rowsOut: Long = 0L)

abstract class Workload(val c: Ctx) {
  /** Generate the seeded inputs into fresh directories. Runs once per
    * set-up round; the last round's inputs are the ones measured. */
  def generate(round: Int): Unit
  /** Untimed set-up on the generated inputs. */
  def prepare(): Unit = ()
  /** The first operation of the process on the fresh set-up, which also
    * warms the JVM; its time is the cold sample. Fails if it does not verify. */
  def warmUp(): Unit = {
    op(0)
    if (!afterOp(0).ok) throw new IllegalStateException("warm-up operation failed its checks")
  }
  /** The unit operation. The caller times it. */
  def op(i: Int): Unit
  /** Untimed verification and storage accounting, straight after `op(i)`. */
  def afterOp(i: Int): OpResult
  /** Untimed end-of-run checks; returns the number of failed checks. */
  def finish(): Int
  /** Bytes the workload keeps (lake, cached catalog, curated corpus) per
    * byte of generated input. */
  def storedPerInput: Double
  /** Bytes the measured operations work over: inputs plus what they keep. */
  def workingSetBytes: Long
  /** Workload-specific per-layer values (keys as in BENCHMARK.json). */
  def layer: Map[String, Double] = Map.empty

  protected def spark: SparkSession = c.spark
  protected def t: Tracer = c.tracer
}

object Workload {
  def apply(name: String, c: Ctx): Workload = name match {
    case "backfill"      => new Backfill(c)
    case "daily_append"  => new DailyAppend(c)
    case "catalog_serve" => new CatalogServe(c)
    case "curate"        => new Curate(c)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
  val names: Seq[String] = Seq("backfill", "daily_append", "catalog_serve", "curate")
}

/** Silver and gold table names, as Pipeline writes them. */
object LakeTables {
  val silver = Seq("daily_aggregates", "weekly_aggregates", "monthly_aggregates",
    "daily_indicators", "weekly_indicators", "monthly_indicators")
  val gold = Seq("vwap_signals", "daily_high_volume_closes",
    "stairstepping_patterns", "falling_down_stairs_summary")
}

/** Full medallion build from a 5-year lineitem-shaped input into a fresh
  * lake: bronze → silver full rewrite → gold. The three stage calls are
  * exactly `Pipeline.runAll`'s body, made one by one so each gets a span. */
final class Backfill(c: Ctx) extends Workload(c) {
  private val from = LocalDate.of(1994, 1, 3)
  private val to = LocalDate.of(1998, 12, 31)
  private var inDir = ""
  private var input: Gen.BarsInput = _
  private var inputBytes = 0L
  private var lake, previous: Lake = _
  private var stored = 0L

  def generate(round: Int): Unit = {
    if (inDir.nonEmpty) Files.delete(inDir)
    inDir = c.fresh("input")
    input = Gen.lineitem(spark, c.seed, from, to, tickers = 25, rowsPerBar = 2,
      inDir, files = c.cpus)
    inputBytes = Files.bytes(s"$inDir/lineitem.parquet")
    c.note(f"backfill input: ${input.rows} lineitem rows, ${input.dailyRows} bars, " +
      f"${input.days.size} trading days $from..$to, ${inputBytes / 1e6}%.2f MB")
  }

  def op(i: Int): Unit = {
    lake = Lake(c.fresh("lake"))
    t.span("pipeline.bronze")(Pipeline.runBronze(spark, inDir, lake))
    t.span("pipeline.silver")(Pipeline.runSilver(spark, lake))
    t.span("pipeline.gold")(Pipeline.runGold(spark, lake))
  }

  /** Silver row counts must equal the generator's distinct (ticker, day),
    * (ticker, week) and (ticker, month) counts; gold's VWAP table has one
    * row per bar. The previous operation's lake is deleted here. */
  def afterOp(i: Int): OpResult = {
    val expected = Map(
      "daily" -> input.dailyRows, "weekly" -> input.weeklyRows, "monthly" -> input.monthlyRows)
    val counts = LakeTables.silver.map(n =>
      (Storage.readTable(spark, lake.silver(n)).count(), expected(n.takeWhile(_ != '_')))) :+
      (Storage.readTable(spark, lake.gold("vwap_signals")).count(), input.dailyRows)
    val ok = counts.forall { case (got, want) => got == want }
    if (!ok) c.note(s"backfill op $i: silver/gold row counts $counts differ from the generator's")
    val files = Files.listing(lake.root)
    stored = files.values.map(_._1).sum
    if (previous != null) Files.delete(previous.root)
    previous = lake
    OpResult(ok, files.size.toLong, stored, counts.map(_._1).sum)
  }

  def finish(): Int = {
    val r = Validation.validateSplits(spark, lake)
    c.note(s"backfill validateSplits: checked=${r.checked} mismatches=${r.mismatches} " +
      f"maxAbsError=${r.maxAbsError}%.4f")
    Files.delete(lake.root)
    if (r.mismatches == 0 && r.checked > 0) 0 else 1
  }

  def storedPerInput: Double = stored.toDouble / inputBytes
  def workingSetBytes: Long = inputBytes + stored
}

/** The daily cadence: a lake holding one year of history for 100 tickers
  * (set up through `runIngest` from a seeded source, plus seeded splits,
  * then silver and gold); each operation advances `today` by one trading
  * day and runs ingest → silver (append path) → gold. */
final class DailyAppend(c: Ctx) extends Workload(c) {
  private val startYear = 2021
  private val histEnd = LocalDate.of(2021, 12, 31)
  private val history = TradingCalendar.tradingDays(LocalDate.of(startYear, 1, 1), histEnd)
  private val tickers = (0 until 100).map(i => s"T$i")
  private var source: SeededBarsSource = _
  private var lake: Lake = _
  private var today = histEnd
  private var listing = Map.empty[String, (Long, Long)]
  private var fetched = (0, false)
  private var lastRewrite = ""
  var fullRewrites = 0

  def generate(round: Int): Unit = {
    if (lake != null) Files.delete(lake.root)
    lake = Lake(c.fresh("lake"))
    source = new SeededBarsSource(c.seed, tickers, () => c.tracer)
    Storage.writeTable(Gen.splits(spark, c.seed, tickers, history), lake.bronze("splits"))
  }

  override def prepare(): Unit = {
    val (days, hitLimit) = Pipeline.runIngest(spark, source, lake, startYear, histEnd, c.cpus)
    require(days == history.size && !hitLimit, s"history ingest: $days days, limit=$hitLimit")
    Pipeline.runSilver(spark, lake)
    Pipeline.runGold(spark, lake)
    today = histEnd
    lastRewrite = Checkpoints.load(lake.checkpointPath).getOrElse("silver_last_full_rewrite", "")
    listing = Files.listing(lake.root)
    c.note(s"daily_append set-up: ${history.size} trading days x ${tickers.size} tickers, " +
      f"${Files.bytes(lake.root) / 1e6}%.2f MB lake")
  }

  def op(i: Int): Unit = {
    today = Iterator.iterate(today.plusDays(1))(_.plusDays(1))
      .find(TradingCalendar.isTradingDay).get
    fetched = t.span("sources.ingest")(
      Pipeline.runIngest(spark, source, lake, startYear, today, c.cpus))
    t.span("pipeline.silver")(Pipeline.runSilver(spark, lake))
    t.span("pipeline.gold")(Pipeline.runGold(spark, lake))
  }

  def afterOp(i: Int): OpResult = {
    val ckpt = Checkpoints.load(lake.checkpointPath)
    val rewrite = ckpt.getOrElse("silver_last_full_rewrite", "")
    if (rewrite != lastRewrite) { fullRewrites += 1; lastRewrite = rewrite }
    val silverMax = Storage.maxDate(spark, lake.silver("daily_aggregates"))
    val ok = fetched == ((1, false)) &&
      ckpt.get("bronze_stocks_last_date").contains(today.toString) &&
      silverMax.contains(today)
    if (!ok) c.note(s"daily_append cycle $i ($today): fetched=$fetched silverMax=$silverMax")
    val after = Files.listing(lake.root)
    val (files, bytes) = Files.written(listing, after)
    listing = after
    OpResult(ok, files, bytes, tickers.size.toLong)
  }

  /** The appended lake must equal a full-rewrite rebuild from the same
    * bronze, table by table (order-independent content checksums). */
  def finish(): Int = {
    val rebuilt = Lake(c.fresh("rebuild"))
    Files.copy(s"${lake.root}/bronze", s"${rebuilt.root}/bronze")
    Pipeline.runSilver(spark, rebuilt)
    Pipeline.runGold(spark, rebuilt)
    def sum(df: DataFrame) = Storage.tableChecksum(df, df.columns.toSeq).first().toSeq
    val refs = LakeTables.silver.map(n => (lake.silver(n), rebuilt.silver(n))) ++
      LakeTables.gold.map(n => (lake.gold(n), rebuilt.gold(n)))
    val bad = refs.filter { case (a, b) =>
      sum(Storage.readTable(spark, a)) != sum(Storage.readTable(spark, b))
    }.map(_._1.name)
    c.note(s"daily_append append-vs-rebuild checksums: ${refs.size - bad.size}/${refs.size} equal" +
      (if (bad.nonEmpty) bad.mkString(" (differ: ", ", ", ")") else ""))
    Files.delete(rebuilt.root)
    if (fullRewrites != 0) c.note(s"daily_append: $fullRewrites cycles took the full-rewrite path")
    bad.size + (if (fullRewrites != 0) 1 else 0)
  }

  def storedPerInput: Double = Files.bytes(lake.root).toDouble / source.payloadBytes.get
  def workingSetBytes: Long = Files.bytes(lake.root)

  override def layer: Map[String, Double] = Map("pipeline.full_rewrites" -> fullRewrites)
}

/** Datasette-style serving. The unit operation is one pass of a closed
  * loop over the 19 canned catalog queries plus the 4 oracled `q_decl_*`
  * queries, in a seeded shuffled order, every result collected into the
  * client process and rendered as JSON rows: a client refreshing every
  * canned view.
  * A pass, not a query, is the unit because per-query times are bimodal
  * (cheap lookups vs. joins over the pattern tables), so a per-query median
  * jumps between the two modes from one seed to the next. The warm-up is the
  * cold pass: every query once over a directory the catalog has not seen,
  * which builds and persists the catalog's tables. */
final class CatalogServe(c: Ctx) extends Workload(c) {
  private val names: Vector[String] =
    (DeclaredCatalog.sql.keys ++ DeclaredQueries.queries.keys).toVector.sorted
  private var dir = ""
  private var inputBytes = 0L
  private var held = 0L
  private var cold = Map.empty[String, Served]
  private var last = Map.empty[String, Served]
  var tieReorders = 0

  /** A collected result: the rows, and their JSON as a client receives it. */
  final case class Served(rows: Array[Row], json: Seq[String])

  /** Output columns of each catalog query's `ORDER BY … LIMIT n`, for the
    * queries that have one. Rows that tie on these keys at the limit may
    * legitimately come back in any subset, so for these queries two results
    * agree when their key multisets agree and every row is a real row. */
  private val limitKeys: Map[String, Seq[String]] = DeclaredCatalog.sql.flatMap { case (n, q) =>
    """(?is)^SELECT (.*?) FROM .* ORDER BY (.*?) LIMIT \d+\s*$""".r.findFirstMatchIn(q).map { m =>
      val alias = m.group(1).split(",").flatMap(col =>
        """(?i)^\s*(\w+) as (\w+)\s*$""".r.findFirstMatchIn(col).map(a => a.group(1) -> a.group(2))).toMap
      n -> m.group(2).split(",").map(_.trim.split("\\s+")(0)).map(k => alias.getOrElse(k, k)).toSeq
    }
  }

  private def query(name: String): DataFrame =
    if (DeclaredCatalog.sql.contains(name)) DeclaredCatalog.run(spark, dir, name)
    else DeclaredQueries.queries(name)(spark, dir)

  /** Every row a `LIMIT` query could return: the query without its limit. */
  private def unlimited(name: String): Set[String] = {
    DeclaredCatalog.registerViews(spark, dir)
    spark.sql(DeclaredCatalog.sql(name).replaceAll("(?i)LIMIT \\d+\\s*$", ""))
      .collect().map(_.json).toSet
  }

  private def serve(name: String): Served = {
    val df = t.span("queries.plan") { val d = query(name); d.queryExecution.executedPlan; d }
    val rows: Array[Row] = t.span("queries.exec")(df.collect())
    Served(rows, t.span("queries.fetch")(rows.map(_.json).toSeq))
  }

  private def hash(items: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    items.sorted.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def keys(name: String, s: Served): Seq[String] =
    s.rows.toSeq.map(r => limitKeys(name).map(k => String.valueOf(r.getAs[Any](k))).mkString("|"))

  def generate(round: Int): Unit = {
    dir = c.fresh("input")
    val input = Gen.lineitem(spark, c.seed, LocalDate.of(1995, 1, 2), LocalDate.of(1999, 12, 31),
      tickers = 25, rowsPerBar = 1, dir, files = c.cpus)
    inputBytes = Files.bytes(s"$dir/lineitem.parquet")
    c.note(f"catalog_serve input: ${input.rows} lineitem rows, ${inputBytes / 1e6}%.2f MB")
  }

  override def warmUp(): Unit = {
    val before = heldBytes
    cold = names.map(n => n -> serve(n)).toMap
    held = heldBytes - before
  }

  def op(i: Int): Unit = {
    val order = new scala.util.Random(Gen.mix(c.seed ^ i)).shuffle(names)
    last = order.map(n => n -> serve(n)).toMap
  }

  /** Each warm result must equal the cold pass's, as a multiset of rows. */
  def afterOp(i: Int): OpResult = {
    val bad = names.filterNot(n => agrees(n, last(n), cold(n)))
    bad.foreach(n => c.note(s"catalog_serve: warm result of $n differs from the cold pass"))
    OpResult(bad.isEmpty, rowsOut = last.values.map(_.rows.length.toLong).sum)
  }

  private def agrees(name: String, warm: Served, ref: Served): Boolean =
    hash(warm.json) == hash(ref.json) || (limitKeys.contains(name) &&
      warm.rows.length == ref.rows.length && hash(keys(name, warm)) == hash(keys(name, ref)) &&
      warm.json.forall(unlimited(name)) && { tieReorders += 1; true })

  /** Writes each `q_decl_*` result and its DuckDB oracle SQL for the
    * runner's oracle check over the same generated directory. */
  def finish(): Int = {
    val out = s"${c.work}/oracle"
    val decl = DeclaredQueries.queries.keys.toSeq.sorted
    decl.foreach(n => query(n).write.mode("overwrite").parquet(s"$out/$n"))
    Json.write(s"$out/oracle.json", Json.obj(
      "lineitem" -> Json.str(s"$dir/lineitem.parquet"),
      "queries" -> Json.obj(decl.map(n => n -> Json.str(graft.SparkEntry.oracleSql(n))): _*)))
    if (tieReorders > 0)
      c.note(s"catalog_serve: $tieReorders warm results broke ties at a LIMIT differently")
    0
  }

  private def heldBytes: Long =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  /** Bytes the catalog built for one directory holds in Spark's storage
    * (memory and disk), per input byte. */
  def storedPerInput: Double = held.toDouble / inputBytes
  def workingSetBytes: Long = inputBytes + held
}

/** Corpus curation: `CurationPipeline.run` over a seeded documents corpus
  * into a fresh output directory per operation. */
final class Curate(c: Ctx) extends Workload(c) {
  private val docs = 3000
  private var dir = ""
  private var corpus: Gen.Corpus = _
  private var out = ""
  private var stats: CurationStats = _
  private var reference: CurationStats = _
  private var stored = 0L

  def generate(round: Int): Unit = {
    if (dir.nonEmpty) Files.delete(dir)
    dir = c.fresh("input")
    corpus = Gen.documents(spark, c.seed, docs, dir)
    c.note(f"curate input: ${corpus.docs} docs (${corpus.exactDups.size} exact copies, " +
      f"${corpus.nearDups.size} near copies, ${corpus.lowQuality.size} low quality), " +
      f"${corpus.bytes / 1e6}%.2f MB")
    reference = null
  }

  def op(i: Int): Unit = {
    out = c.fresh("curated")
    stats = t.span("curate.run")(CurationPipeline.run(spark, dir, out))
  }

  def afterOp(i: Int): OpResult = {
    val s = stats
    if (reference == null) reference = s
    val monotone = s.input >= s.afterQuality && s.afterQuality >= s.afterExact &&
      s.afterExact >= s.afterNearDup
    val planted = spark.read.parquet(out)
      .filter(col("doc_id").isin(corpus.exactDups: _*)).count()
    val ok = monotone && s.written == s.afterNearDup && s == reference &&
      s.input == corpus.docs && planted == 0
    if (!ok) c.note(s"curate op $i: $s (reference $reference, planted copies kept: $planted)")
    val files = Files.listing(out)
    stored = files.values.map(_._1).sum
    Files.delete(out)
    OpResult(ok, files.size.toLong, stored, s.written)
  }

  def finish(): Int = 0

  def storedPerInput: Double = stored.toDouble / corpus.bytes
  def workingSetBytes: Long = corpus.bytes + stored

  override def layer: Map[String, Double] = {
    val s = reference
    Map("curate.quality_keep_frac" -> s.afterQuality.toDouble / s.input,
      "curate.exact_keep_frac" -> s.afterExact.toDouble / s.afterQuality,
      "curate.neardup_keep_frac" -> s.afterNearDup.toDouble / s.afterExact)
  }
}
