package graft

import graft.streaming.StreamingOps
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpecBase {
  import spark.implicits._

  private def eventsDir: String = {
    val dir = Files.createTempDirectory("graft_events").toString
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(s"$dir/events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    dir
  }

  test("streaming hourly windowed counts match the batch twin") {
    val stream = StreamingOps.readEventsStream(spark, eventsDir)
    val q = StreamingOps.hourlyTypeCounts(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("hourly_out")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_ckpt").toString)
      .start()
    q.processAllAvailable()
    q.stop()
    // Append mode only emits windows finalized by the watermark; every
    // emitted row must agree with the batch computation.
    val streamed = spark.table("hourly_out")
      .select("window_start", "event_type", "n")
      .collect().map(_.toString).toSet
    val batch = SparkEntry.queries("q_events_hourly")(spark, sf)
      .select("window_start", "event_type", "n")
      .collect().map(_.toString).toSet
    assert(streamed.subsetOf(batch))
  }

  test("streaming hopping windows match the batch twin") {
    val stream = StreamingOps.readEventsStream(spark, eventsDir)
    val q = StreamingOps.hoppingTypeCounts(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("hopping_out")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_ckpt").toString)
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("hopping_out")
      .select("window_start", "event_type", "n")
      .collect().map(_.toString).toSet
    val batch = SparkEntry.queries("q_hopping_window")(spark, sf)
      .select("window_start", "event_type", "n")
      .collect().map(_.toString).toSet
    assert(streamed.subsetOf(batch))
    // the slide expansion must really overlap: ~4x the tumbling row count
    val tumbling = SparkEntry.queries("q_events_hourly")(spark, sf).count()
    assert(batch.size > 2 * tumbling,
      s"hopping windows should multiply rows: ${batch.size} vs $tumbling")
  }

  test("streaming EMA replays the batch fold bit-for-bit") {
    import spark.implicits._
    val bars = Tables.bars(spark, sf)
      .filter(col("ticker").isin("T1", "T2", "T3"))
      .select(col("ticker"), col("date"), col("close").cast("double"))
    // three date-ordered chunks → three micro-batches; the recursion must
    // resume from stored state across batch boundaries
    val rows = bars.orderBy(col("date"), col("ticker")).collect()
    val dir = Files.createTempDirectory("graft_bars_feed").toString
    rows.grouped(math.max(1, (rows.length + 2) / 3)).foreach { chunk =>
      spark.createDataFrame(
        java.util.Arrays.asList(chunk.toIndexedSeq: _*), bars.schema)
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(20) // distinct file mtimes keep micro-batch order
    }
    val stream = spark.readStream.schema(bars.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .as[StreamingOps.Bar]
    val q = StreamingOps.emaStream(stream, alpha = 0.25)
      .writeStream.outputMode("append")
      .format("memory").queryName("ema_out")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_ckpt").toString)
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ema_out")
      .select("ticker", "date", "ema").collect().map(_.toString).toSet
    val batch = graft.operators.SilverOps.ema(bars, alpha = 0.25)
      .select("ticker", "date", "ema").collect().map(_.toString).toSet
    assert(streamed === batch) // exact double equality, not approximate
  }

  test("streaming CUSUM replays the batch recursion exactly (integer state)") {
    import spark.implicits._
    val bars = Tables.bars(spark, sf)
      .filter(col("ticker").isin("T6", "T7"))
      .select(col("ticker"), col("date"), col("close").cast("double"))
    val rows = bars.orderBy(col("date"), col("ticker")).collect()
    val dir = Files.createTempDirectory("graft_cusum_feed").toString
    rows.grouped(math.max(1, (rows.length + 2) / 3)).foreach { chunk =>
      spark.createDataFrame(
        java.util.Arrays.asList(chunk.toIndexedSeq: _*), bars.schema)
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(20)
    }
    val stream = spark.readStream.schema(bars.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .as[StreamingOps.Bar]
    val q = StreamingOps.cusumStream(stream, driftCents = 2000000L,
        thresholdCents = 10000000L)
      .writeStream.outputMode("append")
      .format("memory").queryName("cusum_out")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_ckpt").toString)
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("cusum_out")
      .select("ticker", "date", "s_pos", "s_neg", "alarm")
      .collect().map(_.toString).toSet
    val batch = graft.operators.SilverOps
      .cusum(bars, driftCents = 2000000L, thresholdCents = 10000000L)
      .select("ticker", "date", "s_pos", "s_neg", "alarm")
      .collect().map(_.toString).toSet
    assert(streamed === batch) // exact long equality across batch boundaries
    assert(streamed.nonEmpty)
  }

  test("streaming Holt replays the batch level/trend fold bit-for-bit") {
    import spark.implicits._
    val bars = Tables.bars(spark, sf)
      .filter(col("ticker").isin("T8", "T9"))
      .select(col("ticker"), col("date"), col("close").cast("double"))
    val rows = bars.orderBy(col("date"), col("ticker")).collect()
    val dir = Files.createTempDirectory("graft_holt_feed").toString
    rows.grouped(math.max(1, (rows.length + 2) / 3)).foreach { chunk =>
      spark.createDataFrame(
        java.util.Arrays.asList(chunk.toIndexedSeq: _*), bars.schema)
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(20)
    }
    val stream = spark.readStream.schema(bars.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .as[StreamingOps.Bar]
    val q = StreamingOps.holtStream(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("holt_out")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_ckpt").toString)
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("holt_out")
      .select("ticker", "date", "level", "trend", "forecast")
      .collect().map(_.toString).toSet
    val batch = graft.operators.SilverOps.holt(bars)
      .select("ticker", "date", "level", "trend", "forecast")
      .collect().map(_.toString).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming Holt-Winters replays the batch seasonal fold bit-for-bit") {
    import spark.implicits._
    val bars = Tables.bars(spark, sf)
      .filter(col("ticker").isin("T6", "T7"))
      .select(col("ticker"), col("date"), col("close").cast("double"))
    // three date-ordered chunks: the state must carry level, trend, the
    // 5-slot seasonal vector AND the row-index slot selector across
    // micro-batch boundaries
    val rows = bars.orderBy(col("date"), col("ticker")).collect()
    val dir = Files.createTempDirectory("graft_hw_feed").toString
    rows.grouped(math.max(1, (rows.length + 2) / 3)).foreach { chunk =>
      spark.createDataFrame(
        java.util.Arrays.asList(chunk.toIndexedSeq: _*), bars.schema)
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(20)
    }
    val stream = spark.readStream.schema(bars.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .as[StreamingOps.Bar]
    val q = StreamingOps.holtWintersStream(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("hw_out")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_ckpt").toString)
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("hw_out")
      .select("ticker", "date", "level", "trend", "seasonal", "forecast")
      .collect().map(_.toString).toSet
    val batch = graft.operators.SilverOps.holtWinters(bars)
      .select("ticker", "date", "level", "trend", "seasonal", "forecast")
      .collect().map(_.toString).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("duplicate dates: the batch fold fails loud, the stream twin drops") {
    import spark.implicits._
    // the recursive-fold family's contract (ADVICE r7): a duplicate
    // (ticker, date) makes the batch sort order-nondeterministic and the
    // stream's fresh guard would silently skip it — so batch REJECTS,
    // stream DROPS, and both behaviors are pinned here, not implied.
    def d(s: String) = java.sql.Date.valueOf(s)
    val clean = Seq(
      ("X", d("2024-01-02"), 10.0), ("X", d("2024-01-03"), 11.0),
      ("X", d("2024-01-04"), 12.0), ("X", d("2024-01-05"), 13.0))
    val dupRow = ("X", d("2024-01-03"), 99.0)
    val cleanDf = clean.toDF("ticker", "date", "close")
    val dirtyDf = (clean :+ dupRow).toDF("ticker", "date", "close")
    // batch: loud failure naming the key
    val ex = intercept[org.apache.spark.SparkException] {
      graft.operators.SilverOps.holtWinters(dirtyDf).collect()
    }
    assert(ex.getMessage.contains("duplicate date") ||
      Option(ex.getCause).exists(_.getMessage.contains("duplicate date")))
    // stream: feed the duplicate in a LATER micro-batch; output must equal
    // the clean batch fold — the dup row dropped, state untouched by it
    val schema = cleanDf.schema
    val dir = Files.createTempDirectory("graft_hw_dup_feed").toString
    Seq(clean.take(2), Seq(dupRow) ++ clean.drop(2)).foreach { chunk =>
      spark.createDataFrame(
        java.util.Arrays.asList(chunk.map(r =>
          org.apache.spark.sql.Row(r._1, r._2, r._3)).toIndexedSeq: _*),
        schema).coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(20)
    }
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .as[StreamingOps.Bar]
    val q = StreamingOps.holtWintersStream(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("hw_dup_out")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_ckpt").toString)
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("hw_dup_out")
      .select("ticker", "date", "level", "trend", "seasonal", "forecast")
      .collect().map(_.toString).toSet
    val batch = graft.operators.SilverOps.holtWinters(cleanDf)
      .select("ticker", "date", "level", "trend", "seasonal", "forecast")
      .collect().map(_.toString).toSet
    assert(streamed === batch)
    assert(streamed.size === clean.size)
  }

  test("streaming rolling extrema replay the batch deque fold bit-for-bit") {
    import spark.implicits._
    val n = 14
    val bars = Tables.bars(spark, sf)
      .filter(col("ticker").isin("T4", "T5"))
      .select(col("ticker"), col("date"), col("close").cast("double"),
        col("high").cast("double"), col("low").cast("double"))
    // three date-ordered chunks → the n-bounded state must carry the
    // trailing window across micro-batch boundaries
    val rows = bars.orderBy(col("date"), col("ticker")).collect()
    val dir = Files.createTempDirectory("graft_ohlc_feed").toString
    rows.grouped(math.max(1, (rows.length + 2) / 3)).foreach { chunk =>
      spark.createDataFrame(
        java.util.Arrays.asList(chunk.toIndexedSeq: _*), bars.schema)
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(20)
    }
    val stream = spark.readStream.schema(bars.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .as[StreamingOps.Ohlc]
    val q = StreamingOps.extremaStream(stream, n)
      .writeStream.outputMode("append")
      .format("memory").queryName("extrema_out")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_ckpt").toString)
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("extrema_out")
      .select("ticker", "date", "min_low", "max_high")
      .collect().map(_.toString).toSet
    val batch = graft.operators.SilverOps.rollingExtrema(bars, n)
      .select("ticker", "date", "min_low", "max_high")
      .collect().map(_.toString).toSet
    assert(streamed === batch)
  }

  test("stream declares before the feed is seeded (empty-dir schema fallback)") {
    // sink-before-producer startup order: declaring the stream over an
    // empty feed directory must not throw at declaration time; rows fed
    // AFTER the declaration still flow with normalized event times
    val dir = Files.createTempDirectory("graft_emptyfeed").toString
    val stream = StreamingOps.readEventsStream(spark, dir)
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("lateseed_out")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_ckpt").toString)
      .start()
    q.processAllAvailable()
    assert(spark.table("lateseed_out").count() === 0)
    // seed the feed with the RAW fixture encoding after declaration (raw
    // read, not Tables.events — the fallback schema must match what the
    // driver actually writes)
    spark.read.parquet(s"$sf/events.parquet").limit(25).coalesce(1)
      .write.mode("append").parquet(dir)
    q.processAllAvailable()
    q.stop()
    val out = spark.table("lateseed_out")
    assert(out.count() === 25)
    // ts must have been normalized to a real event-time column (not 1970)
    val maxYear = out.select(year(max(col("ts")))).collect().head.getInt(0)
    assert(maxYear > 2000, s"event times must survive the fallback: $maxYear")
  }

  test("built-in session_window agrees with the custom-state sessionizer") {
    // batch mode: withWatermark is a no-op, groupBy(session_window) runs as
    // a plain aggregation — proving semantics against the q_events_sessions
    // batch twin (session_start = first event, same 30-min gap rule)
    val viaWindow = StreamingOps.sessionWindowStats(Tables.events(spark, sf))
      .select("user_id", "session_start", "n_events")
      .collect().map(_.toString).toSet
    val viaState = SparkEntry.queries("q_events_sessions")(spark, sf)
      .select("user_id", "session_start", "n_events")
      .collect().map(_.toString).toSet
    assert(viaWindow === viaState)
    // streaming smoke: append mode emits only watermark-finalized sessions;
    // every emitted session must be a batch session
    val q = StreamingOps.sessionWindowStats(
        StreamingOps.readEventsStream(spark, eventsDir))
      .writeStream.outputMode("append")
      .format("memory").queryName("sessw_out")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_swckpt").toString)
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sessw_out")
      .select("user_id", "session_start", "n_events")
      .collect().map(_.toString).toSet
    assert(streamed.subsetOf(viaWindow))
  }

  test("stateful sessionization closes sessions on gaps") {
    val events = Seq(
      StreamingOps.Event(1, ts("2024-01-01 10:00:00"), 7, "c", 1.0),
      StreamingOps.Event(2, ts("2024-01-01 10:10:00"), 7, "c", 2.0),
      StreamingOps.Event(3, ts("2024-01-01 11:30:00"), 7, "c", 3.0), // 80-min gap
      StreamingOps.Event(4, ts("2024-01-01 10:05:00"), 8, "c", 5.0)
    ).toDS()
    val sessions = StreamingOps.sessionize(events).collect()
    // batch execution emits only CLOSED sessions (trailing state unemitted):
    // user 7's first session closed by the gap
    assert(sessions.length === 1)
    val s = sessions.head
    assert(s.user_id === 7 && s.n_events === 2 && s.total_value === 3.0)
  }

  test("batch sessionization query agrees with streaming session boundaries") {
    val batchSessions = SparkEntry.queries("q_events_sessions")(spark, sf)
    val n = batchSessions.count()
    assert(n > 0)
    // every session interval respects the 30-min gap invariant
    val bad = batchSessions.filter(
      unix_millis(col("session_end")) - unix_millis(col("session_start")) < 0).count()
    assert(bad === 0)
  }

  test("foreachBatch streams bronze bars through the silver transform incrementally") {
    import graft.sources.{Storage, TableRef}
    val bronzeDir = Files.createTempDirectory("graft_sbronze").toString
    val silverRef = TableRef(Files.createTempDirectory("graft_ssilver").toString,
      "silver", "daily_aggregates")
    val bars = Tables.bars(spark, sf)
    val splits = graft.queries.DomainQueries.syntheticSplits(spark)
    // two "arriving" files → two micro-batches
    bars.filter(col("date") < lit("1995-01-01")).coalesce(1)
      .write.parquet(s"$bronzeDir/f1")
    bars.filter(col("date") >= lit("1995-01-01")).coalesce(1)
      .write.parquet(s"$bronzeDir/f2")
    // the stream reads recursively? no — files must sit in bronzeDir itself
    new java.io.File(bronzeDir).listFiles().filter(_.isDirectory).foreach { d =>
      d.listFiles().filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach {
        case (f, i) => Files.move(f.toPath,
          Paths.get(s"$bronzeDir/${d.getName}_$i.parquet"))
      }
      d.listFiles().foreach(_.delete()); d.delete()
    }
    val q = graft.streaming.StreamingOps.incrementalSilver(
      spark, bronzeDir, splits, silverRef,
      Files.createTempDirectory("graft_sckpt").toString)
    q.processAllAvailable()
    q.stop()
    val silver = Storage.readTable(spark, silverRef).drop("batch_id")
    assert(silver.count() === bars.count())
    // streamed silver equals the batch transform of the same input
    val batchSilver = graft.functions.GraftFunctions.coerceTo(
      graft.operators.SilverOps.applySplits(bars, splits), Schemas.silverDaily)
    assert(silver.except(batchSilver).count() === 0)
    assert(batchSilver.except(silver).count() === 0)
  }

  test("incremental gold recomputes only touched tickers yet converges to the batch gold") {
    import graft.sources.{Storage, TableRef}
    val silverDir = Files.createTempDirectory("graft_gsilver").toString
    val silverRef = TableRef(silverDir, "silver", "daily_aggregates")
    val goldRef = TableRef(Files.createTempDirectory("graft_ggold").toString,
      "gold", "vwap_signals")
    val silver = graft.functions.GraftFunctions.coerceTo(
      graft.operators.SilverOps.applySplits(
        Tables.bars(spark, sf), graft.queries.DomainQueries.syntheticSplits(spark)),
      Schemas.silverDaily)
    // two arriving files from DIFFERENT ticker sets → two micro-batches,
    // each triggering a partial (touched-tickers-only) gold rebuild; the
    // stream watches the silver table's own directory, so the history
    // read inside foreachBatch sees everything that has arrived so far
    val streamIn = silverRef.path
    silver.filter(col("ticker") < "T5").coalesce(1)
      .write.mode("append").parquet(streamIn)
    val q = graft.streaming.StreamingOps.incrementalGold(
      spark, streamIn, silverRef, goldRef,
      Files.createTempDirectory("graft_gckpt").toString)
    q.processAllAvailable()
    silver.filter(col("ticker") >= "T5").coalesce(1)
      .write.mode("append").parquet(streamIn)
    q.processAllAvailable()
    q.stop()
    // tbucket is the partition-layout column the sink stores by (the
    // batch_id precedent: lineage/layout columns drop on read-back compare)
    val gold = Storage.readTable(spark, goldRef).drop("tbucket")
    val batchGold = graft.operators.GoldOps.vwapSignals(silver)
    assert(gold.count() === batchGold.count())
    assert(gold.except(batchGold).count() === 0)
    assert(batchGold.except(gold).count() === 0)
  }

  test("partitioned upsert sink leaves untouched partition files byte-identical") {
    import graft.sources.{Storage, TableRef}
    val in = Files.createTempDirectory("graft_pups_in").toString
    val lake = Files.createTempDirectory("graft_pups_lake").toString
    val ref = TableRef(lake, "silver", "kv_part")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("seq", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("d", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    // the file source does not list subdirectories: write each batch to a
    // temp dir and surface its part file in the feed dir itself
    def feedFile(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = s"$in/_$name"
      df.repartition(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$in/$name.parquet"))
      new java.io.File(tmp).listFiles().foreach(_.delete())
      new java.io.File(tmp).delete()
    }
    // batch 1 populates partitions A and B; batch 2 touches ONLY B
    feedFile("batch1",
      Seq((1L, 10L, "A", "a"), (2L, 10L, "B", "b")).toDF("k", "seq", "d", "v"))
    val q = StreamingOps.upsertSink(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in),
      ref, Seq("k"), "seq",
      Files.createTempDirectory("graft_pups_ckpt").toString,
      partitionCol = Some("d"))
    q.processAllAvailable()
    def partFiles(part: String): Map[String, String] =
      new java.io.File(s"${ref.path}/d=$part").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map { f =>
          val bytes = java.nio.file.Files.readAllBytes(f.toPath)
          f.getName -> java.security.MessageDigest.getInstance("MD5")
            .digest(bytes).map("%02x".format(_)).mkString
        }.toMap
    val aBefore = partFiles("A")
    assert(aBefore.nonEmpty)
    feedFile("batch2",
      Seq((2L, 20L, "B", "b2"), (3L, 20L, "B", "c")).toDF("k", "seq", "d", "v"))
    q.processAllAvailable()
    q.stop()
    // the merge must not have read-modify-rewritten partition A: same file
    // names, same bytes — not merely the same rows
    assert(partFiles("A") === aBefore,
      "untouched partition files must be byte-identical after a micro-batch")
    val state = Storage.readTable(spark, ref).select("k", "seq", "v").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(state === Map(1L -> (10L, "a"), 2L -> (20L, "b2"), 3L -> (20L, "c")))
  }

  test("stream-stream interval join matches its batch twin exactly") {
    val stream = StreamingOps.readEventsStream(spark, eventsDir)
    val q = StreamingOps.purchaseAttribution(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("attr_out")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_ackpt").toString)
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("attr_out")
      .select("purchase_id", "click_id").collect().map(_.toString).toSet
    val batch = StreamingOps.purchaseAttribution(
      Tables.events(spark, sf))
      .select("purchase_id", "click_id").collect().map(_.toString).toSet
    assert(batch.nonEmpty)
    assert(streamed === batch)
  }

  test("outer stream-stream join emits unmatched purchases after the watermark") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_outer_feed").toString
    def ev(id: Long, t: String, u: Long, typ: String) =
      (id, ts(t), u, typ, 1.0)
    // user 1: click then purchase (matched); user 2: purchase, no click
    Seq(ev(1, "2024-01-01 10:00:00", 1, "click"),
      ev(2, "2024-01-01 10:30:00", 1, "purchase"),
      ev(3, "2024-01-01 10:40:00", 2, "purchase"))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("append").parquet(dir)
    Thread.sleep(20)
    // watermark sentinels: the global watermark is the MIN over both
    // sides' watermark nodes, so BOTH a future click and a future
    // purchase are needed (different users — they must not match each
    // other, or they'd emit and pollute the assertion)
    Seq(ev(99, "2024-01-01 20:00:00", 9, "click"),
      ev(101, "2024-01-01 20:00:00", 8, "purchase"))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = StreamingOps.purchaseAttributionOuter(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("outer_attr_out")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_oackpt").toString)
      .start()
    q.processAllAvailable()
    // outer-side EVICTION runs in the batch AFTER the one that advanced
    // the watermark (state cleanup uses the previous batch's committed
    // watermark) — a second sentinel triggers that batch deterministically
    Seq(ev(100, "2024-01-01 21:00:00", 9, "click"),
      ev(102, "2024-01-01 21:00:00", 8, "purchase"))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("append").parquet(dir)
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("outer_attr_out")
      .select(col("purchase_id"),
        col("click_id").isNull.as("unmatched")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // the matched purchase joined its click; the clickless one emitted
    // with nulls once the sentinel's watermark proved no click can arrive
    assert(rows === Map(2L -> false, 3L -> true))
  }

  test("streaming dedup drops re-delivered fingerprints across micro-batches") {
    val dir = Files.createTempDirectory("graft_sdocs").toString
    // two appends → multiple files → multiple micro-batches; doc 3 is a
    // duplicate of doc 1 after whitespace/case normalization
    Seq((1L, ts("2024-01-01 10:00:00"), "Alpha  Beta"),
      (2L, ts("2024-01-01 10:05:00"), "gamma")).toDF("doc_id", "ts", "text")
      .coalesce(1).write.mode("append").parquet(dir)
    Seq((3L, ts("2024-01-01 10:20:00"), "alpha beta"),
      (4L, ts("2024-01-01 10:25:00"), "delta")).toDF("doc_id", "ts", "text")
      .coalesce(1).write.mode("append").parquet(dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = StreamingOps.streamingDedup(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_dckpt").toString)
      .start()
    q.processAllAvailable()
    q.stop()
    val out = spark.table("dedup_out").collect()
    assert(out.length === 3)
    val keptIds = out.map(_.getLong(0)).toSet
    assert(keptIds.contains(2L) && keptIds.contains(4L))
    assert(keptIds.contains(1L) ^ keptIds.contains(3L)) // exactly one survivor
  }

  test("streaming CMS sink: merged counters equal the batch sketch exactly") {
    import graft.sources.{Storage, TableRef}
    import org.apache.spark.sql.types._
    val feed = Files.createTempDirectory("graft_cms_feed").toString
    val all = Tables.events(spark, sf).select(col("event_type"), col("user_id"))
    val rows = all.collect()
    rows.grouped(math.max(1, (rows.length + 2) / 3)).foreach { chunk =>
      spark.createDataFrame(
        java.util.Arrays.asList(chunk.toIndexedSeq: _*), all.schema)
        .coalesce(1).write.mode("append").parquet(feed)
      Thread.sleep(20)
    }
    val stream = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", 1).parquet(feed)
    val ref = TableRef(Files.createTempDirectory("graft_cms_tbl").toString,
      "index", "cms")
    val ckpt = Files.createTempDirectory("graft_cms_ckpt").toString
    val q = StreamingOps.cmsSink(stream, "event_type", d = 3, w = 64,
      ref, ckpt)
    q.processAllAvailable()
    q.stop()
    def counters(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val merged = counters(StreamingOps.cmsMerged(spark, ref))
    val batch = counters(
      graft.functions.Sketches.cmsCounters(all, "event_type", 3, 64))
    assert(merged === batch) // counter addition commutes: merge ≡ batch
    // replay from a fresh checkpoint: batch_id overwrite keeps it exactly-once
    val q2 = StreamingOps.cmsSink(
      spark.readStream.schema(all.schema)
        .option("maxFilesPerTrigger", 1).parquet(feed),
      "event_type", d = 3, w = 64, ref,
      Files.createTempDirectory("graft_cms_ckpt2").toString)
    q2.processAllAvailable()
    q2.stop()
    assert(counters(StreamingOps.cmsMerged(spark, ref)) === batch)
  }

  test("streaming chunk dedup: as-of-arrival stats, index converges, replay exact") {
    import graft.sources.{Storage, TableRef}
    import org.apache.spark.sql.types._
    val docsDir = Files.createTempDirectory("graft_cdocs").toString
    val all = Tables.documents(spark, sf).filter(col("doc_id") < 300)
      .select(col("doc_id"), col("text"))
    all.filter(col("doc_id") < 150).coalesce(1).write.parquet(s"$docsDir/f1")
    all.filter(col("doc_id") >= 150).coalesce(1).write.parquet(s"$docsDir/f2")
    new java.io.File(docsDir).listFiles().filter(_.isDirectory).foreach { d =>
      d.listFiles().filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach {
        case (f, i) => Files.move(f.toPath,
          Paths.get(s"$docsDir/${d.getName}_$i.parquet"))
      }
      d.listFiles().foreach(_.delete()); d.delete()
    }
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    def stream() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(docsDir)
    val root = Files.createTempDirectory("graft_cdedup").toString
    val indexRef = TableRef(s"$root/index", "index", "chunks")
    val statsRef = TableRef(s"$root/stats", "index", "stats")
    val q = StreamingOps.chunkDedupSink(stream(), indexRef, statsRef,
      Files.createTempDirectory("graft_cdckpt").toString)
    q.processAllAvailable()
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_chunks", "n_dup_chunks", "dup_fraction")
        .collect().map(_.toString).sorted.toSeq
    // the maintained index converges to the batch build over the full feed
    val merged = Storage.readTable(spark, indexRef)
      .groupBy("h").agg(sum(col("occ")).as("occ"))
    val batchIdx = graft.operators.DedupOps.buildChunkIndex(all)
    assert(merged.except(batchIdx).count() === 0)
    assert(batchIdx.except(merged).count() === 0)
    // as-of-arrival: the LAST batch's stats equal the batch pass over the
    // full corpus restricted to it; the first batch sees only itself
    val stats = Storage.readTable(spark, statsRef)
    assert(rows(stats.filter(col("doc_id") >= 150)) ===
      rows(graft.operators.DedupOps.chunkDupStats(all)
        .filter(col("doc_id") >= 150)))
    assert(rows(stats.filter(col("doc_id") < 150)) ===
      rows(graft.operators.DedupOps.chunkDupStats(
        all.filter(col("doc_id") < 150))))
    val nStats = stats.count()
    val nIdx = Storage.readTable(spark, indexRef).count()
    // replay from a fresh checkpoint: exactly-once through the batch_id
    // partition overwrites — same stats, same index, no duplicates
    val q2 = StreamingOps.chunkDedupSink(stream(), indexRef, statsRef,
      Files.createTempDirectory("graft_cdckpt2").toString)
    q2.processAllAvailable()
    q2.stop()
    assert(Storage.readTable(spark, statsRef).count() === nStats)
    assert(Storage.readTable(spark, indexRef).count() === nIdx)
  }

  test("streaming span dedup: as-of-arrival spans, index converges, replay exact") {
    import graft.sources.{Storage, TableRef}
    import org.apache.spark.sql.types._
    val docsDir = Files.createTempDirectory("graft_spdocs").toString
    val all = Tables.documents(spark, sf).filter(col("doc_id") < 300)
      .select(col("doc_id"), col("text"))
    all.filter(col("doc_id") < 150).coalesce(1).write.parquet(s"$docsDir/f1")
    all.filter(col("doc_id") >= 150).coalesce(1).write.parquet(s"$docsDir/f2")
    new java.io.File(docsDir).listFiles().filter(_.isDirectory).foreach { d =>
      d.listFiles().filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach {
        case (f, i) => Files.move(f.toPath,
          Paths.get(s"$docsDir/${d.getName}_$i.parquet"))
      }
      d.listFiles().foreach(_.delete()); d.delete()
    }
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    def stream() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(docsDir)
    val root = Files.createTempDirectory("graft_spdedup").toString
    val indexRef = TableRef(s"$root/index", "index", "grams")
    val spansRef = TableRef(s"$root/spans", "index", "spans")
    val q = StreamingOps.spanDedupSink(stream(), indexRef, spansRef,
      Files.createTempDirectory("graft_spckpt").toString)
    q.processAllAvailable()
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "span_start", "span_words")
        .collect().map(_.toString).sorted.toSeq
    // merged index == batch build over the full feed
    val merged = Storage.readTable(spark, indexRef)
      .groupBy("h").agg(sum(col("df")).as("df"))
    val batchIdx = graft.operators.DedupOps.buildSpanIndex(all)
    assert(merged.except(batchIdx).count() === 0)
    assert(batchIdx.except(merged).count() === 0)
    // as-of-arrival: last batch == batch pass over the full corpus
    // restricted to it; first batch sees only itself
    val spans = Storage.readTable(spark, spansRef)
    assert(rows(spans.filter(col("doc_id") >= 150)) ===
      rows(graft.operators.DedupOps.duplicatedSpans(all)
        .filter(col("doc_id") >= 150)))
    assert(rows(spans.filter(col("doc_id") < 150)) ===
      rows(graft.operators.DedupOps.duplicatedSpans(
        all.filter(col("doc_id") < 150))))
    val nSpans = spans.count()
    val nIdx = Storage.readTable(spark, indexRef).count()
    val q2 = StreamingOps.spanDedupSink(stream(), indexRef, spansRef,
      Files.createTempDirectory("graft_spckpt2").toString)
    q2.processAllAvailable()
    q2.stop()
    assert(Storage.readTable(spark, spansRef).count() === nSpans)
    assert(Storage.readTable(spark, indexRef).count() === nIdx)
  }

  test("streaming incremental dedup accumulates exactly the batch pair set") {
    import graft.sources.{Storage, TableRef}
    import org.apache.spark.sql.types._
    val docsDir = Files.createTempDirectory("graft_sdocs").toString
    val all = Tables.documents(spark, sf).filter(col("doc_id") < 300)
      .select(col("doc_id"), col("text"))
    // two arriving files → two micro-batches, each checked only against
    // the index accumulated so far
    all.filter(col("doc_id") < 150).coalesce(1).write.parquet(s"$docsDir/f1")
    all.filter(col("doc_id") >= 150).coalesce(1).write.parquet(s"$docsDir/f2")
    new java.io.File(docsDir).listFiles().filter(_.isDirectory).foreach { d =>
      d.listFiles().filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach {
        case (f, i) => Files.move(f.toPath,
          Paths.get(s"$docsDir/${d.getName}_$i.parquet"))
      }
      d.listFiles().foreach(_.delete()); d.delete()
    }
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(docsDir)
    val root = Files.createTempDirectory("graft_sdedup").toString
    val bandsRef = TableRef(s"$root/bands", "index", "bands")
    val setsRef = TableRef(s"$root/sets", "index", "sets")
    val pairsRef = TableRef(s"$root/pairs", "index", "pairs")
    val q = StreamingOps.incrementalDedupSink(stream, bandsRef, setsRef,
      pairsRef, Files.createTempDirectory("graft_sdckpt").toString)
    q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    def pairSet() = Storage.readTable(spark, pairsRef)
      .select("id_a", "id_b", "jaccard").collect().map(key).toSet
    def pairCount() = Storage.readTable(spark, pairsRef).count()
    val streamed = pairSet()
    val batch = graft.operators.DedupOps.minhashNearDups(all)
      .collect().map(key).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty, "fixture must contain near-dups")
    val nPairs = pairCount()
    // the maintained index equals a from-scratch batch index build
    val (bBands, bSets) = graft.operators.DedupOps.buildNearDupIndex(all)
    def stored(ref: graft.sources.TableRef) =
      Storage.readTable(spark, ref).drop("batch_id")
    assert(stored(bandsRef).except(bBands).count() === 0)
    assert(bBands.except(stored(bandsRef)).count() === 0)
    assert(stored(setsRef).except(bSets).count() === 0)
    assert(bSets.except(stored(setsRef)).count() === 0)
    val nBands = stored(bandsRef).count()
    // REPLAY: a fresh checkpoint re-delivers every micro-batch against the
    // already-written tables (foreachBatch is at-least-once) — the
    // batch_id-partition overwrites must keep the sink exactly-once:
    // same pairs, same counts, no duplicates
    val q2 = StreamingOps.incrementalDedupSink(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(docsDir),
      bandsRef, setsRef, pairsRef,
      Files.createTempDirectory("graft_sdckpt2").toString)
    q2.processAllAvailable()
    q2.stop()
    assert(pairSet() === batch, "replay must not change the pair set")
    assert(pairCount() === nPairs, "replay must not duplicate pair rows")
    assert(stored(bandsRef).count() === nBands,
      "replay must not duplicate index rows")
    // COMPACTION: fold the committed batch partitions into the clustered
    // base partition — content identical, every row lands in batch_id=-1,
    // and a later delta sees exactly the same index as a from-scratch
    // batch build (the maintenance op SURVEY's index-growth mitigation
    // names, run AFTER checkpoint commit per its precondition)
    val maxBatch = Storage.readTable(spark, bandsRef)
      .agg(max(col("batch_id").cast("long"))).first().getLong(0)
    StreamingOps.compactDedupIndex(spark, bandsRef, setsRef, maxBatch)
    assert(stored(bandsRef).except(bBands).count() === 0)
    assert(bBands.except(stored(bandsRef)).count() === 0)
    assert(stored(setsRef).except(bSets).count() === 0)
    assert(bSets.except(stored(setsRef)).count() === 0)
    assert(Storage.readTable(spark, bandsRef).select(col("batch_id").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSeq === Seq(-1L),
      "all index rows must fold into the base partition")
    val nextDelta = Tables.documents(spark, sf)
      .filter(col("doc_id") >= 300 && col("doc_id") < 350)
      .select(col("doc_id"), col("text"))
    def incr(b: org.apache.spark.sql.DataFrame,
             s: org.apache.spark.sql.DataFrame) =
      graft.operators.DedupOps.incrementalNearDupsIndexed(nextDelta, b, s)
        .collect().map(key).toSet
    assert(incr(stored(bandsRef), stored(setsRef)) === incr(bBands, bSets),
      "a delta against the compacted index must equal the batch-index result")
  }

  test("streaming HNSW maintenance: latest state == cold batch build " +
    "bit-exactly; replay rewrites the same states") {
    import graft.operators.SimilarityOps
    import graft.sources.TableRef
    val all = Tables.embeddings(spark, sf)
    val vecsDir = Files.createTempDirectory("graft_hnswvec").toString
    // three ID-ORDERED micro-batches — the append-only regime the
    // rebuild identity composes over
    all.filter(col("vec_id") < 200).coalesce(1).write.parquet(s"$vecsDir/f1")
    all.filter(col("vec_id") >= 200 && col("vec_id") < 350)
      .coalesce(1).write.parquet(s"$vecsDir/f2")
    all.filter(col("vec_id") >= 350).coalesce(1).write.parquet(s"$vecsDir/f3")
    new java.io.File(vecsDir).listFiles().filter(_.isDirectory).foreach { d =>
      d.listFiles().filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach {
        case (f, i) => Files.move(f.toPath,
          Paths.get(s"$vecsDir/${d.getName}_$i.parquet"))
      }
      d.listFiles().foreach(_.delete()); d.delete()
    }
    val schema = spark.read.parquet(vecsDir).schema
    val root = Files.createTempDirectory("graft_hnswidx").toString
    val vecsRef = TableRef(s"$root/vecs", "index", "hnswvecs")
    val graphDir = s"$root/graph"
    def startSink(ckpt: String) = StreamingOps.hnswSink(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(vecsDir),
      vecsRef, graphDir, ckpt)
    val q = startSink(Files.createTempDirectory("graft_hnswck").toString)
    q.processAllAvailable()
    q.stop()
    def edges(df: org.apache.spark.sql.DataFrame): Set[(Int, Int, Long, Long)] =
      df.select("shard", "level", "src", "dst").collect().map(r =>
        (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    def versions(): Seq[Long] =
      new java.io.File(graphDir).listFiles().toSeq.map(_.getName)
        .filter(_.startsWith("v=")).map(_.stripPrefix("v=").toLong).sorted
    val vs = versions()
    assert(vs.size === 3, s"expected 3 state versions, got $vs")
    val latest = edges(spark.read.parquet(s"$graphDir/v=${vs.last}"))
    assert(latest === edges(SimilarityOps.hnswBuild(all)),
      "streamed state chain must equal the cold batch build")
    // intermediate versions are the prefix builds
    assert(edges(spark.read.parquet(s"$graphDir/v=${vs.head}")) ===
      edges(SimilarityOps.hnswBuild(all.filter(col("vec_id") < 200))))
    // replay from a fresh checkpoint: every version deterministically
    // rewritten, latest unchanged, vector table not duplicated
    val nVecs = spark.read.parquet(vecsRef.path).count()
    val q2 = startSink(Files.createTempDirectory("graft_hnswck2").toString)
    q2.processAllAvailable()
    q2.stop()
    assert(versions() === vs, "replay must not mint new versions")
    assert(edges(spark.read.parquet(s"$graphDir/v=${vs.last}")) === latest,
      "replay must rewrite the same latest state")
    assert(spark.read.parquet(vecsRef.path).count() === nVecs,
      "replay must not duplicate vectors")
    // version GC keeps only the latest committed state; queries on it
    // are unaffected
    StreamingOps.pruneHnswVersions(graphDir, vs.last)
    assert(versions() === Seq(vs.last), "GC must keep only the latest")
    assert(edges(spark.read.parquet(s"$graphDir/v=${vs.last}")) === latest)
  }

  test("streaming semantic dedup sink == batch within-cluster pairs + index") {
    import graft.operators.SimilarityOps
    import graft.sources.{Storage, TableRef}
    val all = Tables.embeddings(spark, sf)
    val cents = SimilarityOps.kmeansCentroids(all, 16, iters = 2,
      trainSample = 512)
    val vecsDir = Files.createTempDirectory("graft_semvec").toString
    all.filter(col("vec_id") < 50).coalesce(1).write.parquet(s"$vecsDir/f1")
    all.filter(col("vec_id") >= 50).coalesce(1).write.parquet(s"$vecsDir/f2")
    new java.io.File(vecsDir).listFiles().filter(_.isDirectory).foreach { d =>
      d.listFiles().filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach {
        case (f, i) => Files.move(f.toPath,
          Paths.get(s"$vecsDir/${d.getName}_$i.parquet"))
      }
      d.listFiles().foreach(_.delete()); d.delete()
    }
    val schema = spark.read.parquet(vecsDir).schema
    val root = Files.createTempDirectory("graft_semidx").toString
    val indexRef = TableRef(s"$root/index", "index", "semantic")
    val pairsRef = TableRef(s"$root/pairs", "index", "sempairs")
    def startSink(ckpt: String) = StreamingOps.semanticDedupSink(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(vecsDir),
      cents, threshold = 0.4, indexRef, pairsRef, ckpt)
    val q = startSink(Files.createTempDirectory("graft_semck").toString)
    q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    def pairSet() = Storage.readTable(spark, pairsRef)
      .select("id_a", "id_b", "cosine").collect().map(key).toSet
    // batch expectation: exact all-pairs restricted to same assigned
    // cluster under the SAME fixed centroids
    val assign = SimilarityOps.ivfAssign(all, cents)
    val batch = SimilarityOps.nearDupPairs(all, threshold = 0.4)
      .join(assign.select(col("vec_id").as("id_a"), col("cid").as("ca")),
        Seq("id_a"))
      .join(assign.select(col("vec_id").as("id_b"), col("cid").as("cb")),
        Seq("id_b"))
      .filter(col("ca") === col("cb"))
      .select(col("id_a"), col("id_b"), col("cosine"))
      .collect().map(key).toSet
    val streamed = pairSet()
    assert(streamed === batch)
    assert(streamed.nonEmpty, "fixture must contain semantic dups")
    // the maintained index equals a from-scratch batch assignment index
    val bIdx = SimilarityOps.buildSemanticIndex(all, cents)
    val sIdx = Storage.readTable(spark, indexRef).drop("batch_id")
    assert(sIdx.except(bIdx).count() === 0)
    assert(bIdx.except(sIdx).count() === 0)
    val nPairs = Storage.readTable(spark, pairsRef).count()
    // replay from a fresh checkpoint: batch_id-partition overwrites keep
    // the sink exactly-once — same pairs, no duplicate rows
    val q2 = startSink(Files.createTempDirectory("graft_semck2").toString)
    q2.processAllAvailable()
    q2.stop()
    assert(pairSet() === batch, "replay must not change the pair set")
    assert(Storage.readTable(spark, pairsRef).count() === nPairs,
      "replay must not duplicate pair rows")
    // compaction folds every committed batch partition into the
    // cid-clustered base; content identical, all rows in batch_id=-1
    val maxBatch = Storage.readTable(spark, indexRef)
      .agg(max(col("batch_id").cast("long"))).first().getLong(0)
    StreamingOps.compactSemanticIndex(spark, indexRef, maxBatch)
    val cIdx = Storage.readTable(spark, indexRef)
    assert(cIdx.drop("batch_id").except(bIdx).count() === 0)
    assert(bIdx.except(cIdx.drop("batch_id")).count() === 0)
    assert(cIdx.select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq === Seq(-1L),
      "all index rows must fold into the base partition")
  }

  test("streaming upsert sink lands last-writer-wins state per key") {
    import graft.sources.{Storage, TableRef}
    val in = Files.createTempDirectory("graft_upsert_in").toString
    val lake = Files.createTempDirectory("graft_upsert_lake").toString
    val ref = TableRef(lake, "silver", "kv")
    // two micro-batches (maxFilesPerTrigger=1): batch 1 sets k=1,2; batch 2
    // updates k=2 twice (within-batch conflict) and inserts k=3
    Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "seq", "v")
      .repartition(1).write.parquet(s"$in/f1")
    Seq((2L, 21L, "b2"), (2L, 22L, "b3"), (3L, 30L, "c")).toDF("k", "seq", "v")
      .repartition(1).write.parquet(s"$in/f2")
    // flatten into the stream dir; mod times force f1 < f2 batch order
    new java.io.File(in).listFiles().filter(_.isDirectory).foreach { d =>
      d.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        val dest = new java.io.File(s"$in/${d.getName}.parquet")
        Files.move(f.toPath, dest.toPath)
        dest.setLastModified(
          if (d.getName == "f1") 1700000000000L else 1700000060000L)
      }
      d.listFiles().foreach(_.delete()); d.delete()
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("seq", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val q = StreamingOps.upsertSink(stream, ref, Seq("k"), "seq",
      Files.createTempDirectory("graft_uckpt").toString)
    q.processAllAvailable()
    q.stop()
    val state = Storage.readTable(spark, ref).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(state === Map(1L -> (10L, "a"), 2L -> (22L, "b3"), 3L -> (30L, "c")))
  }

  test("stateless curation ops (PII redact + quality metrics) stream as-is") {
    // the per-row curation tier is all Column projections, so the SAME
    // operator code runs under readStream with zero changes — micro-batched
    // output must equal the batch run row-for-row
    import graft.operators.TextOps
    val docs = Tables.documents(spark, sf)
    val in = Files.createTempDirectory("graft_cur_in").toString
    docs.repartition(3).write.mode("overwrite").parquet(in)
    def curate(df: org.apache.spark.sql.DataFrame) =
      TextOps.piiRedact(TextOps.qualityMetrics(df))
        .select(col("doc_id"), col("n_words"), col("punct_ratio"),
          col("redacted"), col("was_redacted"))
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val q = curate(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("curated_out")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_cur_ckpt").toString)
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("curated_out").collect().map(_.toString).toSet
    val batch = curate(docs).collect().map(_.toString).toSet
    assert(streamed === batch)
  }

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)
}
