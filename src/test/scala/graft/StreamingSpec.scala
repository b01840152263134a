package graft

import graft.streaming.StreamingOps
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpecBase {
  import spark.implicits._

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

  test("q_events_sessions: every session ends at or after its start") {
    // the 30-minute rule that defines the query: a user's next session
    // starts more than 30 min after the previous one ends, a session
    // breaks at every gap of more than 30 min between a user's events, and
    // every event lands in exactly one session
    import org.apache.spark.sql.expressions.Window
    val gapMs = 30 * 60000L
    val sessions = SparkEntry.queries("q_events_sessions")(spark, sf)
    val events = Tables.events(spark, sf)
    assert(sessions.count() > 0)
    assert(sessions.filter(
      unix_millis(col("session_end")) < unix_millis(col("session_start"))).count() === 0)
    val bySession = Window.partitionBy(col("user_id")).orderBy(col("session_start"))
    val closeSessions = sessions
      .withColumn("prev_end", lag(col("session_end"), 1).over(bySession))
      .filter(unix_millis(col("session_start")) - unix_millis(col("prev_end")) <= gapMs)
      .count()
    assert(closeSessions === 0, "consecutive sessions of a user within 30 min")
    val byTs = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val breaks = events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byTs))
      .filter(unix_millis(col("ts")) - unix_millis(col("prev_ts")) > gapMs)
      .count()
    val users = events.select(col("user_id")).distinct().count()
    assert(sessions.count() === users + breaks, "one session per user plus one per break")
    assert(sessions.agg(sum(col("n_events"))).first().getLong(0) === events.count())
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
    val q = graft.queries.EventQueries.purchaseAttributionOuter(stream)
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
    // a later delta checked against the maintained index sees exactly
    // what it would against a from-scratch batch build
    val nextDelta = Tables.documents(spark, sf)
      .filter(col("doc_id") >= 300 && col("doc_id") < 350)
      .select(col("doc_id"), col("text"))
    def incr(b: org.apache.spark.sql.DataFrame,
             s: org.apache.spark.sql.DataFrame) =
      graft.operators.DedupOps.incrementalNearDupsIndexed(nextDelta, b, s)
        .collect().map(key).toSet
    assert(incr(stored(bandsRef), stored(setsRef)) === incr(bBands, bSets),
      "a delta against the maintained index must equal the batch-index result")
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
