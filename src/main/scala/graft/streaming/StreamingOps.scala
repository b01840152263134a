package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming over the events table (SURVEY §2.9).
  *
  * The reference has no streaming runtime — its incremental batch
  * (checkpoint high-water-mark + append/full-rewrite) is covered by
  * [[graft.pipeline.Pipeline]]. This module maps the same semantics onto
  * real streams: file-source micro-batches, event-time watermarks, tumbling
  * windows, and custom session state via `flatMapGroupsWithState` — the
  * Spark-native form the reference would need the day its input became a
  * feed instead of a nightly dump.
  *
  * At scale: windowed aggregation state is partitioned by (window, key) in
  * the state store; sessionization state by user — both shard across
  * executors with no driver involvement.
  */
object StreamingOps {

  /** File-source stream of event rows (one parquet file per micro-batch).
    *
    * A file stream needs its schema declared up front, but the fixture's
    * `ts` encoding has drifted across driver generations (int64 nanos,
    * then timestamp[us]/NTZ) — so instead of hard-coding one encoding,
    * sniff the schema from the files already in the feed directory (every
    * caller seeds the feed before declaring the stream) and normalize `ts`
    * with the same [[graft.Tables.normalizeEventTs]] the batch reader
    * uses. Hard-coding int64-nanos against a timestamp[us] file silently
    * read micros as nanos — every event time landed in 1970. */
  def readEventsStream(spark: SparkSession, dir: String): DataFrame = {
    // Declaring a stream over a not-yet-seeded feed directory is legal
    // (the sink starts before the producer), so when the sniff finds no
    // files fall back to the current driver generation's encoding;
    // normalizeEventTs accepts every encoding either path yields.
    val onDisk =
      try spark.read.parquet(dir).schema
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage != null &&
              (e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") ||
                e.getMessage.contains("PATH_NOT_FOUND")) =>
          defaultEventsSchema
      }
    graft.Tables.normalizeEventTs(
      spark.readStream
        .schema(onDisk)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir))
  }

  /** Fallback schema for an empty feed: the current fixture generation
    * (timestamp[us] without tz → TIMESTAMP_NTZ under Spark 4's parquet
    * inference; normalizeEventTs also handles the int64-nanos generation
    * if files of that vintage later land in the feed). */
  private val defaultEventsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampNTZType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
  }

  /** Tumbling 1-hour windows per event type with a 2-hour watermark:
    * count + sum(value). Append-mode compatible (finalized on watermark). */
  def hourlyTypeCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Hopping (sliding) windows — 1-hour length, 15-minute hop — per event
    * type. Each event contributes to length/hop = 4 overlapping windows;
    * Spark expands the slide into a generator before the aggregate, so the
    * shuffle key is still (window, type) and state is bounded by open
    * windows × types, finalized in append mode once the watermark passes
    * window end. Batch twin: `q_hopping_window` (oracle-checked). */
  def hoppingTypeCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Stream-stream interval join: each purchase joined to the same user's
    * clicks in the preceding hour (attribution). Both sides are
    * watermarked, so Spark bounds the join state to watermark + interval —
    * without the bounds a stream-stream join must buffer one side forever.
    * The same code runs on batch DataFrames (withWatermark is a no-op),
    * which is how the spec proves stream/batch equivalence. */
  def purchaseAttribution(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "2 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", "2 hours")
    purchases.join(clicks,
      col("c_user") === col("user_id") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") <= col("purchase_ts"))
      .drop("c_user")
  }

  /** LEFT OUTER stream-stream interval join: like [[purchaseAttribution]],
    * but purchases with NO click in the preceding hour still emit — with
    * null click columns — once the watermark passes their join window.
    * This is the semantically hard half of stream-stream joins: an inner
    * join can emit on match, but "no match" is only knowable when the
    * watermark proves no qualifying click can still arrive, so unmatched
    * rows surface with watermark delay, not immediately (StreamingSpec
    * drives the watermark forward with a sentinel event to observe them
    * deterministically). State bounds are the inner join's. */
  def purchaseAttributionOuter(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "2 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", "2 hours")
    purchases.join(clicks,
      col("c_user") === col("user_id") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") <= col("purchase_ts"),
      "left_outer")
      .drop("c_user")
  }

  /** Gap-based sessions via the BUILT-IN session_window aggregation —
    * Catalyst manages merge/expiry state, no custom state function. The
    * declarative twin of [[sessionize]] (flatMapGroupsWithState), same
    * 30-minute-gap semantics: a session's window extends `gap` past its
    * last event; an event landing inside extends it, past it starts a new
    * one. Use this form when per-session logic is pure aggregation; drop
    * to sessionize only for custom state transitions. */
  def sessionWindowStats(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("total_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("n_events"), col("total_value"))

  /** Streaming exact dedup of a document feed: drop re-deliveries whose
    * normalized-text fingerprint was already seen within the watermark
    * delay. `dropDuplicatesWithinWatermark` evicts fingerprint state older
    * than the delay — the only way dedup state stays bounded on an
    * unbounded stream (plain dropDuplicates state grows forever). Pairs
    * with the batch [[graft.operators.DedupOps.exactDedup]]: same
    * fingerprint, so a doc admitted by the stream maps to the same dedup
    * group a later batch compaction would compute. */
  def streamingDedup(docs: DataFrame, textCol: String = "text",
                     tsCol: String = "ts",
                     watermarkDelay: String = "1 hour"): DataFrame =
    docs
      .withColumn("fingerprint",
        md5(graft.operators.TextOps.normalize(col(textCol)).cast("binary")))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("fingerprint")

  /** Streaming bronze→silver: bars files land in `bronzeDir`, each
    * micro-batch flows through the SAME split-adjustment transform the
    * batch pipeline uses and lands in silver — the foreachBatch bridge
    * that turns the reference's nightly incremental into a continuous one
    * without forking the business logic. Writes are replay-idempotent
    * (batch_id partitions — see [[idempotentBatchAppend]]); readers that
    * want the plain silver schema drop the `batch_id` lineage column.
    * Returns the started query; caller stops it. */
  def incrementalSilver(spark: SparkSession, bronzeDir: String,
                        splits: DataFrame, silverRef: graft.sources.TableRef,
                        checkpointDir: String)
  : org.apache.spark.sql.streaming.StreamingQuery = {
    val barsSchema = StructType(Seq(
      StructField("ticker", StringType), StructField("date", DateType),
      StructField("open", DoubleType), StructField("high", DoubleType),
      StructField("low", DoubleType), StructField("close", DoubleType),
      StructField("volume", LongType), StructField("transactions", LongType)))
    spark.readStream.schema(barsSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(bronzeDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        idempotentBatchAppend(
          graft.functions.GraftFunctions.coerceTo(
            graft.operators.SilverOps.applySplits(batch.toDF(), splits),
            graft.Schemas.silverDaily),
          silverRef, batchId)
      }
      .start()
  }

  /** Streaming silver→gold: completes the continuous medallion. Each new
    * silver micro-batch recomputes VWAP signals for ONLY the tickers it
    * touched (anchored VWAP needs a ticker's full history, but never the
    * other tickers') and upserts them into the gold table — the incremental
    * gold rebuild the reference schedules nightly, as a running stream.
    *
    * The gold table is hive-partitioned on `tbucket` (a hash bucket of the
    * ticker — a ticker's whole history co-locates, and the bucket is a
    * function of the merge key so a key can never migrate partitions), and
    * each micro-batch merges through
    * [[graft.operators.MergeOps.upsertPartitioned]]: only the buckets whose
    * tickers the batch touched are read or rewritten. That is the per-batch
    * cost model a stream needs — O(touched buckets), not O(gold) — where
    * the pre-r5 full read + [[graft.sources.Storage.overwriteWithSwap]]
    * rewrote the entire gold table every micro-batch. At scale the
    * recompute set is the day's active tickers, not the universe, and the
    * write set is their buckets, not the table. Returns the started query;
    * caller stops it. */
  def incrementalGold(spark: SparkSession, silverDir: String,
                      silverRef: graft.sources.TableRef,
                      goldRef: graft.sources.TableRef,
                      checkpointDir: String,
                      tickerBuckets: Int = 16)
  : org.apache.spark.sql.streaming.StreamingQuery = {
    spark.readStream
      .schema(graft.Schemas.silverDaily)
      .option("maxFilesPerTrigger", 1)
      .parquet(silverDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val s = batch.sparkSession
        val touched = batch.toDF().select("ticker").distinct()
        val history = graft.sources.Storage.readTable(s, silverRef)
          .join(org.apache.spark.sql.functions.broadcast(touched), Seq("ticker"),
            "left_semi")
        val fresh = graft.operators.GoldOps.vwapSignals(history)
          .withColumn("tbucket",
            pmod(xxhash64(col("ticker")), lit(tickerBuckets)).cast("int"))
        if (graft.sources.Storage.tableExists(s, goldRef))
          graft.operators.MergeOps.upsertPartitioned(
            s, goldRef, fresh, Seq("ticker", "date"), "tbucket")
        else graft.sources.Storage.writeTable(
          // one writer per bucket directory on the initial load, same as
          // the merge path's repartition — not |tasks|×|dirs| small files
          fresh.repartition(col("tbucket")), goldRef,
          partitionBy = Seq("tbucket"))
      }
      .start()
  }

  /** Append for foreachBatch sinks that survives micro-batch REPLAY.
    * foreachBatch is at-least-once: a crash between the table write and
    * the checkpoint commit re-delivers the batch, and a plain
    * SaveMode.Append would land its rows twice. Writing each batch into
    * its own `batch_id=<id>` partition under per-write dynamic overwrite
    * makes the replay rewrite the same partition instead — exactly-once
    * end-to-end, at the cost of a visible `batch_id` partition column
    * (which is also the write's lineage). */
  private def idempotentBatchAppend(df: DataFrame, ref: graft.sources.TableRef,
                                    batchId: Long): Unit =
    df.withColumn("batch_id", lit(batchId))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .option("compression", "zstd")
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("batch_id")
      .parquet(ref.path)

  /** Streaming incremental near-dup: each micro-batch of documents is
    * checked against the STORED LSH index (pairs vs everything already
    * indexed, plus within-batch), discovered pairs append to `pairsRef`,
    * and the batch's own bands + per-doc hash sets append to the index
    * tables — the streaming twin of
    * [[graft.operators.DedupOps.incrementalNearDupsIndexed]], maintaining
    * the same two tables batch
    * [[graft.operators.DedupOps.buildNearDupIndex]] produces. The sets
    * form matters per-batch: verification touches the stored corpus only
    * through member lookups, so micro-batch cost is O(batch + candidates)
    * — a stored-shingle index would re-aggregate the corpus every batch.
    * No stored×stored pair is ever re-examined, so the accumulated pairs
    * table converges to EXACTLY the batch near-dup result over the full
    * corpus (every pair is discovered when its later member arrives —
    * StreamingSpec asserts the equality). Returns the started query. */
  def incrementalDedupSink(docs: DataFrame, bandsRef: graft.sources.TableRef,
                           setsRef: graft.sources.TableRef,
                           pairsRef: graft.sources.TableRef,
                           checkpointDir: String)
  : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.DedupOps
    import graft.pipeline.Jobs
    import graft.sources.Storage
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val s = batch.sparkSession
        val b = batch.toDF()
        // lazy, never executed: only the .limit(0) schema stand-ins below
        // read these (PropagateEmptyRelation folds them away)
        val (bandsSchema, setsSchema) = DedupOps.buildNearDupIndex(b)
        val storedBands =
          if (Storage.tableExists(s, bandsRef))
            // a replayed batch must not see its own previous (partial)
            // index writes as "stored", or within-batch pairs double
            Storage.readTable(s, bandsRef).filter(col("batch_id") < batchId)
          else bandsSchema.limit(0).withColumn("batch_id", lit(0L))
        val storedSets =
          if (Storage.tableExists(s, setsRef))
            Storage.readTable(s, setsRef).filter(col("batch_id") < batchId)
          else setsSchema.limit(0).withColumn("batch_id", lit(0L))
        // the WithDelta variant hands back the batch's own (bands, sets)
        // STILL CACHED from the pairing pass — appending them re-reads the
        // cache instead of re-running the batch's whole hashing pipeline
        // (the plain variant releases those caches before returning)
        val (pairs, newBands, newSets) = DedupOps.incrementalNearDupsIndexedWithDelta(
          b, storedBands.drop("batch_id"), storedSets.drop("batch_id"))
        // micro-batch outputs are small cached frames: coalesce before the
        // append so each write commits a handful of files, not one per
        // shuffle partition — 3 tables × 32 task-files per batch was a
        // measurable slice of the per-batch fixed cost.
        // The three appends overlap: serialized, their commit tails were
        // the dominant slice of the ~3 s/batch fixed cost. Safe because the
        // pairing already materialized every input (pairs is counted,
        // newBands/newSets persisted — the index tables never see the
        // in-flight batch: reads filter batch_id < current), the three
        // targets are disjoint directories, and replay idempotency is
        // per-table partition overwrite, independent of append order
        // within the batch. "Grow the index after pairing" still holds —
        // pairing COMPUTED before any append starts; only the writes
        // overlap.
        try Jobs.overlap(s, "dedup_sink")(
          "pairs" -> (() => idempotentBatchAppend(pairs.coalesce(4), pairsRef, batchId)),
          "bands" -> (() => idempotentBatchAppend(
            newBands.coalesce(4).sortWithinPartitions("bucket"), bandsRef, batchId)),
          "sets" -> (() => idempotentBatchAppend(
            newSets.coalesce(4).sortWithinPartitions("doc_id"), setsRef, batchId)))
        finally Seq(pairs, newBands, newSets).foreach(_.unpersist(false))
      }
      .start()
  }

  /** Streaming PASSAGE dedup sink — the chunk-granularity member of the
    * incremental trio ([[incrementalDedupSink]] = doc-level bands,
    * [[semanticDedupSink]] = embedding clusters): each micro-batch of
    * documents emits its per-doc chunk-dup stats against the stored
    * chunk-hash occurrence index
    * ([[graft.operators.DedupOps.incrementalChunkDupStats]] over the
    * SUM-merged batch partitions — the h filter pushes through the merge
    * aggregate to the scan, so row-group skipping survives), appends the
    * stats, THEN appends its own chunk counts (h-sorted within
    * partitions, so later batches' pushed IN probes skip the appended
    * files' row groups). Stats are AS-OF-ARRIVAL: a passage first seen in
    * batch k is flagged duplicated on the batch where its repeat arrives.
    * The stored index converges to exactly the batch
    * [[graft.operators.DedupOps.buildChunkIndex]] over the full feed
    * (StreamingSpec asserts both properties, plus exactly-once under
    * replay). */
  def chunkDedupSink(docs: DataFrame, indexRef: graft.sources.TableRef,
                     statsRef: graft.sources.TableRef,
                     checkpointDir: String)
  : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.DedupOps
    import graft.sources.Storage
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val s = batch.sparkSession
        val b = batch.toDF()
        val stored =
          if (Storage.tableExists(s, indexRef))
            // a replayed batch must not see its own previous (partial)
            // writes as stored, or within-batch repeats double-count
            Storage.readTable(s, indexRef).filter(col("batch_id") < batchId)
              .groupBy(col("h")).agg(sum(col("occ")).as("occ"))
          else DedupOps.buildChunkIndex(b.limit(0))
        val stats = DedupOps.incrementalChunkDupStats(b, stored)
        idempotentBatchAppend(stats.coalesce(4), statsRef, batchId)
        stats.unpersist(false)
        idempotentBatchAppend(
          DedupOps.buildChunkIndex(b).coalesce(4).sortWithinPartitions("h"),
          indexRef, batchId)
        ()
      }
      .start()
  }

  /** Streaming SPAN dedup sink — the word-grain member of the incremental
    * quartet in streaming form: each micro-batch emits its duplicated
    * spans against the stored per-gram df index
    * ([[graft.operators.DedupOps.incrementalDuplicatedSpans]] over the
    * SUM-merged batch partitions — summing per-batch DISTINCT-doc counts
    * is exact because a doc lives in one batch), appends the spans, THEN
    * appends its own gram counts (h-sorted within partitions). Spans are
    * AS-OF-ARRIVAL like the chunk sink; the merged index converges to the
    * batch [[graft.operators.DedupOps.buildSpanIndex]] over the full feed
    * (StreamingSpec asserts both, plus exactly-once under replay). */
  def spanDedupSink(docs: DataFrame, indexRef: graft.sources.TableRef,
                    spansRef: graft.sources.TableRef,
                    checkpointDir: String)
  : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.DedupOps
    import graft.sources.Storage
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val s = batch.sparkSession
        val b = batch.toDF()
        val stored =
          if (Storage.tableExists(s, indexRef))
            // a replayed batch must not see its own previous (partial)
            // writes as stored, or within-batch df double-counts
            Storage.readTable(s, indexRef).filter(col("batch_id") < batchId)
              .groupBy(col("h")).agg(sum(col("df")).as("df"))
          else DedupOps.buildSpanIndex(b.limit(0))
        val spans = DedupOps.incrementalDuplicatedSpans(b, stored)
        idempotentBatchAppend(spans.coalesce(4), spansRef, batchId)
        spans.unpersist(false)
        idempotentBatchAppend(
          DedupOps.buildSpanIndex(b).coalesce(4).sortWithinPartitions("h"),
          indexRef, batchId)
        ()
      }
      .start()
  }

  /** Streaming count-min sketch sink: each micro-batch builds its OWN
    * d×w counter table ([[graft.functions.Sketches.cmsCounters]]) and
    * appends it batch_id-partitioned; the live sketch is the per-(j,
    * bucket) SUM over batches — the mergeability that makes CMS the
    * streaming heavy-hitter structure (counter addition commutes, so
    * replayed batches stay exactly-once through the batch_id partition
    * overwrite and the merged sketch equals the batch sketch over the
    * full feed, which StreamingSpec asserts EXACTLY, not approximately).
    * Per-batch state appended is d·w rows regardless of batch size. */
  def cmsSink(rows: DataFrame, valueCol: String, d: Int, w: Int,
              countersRef: graft.sources.TableRef, checkpointDir: String)
  : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.functions.Sketches
    rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        idempotentBatchAppend(
          Sketches.cmsCounters(batch.toDF(), valueCol, d, w).coalesce(1),
          countersRef, batchId)
        ()
      }
      .start()
  }

  /** The merged live sketch from a [[cmsSink]] counter table. */
  def cmsMerged(spark: org.apache.spark.sql.SparkSession,
                countersRef: graft.sources.TableRef): DataFrame =
    graft.sources.Storage.readTable(spark, countersRef)
      .groupBy("j", "bucket").agg(sum(col("cnt")).as("cnt"))

  /** Streaming SEMANTIC dedup sink — the embedding-space twin of
    * [[incrementalDedupSink]]: each micro-batch of (vec_id, embedding)
    * rows finds its cosine-≥-threshold pairs against the stored
    * assignment index ([[graft.operators.SimilarityOps.semanticDedupIncremental]]),
    * appends them, THEN appends its own index rows — so a batch never
    * matches itself through the stored side, and the pairs table
    * converges to exactly the batch within-cluster pair set over the full
    * corpus (every pair is discovered when its later member arrives;
    * StreamingSpec asserts the equality). Centroids are FIXED at sink
    * creation — they are index-build-time state; retraining per batch
    * would silently re-cluster history and break convergence. Index
    * appends sort by cid within partitions so later batches'
    * touched-cluster IN filters skip the appended files' row groups. */
  def semanticDedupSink(vecs: DataFrame,
                        cents: Array[(Long, Seq[Double], Double)],
                        threshold: Double,
                        indexRef: graft.sources.TableRef,
                        pairsRef: graft.sources.TableRef,
                        checkpointDir: String)
  : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.SimilarityOps
    import graft.sources.Storage
    vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val s = batch.sparkSession
        val b = batch.toDF()
        val stored =
          if (Storage.tableExists(s, indexRef))
            // a replayed batch must not see its own previous (partial)
            // index writes as "stored", or within-batch pairs double
            Storage.readTable(s, indexRef).filter(col("batch_id") < batchId)
              .drop("batch_id")
          else SimilarityOps.buildSemanticIndex(b.limit(0), cents)
        val pairs = SimilarityOps.semanticDedupIncremental(
          b, stored, threshold, cents)
        idempotentBatchAppend(pairs.coalesce(4), pairsRef, batchId)
        pairs.unpersist(false)
        idempotentBatchAppend(
          SimilarityOps.buildSemanticIndex(b, cents)
            .coalesce(4).sortWithinPartitions("cid"),
          indexRef, batchId)
        ()
      }
      .start()
  }

  /** Fold the streaming dedup index's absorbed batch partitions into ONE
    * clustered base partition (`batch_id = -1`), restoring the
    * point-lookup layout the batch index builder guarantees
    * ([[graft.operators.DedupOps.writeNearDupIndex]]: range-partitioned +
    * sorted by the lookup key, so later batches' pushed IN filters skip
    * row groups) which per-batch appends only approximate. Batches newer
    * than `upToBatch` keep their own partitions untouched; a previously
    * compacted base (-1 ≤ upToBatch) folds in with them. The rewrite is a
    * checked-rename swap, and the union adds no shuffle: the base side is
    * range-shuffled once by the clustering, the untouched side streams
    * through.
    *
    * PRECONDITION: `upToBatch` must be ≤ the stream's last COMMITTED
    * batch id. foreachBatch is at-least-once — a replay of batch k
    * rewrites partition `batch_id=k` under dynamic overwrite, which is
    * idempotent only while that partition holds exactly batch k's rows;
    * folding an UNcommitted batch into the base would turn its replay
    * into duplication. Sequence compaction after checkpoint commit, from
    * the maintenance schedule — the same ordering every production
    * stream-plus-compaction system uses. The sink's stored-side read
    * (`batch_id < currentBatch`) sees the base partition unconditionally,
    * since -1 < every batch id. */
  def compactDedupIndex(spark: SparkSession, bandsRef: graft.sources.TableRef,
                        setsRef: graft.sources.TableRef,
                        upToBatch: Long): Unit = {
    compactIndexTable(spark, bandsRef, "bucket", upToBatch)
    compactIndexTable(spark, setsRef, "doc_id", upToBatch)
  }

  /** [[compactDedupIndex]] for the streaming SEMANTIC index: fold the
    * committed batch partitions into one cid-clustered base partition so
    * the touched-cluster IN lookups keep their row-group skipping as the
    * index grows. Same precondition: `upToBatch` ≤ the stream's last
    * COMMITTED batch id. */
  def compactSemanticIndex(spark: SparkSession,
                           indexRef: graft.sources.TableRef,
                           upToBatch: Long): Unit =
    compactIndexTable(spark, indexRef, "cid", upToBatch)

  /** Garbage-collect [[hnswSink]] state versions below the committed
    * watermark: every version except the LATEST at or below `upToBatch`
    * is deleted (later versions are untouched). PRECONDITION — the same
    * as compaction everywhere in this file: `upToBatch` must be ≤ the
    * stream's last COMMITTED batch id, or a replay of an uncommitted
    * batch would find its input version gone. */
  def pruneHnswVersions(graphDir: String, upToBatch: Long): Unit = {
    val dirs = Option(new java.io.File(graphDir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("v="))
      .map(f => (f.getName.stripPrefix("v=").toLong, f))
      .filter(_._1 <= upToBatch)
      .sortBy(_._1)
    dirs.dropRight(1).foreach { case (_, dir) =>
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  /** Streaming maintenance of the partitioned-HNSW graph — the stream
    * twin of [[graft.operators.SimilarityOps.hnswBuild]] via
    * [[graft.operators.SimilarityOps.hnswInsert]]. Each micro-batch
    * (1) advances a graph STATE CHAIN — `graphDir/v=k` holds the full
    * post-batch edge state, computed as hnswInsert(vectors of batches
    * < k, latest state below k, batch k) — and (2) appends its vectors
    * to `vecsRef` under a batch_id partition. The state chain is what
    * makes at-least-once foreachBatch exactly-once HERE: the graph is
    * a rebuild-in-place structure (a delta REPLACES its touched
    * shards' edges), so batch_id appends can't express it; instead a
    * replayed batch re-reads its input version — untouched by the
    * failed attempt — and deterministically rewrites the same output
    * version. With append-only ids across batches the warm-start
    * rebuild identity composes, so the latest version equals the cold
    * `hnswBuild` over everything absorbed — StreamingSpec pins the
    * bit-exact equality and replay idempotence. Versions below the
    * committed watermark are retention to garbage-collect, not
    * correctness (the dedup-compaction discipline). */
  def hnswSink(vecs: DataFrame, vecsRef: graft.sources.TableRef,
               graphDir: String, checkpointDir: String,
               nShards: Int = 4, m: Int = 8, efC: Int = 64)
  : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.SimilarityOps
    import graft.sources.Storage
    vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val s = batch.sparkSession
        val b = batch.toDF()
        val prior =
          if (Storage.tableExists(s, vecsRef))
            Storage.readTable(s, vecsRef)
              .filter(col("batch_id") < batchId).drop("batch_id")
          else b.limit(0)
        val versions = Option(new java.io.File(graphDir).listFiles())
          .getOrElse(Array.empty[java.io.File]).toSeq
          .map(_.getName).filter(_.startsWith("v="))
          .map(_.stripPrefix("v=").toLong).filter(_ < batchId)
        val stored = versions.sorted.lastOption match {
          case Some(v) => s.read.parquet(s"$graphDir/v=$v")
          case None =>
            import s.implicits._
            Seq.empty[(Int, Int, Long, Long)]
              .toDF("shard", "level", "src", "dst")
        }
        // empty prior + empty stored degenerate to the cold build of
        // the batch — no first-batch special case
        SimilarityOps.hnswInsert(prior, stored, b, nShards, m, efC)
          .write.mode("overwrite").option("compression", "zstd")
          .parquet(s"$graphDir/v=$batchId")
        idempotentBatchAppend(b, vecsRef, batchId)
        ()
      }
      .start()
  }

  private def compactIndexTable(spark: SparkSession,
                                ref: graft.sources.TableRef,
                                key: String, upToBatch: Long): Unit = {
    val t = graft.sources.Storage.readTable(spark, ref)
    // partition-column type is whatever hive inference produced (int for
    // small ids) — the base's sentinel must match it or the union fails
    val base = t.filter(col("batch_id") <= upToBatch).drop("batch_id")
      .repartitionByRange(col(key)).sortWithinPartitions(key)
      .withColumn("batch_id", lit(-1).cast(t.schema("batch_id").dataType))
    val rest = t.filter(col("batch_id") > upToBatch)
    graft.sources.Storage.overwriteWithSwap(base.unionByName(rest), ref,
      partitionBy = Seq("batch_id"))
  }

  /** Streaming MERGE sink: each micro-batch upserts into a stored table by
    * key (dedup-within-batch keep-last first, so a batch that touches one
    * key twice lands its final value). This is the continuous twin of
    * [[graft.operators.MergeOps.upsert]] — CDC-style late corrections
    * without rewriting the whole table.
    *
    * `partitionCol` is the scale path: the stored table is hive-partitioned
    * on it and each batch merges via
    * [[graft.operators.MergeOps.upsertPartitioned]] — per-batch read AND
    * write cost is O(partitions the batch touches), not O(stored table).
    * PRECONDITION: a key's partition value must be stable across
    * deliveries (a function of the key columns — e.g. a key hash bucket —
    * or an immutable attribute like an event's date); if an update moved a
    * key to a new partition, its old row would survive in the old one, and
    * partition-scoped merge cannot see it. `None` keeps the
    * swap-the-whole-table merge for small state tables where a partition
    * layout costs more than it saves. Returns the started query. */
  def upsertSink(stream: DataFrame, ref: graft.sources.TableRef,
                 keys: Seq[String], orderCol: String, checkpointDir: String,
                 partitionCol: Option[String] = None)
  : org.apache.spark.sql.streaming.StreamingQuery = {
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*)
          .orderBy(col(orderCol).desc)
        val latest = batch.toDF()
          .withColumn("_rn", org.apache.spark.sql.functions.row_number().over(w))
          .filter(col("_rn") === 1).drop("_rn")
        val exists = graft.sources.Storage.tableExists(spark, ref)
        partitionCol match {
          case Some(pc) if exists =>
            graft.operators.MergeOps.upsertPartitioned(spark, ref, latest, keys, pc)
          case Some(pc) =>
            graft.sources.Storage.writeTable(
              latest.repartition(col(pc)), ref, partitionBy = Seq(pc))
          case None if exists =>
            graft.sources.Storage.overwriteWithSwap(
              graft.operators.MergeOps.upsert(
                graft.sources.Storage.readTable(spark, ref), latest, keys), ref)
          case None =>
            graft.sources.Storage.writeTable(latest, ref)
        }
      }
      .start()
  }

  case class Bar(ticker: String, date: java.sql.Date, close: Double)
  case class EmaState(lastDate: java.sql.Date, prev: Double)
  case class EmaPoint(ticker: String, date: java.sql.Date, close: Double,
                      ema: Double)

  /** Streaming twin of [[graft.operators.SilverOps.ema]]: the recursive
    * EMA as per-ticker streaming state. Each micro-batch's bars sort by
    * date inside the group (micro-batch iterators carry no order), fold
    * forward from the stored `(lastDate, prev)` state, and emit one point
    * per bar — α·x + β·prev in the SAME operation order as the batch
    * fold, so a feed replayed through this sink reproduces the batch EMA
    * bit-for-bit (StreamingSpec asserts equality, not approximation).
    *
    * Late data (a bar dated ≤ the state's lastDate) cannot be folded into
    * an already-emitted recursion — it is dropped, the streaming analogue
    * of the batch fold's requirement that history arrive sorted. State is
    * two scalars per ticker, the smallest possible stateful footprint. */
  def emaStream(bars: Dataset[Bar], alpha: Double): Dataset[EmaPoint] = {
    import bars.sparkSession.implicits._
    val beta = 1.0 - alpha
    bars
      .groupByKey(_.ticker)
      .flatMapGroupsWithState[EmaState, EmaPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (ticker: String, it: Iterator[Bar], state: GroupState[EmaState]) =>
          val sorted = it.toSeq.sortBy(_.date.getTime)
          var cur = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[EmaPoint]
          sorted.foreach { b =>
            val fresh = cur.forall(s => b.date.getTime > s.lastDate.getTime)
            if (fresh) {
              val e = cur match {
                case Some(s) => alpha * b.close + beta * s.prev
                case None    => b.close
              }
              out += EmaPoint(ticker, b.date, b.close, e)
              cur = Some(EmaState(b.date, e))
            }
          }
          cur.foreach(state.update)
          out.iterator
      }
  }

  case class Ohlc(ticker: String, date: java.sql.Date, close: Double,
                  high: Double, low: Double)
  case class ExtremaState(lastDate: java.sql.Date,
                          highs: List[Double], lows: List[Double])
  case class ExtremaPoint(ticker: String, date: java.sql.Date, close: Double,
                          min_low: Option[Double], max_high: Option[Double])

  /** Streaming twin of [[graft.operators.SilverOps.rollingExtrema]]:
    * trailing-n min/max as per-ticker streaming state. Unlike the EMA's
    * two-scalar state, rolling extrema need the last n raw values — the
    * state is the n-bounded tail of (high, low) ring buffers, appended per
    * bar and truncated to n, so the state store holds ≤ 2n doubles per
    * ticker no matter how long the stream runs (the boundedness that makes
    * this viable on an unbounded feed). Emission matches the batch fold's
    * strict min-periods exactly; late bars (≤ stored lastDate) are dropped,
    * the same discipline as [[emaStream]]. StreamingSpec asserts the
    * replayed feed equals the batch fold bit-for-bit. */
  def extremaStream(bars: Dataset[Ohlc], n: Int): Dataset[ExtremaPoint] = {
    import bars.sparkSession.implicits._
    bars
      .groupByKey(_.ticker)
      .flatMapGroupsWithState[ExtremaState, ExtremaPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (ticker: String, it: Iterator[Ohlc], state: GroupState[ExtremaState]) =>
          val sorted = it.toSeq.sortBy(_.date.getTime)
          var cur = state.getOption.getOrElse(ExtremaState(null, Nil, Nil))
          val out = scala.collection.mutable.ArrayBuffer.empty[ExtremaPoint]
          sorted.foreach { b =>
            val fresh = cur.lastDate == null ||
              b.date.getTime > cur.lastDate.getTime
            if (fresh) {
              val highs = (cur.highs :+ b.high).takeRight(n)
              val lows = (cur.lows :+ b.low).takeRight(n)
              val full = highs.size == n
              out += ExtremaPoint(ticker, b.date, b.close,
                if (full) Some(lows.min) else None,
                if (full) Some(highs.max) else None)
              cur = ExtremaState(b.date, highs, lows)
            }
          }
          if (cur.lastDate != null) state.update(cur)
          out.iterator
      }
  }

  case class CusumState(lastDate: java.sql.Date, prevCents: Long,
                        sp: Long, sn: Long)
  case class CusumPoint(ticker: String, date: java.sql.Date, close: Double,
                        s_pos: Long, s_neg: Long, alarm: Int)

  /** Streaming twin of [[graft.operators.SilverOps.cusum]]: the two-sided
    * CUSUM change-point recursion as per-ticker streaming state. State is
    * four scalars (last date, last cents, s⁺, s⁻) — the EMA-class minimal
    * footprint — and the arithmetic is all-BIGINT cents, so a replayed
    * feed equals the batch fold EXACTLY (integers, not ulp-close).
    * Late bars (≤ stored lastDate) are dropped, the fold family's sorted-
    * history discipline. */
  def cusumStream(bars: Dataset[Bar], driftCents: Long,
                  thresholdCents: Long): Dataset[CusumPoint] = {
    import bars.sparkSession.implicits._
    bars
      .groupByKey(_.ticker)
      .flatMapGroupsWithState[CusumState, CusumPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (ticker: String, it: Iterator[Bar], state: GroupState[CusumState]) =>
          val sorted = it.toSeq.sortBy(_.date.getTime)
          var cur = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[CusumPoint]
          sorted.foreach { b =>
            val fresh = cur.forall(s => b.date.getTime > s.lastDate.getTime)
            if (fresh) {
              val cents = math.round(b.close * 100)
              cur match {
                case None =>
                  out += CusumPoint(ticker, b.date, b.close, 0L, 0L, 0)
                  cur = Some(CusumState(b.date, cents, 0L, 0L))
                case Some(s) =>
                  val d = cents - s.prevCents
                  val nsp = math.max(0L, s.sp + d - driftCents)
                  val nsn = math.max(0L, s.sn - d - driftCents)
                  val a = if (nsp > thresholdCents || nsn > thresholdCents) 1 else 0
                  out += CusumPoint(ticker, b.date, b.close, nsp, nsn, a)
                  cur = Some(
                    if (a == 1) CusumState(b.date, cents, 0L, 0L)
                    else CusumState(b.date, cents, nsp, nsn))
              }
            }
          }
          cur.foreach(state.update)
          out.iterator
      }
  }

  case class HoltState(lastDate: java.sql.Date, lev: Double, tr: Double)
  case class HoltPoint(ticker: String, date: java.sql.Date, close: Double,
                       level: Double, trend: Double, forecast: Double)

  /** Streaming twin of [[graft.operators.SilverOps.holt]]: level+trend
    * smoothing as per-ticker streaming state (three scalars). Same IEEE
    * sequence as the batch fold, so the replayed feed equals it
    * bit-for-bit; late bars dropped per the fold family's discipline. */
  def holtStream(bars: Dataset[Bar], alpha: Double = 0.5,
                 beta: Double = 0.25): Dataset[HoltPoint] = {
    import bars.sparkSession.implicits._
    val (ba, bb) = (1.0 - alpha, 1.0 - beta)
    bars
      .groupByKey(_.ticker)
      .flatMapGroupsWithState[HoltState, HoltPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (ticker: String, it: Iterator[Bar], state: GroupState[HoltState]) =>
          val sorted = it.toSeq.sortBy(_.date.getTime)
          var cur = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[HoltPoint]
          sorted.foreach { b =>
            val fresh = cur.forall(s => b.date.getTime > s.lastDate.getTime)
            if (fresh) {
              cur match {
                case None =>
                  out += HoltPoint(ticker, b.date, b.close, b.close, 0.0, b.close)
                  cur = Some(HoltState(b.date, b.close, 0.0))
                case Some(s) =>
                  val fc = s.lev + s.tr
                  val nl = alpha * b.close + ba * (s.lev + s.tr)
                  val nt = beta * (nl - s.lev) + bb * s.tr
                  out += HoltPoint(ticker, b.date, b.close, nl, nt, fc)
                  cur = Some(HoltState(b.date, nl, nt))
              }
            }
          }
          cur.foreach(state.update)
          out.iterator
      }
  }

  case class HwState(lastDate: java.sql.Date, n: Long, lev: Double,
                     tr: Double, s0: Double, s1: Double, s2: Double,
                     s3: Double, s4: Double)
  case class HwPoint(ticker: String, date: java.sql.Date, close: Double,
                     level: Double, trend: Double, seasonal: Double,
                     forecast: Double)

  /** Streaming twin of [[graft.operators.SilverOps.holtWinters]] (additive
    * triple smoothing, period fixed at 5): per-ticker state carries the
    * level, trend, the 5-slot seasonal vector AND the running row index
    * (the slot selector), so the recursion resumes across micro-batch
    * boundaries on the identical IEEE sequence as the batch fold — for an
    * IN-ORDER, UNIQUE-DATE feed. A bar whose date is <= the stored
    * lastDate (late arrival or a duplicate date) is DROPPED, never folded;
    * the batch fold REJECTS duplicate dates outright
    * ([[graft.operators.SilverOps.requireUniqueSortedDates]]), so neither
    * path ever folds a duplicate — one loudly, one by dropping (both
    * pinned in StreamingSpec). Dirty feeds dedupe (keep-last) upstream. */
  def holtWintersStream(bars: Dataset[Bar], alpha: Double = 0.5,
                        beta: Double = 0.25,
                        gamma: Double = 0.25): Dataset[HwPoint] = {
    import bars.sparkSession.implicits._
    val (ba, bb, bg) = (1.0 - alpha, 1.0 - beta, 1.0 - gamma)
    bars
      .groupByKey(_.ticker)
      .flatMapGroupsWithState[HwState, HwPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (ticker: String, it: Iterator[Bar], state: GroupState[HwState]) =>
          val sorted = it.toSeq.sortBy(_.date.getTime)
          var cur = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[HwPoint]
          sorted.foreach { b =>
            val fresh = cur.forall(s => b.date.getTime > s.lastDate.getTime)
            if (fresh) {
              cur match {
                case None =>
                  out += HwPoint(ticker, b.date, b.close, b.close, 0.0, 0.0,
                    b.close)
                  cur = Some(HwState(b.date, 1L, b.close, 0.0,
                    0.0, 0.0, 0.0, 0.0, 0.0))
                case Some(s) =>
                  val seas = Array(s.s0, s.s1, s.s2, s.s3, s.s4)
                  val slot = (s.n % 5).toInt
                  val sOld = seas(slot)
                  val fc = s.lev + s.tr + sOld
                  val nl = alpha * (b.close - sOld) + ba * (s.lev + s.tr)
                  val nt = beta * (nl - s.lev) + bb * s.tr
                  val ns = gamma * (b.close - nl) + bg * sOld
                  seas(slot) = ns
                  out += HwPoint(ticker, b.date, b.close, nl, nt, ns, fc)
                  cur = Some(HwState(b.date, s.n + 1, nl, nt,
                    seas(0), seas(1), seas(2), seas(3), seas(4)))
              }
            }
          }
          cur.foreach(state.update)
          out.iterator
      }
  }

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class SessionState(start: Long, last: Long, n: Int, total: Double)
  case class Session(user_id: Long, session_start: java.sql.Timestamp,
                     session_end: java.sql.Timestamp, n_events: Int,
                     total_value: Double)

  /** Sessionization: events for a user belong to one session until a
    * `gapMinutes` silence; emits each closed session. State lives in the
    * state store keyed by user — the canonical mapGroupsWithState shape. */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var cur = state.getOption
          val closed = scala.collection.mutable.ArrayBuffer.empty[Session]
          sorted.foreach { e =>
            val t = e.ts.getTime
            cur match {
              case Some(s) if t - s.last <= gapMs =>
                cur = Some(s.copy(last = t, n = s.n + 1, total = s.total + e.value))
              case Some(s) =>
                closed += Session(userId, new java.sql.Timestamp(s.start),
                  new java.sql.Timestamp(s.last), s.n, s.total)
                cur = Some(SessionState(t, t, 1, e.value))
              case None =>
                cur = Some(SessionState(t, t, 1, e.value))
            }
          }
          cur.foreach(state.update)
          closed.iterator
      }
  }
}
