package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming sinks over file-source feeds (SURVEY §2.9).
  *
  * The reference has no streaming runtime — its incremental batch
  * (checkpoint high-water-mark + append/full-rewrite) is covered by
  * [[graft.pipeline.Pipeline]]. This module holds the events file-source
  * reader and two `foreachBatch` sinks over the batch operators: a keyed
  * MERGE sink and the incremental near-dup sink (the bench's
  * `stream_upsert` and `stream_dedup_10k`).
  * Windowed, joined and sessionized event views are batch queries
  * ([[graft.queries.EventQueries]]), each oracle-checked.
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
    graft.sources.Storage.writeTable(df.withColumn("batch_id", lit(batchId)),
      ref, partitionBy = Seq("batch_id"))

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
          case None =>
            graft.sources.Storage.writeTable(
              if (exists) graft.operators.MergeOps.upsert(
                graft.sources.Storage.readTable(spark, ref), latest, keys)
              else latest, ref)
        }
      }
      .start()
  }
}
