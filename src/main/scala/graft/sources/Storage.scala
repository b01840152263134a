package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, max}
import org.apache.spark.sql.types.StructType

import java.time.LocalDate

/** Layered parquet table storage — the engine's catalog primitive.
  *
  * Reference semantics (SURVEY §2.1): tables are addressed `(layer, table)`
  * and stored as a single parquet file or a Hive-partitioned dataset
  * (reference `storage/paths.py:6-26`, `storage/operations.py:11-96`).
  *
  * Spark-first differences, deliberate (SURVEY §7.1):
  *  - writes are real `DataFrameWriter` jobs (append is supported — the
  *    reference's append path raises, `storage/operations.py:35-38`);
  *  - partitioned writes use dynamic partition overwrite so an incremental
  *    ingest rewrites only the touched `date=...` partitions instead of the
  *    reference's read-concat-rewrite of the whole dataset
  *    (`bronze/main.py:245-253`) — the difference between O(day) and
  *    O(history) I/O at 100 TB;
  *  - reads are plain `spark.read.parquet`, which natively handles both the
  *    single-file and hive-partitioned layouts and gives predicate pushdown
  *    + partition pruning for free.
  */
final case class TableRef(root: String, layer: String, name: String) {
  def path: String = s"$root/$layer/$name"
}

object Storage {

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** S1 — write a table; optional hive partitioning, zstd compression.
    * `bloomFilterFor` enables a parquet bloom filter per named column —
    * point lookups (ticker, doc_id) then skip row groups whose filter
    * rejects the key, without any sort requirement. */
  def writeTable(df: DataFrame, ref: TableRef,
                 mode: SaveMode = SaveMode.Overwrite,
                 partitionBy: Seq[String] = Nil,
                 bloomFilterFor: Seq[String] = Nil): Unit = {
    val base = df.write.mode(mode).option("compression", "zstd")
    val w = bloomFilterFor.foldLeft(base)((acc, c) =>
      acc.option(s"parquet.bloom.filter.enabled#$c", "true"))
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(ref.path)
  }

  /** Range-clustered write: range-partition on the cluster key and sort
    * within partitions, so every output file covers a narrow key range.
    * Parquet min/max column stats then prune whole files/row-groups for
    * range or point predicates on that key — the 1-D version of what
    * Z-ordering buys, with zero read-side machinery. The layout of choice
    * for silver/gold tables queried by ticker at 100 TB. */
  def writeClustered(df: DataFrame, ref: TableRef, clusterBy: Seq[String],
                     numFiles: Int,
                     bloomFilterFor: Seq[String] = Nil): Unit = {
    val cols = clusterBy.map(org.apache.spark.sql.functions.col)
    writeTable(
      df.repartitionByRange(numFiles, cols: _*).sortWithinPartitions(cols: _*),
      ref, SaveMode.Overwrite, Nil, bloomFilterFor)
  }

  /** Z-ordered write: bucket each cluster column to 8 bits by its value
    * distribution (sampled quantile boundaries — same mechanism as
    * RangePartitioner, no global sort), interleave the buckets into a
    * Morton value ([[graft.functions.GraftFunctions.zorder2]]), and
    * range-partition + sort on it. Every output file then covers a narrow
    * min/max range on BOTH columns, so parquet stats prune files for
    * predicates on either dimension — Delta/Iceberg's OPTIMIZE ZORDER
    * expressed as plain Spark. A layout/maintenance op: one extra pass at
    * write time, zero read-side machinery. */
  def writeZOrdered(df: DataFrame, ref: TableRef,
                    colA: String, colB: String, numFiles: Int,
                    bloomFilterFor: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions._
    val probes = (1 until 256).map(_ / 256.0).toArray
    // one sampling pass computes both columns' boundaries
    val allBounds = df.stat.approxQuantile(Array(colA, colB), probes, 0.01)
    def bucket(c: String, bounds: Array[Double]): org.apache.spark.sql.Column = {
      val bs = bounds.distinct.sorted
      val arr = array(bs.toIndexedSeq.map(lit): _*)
      // index of the largest boundary ≤ value == the value's bucket —
      // then RESCALED onto the full 8-bit range: a low-cardinality column
      // yields few distinct boundaries, and without rescaling its bits
      // would occupy only the low end of the interleave, letting the other
      // dimension dominate the sort order entirely
      val pos = coalesce(array_position(arr,
        array_max(filter(arr, b => b <= col(c).cast("double")))), lit(0L))
      (pos * 255L) / lit(bs.length.toLong)
    }
    val z = graft.functions.GraftFunctions.zorder2(
      bucket(colA, allBounds(0)), bucket(colB, allBounds(1)))
    writeTable(
      df.withColumn("_z", z)
        .repartitionByRange(numFiles, col("_z"))
        .sortWithinPartitions(col("_z"))
        .drop("_z"),
      ref, SaveMode.Overwrite, Nil, bloomFilterFor)
  }

  /** S2 — read a table (single file or partitioned dir, transparently). */
  def readTable(spark: SparkSession, ref: TableRef): DataFrame =
    spark.read.parquet(ref.path)

  /** Schema-evolution read: merge the footer schemas of every file, so a
    * table whose appends gained columns over time reads as the SUPERSET
    * schema with nulls where old files lack a column — additive evolution
    * without a rewrite. Costs one footer read per file (why it isn't the
    * default read path); columns may only be ADDED — a type change for an
    * existing name fails the merge, which is the correct contract. */
  def readTableMerged(spark: SparkSession, ref: TableRef): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(ref.path)

  /** S3 — existence probe: any parquet footer under the path. */
  def tableExists(spark: SparkSession, ref: TableRef): Boolean = {
    val p = new Path(ref.path)
    val f = fs(spark, ref.path)
    f.exists(p) && {
      val it = f.listFiles(p, true)
      var found = false
      while (!found && it.hasNext) {
        val s = it.next()
        found = s.isFile && s.getPath.getName.endsWith(".parquet")
      }
      found
    }
  }

  /** S4 — create an empty table with an explicit schema. */
  def initTable(spark: SparkSession, ref: TableRef, schema: StructType): Unit =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.mode(SaveMode.Overwrite).parquet(ref.path)

  /** S5 — scalar max(date); served from parquet footer statistics, so this
    * is a metadata-only job even over a 100 TB table. */
  def maxDate(spark: SparkSession, ref: TableRef, dateCol: String = "date"): Option[LocalDate] =
    readTable(spark, ref)
      .agg(max(col(dateCol)).as("m")).collect().headOption
      .flatMap(r => Option(r.get(0)))
      .map {
        case d: java.sql.Date => d.toLocalDate
        case d: LocalDate     => d
        case other => LocalDate.parse(other.toString.take(10))
      }

  /** Small-files compaction: bin-pack an UNPARTITIONED table's files toward
    * `targetMB`-sized outputs. The nightly maintenance job every parquet
    * lake needs — incremental appends accrete small files, and at 100 TB
    * an uncompacted table turns every scan into millions of opens. Sizing
    * comes from the on-disk byte count (compressed). Hive-partitioned
    * tables are refused: their unit of compaction is the partition
    * directory (compact each as its own ref), and a flat rewrite would
    * destroy the layout the incremental-ingest path depends on.
    *
    * Swap protocol: write to a temp dir, rename the live dir to a backup,
    * rename temp into place, drop the backup. Each rename's return value is
    * checked (Hadoop signals failure by returning false); a failed second
    * rename restores the backup, so the table is never lost — though a
    * reader racing the two renames can see the path briefly absent.
    * Returns the output file count. */
  def compact(spark: SparkSession, ref: TableRef, targetMB: Int = 128): Int = {
    val f = fs(spark, ref.path)
    val dst = new Path(ref.path)
    require(!f.listStatus(dst).exists(s =>
      s.isDirectory && s.getPath.getName.contains("=")),
      s"compact: ${ref.path} is hive-partitioned — compact each partition directory instead")
    val bytes = f.getContentSummary(dst).getLength
    val n = math.max(1, math.ceil(bytes / (targetMB * 1024.0 * 1024.0)).toInt)
    // dot-prefixed siblings: hidden from Spark's file listing and partition
    // discovery, so a crash mid-swap can never surface them as data — for a
    // partition ref the temp dirs live inside the parent table directory,
    // where an unhidden name containing '=' would be parsed as a partition
    val tmp = new Path(dst.getParent, s".${dst.getName}._compact_tmp")
    val bak = new Path(dst.getParent, s".${dst.getName}._compact_bak")
    // stale leftovers from a crashed run — dst is authoritative
    if (f.exists(tmp)) f.delete(tmp, true)
    if (f.exists(bak)) f.delete(bak, true)
    readTable(spark, ref).repartition(n)
      .write.mode(SaveMode.Overwrite).option("compression", "zstd")
      .parquet(tmp.toString)
    if (!f.rename(dst, bak))
      throw new IllegalStateException(s"compact: could not move $dst aside")
    if (!f.rename(tmp, dst)) {
      f.rename(bak, dst) // restore the original; the table must survive
      throw new IllegalStateException(s"compact: could not move $tmp into place")
    }
    f.delete(bak, true)
    n
  }

  /** Compact every partition directory of a hive-partitioned table, each
    * as its own independent swap (so a failure mid-way leaves every
    * untouched partition intact — there is no global half-state). Driver
    * iterates partition dirs; each compaction is an ordinary cluster job,
    * and partitions can be sharded across nightly runs at 100 TB. Returns
    * (partitionPath → output file count). */
  def compactPartitions(spark: SparkSession, ref: TableRef,
                        targetMB: Int = 128): Map[String, Int] = {
    val f = fs(spark, ref.path)
    val parts = f.listStatus(new Path(ref.path)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
    require(parts.nonEmpty,
      s"compactPartitions: ${ref.path} has no partition directories")
    parts.map { s =>
      val rel = s.getPath.getName
      // a partition dir is itself an unpartitioned parquet dir — reuse the
      // single-table swap; basePath-less read keeps the partition column
      // out of the rewritten files, exactly as the original layout has it
      rel -> compact(spark,
        TableRef(ref.root, ref.layer, s"${ref.name}/$rel"), targetMB)
    }.toMap
  }

  /** Overwrite `ref` with `df` even when `df`'s lineage READS `ref` (a
    * plain Overwrite would truncate its own input, which Spark rejects):
    * materialize to a hidden temp sibling, then swap with the same
    * checked-rename protocol as [[compact]]. The merge/update pattern's
    * storage half — see MergeOps and StreamingOps.upsertSink. */
  def overwriteWithSwap(df: DataFrame, ref: TableRef): Unit = {
    val spark = df.sparkSession
    val f = fs(spark, ref.path)
    val dst = new Path(ref.path)
    val tmp = new Path(dst.getParent, s".${dst.getName}._swap_tmp")
    val bak = new Path(dst.getParent, s".${dst.getName}._swap_bak")
    if (f.exists(tmp)) f.delete(tmp, true)
    if (f.exists(bak)) f.delete(bak, true)
    df.write.mode(SaveMode.Overwrite).option("compression", "zstd")
      .parquet(tmp.toString)
    if (f.exists(dst) && !f.rename(dst, bak))
      throw new IllegalStateException(s"swap: could not move $dst aside")
    if (!f.rename(tmp, dst)) {
      if (f.exists(bak)) f.rename(bak, dst) // restore — the table must survive
      throw new IllegalStateException(s"swap: could not move $tmp into place")
    }
    f.delete(bak, true)
  }

  /** S10 — drop a table (the reference's `clean` stage). */
  def deleteTable(spark: SparkSession, ref: TableRef): Boolean =
    fs(spark, ref.path).delete(new Path(ref.path), true)

  /** Order-independent content checksum over the named columns: row count
    * plus two SUMs of 32-bit windows of each row's md5 — the integrity
    * manifest a lake validates after a migration, compaction, or engine
    * swap (row order, file layout, and partitioning all change; content
    * must not). SUM of per-row integers is exact and commutative, so the
    * checksum is layout-invariant and reproducible on any engine from the
    * same md5 recipe (columns joined with '|', nulls as ''). The windows
    * are summed as decimal(38,0), not bigint: each row contributes up to
    * 2^32−1, so a long sum overflows (silently, in non-ANSI mode) past
    * ~2^31 rows — exactly the table size this op exists for. One
    * map-combined aggregation — a single linear pass at any scale. */
  def tableChecksum(df: DataFrame, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val h = md5(concat_ws("|",
      cols.map(c => coalesce(col(c).cast("string"), lit(""))): _*)
      .cast("binary"))
    def win(start: Int) =
      conv(substring(h, start, 8), 16, 10).cast(DecimalType(38, 0))
    df.agg(count(lit(1)).as("n_rows"),
      sum(win(1)).as("sum_h1"),
      sum(win(9)).as("sum_h2"))
  }
}

/** S9 — JSON checkpoint state for incremental batch logic (reference
  * `storage/checkpoints.py:13-70`). Driver-side key→string map; this is
  * batch watermark state, not Spark streaming checkpoints.
  */
object Checkpoints {
  import java.nio.charset.StandardCharsets
  import java.nio.file.{Files, Paths}

  private def esc(s: String) = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }

  def save(path: String, state: Map[String, String]): Unit = {
    val json = state.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}": "${esc(v)}"""" }
      .mkString("{\n  ", ",\n  ", "\n}")
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.write(p, json.getBytes(StandardCharsets.UTF_8))
  }

  /** Minimal flat-object JSON parse — enough for the checkpoint format. */
  def load(path: String): Map[String, String] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) Map.empty
    else {
      val s = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      """"((?:[^"\\]|\\.)*)"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
        .findAllMatchIn(s)
        .map(m => unesc(m.group(1)) -> unesc(m.group(2))).toMap
    }
  }

  private def unesc(s: String): String = {
    val b = new StringBuilder; var i = 0
    while (i < s.length) {
      val c = s(i)
      if (c == '\\' && i + 1 < s.length) {
        s(i + 1) match {
          case 'n' => b += '\n'; i += 2
          case 't' => b += '\t'; i += 2
          case 'u' => b += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
          case o   => b += o; i += 2
        }
      } else { b += c; i += 1 }
    }
    b.result()
  }
}
