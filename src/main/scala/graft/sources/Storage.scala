package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
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
  *  - an unpartitioned overwrite is a swap, not Spark's static Overwrite:
  *    a static Overwrite deletes the table before its job runs, so a failed
  *    write leaves it unreadable, while the swap leaves the previous table
  *    readable, as a dynamic partition overwrite does. The guarantee is
  *    per table; a stage that lands several tables is not all-or-nothing;
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

  /** S1 — write a table, zstd-compressed. The protocol follows from `mode`
    * and `partitionBy`, so no caller chooses one:
    *  - `Append` (or any mode but `Overwrite`): a plain write;
    *  - `Overwrite` with `partitionBy`: a dynamic partition overwrite,
    *    pinned on the write itself (a static-mode session would otherwise
    *    truncate the whole path and lose every partition the frame does
    *    not touch);
    *  - `Overwrite` without `partitionBy`: a swap. The frame is written to
    *    the hidden sibling `.<name>._swap_tmp` and moved into place with
    *    checked renames, so `df` may read `ref` itself (compaction is
    *    `writeTable(readTable(spark, ref).repartition(n), ref)`) and a
    *    failed write leaves the previous table as it was. */
  def writeTable(df: DataFrame, ref: TableRef,
                 mode: SaveMode = SaveMode.Overwrite,
                 partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(mode).option("compression", "zstd")
    if (partitionBy.nonEmpty)
      w.option("partitionOverwriteMode", "dynamic")
        .partitionBy(partitionBy: _*).parquet(ref.path)
    else if (mode != SaveMode.Overwrite) w.parquet(ref.path)
    else {
      // Swap: write a hidden temp sibling, move the live dir to a backup,
      // move temp into place, drop the backup. Hadoop signals a failed
      // rename by returning false, so each is checked; a failed second
      // rename restores the backup, so the table is never lost, though a
      // reader racing the two renames can see the path briefly absent.
      // Dot-prefixed siblings are hidden from Spark's file listing, so a
      // crash mid-swap never surfaces them as data; the live dir is
      // authoritative, so stale leftovers are cleared first.
      val spark = df.sparkSession
      val f = fs(spark, ref.path)
      val dst = new Path(ref.path)
      val tmp = new Path(dst.getParent, s".${dst.getName}._swap_tmp")
      val bak = new Path(dst.getParent, s".${dst.getName}._swap_bak")
      if (f.exists(tmp)) f.delete(tmp, true)
      if (f.exists(bak)) f.delete(bak, true)
      w.parquet(tmp.toString)
      if (f.exists(dst) && !f.rename(dst, bak))
        throw new IllegalStateException(s"swap: could not move $dst aside")
      if (!f.rename(tmp, dst)) {
        if (f.exists(bak)) f.rename(bak, dst) // restore — the table must survive
        throw new IllegalStateException(s"swap: could not move $tmp into place")
      }
      f.delete(bak, true)
      // what Spark's own Overwrite does for its output path: drop cached
      // plans and file listings that still point at the replaced files
      spark.catalog.refreshByPath(ref.path)
    }
  }

  /** S2 — read a table (single file or partitioned dir, transparently). */
  def readTable(spark: SparkSession, ref: TableRef): DataFrame =
    spark.read.parquet(ref.path)

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
    writeTable(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema), ref)

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
