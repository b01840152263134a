package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Backward as-of join: for each left row, attach the most recent right row
  * with the same key and right-time ≤ left-time (SURVEY J2's "theta/as-of
  * flavored" shape promoted to a first-class operator — the time-series
  * join Polars ships as `join_asof` and DuckDB as `ASOF JOIN`).
  *
  * Spark-first composition, no custom physical operator: tag both sides,
  * union, and carry the latest right values forward with
  * `last(..., ignoreNulls)` over one key-partitioned, time-ordered window.
  * Exactly ONE shuffle on the key and a single sort — the same cost as a
  * sort-merge join, but produces the as-of semantics directly — and
  * Catalyst's own column pruning reaches both scans through the union
  * (AsOfJoinSpec pins both over parquet inputs). A right row tied on time
  * sorts before the left row, so equality matches (≤, not <).
  *
  * Requirements: right rows unique per (key, time); `valueCols` must not
  * collide with left column names.
  */
object AsOfJoin {

  def asOf(left: DataFrame, right: DataFrame, key: Seq[String],
           leftTime: String, rightTime: String,
           valueCols: Seq[String]): DataFrame =
    asOfImpl(left, right, key, leftTime, rightTime, valueCols, forward = false)

  /** Both sides on one time axis `_t`: left rows tagged `_side` 1, right
    * rows (key, time, values) tagged `_side` 0 with their time kept as `_rt`.
    * Every window here orders by `_t` (either direction), then `_side`
    * ascending, so at equal times a right row precedes the left row in
    * traversal and equality matches. */
  private def tagAndUnion(left: DataFrame, right: DataFrame, key: Seq[String],
                          leftTime: String, rightTime: String,
                          valueCols: Seq[String]): DataFrame = {
    val leftTagged = left
      .withColumn("_t", col(leftTime))
      .withColumn("_side", lit(1))
    val rightTagged = right
      .select((key.map(col) :+ col(rightTime).as("_t")) ++ valueCols.map(col): _*)
      .withColumn("_side", lit(0))
      .withColumn("_rt", col("_t"))
    leftTagged.unionByName(rightTagged, allowMissingColumns = true)
  }

  /** Shared union+window composition; `forward` flips the sort direction,
    * the frame side, and the carrying aggregate — everything else
    * (tagging, union, carry-fold, projection) is direction-independent. */
  private def asOfImpl(left: DataFrame, right: DataFrame, key: Seq[String],
                       leftTime: String, rightTime: String,
                       valueCols: Seq[String], forward: Boolean): DataFrame = {
    val unioned = tagAndUnion(left, right, key, leftTime, rightTime, valueCols)
    // Forward is the SAME running-frame carry on a time-DESCENDING sort:
    // walking latest→earliest, "last right seen" is the smallest right time
    // ≥ the current row's. (A currentRow→unboundedFollowing frame would be
    // semantically equivalent but WindowExec re-aggregates such frames per
    // row — O(rows²) per key; the running frame is incremental.) Ties: the
    // right row sorts before the left row in traversal order either way, so
    // equality matches in both directions.
    val w = Window.partitionBy(key.map(col): _*)
      .orderBy(if (forward) col("_t").desc else col("_t").asc, col("_side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val carried = (valueCols :+ "_rt").foldLeft(unioned)((acc, c) =>
      acc.withColumn(c, last(col(c), ignoreNulls = true).over(w)))

    carried
      .filter(col("_side") === 1)
      .withColumnRenamed("_rt", "matched_time")
      .drop("_t", "_side")
  }

  /** Forward as-of join: for each left row, the EARLIEST right row with
    * right-time ≥ left-time (Polars `join_asof(strategy="forward")`). Same
    * one-shuffle union composition as [[asOf]], mirrored: values are
    * carried backward with `first(..., ignoreNulls)` over the
    * currentRow→unboundedFollowing frame. At equal times the right row must
    * be visible to the left row's frame, so the right row (side 0) sorts
    * before the left row (side 1) — `_side` ascending, same as the backward
    * direction (see the tie note inside asOfImpl). */
  def asOfForward(left: DataFrame, right: DataFrame, key: Seq[String],
                  leftTime: String, rightTime: String,
                  valueCols: Seq[String]): DataFrame =
    asOfImpl(left, right, key, leftTime, rightTime, valueCols, forward = true)

  /** Nearest as-of join: for each left row, the right row minimizing
    * |left-time − right-time| (Polars `join_asof(strategy="nearest")`),
    * ties broken backward. BOTH directional carries run over ONE union and
    * one key exchange — the ascending and descending windows share the
    * hash partitioning, so Spark plans a single Exchange with two Sorts,
    * not two joins stitched together. The winner is chosen per row by
    * comparing epoch distances (dates carry no sub-day component, so any
    * engine's unit agrees on the comparison). Adds `matched_dir`
    * ('backward'/'forward'/NULL alongside `matched_time`). */
  def asOfNearest(left: DataFrame, right: DataFrame, key: Seq[String],
                  leftTime: String, rightTime: String,
                  valueCols: Seq[String]): DataFrame = {
    val unioned = tagAndUnion(left, right, key, leftTime, rightTime, valueCols)
    val wB = Window.partitionBy(key.map(col): _*)
      .orderBy(col("_t").asc, col("_side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy(key.map(col): _*)
      .orderBy(col("_t").desc, col("_side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = (valueCols :+ "_rt").foldLeft(unioned)((acc, c) =>
      acc.withColumn(s"_b_$c", last(col(c), ignoreNulls = true).over(wB))
        .withColumn(s"_f_$c", last(col(c), ignoreNulls = true).over(wF)))
    val eb = col("_b__rt").cast("timestamp").cast("long")
    val ef = col("_f__rt").cast("timestamp").cast("long")
    val et = col("_t").cast("timestamp").cast("long")
    val takeB = col("_b__rt").isNotNull &&
      (col("_f__rt").isNull || (et - eb) <= (ef - et))
    val chosen = valueCols.foldLeft(carried)((acc, c) =>
      acc.withColumn(c, when(takeB, col(s"_b_$c")).otherwise(col(s"_f_$c"))))
      .withColumn("matched_time",
        when(takeB, col("_b__rt")).otherwise(col("_f__rt")))
      .withColumn("matched_dir",
        when(takeB, lit("backward"))
          .when(col("_f__rt").isNotNull, lit("forward")))
    chosen
      .filter(col("_side") === 1)
      .drop((valueCols.map("_b_" + _) ++ valueCols.map("_f_" + _) ++
        Seq("_b__rt", "_f__rt", "_rt", "_t", "_side")): _*)
  }

  /** As-of with a tolerance: matches older than `tolerance` (in days, for
    * date keys) are nulled out — Polars `join_asof(tolerance=...)`. */
  def asOfWithTolerance(left: DataFrame, right: DataFrame, key: Seq[String],
                        leftTime: String, rightTime: String,
                        valueCols: Seq[String], toleranceDays: Int): DataFrame = {
    val joined = asOf(left, right, key, leftTime, rightTime, valueCols)
      .withColumn("_stale",
        datediff(col(leftTime), col("matched_time")) > toleranceDays)
    (valueCols :+ "matched_time").foldLeft(joined)((acc, c) =>
      acc.withColumn(c, when(col("_stale"), lit(null)).otherwise(col(c))))
      .drop("_stale")
  }
}
