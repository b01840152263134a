package graft.pipeline

import graft.sources.Storage
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Golden-oracle validation (reference `silver/validation.py:529-559` —
  * SURVEY §5): spot-check silver's split-adjusted closes against an
  * independently recomputed adjustment, tolerance $0.01 on close
  * (`silver/validation.py:360`).
  *
  * The reference diffs against Polygon's adjusted prices; offline, the
  * independent oracle is a from-scratch recomputation over bronze — join
  * + product aggregate per (ticker, date), not silver's per-row fold — so
  * a bug in either path surfaces as a mismatch.
  */
object Validation {

  final case class SplitCheckReport(checked: Long, mismatches: Long,
                                    maxAbsError: Double) {
    def ok: Boolean = mismatches == 0
  }

  /** Recompute expected adjusted closes for rows of tickers that have
    * splits, sampled around each split's execution date (the day before,
    * of, and after — where adjustment bugs bite), and diff against silver. */
  def validateSplits(spark: SparkSession, lake: Lake,
                     tolerance: Double = 0.01): SplitCheckReport = {
    val bronze = Storage.readTable(spark, lake.bronze("stocks"))
    val splits = Storage.readTable(spark, lake.bronze("splits"))
    val silver = Storage.readTable(spark, lake.silver("daily_aggregates"))

    // sample: per split, bronze rows around the execution date (±30 days —
    // wide enough to catch rows on sparse fixtures; the interesting rows
    // are both sides of the boundary)
    val window = bronze.join(broadcast(splits), Seq("ticker"))
      .filter(datediff(col("execution_date"), col("date")).between(-30, 30))
      .select(col("ticker"), col("date")).distinct()

    // independent recomputation: compound every applicable factor
    val expected = window
      .join(bronze, Seq("ticker", "date"))
      .join(broadcast(splits), Seq("ticker"), "left")
      .withColumn("factor",
        when(col("execution_date").isNotNull && col("date") < col("execution_date"),
          col("split_from").cast("double") / col("split_to").cast("double"))
          .otherwise(lit(1.0)))
      .groupBy(col("ticker"), col("date"), col("close"))
      .agg(graft.functions.ProductAgg.product(col("factor")).as("adj"))
      .select(col("ticker"), col("date"),
        (col("close") * col("adj")).as("expected_close"))

    val diff = expected
      .join(silver.select(col("ticker"), col("date"), col("close")), Seq("ticker", "date"))
      .withColumn("abs_err", abs(col("close") - col("expected_close")))

    val agg = diff.agg(
      count(lit(1)).as("checked"),
      coalesce(sum(when(col("abs_err") > tolerance, 1L).otherwise(0L)), lit(0L))
        .as("mismatches"),
      coalesce(max(col("abs_err")), lit(0.0)).as("max_err")).first()

    SplitCheckReport(agg.getLong(0), agg.getLong(1), agg.getDouble(2))
  }

  /** Per-date row-count anomaly report (reference `utils/validation.py:16-78`
    * — SURVEY A8): dates whose counts deviate from the mean by 2× either
    * way or fall under an absolute floor. */
  def countAnomalies(df: DataFrame, dateCol: String = "date",
                     floor: Long = 0L): DataFrame = {
    val counts = df.groupBy(col(dateCol)).agg(count(lit(1)).as("n"))
    val mean = counts.agg((sum(col("n")).cast("double") / count(lit(1))).as("mean_n"))
    counts.crossJoin(broadcast(mean))
      .withColumn("reason",
        when(col("n") < floor, lit("below_floor"))
          .when(col("n") < col("mean_n") * 0.5, lit("below_half_mean"))
          .when(col("n") > col("mean_n") * 2.0, lit("above_double_mean")))
      .filter(col("reason").isNotNull)
      .select(col(dateCol), col("n"), col("reason"))
  }
}
