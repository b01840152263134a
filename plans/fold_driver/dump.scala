// Dump EXPLAIN FORMATTED of the recursive-fold family's 12 catalog queries,
// with the fixture path replaced by <fixtures>. Run against a built jar
// with GraftSession's planner settings:
//   SF_DIR=<fixtures> PLAN_OUT=<dir> SIDE=before|after spark-shell \
//     --master local[4] --conf spark.sql.shuffle.partitions=4 \
//     --conf spark.sql.session.timeZone=UTC --conf spark.sql.ansi.enabled=false \
//     --conf spark.sql.legacy.parquet.nanosAsLong=true \
//     --conf spark.sql.adaptive.enabled=true \
//     --conf spark.sql.extensions=graft.GraftExtensions \
//     --conf spark.sql.parquet.pushdown.inFilterThreshold=500 \
//     --jars <graft jar> -i dump.scala
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode
val sf = sys.env("SF_DIR"); val out = sys.env("PLAN_OUT"); val side = sys.env("SIDE")
val names = Seq("q_ema", "q_macd", "q_rsi_wilder", "q_kama", "q_holt",
  "q_holt_winters", "q_forecast_accuracy", "q_cusum", "q_stoch",
  "q_donchian", "q_ichimoku", "q_rolling_median")
names.foreach { n =>
  val df = graft.SparkEntry.queries(n)(spark, sf)
  val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    .replace(sf, "<fixtures>")
  Files.writeString(Paths.get(s"$out/${n}_$side.txt"),
    s"-- $n: EXPLAIN FORMATTED over the sf0.01 fixtures\n\n$p")
}
System.exit(0)
