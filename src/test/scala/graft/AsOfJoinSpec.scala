package graft

import graft.operators.AsOfJoin
import java.sql.Date
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class AsOfJoinSpec extends SparkSpecBase {
  import spark.implicits._

  private def d(s: String) = Date.valueOf(s)

  private lazy val quotes = Seq(
    ("A", d("2024-01-01"), 10.0), ("A", d("2024-01-05"), 11.0),
    ("A", d("2024-03-01"), 12.0), ("B", d("2024-01-03"), 20.0))
    .toDF("ticker", "date", "close")
  private lazy val marks = Seq(
    ("A", d("2024-01-01"), 1.0), ("A", d("2024-01-04"), 2.0),
    ("C", d("2024-01-01"), 9.0))
    .toDF("ticker", "mark_date", "mark")

  test("backward as-of: most recent mark ≤ date, equality matches, no mark → null") {
    val out = AsOfJoin.asOf(quotes, marks, Seq("ticker"), "date", "mark_date", Seq("mark"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString,
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toSet
    assert(out === Set(
      ("A", "2024-01-01", Some(1.0)),  // equality counts
      ("A", "2024-01-05", Some(2.0)),
      ("A", "2024-03-01", Some(2.0)),  // carried far forward
      ("B", "2024-01-03", None)))      // key with no marks
  }

  test("forward as-of: earliest mark ≥ date, equality matches, nothing ahead → null") {
    val out = AsOfJoin.asOfForward(quotes, marks, Seq("ticker"), "date", "mark_date", Seq("mark"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString,
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toSet
    assert(out === Set(
      ("A", "2024-01-01", Some(1.0)),  // equality counts
      ("A", "2024-01-05", None),       // no mark at or after
      ("A", "2024-03-01", None),
      ("B", "2024-01-03", None)))
  }

  test("nearest as-of: closer side wins, exact tie goes backward") {
    // A@01-01: backward mark same day (dist 0) → backward
    // A@01-05: backward 01-04 (1d) vs nothing forward → backward
    // A@01-03 probe added: backward 01-01 (2d) vs forward 01-04 (1d) → forward
    // A@01-02+01-06 tie fixture: marks at 01-01 & 01-04 → 01-02 is 1d/2d
    val probes = Seq(
      ("A", d("2024-01-01"), 0.0), ("A", d("2024-01-03"), 0.0),
      ("A", d("2024-01-05"), 0.0), ("B", d("2024-01-03"), 0.0))
      .toDF("ticker", "date", "close")
    val out = AsOfJoin.asOfNearest(probes, marks, Seq("ticker"),
      "date", "mark_date", Seq("mark"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString) ->
        (Option(r.get(r.fieldIndex("mark"))).map(_.asInstanceOf[Double]),
         Option(r.getString(r.fieldIndex("matched_dir"))))).toMap
    assert(out(("A", "2024-01-01")) === ((Some(1.0), Some("backward"))))
    assert(out(("A", "2024-01-03")) === ((Some(2.0), Some("forward")))) // 2d back vs 1d fwd
    assert(out(("A", "2024-01-05")) === ((Some(2.0), Some("backward"))))
    assert(out(("B", "2024-01-03")) === ((None, None)))
    // exact tie: probe equidistant (01-01 and 01-04 are not symmetric
    // around any date; use a dedicated pair 2 days apart)
    val tieMarks = Seq(("T", d("2024-01-01"), 1.0), ("T", d("2024-01-05"), 2.0))
      .toDF("ticker", "mark_date", "mark")
    val tieProbe = Seq(("T", d("2024-01-03"), 0.0))
      .toDF("ticker", "date", "close")
    val tie = AsOfJoin.asOfNearest(tieProbe, tieMarks, Seq("ticker"),
      "date", "mark_date", Seq("mark")).collect().head
    assert(tie.getDouble(tie.fieldIndex("mark")) === 1.0) // backward on tie
    assert(tie.getString(tie.fieldIndex("matched_dir")) === "backward")
  }

  test("tolerance nulls out stale matches") {
    val out = AsOfJoin.asOfWithTolerance(quotes, marks, Seq("ticker"),
      "date", "mark_date", Seq("mark"), toleranceDays = 10)
      .filter($"date" === d("2024-03-01"))
      .collect().head
    assert(out.isNullAt(out.fieldIndex("mark")))
    assert(out.isNullAt(out.fieldIndex("matched_time")))
  }

  /** Spark's own as-of join: `Dataset.joinAsOf` builds Catalyst's logical
    * `AsOfJoin`, which `RewriteAsOfJoin` turns into a correlated `min_by`
    * subquery (planned as a nested-loop join on the time predicate). The
    * method is `private[sql]`, so it is reached by reflection. Its output
    * keeps both sides' key columns, so callers pick the key through `left(..)`. */
  private def sparkAsOf(left: DataFrame, right: DataFrame, leftTime: String,
      rightTime: String, forward: Boolean): DataFrame = {
    val joinAsOf = left.getClass.getMethods.find(m => m.getName == "joinAsOf" &&
      m.getParameterTypes()(3) == classOf[Seq[_]]).get
    joinAsOf.invoke(left, right, left(leftTime), right(rightTime), Seq("ticker"), "left",
      null, java.lang.Boolean.TRUE, if (forward) "forward" else "backward")
      .asInstanceOf[DataFrame]
  }

  test("native as-of ≡ composed as-of on the bars fixture, both directions") {
    val bars = Tables.bars(spark, sf)
    val left = bars.select($"ticker", $"date", $"close")
    val right = bars.filter(dayofmonth($"date") <= 7)
      .select($"ticker", $"date".as("rdate"), $"volume")
    val cols = Seq("ticker", "date", "close", "volume", "matched_time")
    for (fwd <- Seq(false, true)) {
      val composed =
        (if (fwd) AsOfJoin.asOfForward(left, right, Seq("ticker"), "date", "rdate", Seq("volume"))
         else AsOfJoin.asOf(left, right, Seq("ticker"), "date", "rdate", Seq("volume")))
          .select(cols.map(col): _*)
      val native = sparkAsOf(left, right, "date", "rdate", fwd)
        .select(left("ticker"), $"date", $"close", $"volume", $"rdate".as("matched_time"))
      // every right row of the same ticker on the allowed side of the left
      // row's date; the as-of match is the latest (backward) or earliest
      // (forward) of them, and no candidate at all leaves nulls
      val reference = left
        .join(right.withColumnRenamed("ticker", "rticker"), $"rticker" === $"ticker" &&
          (if (fwd) $"rdate" >= $"date" else $"rdate" <= $"date"), "left")
        .groupBy($"ticker", $"date", $"close")
        .agg(
          (if (fwd) min_by($"volume", $"rdate") else max_by($"volume", $"rdate")).as("volume"),
          (if (fwd) min($"rdate") else max($"rdate")).as("matched_time"))
        .select(cols.map(col): _*)
      val a = composed.collect().map(_.toString).sorted
      assert(a.length === left.count(), s"one output row per left row (forward=$fwd)")
      assert(a === native.collect().map(_.toString).sorted, s"native rows differ (forward=$fwd)")
      assert(a === reference.collect().map(_.toString).sorted,
        s"reference rows differ (forward=$fwd)")
      assert(reference.filter($"matched_time".isNotNull).count() > 0,
        s"no left row matched (forward=$fwd)")
    }
  }

  /** Both inputs materialized as parquet, so the only exchanges in a plan
    * are the join's own (bars itself aggregates); the left side keeps all
    * 8 bar columns. */
  private lazy val (wideBars, barMarks) = {
    val leftDir = java.nio.file.Files.createTempDirectory("graft_asof_left").toString
    val rightDir = java.nio.file.Files.createTempDirectory("graft_asof_right").toString
    Tables.bars(spark, sf).write.mode("overwrite").parquet(leftDir)
    Tables.bars(spark, sf).filter(dayofmonth($"date") <= 7)
      .select($"ticker", $"date".as("mark_date"), $"open".as("mark"))
      .write.mode("overwrite").parquet(rightDir)
    (spark.read.parquet(leftDir), spark.read.parquet(rightDir))
  }

  test("composed as-of plans exactly one exchange, hash-partitioned on the key") {
    val out = AsOfJoin.asOf(wideBars, barMarks, Seq("ticker"), "date", "mark_date", Seq("mark"))
      .select("ticker", "date", "mark", "matched_time")
    val plan = out.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges === 1, s"expected 1 exchange, plan:\n${plan.take(2000)}")
    assert(plan.contains("Exchange hashpartitioning(ticker"), plan.take(2000))
    assert(out.collect().length === wideBars.count())
  }

  test("pruning rule narrows the left scan under the native as-of join") {
    // Catalyst's own column pruning, under Spark's as-of join and under
    // the composed one: a query that projects away the unused bar columns
    // reads only the join key and time from the left parquet
    val native = sparkAsOf(wideBars, barMarks, "date", "mark_date", forward = false)
      .select(wideBars("ticker"), wideBars("date"), barMarks("mark"),
        barMarks("mark_date").as("matched_time"))
    val composed = AsOfJoin.asOf(wideBars, barMarks, Seq("ticker"), "date", "mark_date",
      Seq("mark")).select("ticker", "date", "mark", "matched_time")
    for ((name, out) <- Seq("native" -> native, "composed" -> composed)) {
      val plan = out.queryExecution.executedPlan.toString
      val schemas = "ReadSchema: (struct<[^>]*>)".r.findAllMatchIn(plan)
        .map(_.group(1)).toSeq
      assert(schemas.contains("struct<ticker:string,date:date>"), s"$name: $schemas")
      assert(schemas.forall(s => !s.contains("close") && !s.contains("volume")),
        s"$name: $schemas")
      assert(out.collect().length === wideBars.count(), name)
    }
  }

  test("custom functions are callable from SQL text") {
    GraftSession.registerFunctions(spark)
    val dot = spark.sql(
      "SELECT array_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d")
      .collect().head.getDouble(0)
    assert(dot === 32.0)
    Seq(("a", 2.0), ("a", 3.0)).toDF("k", "v").createOrReplaceTempView("pa")
    val p = spark.sql("SELECT product_agg(v) AS p FROM pa GROUP BY k")
      .collect().head.getDouble(0)
    assert(p === 6.0)
    val dl = spark.sql(
      "SELECT array_dot_long(array(1, 2, 3), array(4, 5, 6)) AS d")
      .collect().head.getLong(0)
    assert(dl === 32L)
    val ic = spark.sql(
      "SELECT sorted_intersect_count(array(1L, 3L, 5L), array(3L, 4L, 5L)) AS n")
      .collect().head.getLong(0)
    assert(ic === 2L)
  }
}
