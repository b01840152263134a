package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Event-stream semantics in batch form (SURVEY §2.9): tumbling windows,
  * gap-based sessionization and interval joins, oracle-checked. The
  * reference has no streaming runtime, so these batch queries are the
  * event surface; the one watermarked operator,
  * [[purchaseAttributionOuter]], runs unchanged on a stream too
  * (StreamingSpec).
  */
object EventQueries {

  private val D6 = DecimalType(18, 6)

  /** Fixed-horizon survival construction shared by q_survival/q_logrank:
    * per user, t = min(days from first event to first purchase, 5) and
    * ev = 1 iff the purchase fell inside the 5-day horizon (else censored
    * at 5); grp = user parity for the two-cohort comparison. */
  private def survivalLifetimes(s: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        col("event_type"))
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("fd"),
        min(when(col("event_type") === "purchase", col("day"))).as("pd"),
        max(col("day")).as("ld"))
    perUser.select(
      least(datediff(coalesce(col("pd"), col("ld")), col("fd")), lit(5))
        .cast("long").as("t"),
      when(col("pd").isNotNull &&
        datediff(col("pd"), col("fd")) <= 5, 1).otherwise(0).as("ev"),
      (col("user_id") % 2).cast("int").as("grp"))
  }

  /** Oracle twin of [[survivalLifetimes]]. */
  private val survivalCte =
    """u AS (
      |  SELECT user_id, MIN(CAST(ts AS DATE)) AS fd,
      |    MIN(CASE WHEN event_type = 'purchase'
      |        THEN CAST(ts AS DATE) END) AS pd,
      |    MAX(CAST(ts AS DATE)) AS ld
      |  FROM events GROUP BY 1),
      |lif AS (
      |  SELECT CAST(LEAST(COALESCE(pd, ld) - fd, 5) AS BIGINT) AS t,
      |    CASE WHEN pd IS NOT NULL AND pd - fd <= 5 THEN 1 ELSE 0 END
      |      AS ev,
      |    CAST(user_id % 2 AS INTEGER) AS grp
      |  FROM u)""".stripMargin

  /** LEFT OUTER interval join: each purchase joined to the same user's
    * clicks in the preceding hour; purchases with NO such click still
    * emit, with null click columns. Both sides are watermarked, so on a
    * stream Spark bounds the join state to watermark + interval, and an
    * unmatched purchase surfaces only once the watermark passes its join
    * window ("no match" is not knowable earlier — StreamingSpec drives the
    * watermark forward with a sentinel event to observe it). On batch
    * input `withWatermark` is a no-op, which is how `q_attribution_outer`
    * runs it. */
  private[graft] def purchaseAttributionOuter(events: DataFrame): DataFrame = {
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

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Tumbling 1-hour event-time windows per type.
    "q_events_hourly" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(D6)).cast("double").as("total_value"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("n"), col("total_value"))),

    // Hopping (sliding) 1-hour windows every 15 minutes: each event lands
    // in exactly 4 overlapping windows. Spark expands the window() slide
    // into a 4-row generator BEFORE the hash aggregate — one shuffle on
    // (window, type), state ∝ open windows, same as tumbling. The oracle
    // replays the expansion explicitly (bucket minus k·hop for k=0..3).
    "q_hopping_window" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(D6)).cast("double").as("total_value"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("n"), col("total_value"))),

    // F1 — epoch-ms ⇄ timestamp/date round trip (`bronze/transformers.py:72`).
    "q_epoch_roundtrip" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"),
          unix_millis(col("ts")).as("epoch_val"),
          graft.functions.GraftFunctions.epochMsToDate(unix_millis(col("ts"))).as("d"))),

    // Ordered funnel (view → click → purchase): per user, the earliest
    // completion time of each successive step strictly after the previous
    // one. Three shuffles, all on user_id (a cluster co-partitions them);
    // each stage's input is pre-filtered to one event type, so the joins
    // stay small. Counts only — no float surface.
    "q_events_funnel" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"))
      val t1 = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val t2 = ev.filter(col("event_type") === "click")
        .join(t1, Seq("user_id")).filter(col("ts") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val t3 = ev.filter(col("event_type") === "purchase")
        .join(t2, Seq("user_id")).filter(col("ts") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      t1.select(lit("1_view").as("step"), col("user_id"))
        .unionByName(t2.select(lit("2_click").as("step"), col("user_id")))
        .unionByName(t3.select(lit("3_purchase").as("step"), col("user_id")))
        .groupBy(col("step")).agg(count(lit(1)).as("n_users"))
    }),

    // Windowed funnel: each step must land within 24 h of the previous
    // step's timestamp — the conversion-window form of q_events_funnel
    // (unbounded windows overcount users who convert weeks later).
    // Exact timestamp-interval arithmetic on both engines, no floats.
    "q_funnel_windowed" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"))
      val t1 = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val t2 = ev.filter(col("event_type") === "click")
        .join(t1, Seq("user_id"))
        .filter(col("ts") > col("t1") &&
          col("ts") <= col("t1") + expr("INTERVAL 24 HOURS"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val t3 = ev.filter(col("event_type") === "purchase")
        .join(t2, Seq("user_id"))
        .filter(col("ts") > col("t2") &&
          col("ts") <= col("t2") + expr("INTERVAL 24 HOURS"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      t1.select(lit("1_view").as("step"), col("user_id"))
        .unionByName(t2.select(lit("2_click").as("step"), col("user_id")))
        .unionByName(t3.select(lit("3_purchase").as("step"), col("user_id")))
        .groupBy(col("step")).agg(count(lit(1)).as("n_users"))
    }),

    // DAU / trailing-28-day MAU / stickiness. Exact distinct-over-window
    // without a window function: each (user, active-day) row supports MAU
    // membership on the 28 days [day, day+27], so membership is an
    // explode (×28, bounded) + distinct + count — two keyed shuffles,
    // linear in user-days, where a per-day COUNT(DISTINCT) over a 28-day
    // frame would rescan the window per day.
    "q_stickiness" -> ((s, dir) => {
      val ud = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val dau = ud.groupBy(col("day"))
        .agg(count(lit(1)).as("dau"))
      val mau = ud.select(col("user_id"),
          explode(expr("sequence(day, date_add(day, 27))")).as("day"))
        .distinct()
        .groupBy(col("day")).agg(count(lit(1)).as("mau28"))
      dau.join(mau, Seq("day"))
        .select(col("day"), col("dau"), col("mau28"),
          round(col("dau").cast("double") / col("mau28").cast("double"), 6)
            .as("stickiness"))
    }),

    // Weekly retention cohorts: users grouped by first-activity week;
    // n_users active per (cohort, weeks-since). Two shuffles on user_id
    // (cohort agg + join back) + one on the cohort key — the standard
    // cohort-table shape at any scale. Week buckets are Sunday-anchored,
    // so weeks_since divisions are exact.
    "q_events_retention" -> ((s, dir) => {
      val wk = graft.functions.GraftFunctions.weekBucket(to_date(col("ts")))
      val weeks = Tables.events(s, dir)
        .select(col("user_id"), wk.as("wk")).distinct()
      val cohorts = weeks.groupBy(col("user_id"))
        .agg(min(col("wk")).as("cohort_wk"))
      weeks.join(cohorts, Seq("user_id"))
        .select(col("cohort_wk"),
          (datediff(col("wk"), col("cohort_wk")) / 7).cast("int").as("weeks_since"))
        .groupBy(col("cohort_wk"), col("weeks_since"))
        .agg(count(lit(1)).as("n_users"))
    }),

    // cohort LTV curve: signup-DAY cohorts × days-since-signup →
    // cumulative purchase revenue, with the cohort's user count for
    // per-user normalization downstream. Retention's revenue twin. All
    // integer: revenue in cents, age in whole days, cumsum over a
    // cohort-partitioned window whose row count is calendar-bounded.
    "q_cohort_ltv" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d"),
          col("event_type"),
          round(col("value") * 100).cast("long").as("v_c"))
      val coh = ev.groupBy(col("user_id"))
        .agg(min(col("d")).as("cohort_d"))
      val sized = coh.groupBy(col("cohort_d"))
        .agg(count(lit(1)).as("cohort_users"))
      val grid = ev.filter(col("event_type") === "purchase")
        .join(coh, Seq("user_id"))
        .groupBy(col("cohort_d"),
          datediff(col("d"), col("cohort_d")).as("age_d"))
        .agg(sum(col("v_c")).as("rev_c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cohort_d")).orderBy(col("age_d"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      grid.withColumn("cum_rev_c", sum(col("rev_c")).over(w))
        .join(broadcast(sized), Seq("cohort_d"))
        .select(col("cohort_d"), col("age_d"), col("cohort_users"),
          col("rev_c"), col("cum_rev_c"))
    }),

    // Kaplan-Meier survival for TIME-TO-FIRST-PURCHASE under a fixed
    // 5-day observation horizon: death = the user's first purchase within
    // 5 days of their first event (at its day offset), right-censored at
    // day 5 otherwise — the standard fixed-horizon conversion-time design.
    // Exact: at-risk counts via the exclusive-prefix carry, the product
    // as exp(Σ ln) with DECIMAL-summed terms.
    "q_survival" -> ((s, dir) =>
      graft.operators.EvalOps.kaplanMeier(
        survivalLifetimes(s, dir), "t", "ev")),

    // Log-rank test between the time-to-purchase curves of two user
    // cohorts (user_id parity) — the A/B comparison of conversion speed.
    // Same fixed-horizon construction as q_survival.
    "q_logrank" -> ((s, dir) =>
      graft.operators.EvalOps.logRank(
        survivalLifetimes(s, dir), "t", "ev", "grp")),

    // Gap-based sessionization (30-min inactivity) via gaps-and-islands.
    "q_events_sessions" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            unix_millis(col("ts")) - unix_millis(col("prev_ts")) > 30 * 60000L, 1)
            .otherwise(0))
        .withColumn("session_id", sum(col("new_session")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"),
          sum(col("value").cast(D6)).cast("double").as("total_value"))
    }),

    // LEFT OUTER purchase→click attribution (purchaseAttributionOuter):
    // unmatched purchases keep a null click_id — the row an inner join
    // drops.
    "q_attribution_outer" -> ((s, dir) =>
      purchaseAttributionOuter(Tables.events(s, dir))
        .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
          col("click_id"), col("click_ts"))),

    // purchase→click attribution: each purchase counts the same user's
    // clicks in the preceding hour. Shuffles on user_id only; the interval
    // predicate filters in-join.
    "q_attribution" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("purchase_ts"),
          col("event_id").as("purchase_id"))
      purchases.join(clicks,
          col("c_user") === col("user_id") &&
            col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
            col("click_ts") <= col("purchase_ts"), "left")
        .groupBy(col("purchase_id"), col("user_id"))
        .agg(count(col("click_ts")).as("n_clicks"))
    }),

    // cumulative distinct users per day: Spark has no windowed
    // count(distinct), so mark each user's FIRST day (row_number over the
    // user) and running-sum the marks over the date spine — the growth
    // curve every launch dashboard needs, with one shuffle on user and one
    // on the (tiny) per-day frame.
    "q_cume_users" -> ((s, dir) => {
      val firstDay = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d"))
        .groupBy(col("user_id")).agg(min(col("d")).as("first_day"))
        .groupBy(col("first_day")).agg(count(lit(1)).as("new_users"))
      val daily = Tables.events(s, dir)
        .select(to_date(col("ts")).as("d")).distinct()
      // two-level cumsum, no global window anywhere in the plan: running
      // sums are per-MONTH partitions, and each month's carry-in is the
      // sum of all prior months' totals via a broadcast self-join over the
      // (tiny) month dimension. Same curve as a single global cumsum, but
      // the widest window partition is one month of days — parallel and
      // bounded at any corpus size.
      val perDay = daily
        .join(firstDay, col("d") === col("first_day"), "left")
        .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
        .withColumn("m", trunc(col("d"), "month"))
      val inMonth = sum(col("new_users")).over(
        Window.partitionBy(col("m")).orderBy(col("d"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
      val monthTotals = perDay.groupBy(col("m"))
        .agg(sum(col("new_users")).as("m_total"))
      val carryIn = monthTotals.as("a")
        .join(broadcast(monthTotals.select(col("m").as("m2"),
          col("m_total").as("t2"))), col("m2") < col("a.m"), "left")
        .groupBy(col("a.m").as("cm"))
        .agg(coalesce(sum(col("t2")), lit(0L)).as("carry"))
      perDay.withColumn("cume_in_month", inMonth)
        .join(broadcast(carryIn), col("m") === col("cm"))
        .select(col("d"), col("new_users"),
          (col("cume_in_month") + col("carry")).as("cume_users"))
    }),

    // First-order Markov transition matrix over per-user event sequences:
    // lag within (user, ts, event_id)-ordered streams → pair counts →
    // per-source probabilities. Counts are integers and the probability is
    // one BIGINT/BIGINT double division, so no rounding is needed. Scale:
    // one user shuffle for the lag, one (prev, next) aggregation; the
    // per-source totals re-aggregate the tiny transition matrix itself.
    // Path mining: the 20 most common 3-step event-type sequences —
    // the trigram big sibling of q_markov's pair transitions. One user
    // shuffle for the lags, one path aggregation, TakeOrdered top-k.
    "q_event_paths" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("p1", lag(col("event_type"), 2).over(w))
        .withColumn("p2", lag(col("event_type"), 1).over(w))
        .filter(col("p1").isNotNull)
        .select(concat_ws(">", col("p1"), col("p2"), col("event_type"))
          .as("path"))
        .groupBy("path").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path"))
        .limit(20)
    }),

    // per-user trajectory length: positions planted on event ids (the
    // geo-salting closed form), consecutive steps via the per-user lag,
    // step lengths as micro-degree longs (sqrt IS IEEE-correctly-rounded
    // — unlike trig — so round(sqrt·1e6) is engine-identical) summed
    // exactly. One user shuffle; the movement-analytics shape over any
    // pinged entity.
    "q_trajectory" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          (lit(-10.0) + (col("event_id") * 7919 % 2000) / 100.0).as("lat"),
          (lit(-20.0) + (col("event_id") * 104729 % 4000) / 100.0).as("lon"))
        .withColumn("plat", lag(col("lat"), 1).over(w))
        .withColumn("plon", lag(col("lon"), 1).over(w))
        .filter(col("plat").isNotNull)
        .withColumn("step", round(sqrt(
          (col("lon") - col("plon")) * (col("lon") - col("plon")) +
          (col("lat") - col("plat")) * (col("lat") - col("plat"))) * 1e6)
          .cast("long"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_steps"),
          sum(col("step")).as("path_microdeg"))
    }),

    // co-location pairs: users observed in the same 1-degree cell on the
    // same day (positions planted per VENUE — user % 7 shared bases — so
    // the fixture carries real co-presence structure), counted per pair.
    // The contact-graph shape: one distinct projection, one (day, cell)
    // equi-self-join (each co-presence meets once via user_a < user_b),
    // one pair aggregation — never an all-pairs product.
    "q_colocation" -> ((s, dir) => {
      val epochDay = datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
      val p = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d"),
          floor(lit(-20.0) + ((col("user_id") % 7) * 104729 + epochDay * 29)
            % 4000 / 100.0).cast("long").as("cx"),
          floor(lit(-10.0) + ((col("user_id") % 7) * 7919 + epochDay * 13)
            % 2000 / 100.0).cast("long").as("cy"))
        .distinct()
      p.select(col("user_id").as("user_a"), col("d"), col("cx"), col("cy"))
        .join(p.select(col("user_id").as("user_b"), col("d"), col("cx"),
          col("cy")), Seq("d", "cx", "cy"))
        .filter(col("user_a") < col("user_b"))
        .groupBy(col("user_a"), col("user_b"))
        .agg(count(lit(1)).as("n_codays"))
    }),

    // staypoint detection: maximal runs of >= 2 consecutive SMALL steps
    // (step <= 0.2 deg in micro-long units — exact integer compare) per
    // user — the dwell-extraction pass of trajectory mining, as
    // gaps-and-islands over the movement flags. Output keys are event
    // ids, not timestamps, so the contract stays integer-exact.
    "q_staypoints" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val epochDay = datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
      val steps = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          // positions planted per (user, DAY): same-day pings dwell at one
          // spot (zero-length steps -> still runs), day changes jump --
          // the correlation a dwell detector needs
          (lit(-10.0) + ((col("user_id") * 7919 + epochDay * 13) % 2000)
            / 100.0).as("lat"),
          (lit(-20.0) + ((col("user_id") * 104729 + epochDay * 29) % 4000)
            / 100.0).as("lon"))
        .withColumn("plat", lag(col("lat"), 1).over(w))
        .withColumn("plon", lag(col("lon"), 1).over(w))
        .filter(col("plat").isNotNull)
        .withColumn("step", round(sqrt(
          (col("lon") - col("plon")) * (col("lon") - col("plon")) +
          (col("lat") - col("plat")) * (col("lat") - col("plat"))) * 1e6)
          .cast("long"))
        .withColumn("still", (col("step") <= 200000L).cast("int"))
      val flips = steps
        .withColumn("chg",
          when(lag(col("still"), 1).over(w).isNull ||
            lag(col("still"), 1).over(w) =!= col("still"), 1).otherwise(0))
        .withColumn("grp", sum(col("chg")).over(
          Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      flips.filter(col("still") === 1)
        .groupBy(col("user_id"), col("grp"))
        .agg(count(lit(1)).as("n_steps"),
          min(col("event_id")).as("first_event"),
          max(col("event_id")).as("last_event"))
        .filter(col("n_steps") >= 2)
        .select(col("user_id"), col("first_event"), col("last_event"),
          col("n_steps"))
    }),

    // origin-destination matrix: per-step (from_cell -> to_cell)
    // transition counts at 1-degree grain — the mobility-flow rollup;
    // one user shuffle for the lag, one cell-pair aggregation.
    "q_od_matrix" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          (lit(-10.0) + (col("event_id") * 7919 % 2000) / 100.0).as("lat"),
          (lit(-20.0) + (col("event_id") * 104729 % 4000) / 100.0).as("lon"))
        .select(col("user_id"), col("ts"), col("event_id"),
          floor(col("lon")).cast("long").as("cx"),
          floor(col("lat")).cast("long").as("cy"))
        .withColumn("pcx", lag(col("cx"), 1).over(w))
        .withColumn("pcy", lag(col("cy"), 1).over(w))
        .filter(col("pcx").isNotNull &&
          (col("pcx") =!= col("cx") || col("pcy") =!= col("cy")))
        .groupBy(col("pcx"), col("pcy"), col("cx"), col("cy"))
        .agg(count(lit(1)).as("n_trips"))
    }),

    "q_markov" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val pairs = Tables.events(s, dir)
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("cnt"))
      val totals = pairs.groupBy("prev_type").agg(sum("cnt").as("tot"))
      pairs.join(broadcast(totals), "prev_type")
        .withColumn("prob", col("cnt").cast("double") / col("tot").cast("double"))
        .select("prev_type", "next_type", "cnt", "prob")
    }),

    // Stationary distribution of the event-type Markov chain — the
    // weighted-walk power iteration (GraphOps.stationaryFp) on q_markov's
    // transition counts; fixed-point integers, oracle unrolls 4 rounds.
    "q_stationary" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val trans = Tables.events(s, dir)
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type").as("src"), col("event_type").as("dst"))
        .agg(count(lit(1)).as("c"))
      graft.operators.GraphOps.stationaryFp(trans, iters = 4)
        .select(col("node").as("event_type"), col("mass_fp"))
    })
  )

  def oracles: Map[String, String] = Map(
    "q_event_paths" ->
      """WITH seq AS (
        |  SELECT event_type,
        |    LAG(event_type, 2) OVER w AS p1,
        |    LAG(event_type, 1) OVER w AS p2
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT p1 || '>' || p2 || '>' || event_type AS path, COUNT(*) AS n
        |FROM seq WHERE p1 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 20""".stripMargin,
    // colocation replay: same venue-planted cells, (day, cell) self-join
    "q_colocation" ->
      """WITH p AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d,
        |    CAST(FLOOR(-20.0 + (((user_id % 7) * 104729
        |      + (CAST(ts AS DATE) - DATE '1970-01-01') * 29) % 4000)
        |      / 100.0) AS BIGINT) AS cx,
        |    CAST(FLOOR(-10.0 + (((user_id % 7) * 7919
        |      + (CAST(ts AS DATE) - DATE '1970-01-01') * 13) % 2000)
        |      / 100.0) AS BIGINT) AS cy
        |  FROM events)
        |SELECT a.user_id AS user_a, b.user_id AS user_b,
        |  COUNT(*) AS n_codays
        |FROM p a JOIN p b
        |  ON a.d = b.d AND a.cx = b.cx AND a.cy = b.cy
        |  AND a.user_id < b.user_id
        |GROUP BY 1, 2""".stripMargin,

    // staypoint replay: same step lattice, flag flips -> running-sum
    // groups -> still islands of >= 2 steps
    "q_staypoints" ->
      """WITH p AS (
        |  SELECT user_id, ts, event_id,
        |    -10.0 + ((user_id * 7919
        |      + (CAST(ts AS DATE) - DATE '1970-01-01') * 13) % 2000)
        |      / 100.0 AS lat,
        |    -20.0 + ((user_id * 104729
        |      + (CAST(ts AS DATE) - DATE '1970-01-01') * 29) % 4000)
        |      / 100.0 AS lon
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, event_id, lat, lon,
        |    LAG(lat) OVER w AS plat, LAG(lon) OVER w AS plon
        |  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |st AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN CAST(ROUND(SQRT((lon - plon) * (lon - plon)
        |      + (lat - plat) * (lat - plat)) * 1000000) AS BIGINT) <= 200000
        |      THEN 1 ELSE 0 END AS still
        |  FROM s WHERE plat IS NOT NULL),
        |fl AS (
        |  SELECT user_id, ts, event_id, still,
        |    CASE WHEN LAG(still) OVER w IS NULL
        |      OR LAG(still) OVER w <> still THEN 1 ELSE 0 END AS chg
        |  FROM st WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (
        |  SELECT user_id, event_id, still,
        |    SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM fl)
        |SELECT user_id, MIN(event_id) AS first_event,
        |  MAX(event_id) AS last_event, COUNT(*) AS n_steps
        |FROM g WHERE still = 1
        |GROUP BY user_id, grp HAVING COUNT(*) >= 2""".stripMargin,

    // OD replay: 1-degree cells, per-user lag, cross-cell step counts
    "q_od_matrix" ->
      """WITH p AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(FLOOR(-20.0 + (event_id * 104729 % 4000) / 100.0)
        |      AS BIGINT) AS cx,
        |    CAST(FLOOR(-10.0 + (event_id * 7919 % 2000) / 100.0)
        |      AS BIGINT) AS cy
        |  FROM events),
        |s AS (
        |  SELECT user_id, cx, cy,
        |    LAG(cx) OVER w AS pcx, LAG(cy) OVER w AS pcy
        |  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT pcx, pcy, cx, cy, COUNT(*) AS n_trips
        |FROM s
        |WHERE pcx IS NOT NULL AND (pcx <> cx OR pcy <> cy)
        |GROUP BY 1, 2, 3, 4""".stripMargin,

    // trajectory replay: same planted positions, per-user lag, micro-long
    // step sum
    "q_trajectory" ->
      """WITH p AS (
        |  SELECT user_id, ts, event_id,
        |    -10.0 + (event_id * 7919 % 2000) / 100.0 AS lat,
        |    -20.0 + (event_id * 104729 % 4000) / 100.0 AS lon
        |  FROM events),
        |s AS (
        |  SELECT user_id, lat, lon,
        |    LAG(lat) OVER w AS plat, LAG(lon) OVER w AS plon
        |  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |st AS (
        |  SELECT user_id,
        |    CAST(ROUND(SQRT((lon - plon) * (lon - plon)
        |      + (lat - plat) * (lat - plat)) * 1000000) AS BIGINT) AS step
        |  FROM s WHERE plat IS NOT NULL)
        |SELECT user_id, COUNT(*) AS n_steps,
        |  CAST(SUM(step) AS BIGINT) AS path_microdeg
        |FROM st GROUP BY 1""".stripMargin,

    "q_markov" ->
      """WITH seq AS (
        |  SELECT event_type,
        |    LAG(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |pairs AS (
        |  SELECT prev_type, event_type AS next_type, COUNT(*) AS cnt
        |  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |totals AS (
        |  SELECT prev_type, CAST(SUM(cnt) AS BIGINT) AS tot
        |  FROM pairs GROUP BY 1)
        |SELECT p.prev_type, p.next_type, p.cnt,
        |  CAST(p.cnt AS DOUBLE) / CAST(t.tot AS DOUBLE) AS prob
        |FROM pairs p JOIN totals t USING (prev_type)""".stripMargin,
    "q_stationary" -> {
      def iter(i: Int): String =
        s"""w$i AS (
           |  SELECT t.dst AS node, CAST(SUM((v.v * t.c) // r.rs) AS BIGINT) AS w
           |  FROM t JOIN v${i - 1} v ON t.src = v.node
           |  JOIN rs r ON t.src = r.src GROUP BY 1),
           |v$i AS (
           |  SELECT n.node, COALESCE(w.w, 0) AS v
           |  FROM nodes n LEFT JOIN w$i w ON n.node = w.node)""".stripMargin
      s"""WITH seq AS (
         |  SELECT event_type,
         |    LAG(event_type, 1) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS prev_type
         |  FROM events),
         |t AS (
         |  SELECT prev_type AS src, event_type AS dst, COUNT(*) AS c
         |  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
         |rs AS (SELECT src, CAST(SUM(c) AS BIGINT) AS rs FROM t GROUP BY 1),
         |nodes AS (
         |  SELECT DISTINCT node FROM
         |    (SELECT src AS node FROM t UNION ALL SELECT dst FROM t)),
         |cnt AS (SELECT COUNT(*) AS nn FROM nodes),
         |v0 AS (SELECT node, 1000000000000 // nn AS v FROM nodes, cnt),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)},
         |${iter(4)}
         |SELECT node AS event_type, v AS mass_fp FROM v4""".stripMargin
    },

    "q_epoch_roundtrip" ->
      """SELECT event_id, epoch_ms(ts) AS epoch_val, CAST(ts AS DATE) AS d
        |FROM events""".stripMargin,
    "q_events_hourly" ->
      """SELECT DATE_TRUNC('hour', ts) AS window_start, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_hopping_window" ->
      """SELECT ws AS window_start, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM (
        |  SELECT e.event_type, e.value,
        |    time_bucket(INTERVAL 15 MINUTE, e.ts) - (k.i * INTERVAL 15 MINUTE) AS ws
        |  FROM events e CROSS JOIN (VALUES (0),(1),(2),(3)) k(i)
        |) GROUP BY 1, 2""".stripMargin,
    "q_events_funnel" ->
      """WITH t1 AS (
        |  SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
        |  JOIN t1 ON e.user_id = t1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY 1),
        |t3 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
        |  JOIN t2 ON e.user_id = t2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY 1)
        |SELECT step, COUNT(*) AS n_users FROM (
        |  SELECT '1_view' AS step, user_id FROM t1
        |  UNION ALL SELECT '2_click', user_id FROM t2
        |  UNION ALL SELECT '3_purchase', user_id FROM t3) u
        |GROUP BY step""".stripMargin,
    "q_funnel_windowed" ->
      """WITH t1 AS (
        |  SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
        |  JOIN t1 ON e.user_id = t1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > t1.t1
        |    AND e.ts <= t1.t1 + INTERVAL 24 HOUR GROUP BY 1),
        |t3 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
        |  JOIN t2 ON e.user_id = t2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > t2.t2
        |    AND e.ts <= t2.t2 + INTERVAL 24 HOUR GROUP BY 1)
        |SELECT step, COUNT(*) AS n_users FROM (
        |  SELECT '1_view' AS step, user_id FROM t1
        |  UNION ALL SELECT '2_click', user_id FROM t2
        |  UNION ALL SELECT '3_purchase', user_id FROM t3) u
        |GROUP BY step""".stripMargin,
    "q_stickiness" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY 1),
        |m AS (
        |  SELECT DISTINCT user_id, day + CAST(i AS INTEGER) AS day
        |  FROM ud, UNNEST(range(0, 28)) AS t(i)),
        |mau AS (SELECT day, COUNT(*) AS mau28 FROM m GROUP BY 1)
        |SELECT d.day, d.dau, mau.mau28,
        |  ROUND(CAST(d.dau AS DOUBLE) / CAST(mau.mau28 AS DOUBLE), 6)
        |    AS stickiness
        |FROM dau d JOIN mau USING (day)""".stripMargin,
    "q_cohort_ltv" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, event_type,
        |    CAST(ROUND(value * 100) AS BIGINT) AS v_c
        |  FROM events),
        |coh AS (
        |  SELECT user_id, MIN(d) AS cohort_d FROM ev GROUP BY 1),
        |sized AS (SELECT cohort_d, COUNT(*) AS cohort_users
        |          FROM coh GROUP BY 1),
        |grid AS (
        |  SELECT c.cohort_d,
        |    CAST(e.d - c.cohort_d AS INT) AS age_d,
        |    CAST(SUM(e.v_c) AS BIGINT) AS rev_c
        |  FROM ev e JOIN coh c USING (user_id)
        |  WHERE e.event_type = 'purchase'
        |  GROUP BY 1, 2)
        |SELECT g.cohort_d, g.age_d, s.cohort_users, g.rev_c,
        |  CAST(SUM(g.rev_c) OVER (PARTITION BY g.cohort_d ORDER BY g.age_d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_rev_c
        |FROM grid g JOIN sized s USING (cohort_d)""".stripMargin,

    "q_events_retention" ->
      """WITH weeks AS (
        |  SELECT DISTINCT user_id,
        |    CAST(ts AS DATE) - CAST(DAYOFWEEK(CAST(ts AS DATE)) AS INTEGER) AS wk
        |  FROM events),
        |cohorts AS (
        |  SELECT user_id, MIN(wk) AS cohort_wk FROM weeks GROUP BY 1)
        |SELECT cohort_wk,
        |  CAST((wk - cohort_wk) / 7 AS INTEGER) AS weeks_since,
        |  COUNT(*) AS n_users
        |FROM weeks JOIN cohorts USING (user_id)
        |GROUP BY 1, 2""".stripMargin,
    "q_logrank" ->
      s"""WITH $survivalCte,
        |byt AS (
        |  SELECT t,
        |    CAST(SUM(CASE WHEN grp = 0 AND ev = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d0,
        |    CAST(SUM(CASE WHEN grp = 1 AND ev = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d1,
        |    CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a0,
        |    CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a1
        |  FROM lif GROUP BY 1),
        |tot AS (SELECT CAST(SUM(a0) AS BIGINT) AS nt0,
        |  CAST(SUM(a1) AS BIGINT) AS nt1 FROM byt),
        |r AS (
        |  SELECT t, d0, d1,
        |    nt0 - COALESCE(SUM(a0) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n0,
        |    nt1 - COALESCE(SUM(a1) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1,
        |    nt0, nt1
        |  FROM byt, tot),
        |k AS (
        |  SELECT t, d0, d1, n0, n1, n0 + n1 AS n, d0 + d1 AS d, nt0, nt1
        |  FROM r WHERE d0 + d1 > 0),
        |terms AS (
        |  SELECT
        |    CAST(CAST(d0 AS DOUBLE)
        |      - CAST(n0 AS DOUBLE) * CAST(d AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS DECIMAL(38,12)) AS diff,
        |    CAST(CASE WHEN n > 1 THEN
        |        CAST(n0 * n1 * d * (n - d) AS DOUBLE)
        |        / CAST(n * n * (n - 1) AS DOUBLE)
        |      ELSE 0.0 END AS DECIMAL(38,12)) AS v,
        |    d, nt0, nt1
        |  FROM k)
        |SELECT
        |  ROUND(CAST(SUM(diff) AS DOUBLE) * CAST(SUM(diff) AS DOUBLE)
        |    / CAST(SUM(v) AS DOUBLE), 6) AS chi2,
        |  ROUND(CAST(SUM(diff) AS DOUBLE), 6) AS sum_obs_minus_exp,
        |  CAST(SUM(d) AS BIGINT) AS n_deaths, nt0 AS n0, nt1 AS n1
        |FROM terms GROUP BY nt0, nt1""".stripMargin,

    "q_survival" ->
      s"""WITH $survivalCte,
        |byt AS (
        |  SELECT t, CAST(SUM(ev) AS BIGINT) AS d,
        |    CAST(COUNT(*) - SUM(ev) AS BIGINT) AS c
        |  FROM lif GROUP BY 1),
        |tot AS (SELECT CAST(SUM(d + c) AS BIGINT) AS n_total FROM byt),
        |r AS (
        |  SELECT t, d, c,
        |    n_total - COALESCE(SUM(d + c) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS n_risk
        |  FROM byt, tot),
        |terms AS (
        |  SELECT t, n_risk, d, c,
        |    CAST(CASE WHEN d < n_risk
        |      THEN LN(1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE))
        |      ELSE 0.0 END AS DECIMAL(38,12)) AS term,
        |    CASE WHEN d = n_risk THEN 1 ELSE 0 END AS sat
        |  FROM r),
        |cum AS (
        |  SELECT t, CAST(n_risk AS BIGINT) AS n_risk, d, c,
        |    SUM(term) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS ct,
        |    SUM(sat) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS cs
        |  FROM terms)
        |SELECT t, n_risk, d, c,
        |  CASE WHEN cs > 0 THEN 0.0
        |       ELSE ROUND(EXP(CAST(ct AS DOUBLE)), 6) END AS s
        |FROM cum""".stripMargin,

    "q_events_sessions" ->
      """WITH lagged AS (
        |  SELECT *, LAG(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |    OR epoch_ms(ts) - epoch_ms(prev_ts) > 30 * 60000 THEN 1 ELSE 0 END AS new_session
        |  FROM lagged),
        |sess AS (
        |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM flagged)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM sess GROUP BY 1, 2""".stripMargin,
    "q_attribution_outer" ->
      """WITH c AS (SELECT user_id AS c_user, ts AS click_ts,
        |             event_id AS click_id
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts AS purchase_ts, event_id AS purchase_id
        |      FROM events WHERE event_type = 'purchase')
        |SELECT p.purchase_id, p.user_id, p.purchase_ts,
        |  c.click_id, c.click_ts
        |FROM p LEFT JOIN c
        |  ON c.c_user = p.user_id
        |  AND c.click_ts >= p.purchase_ts - INTERVAL 1 HOUR
        |  AND c.click_ts <= p.purchase_ts""".stripMargin,

    "q_attribution" ->
      """WITH c AS (SELECT user_id AS c_user, ts AS click_ts FROM events
        |           WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts AS purchase_ts, event_id AS purchase_id
        |      FROM events WHERE event_type = 'purchase')
        |SELECT p.purchase_id, p.user_id, COUNT(c.click_ts) AS n_clicks
        |FROM p LEFT JOIN c
        |  ON c.c_user = p.user_id
        |  AND c.click_ts >= p.purchase_ts - INTERVAL 1 HOUR
        |  AND c.click_ts <= p.purchase_ts
        |GROUP BY 1, 2""".stripMargin,
    "q_cume_users" ->
      """WITH fd AS (
        |  SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
        |  FROM events GROUP BY 1),
        |nu AS (SELECT first_day, COUNT(*) AS new_users FROM fd GROUP BY 1),
        |days AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events)
        |SELECT d, CAST(COALESCE(nu.new_users, 0) AS BIGINT) AS new_users,
        |  CAST(SUM(COALESCE(nu.new_users, 0)) OVER (ORDER BY d
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cume_users
        |FROM days LEFT JOIN nu ON days.d = nu.first_day""".stripMargin
  )
}
