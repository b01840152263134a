package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Plan-shape regression tests: the physical properties that make these
  * operators viable at 100 TB, pinned so a refactor can't silently lose
  * them (SURVEY §4).
  */
class PlanSpec extends SparkSpecBase {

  private def plan(name: String): String = formatted(SparkEntry.queries(name)(spark, sf))

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("filters and projection reach the parquet scan") {
    val p = plan("q_scan_filter")
    assert(p.contains("PushedFilters: [IsNotNull(l_returnflag), IsNotNull(l_linenumber), EqualTo(l_returnflag,R), EqualTo(l_linenumber,1)]"),
      s"missing pushed filters:\n$p")
    // pruned read schema: only the 5 referenced columns, not all 11
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,l_linenumber:int,l_extendedprice:double,l_returnflag:string>"))
  }

  test("dim join broadcasts; no sort-merge on the small side") {
    val p = plan("q_left_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("split adjustment broadcasts the splits dim") {
    val p = plan("q_split_adjust")
    assert(p.contains("BroadcastHashJoin"), p)
    // the factor is folded per bar: no (ticker, date) product aggregate
    // and no join back onto the bars
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.toLowerCase.contains("productagg"), p)
  }

  test("vwap: year and quarter windows share one exchange") {
    val p = plan("q_vwap_signals")
    val windows = "\\(\\d+\\) Window".r.findAllIn(p).size
    assert(windows === 2, s"expected 2 window ops:\n$p")
    // exchanges: one for the bars groupBy, one for the window partitioning —
    // the quarter window must NOT add a third (coarser hash satisfies it)
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges === 2, s"expected 2 exchanges, the windows must share:\n$p")
  }

  test("indicator suite runs all windows off a single ticker sort") {
    val p = plan("q_sma")
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges === 2, s"bars agg + one ticker partitioning only:\n$p")
    val sorts = "\\(\\d+\\) Sort".r.findAllIn(p).size
    assert(sorts === 1, s"all indicator windows share one sort:\n$p")
  }

  test("aggregations are map-side combined (partial before exchange)") {
    val p = plan("q1_agg")
    assert(p.contains("partial_sum"), p)
  }

  test("topk plans as TakeOrderedAndProject, not a global sort") {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("band join plans as broadcast nested-loop, not a cartesian shuffle") {
    val p = plan("q_band_join")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("EXISTS subquery decorrelates to a semi join") {
    val p = plan("q_exists_subquery")
    assert(p.contains("LeftSemi"), p)
  }

  test("per-group topk pushes a partial WindowGroupLimit below the exchange") {
    val p = plan("q_topk_per_group")
    val limits = "\\(\\d+\\) WindowGroupLimit".r.findAllIn(p).size
    assert(limits === 2, s"expected map-side + final WindowGroupLimit:\n$p")
  }

  test("indicators use running frames only (no O(rows×frame) sliding frames)") {
    val p = plan("q_sma")
    // aggregate sliding frames print as
    // specifiedwindowframe(RowFrame, -n, currentrow$()) — that shape is
    // what WindowExec evaluates in O(rows×frame). (lag's -n..-n offset
    // frames are fine: offset functions are O(1)/row.)
    assert("specifiedwindowframe\\(RowFrame, -\\d+, currentrow"
      .r.findFirstIn(p).isEmpty, p)
    assert(p.contains("unboundedpreceding$()") || p.contains("UNBOUNDED PRECEDING"), p)
  }

  test("sample_n plans as TakeOrderedAndProject, not a global sort") {
    val p = plan("q_sample_n")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("IVF centroid seeding: per-partition top-k, no single-partition exchange") {
    val p = formatted(graft.operators.SimilarityOps.ivfSeedFrame(
      Tables.embeddings(spark, sf), 16, "vec_id", "embedding"))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SinglePartition"), p)
    assert(!p.contains("Window"), p)
  }

  test("IVF knn query plan carries NO training work") {
    // training is sample-bounded and driver-local (or loaded from a stored
    // centroid table) — the query plan must be probe + re-rank only: no
    // posexplode fan-out, no (cid, pos) training aggregation
    val p = plan("q_ivf_knn")
    assert(!p.toLowerCase.contains("posexplode"),
      s"Lloyd training leaked back into the query plan:\n$p")
    val aggs = "\\(\\d+\\) HashAggregate".r.findAllIn(p).size
    assert(aggs === 0, s"no aggregation belongs in the IVF probe path:\n$p")
  }

  test("skyline runs a bucketed local frontier before the global pass") {
    val p = plan("q_skyline")
    val windows = "\\(\\d+\\) Window".r.findAllIn(p).size
    assert(windows === 2, s"expected local + global window passes:\n$p")
    // phase 1 shuffles on the hash bucket; only phase 2 — fed the small
    // frontier union — is the unpartitioned pass
    assert(p.contains("hashpartitioning(bucket"), p)
  }

  test("incremental dedup candidates join the stored index by hash, never NLJ") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
    val (bandIdx, setsIdx) = graft.operators.DedupOps.buildNearDupIndex(
      docs.filter(col("doc_id") < 150))
    // past the pushdown cap the candidate join stays in the result's plan
    // (under it the candidates are collected and re-enter as a local
    // relation, so no plan shows how they were generated)
    val p = formatted(graft.operators.DedupOps.incrementalNearDupsIndexed(
      docs.filter(col("doc_id") >= 150), bandIdx, setsIdx, maxPushdownKeys = 2))
    assert(p.contains("Left keys [2]: [band"),
      s"candidate generation must be an equi-join on (band, bucket):\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"candidate generation must stay an equi-join on (band, bucket):\n$p")
  }

  test("point-lookup IN filters reach the parquet scan as real set predicates") {
    import org.apache.spark.sql.functions._
    // the r5 stored-index design stands on this: a ≤500-literal chunk
    // (DedupOps.prunedByKeys) must push to parquet as In(...) — NOT degrade
    // to a min/max range filter, which spans everything over uniformly
    // hashed keys and skips nothing. Guarded by the session's
    // inFilterThreshold (= the chunk size); this pin catches anyone
    // lowering it below the chunk size, which would silently un-prune
    // every incremental dedup batch.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_inpush").toString
    (0 until 5000).map(i => f"$i%032x").toDF("bucket")
      .repartitionByRange(4, col("bucket")).sortWithinPartitions("bucket")
      .write.mode("overwrite").parquet(dir)
    val keys = (0 until 400).map(i => f"${i * 7}%032x")
    val p = formatted(
      spark.read.parquet(dir).filter(col("bucket").isin(keys: _*)))
    assert(p.contains("PushedFilters: [In(bucket"),
      s"a 400-literal IN must push as a set predicate:\n${p.take(2000)}")
  }

  test("date filters prune hive partitions at the scan (PartitionFilters)") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_prune").toString
    Tables.bars(spark, sf)
      .withColumn("month", trunc(col("date"), "month"))
      .repartition(col("month"))
      .write.mode("overwrite").partitionBy("month").parquet(dir)
    val months = new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("month="))
    assert(months > 10)
    val q = spark.read.parquet(dir)
      .filter(col("month") === lit("1995-03-01").cast("date"))
      .agg(sum(col("volume")))
    val p = formatted(q)
    // the partition filter reaches the scan, and the file index reports
    // exactly one of the N month directories selected
    assert(p.contains("PartitionFilters"), p)
    val selected = "partitions read: (\\d+)".r.findFirstMatchIn(p.toLowerCase)
    assert(selected.isEmpty || selected.get.group(1).toInt == 1,
      s"expected 1 partition read:\n$p")
    assert(q.collect().head.getLong(0) > 0)
  }

  test("WARC codec plans with NO exchange") {
    // the encode→parse chain is a partition-at-a-time projection over a
    // binary column — the object-store batch shape; any Exchange here
    // means the codec silently grew a shuffle
    val p = formatted(graft.operators.WarcOps.decodeWarc(
      graft.operators.WarcOps.encodeWarc(Tables.documents(spark, sf))))
    assert(!p.contains("Exchange"),
      s"WARC codec must stay a per-partition projection:\n$p")
  }

  test("per-row curation ops (PII, URL parse, SQ encode) plan with NO exchange") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
    for ((label, df) <- Seq(
      "piiStats" -> graft.operators.TextOps.piiStats(docs),
      "piiRedact" -> graft.operators.TextOps.piiRedact(docs),
      "urlNormalize" -> docs.select(
        graft.operators.WebOps.normalizeUrl(concat(lit("https://h.ex.com/"),
          col("doc_id"))).as("u")))) {
      val p = formatted(df)
      assert(!p.contains("Exchange"),
        s"$label must stay a pure per-row projection:\n$p")
    }
    // SQ encode with a PROVIDED codebook is also shuffle-free (the stats
    // pass is the train step, not the encode path)
    val e = Tables.embeddings(spark, sf)
    val dim = 64
    val enc = graft.operators.SimilarityOps.sqEncode(
      e, Seq.fill(dim)(-1.0), Seq.fill(dim)(1.0))
    val pe = formatted(enc)
    assert(!pe.contains("Exchange"),
      s"sqEncode with broadcast codebook must not shuffle:\n$pe")
  }

  test("domain cap keeps the per-domain sort partial (WindowGroupLimit)") {
    val p = plan("q_domain_cap")
    assert(p.contains("WindowGroupLimit"),
      s"row_number<=k filter must push a group limit below the exchange:\n$p")
  }

  test("centroid assignment is a pure projection (no exchange, no join)") {
    // the semanticDedup/IVF assignment step: k×d dots per row, argmax via
    // struct array_max — at 100 TB this must stay embarrassingly parallel;
    // an assignment-by-join refactor would silently add a shuffle here
    val p = plan("q_ivf_assign")
    assert(!p.contains("Exchange"),
      s"centroid assignment must not shuffle:\n$p")
    assert(!p.contains("Join"), s"centroid assignment must not join:\n$p")
  }

  test("cume_users has no unpartitioned window (two-level cumsum)") {
    // the growth curve used to run one global-window pass; it is now a
    // per-month running sum plus a broadcast month-carry join, so every
    // Window node must carry a partition key — an unpartitioned window
    // prints "Window ... ORDER BY" with an empty PARTITION BY and logs
    // the single-partition WindowExec warning
    val p = plan("q_cume_users")
    val windows = """\(\d+\) Window""".r.findAllIn(p).size
    assert(windows >= 1, s"expected the per-month running sum:\n$p")
    assert(!p.toLowerCase.contains("singlepartition"),
      s"no stage may collapse to a single partition:\n$p")
  }

  test("sequence packing shuffles once, on the language partition key") {
    val p = plan("q_pack_sequences")
    // count node-detail headers ("(3) Exchange"), not raw substrings — the
    // formatted explain prints every node in both the tree and the details
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(p).size
    assert(exchanges === 1,
      s"packing must be ONE per-lang exchange, found $exchanges:\n$p")
    assert(p.contains("hashpartitioning(lang"),
      s"packing exchange must partition by lang:\n$p")
  }

  test("bloom semi-join: the might_contain prefilter sits scan-side, " +
    "before the join") {
    val p = plan("q_bloom_semi_join")
    val lower = p.toLowerCase
    assert(lower.contains("bloommightcontain"),
      s"bloom predicate must survive into the physical plan:\n$p")
    // the prefilter must run in the lineitem scan's stage, NOT after an
    // exchange: in formatted explain the Filter node referencing the bloom
    // appears before any Exchange in node order
    val bloomAt = lower.indexOf("bloommightcontain")
    val firstExchange = lower.indexOf("exchange")
    assert(firstExchange == -1 || bloomAt < firstExchange ||
      !lower.substring(0, bloomAt).contains("exchange hashpartitioning(l_"),
      s"bloom prefilter must precede the fact-side shuffle:\n$p")
  }

  test("recursive fold (EMA) adds exactly one exchange over the bars agg") {
    val p = plan("q_ema")
    // bars derivation shuffles once (lineitem groupBy); the per-ticker
    // fold adds ONE more (groupByKey on ticker); nothing else may shuffle
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(p).size
    assert(exchanges <= 2,
      s"EMA must be bars-agg + one ticker exchange, found $exchanges:\n$p")
  }

  test("rolling extrema plan the deque fold, never a sliding min/max frame") {
    for (q <- Seq("q_stoch", "q_donchian")) {
      val p = plan(q)
      // a naive port would write max(high).over(rowsBetween(-(n-1), 0)) —
      // the exact O(rows×frame) WindowExec shape the deque fold replaces
      assert("specifiedwindowframe\\(RowFrame, -\\d+, currentrow"
        .r.findFirstIn(p).isEmpty,
        s"$q must not plan a sliding aggregate frame:\n$p")
      assert(p.contains("MapGroups"),
        s"$q must run the compiled deque fold:\n$p")
    }
  }

  test("obv and rolling corr stay on running frames (cum − lag doctrine)") {
    for (q <- Seq("q_obv", "q_rolling_corr")) {
      val p = plan(q)
      assert("specifiedwindowframe\\(RowFrame, -\\d+, currentrow"
        .r.findFirstIn(p).isEmpty, s"$q:\n$p")
      assert(p.contains("unboundedpreceding$()") ||
        p.contains("UNBOUNDED PRECEDING"), s"$q:\n$p")
    }
  }

  test("hopping window is one aggregation pass, not four self-unions") {
    val p = plan("q_hopping_window")
    // Spark expands the slide via an Expand/generator feeding ONE hash
    // aggregate — a union-of-four-tumbling-queries shape would scan the
    // events four times
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).size
    assert(scans === 1, s"slide expansion must not rescan the input:\n$p")
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(p).size
    assert(exchanges === 1,
      s"one (window,type) exchange expected, found $exchanges:\n$p")
  }

  test("association rules broadcast the post-prune dims; no cartesian") {
    val p = plan("q_assoc_rules")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("CMS estimation joins the broadcast counter table") {
    val p = plan("q_cms_counts")
    // the d·w counter sketch must be the broadcast side — a shuffle join
    // here would move the corpus to meet a few-KB table
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("entity-resolution window join is an equi-join (bounded fan-out)") {
    val p = plan("q_er_pairs")
    // the (blk, rn+k) equi-join: any nested-loop/cartesian here means the
    // |block|² band-filter shape crept back in
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("char entropy pre-aggregates map-side (alphabet-bounded exchange)") {
    val p = plan("q_char_entropy")
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("TPC-H tier: dims broadcast, facts never nested-loop") {
    for (q <- Seq("q2_min_price_supplier", "q7_volume_shipping",
        "q9_product_profit", "q14_promo_revenue", "q19_discounted_revenue")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q should broadcast dims:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
    }
  }

  test("TPC-H Q18 top-100 plans as TakeOrderedAndProject") {
    val p = plan("q18_large_orders")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("AUC / KS / Gini: every window is partitioned (two-level stitch)") {
    // the cumulative passes must run as the bucket-partitioned window +
    // broadcast theta carry, so no Window node may be unpartitioned (the
    // final one-row scalar aggregates still legitimately exchange to a
    // single partition — that's a global agg over tiny partials, not a
    // row-sort)
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    for (q <- Seq("q_auc", "q_ks_stat", "q_gini", "q_pr_auc",
        "q_quantile_bins", "q_gain_curve")) {
      val bare = SparkEntry.queries(q)(spark, sf)
        .queryExecution.optimizedPlan.collect {
          case w: LWindow if w.partitionSpec.isEmpty => w
        }
      assert(bare.isEmpty, s"$q has ${bare.size} unpartitioned window(s)")
    }
  }

  test("geo neighbor join is an equi-join on cell keys, never cartesian") {
    val p = plan("q_geo_neighbors")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("colocation self-join is equi on (day, cell); no cartesian") {
    val p = plan("q_colocation")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("triplet mining broadcasts the anchors on both passes") {
    val p = plan("q_triplet_mine")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("blocklist screen is a pure projection: zero exchanges") {
    val p = plan("q_blocklist")
    assert(!p.contains("Exchange"), s"blocklist must not shuffle:\n$p")
  }

  test("vocab OOV: top-V vocab is a partial top-k, joined back broadcast") {
    val p = plan("q_vocab_oov")
    // the vocabulary limit must not global-sort the word counts
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("cluster card: rank window is cid-partitioned with a group limit") {
    val p = plan("q_cluster_card")
    assert(p.contains("WindowGroupLimit"),
      s"rank<=3 should push a WindowGroupLimit:\n$p")
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val bare = SparkEntry.queries("q_cluster_card")(spark, sf)
      .queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
    assert(bare.isEmpty, s"${bare.size} unpartitioned window(s)")
  }

  test("decomp anomaly: medians broadcast, every window ticker-partitioned") {
    // the per-ticker median dim is 100 rows — a sort-merge here would
    // re-shuffle the full decomposed series at scale; and the centered-MA
    // window must never degrade to a global pass
    val p = plan("q_decomp_anomaly")
    assert(p.contains("BroadcastHashJoin"), p)
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val bare = SparkEntry.queries("q_decomp_anomaly")(spark, sf)
      .queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
    assert(bare.isEmpty, s"${bare.size} unpartitioned window(s)")
  }
}
