package graft

import graft.operators.{GoldOps, PatternOps, SilverOps}
import graft.sources.{Storage, TableRef}
import org.apache.spark.sql.functions._

/** Reference-scale pipeline benchmark.
  *
  * The reference's production dataset is ~10k tickers × 5 years ≈ 12.5M
  * ticker-day rows (BASELINE.md); its silver full rewrite runs 15-30 min
  * and gold 2-5 min on a GitHub-runner-class machine. This main expands
  * the sf0.1 fixture to that shape (replicating lineitem across `REPS`
  * ticker namespaces → ~REPS×100 tickers × ~2.5k dates), then runs the
  * full silver+gold pipeline and prints one JSON timing line.
  *
  * Usage: GRAFT_SCALE_REPS=50 sbt "runMain graft.ScaleBench"
  */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("GRAFT_SCALE_REPS", "50").toInt
    val root = sys.env.getOrElse("GRAFT_SCALE_DIR",
      java.nio.file.Files.createTempDirectory("graft_scale").toString)

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }

    // ---- expand: REPS ticker namespaces over the fixture fact table ----
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val bars = li.crossJoin(spark.range(reps).withColumnRenamed("id", "rep"))
      .groupBy(
        concat(lit("T"), col("l_partkey") % 100 + col("rep") * 100).as("ticker"),
        to_date(col("l_shipdate")).as("date"))
      .agg(
        min(col("l_extendedprice")).as("open"),
        max(col("l_extendedprice")).as("high"),
        min(col("l_extendedprice")).as("low"),
        max(col("l_extendedprice")).as("close"),
        sum(col("l_quantity")).cast("long").as("volume"),
        count(lit(1)).as("transactions"))

    val nTickers = reps * 100
    val splits = spark.range(0, nTickers, 5).select(
      concat(lit("T"), col("id")).as("ticker"),
      date_add(to_date(lit("1994-01-01")), ((col("id") * 37) % 1000).cast("int"))
        .as("execution_date"),
      lit(1.0).as("split_from"),
      (lit(2) + col("id") % 3).cast("double").as("split_to"))

    val bronzeRef = TableRef(root, "bronze", "stocks")
    val (_, tBronze) = timed {
      // monthly partitions: ScaleBench keeps its own layout, not
      // Pipeline.runBronze's (flat below 16 MB/day), so its bronze and
      // silver numbers stay comparable with earlier rounds
      Storage.writeTable(
        bars.withColumn("month", trunc(col("date"), "month"))
          .repartition(col("month")),
        bronzeRef, partitionBy = Seq("month"))
    }

    val bronze = Storage.readTable(spark, bronzeRef).drop("month")
    val nRows = bronze.count()

    val (_, tSilver) = timed {
      import graft.pipeline.Timing.{stage => sub}
      val daily = SilverOps.applySplits(bronze, splits)
      sub("scale", "daily")(Storage.writeTable(daily, TableRef(root, "silver", "daily_aggregates")))
      val all = Storage.readTable(spark, TableRef(root, "silver", "daily_aggregates"))
      sub("scale", "weekly")(Storage.writeTable(SilverOps.rollup(all, "week"), TableRef(root, "silver", "weekly_aggregates")))
      sub("scale", "monthly")(Storage.writeTable(SilverOps.rollup(all, "month"), TableRef(root, "silver", "monthly_aggregates")))
      sub("scale", "indicators")(Storage.writeTable(SilverOps.indicators(all), TableRef(root, "silver", "daily_indicators")))
    }

    val (_, tGold) = timed {
      import graft.pipeline.Timing.{stage => sub}
      val daily = Storage.readTable(spark, TableRef(root, "silver", "daily_aggregates"))
      sub("scale", "vwap")(Storage.writeTable(GoldOps.vwapSignals(daily), TableRef(root, "gold", "vwap_signals")))
      val ind = Storage.readTable(spark, TableRef(root, "silver", "daily_indicators"))
      val hvc = PatternOps.highVolumeCloses(ind, threshold = 1.5)
      sub("scale", "patterns")(Storage.writeTable(PatternOps.stairPatterns(hvc, ascending = true, minSteps = 2),
        TableRef(root, "gold", "stairstepping_patterns")))
    }

    // ---- optional: dedup at scale (GRAFT_SCALE_DEDUP=<mult>) ----
    // replicate documents ×mult with mutated copies (suffix every replica
    // except rep%3==0, so the corpus holds real exact- AND near-dup
    // structure), then time the full MinHash+LSH near-dup pair pass.
    val dedupJson = sys.env.get("GRAFT_SCALE_DEDUP").map(_.toInt).map { m =>
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .crossJoin(spark.range(m).withColumnRenamed("id", "rep"))
        .select((col("doc_id") + col("rep") * 1000000L).as("doc_id"),
          when(col("rep") % 3 === 0, col("text"))
            .otherwise(concat(col("text"), lit(" rep "), col("rep"))).as("text"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nDocs = docs.count()
      val (nPairs, tDedup) = timed {
        graft.operators.DedupOps.minhashNearDups(docs).count()
      }
      // per-row curation tier at scale: the quality gate's FILTER forces
      // every metric expression to evaluate per row (a bare count would
      // let Catalyst prune the projections), PII screen likewise
      import graft.operators.TextOps
      val (nKeep, tQual) = timed {
        // quality + PII metrics composed into one per-row projection —
        // the CurationPipeline r11 gate shape (one join dropped)
        val m = TextOps.piiStats(TextOps.qualityMetrics(docs))
          .select(col("doc_id"), col("n_words"), col("mean_word_len"),
            col("punct_ratio"), col("n_pii"))
        val w = TextOps.wordStats(docs).select(col("doc_id"), col("rep_ratio"))
        m.join(w, Seq("doc_id"))
          .filter(col("n_words") >= 10 && col("mean_word_len") >= 2 &&
            col("mean_word_len") <= 12 && col("punct_ratio") <= 0.2 &&
            col("rep_ratio") <= 0.4 && col("n_pii") === 0)
          .count()
      }
      // chunk-level passage dedup: the corpus-wide md5-df shuffle is the
      // scale-relevant stage (the join back is equi on the same key, so
      // Catalyst cannot eliminate it — output cardinality depends on it)
      val (nChunked, tChunk) = timed {
        val stats = graft.operators.DedupOps.chunkDupStats(docs)
        val n = stats.count()
        stats.unpersist(false) // doc-grain cache must not tax later sections
        n
      }
      // span dedup at scale: the overlapping gram lattice is the widest
      // intermediate of the family (corpus-words rows) and this fixture is
      // its worst case — every replica shares almost every gram, so nearly
      // all positions survive the df filter into the island merge
      val (nSpans, tSpans) = timed {
        val sp = graft.operators.DedupOps.duplicatedSpans(docs)
        val n = sp.count()
        sp.unpersist(false)
        n
      }
      docs.unpersist(false)
      // semantic dedup at scale: replicate the embedding corpus ×mult
      // (exact replicas — the duplicate families every real corpus has),
      // scale the CLUSTER COUNT with the corpus (SemDeDup's lever: k ∝ n
      // keeps per-cluster population — and so the within-cluster pair
      // space — bounded as the corpus grows), time train + assign +
      // within-cluster pairs + CC + survivor pick end-to-end
      import graft.operators.SimilarityOps
      val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .crossJoin(spark.range(m).withColumnRenamed("id", "rep"))
        .select((col("vec_id") + col("rep") * 1000000L).as("vec_id"),
          col("embedding"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nVecs = vecs.count()
      val kClusters = math.max(16, (nVecs / 500).toInt)
      val (semStats, tSem) = timed {
        // trainSample must cover k (kmeansCentroids requires sample >= k);
        // kClusters grows with the corpus, so scale the sample with it
        val cents = SimilarityOps.kmeansCentroids(vecs, kClusters,
          iters = 2, trainSample = math.max(4096, kClusters))
        // 0.8: the tight-duplicate operating point — at 0.4 this fixture's
        // correlated synthetic embeddings connect almost everything and the
        // run measures CC over a near-complete graph, not dedup
        SimilarityOps.semanticDedup(vecs, threshold = 0.8, cents)
          .agg(count(lit(1)).as("n"),
            sum(when(!col("is_kept"), 1L).otherwise(0L)).as("dups"))
          .first()
      }
      vecs.unpersist(false)
      s""","dedup_docs":$nDocs,"dedup_pairs":$nPairs,"dedup":$tDedup""" +
        s""","curate_kept":$nKeep,"curate":$tQual""" +
        s""","chunk_docs":$nChunked,"chunk_dedup":$tChunk""" +
        s""","span_count":$nSpans,"span_dedup":$tSpans""" +
        s""","semantic_vecs":${semStats.getLong(0)},"semantic_dups":${semStats.getLong(1)},"semantic_k":$kClusters,"semantic_dedup":$tSem"""
    }.getOrElse("")

    println(s"""{"metric":"scale_pipeline","unit":"sec","rows":$nRows,"tickers":$nTickers,"queries":{"bronze_write":$tBronze,"silver_full":$tSilver,"gold":$tGold$dedupJson},"value":${tBronze + tSilver + tGold}}""")
    spark.stop()
  }
}
