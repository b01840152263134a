package graft

import graft.queries.DeclaredCatalog

/** Plan audit tool: prints the formatted physical plan for selected queries
  * so pushdown / broadcast / codegen spans can be inspected. A name is a
  * [[SparkEntry]] query or one of the 19 canned catalog queries
  * ([[graft.queries.DeclaredCatalog.sql]]).
  * Usage: runMain graft.Explain [queryName ...]  (default: a headline set)
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q_scan_filter", "q1_agg", "q_left_join", "q_split_adjust",
        "q_vwap_signals", "q_sma", "q_minhash_pairs", "q_cosine_knn",
        "q_band_join", "q_topk_per_group", "q_exists_subquery",
        "q_simhash_neardup", "q_gap_fill", "q_asof_join", "q_tfidf",
        "q_interval_overlap", "q_skyline", "q_corpus_card", "q_sq_knn",
        "q_domain_cap", "q_table_checksum")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      // per-name guard: a few queries (trained/eagerly-materialized
      // structures — q_sq_knn's codebook, q_corpus_card's chunk stats)
      // run real jobs at DataFrame construction and print their
      // POST-materialization plan (cached-relation scans feeding the
      // final shape); a missing/corrupt table there must not abort the
      // remaining plan dumps
      try {
        val df = if (DeclaredCatalog.sql.contains(n)) DeclaredCatalog.run(spark, sfDir, n)
          else SparkEntry.queries(n)(spark, sfDir)
        df.explain("formatted")
      } catch { case e: Throwable =>
        println(s"(failed to build plan: ${e.getClass.getSimpleName}: ${e.getMessage})")
      }
      // the eager queries above persist small results; clear so a later
      // name's dump shows its real cold plan, not a cached-relation
      // substitution (the Bench.timed / Verify doctrine)
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
