package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Mirrors the reference's runtime conventions (UTC timestamps, zstd parquet —
  * see reference `utils/timestamps.py:12-23`, `storage/operations.py:47`) while
  * configuring Spark the way a large cluster deployment would:
  *   - AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  *     dynamic broadcast — all essential at 100 TB where static planning of
  *     shuffle widths is impossible.
  *   - shuffle.partitions sized to the local core count here; on a real
  *     cluster this is overridden per-deploy (or left to AQE's coalescing).
  */
object GraftSession {

  def builder(master: String = s"local[${defaultCpus}]",
              shufflePartitions: Int = defaultCpus): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // Reference semantics: validation = coercion, bad values become null
      // (`schemas.py:117` non-strict cast). Spark 4 ANSI mode would error.
      .config("spark.sql.ansi.enabled", "false")
      // events.parquet carries TIMESTAMP(NANOS) which Spark rejects by
      // default; read as long and normalize in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.sql.parquet.filterPushdown", "true")
      // the incremental-dedup path pushes the delta's touched keys into the
      // stored-index scan as IN filters, chunked to 500 literals per scan
      // (DedupOps.prunedByKeys): parquet evaluates a pushed In as a
      // recursive or-chain and executor threads stack-overflow between
      // 1000 and 2000 literals (measured on this build). 500 = the chunk
      // size: each chunk pushes as a real set predicate and skips row
      // groups; anything larger safely degrades to a min/max range filter.
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "500")
      // custom Catalyst expressions (array_dot, …) — same mechanism a
      // cluster deploy uses: --conf spark.sql.extensions=graft.GraftExtensions
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      // Spark keeps compiled generated classes in one LRU per JVM, capped
      // at 100 by default. One backfill build (bronze → silver → gold)
      // generates ~150–160 distinct classes and a first pass over the 23
      // catalog queries ~190–225, so under the default every warm build
      // and pass misses and recompiles (~150 and ~90–115 Janino compiles).
      // 1000 is ~4× the largest per-operation working set; warm builds and
      // passes then compile 0 classes (PipelineSpec, DeclaredCatalogSpec).
      // STATIC conf: the cache is created once per JVM at the first
      // codegen, so a session built outside `builder` before graft's own
      // keeps the cap of 100.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE", "/tmp/graft_warehouse"))

  /** Janino compiles so far in this JVM (driver and, under `local[N]`,
    * task threads alike): a warm operation's delta of this is the
    * generated classes the codegen cache failed to hold. */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  def get(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    registerFunctions(spark)
    spark
  }

  /** Expose the engine's custom functions to SQL text so `spark.sql` users
    * get the same surface as the DataFrame API. `array_dot`,
    * `array_dot_long` and `sorted_intersect_count` are injected by
    * [[GraftExtensions]] (spark.sql.extensions, set in `builder`); the
    * product UDAF goes through `spark.udf` — `Aggregator`-backed UDAFs
    * register per-session, not via extensions. Sessions built outside
    * `builder` get the injected functions by setting
    * `spark.sql.extensions=graft.GraftExtensions` themselves. */
  def registerFunctions(spark: SparkSession): Unit = {
    spark.udf.register("product_agg",
      org.apache.spark.sql.functions.udaf(graft.functions.ProductAgg))
  }
}
