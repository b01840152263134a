package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: restrict the dump to named queries (dev
    // iteration; the driver always passes exactly two args)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // A query that throws must still land in the correctness artifact
        // as an explicit FAIL, not vanish and shrink the denominator
        // (round 5 lost three regressed queries this way). Writing a
        // one-row marker with a __error column guarantees the driver's
        // DuckDB compare sees a schema/hash mismatch and records the
        // failure by name.
        failed += name
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
        import spark.implicits._
        Seq(Option(e.getMessage).getOrElse(e.getClass.getName).take(500))
          .toDF("__error").coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      // a few ops return persisted (small) results after releasing their
      // corpus-sized intermediates — drop those too so a 160-query dump
      // doesn't accumulate session-lifetime caches
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (failed.nonEmpty)
      System.err.println(
        s"[verify] ${failed.size} FAILED: ${failed.sorted.mkString(", ")}")
    spark.stop()
  }
}
