package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's published SQL query surface (`metadata.json:580-676` —
  * SURVEY §2.11): canned queries served over the raw pattern tables
  * `stairstepping_patterns` and `falling_down_stairs_patterns`, which
  * [[DeclaredCatalog]] derives from the unadjusted fixture bars and
  * registers with its own views (so the indicators → HVC →
  * stairs chain is computed once no matter which declared surface runs
  * first). The canned SQL runs verbatim through `spark.sql`, exactly as a
  * Datasette-style consumer would; every shape in the catalog is
  * represented (filter+rename+order, top-k by metric, boolean+recency
  * filter, UNION ALL + aggregate compare).
  */
object DeclaredQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // filter + rename + ORDER BY date DESC (`recent_strong_patterns`).
    "q_decl_recent_strong" -> ((s, dir) => DeclaredCatalog.query(s, dir, """
        SELECT ticker, start_date AS pattern_start, end_date AS pattern_end,
               hvc_count AS steps, gain_pct
        FROM stairstepping_patterns
        WHERE hvc_count >= 3
        ORDER BY end_date DESC, ticker""")),

    // ORDER BY metric DESC LIMIT 20 (`top gainers`).
    "q_decl_top_gainers" -> ((s, dir) => DeclaredCatalog.query(s, dir, """
        SELECT ticker, start_date, end_date, hvc_count, gain_pct
        FROM stairstepping_patterns
        ORDER BY gain_pct DESC, ticker, start_date LIMIT 20""")),

    // boolean + recency filter (`above_pattern_high`, ≤60 days).
    "q_decl_recent_positive" -> ((s, dir) => DeclaredCatalog.query(s, dir, """
        SELECT p.ticker, p.end_date, p.gain_pct,
               DATEDIFF(m.max_end, p.end_date) AS days_since_pattern
        FROM stairstepping_patterns p
        CROSS JOIN (SELECT MAX(end_date) AS max_end FROM stairstepping_patterns) m
        WHERE p.gain_pct > 0 AND DATEDIFF(m.max_end, p.end_date) <= 60""")),

    // UNION ALL + COUNT(*) + AVG (`falling_vs_stairstepping`).
    "q_decl_falling_vs_stair" -> ((s, dir) => DeclaredCatalog.query(s, dir, """
        SELECT 'stairstepping' AS kind, COUNT(*) AS n,
               CAST(SUM(CAST(gain_pct AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_gain
        FROM stairstepping_patterns
        UNION ALL
        SELECT 'falling' AS kind, COUNT(*) AS n,
               CAST(SUM(CAST(gain_pct AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_gain
        FROM falling_down_stairs_patterns"""))
  )

  // Oracles rebuild the same pattern CTEs the DomainQueries oracles use.
  private def patBase(cmp: String) =
    Tables.barsSql + ",\n" + DomainQueries.indCteSql + ",\n" +
      DomainQueries.hvcCteSql("1.5") + ",\n" + DomainQueries.stairsCteSql(cmp, 2)

  def oracles: Map[String, String] = Map(
    "q_decl_recent_strong" -> (patBase(">") + "\n" +
      """SELECT ticker, start_date AS pattern_start, end_date AS pattern_end,
        |  hvc_count AS steps, gain_pct
        |FROM pat WHERE hvc_count >= 3""".stripMargin),
    "q_decl_top_gainers" -> (patBase(">") + "\n" +
      """SELECT ticker, start_date, end_date, hvc_count, gain_pct
        |FROM pat ORDER BY gain_pct DESC, ticker, start_date LIMIT 20""".stripMargin),
    "q_decl_recent_positive" -> (patBase(">") + "\n" +
      """SELECT p.ticker, p.end_date, p.gain_pct,
        |  CAST(m.max_end - p.end_date AS INTEGER) AS days_since_pattern
        |FROM pat p CROSS JOIN (SELECT MAX(end_date) AS max_end FROM pat) m
        |WHERE p.gain_pct > 0 AND m.max_end - p.end_date <= 60""".stripMargin),
    "q_decl_falling_vs_stair" ->
      (Tables.barsSql + ",\n" + DomainQueries.indCteSql + ",\n" +
        DomainQueries.hvcCteSql("1.5") + ",\n" +
        DomainQueries.stairsCteSql(">", 2, "_up") + ",\n" +
        DomainQueries.stairsCteSql("<", 2, "_dn") + "\n" +
        """SELECT 'stairstepping' AS kind, COUNT(*) AS n,
          |  CAST(SUM(CAST(gain_pct AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_gain
          |FROM pat_up
          |UNION ALL
          |SELECT 'falling' AS kind, COUNT(*) AS n,
          |  CAST(SUM(CAST(gain_pct AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_gain
          |FROM pat_dn""".stripMargin)
  )
}
