package graft

import graft.functions.GraftFunctions
import graft.operators.{AsOfJoin, DedupOps, SimilarityOps, TextOps}
import org.apache.spark.sql.{Column, DataFrame}

/** Fluent facade over the operator library — `import graft.syntax._` and
  * the engine's operators chain like built-in Dataset methods:
  *
  * {{{
  *   import graft.syntax._
  *   trades.asofJoin(quotes, Seq("ticker"), "t", "qt", Seq("bid"))
  *   docs.qualityMetrics().filter($"punct_ratio" <= 0.2)
  *   docs.dedupNearDups(minJaccard = 0.7).filter($"is_canonical")
  * }}}
  *
  * Pure delegation — every method forwards verbatim to the library object
  * that owns the logic (and its oracle-checked query), so the facade can
  * never drift semantically; SyntaxSpec pins facade ≡ direct call at the
  * analyzed-plan level.
  */
object syntax {

  implicit class GraftDataFrameOps(private val df: DataFrame) extends AnyVal {

    // ---- joins ----
    /** Backward as-of join: latest right row at or before the left time. */
    def asofJoin(right: DataFrame, key: Seq[String], leftTime: String,
                 rightTime: String, valueCols: Seq[String]): DataFrame =
      AsOfJoin.asOf(df, right, key, leftTime, rightTime, valueCols)

    /** Forward as-of join: earliest right row at or after the left time. */
    def asofJoinForward(right: DataFrame, key: Seq[String], leftTime: String,
                        rightTime: String, valueCols: Seq[String]): DataFrame =
      AsOfJoin.asOfForward(df, right, key, leftTime, rightTime, valueCols)

    /** Skew-safe equi-join: left salted by a unique column, right
      * replicated `salts` ways. */
    def saltedJoin(right: DataFrame, key: Seq[String], salts: Int,
                   leftUnique: Column): DataFrame =
      GraftFunctions.saltedJoin(df, right, key, salts, leftUnique)

    // ---- dedup ----
    /** Exact dedup survivorship: (keep_id, n_copies, fingerprint). */
    def dedupExact(textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame =
      DedupOps.exactDedup(df, textCol, idCol)

    /** MinHash+LSH near-dup candidate pairs with verified Jaccard. */
    def nearDupPairs(k: Int = 8, bands: Int = 4): DataFrame =
      DedupOps.minhashNearDups(df, k, bands)

    /** Near-dup dedup end-to-end: clusters + canonical survivor flags. */
    def dedupNearDups(minJaccard: Double = 0.5,
                      idCol: String = "doc_id"): DataFrame =
      DedupOps.dedupNearDups(df, minJaccard, idCol)

    /** Cross-doc duplicated spans (word-grain, any alignment). */
    def duplicatedSpans(n: Int = 3, minDocs: Int = 2): DataFrame =
      DedupOps.duplicatedSpans(df, n, minDocs)

    /** One-copy-survives span removal (cleaned text + counts). */
    def removeDuplicatedSpans(n: Int = 3, minDocs: Int = 2): DataFrame =
      DedupOps.removeDuplicatedSpans(df, n, minDocs)

    /** Drop train docs that LSH-band-collide with the test split. */
    def decontaminate(splitCol: String, k: Int = 8, bands: Int = 4): DataFrame =
      DedupOps.decontaminate(df, splitCol, k, bands)

    // ---- text quality ----
    /** Per-doc length/word-shape/punctuation metrics. */
    def qualityMetrics(textCol: String = "text"): DataFrame =
      TextOps.qualityMetrics(df, textCol)

    /** Gopher-style word-repetition statistics. */
    def wordStats(idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
      TextOps.wordStats(df, idCol, textCol)

    /** PII occurrence counts per doc. */
    def piiStats(textCol: String = "text"): DataFrame =
      TextOps.piiStats(df, textCol)

    /** PII redaction: matches replaced by `<TYPE>` placeholders. */
    def piiRedact(textCol: String = "text"): DataFrame =
      TextOps.piiRedact(df, textCol)

    /** n-gram-heuristic language ID. */
    def langId(textCol: String = "text"): DataFrame =
      TextOps.langId(df, textCol)

    // ---- similarity ----
    /** Exact embedding near-dup pairs above a cosine threshold. */
    def embedNearDups(threshold: Double = 0.95,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame =
      SimilarityOps.nearDupPairs(df, threshold, idCol, vecCol)
  }
}
