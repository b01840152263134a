package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Web-corpus curation primitives: URL parsing/normalization and per-domain
  * balancing — the front half of every crawl-derived training pipeline
  * (URL-level dedup runs before any text is even fetched, and domain caps
  * are how a corpus avoids being 40% one boilerplate-heavy site).
  *
  * Everything is regexp-based rather than `parse_url`-based on purpose: the
  * exact same pattern strings oracle in any SQL dialect (RE2-safe — no
  * lookaround/backreferences), and the per-row projections stay inside
  * whole-stage codegen with no shuffle. Only [[domainCap]] shuffles — one
  * hash partition by domain, the minimum the semantics allow.
  */
object WebOps {

  private val schemeRe = "^([A-Za-z][A-Za-z0-9+.-]*)://"
  private val hostRe   = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)"
  private val restRe   = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)"

  /** URL scheme (lowercased; empty when the value isn't a URL). */
  def scheme(url: Column): Column = lower(regexp_extract(url, schemeRe, 1))

  /** Host (lowercased, default-port-stripped). */
  def host(url: Column): Column =
    regexp_replace(lower(regexp_extract(url, hostRe, 1)), ":(80|443)$", "")

  /** Registered domain — last two labels of the host. (A production system
    * uses the public-suffix list so `example.co.uk` groups correctly; the
    * two-label fallback is the standard PSL-free approximation.) */
  def registeredDomain(url: Column): Column =
    regexp_extract(host(url), "([A-Za-z0-9-]+\\.[A-Za-z0-9-]+)$", 1)

  /** Canonical URL normal form — the key URL-level exact dedup groups on:
    * lowercased scheme+host, default port and fragment dropped, tracking
    * (`utm_*`) params removed with separators repaired, trailing `?` and
    * trailing path `/` stripped. Two-step utm removal, both steps anchored
    * on a `[?&]` separator so a param whose name merely ENDS in `utm_*`
    * (`?xutm_source=1`) is never clipped: step one eats a RUN of
    * `&`-terminated utm params and re-emits the separator it anchored on
    * (the run form matters — anchored single-param removal consumes the
    * separator the next utm param would need); step two drops a
    * trailing/solo utm param together with its leading separator. Covers
    * first/middle/last/only positions without lookaround (RE2-safe). */
  def normalizeUrl(url: Column): Column = {
    val rest = regexp_extract(url, restRe, 1)
    val noUtm = regexp_replace(
      regexp_replace(rest, "([?&])(utm_[A-Za-z]+=[^&#]*&)+", "$1"),
      "[?&]utm_[A-Za-z]+=[^&#]*", "")
    val tidy = regexp_replace(regexp_replace(noUtm, "\\?$", ""), "/$", "")
    concat(scheme(url), lit("://"), host(url), tidy)
  }

  /** Deterministic per-domain cap: keep at most `maxPerDomain` docs per
    * registered domain, chosen in md5(id) order — reproducible across
    * engines and re-runs (same doctrine as the class cap / sampling ops).
    * One shuffle on domain; `WindowGroupLimit` keeps the sort partial. */
  def domainCap(df: DataFrame, maxPerDomain: Int,
                urlCol: String = "url", idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(col("domain"))
      .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
    df.withColumn("domain", registeredDomain(col(urlCol)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= maxPerDomain)
      .drop("rn")
  }

  /** robots.txt Disallow rules as a string array: split lines, keep
    * `Disallow:` directives, trim the values. Pure per-row lambda.
    * RFC 9309 field names are case-insensitive and real robots.txt files
    * arrive CRLF-terminated, so lines split on `\r?\n` (a trailing `\r`
    * would otherwise ride into the rule value — Spark's trim strips only
    * spaces — and the rule would never prefix-match any URL path) and the
    * directive matches lowercased. */
  def robotsDisallows(robots: Column): Column =
    transform(
      filter(split(robots, "\r?\n"),
        l => lower(l).startsWith("disallow:")),
      l => trim(l.substr(lit(10), length(l))))

  /** Crawl-politeness screen: true when any non-empty Disallow rule
    * prefix-matches the URL path — the pre-fetch filter every polite
    * crawler runs. Rules ride as a column, so per-domain robots join in
    * as a broadcast dim at scale. */
  def robotsBlocked(path: Column, rules: Column): Column =
    exists(rules, r => (r =!= lit("")) && path.startsWith(r))

  /** Visible-text extraction from raw HTML — the step between a crawled
    * page (e.g. a WARC response body) and the `documents` table. Removes
    * `<script>`/`<style>` blocks whole (their CONTENT is not text),
    * strips remaining tags, decodes the five core entities, and collapses
    * whitespace. Every step is one RE2-safe regexp/replace the oracle
    * replays verbatim ((?s) dot-all + non-greedy block match — both Java
    * and RE2 semantics), so the whole extractor stays a codegen'd per-row
    * projection: zero shuffle at any corpus size. */
  def htmlVisibleText(html: Column): Column = {
    val noScript = regexp_replace(html,
      "(?s)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript,
      "(?s)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "<[^>]*>", " ")
    // &amp; decodes LAST (standard entity-decode order): decoding it first
    // double-decodes nested entities — '&amp;lt;' in the source is the
    // author writing a literal '&lt;', not a '<'
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, ch)) => replace(c, lit(e), lit(ch)) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }
}
