package graft

import graft.operators.WebOps
import org.apache.spark.sql.functions._

class WebOpsSpec extends SparkSpecBase {
  import spark.implicits._

  private def norm(url: String): String =
    Seq(Tuple1(url)).toDF("url")
      .select(WebOps.normalizeUrl(col("url"))).first().getString(0)

  test("normalizeUrl: case, default ports, fragments, trailing slash") {
    assert(norm("HTTPS://WWW.Example.COM/Path/") ===
      "https://www.example.com/Path")
    assert(norm("https://example.com:443/a") === "https://example.com/a")
    assert(norm("http://example.com:80/a") === "http://example.com/a")
    assert(norm("https://example.com:8080/a") === "https://example.com:8080/a")
    assert(norm("https://example.com/a#frag") === "https://example.com/a")
    assert(norm("https://example.com/") === "https://example.com")
  }

  test("normalizeUrl: utm params removed in every position") {
    assert(norm("https://e.com/p?utm_source=x&id=1") === "https://e.com/p?id=1")
    assert(norm("https://e.com/p?id=1&utm_source=x") === "https://e.com/p?id=1")
    assert(norm("https://e.com/p?a=1&utm_source=x&b=2") ===
      "https://e.com/p?a=1&b=2")
    assert(norm("https://e.com/p?utm_source=x") === "https://e.com/p")
    assert(norm("https://e.com/p?utm_a=1&utm_b=2") === "https://e.com/p")
  }

  test("host/scheme/registeredDomain parse") {
    val df = Seq(Tuple1("HTTPS://Sub.News.Example.ORG:443/x?q=1"))
      .toDF("url")
      .select(WebOps.scheme(col("url")).as("s"),
        WebOps.host(col("url")).as("h"),
        WebOps.registeredDomain(col("url")).as("d"))
    val r = df.first()
    assert(r.getString(0) === "https")
    assert(r.getString(1) === "sub.news.example.org")
    assert(r.getString(2) === "example.org")
  }

  test("domainCap keeps at most N per registered domain, deterministically") {
    val docs = (0L until 40L).map(i =>
      (i, s"https://site${i % 2}.example.com/p/$i")).toDF("doc_id", "url")
    val kept = WebOps.domainCap(docs, maxPerDomain = 3)
    // both hosts share registered domain example.com → one group of 40
    assert(kept.count() === 3)
    val again = WebOps.domainCap(docs, maxPerDomain = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.select("doc_id").collect().map(_.getLong(0)).toSet === again)
    // distinct second-level labels cap independently
    val spread = (0L until 40L).map(i =>
      (i, s"https://s.site${i % 4}-x.com/p/$i")).toDF("doc_id", "url")
    assert(WebOps.domainCap(spread, maxPerDomain = 3).count() === 12)
  }

  test("robotsDisallows: case-insensitive directives, CRLF lines") {
    // RFC 9309: field names are case-insensitive; real robots.txt files
    // arrive CRLF-terminated. Before the r8 fix, 'disallow:' never matched
    // and '/path\r' never prefix-matched any URL path (ADVICE r7).
    val rt = "User-agent: *\r\ndisallow: /admin\r\nDISALLOW: /p/\r\nAllow: /\r\n"
    val rules = Seq(Tuple1(rt)).toDF("rt")
      .select(WebOps.robotsDisallows(col("rt")).as("r"))
      .first().getSeq[String](0)
    assert(rules === Seq("/admin", "/p/"))
    val blocked = Seq(("/admin/x", rt), ("/public", rt)).toDF("path", "rt")
      .select(WebOps.robotsBlocked(col("path"),
        WebOps.robotsDisallows(col("rt"))).as("b"))
      .collect().map(_.getBoolean(0)).toSeq
    assert(blocked === Seq(true, false))
  }

  test("htmlVisibleText: nested entities decode once, &amp; last") {
    // '&amp;lt;' is an author writing the LITERAL '&lt;' — decoding &amp;
    // first would double-decode it to '<' (ADVICE r7); standard entity
    // decoding handles &amp; last.
    val html = "<p>&amp;lt; stays literal; 1 &lt; 2 &amp; 3 &gt; 0</p>"
    val t = Seq(Tuple1(html)).toDF("h")
      .select(WebOps.htmlVisibleText(col("h"))).first().getString(0)
    assert(t === "&lt; stays literal; 1 < 2 & 3 > 0")
  }
}
