package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.LocalDate

/** Live REST market-data client — the production implementation of the
  * ingest interfaces (SURVEY S6-S8; reference `clients.py`,
  * `bronze/main.py:81-205`, `bronze/splits.py:15-52`), re-expressed over
  * `java.net.http` against the Polygon-style public API shapes:
  *
  *  - grouped-daily bars: one GET per trading day
  *    (`/v2/aggs/grouped/locale/us/market/stocks/{date}`)
  *  - the splits reference list: cursor-paged via the response's
  *    `next_url` until the cursor runs dry
  *  - HTTP 403 (plan/quota limit) → [[PlanLimitExceeded]], which
  *    [[ParallelFetch]] turns into cancel-all-outstanding-work — newest
  *    days first, so a quota cutoff costs the oldest days
  *
  * Driver-scale by design: a few thousand small calls feeding one parquet
  * write — executors never talk to the API, so there is nothing to
  * distribute (a DataSourceV2 would buy latency, not throughput). Offline
  * environments get [[FixtureBarsSource]] through the same trait — see
  * [[HttpMarketSource.barsSourceFromEnv]].
  */
final class HttpMarketSource(baseUrl: String, apiKey: String,
                             client: HttpClient =
                               HttpMarketSource.defaultClient(),
                             retry: RetryPolicy = RetryPolicy(),
                             sleeper: Long => Unit = Thread.sleep)
    extends BarsSource {

  private val mapper = new ObjectMapper

  /** Credential hygiene: error messages carry the URL for diagnosis, but
    * [[withKey]] has suffixed it with the api key — strip it before it can
    * reach driver logs or stack traces. */
  private def redacted(url: String): String =
    url.replaceAll("apiKey=[^&]+", "apiKey=***")

  /** GET with bounded retry (reference `clients.py:8-10` — the SDK's
    * transient-failure retry, re-expressed):
    *
    *  - retryable: 429, any 5xx, and transport faults (connect/read
    *    timeout, reset) — a daily ingest makes thousands of calls, so
    *    transient faults are routine, not exceptional
    *  - NOT retryable: 403 → [[PlanLimitExceeded]] immediately (a quota
    *    cutoff never heals within a backoff window, and ParallelFetch
    *    uses it to cancel all outstanding work), and any other 4xx (the
    *    request itself is wrong; resending it is API abuse)
    *  - backoff: exponential with decorrelating jitter, `Retry-After`
    *    honored when the server sends one, capped attempts so a dead
    *    endpoint fails the ingest loudly rather than hanging it
    */
  private def get(url: String): JsonNode = getWithRetry(url, attempt = 0)

  @scala.annotation.tailrec
  private def getWithRetry(url: String, attempt: Int): JsonNode = {
    // per-request timeout: one hung TCP connection must fail the future,
    // not stall the whole ingest (ParallelFetch awaits its futures)
    val req = HttpRequest.newBuilder(URI.create(url)).GET()
      .timeout(java.time.Duration.ofSeconds(60)).build()
    // Left = retryable failure (reason, server-requested delay);
    // non-retryable failures throw from inside the try
    val outcome: Either[(String, Option[Long]), JsonNode] =
      try {
        val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
        resp.statusCode() match {
          case 200 => Right(mapper.readTree(resp.body()))
          case 403 => throw new PlanLimitExceeded(
            s"HTTP 403 (plan limit): ${redacted(url)}")
          case s if s == 429 || s >= 500 =>
            val retryAfterMs = Option(
              resp.headers().firstValue("Retry-After").orElse(null))
              .flatMap(_.toLongOption).map(_ * 1000L)
            Left((s"HTTP $s", retryAfterMs))
          case s => throw new RuntimeException(
            s"HTTP $s from ${redacted(url)}")
        }
      } catch {
        // Jackson parse errors subclass IOException but a malformed 200
        // body is a PAYLOAD fault, not transport — retrying it five times
        // just delays and then mislabels the real problem
        case e: com.fasterxml.jackson.core.JacksonException =>
          throw new RuntimeException(
            s"unparseable 200 body from ${redacted(url)}: ${e.getMessage}", e)
        case e: java.io.IOException => // timeouts, resets, refused connects
          Left((s"${e.getClass.getSimpleName}: " +
            redacted(Option(e.getMessage).getOrElse("")), None))
      }
    outcome match {
      case Right(node) => node
      case Left((why, _)) if attempt + 1 >= retry.maxAttempts =>
        throw new RuntimeException(
          s"$why from ${redacted(url)} (gave up after ${retry.maxAttempts} attempts)")
      case Left((_, serverDelay)) =>
        sleeper(retry.delayMs(attempt, serverDelay))
        getWithRetry(url, attempt + 1)
    }
  }

  private def withKey(url: String): String =
    if (url.contains("apiKey=")) url
    else url + (if (url.contains("?")) "&" else "?") + s"apiKey=$apiKey"

  /** One grouped-daily call → all tickers' bars for that day. */
  override def fetchDay(date: LocalDate): Seq[BarRow] = {
    val node = get(withKey(
      s"$baseUrl/v2/aggs/grouped/locale/us/market/stocks/$date?adjusted=false"))
    val results = node.path("results")
    (0 until results.size()).map { i =>
      val r = results.get(i)
      BarRow(r.path("T").asText(), date,
        r.path("o").asDouble(), r.path("h").asDouble(),
        r.path("l").asDouble(), r.path("c").asDouble(),
        r.path("v").asLong(), r.path("n").asLong())
    }
  }

  /** Cursor-paged GET: concatenates every page's `results`, following
    * `next_url` until absent; `maxPages` bounds a runaway cursor. */
  def fetchPaged(firstUrl: String, maxPages: Int = 1000): Seq[JsonNode] = {
    var url = withKey(firstUrl)
    val out = Vector.newBuilder[JsonNode]
    var pages = 0
    while (url != null && pages < maxPages) {
      val node = get(url)
      val rs = node.path("results")
      (0 until rs.size()).foreach(i => out += rs.get(i))
      val next = node.path("next_url")
      url = if (next.isMissingNode || next.isNull) null else withKey(next.asText())
      pages += 1
    }
    out.result()
  }

  /** Stock splits executed on/after `since` (reference
    * `bronze/splits.py:15-52` — same endpoint, same paging). */
  def fetchSplits(since: LocalDate): Seq[SplitRow] =
    fetchPaged(
      s"$baseUrl/v3/reference/splits?execution_date.gte=$since&limit=1000")
      .map(r => SplitRow(r.path("ticker").asText(),
        LocalDate.parse(r.path("execution_date").asText()),
        r.path("split_from").asDouble(), r.path("split_to").asDouble()))
}

/** Backoff schedule for transient HTTP failures: exponential growth with
  * full jitter (delay drawn uniformly from [cap/2, cap] where cap doubles
  * per attempt) — jitter de-synchronizes the retry herd when many fetch
  * futures hit the same rate limit simultaneously, which is exactly the
  * 429 case. A server-sent `Retry-After` floors the delay; `maxDelayMs`
  * ceils it. Defaults trace the reference SDK's shape (bounded attempts,
  * seconds-scale waits) without copying its constants. */
final case class RetryPolicy(maxAttempts: Int = 5,
                             baseDelayMs: Long = 250,
                             maxDelayMs: Long = 10000) {
  require(maxAttempts >= 1 && baseDelayMs >= 1 && maxDelayMs >= baseDelayMs)

  def delayMs(attempt: Int, serverRequestedMs: Option[Long] = None): Long = {
    val cap = math.min(maxDelayMs, baseDelayMs << math.min(attempt, 20))
    val jittered = cap / 2 + math.round(math.random() * (cap - cap / 2))
    math.min(maxDelayMs, math.max(jittered, serverRequestedMs.getOrElse(0L)))
  }
}

final case class SplitRow(ticker: String, executionDate: LocalDate,
                          splitFrom: Double, splitTo: Double)

object HttpMarketSource {
  /** Default client: bounded connect time — with the per-request timeout
    * in [[HttpMarketSource.get]], no single dead endpoint can hang the
    * ingest's future pool indefinitely. */
  def defaultClient(): HttpClient =
    HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(10)).build()

  /** Source selection: the live client when `GRAFT_API_BASE_URL` +
    * `GRAFT_API_KEY` are configured, fixture fallback otherwise — callers
    * program against [[BarsSource]] and never branch on connectivity. */
  def barsSourceFromEnv(tickers: Seq[String]): BarsSource =
    (sys.env.get("GRAFT_API_BASE_URL"), sys.env.get("GRAFT_API_KEY")) match {
      case (Some(base), Some(key)) => new HttpMarketSource(base, key)
      case _                       => new FixtureBarsSource(tickers)
    }
}
