package graft.model

/** Core data model of the crawl engine.
  *
  * Mirrors the reference's abstractions (see SURVEY.md §1) re-expressed as
  * Spark-encodable case classes:
  *  - FrontierEntry ≈ geziyor Request  (reference: client/request.go:10-35)
  *  - FetchResult   ≈ geziyor Response (reference: client/response.go:12-22)
  *  - CrawlSpec     ≈ geziyor Options  (reference: options.go:16-126)
  *  - AuditRow      ≈ metrics/log rows (reference: metrics/metrics.go:28-35,
  *                    middleware/log_stats.go:13-18)
  *
  * All fields use Spark-friendly types (String/Int/Long/Boolean/Map) so the
  * default case-class Encoders apply and columns stay codegen-friendly.
  */
final case class FrontierEntry(
    url: String,
    host: String,
    path: String,
    depth: Int,
    method: String = "GET",
    meta: Map[String, String] = Map.empty,
    retry: Int = 0,
    priority: Int = 0,
    // (wave, rank-within-wave) give the deterministic BFS discovery order the
    // reference exhibits under Synchronized=true (geziyor.go:225-227).
    wave: Int = 0,
    rank: Long = 0L,
    parserId: String = "default"
)

final case class FetchResult(
    url: String,
    host: String,
    depth: Int,
    status: Int,
    contentType: String,
    body: Array[Byte],
    text: String,
    isHtml: Boolean,
    meta: Map[String, String],
    retry: Int,
    wave: Int,
    location: String // redirect target, null if none
)

/** Immutable crawl specification — the "query". Field-for-field mirror of the
  * corpus-meaningful subset of the reference Options (options.go:16-126).
  */
final case class CrawlSpec(
    startUrls: Seq[String],
    allowedDomains: Seq[String] = Nil,         // options.go:19  (empty = allow all)
    maxDepth: Int = Int.MaxValue,
    maxWaves: Int = 64,
    retryTimes: Int = 2,                       // client/client.go:52
    retryHttpCodes: Set[Int] = CrawlSpec.DefaultRetryCodes,
    maxRedirect: Int = 10,                     // options.go:63
    maxBodySize: Long = 1024L * 1024 * 1024,   // client/client.go:51 (1 GB)
    // Request timeout (client/client.go:76-82: 180s request timeout —
    // connection tuning's corpus-mode face). With a `latency_ms` corpus
    // column, rows slower than this are transport errors: retried like the
    // reference's error path, then ErrorFunc (fetch_timeout) on exhaustion.
    // 0 = off.
    requestTimeoutMs: Long = 0L,
    // options.go:38 / client.go:146-152: skip charset detection entirely —
    // body bytes are used as-is (decoded as UTF-8), no Content-Type param
    // or <meta charset> sniffing.
    charsetDetectDisabled: Boolean = false,
    urlRevisitEnabled: Boolean = false,        // options.go:121
    robotsTxtDisabled: Boolean = false,        // options.go:109
    userAgent: String = CrawlSpec.DefaultUserAgent,
    // Politeness: per-host fetch tokens granted per wave. Reference semantics:
    // ConcurrentRequestsPerDomain (options.go:45) caps in-flight per host;
    // RequestDelay (options.go:84) spaces them. In wave mode the two collapse
    // to "at most k fetches per host per wave".
    hostTokensPerWave: Int = Int.MaxValue,
    // Politeness spacing (middleware/delay.go:15-30). In wave mode the delay
    // becomes a deterministic per-request sub-wave ordering key: when
    // requestDelayMs > 0, each granted request gets delay_ms and the
    // per-host token ranking orders by it. randomDelay mirrors the
    // reference's RandomDelay (delay.go:20-24: uniform in [0.5d, 1.5d)),
    // seeded per (url, wave) so runs are reproducible.
    requestDelayMs: Long = 0L,
    randomDelay: Boolean = false,
    // Wave cadence (geziyor.go RequestsPerSecond spacing): with
    // requestsPerSecond > 0 the wave size is additionally capped at
    // rps × waveIntervalMs/1000 — the wave-mode collapse of the reference's
    // time-based limiter.
    waveIntervalMs: Long = 1000L,
    requestsPerSecond: Int = 0,                // options.go:87 (0 = off)
    // options.go:41 → wave size cap. The reference default (100000 in-flight)
    // only throttles sockets; in wave mode the cap is off unless the caller
    // wants bounded waves.
    concurrentRequests: Int = Int.MaxValue,
    parseHtmlDisabled: Boolean = false,        // options.go:73
    // options.go:58 / log_stats.go:13-18: suppress the per-response
    // "Crawled: (status) <METHOD url>" log — here, the `crawled` audit rows
    // (the log IS the audit table); counters and records are unaffected.
    logDisabled: Boolean = false,
    parserId: String = "default",
    // Scale path: the seen-set anti-join behind a broadcast Bloom prefilter
    // (graft.state.SeenSet.Sketch, maintained incrementally across waves).
    // Semantically identical to the plain anti-join (no false negatives);
    // cuts the dedup shuffle to ~new-URL volume at steady state.
    bloomDedup: Boolean = false,
    // Sync-order mode assigns a deterministic GLOBAL discovery rank per wave
    // — the parity mode that reproduces the reference's synchronized crawl
    // order exactly (geziyor.go:225-227) at the cost of one
    // single-partition window per wave. The DEFAULT is the scale mode
    // (false): ranks become bucket-local (still unique, still deterministic,
    // still stable for dedup and politeness ties, but not a global total
    // order) and every per-wave window is partitioned — no serialization
    // point anywhere in the default plan. Parity tests opt in with true.
    syncOrder: Boolean = false,
    // Cookie jar (geziyor.go:98-100, client/client.go:250-272): responses'
    // Set-Cookie values accumulate in a per-host state table and are applied
    // to later requests to that host (visible to parsers as meta("cookie")).
    cookiesDisabled: Boolean = false,          // options.go:33
    // JS-rendered fetch mode (client/client.go:171-247, GetRendered
    // geziyor.go:189-197): corpus-mode analog fetches the page's
    // pre-rendered `text` variant (the post-JS DOM) instead of raw `html`.
    rendered: Boolean = false,
    // Rendered-mode action programs (pipeline/Actions.scala — the corpus
    // chromedp analog). `preActions` REPLACES the default
    // navigate→waitReady→capture list (options.go:80-84,
    // client/client.go:215-217): the caller owns navigation AND capture —
    // a replacement that never captures delivers an EMPTY body and
    // StatusCode 0 (the client.go:227-239 res==nil branch).
    // `requestActions` are APPENDED AFTER the (possibly replaced) list
    // (client/request.go:32, client/client.go:219-221) — i.e. after the
    // default capture, so their DOM mutations are invisible in the body
    // unless preActions capture later. Only consulted when rendered=true.
    preActions: Option[Seq[graft.pipeline.Actions.Action]] = None,
    requestActions: Seq[graft.pipeline.Actions.Action] = Nil,
    // Proxy pool (client/proxy.go:19-48 RoundRobinProxy wired via
    // geziyor.go:77-86). Scale face: stateless stable assignment
    // proxy_id = md5-hash(url) % N (no shared atomic counter — the q34
    // face); the assigned proxy identity is stamped on every crawled
    // audit row as `proxy=<id>:<proxyUrl>`. Empty = direct connections.
    proxyUrls: Seq[String] = Nil,
    // HTTP cache policy over the cached-state table passed to CrawlJob.run:
    // "off" | "rfc2616" (cache/cache.go:182-301 RoundTripRFC2616). The
    // decision clock is injectable for determinism (cache_test.go:24-30).
    cachePolicy: String = "off",
    cacheNowEpochSec: Long = 0L,
    // Metrics exposition (options.go:67 MetricsType; metrics/metrics.go:
    // 14-25,100-115): "discard" (default) | "prometheus" (localhost server
    // with /metrics + /debug/vars) | "expvar" (/debug/vars only). The
    // server re-renders the LIVE counter table per scrape during the crawl.
    metricsType: String = "discard",
    metricsPort: Int = 2112,
    // Honor robots Crawl-delay in the politeness stage (the reference's
    // robots lib parses it — Group.CrawlDelay — though geziyor never
    // consults it; opt-in): a host with Crawl-delay d gets at most
    // max(1, floor(waveInterval/d)) grants per wave once its rules are
    // fetched (the first wave runs uncapped — lazy-fetch timing).
    honorCrawlDelay: Boolean = false,
    // Sitemap autodiscovery (sitemaps.org, opt-in): when a NEW host's
    // robots.txt is fetched, its `Sitemap:` pointers (RobotsRules.sitemaps
    // — the reference robots library's file-wide Sitemaps field) are
    // fetched from the corpus in the same wave and every urlset <loc>
    // enters the next wave's frontier as a discovered link at depth 1 —
    // subject to the same domain filter, dedup, seen anti-join and
    // politeness as any parsed link.
    sitemapDiscovery: Boolean = false,
    // Crawl-trap budget (opt-in): cap the number of urls any single
    // (host, path-template) may ever contribute to the frontier, where the
    // template collapses digit runs to 'N' ('/cal/2024/3/7' → '/cal/N/N/N').
    // Calendar pages, session ids and faceted-search spaces are unbounded
    // synthetic URL families — a web-scale frontier caps them instead of
    // crawling them forever (q76 is the detection face; this is the gate).
    // Capped urls are audited as `trap_capped` and enter the seen set, so
    // they stay suppressed for the rest of the crawl. Counts are
    // per-run-session state (a resumed crawl re-grants a fresh budget; the
    // seen set still suppresses previously-capped urls).
    trapTemplateBudget: Option[Int] = None,
    // Adaptive per-host crawl rate (opt-in): an AIMD congestion controller
    // on top of the politeness window (q77 is the query face). A host whose
    // wave had any response slower than adaptiveLatencyMs or any 5xx status
    // HALVES its next-wave grant cap (floor 1); a healthy observed host
    // adds 2 (ceiling adaptiveMaxCap). Unobserved hosts keep their cap.
    // The effective per-host cap is min(hostTokensPerWave, Crawl-delay cap,
    // AIMD cap); new hosts start at adaptiveInitialCap. State is one row
    // per observed host (bounded, broadcast side), per run-session.
    adaptiveRate: Boolean = false,
    adaptiveLatencyMs: Long = 2000,
    adaptiveInitialCap: Int = 8,
    adaptiveMaxCap: Int = 64,
    // WARC archive output (opt-in): write each wave's DELIVERED responses
    // as ISO-28500 members under <warcArchiveDir>/wave-NNNN/ via
    // graft.sinks.WarcSink — one member file per partition, streamed from
    // the executors (no driver collect). warcDedup=true turns
    // identical-payload captures within the wave into payload-free
    // WARC/1.1 §6.7 revisit records (one digest-keyed window);
    // warcGzip wraps each record in its own gzip member (the Common-Crawl
    // `.warc.gz` random-access layout).
    warcArchiveDir: Option[String] = None,
    warcDedup: Boolean = true,
    warcGzip: Boolean = false,
    // Content sniffing fallback (opt-in; the reference's IsHTML is
    // header-only — client/response.go:36-44 — so this is OFF by default
    // for parity): when a response carries no Content-Type, derive one from
    // the body's leading bytes (pipeline/ContentSniff — the
    // http.DetectContentType / WHATWG subset). Row-local, O(512) chars per
    // page; never overrides a server-provided type.
    sniffContentType: Boolean = false
)

object CrawlSpec {
  /** client/client.go:56 */
  val DefaultRetryCodes: Set[Int] = Set(500, 502, 503, 504, 522, 524, 408)
  /** client/client.go:44-47 */
  val DefaultUserAgent =
    "GeziyorSpark/1.0 (+https://github.com/geziyor/geziyor)"
  /** middleware/headers.go:12-17 / client/client.go:275-280 header defaults. */
  val DefaultHeaders: Map[String, String] = Map(
    "Accept" ->
      "text/html,application/xhtml+xml,application/xml;q=0.9,*/*;q=0.8",
    "Accept-Charset" -> "utf-8",
    "Accept-Language" -> "en",
    "User-Agent" -> DefaultUserAgent
  )
}

/** One audit-table row: crawl log lines, metric counters and error/panic
  * branches all land here (SURVEY.md §2.5).
  */
final case class AuditRow(
    wave: Int,
    kind: String,   // crawled | rejected_domain | robots_forbidden | retry |
                    // fetch_miss | parse_error | redirect
    method: String,
    status: Int,
    host: String,
    url: String,
    detail: String
)

/** Extracted record for the flagship quotes fixture (geziyor_test.go:76-94). */
final case class QuoteRecord(
    number: Int,
    text: String,
    author: String,
    tags: Seq[String]
)
