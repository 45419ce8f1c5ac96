package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.corpus.CorpusViews
import graft.model.CrawlSpec

/** q48's parsed-record row (6 fields — past Encoders.tuple's arity cap). */
final case class WarcRow(
    url: String, rec_idx: Int, warc_type: String, target_uri: String,
    content_len: Long, payload_text: String)

/** One named query + its DuckDB oracle (None → rows-only check). */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Crawl-core operator queries (SURVEY.md §2.1–§2.5), each the Spark-native
  * realization of one reference dataflow operator, DataFrame-API first, with
  * a DuckDB oracle over the same derived views (CorpusViews.cte — identical
  * SQL text both engines).
  *
  * Scale notes are on each query: what shuffles, what broadcasts, what the
  * plan must look like at 10^10-URL frontier scale.
  */
object CrawlQueries {
  import CorpusViews.{view, cte}

  private def v(s: SparkSession, dir: String)(n: String) = view(s, dir, n)

  /** Fetch = frontier ⋈ pages corpus (reference: client/client.go:124-168 —
    * the network call becomes a join; miss = DNS-error analog).
    * Scale: both sides hash-partition on url; with a bucketed corpus this is
    * a shuffle-free sort-merge join; AQE handles skewed hosts.
    */
  val qFetchJoin = Q(
    "q01_fetch_join",
    (s, dir) => {
      val f = v(s, dir)("frontier")
      val p = v(s, dir)("pages")
        .select(col("url"), col("status"), col("content_type"))
      f.join(p, Seq("url"), "left")
        .select(
          col("url"), col("host"), col("depth"), col("method"),
          coalesce(col("status"), lit(-1)).as("status"),
          col("status").isNotNull.as("fetched"))
    },
    Some(cte("frontier", "pages") +
      """SELECT f.url AS url, f.host AS host, f.depth AS depth,
        |  f.method AS method, COALESCE(p.status, -1) AS status,
        |  p.status IS NOT NULL AS fetched
        |FROM frontier f LEFT JOIN pages p ON f.url = p.url""".stripMargin))

  /** URL-seen dedup = left-anti join vs the seen-set state table (reference:
    * middleware/duplicate_requests.go:16-26). Only GETs are deduped, exactly
    * like the reference (`:17`). Scale: anti-join on url after a Bloom
    * pre-filter (see graft.state.SeenSet); Bloom skips the shuffle for the
    * definitely-seen majority.
    */
  val qSeenAntiJoin = Q(
    "q02_seen_antijoin",
    (s, dir) => {
      val f = v(s, dir)("frontier")
      val seen = v(s, dir)("seen")
      val gets = f.filter(col("method") === "GET")
      val nonGets = f.filter(col("method") =!= "GET")
      gets.join(seen, Seq("url"), "left_anti")
        .select(col("url")).union(nonGets.select(col("url"))).distinct()
    },
    Some(cte("frontier", "seen") +
      """SELECT DISTINCT f.url AS url FROM frontier f
        |WHERE f.method <> 'GET'
        |   OR NOT EXISTS (SELECT 1 FROM seen s WHERE s.url = f.url)""".stripMargin))

  /** Intra-batch first-wins dedup (reference LoadOrStore first-wins,
    * duplicate_requests.go:18): keep min-(depth, rank) row per url.
    * Scale: single shuffle on url; window beats groupBy+self-join.
    */
  val qDedupFirstWins = Q(
    "q03_dedup_first_wins",
    (s, dir) => {
      val f = v(s, dir)("frontier")
      val w = Window.partitionBy(col("url"))
        .orderBy(col("depth").asc, col("rank").asc)
      f.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("url"), col("depth"), col("rank"))
    },
    Some(cte("frontier") +
      """SELECT url, depth, rank FROM (
        |  SELECT url, depth, rank,
        |    ROW_NUMBER() OVER (PARTITION BY url ORDER BY depth ASC, rank ASC) AS rn
        |  FROM frontier) t WHERE rn = 1""".stripMargin))

  private val allowedHosts =
    (0 until 30).map(i => s"h$i.example.com")

  /** AllowedDomains filter (reference: middleware/allowed_domains.go:15-23).
    * Scale: isin literal list folds to an InSet predicate pushed to the scan;
    * a large allowlist becomes a broadcast semi-join instead.
    */
  val qAllowedDomains = Q(
    "q04_allowed_domains",
    (s, dir) =>
      v(s, dir)("frontier")
        .filter(col("host").isin(allowedHosts: _*))
        .select(col("url"), col("host")).distinct(),
    Some(cte("frontier") +
      s"""SELECT DISTINCT url, host FROM frontier
         |WHERE host IN (${allowedHosts.map("'" + _ + "'").mkString(", ")})""".stripMargin))

  /** Rejected-domain audit with log-once semantics (allowed_domains.go:11-19
    * logs each host once; we keep the full count per host for the audit
    * table). Scale: partial aggregation map-side, tiny result.
    */
  val qRejectedAudit = Q(
    "q05_rejected_audit",
    (s, dir) =>
      v(s, dir)("frontier")
        .filter(!col("host").isin(allowedHosts: _*))
        .groupBy(col("host")).agg(count(lit(1)).as("n_rejected")),
    Some(cte("frontier") +
      s"""SELECT host, COUNT(*) AS n_rejected FROM frontier
         |WHERE host NOT IN (${allowedHosts.map("'" + _ + "'").mkString(", ")})
         |GROUP BY host""".stripMargin))

  /** Header defaults (middleware/headers.go:12-17): set iff absent — pure
    * coalesce projection, no shuffle at any scale.
    */
  val qHeaderDefaults = Q(
    "q06_header_defaults",
    (s, dir) =>
      v(s, dir)("frontier")
        .withColumn("ua_in",
          when(col("rank") % 7 === 0, lit("custom-agent")))
        .select(
          col("url"),
          coalesce(col("ua_in"), lit(CrawlSpec.DefaultUserAgent)).as("user_agent"),
          lit(CrawlSpec.DefaultHeaders("Accept")).as("accept"),
          lit("en").as("accept_language")),
    Some(cte("frontier") +
      s"""SELECT url,
         |  COALESCE(CASE WHEN rank % 7 = 0 THEN 'custom-agent' ELSE NULL END,
         |           '${CrawlSpec.DefaultUserAgent}') AS user_agent,
         |  '${CrawlSpec.DefaultHeaders("Accept")}' AS accept,
         |  'en' AS accept_language
         |FROM frontier""".stripMargin))

  /** Per-host politeness token grant: top-k rows per host per wave by
    * (priority desc, rank) — the wave-mode collapse of
    * ConcurrentRequestsPerDomain + RequestDelay (geziyor.go:277-288,
    * middleware/delay.go:15-30). Scale: one shuffle on host; the crawl
    * itself bounds mega-hosts with CrawlJob.run's two-phase salted grant
    * (top-k per (host, salt), then top-k per host over the survivors).
    */
  val qPolitenessTokens = Q(
    "q07_politeness_tokens",
    (s, dir) => {
      val w = Window.partitionBy(col("host"))
        .orderBy(col("priority").desc, col("rank").asc)
      v(s, dir)("frontier")
        .withColumn("token", row_number().over(w))
        .filter(col("token") <= 3)
        .select(col("url"), col("host"), col("priority"), col("token"))
    },
    Some(cte("frontier") +
      """SELECT url, host, priority, token FROM (
        |  SELECT url, host, priority,
        |    ROW_NUMBER() OVER (PARTITION BY host ORDER BY priority DESC, rank ASC) AS token
        |  FROM frontier) t WHERE token <= 3""".stripMargin))

  /** robots.txt gate (middleware/robotstxt.go:30-67): broadcast-join frontier
    * with per-host disallow rules, keep paths not matching a disallow prefix.
    * Scale: robots table is tiny (one row per host) → broadcast join, no
    * frontier shuffle.
    */
  val qRobotsGate = Q(
    "q08_robots_gate",
    (s, dir) => {
      val f = v(s, dir)("frontier")
      val r = v(s, dir)("robots")
      f.join(broadcast(r), Seq("host"), "left")
        .filter(col("disallow_prefix").isNull ||
          expr("substring(path, 1, length(disallow_prefix)) <> disallow_prefix"))
        .select(col("url"), col("host")).distinct()
    },
    Some(cte("frontier", "robots") +
      """SELECT DISTINCT f.url AS url, f.host AS host
        |FROM frontier f LEFT JOIN robots r ON f.host = r.host
        |WHERE r.disallow_prefix IS NULL
        |   OR SUBSTRING(f.path, 1, LENGTH(r.disallow_prefix)) <> r.disallow_prefix""".stripMargin))

  /** Robots-forbidden audit counter (metrics/metrics.go:33, incremented at
    * robotstxt.go:62).
    */
  val qRobotsForbidden = Q(
    "q09_robots_forbidden",
    (s, dir) => {
      val f = v(s, dir)("frontier")
      val r = v(s, dir)("robots")
      f.join(broadcast(r), Seq("host"), "inner")
        .filter(col("disallow_prefix").isNotNull &&
          expr("substring(path, 1, length(disallow_prefix)) = disallow_prefix"))
        .groupBy(col("host")).agg(count(lit(1)).as("n_forbidden"))
    },
    Some(cte("frontier", "robots") +
      """SELECT f.host AS host, COUNT(*) AS n_forbidden
        |FROM frontier f JOIN robots r ON f.host = r.host
        |WHERE r.disallow_prefix IS NOT NULL
        |  AND SUBSTRING(f.path, 1, LENGTH(r.disallow_prefix)) = r.disallow_prefix
        |GROUP BY f.host""".stripMargin))

  /** Retry re-enqueue (client/client.go:94-121): fetch results with a
    * retryable status re-enter the next wave with retry+1, capped at
    * RetryTimes=2. Pure dataflow — the reference's recursion becomes a
    * filtered union into the next frontier.
    */
  val qRetryRequeue = Q(
    "q10_retry_requeue",
    (s, dir) => {
      val f = v(s, dir)("frontier")
      val p = v(s, dir)("pages").select(col("url"), col("status"))
      val codes = CrawlSpec.DefaultRetryCodes.toSeq.sorted
      f.join(p, Seq("url"), "inner")
        .filter(col("status").isin(codes.map(Integer.valueOf): _*) &&
          col("retry") < lit(2))
        .select(col("url"), col("host"),
          (col("retry") + 1).as("retry"), col("status"))
    },
    Some(cte("frontier", "pages") +
      s"""SELECT f.url AS url, f.host AS host, f.retry + 1 AS retry,
         |  p.status AS status
         |FROM frontier f JOIN pages p ON f.url = p.url
         |WHERE p.status IN (${CrawlSpec.DefaultRetryCodes.toSeq.sorted.mkString(", ")})
         |  AND f.retry < 2""".stripMargin))

  /** Redirect follower (client/client.go:303-311): bounded chain resolution
    * as unrolled self-joins on the redirect edge (two hops cover the fixture
    * chains; the engine's CrawlJob does the general ≤ maxRedirect loop).
    * Scale: each hop is a join on url — same partitioning reused.
    */
  val qRedirectResolve = Q(
    "q11_redirect_resolve",
    (s, dir) => {
      val p = v(s, dir)("pages")
      val src = p.filter(col("status") === 301)
        .select(col("url").as("src_url"), col("location").as("loc1"))
      val h1 = p.select(col("url").as("u1"), col("status").as("st1"),
        col("location").as("nx1"))
      val h2 = p.select(col("url").as("u2"), col("status").as("st2"))
      src
        .join(h1, col("loc1") === col("u1"), "left")
        .join(h2,
          col("st1") === 301 && col("nx1") === col("u2"), "left")
        .select(
          col("src_url"),
          when(col("st1") === 301, coalesce(col("u2"), col("nx1")))
            .otherwise(col("u1")).as("final_url"),
          when(col("st1") === 301, col("st2")).otherwise(col("st1"))
            .as("final_status"),
          (when(col("st1") === 301, 2).otherwise(1)).as("hops"))
    },
    Some(cte("pages") +
      """SELECT s.url AS src_url,
        |  CASE WHEN h1.status = 301 THEN COALESCE(h2.url, h1.location)
        |       ELSE h1.url END AS final_url,
        |  CASE WHEN h1.status = 301 THEN h2.status ELSE h1.status END AS final_status,
        |  CASE WHEN h1.status = 301 THEN 2 ELSE 1 END AS hops
        |FROM (SELECT url, location FROM pages WHERE status = 301) s
        |LEFT JOIN pages h1 ON s.location = h1.url
        |LEFT JOIN pages h2 ON h1.status = 301 AND h1.location = h2.url""".stripMargin))

  /** Response counter by status (middleware/metrics.go:18-20). */
  val qMetricsStatus = Q(
    "q12_metrics_status",
    (s, dir) => {
      val f = v(s, dir)("frontier")
      val p = v(s, dir)("pages").select(col("url"), col("status"))
      f.join(p, Seq("url"), "left")
        .groupBy(coalesce(col("status"), lit(-1)).as("status"))
        .agg(count(lit(1)).as("n"))
    },
    Some(cte("frontier", "pages") +
      """SELECT COALESCE(p.status, -1) AS status, COUNT(*) AS n
        |FROM frontier f LEFT JOIN pages p ON f.url = p.url
        |GROUP BY COALESCE(p.status, -1)""".stripMargin))

  /** Request counter by method (middleware/metrics.go:14-16). */
  val qMetricsMethod = Q(
    "q13_metrics_method",
    (s, dir) =>
      v(s, dir)("frontier").groupBy(col("method"))
        .agg(count(lit(1)).as("n")),
    Some(cte("frontier") +
      "SELECT method, COUNT(*) AS n FROM frontier GROUP BY method"))

  /** RFC2616-style freshness predicate over the fetched-state table
    * (cache/cache.go:338-417 collapsed to the corpus-meaningful part:
    * a timestamp window → partition-pruning-friendly filter). Stale rows are
    * the would-refetch list.
    */
  val qCacheFresh = Q(
    "q14_cache_freshness",
    (s, dir) =>
      v(s, dir)("pages")
        .filter(col("status") === 200)
        .select(col("url"),
          (col("warc_ts") >= lit("1997-01-01 00:00:00").cast("timestamp"))
            .as("fresh")),
    Some(cte("pages") +
      """SELECT url, warc_ts >= TIMESTAMP '1997-01-01 00:00:00' AS fresh
        |FROM pages WHERE status = 200""".stripMargin))

  /** Round-robin proxy assignment (client/proxy.go:19-48): rank mod N.
    * Done per-partition at scale (pmod of a hash); the global row_number here
    * mirrors the reference's single atomic counter for exactness, then
    * aggregates so the result is tiny.
    */
  val qProxyRoundRobin = Q(
    "q15_proxy_roundrobin",
    (s, dir) => {
      val w = Window.orderBy(col("rank"))
      v(s, dir)("frontier")
        .withColumn("rn", row_number().over(w))
        .withColumn("proxy_id", (col("rn") - 1) % 5)
        .groupBy(col("proxy_id")).agg(count(lit(1)).as("n"))
    },
    Some(cte("frontier") +
      """SELECT (rn - 1) % 5 AS proxy_id, COUNT(*) AS n FROM (
        |  SELECT ROW_NUMBER() OVER (ORDER BY rank) AS rn FROM frontier) t
        |GROUP BY (rn - 1) % 5""".stripMargin))

  /** BFS frontier expansion (the recursive g.Get in the user ParseFunc,
    * geziyor.go:261-267): iterative wave loop with first-wins dedup, depth≤3.
    * Spark side: driver loop of anti-join + distinct unions (no collect in
    * the loop). Oracle: DuckDB recursive CTE — min path depth ≡ BFS depth.
    * Scale: each wave shuffles only the NEW urls; visited set stays
    * partitioned on url across waves.
    */
  val qCrawlBfs = Q(
    "q16_crawl_bfs",
    (s, dir) => {
      // Iterative BFS is a driver loop over LAZY plans: without a
      // materialization point, level d's plan embeds levels 1..d-1 and the
      // anti-join's visited union re-embeds them again, so the final count
      // recomputes every level O(depth) times (profiled: the dominant q16
      // cost). localCheckpoint each level (and the shared distinct edge
      // list) exactly like CrawlJob's wave loop — each join/distinct runs
      // ONCE and lineage stays bounded. Result set unchanged.
      val links = v(s, dir)("links")
        .select(col("src_url"), col("dst_url")).distinct()
        .localCheckpoint(true)
      val seeds = v(s, dir)("seeds")
        .select(col("url"), lit(0).as("depth"))
      var visited = seeds
      var frontier = seeds
      for (d <- 1 to 3) {
        val next = frontier.join(links, col("url") === col("src_url"))
          .select(col("dst_url").as("url"), lit(d).as("depth"))
          .distinct()
          .join(visited.select(col("url")), Seq("url"), "left_anti")
          .localCheckpoint(true)
        frontier = next
        visited = visited.union(next)
      }
      visited
    },
    Some("WITH RECURSIVE " + CorpusViews.viewSql.toMap
      .filterKeys(Set("links", "seeds")).toSeq.sortBy(_._1)
      .map { case (n, sql) => s"$n AS (\n$sql\n)" }.mkString(",\n") + ",\n" +
      """crawl(url, depth) AS (
        |  SELECT url, 0 AS depth FROM seeds
        |  UNION
        |  SELECT DISTINCT l.dst_url AS url, c.depth + 1 AS depth
        |  FROM crawl c JOIN links l ON l.src_url = c.url
        |  WHERE c.depth < 3
        |)
        |SELECT url, CAST(MIN(depth) AS INT) AS depth FROM crawl GROUP BY url""".stripMargin))

  /** RFC2616 serve decision over the cached-state table (cache/cache.go:
    * 182-265 RoundTripRFC2616, collapsed to the corpus-observable actions):
    * no entry → fetch_store; fresh (max-age > age at the injected clock) →
    * serve_cached; stale with matching validator → revalidate_304 (keep the
    * cached body); stale with diverged validator → fetch_store. The engine
    * twin is CrawlJob's cacheDf path (EngineFeaturesSpec pins it with a fake
    * clock). Scale: one broadcast-or-shuffle join on url; the freshness
    * predicate is a scan-pushable integer comparison.
    */
  val qCacheDecision = Q(
    "q19_cache_decision",
    (s, dir) => {
      val nowEpoch = 915062400L // 1998-12-31 00:00:00 UTC, after all warc_ts
      val p = v(s, dir)("pages").select(col("page_key"))
      val c = v(s, dir)("cache")
        .select(col("page_key"), col("cached_at"), col("max_age_s"), col("etag"))
      p.join(c, Seq("page_key"), "left")
        .withColumn("age", lit(nowEpoch) - unix_timestamp(col("cached_at")))
        .select(col("page_key"),
          when(col("cached_at").isNull, lit("fetch_store"))
            .when(col("max_age_s") > col("age"), lit("serve_cached"))
            .when(col("etag") === concat(lit("W/\""),
              col("page_key").cast("string"), lit("\"")),
              lit("revalidate_304"))
            .otherwise(lit("fetch_store")).as("action"))
    },
    Some(cte("pages", "cache") +
      """SELECT p.page_key AS page_key,
        |  CASE WHEN c.page_key IS NULL THEN 'fetch_store'
        |       WHEN c.max_age_s > 915062400 - CAST(epoch(CAST(c.cached_at AS TIMESTAMP)) AS BIGINT)
        |            THEN 'serve_cached'
        |       WHEN c.etag = 'W/"' || CAST(p.page_key AS STRING) || '"'
        |            THEN 'revalidate_304'
        |       ELSE 'fetch_store' END AS action
        |FROM pages p LEFT JOIN cache c ON p.page_key = c.page_key""".stripMargin))

  /** Randomized politeness delay (middleware/delay.go:20-24: uniform in
    * [0.5d, 1.5d)): the engine's deterministic md5-seeded variant
    * (CrawlJob.delayExpr), d=1000ms. Pure projection — no shuffle at any
    * scale; portable across engines by construction (md5 is the seed).
    */
  val qRandomDelay = Q(
    "q33_random_delay",
    (s, dir) =>
      v(s, dir)("frontier")
        .select(col("url"), col("rank"),
          (lit(500L) + conv(substring(md5(col("url")), 1, 12), 16, 10)
            .cast("long") % 1000).as("delay_ms")),
    Some(cte("frontier") +
      """SELECT url, rank,
        |  500 + CAST('0x' || substr(md5(url), 1, 12) AS BIGINT) % 1000 AS delay_ms
        |FROM frontier""".stripMargin))

  /** Proxy assignment, scale face (client/proxy.go:19-48): stateless hash
    * of the url replaces the reference's atomic round-robin counter — the
    * engine-side default at cluster scale (no global window, no shared
    * counter; assignment is stable under retries because it keys on url).
    * q15 remains the exact round-robin parity face.
    */
  val qProxyHashAssign = Q(
    "q34_proxy_hash_assign",
    (s, dir) =>
      v(s, dir)("frontier")
        .withColumn("proxy_id",
          conv(substring(md5(col("url")), 1, 4), 16, 10).cast("long") % 5)
        .groupBy(col("proxy_id")).agg(count(lit(1)).as("n")),
    Some(cte("frontier") +
      """SELECT CAST('0x' || substr(md5(url), 1, 4) AS BIGINT) % 5 AS proxy_id,
        |  COUNT(*) AS n
        |FROM frontier GROUP BY 1""".stripMargin))

  /** Rendered-fetch body selection (client/client.go:171-247 GetRendered):
    * rendered requests deliver the pre-rendered DOM (`text` variant), plain
    * requests the raw html envelope. Engine twin: CrawlSpec.rendered
    * (EngineFeaturesSpec). Pure projection.
    */
  val qRenderedFetch = Q(
    "q35_rendered_fetch",
    (s, dir) =>
      v(s, dir)("pages")
        .select(col("url"), (col("page_key") % 23 === 0).as("rendered"),
          when(col("page_key") % 23 === 0, col("text"))
            .otherwise(concat(lit("<html><body>"), col("text"),
              lit("</body></html>"))).as("body")),
    Some(cte("pages") +
      """SELECT url, page_key % 23 = 0 AS rendered,
        |  CASE WHEN page_key % 23 = 0 THEN text
        |       ELSE '<html><body>' || text || '</body></html>' END AS body
        |FROM pages""".stripMargin))

  /** Request-timeout classification (client/client.go:76-82: 180s request
    * timeout — the connection-tuning knob with corpus-observable semantics).
    * A fetch whose latency exceeds the timeout is a transport error: retried
    * like the reference's error path, ErrorFunc on exhaustion. Engine twin:
    * CrawlSpec.requestTimeoutMs (EngineFeaturesSpec). Scale: the
    * classification is a scan-level predicate on the joined row.
    */
  val qFetchTimeout = Q(
    "q37_fetch_timeout",
    (s, dir) => {
      val f = v(s, dir)("frontier").select(col("url"), col("rank"))
      val p = v(s, dir)("pages")
        .select(col("url"), col("status"), col("latency_ms"))
      val codes = CrawlSpec.DefaultRetryCodes.toSeq.sorted
      f.join(p, Seq("url"), "left")
        .select(col("rank"),
          when(col("status").isNull, lit("miss"))
            .when(col("latency_ms") > 3000, lit("timeout"))
            .when(col("status").isin(codes.map(Integer.valueOf): _*),
              lit("retry"))
            .otherwise(lit("delivered")).as("action"))
    },
    Some(cte("frontier", "pages") +
      s"""SELECT f.rank AS rank,
         |  CASE WHEN p.status IS NULL THEN 'miss'
         |       WHEN p.latency_ms > 3000 THEN 'timeout'
         |       WHEN p.status IN (${CrawlSpec.DefaultRetryCodes.toSeq.sorted.mkString(", ")}) THEN 'retry'
         |       ELSE 'delivered' END AS action
         |FROM frontier f LEFT JOIN pages p ON f.url = p.url""".stripMargin))

  /** POST fetch face (geziyor.go:209-217 Post helper): non-GET frontier
    * rows carry a request body (meta("body") engine-side — the seedsDf
    * `body` column). Corpus-mode: each POST row derives its deterministic
    * payload, fingerprints it (md5 — portable), and fetches WITHOUT a cache
    * or dedup gate (non-GET requests bypass both, duplicate_requests.go:17,
    * cache/cache.go:184-191). Engine twin: the Post/Head seed-face test in
    * EngineFeaturesSpec. Scale: pure projection + the q01 fetch join.
    */
  val qPostFetch = Q(
    "q38_post_fetch",
    (s, dir) => {
      val f = v(s, dir)("frontier")
        .filter(col("method") === "POST")
        .select(col("url"), col("rank"),
          concat(lit("q="), col("path")).as("body"))
      val p = v(s, dir)("pages").select(col("url"), col("status"))
      f.join(p, Seq("url"), "left")
        .select(col("rank"), md5(col("body").cast("binary")).as("body_fp"),
          coalesce(col("status"), lit(-1)).as("status"))
    },
    Some(cte("frontier", "pages") +
      """SELECT f.rank AS rank, md5('q=' || f.path) AS body_fp,
        |  COALESCE(p.status, -1) AS status
        |FROM frontier f LEFT JOIN pages p ON f.url = p.url
        |WHERE f.method = 'POST'""".stripMargin))

  /** The input_hint invariant face: pages carry `html: BINARY`
    * (Common-Crawl shape — url, warc_ts, html, text, lang) and extraction
    * must be BYTE-IDENTICAL per url. The Spark side runs the REAL pipeline
    * over the bytes — charset decode (CharsetDecode.decode honoring the
    * Content-Type charset param) → HTML parse (html/Html.scala) → CSS
    * selector extraction (`p.doc`, html/Css.scala) — while the oracle
    * recomputes the expected text arithmetically from the same view. A
    * single parse divergence (entity, tag nesting, charset) breaks the hash.
    *
    * Scale: one narrow projection + a per-partition streaming map — no
    * shuffle at all; the parquet scan prunes to 4 columns.
    */
  val qHtmlExtract = Q(
    "q39_html_extract",
    (s, dir) => {
      import org.apache.spark.sql.Encoders
      val p = v(s, dir)("pages")
        .filter(col("content_type").startsWith("text/html"))
        .select(col("url"), col("html"), col("content_type"), col("lang"))
      val enc = Encoders.tuple(
        Encoders.STRING, Encoders.BINARY, Encoders.STRING, Encoders.STRING)
      val outEnc = Encoders.tuple(
        Encoders.STRING, Encoders.STRING, Encoders.STRING)
      p.as(enc).mapPartitions { it =>
        it.map { case (url, html, ct, lang) =>
          val dom = graft.html.Css.doc(
            graft.pipeline.CharsetDecode.decode(html, ct))
          (url, dom.find("p.doc").text, lang)
        }
      }(outEnc).toDF("url", "extracted", "lang")
    },
    Some(cte("pages") +
      """SELECT url, text AS extracted, lang FROM pages
        |WHERE content_type LIKE 'text/html%'""".stripMargin))

  /** URL canonicalization (`UrlOps.canonicalize`) — the web-scale seen-set
    * hygiene layer (RFC 3986 §6.2 safe set: lowercase scheme/host, strip
    * default port, remove dot segments, drop fragment). The oracle is
    * self-proving: each clean frontier url is deliberately messed up with
    * exactly those aliasing transformations (uppercased scheme+host, :80,
    * /./ dot segment, #fragment) and the REAL canonicalizer must recover
    * the original string byte-identically. Pure per-row map — no shuffle.
    */
  val qUrlCanonical = Q(
    "q46_url_canonical",
    (s, dir) => {
      import org.apache.spark.sql.Encoders
      CorpusViews.register(s, dir)
      val messy = s.sql(
        """SELECT 'HTTP://' || UPPER(host) || ':80/./' || SUBSTR(path, 2)
          |  || '#frag' AS raw, url FROM frontier""".stripMargin)
      val enc = Encoders.tuple(Encoders.STRING, Encoders.STRING)
      messy.as(enc).mapPartitions { it =>
        it.map { case (raw, _) =>
          (raw, graft.url.UrlOps.canonicalize(raw))
        }
      }(enc).toDF("raw", "canonical")
    },
    Some(cte("frontier") +
      """SELECT 'HTTP://' || UPPER(host) || ':80/./' || SUBSTR(path, 2)
        |  || '#frag' AS raw, url AS canonical FROM frontier""".stripMargin))

  /** Full robots.txt matching (q47): per-agent groups, Allow longest-match
    * precedence, `*`/`$` wildcards, agent selection by longest UA prefix —
    * the temoto/robotstxt semantics behind middleware/robotstxt.go:63
    * (`TestAgent(path, UserAgent)`), which q08's prefix face under-models.
    * Self-proving oracle (the q46 pattern): each host's robots BODY is
    * assembled from a fixed template; the Spark side runs the REAL parser +
    * matcher (RobotsRules) for two agents — the default UA (selects the
    * `*` group) and "googlebot-images" (selects the `googlebot` group via
    * longest-prefix agent match) — while the oracle predicts both decisions
    * arithmetically from the path:
    *   *-group: `Allow: /p/1$` beats `Disallow: /p/1` only on the exact
    *   path; `Allow: /p/3*7` (wildcard, longer) beats `Disallow: /p/3`;
    *   even-numbered hosts add `Disallow: /p/5`.
    *   googlebot-group: only `Disallow: /p/2`.
    * Scale: rules parse once per distinct host body (per-partition memo);
    * the gate itself is the broadcast-join + UDF shape CrawlJob uses.
    */
  val qRobotsFull = Q(
    "q47_robots_full",
    (s, dir) => {
      import org.apache.spark.sql.Encoders
      val f = v(s, dir)("frontier")
        .select(col("url"), col("host"), col("path"), col("rank"))
      val hostnum = expr("CAST(SUBSTRING(path, 4) AS BIGINT) % 97")
      val body = concat(
        lit("User-agent: googlebot\nDisallow: /p/2\n\n" +
          "User-agent: *\nAllow: /p/1$\nDisallow: /p/1\n" +
          "Allow: /p/3*7\nDisallow: /p/3"),
        when(hostnum % 2 === 0, lit("\nDisallow: /p/5")).otherwise(lit("")))
      val enc = Encoders.tuple(Encoders.scalaLong, Encoders.STRING,
        Encoders.STRING, Encoders.STRING)
      val outEnc = Encoders.tuple(Encoders.scalaLong, Encoders.STRING,
        Encoders.scalaBoolean, Encoders.scalaBoolean)
      f.withColumn("robots_body", body)
        .select(col("rank"), col("path"), col("url"), col("robots_body"))
        .as(enc)
        .mapPartitions { it =>
          val memo = scala.collection.mutable.HashMap
            .empty[(String, String), Seq[graft.pipeline.RobotsRules.Rule]]
          def rules(b: String, ua: String) =
            memo.getOrElseUpdate((b, ua), graft.pipeline.RobotsRules.parse(b, ua))
          it.map { case (rank, path, url, b) =>
            (rank, url,
              graft.pipeline.RobotsRules.allowed(path,
                rules(b, CrawlSpec.DefaultUserAgent)),
              graft.pipeline.RobotsRules.allowed(path,
                rules(b, "googlebot-images")))
          }
        }(outEnc)
        .toDF("rank", "url", "allowed_star", "allowed_googlebot")
    },
    Some(cte("frontier") +
      """SELECT rank, url,
        |  NOT ( (path LIKE '/p/1%' AND path <> '/p/1')
        |     OR (path LIKE '/p/3%' AND NOT (path LIKE '/p/3%7%'))
        |     OR (CAST(SUBSTRING(path, 4) AS BIGINT) % 97 % 2 = 0
        |         AND path LIKE '/p/5%') ) AS allowed_star,
        |  NOT (path LIKE '/p/2%') AS allowed_googlebot
        |FROM frontier""".stripMargin))

  /** WARC envelope parsing (q48): Common-Crawl's container format (ISO
    * 28500) — the `warc_ts` column of the input_hint is the WARC-Date of
    * exactly these records. Self-proving oracle (q46/q47 pattern): each
    * page is wrapped into a TWO-record WARC buffer (response + metadata)
    * by portable SQL; the Spark side runs the REAL byte-oriented parser
    * (graft.warc.Warc — version line, case-insensitive CRLF headers,
    * Content-Length-bounded payload, record-boundary scanning) and the
    * oracle predicts every parsed field arithmetically. Content-Length is
    * counted in UTF-8 BYTES on both sides (Spark OCTET_LENGTH / DuckDB
    * STRLEN) — Warc.parse bounds the payload in bytes, so a character
    * count would truncate non-ASCII text. Scale: one narrow projection +
    * per-partition streaming parse, no shuffle.
    */
  val qWarcParse = Q(
    "q48_warc_parse",
    (s, dir) => {
      import org.apache.spark.sql.Encoders
      CorpusViews.register(s, dir)
      val crlf = "chr(13) || chr(10)"
      val buf = s.sql(
        s"""SELECT url, CAST(
           |  'WARC/1.0' || $crlf ||
           |  'WARC-Type: response' || $crlf ||
           |  'WARC-Target-URI: ' || url || $crlf ||
           |  'WARC-Date: 1997-01-01T00:00:00Z' || $crlf ||
           |  'Content-Length: ' || CAST(OCTET_LENGTH(text) AS STRING) || $crlf ||
           |  $crlf || text || $crlf || $crlf ||
           |  'WARC/1.0' || $crlf ||
           |  'WARC-Type: metadata' || $crlf ||
           |  'WARC-Target-URI: ' || url || $crlf ||
           |  'WARC-Date: 1997-01-01T00:00:00Z' || $crlf ||
           |  'Content-Length: 11' || $crlf ||
           |  $crlf || 'via:crawler' || $crlf || $crlf
           |  AS BINARY) AS warc
           |FROM pages""".stripMargin)
      val enc = Encoders.tuple(Encoders.STRING, Encoders.BINARY)
      val outEnc = Encoders.product[WarcRow]
      buf.as(enc).mapPartitions { it =>
        it.flatMap { case (url, bytes) =>
          graft.warc.Warc.parse(bytes).zipWithIndex.map { case (r, i) =>
            WarcRow(url, i, r.warcType, r.targetUri, r.contentLength,
              new String(r.payload, java.nio.charset.StandardCharsets.UTF_8))
          }
        }
      }(outEnc).toDF()
    },
    Some(cte("pages") +
      """SELECT url, CAST(0 AS INT) AS rec_idx, 'response' AS warc_type,
        |  url AS target_uri, CAST(STRLEN(text) AS BIGINT) AS content_len,
        |  text AS payload_text
        |FROM pages
        |UNION ALL
        |SELECT url, CAST(1 AS INT), 'metadata', url, CAST(11 AS BIGINT),
        |  'via:crawler'
        |FROM pages""".stripMargin))

  /** WARC envelope WRITING (q56): the output side of q48 — what a 100 TB
    * crawl actually emits. The Spark side runs the REAL byte-oriented writer
    * (graft.warc.Warc.write: version line, fixed-order ASCII headers,
    * byte-counted Content-Length, CRLF CRLF separator) and proves the
    * round-trip in-row (parse(write(r)) == r); the oracle reconstructs the
    * identical envelope with portable string concat and both engines md5 the
    * bytes — a byte-level equality check on every record without shipping
    * the payloads through the compare. Content-Length / warc_len are UTF-8
    * BYTES both sides (writer uses payload.length; DuckDB STRLEN). Scale:
    * narrow projection + per-partition map, no shuffle — the same shape a
    * partitioned WARC sink runs at 10^10 records.
    */
  val qWarcWrite = Q(
    "q56_warc_write",
    (s, dir) => {
      import org.apache.spark.sql.Encoders
      CorpusViews.register(s, dir)
      val pages = s.sql("SELECT url, text FROM pages")
      val enc = Encoders.tuple(Encoders.STRING, Encoders.STRING)
      val outEnc = Encoders.tuple(
        Encoders.STRING, Encoders.BINARY, Encoders.scalaBoolean)
      pages.as(enc).mapPartitions { it =>
        it.map { case (url, text) =>
          val payload = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val bytes =
            graft.warc.Warc.write("response", url, "1997-01-01T00:00:00Z", payload)
          val back = graft.warc.Warc.parse(bytes)
          val ok = back.length == 1 && back.head.warcType == "response" &&
            back.head.targetUri == url &&
            back.head.contentLength == payload.length &&
            java.util.Arrays.equals(back.head.payload, payload)
          (url, bytes, ok)
        }
      }(outEnc).toDF("url", "warc", "roundtrip_ok")
        .select(
          col("url"),
          octet_length(col("warc")).cast("long").as("warc_len"),
          md5(col("warc")).as("warc_md5"),
          col("roundtrip_ok"))
    },
    Some(cte("pages") +
      """SELECT url,
        |  CAST(STRLEN(envelope) AS BIGINT) AS warc_len,
        |  md5(envelope) AS warc_md5,
        |  TRUE AS roundtrip_ok
        |FROM (
        |  SELECT url,
        |    'WARC/1.0' || chr(13) || chr(10) ||
        |    'WARC-Type: response' || chr(13) || chr(10) ||
        |    'WARC-Target-URI: ' || url || chr(13) || chr(10) ||
        |    'WARC-Date: 1997-01-01T00:00:00Z' || chr(13) || chr(10) ||
        |    'Content-Length: ' || CAST(STRLEN(text) AS VARCHAR) ||
        |      chr(13) || chr(10) || chr(13) || chr(10) ||
        |    text || chr(13) || chr(10) || chr(13) || chr(10) AS envelope
        |  FROM pages)""".stripMargin))

  /** Priority frontier (q54): the north star's "partitioned priority
    * frontier" face — frontier urls scored by link IN-DEGREE (how many
    * corpus pages point at them), then the politeness window grants the
    * per-host top-2 by (score desc, rank asc). Scale: the in-degree is one
    * map-side-combined aggregate over the links edge table; the grant is
    * the same two-phase-saltable host window as q07; all outputs are
    * exact ints (hash-stable).
    */
  val qPriorityIndegree = Q(
    "q54_priority_indegree",
    (s, dir) => {
      val indeg = v(s, dir)("links")
        .groupBy(col("dst_url").as("url"))
        .agg(count(lit(1)).as("score"))
      val w = Window.partitionBy(col("host"))
        .orderBy(col("score").desc, col("rank").asc)
      v(s, dir)("frontier")
        .join(indeg, Seq("url"), "left")
        .withColumn("score", coalesce(col("score"), lit(0L)))
        .withColumn("token", row_number().over(w))
        .filter(col("token") <= 2)
        .select(col("url"), col("host"), col("score"),
          col("token"))
    },
    Some(cte("frontier", "links") +
      """SELECT url, host, score, token FROM (
        |  SELECT f.url AS url, f.host AS host,
        |    COALESCE(i.score, 0) AS score,
        |    ROW_NUMBER() OVER (PARTITION BY f.host
        |      ORDER BY COALESCE(i.score, 0) DESC, f.rank ASC) AS token
        |  FROM frontier f LEFT JOIN (
        |    SELECT dst_url AS url, COUNT(*) AS score FROM links GROUP BY dst_url
        |  ) i ON i.url = f.url) t
        |WHERE token <= 2""".stripMargin))

  /** Codegen decode face (q55): the same charset-decode + IsHTML semantics
    * as the crawl pipeline (client/client.go:140-154, response.go:37-45),
    * but as NATIVE Catalyst expressions (`graft.functions.DecodeBody` /
    * `IsHtmlCt` with doGenCode) applied over the corpus — the whole plan
    * is one WholeStageCodegen span over the parquet scan, no UDF
    * row-conversion breaks (plan pinned by DecodeExpressionsSpec). The
    * oracle recovers the decoded string with DuckDB's blob DECODE and the
    * IsHTML predicate arithmetically. Scale: pure per-row map, no shuffle.
    */
  val qDecodeCodegen = Q(
    "q55_decode_codegen",
    (s, dir) => {
      import graft.functions.DecodeExpressions.{decode_body, is_html}
      v(s, dir)("pages").select(col("url"),
        decode_body(col("html"), col("content_type")).as("decoded"),
        is_html(col("content_type")).as("is_html"))
    },
    Some(cte("pages") +
      """SELECT url, DECODE(html) AS decoded,
        |  contains(content_type, 'text/html') AS is_html
        |FROM pages""".stripMargin))

  /** Chrome rendering action programs (q57): the corpus-mode chromedp
    * analog (pipeline/Actions.scala, client/client.go:171-247). Four
    * programs per page exercise the reference's THREE extension semantics:
    * appended Request.Actions run AFTER the default OuterHTML capture so
    * their DOM effects are invisible in the body (client.go:219-221); a
    * replacing PreActions list owns capture — capturing after scroll+click
    * sees the mutated DOM; never capturing delivers an empty body; never
    * navigating leaves the document response unset (status_set=false, the
    * res==nil → StatusCode 0 branch, client.go:227-239). The Spark side
    * runs the REAL interpreter per row (pure map, no shuffle); the oracle
    * reconstructs every body arithmetically (lazy/click blocks are pure
    * functions of url). Scale: one narrow projection + per-row pure
    * function — embarrassingly parallel.
    */
  val qPreActions = Q(
    "q57_pre_actions",
    (s, dir) => {
      import org.apache.spark.sql.Encoders
      import graft.pipeline.Actions
      val p = v(s, dir)("pages").select(col("url"), col("text"))
      val progs: Seq[(String, Seq[Actions.Action])] = Seq(
        "defaults_appended" ->
          (Actions.defaults ++
            Seq(Actions.ScrollToBottom(2), Actions.Click("#more"))),
        "override_scroll" ->
          Seq(Actions.Navigate, Actions.ScrollToBottom(2),
            Actions.Click("#more"), Actions.CaptureOuterHTML),
        "override_nocapture" ->
          Seq(Actions.Navigate, Actions.Sleep(5), Actions.ScrollToBottom(1)),
        "override_nonav" ->
          Seq(Actions.ScrollToBottom(1), Actions.CaptureOuterHTML))
      val enc = Encoders.tuple(Encoders.STRING, Encoders.STRING)
      val outEnc = Encoders.tuple(Encoders.STRING, Encoders.STRING,
        Encoders.scalaBoolean, Encoders.STRING)
      p.as(enc).mapPartitions { it =>
        it.flatMap { case (url, text) =>
          progs.map { case (pname, prog) =>
            val r = Actions.render(url, text, prog)
            (url, pname, r.statusSet, r.body)
          }
        }
      }(outEnc).toDF("url", "program", "status_set", "body")
        .select(col("url"), col("program"), col("status_set"),
          md5(encode(col("body"), "UTF-8")).as("body_md5"),
          octet_length(col("body")).cast("bigint").as("body_len"))
    },
    Some(cte("pages") +
      """SELECT url, program, status_set, md5(body) AS body_md5,
        |  CAST(STRLEN(body) AS BIGINT) AS body_len
        |FROM (
        |  SELECT url, 'defaults_appended' AS program, TRUE AS status_set,
        |    text AS body
        |  FROM pages
        |  UNION ALL
        |  SELECT url, 'override_scroll', TRUE,
        |    text
        |      || '<div class="lazy"><a href="' || url || '?scroll=1">more</a></div>'
        |      || '<div class="lazy"><a href="' || url || '?scroll=2">more</a></div>'
        |      || '<div id="revealed"><a href="' || url || '?clicked=1">detail</a></div>'
        |  FROM pages
        |  UNION ALL
        |  SELECT url, 'override_nocapture', TRUE, '' FROM pages
        |  UNION ALL
        |  SELECT url, 'override_nonav', FALSE, '' FROM pages
        |) t""".stripMargin))

  /** robots.txt `Sitemap:` autodiscovery (q62): the reference's robots
    * library exposes every `Sitemap:` line FILE-WIDE (`Sitemaps []string`,
    * independent of agent groups) — the standard web-scale frontier
    * bootstrap (robots → sitemap URLs → urlset fetch → seeds; the parse
    * side of that fetch is q59). Self-proving oracle (q46/q47 pattern):
    * each host's robots BODY is assembled from a fixed template exercising
    * odd key casing (`SITEMAP:`/`sitemap:`), group independence (pointers
    * interleaved with User-agent groups), an empty value (dropped), a
    * trailing comment (stripped), and a cross-host absolute URL; the Spark
    * side runs the REAL extractor (RobotsRules.sitemaps) and the oracle
    * predicts every (position, url) arithmetically. Scale: one row per
    * HOST (bounded like the rules cache), pure per-partition map +
    * posexplode — no shuffle.
    */
  val qRobotsSitemaps = Q(
    "q62_robots_sitemaps",
    (s, dir) => {
      import org.apache.spark.sql.Encoders
      val r = v(s, dir)("robots").select(col("host"))
      val hostnum = expr("CAST(SUBSTRING(host, 2, LENGTH(host)-13) AS BIGINT)")
      val body = concat(
        lit("# autodiscovery fixture\nUser-agent: *\nDisallow: /private\n"),
        lit("SITEMAP: http://"), col("host"), lit("/sitemap.xml\n"),
        when(hostnum % 3 === 0,
          concat(lit("sitemap: http://"), col("host"),
            lit("/sitemap-news.xml\n"))).otherwise(lit("")),
        lit("Sitemap:\n"),
        lit("User-agent: newsbot\nDisallow: /p/9\n"),
        lit("Sitemap: http://cdn.example.org/shared/"),
        hostnum.cast("string"), lit(".xml # mirror\n"))
      val enc = Encoders.tuple(Encoders.STRING, Encoders.STRING)
      val outEnc = Encoders.tuple(Encoders.STRING,
        Encoders.scalaInt, Encoders.STRING)
      r.withColumn("robots_body", body)
        .select(col("host"), col("robots_body")).as(enc)
        .mapPartitions { it =>
          it.flatMap { case (host, b) =>
            graft.pipeline.RobotsRules.sitemaps(b).zipWithIndex.map {
              case (u, i) => (host, i, u)
            }
          }
        }(outEnc).toDF("host", "pos", "sitemap_url")
    },
    Some(cte("robots") +
      """SELECT host, CAST(pos AS INT) AS pos, sitemap_url FROM (
        |  SELECT host, 0 AS pos,
        |    'http://' || host || '/sitemap.xml' AS sitemap_url
        |  FROM robots
        |  UNION ALL
        |  SELECT host, 1, 'http://' || host || '/sitemap-news.xml'
        |  FROM robots
        |  WHERE CAST(SUBSTRING(host, 2, LENGTH(host)-13) AS BIGINT) % 3 = 0
        |  UNION ALL
        |  SELECT host,
        |    CASE WHEN CAST(SUBSTRING(host, 2, LENGTH(host)-13) AS BIGINT) % 3 = 0
        |         THEN 2 ELSE 1 END,
        |    'http://cdn.example.org/shared/'
        |      || CAST(CAST(SUBSTRING(host, 2, LENGTH(host)-13) AS BIGINT) AS STRING)
        |      || '.xml'
        |  FROM robots
        |) t""".stripMargin))

  /** Main-content extraction (q72): boilerplate removal by link density
    * (`graft.html.Boilerplate` — the boilerpipe/jusText signal, WSDM 2010),
    * the generic sibling of q39's selector extraction: no knowledge of the
    * page's structure, works on arbitrary pages. The fixture wraps each
    * page's text in a realistic shell — nav bar (link density ~0.87),
    * content paragraph (0.0), a mixed prose block with ONE inline link
    * (~0.12 — must be KEPT, so the heuristic is provably not "has a link ⇒
    * boilerplate"), footer (~0.92) — via the same SQL text on both engines.
    * The oracle derives what correct extraction must produce: the content
    * paragraph plus the mixed block, '\n'-joined. Scale: pure per-row
    * parse+classify map, no shuffle — runs inside the existing parse stage.
    */
  private val MainContentFixtureHtml =
    """'<html><head><title>p</title></head><body>' ||
      |'<div class="nav"><a href="/">home</a> <a href="/about">about</a> <a href="/p/' || CAST(page_key AS STRING) || '">more</a></div>' ||
      |'<p>' || text || '</p>' ||
      |'<div>read more from <a href="/p/' || CAST((page_key + 1) % 97 AS STRING) || '">here</a> after the jump</div>' ||
      |'<div class="footer"><a href="/terms">terms</a> <a href="/privacy">privacy</a></div>' ||
      |'</body></html>'""".stripMargin

  val qMainContent = Q(
    "q72_main_content",
    (s, dir) => {
      import org.apache.spark.sql.Encoders
      CorpusViews.register(s, dir)
      val fixture = s.sql(
        s"SELECT page_key, url, $MainContentFixtureHtml AS bhtml FROM pages")
      val enc = Encoders.tuple(
        Encoders.scalaLong, Encoders.STRING, Encoders.STRING)
      val outEnc = Encoders.tuple(
        Encoders.scalaLong, Encoders.STRING, Encoders.scalaInt,
        Encoders.scalaInt, Encoders.STRING)
      fixture.as(enc).mapPartitions { it =>
        it.map { case (key, url, bhtml) =>
          val bs = graft.html.Boilerplate.blocks(bhtml)
          val kept = bs.count(b =>
            b.text.trim.nonEmpty && b.linkDensity <= 0.5)
          (key, url, bs.length, kept,
            graft.html.Boilerplate.mainContent(bhtml))
        }
      }(outEnc).toDF("page_key", "url", "n_blocks", "n_kept", "main")
        .select(col("page_key"), col("url"), col("n_blocks"), col("n_kept"),
          md5(encode(col("main"), "UTF-8")).as("main_md5"))
    },
    Some(cte("pages") +
      """SELECT page_key, url, CAST(4 AS INT) AS n_blocks,
        |  CAST(2 AS INT) AS n_kept,
        |  md5(text || chr(10) || 'read more from here after the jump')
        |    AS main_md5
        |FROM pages""".stripMargin))

  /** Recrawl / revisit scheduling (q74): the refresh-policy operator a
    * continuous crawl runs between waves (Cho & Garcia-Molina, "Effective
    * Page Refresh Policies for Web Crawlers", TODS 2003): estimate each
    * page's change rate from its fetch HISTORY (consecutive content-digest
    * comparisons), then order the frontier by rate × staleness. The fixture
    * synthesizes an 8-fetch digest history per page (per-page deterministic
    * change pattern, rates 1..9 of 10); the OPERATOR lag-compares digests
    * per url — it never sees the generating arithmetic — and emits
    * all-integer outputs: observed change count, change rate in millis per
    * interval, and the revisit score (rate × age-days) a scheduler sorts
    * by. The oracle replays the identical lag-compare in DuckDB SQL.
    * Scale: ONE shuffle keyed on url with a bounded per-url history window
    * + map-side-combined aggregate — the incremental recrawl-scheduler
    * shape at 10^10 urls; no driver state, no cross-url comparison.
    */
  val qRevisitSchedule = Q(
    "q74_revisit_schedule",
    (s, dir) => {
      val hist = v(s, dir)("pages")
        .select(col("page_key"), col("url"),
          explode(expr("sequence(0, 7)")).as("i"))
        .withColumn("chg",
          when(col("i") > 0 &&
            (col("page_key") * 31 + col("i") * 7) % 10 <
              col("page_key") % 9 + 1, 1).otherwise(0))
        .withColumn("digest",
          // cumulative-change window partitions on URL (1:1 with page_key
          // here) so the lag window below reuses the SAME hash partitioning
          // — the whole operator runs on ONE url-keyed Exchange
          md5(concat(col("page_key").cast("string"), lit(":"),
            sum(col("chg")).over(Window.partitionBy(col("url"))
              .orderBy(col("i"))).cast("string"))))
      val rateM = (col("n_changes") * 1000).cast("long") / lit(7)
      hist
        .withColumn("prev", lag(col("digest"), 1).over(
          Window.partitionBy(col("url")).orderBy(col("i"))))
        .groupBy(col("url"))
        .agg(min(col("page_key")).as("page_key"),
          count(lit(1)).cast("int").as("n_fetches"),
          sum(when(col("prev").isNotNull && col("prev") =!= col("digest"), 1)
            .otherwise(0)).cast("int").as("n_changes"))
        .select(col("url"), col("n_fetches"), col("n_changes"),
          floor(rateM).cast("long").as("change_rate_milli"),
          (floor(rateM).cast("long") * (col("page_key") % 30 + 1))
            .cast("long").as("revisit_score"))
    },
    Some(cte("pages") +
      """, hist AS (
        |  SELECT page_key, url, unnest(range(0, 8)) AS i FROM pages
        |), flags AS (
        |  SELECT page_key, url, i,
        |    CASE WHEN i > 0 AND (page_key * 31 + i * 7) % 10 < page_key % 9 + 1
        |         THEN 1 ELSE 0 END AS chg
        |  FROM hist
        |), cum AS (
        |  SELECT page_key, url, i,
        |    md5(CAST(page_key AS STRING) || ':' ||
        |        CAST(SUM(chg) OVER (PARTITION BY url ORDER BY i) AS STRING))
        |      AS digest
        |  FROM flags
        |), lagd AS (
        |  SELECT page_key, url, i, digest,
        |    LAG(digest) OVER (PARTITION BY url ORDER BY i) AS prev
        |  FROM cum
        |), agg AS (
        |  SELECT url, MIN(page_key) AS page_key,
        |    CAST(COUNT(*) AS INT) AS n_fetches,
        |    CAST(SUM(CASE WHEN prev IS NOT NULL AND prev <> digest
        |                  THEN 1 ELSE 0 END) AS INT) AS n_changes
        |  FROM lagd GROUP BY url
        |)
        |SELECT url, n_fetches, n_changes,
        |  CAST(FLOOR(n_changes * 1000 / 7) AS BIGINT) AS change_rate_milli,
        |  CAST(CAST(FLOOR(n_changes * 1000 / 7) AS BIGINT)
        |       * (page_key % 30 + 1) AS BIGINT) AS revisit_score
        |FROM agg""".stripMargin))

  /** Crawl-trap detection (q76): the frontier-hygiene operator every
    * web-scale crawl needs and no single-site framework ships — detect
    * URL-TEMPLATE explosion (calendar pages, session ids, faceted search)
    * by collapsing each path's digit runs to a template and counting
    * distinct urls per (host, template). Templates past the budget are
    * traps: the scheduler demotes/caps them instead of crawling an
    * unbounded synthetic space. Fixture: four path families per host —
    * unbounded '/article/N', a calendar '/cal/N/N/N' (the canonical trap),
    * bounded '/tag/N', singleton '/about' — so the budget (64) separates
    * genuinely exploding templates from bounded ones at the sf0.01 gate.
    * Scale: template is a codegen'd per-row regexp; the count is ONE
    * map-side-combined aggregate on (host, template); the resulting trap
    * table is tiny and broadcast-joins back onto the frontier as a gate.
    */
  private val TrapUrlsFixtureSql =
    """SELECT 'h' || CAST(l_orderkey % 97 AS STRING) || '.example.com' AS host,
      |  CASE WHEN l_linenumber % 4 = 1 THEN '/article/' || CAST(l_orderkey AS STRING)
      |       WHEN l_linenumber % 4 = 2 THEN '/cal/2024/' || CAST(l_partkey % 12 + 1 AS STRING) || '/' || CAST(l_suppkey % 28 + 1 AS STRING)
      |       WHEN l_linenumber % 4 = 3 THEN '/about'
      |       ELSE '/tag/' || CAST(l_partkey % 50 AS STRING) END AS path
      |FROM lineitem""".stripMargin

  val qTrapDetect = Q(
    "q76_trap_detect",
    (s, dir) => {
      CorpusViews.register(s, dir)
      s.sql(TrapUrlsFixtureSql)
        .withColumn("template", regexp_replace(col("path"), "[0-9]+", "N"))
        .groupBy(col("host"), col("template"))
        .agg(countDistinct(col("path")).as("n_urls"))
        .select(col("host"), col("template"), col("n_urls"),
          (col("n_urls") > 64).as("is_trap"))
    },
    Some(s"WITH trap_urls AS (\n$TrapUrlsFixtureSql\n)," +
      """ t AS (
        |  SELECT host, regexp_replace(path, '[0-9]+', 'N', 'g') AS template,
        |         path
        |  FROM trap_urls
        |)
        |SELECT host, template, COUNT(DISTINCT path) AS n_urls,
        |  COUNT(DISTINCT path) > 64 AS is_trap
        |FROM t GROUP BY host, template""".stripMargin))

  /** Adaptive per-host crawl rate — AIMD (q77): the congestion controller a
    * polite web-scale crawler runs on top of its static politeness window
    * (the TCP recipe, and how production crawlers adapt to server health):
    * each wave, a host that signals overload (slow/erroring responses)
    * HALVES its grant cap (multiplicative decrease, floor 1); a healthy
    * host adds 2 (additive increase, ceiling 64). The fixture derives a
    * deterministic per-host overload signal from the corpus's latency
    * aggregate; six controller waves run as an iterative column fold — the
    * exact engine shape (per-wave state recurrence over a bounded per-HOST
    * table). The oracle unrolls the identical integer recurrence as chained
    * CTEs (the q58 recipe); every operation is integer min/max/halving, so
    * the engines agree bit-for-bit. Scale: state is ONE row per host —
    * bounded, broadcastable back onto the frontier; the per-wave update is
    * a pure projection, no shuffle after the one latency aggregate.
    */
  /** Per-wave overload-signal phase offsets (non-progressive, so different
    * hosts see different overload counts AND different hit waves — an
    * arithmetic progression would give every host the same hit count).
    */
  private val AimdWaveOffsets = Seq(0, 3, 4, 9, 1, 7)

  val qAimdRate = Q(
    "q77_aimd_rate",
    (s, dir) => {
      val sig = v(s, dir)("pages")
        .groupBy(col("host"))
        .agg(floor(sum(col("latency_ms")) / 1000).cast("long").as("lat"))
      var st = sig
        .withColumn("cap", lit(8L))
        .withColumn("n_over", lit(0L))
      for (off <- AimdWaveOffsets) {
        val over = (col("lat") + off) % 10 < 3
        st = st
          .withColumn("n_over",
            col("n_over") + when(over, 1L).otherwise(0L))
          .withColumn("cap",
            when(over, greatest(lit(1L), floor(col("cap") / 2).cast("long")))
              .otherwise(least(lit(64L), col("cap") + 2)))
      }
      st.select(col("host"), col("lat"), col("cap").as("final_cap"),
        col("n_over"))
    },
    Some(cte("pages") + {
      val steps = AimdWaveOffsets.zipWithIndex.map { case (off, w) =>
        s"""r${w + 1} AS (
           |  SELECT host, lat,
           |    CASE WHEN (lat + $off) % 10 < 3
           |         THEN CASE WHEN cap / 2 < 1 THEN 1 ELSE cap // 2 END
           |         ELSE CASE WHEN cap + 2 > 64 THEN 64 ELSE cap + 2 END
           |    END AS cap,
           |    n_over + CASE WHEN (lat + $off) % 10 < 3 THEN 1 ELSE 0 END
           |      AS n_over
           |  FROM r$w
           |)""".stripMargin
      }.mkString(",\n")
      s""", r0 AS (
         |  SELECT host,
         |    CAST(FLOOR(SUM(latency_ms) / 1000) AS BIGINT) AS lat,
         |    CAST(8 AS BIGINT) AS cap, CAST(0 AS BIGINT) AS n_over
         |  FROM pages GROUP BY host
         |),
         |$steps
         |SELECT host, lat, cap AS final_cap, n_over FROM r6""".stripMargin
    }))

  /** CDX capture index (q78): the lookup artifact every WARC corpus ships
    * next to its members (Common Crawl's cc-index; the pywb/OpenWayback CDX
    * format) — one row per capture keyed by the SURT (Sort-friendly URI
    * Reordering Transform: host labels reversed and comma-joined, then
    * `)` + path) so all of a registrable domain's captures sort adjacent,
    * with timestamp, content digest, and record length for dedup/lookup.
    * Spark side is pure codegen'd column ops (split/reverse/array_join,
    * md5, octet_length) plus a per-HOST `row_number` — the shard-local
    * sequence a ZipNum-style block index assigns; partitioning by host
    * (= SURT prefix) is exactly how the real index shards, so no global
    * sort is ever needed. Scale: one narrow projection + one bounded
    * window keyed like the politeness window; digest/length are byte
    * counts (OCTET_LENGTH / DuckDB STRLEN).
    */
  val qCdxIndex = Q(
    "q78_cdx_index",
    (s, dir) => {
      val p = v(s, dir)("pages")
      p.select(col("url"), col("host"), col("path"), col("text"),
          col("warc_ts"))
        .withColumn("surt", concat(
          array_join(reverse(split(col("host"), "\\.")), ","),
          lit(")"), col("path")))
        .withColumn("ts",
          regexp_replace(col("warc_ts").cast("string"), "-", ""))
        .withColumn("digest", md5(col("text")))
        .withColumn("rec_len", octet_length(col("text")).cast("long"))
        .withColumn("shard_seq", row_number().over(
          Window.partitionBy(col("host")).orderBy(col("surt"))))
        .select(col("surt"), col("ts"), col("url"), col("digest"),
          col("rec_len"), col("shard_seq"))
    },
    Some(cte("pages") +
      """SELECT surt, ts, url, digest, rec_len,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY host ORDER BY surt) AS INT)
        |    AS shard_seq
        |FROM (
        |  SELECT host,
        |    array_to_string(list_reverse(string_split(host, '.')), ',')
        |      || ')' || path AS surt,
        |    REPLACE(CAST(warc_ts AS VARCHAR), '-', '') AS ts,
        |    url, md5(text) AS digest,
        |    CAST(STRLEN(text) AS BIGINT) AS rec_len
        |  FROM pages)""".stripMargin))

  /** Digest-deduplicated WARC output — revisit records (q79): how Common
    * Crawl actually writes a deduplicated corpus (WARC/1.1 §6.7): the FIRST
    * capture of each content digest writes a full `response` record; every
    * later capture of identical content writes a payload-free `revisit`
    * record whose WARC-Refers-To-Target-URI points at the original. The
    * corpus text fields collide across pages by construction (same
    * status/priority/total triple), so the operator sees real duplicate
    * content. Scale: ONE shuffle keyed on digest (row_number + first_value
    * share the window's Exchange); payload bytes written shrink from
    * sum(all captures) to sum(distinct digests) — the storage saver that
    * makes a 100 TB crawl's archive affordable.
    */
  val qWarcRevisit = Q(
    "q79_warc_revisit",
    (s, dir) => {
      val w = Window.partitionBy(col("digest")).orderBy(col("page_key"))
      v(s, dir)("pages")
        .select(col("url"), col("page_key"), col("text"))
        .withColumn("digest", md5(col("text")))
        .withColumn("rn", row_number().over(w))
        .withColumn("orig_url", first(col("url")).over(w))
        .select(col("url"), col("digest"),
          when(col("rn") === 1, lit("response")).otherwise(lit("revisit"))
            .as("warc_type"),
          when(col("rn") === 1, lit(null).cast("string"))
            .otherwise(col("orig_url")).as("refers_to"),
          when(col("rn") === 1, octet_length(col("text")).cast("long"))
            .otherwise(lit(0L)).as("payload_len"))
    },
    Some(cte("pages") +
      """SELECT url, digest,
        |  CASE WHEN rn = 1 THEN 'response' ELSE 'revisit' END AS warc_type,
        |  CASE WHEN rn = 1 THEN NULL ELSE orig_url END AS refers_to,
        |  CASE WHEN rn = 1 THEN CAST(STRLEN(text) AS BIGINT)
        |       ELSE CAST(0 AS BIGINT) END AS payload_len
        |FROM (
        |  SELECT url, text, md5(text) AS digest,
        |    ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY page_key)
        |      AS rn,
        |    FIRST_VALUE(url) OVER (PARTITION BY md5(text) ORDER BY page_key)
        |      AS orig_url
        |  FROM pages)""".stripMargin))

  val all: Seq[Q] = Seq(
    qFetchJoin, qSeenAntiJoin, qDedupFirstWins, qAllowedDomains,
    qRejectedAudit, qHeaderDefaults, qPolitenessTokens, qRobotsGate,
    qRobotsForbidden, qRetryRequeue, qRedirectResolve, qMetricsStatus,
    qMetricsMethod, qCacheFresh, qProxyRoundRobin, qCrawlBfs,
    qCacheDecision, qRandomDelay, qProxyHashAssign, qRenderedFetch,
    qFetchTimeout, qPostFetch, qHtmlExtract, qUrlCanonical, qRobotsFull,
    qWarcParse, qWarcWrite, qPriorityIndegree, qDecodeCodegen, qPreActions,
    qRobotsSitemaps, qMainContent, qRevisitSchedule, qTrapDetect, qAimdRate,
    qCdxIndex, qWarcRevisit)
}
