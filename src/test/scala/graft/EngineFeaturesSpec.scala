package graft

import java.time.Instant
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.fixtures.SiteFixtures
import graft.model.CrawlSpec
import graft.pipeline.CrawlJob
import graft.rfc2616.Freshness

/** Round-2 engine features: cookie jar, rendered fetch, custom middlewares,
  * RFC2616 cache wiring, randomized politeness delay, requests-per-second
  * cap, and the no-unpartitioned-window plan property of the default
  * (scale-mode) configuration.
  */
class EngineFeaturesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private lazy val pagesDf = SiteFixtures.pagesDf(spark).cache()

  private def recordSeq(r: CrawlJob.CrawlResult): Seq[String] =
    r.records.orderBy(col("wave"), col("rank"), col("seq"))
      .select("json").collect().map(_.getString(0)).toSeq

  private def auditKinds(r: CrawlJob.CrawlResult): Map[String, Long] =
    r.audit.groupBy("kind").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap

  // ---- cookie jar ---------------------------------------------------------

  test("cookie jar: Set-Cookie from wave N is carried on wave N+1 requests") {
    val spec = CrawlSpec(startUrls = Seq("http://cookie.example.com/login"),
      parserId = "cookie_echo", maxWaves = 5)
    val res = CrawlJob.run(spark, spec, pagesDf)
    val recs = recordSeq(res)
    assert(recs.size == 2)
    assert(recs.head ==
      """{"cookie":"","url":"http://cookie.example.com/login"}""")
    assert(recs(1) ==
      """{"cookie":"session=tok42","url":"http://cookie.example.com/private"}""")
  }

  test("RFC 6265: Path scoping, Max-Age expiry at the wave clock, " +
      "Max-Age=0 eviction") {
    val spec = CrawlSpec(startUrls = Seq("http://ck.example.com/start"),
      parserId = "cookie_echo", hostTokensPerWave = 10, maxWaves = 8)
    val res = CrawlJob.run(spark, spec, pagesDf)
    val byUrl = recordSeq(res).map { r =>
      val url = r.split("\"url\":\"")(1).stripSuffix("\"}")
      val ck = r.split("\"cookie\":\"")(1).split("\"")(0)
      url -> ck
    }.toMap
    assert(byUrl("http://ck.example.com/start") == "")
    // Path=/private scopes the cookie: /private/* carries it, /public never
    assert(byUrl("http://ck.example.com/private/a") == "scoped=s1")
    assert(byUrl("http://ck.example.com/public/b") == "")
    // short=v (Max-Age=1, received on the /private/a wave) is expired one
    // wave-second later; scoped survives until its Max-Age=0 eviction
    assert(byUrl("http://ck.example.com/private/c") == "scoped=s1")
    assert(byUrl("http://ck.example.com/private/d") == "")
  }

  test("RFC 6265 Domain: subdomain + apex match, host-only stays local") {
    val spec = CrawlSpec(startUrls = Seq("http://a.dom2.example.com/start"),
      parserId = "cookie_echo", hostTokensPerWave = 10, maxWaves = 8)
    val res = CrawlJob.run(spark, spec, pagesDf)
    val byUrl = recordSeq(res).map { r =>
      val url = r.split("\"url\":\"")(1).stripSuffix("\"}")
      val ck = r.split("\"cookie\":\"")(1).split("\"")(0)
      url -> ck
    }.toMap
    assert(byUrl("http://a.dom2.example.com/start") == "")
    // the Domain cookie reaches the sibling subdomain AND the apex
    assert(byUrl("http://b.dom2.example.com/x") == "site=s")
    assert(byUrl("http://dom2.example.com/z") == "site=s")
    // host-only local=v stays on b.dom2; same path length → Go-jar order
    // falls to creation asc: site (earlier wave) before local
    assert(byUrl("http://b.dom2.example.com/y") == "site=s; local=v")
  }

  test("single-label Domain cookie (TLD-wide, no-PSL parity) reaches " +
      "sibling hosts via the flag-gated slice") {
    // The reference's jar is cookiejar.New(nil) — no public-suffix list —
    // so a server on a.com may set `Domain=com` and EVERY *.com host
    // carries it. Such a domain has no two-label shard key, so it rides
    // the bounded single-row slice that only exists while the jar holds
    // one (jarHasTldCk flag).
    import graft.fixtures.SiteFixtures.Page
    val t = java.sql.Timestamp.valueOf("2023-06-01 00:00:00")
    def pg(url: String, body: String, ck: String = null) = {
      val html = s"<html><body>$body</body></html>"
      Page(url, t, html.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        html, "en", 200, "text/html; charset=utf-8", null, setCookie = ck)
    }
    val corpus = SiteFixtures.pagesDf(spark, Seq(
      pg("http://a.com/start", "<a href=\"http://b.com/p\">b</a>",
        "tld=1; Domain=com"),
      pg("http://b.com/p", "<p>leaf</p>")))
    val spec = CrawlSpec(startUrls = Seq("http://a.com/start"),
      parserId = "cookie_echo", maxWaves = 4)
    val res = CrawlJob.run(spark, spec, corpus)
    val byUrl = recordSeq(res).map { r =>
      val url = r.split("\"url\":\"")(1).stripSuffix("\"}")
      val ck = r.split("\"cookie\":\"")(1).split("\"")(0)
      url -> ck
    }.toMap
    assert(byUrl("http://a.com/start") == "")
    assert(byUrl("http://b.com/p") == "tld=1")
  }

  test("cookiesDisabled: no cookie ever applied (geziyor_test.go:269-288)") {
    val spec = CrawlSpec(startUrls = Seq("http://cookie.example.com/login"),
      parserId = "cookie_echo", cookiesDisabled = true, maxWaves = 5)
    val recs = recordSeq(CrawlJob.run(spark, spec, pagesDf))
    assert(recs.size == 2)
    assert(recs.forall(_.contains("\"cookie\":\"\"")))
  }

  test("cookie jar survives resume from checkpoint") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ck").toString
    val spec = CrawlSpec(startUrls = Seq("http://cookie.example.com/login"),
      parserId = "cookie_echo", maxWaves = 5)
    CrawlJob.run(spark, spec.copy(maxWaves = 1), pagesDf, stateDir = Some(dir))
    val resumed = CrawlJob.run(spark, spec, pagesDf, stateDir = Some(dir))
    val recs = recordSeq(resumed)
    assert(recs.exists(_.contains("\"cookie\":\"session=tok42\"")))
  }

  test("cookie jar REPLACES same-name cookies (net/http jar semantics)") {
    // /a sets session=a → /b replaces it with session=b → /c must carry
    // ONLY session=b (an accumulate-only jar would send both values)
    val spec = CrawlSpec(startUrls = Seq("http://rotate.example.com/a"),
      parserId = "cookie_echo", maxWaves = 5)
    val recs = recordSeq(CrawlJob.run(spark, spec, pagesDf))
    assert(recs.size == 3)
    assert(recs(1).contains("\"cookie\":\"session=a\""))
    assert(recs(2).contains("\"cookie\":\"session=b\""))
  }

  test("metrics server: live /metrics + /debug/vars scraped DURING a crawl") {
    // metrics/metrics.go:100-115 — Prometheus at /metrics, ExpVar at
    // /debug/vars, served from the LIVE counters. A response middleware
    // scrapes the localhost endpoint while waves are still running.
    val scrapes = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    def get(u: String): String = {
      val conn = new java.net.URL(u).openConnection()
      val is = conn.getInputStream
      try scala.io.Source.fromInputStream(is, "UTF-8").mkString
      finally is.close()
    }
    val port = 23112
    val mw: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => {
        scrapes += ((get(s"http://127.0.0.1:$port/metrics"),
          get(s"http://127.0.0.1:$port/debug/vars")))
        df
      }
    val spec = CrawlSpec(startUrls = Seq(SiteFixtures.QuotesBase),
      parserId = "quotes", maxWaves = 4,
      metricsType = "prometheus", metricsPort = port)
    CrawlJob.run(spark, spec, pagesDf, responseMiddlewares = Seq(mw))
    assert(scrapes.nonEmpty)
    // a scrape from a later wave sees wave-0's counters (1 seed crawled)
    assert(scrapes.exists(_._1.contains(
      """geziyorspark_crawled_total{wave="0"} 1""")))
    assert(scrapes.exists(_._1.contains("# TYPE geziyorspark_crawled_total counter")))
    assert(scrapes.exists(_._2.contains("\"crawled\":")))
    // server stops with the crawl
    assertThrows[java.io.IOException](get(s"http://127.0.0.1:$port/metrics"))
    // expvar mode serves /debug/vars only
    val spec2 = spec.copy(metricsType = "expvar", maxWaves = 2)
    val scr2 = scala.collection.mutable.ArrayBuffer.empty[String]
    val mw2: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => {
        scr2 += get(s"http://127.0.0.1:$port/debug/vars")
        assertThrows[java.io.IOException](get(s"http://127.0.0.1:$port/metrics"))
        df
      }
    CrawlJob.run(spark, spec2, pagesDf, responseMiddlewares = Seq(mw2))
    assert(scr2.exists(_.contains("\"crawled\":")))
  }

  test("redirect method rewrite: 302 POST→GET drops body, 307 preserves") {
    import spark.implicits._
    val echo = new graft.pipeline.Parser {
      val id = "redir_echo"
      def parse(url: String, html: String, isHtml: Boolean,
          meta: Map[String, String]): graft.pipeline.ParseOutput =
        graft.pipeline.ParseOutput(
          Seq(s"""{"u":"$url","b":"${meta.getOrElse("body", "")}"}"""), Nil)
    }
    val seeds = Seq(
      ("http://redirect.example.com/form302", "POST", "x=1"),
      ("http://redirect.example.com/form307", "POST", "x=1")
    ).toDF("url", "method", "body")
    val spec = CrawlSpec(startUrls = Nil, parserId = "redir_echo", maxWaves = 2)
    val res = CrawlJob.run(spark, spec, pagesDf,
      parsers = graft.pipeline.Parsers.registry + ("redir_echo" -> echo),
      seedsDf = Some(seeds))
    val recs = recordSeq(res)
    // 302: body dropped through the hop; 307: body preserved
    assert(recs.contains("""{"u":"http://redirect.example.com/submitted302","b":""}"""))
    assert(recs.contains("""{"u":"http://redirect.example.com/submitted307","b":"x=1"}"""))
    // audit method column reflects the rewritten request method
    val methods = res.audit.filter(col("kind") === "crawled")
      .select(col("url"), col("method")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(methods("http://redirect.example.com/form302") == "GET")
    assert(methods("http://redirect.example.com/form307") == "POST")
  }

  test("Post/Head seed faces: body meta delivered, non-GET never deduped") {
    import spark.implicits._
    // geziyor.go:200-217 (Head/Post helpers): seeds may carry a method and
    // a POST body; the body reaches the parser as meta("body"); non-GET
    // requests bypass URL-seen dedup (duplicate_requests.go:17)
    val echo = new graft.pipeline.Parser {
      val id = "meta_echo"
      def parse(url: String, html: String, isHtml: Boolean,
          meta: Map[String, String]): graft.pipeline.ParseOutput =
        graft.pipeline.ParseOutput(
          Seq(s"""{"body":"${meta.getOrElse("body", "")}","len":${html.length}}"""),
          Nil)
    }
    val seeds = Seq(
      ("http://cookie.example.com/private", "GET", null: String),
      ("http://cookie.example.com/private", "GET", null: String), // dup GET
      ("http://cookie.example.com/private", "POST", "a=1&b=2"),
      ("http://cookie.example.com/private", "HEAD", null: String)
    ).toDF("url", "method", "body")
    val spec = CrawlSpec(startUrls = Nil, parserId = "meta_echo", maxWaves = 2)
    val res = CrawlJob.run(spark, spec, pagesDf,
      parsers = Map("meta_echo" -> echo), seedsDf = Some(seeds))
    assert(res.crawlOrder.count() == 3) // dup GET deduped; POST+HEAD kept
    val recs = recordSeq(res)
    assert(recs.size == 3)
    assert(recs.count(_.contains("\"body\":\"a=1&b=2\"")) == 1) // POST body
    assert(recs.count(_.contains("\"len\":0")) == 1) // HEAD: no decode
  }

  // ---- robots scheme fidelity --------------------------------------------

  test("robots Crawl-delay caps per-host grants once rules are fetched") {
    val spec = CrawlSpec(startUrls = Seq("http://cd.example.com/start"),
      parserId = "all_links", honorCrawlDelay = true, maxWaves = 8)
    val res = CrawlJob.run(spark, spec, pagesDf)
    val byWave = res.audit.filter(col("kind") === "crawled")
      .groupBy("wave").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // seed wave uncapped (rules fetched lazily DURING wave 0), then
    // Crawl-delay 0.5s × 1s wave interval → 2 grants/wave; nothing dropped
    assert(byWave(0) == 1)
    assert(byWave(1) == 2 && byWave(2) == 2 && byWave(3) == 1)
    assert(byWave.values.sum == 6)
    // without the opt-in, all 5 links crawl in wave 1
    val off = CrawlJob.run(spark, spec.copy(honorCrawlDelay = false), pagesDf)
    val offWaves = off.audit.filter(col("kind") === "crawled")
      .groupBy("wave").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(offWaves(1) == 5)
  }

  test("robots.txt fetched with the request's own scheme (https)") {
    // middleware/robotstxt.go:40 — the robots URL uses r.URL.Scheme; the
    // fixture's robots.txt exists ONLY at https://, so a hardcoded http://
    // fetch would miss it and fail to block /hidden/x
    val spec = CrawlSpec(startUrls = Seq("https://secure.example.com/"),
      parserId = "all_links", maxWaves = 4)
    val res = CrawlJob.run(spark, spec, pagesDf)
    val kinds = auditKinds(res)
    assert(kinds("robots_forbidden") == 1)
    assert(kinds("crawled") == 2) // hub + /open; /hidden/x blocked
  }

  test("sitemap discovery: robots Sitemap pointers seed the frontier " +
      "(both pointers, file-wide), off by default") {
    val spec = CrawlSpec(startUrls = Seq("http://sm.example.com/"),
      parserId = "all_links", maxWaves = 4, sitemapDiscovery = true)
    val res = CrawlJob.run(spark, spec, pagesDf)
    val crawled = res.audit.filter(col("kind") === "crawled")
      .select("url").collect().map(_.getString(0)).toSet
    assert(crawled == Set(
      "http://sm.example.com/", "http://sm.example.com/linked",
      "http://sm.example.com/sm/a", "http://sm.example.com/sm/b",
      "http://sm.example.com/sm/c"))
    // control: without the flag the sitemap-only pages are unreachable
    val ctrl = CrawlJob.run(spark, spec.copy(sitemapDiscovery = false), pagesDf)
    val ctrlCrawled = ctrl.audit.filter(col("kind") === "crawled")
      .select("url").collect().map(_.getString(0)).toSet
    assert(ctrlCrawled == Set(
      "http://sm.example.com/", "http://sm.example.com/linked"))
  }

  test("trap budget: (host, template) families cap at the budget; " +
      "saturated templates stay suppressed; off by default") {
    val spec = CrawlSpec(startUrls = Seq("http://trap.example.com/"),
      parserId = "all_links", maxWaves = 5, trapTemplateBudget = Some(3))
    val res = CrawlJob.run(spark, spec, pagesDf)
    val crawled = res.audit.filter(col("kind") === "crawled")
      .select("url").collect().map(_.getString(0)).toSet
    // hub + /about + exactly 3 of the 6 first-wave /cal/2024/N urls
    // (deterministic pick: link order 1,2,3); their "next" links land on a
    // SATURATED template and never crawl
    assert(crawled == Set(
      "http://trap.example.com/",
      "http://trap.example.com/about",
      "http://trap.example.com/cal/2024/1",
      "http://trap.example.com/cal/2024/2",
      "http://trap.example.com/cal/2024/3"))
    val capped = res.audit.filter(col("kind") === "trap_capped")
      .select("url", "detail").collect()
      .map(r => (r.getString(0), r.getString(1)))
    // wave 1: cal 4,5,6 over budget; wave 2: cal 11,12,13 on the saturated
    // template — all audited with the template as detail
    assert(capped.map(_._1).toSet == Set(
      "http://trap.example.com/cal/2024/4",
      "http://trap.example.com/cal/2024/5",
      "http://trap.example.com/cal/2024/6",
      "http://trap.example.com/cal/2024/11",
      "http://trap.example.com/cal/2024/12",
      "http://trap.example.com/cal/2024/13"))
    assert(capped.forall(_._2 == "/cal/N/N"))
    // off by default: the whole family crawls (hub, about, 6 cal, 6 deep)
    val off = CrawlJob.run(spark,
      spec.copy(trapTemplateBudget = None), pagesDf)
    assert(off.audit.filter(col("kind") === "crawled").count() == 14)
    assert(off.audit.filter(col("kind") === "trap_capped").count() == 0)
  }

  test("adaptiveRate: AIMD halves a slow host's cap and grows a healthy one") {
    import spark.implicits._
    def site(host: String, latency: Long) = {
      val hub = (s"http://$host/", 200, "text/html; charset=utf-8",
        Option.empty[String],
        (1 to 20).map(i => s"""<a href="/p/$i">x</a>""")
          .mkString("<html><body>", "", "</body></html>").getBytes("UTF-8"),
        latency)
      val leaves = (1 to 20).map(i => (s"http://$host/p/$i", 200,
        "text/html; charset=utf-8", Option.empty[String],
        s"<html><body><p>leaf $i</p></body></html>".getBytes("UTF-8"),
        latency))
      hub +: leaves
    }
    val corpus = (site("slow.example.com", 5000L) ++
      site("fast.example.com", 50L))
      .toDF("url", "status", "content_type", "location", "html", "latency_ms")
    val spec = CrawlSpec(
      startUrls = Seq("http://slow.example.com/", "http://fast.example.com/"),
      parserId = "all_links", robotsTxtDisabled = true,
      adaptiveRate = true, maxWaves = 6)
    val res = CrawlJob.run(spark, spec, corpus)
    def byWave(host: String): Map[Int, Long] =
      res.audit.filter(col("kind") === "crawled" && col("host") === host)
        .groupBy("wave").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // slow host: hub at the initial cap, then 8/2=4, 2, 1, 1, 1 — the
    // controller strangles an overloaded host instead of hammering it
    assert(byWave("slow.example.com") ==
      Map(0 -> 1L, 1 -> 4L, 2 -> 2L, 3 -> 1L, 4 -> 1L, 5 -> 1L))
    // fast host: hub, then additive increase lifts 8 → 10 before wave 1
    // grants, so the 20 leaves finish in two waves (10 + 10)
    assert(byWave("fast.example.com") ==
      Map(0 -> 1L, 1 -> 10L, 2 -> 10L))
    // off by default: everything crawls in wave 1
    val off = CrawlJob.run(spark, spec.copy(adaptiveRate = false), corpus)
    val offSlow = off.audit.filter(col("kind") === "crawled" &&
      col("host") === "slow.example.com" && col("wave") === 1).count()
    assert(offSlow == 20)
  }

  // ---- proxy identity in the audit ---------------------------------------

  test("proxy pool: crawled audit rows carry the assigned proxy identity") {
    val proxies = Seq("http://p0:8080", "http://p1:8080", "http://p2:8080")
    val spec = CrawlSpec(startUrls = Seq(SiteFixtures.QuotesBase),
      parserId = "quotes", maxWaves = 3, proxyUrls = proxies)
    val res = CrawlJob.run(spark, spec, pagesDf)
    val crawled = res.audit.filter(col("kind") === "crawled")
      .select("url", "detail").collect()
    assert(crawled.nonEmpty)
    val md = java.security.MessageDigest.getInstance("MD5")
    crawled.foreach { r =>
      val hex = md.digest(r.getString(0).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(4)
      val pid = (java.lang.Long.parseLong(hex, 16) % proxies.size).toInt
      assert(r.getString(1) == s"proxy=$pid:${proxies(pid)}", r.getString(0))
    }
    // without a pool, no proxy stamp
    val direct = CrawlJob.run(spark, spec.copy(proxyUrls = Nil), pagesDf)
    assert(direct.audit.filter(col("kind") === "crawled")
      .filter(col("detail") =!= "").count() == 0)
  }

  // ---- rendered fetch mode ------------------------------------------------

  test("rendered fetch crawls the post-JS DOM (links invisible to plain fetch)") {
    val plain = CrawlSpec(startUrls = Seq("http://js.example.com/app"),
      parserId = "all_links", maxWaves = 5)
    val r1 = CrawlJob.run(spark, plain, pagesDf)
    assert(auditKinds(r1)("crawled") == 1) // SPA shell has no links

    val rendered = plain.copy(rendered = true)
    val r2 = CrawlJob.run(spark, rendered, pagesDf)
    assert(auditKinds(r2)("crawled") == 2) // rendered DOM link followed
  }

  test("rendered fetch delivers the rendered body to the parser") {
    val spec = CrawlSpec(startUrls = Seq("http://js.example.com/app"),
      parserId = "body", rendered = true, maxWaves = 2)
    val recs = recordSeq(CrawlJob.run(spark, spec, pagesDf))
    assert(recs.size == 1)
    assert(recs.head.contains("hydrated"))
    val plain = recordSeq(CrawlJob.run(spark, spec.copy(rendered = false), pagesDf))
    assert(!plain.head.contains("hydrated"))
  }

  // ---- custom middlewares -------------------------------------------------

  test("request middleware can cancel requests (Request.Cancelled analog)") {
    val cancelPage3: DataFrame => DataFrame = df =>
      df.withColumn("cancelled",
        col("cancelled") || col("url").contains("/page/3/"))
    val spec = CrawlSpec(startUrls = Seq(SiteFixtures.QuotesBase),
      parserId = "quotes", syncOrder = true, maxWaves = 20)
    val res = CrawlJob.run(spark, spec, pagesDf,
      requestMiddlewares = Seq(cancelPage3))
    val a = auditKinds(res)
    assert(a("cancelled") == 1)
    assert(a("crawled") == 2)              // pages 1, 2; chain broken at 3
    assert(recordSeq(res).size == 20)
  }

  test("request middleware can mutate request meta (options.go:90-93)") {
    val tagMeta: DataFrame => DataFrame = df =>
      df.withColumn("meta",
        map_concat(col("meta"), map(lit("cookie"), lit("mw=injected"))))
    val spec = CrawlSpec(startUrls = Seq("http://cookie.example.com/private"),
      parserId = "cookie_echo", maxWaves = 2)
    val recs = recordSeq(CrawlJob.run(spark, spec, pagesDf,
      requestMiddlewares = Seq(tagMeta)))
    assert(recs.head.contains("\"cookie\":\"mw=injected\""))
  }

  test("response middleware runs before parse (can rewrite the response)") {
    val demoteToPlain: DataFrame => DataFrame = df =>
      df.withColumn("p_ct", lit("text/plain; charset=utf-8"))
    val spec = CrawlSpec(startUrls = Seq(SiteFixtures.QuotesBase),
      parserId = "quotes", maxWaves = 5)
    val res = CrawlJob.run(spark, spec, pagesDf,
      responseMiddlewares = Seq(demoteToPlain))
    // quotes parser sees non-HTML → no records, no links, crawl stops
    assert(recordSeq(res).isEmpty)
    assert(auditKinds(res)("crawled") == 1)
  }

  // ---- RFC2616 cache wiring ----------------------------------------------

  test("rfc2616 cache: fresh → served from cache; stale → revalidate/refetch") {
    import spark.implicits._
    val now = Instant.parse("2024-01-01T00:00:00Z")
    def hdrs(ageSec: Long, etag: String) = Map(
      "Date" -> Freshness.formatHttpDate(now.minusSeconds(ageSec)),
      "Cache-Control" -> "max-age=1000",
      "ETag" -> etag)
    val corpus = Seq(
      ("http://c.example.com/fresh", 200, "text/html; charset=utf-8",
        Option.empty[String], "NEW-A".getBytes("UTF-8"), "W/\"1\""),
      ("http://c.example.com/stale-same", 200, "text/html; charset=utf-8",
        Option.empty[String], "NEW-B".getBytes("UTF-8"), "W/\"2\""),
      ("http://c.example.com/stale-changed", 200, "text/html; charset=utf-8",
        Option.empty[String], "NEW-C".getBytes("UTF-8"), "W/\"3-new\"")
    ).toDF("url", "status", "content_type", "location", "html", "etag")
    val cacheDf = Seq(
      ("http://c.example.com/fresh", hdrs(100, "W/\"1\""),
        "CACHED-A".getBytes("UTF-8"), "text/html; charset=utf-8"),
      ("http://c.example.com/stale-same", hdrs(5000, "W/\"2\""),
        "CACHED-B".getBytes("UTF-8"), "text/html; charset=utf-8"),
      ("http://c.example.com/stale-changed", hdrs(5000, "W/\"old3\""),
        "CACHED-C".getBytes("UTF-8"), "text/html; charset=utf-8")
    ).toDF("url", "headers", "body", "content_type")
    val spec = CrawlSpec(
      startUrls = Seq("http://c.example.com/fresh",
        "http://c.example.com/stale-same", "http://c.example.com/stale-changed"),
      parserId = "body", robotsTxtDisabled = true,
      cachePolicy = "rfc2616", cacheNowEpochSec = now.getEpochSecond,
      maxWaves = 2)
    val res = CrawlJob.run(spark, spec, corpus, cacheDf = Some(cacheDf))
    val a = auditKinds(res)
    assert(a("cache_hit") == 1)
    assert(a("revalidate_304") == 1)
    assert(a("crawled") == 3)
    val byUrl = res.records.collect().map(_.getString(3))
      .map { j => (j, j) }.map(_._1)
    assert(byUrl.exists(j => j.contains("/fresh") && j.contains("CACHED-A")))
    assert(byUrl.exists(j => j.contains("stale-same") && j.contains("CACHED-B")))
    assert(byUrl.exists(j => j.contains("stale-changed") && j.contains("NEW-C")))
    // no re-fetch for the fresh entry: it never entered the fetch order
    assert(res.crawlOrder.count() == 2)
  }

  test("rfc2616 cache: clock moves → fresh entry becomes stale and refetches") {
    import spark.implicits._
    val t0 = Instant.parse("2024-01-01T00:00:00Z")
    val corpus = Seq(
      ("http://c.example.com/fresh", 200, "text/html; charset=utf-8",
        Option.empty[String], "NEW-A".getBytes("UTF-8"), "W/\"x\"")
    ).toDF("url", "status", "content_type", "location", "html", "etag")
    val cacheDf = Seq(
      ("http://c.example.com/fresh",
        Map("Date" -> Freshness.formatHttpDate(t0.minusSeconds(100)),
          "Cache-Control" -> "max-age=1000", "ETag" -> "W/\"old\""),
        "CACHED-A".getBytes("UTF-8"), "text/html; charset=utf-8")
    ).toDF("url", "headers", "body", "content_type")
    def runAt(now: Instant) = auditKinds(CrawlJob.run(spark,
      CrawlSpec(startUrls = Seq("http://c.example.com/fresh"),
        parserId = "body", robotsTxtDisabled = true,
        cachePolicy = "rfc2616", cacheNowEpochSec = now.getEpochSecond,
        maxWaves = 2),
      corpus, cacheDf = Some(cacheDf)))
    assert(runAt(t0)("cache_hit") == 1)
    val later = runAt(t0.plusSeconds(2000)) // age 2100 > max-age 1000
    assert(later.get("cache_hit").isEmpty)
    assert(later("crawled") == 1)           // validator mismatch → real fetch
  }

  test("dummy cache policy: cached entries always served, never revalidated") {
    import spark.implicits._
    val corpus = Seq(
      ("http://d.example.com/a", 200, "text/html; charset=utf-8",
        Option.empty[String], "NEW-A".getBytes("UTF-8")),
      ("http://d.example.com/b", 200, "text/html; charset=utf-8",
        Option.empty[String], "NEW-B".getBytes("UTF-8"))
    ).toDF("url", "status", "content_type", "location", "html")
    // entry is ANCIENT by any freshness rule — dummy serves it regardless
    val cacheDf = Seq(
      ("http://d.example.com/a",
        Map("Date" -> "Mon, 01 Jan 1990 00:00:00 GMT",
          "Cache-Control" -> "max-age=1"),
        "CACHED-A".getBytes("UTF-8"), "text/html; charset=utf-8")
    ).toDF("url", "headers", "body", "content_type")
    val spec = CrawlSpec(
      startUrls = Seq("http://d.example.com/a", "http://d.example.com/b"),
      parserId = "body", robotsTxtDisabled = true,
      cachePolicy = "dummy", maxWaves = 2)
    val res = CrawlJob.run(spark, spec, corpus, cacheDf = Some(cacheDf))
    val a = auditKinds(res)
    assert(a("cache_hit") == 1)
    assert(res.crawlOrder.count() == 1) // only /b actually fetched
    val recs = recordSeq(res)
    assert(recs.exists(j => j.contains("/a") && j.contains("CACHED-A")))
    assert(recs.exists(j => j.contains("/b") && j.contains("NEW-B")))
  }

  // ---- request timeout (connection-tuning face) ---------------------------

  test("requestTimeout: slow pages retried as transport errors, then ErrorFunc") {
    import spark.implicits._
    val corpus = Seq(
      ("http://t.example.com/fast", 200, "text/html; charset=utf-8",
        Option.empty[String], "FAST".getBytes("UTF-8"), 50L),
      ("http://t.example.com/slow", 200, "text/html; charset=utf-8",
        Option.empty[String], "SLOW".getBytes("UTF-8"), 5000L)
    ).toDF("url", "status", "content_type", "location", "html", "latency_ms")
    val spec = CrawlSpec(
      startUrls = Seq("http://t.example.com/fast", "http://t.example.com/slow"),
      parserId = "body", robotsTxtDisabled = true,
      requestTimeoutMs = 1000, maxWaves = 10)
    val res = CrawlJob.run(spark, spec, corpus)
    val a = auditKinds(res)
    assert(a("retry") == 2)          // slow page retried like an error
    assert(a("fetch_timeout") == 1)  // then ErrorFunc analog — NOT delivered
    assert(a("crawled") == 1)        // only the fast page delivers
    assert(a.get("retry_exhausted").isEmpty)
    val recs = recordSeq(res)
    assert(recs.size == 1 && recs.head.contains("FAST"))
    // 1 fast fetch + 3 slow attempts
    assert(res.crawlOrder.count() == 4)
  }

  // ---- randomized politeness delay ---------------------------------------

  test("randomized delay: deterministic, bounded in [0.5d, 1.5d)") {
    import spark.implicits._
    val df = (0 until 200).map(i => (s"http://h$i.example.com/p", 3))
      .toDF("url", "wave")
    val d = 1000L
    val got = df.withColumn("delay", CrawlJob.delayExpr(d, random = true))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got.values.forall(v => v >= 500 && v < 1500))
    // independent reimplementation: md5 via MessageDigest
    val md = java.security.MessageDigest.getInstance("MD5")
    got.foreach { case (url, v) =>
      val hex = md.digest(s"$url:3".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12)
      assert(v == d / 2 + java.lang.Long.parseLong(hex, 16) % d, url)
    }
    // spread: not all equal (sanity that it actually randomizes)
    assert(got.values.toSet.size > 50)
  }

  test("requestDelay reorders per-host grants deterministically, loses nothing") {
    val base = CrawlSpec(startUrls = Seq("http://mega.example.com/"),
      parserId = "all_links", hostTokensPerWave = 10, maxWaves = 20)
    val delayed = base.copy(requestDelayMs = 1000, randomDelay = true)
    val r1 = CrawlJob.run(spark, delayed, pagesDf)
    val r2 = CrawlJob.run(spark, delayed, pagesDf)
    val o1 = r1.crawlOrder.collect().map(r => (r.getInt(0), r.getString(2))).toSeq
    val o2 = r2.crawlOrder.collect().map(r => (r.getInt(0), r.getString(2))).toSeq
    assert(o1.sortBy(_.toString) == o2.sortBy(_.toString)) // deterministic
    assert(auditKinds(r1)("crawled") == 51)                // nothing lost
    val plain = CrawlJob.run(spark, base, pagesDf)
    val po = plain.crawlOrder.collect().map(r => (r.getInt(0), r.getString(2))).toSet
    // same fetched set overall, but the per-wave grant order differs
    assert(po.map(_._2) == o1.map(_._2).toSet)
    assert(po != o1.toSet)
  }

  // ---- requests-per-second limiter ---------------------------------------

  test("requestsPerSecond × waveInterval caps wave size, defers the rest") {
    val spec = CrawlSpec(startUrls = Seq("http://mega.example.com/"),
      parserId = "all_links", requestsPerSecond = 5, waveIntervalMs = 1000,
      maxWaves = 30)
    val res = CrawlJob.run(spark, spec, pagesDf)
    val perWave = res.crawlOrder.groupBy("wave").count()
      .collect().map(_.getLong(1))
    assert(perWave.forall(_ <= 5))
    assert(auditKinds(res)("crawled") == 51)
  }

  // ---- plan property: default mode has no unpartitioned windows -----------

  test("default (scale-mode) wave plans contain no unpartitioned Window") {
    // the crawl's plans are the plans of the tables it keeps
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    graft.state.Kept.onKeep = qe =>
      plans.synchronized { plans += qe.executedPlan.toString }
    try {
      val spec = CrawlSpec(startUrls = Seq("http://mega.example.com/"),
        parserId = "all_links", hostTokensPerWave = 10, maxWaves = 20)
      CrawlJob.run(spark, spec, pagesDf)
      val windowLines = plans.synchronized {
        plans.flatMap(_.linesIterator).map(_.trim)
          .filter(l => l.contains("Window [") || l.contains("WindowExec"))
      }
      assert(windowLines.nonEmpty, "expected windows in the politeness plan")
      // partitioned windows print `Window [fns], [partitionExprs], [sortExprs]`
      // — three bracket groups; a global window has only two.
      val unpartitioned = windowLines.filterNot(
        _.matches(""".*Window \[.*\], \[.*\], \[.*\].*"""))
      assert(unpartitioned.isEmpty,
        s"unpartitioned window(s) in default plan:\n${unpartitioned.mkString("\n")}")
    } finally graft.state.Kept.onKeep = _ => ()
  }

  test("AQE splits a mega-host skewed host-keyed join (the runtime skew path)") {
    // Host-keyed stages (politeness state, cookie jars) are where Zipf
    // mega-domains skew a join — the engine's primary answer is the exact
    // two-phase salted ranking (plan-audit test above); this pins the
    // complementary RUNTIME answer: AQE detects the oversized partition
    // and splits it (skew=true in the final plan), no manual salting.
    import spark.implicits._
    val prev = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.join.preferSortMergeJoin"
    ).map(k => k -> spark.conf.getOption(k)).toMap
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "50KB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
    try {
      // 94% of the frontier on one mega host (Zipf head)
      val frontier = spark.range(0, 400000).select(
        concat(lit("http://"),
          when(pmod(col("id"), lit(16)) =!= 0, lit("mega.example.com"))
            .otherwise(concat(lit("h"), pmod(col("id"), lit(97)))),
          lit("/p/"), col("id")).as("url"),
        when(pmod(col("id"), lit(16)) =!= 0, lit("mega.example.com"))
          .otherwise(concat(lit("h"), pmod(col("id"), lit(97)))).as("host"))
      // host-state comes from the state store (a scan), NOT an inline
      // aggregate — which is also what OptimizeSkewedJoin needs: its
      // pattern is SMJ(Sort(stage), Sort(stage)); an agg between the sort
      // and the shuffle stage (e.g. distinct()) disables the rule
      val hostState = spark.range(0, 98).select(
        when(col("id") === 97, lit("mega.example.com"))
          .otherwise(concat(lit("h"), col("id"))).as("host"),
        lit(0L).as("next_allowed_ms"))
      val joined = frontier.join(hostState, Seq("host"))
      // execute THIS dataset's adaptive plan (count() would plan a separate
      // query and leave this one isFinalPlan=false)
      val qe = joined.queryExecution
      assert(qe.executedPlan.execute().count() == 400000)
      val plan = qe.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not split the mega-host partition:\n${plan.take(2000)}")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucketed corpus: fetch join plans with NO exchange (the 100 TB layout)") {
    // The q01 scale note's claim, pinned: when the pages corpus and the
    // frontier are bucketed on `url` (the 10^10-scale storage layout —
    // Iceberg bucket partitioning in production), the fetch join needs no
    // shuffle at all on either side.
    import spark.implicits._
    spark.sql(
      "CREATE DATABASE IF NOT EXISTS graft_bdb LOCATION '/tmp/graft-bucketdb'")
    val prevThreshold =
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    // force the shuffle-join path — at 10^10 rows neither side broadcasts;
    // the test must prove the BUCKETED layout, not a small-data broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val pages = (0 until 20000)
        .map(i => (s"http://h${i % 97}.example.com/p/$i", 200 + i % 3))
        .toDF("url", "status")
      val frontier = (0 until 10000)
        .map(i => (s"http://h${i % 97}.example.com/p/${i * 2}", i.toLong))
        .toDF("url", "rank")
      pages.write.mode("overwrite").bucketBy(8, "url").sortBy("url")
        .saveAsTable("graft_bdb.pages_b")
      frontier.write.mode("overwrite").bucketBy(8, "url")
        .saveAsTable("graft_bdb.frontier_b")
      val fetched = spark.table("graft_bdb.frontier_b")
        .join(spark.table("graft_bdb.pages_b"), Seq("url"), "left")
      assert(fetched.count() == 10000)
      val plan = fetched.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed fetch join still shuffles:\n${plan.take(2000)}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP DATABASE IF EXISTS graft_bdb CASCADE")
    }
  }

  test("robots new-host fetch plans as a broadcast join (corpus never shuffled)") {
    // the crawl's plans are the plans of the tables it keeps
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    graft.state.Kept.onKeep = qe =>
      plans.synchronized { plans += qe.executedPlan.toString }
    try {
      val spec = CrawlSpec(startUrls = Seq(SiteFixtures.QuotesBase),
        parserId = "quotes", maxWaves = 2)
      CrawlJob.run(spark, spec, pagesDf)
      // the robots rules' kept plan joins corpus ⋈ newHosts on
      // robots_url — it must be a BroadcastHashJoin with the tiny host
      // set as the build side, never an exchange of the corpus
      val robotsPlans = plans.synchronized {
        plans.filter(_.contains("robots_url"))
      }
      assert(robotsPlans.nonEmpty, "no robots fetch plan captured")
      assert(robotsPlans.exists(_.contains("BroadcastHashJoin")),
        s"robots fetch not broadcast:\n${robotsPlans.head.take(2000)}")
    } finally graft.state.Kept.onKeep = _ => ()
  }

  // ---- WARC archive output -----------------------------------------------

  test("warcArchiveDir: every delivered response lands in its wave's WARC " +
    "members; identical payloads become revisit records; off by default") {
    val dir = java.nio.file.Files.createTempDirectory("crawlwarc").toString
    val spec = CrawlSpec(startUrls = Seq(SiteFixtures.QuotesBase),
      parserId = "quotes", maxWaves = 4,
      warcArchiveDir = Some(dir))
    val res = CrawlJob.run(spark, spec, pagesDf)

    // wave directories exist for every wave that delivered responses
    val waveDirs = new java.io.File(dir).listFiles().map(_.getName).sorted
    assert(waveDirs.nonEmpty && waveDirs.forall(_.startsWith("wave-")))

    // parse every member back: each member opens with a warcinfo
    // self-description; the archived URI set == the crawled set
    val allRecs = waveDirs.flatMap { wd =>
      new java.io.File(s"$dir/$wd").listFiles().toSeq.map { f =>
        graft.warc.Warc.parse(
          java.nio.file.Files.readAllBytes(f.toPath))
      }
    }.toSeq
    allRecs.foreach { member =>
      assert(member.head.warcType == "warcinfo", "member must open with warcinfo")
      assert(member.head.targetUri == "")
      val fields = new String(member.head.payload, "UTF-8")
      assert(fields.contains("software: geziyorspark") &&
        fields.contains("wave: "), s"warcinfo fields: $fields")
    }
    val recs = allRecs.flatten.filterNot(_.warcType == "warcinfo")
    val crawled = res.crawlOrder.select("url").collect()
      .map(_.getString(0)).toSet
    assert(recs.map(_.targetUri).toSet == crawled)
    assert(recs.length == crawled.size)

    // quotes pages are all distinct payloads → all responses, and the
    // payloads are the fixture's exact html bytes
    assert(recs.forall(_.warcType == "response"))
    val htmlByUrl = pagesDf.select("url", "html").collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    recs.foreach { r =>
      assert(java.util.Arrays.equals(r.payload, htmlByUrl(r.targetUri)),
        s"payload mismatch for ${r.targetUri}")
      assert(r.date == "2023-06-01T00:00:00Z" || r.date.startsWith("2023-"))
    }

    // duplicate-content corpus: revisit records fold the copies
    import graft.fixtures.SiteFixtures.Page
    val t = java.sql.Timestamp.valueOf("2023-06-01 00:00:00")
    val same = "<html><body>same</body></html>".getBytes("UTF-8")
    val dupCorpus = SiteFixtures.pagesDf(spark, Seq(
      Page("http://dup.example.com/a", t, same, "same", "en", 200,
        "text/html", null),
      Page("http://dup.example.com/b", t, same, "same", "en", 200,
        "text/html", null),
      Page("http://dup.example.com/c", t,
        "<html><body>other</body></html>".getBytes("UTF-8"), "other",
        "en", 200, "text/html", null)))
    val dir2 = java.nio.file.Files.createTempDirectory("crawlwarc2").toString
    val spec2 = CrawlSpec(
      startUrls = Seq("http://dup.example.com/a", "http://dup.example.com/b",
        "http://dup.example.com/c"),
      parserId = "body", maxWaves = 2, warcArchiveDir = Some(dir2))
    CrawlJob.run(spark, spec2, dupCorpus)
    val recs2 = new java.io.File(dir2).listFiles().flatMap(wd =>
      wd.listFiles().toSeq.flatMap(f => graft.warc.Warc.parse(
        java.nio.file.Files.readAllBytes(f.toPath)))).toSeq
      .filterNot(_.warcType == "warcinfo")
    assert(recs2.length == 3)
    assert(recs2.count(_.warcType == "response") == 2) // same + other
    val rev = recs2.filter(_.warcType == "revisit")
    assert(rev.length == 1 && rev.head.contentLength == 0)
    assert(rev.head.extra("warc-refers-to-target-uri") ==
      "http://dup.example.com/a") // (ts, url) order: /a beats /b
    assert(rev.head.targetUri == "http://dup.example.com/b")

    // off by default: no archive side-effect without the opt-in
    val res3 = CrawlJob.run(spark,
      spec2.copy(warcArchiveDir = None), dupCorpus)
    assert(res3.crawlOrder.count() == 3)
  }

  // ---- content-sniffing fallback (opt-in) ----------------------------------

  test("sniffContentType: typeless HTML parses via body sniff when opted " +
    "in; header-only (reference IsHTML parity) by default") {
    import spark.implicits._
    val corpus = Seq(
      ("http://sn.example.com/a", 200, Option.empty[String],
        Option.empty[String],
        "<html><body><a href=\"/b\">b</a></body></html>".getBytes("UTF-8")),
      ("http://sn.example.com/b", 200, Option.empty[String],
        Option.empty[String], "{\"x\": 1}".getBytes("UTF-8"))
    ).toDF("url", "status", "content_type", "location", "html")
    val spec = CrawlSpec(startUrls = Seq("http://sn.example.com/a"),
      parserId = "all_links", robotsTxtDisabled = true, maxWaves = 3)
    // default (parity): no Content-Type header → not HTML → no links
    val off = CrawlJob.run(spark, spec, corpus)
    assert(off.crawlOrder.count() == 1)
    // opt-in: /a sniffs text/html and its link is followed; /b sniffs
    // application/json and is NOT html-parsed (terminates the crawl)
    val on = CrawlJob.run(spark, spec.copy(sniffContentType = true), corpus)
    val urls = on.crawlOrder.select("url").collect().map(_.getString(0)).toSet
    assert(urls == Set("http://sn.example.com/a", "http://sn.example.com/b"))
    // a server-provided type always wins over the sniff: /a served as
    // text/plain stays unparsed even with sniffing on
    val plainCorpus = Seq(
      ("http://sn.example.com/a", 200, Option("text/plain"),
        Option.empty[String],
        "<html><body><a href=\"/b\">b</a></body></html>".getBytes("UTF-8")),
      ("http://sn.example.com/b", 200, Option.empty[String],
        Option.empty[String], "{\"x\": 1}".getBytes("UTF-8"))
    ).toDF("url", "status", "content_type", "location", "html")
    val hdr = CrawlJob.run(spark, spec.copy(sniffContentType = true),
      plainCorpus)
    assert(hdr.crawlOrder.count() == 1)
  }
}
