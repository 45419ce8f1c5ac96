package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.fixtures.SiteFixtures
import graft.model.CrawlSpec
import graft.pipeline.CrawlJob
import graft.sinks.{JArr, JInt, JObj, JStr, Json}

class CrawlJobSpec extends AnyFunSuite {
  test("long crawls: seen stays one relation however many waves") {
    // 40-wave chain crawl: page i links only to page i+1. A union of the
    // per-wave increments would be a 40-way union through every wave's
    // anti-join analysis, and would shift the anti-join's codegen stage
    // ids every wave; `seen` is one leaf over their RDD-level union, and so
    // are the records, the audit and the crawl order.
    val chain = (0 until 45).map { i =>
      val html =
        s"""<html><body><a href="/p/${i + 1}">n</a></body></html>"""
      SiteFixtures.Page(s"http://chain.example.com/p/$i",
        java.sql.Timestamp.valueOf("1997-01-01 00:00:00"),
        html.getBytes(java.nio.charset.StandardCharsets.UTF_8), html, "en",
        200, "text/html; charset=utf-8", null)
    }
    val spec = CrawlSpec(startUrls = Seq("http://chain.example.com/p/0"),
      parserId = "all_links", maxWaves = 40)
    val res = CrawlJob.run(spark, spec, SiteFixtures.pagesDf(spark, chain))
    assert(res.waves == 40)
    assert(seenSet(res).size == 41) // seed + 40 discoveries
    def countUnions(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
      plan.collect {
        case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
      }.map(_.children.size).sum
    Seq("seen" -> res.seen, "records" -> res.records, "audit" -> res.audit,
        "crawlOrder" -> res.crawlOrder).foreach { case (name, df) =>
      val width = countUnions(df.queryExecution.logical)
      assert(width == 0, s"$name is a union of $width plans")
    }
  }

  private lazy val spark = SparkTestBase.spark
  private lazy val pagesDf = SiteFixtures.pagesDf(spark).cache()
  private lazy val pagesMap =
    SiteFixtures.allPages.map(p => p.url -> p).toMap

  private def recordSeq(r: CrawlJob.CrawlResult): Seq[String] =
    r.records.orderBy(col("wave"), col("rank"), col("seq"))
      .select("json").collect().map(_.getString(0)).toSeq

  private def seenSet(r: CrawlJob.CrawlResult): Set[String] =
    r.seen.collect().map(_.getString(0)).toSet

  private def orderSeq(r: CrawlJob.CrawlResult): Seq[(Int, String)] =
    r.crawlOrder.orderBy(col("wave"), col("rank"))
      .collect().map(x => (x.getInt(0), x.getString(2))).toSeq

  private def auditKinds(r: CrawlJob.CrawlResult): Map[String, Long] =
    r.audit.groupBy("kind").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap

  test("flagship: quotes crawl matches the sequential reference simulator exactly") {
    val spec = CrawlSpec(startUrls = Seq(SiteFixtures.QuotesBase),
      parserId = "quotes", syncOrder = true, maxWaves = 20)
    val sim = ReferenceSimulator.crawl(spec, pagesMap)
    val res = CrawlJob.run(spark, spec, pagesDf)

    assert(recordSeq(res) == sim.records)           // byte-identical, in order
    assert(seenSet(res) == sim.seen)                // exact URL-seen set
    assert(orderSeq(res) == sim.order)              // exact crawl order
    assert(res.waves == sim.waves)
    assert(sim.records.size == 100)                 // 10 pages × 10 quotes
    assert(sim.seen == (1 to 10).map(SiteFixtures.quotesPageUrl).toSet)
  }

  test("quotes records are byte-identical to the authored fixture content") {
    val spec = CrawlSpec(startUrls = Seq(SiteFixtures.QuotesBase),
      parserId = "quotes", maxWaves = 20)
    val res = CrawlJob.run(spark, spec, pagesDf)
    val recs = recordSeq(res)
    // page p is crawled at wave p-1; quote i on it is record (p-1)*10+i
    recs.zipWithIndex.foreach { case (json, g) =>
      val want = Json.compact(JObj(Seq(
        "number" -> JInt(g % 10),
        "text" -> JStr(SiteFixtures.quoteText(g)),
        "author" -> JStr(SiteFixtures.quoteAuthor(g)),
        "tags" -> JArr(SiteFixtures.quoteTags(g).map(JStr)))))
      assert(json == want, s"record $g")
    }
  }

  test("books whole-site BFS with AllowedDomains matches simulator; cross-host rejected") {
    val spec = CrawlSpec(startUrls = Seq(SiteFixtures.BooksBase),
      allowedDomains = Seq("books.toscrape.com"),
      parserId = "all_links", syncOrder = true, maxWaves = 20)
    val sim = ReferenceSimulator.crawl(spec, pagesMap)
    val res = CrawlJob.run(spark, spec, pagesDf)
    assert(recordSeq(res) == sim.records)
    assert(seenSet(res) == sim.seen)
    assert(orderSeq(res) == sim.order)
    // all 36 site pages visited exactly once
    assert(sim.seen.size == 36)
    val a = auditKinds(res)
    assert(a("rejected_domain") == sim.auditKinds("rejected_domain"))
    assert(a("rejected_domain") > 0)
    assert(!seenSet(res).exists(_.contains("other-host.com")))
  }

  test("robots.txt gate blocks /deny and audits it (geziyor_test.go:331-339)") {
    val spec = CrawlSpec(
      startUrls = Seq(SiteFixtures.QuotesBase,
        "http://quotes.toscrape.com/deny/secret"),
      parserId = "quotes", maxWaves = 20)
    val sim = ReferenceSimulator.crawl(spec, pagesMap)
    val res = CrawlJob.run(spark, spec, pagesDf)
    val a = auditKinds(res)
    assert(a("robots_forbidden") == 1)
    assert(sim.auditKinds("robots_forbidden") == 1)
    assert(!orderSeq(res).exists(_._2.contains("/deny/")))
    assert(recordSeq(res) == sim.records)
    // robots-blocked url IS in the seen set (dedup ran before robots)
    assert(seenSet(res).contains("http://quotes.toscrape.com/deny/secret"))
  }

  test("robotsTxtDisabled crawls /deny") {
    val spec = CrawlSpec(
      startUrls = Seq("http://quotes.toscrape.com/deny/secret"),
      robotsTxtDisabled = true, parserId = "all_links", maxWaves = 5)
    val res = CrawlJob.run(spark, spec, pagesDf)
    assert(auditKinds(res).getOrElse("robots_forbidden", 0L) == 0)
    assert(auditKinds(res)("crawled") == 1)
  }

  test("redirect chains: ≤ maxRedirect followed transparently, 11 hops errors") {
    val spec = CrawlSpec(
      startUrls = Seq(
        "http://redirect.example.com/chain1/0",
        "http://redirect.example.com/chain10/0",
        "http://redirect.example.com/chain11/0"),
      parserId = "all_links", maxDepth = 0, maxWaves = 3)
    val sim = ReferenceSimulator.crawl(spec, pagesMap)
    val res = CrawlJob.run(spark, spec, pagesDf)
    val recs = recordSeq(res)
    assert(recs == sim.records)
    // delivered responses carry the FINAL url (Go http.Client semantics)
    assert(recs.contains("[\"http://redirect.example.com/final_chain1\"]"))
    assert(recs.contains("[\"http://redirect.example.com/final_chain10\"]"))
    assert(!recs.exists(_.contains("chain11")))
    assert(auditKinds(res)("redirect_exceeded") == 1)
  }

  test("retry: 503 retried RetryTimes then exhausted (client/client.go:94-121)") {
    val spec = CrawlSpec(
      startUrls = Seq("http://flaky.example.com/always503",
        "http://flaky.example.com/ok"),
      parserId = "all_links", maxWaves = 10)
    val sim = ReferenceSimulator.crawl(spec, pagesMap)
    val res = CrawlJob.run(spark, spec, pagesDf)
    val a = auditKinds(res)
    assert(a("retry") == 2)                     // attempts 1 and 2
    assert(a("retry_exhausted") == 1)
    // the exhausted 503 response is DELIVERED to the parser (the reference
    // returns it from the client after the last retry; only transport
    // errors route to ErrorFunc) → /ok plus the exhausted /always503
    assert(a("crawled") == 2)
    assert(recordSeq(res).toSet == sim.records.toSet)
    assert(sim.auditKinds("retry") == 2 && sim.auditKinds("retry_exhausted") == 1)
    assert(sim.auditKinds("crawled") == 2)
    // the 503 url was fetched 3 times total (1 + 2 retries)
    assert(orderSeq(res).count(_._2.endsWith("always503")) == 3)
    assert(res.waves == 3)
  }

  test("charset decode: ISO-8859-9 body decoded via Content-Type param") {
    val spec = CrawlSpec(startUrls = Seq("http://charset.example.com/tr"),
      parserId = "body", maxWaves = 2)
    val res = CrawlJob.run(spark, spec, pagesDf)
    val recs = recordSeq(res)
    assert(recs.size == 1)
    assert(recs.head.contains(SiteFixtures.TurkishText))
  }

  test("charsetDetectDisabled: bytes pass through raw, no Content-Type sniff") {
    val spec = CrawlSpec(startUrls = Seq("http://charset.example.com/tr"),
      parserId = "body", maxWaves = 2, charsetDetectDisabled = true)
    val res = CrawlJob.run(spark, spec, pagesDf)
    val recs = recordSeq(res)
    assert(recs.size == 1)
    // ISO-8859-9 bytes read as UTF-8 → the Turkish text must NOT round-trip
    // (reference parity: charset.NewReader skipped, client.go:146-152)
    assert(!recs.head.contains(SiteFixtures.TurkishText))
  }

  test("logDisabled drops crawled audit rows but keeps counters and records") {
    val spec = CrawlSpec(startUrls = Seq(SiteFixtures.QuotesBase),
      parserId = "quotes", maxWaves = 20, logDisabled = true)
    val res = CrawlJob.run(spark, spec, pagesDf)
    assert(recordSeq(res).size == 100)
    assert(!auditKinds(res).contains("crawled"))
    // the response counter survives (log_stats.go:14: metrics are separate)
    val crawledMetric = res.metrics.filter(col("metric") === "crawled")
      .agg(sum(col("value"))).collect()(0).getLong(0)
    assert(crawledMetric == 10)
  }

  test("politeness: ≤ k fetches per host per wave, nothing lost") {
    val spec = CrawlSpec(startUrls = Seq("http://mega.example.com/"),
      parserId = "all_links", hostTokensPerWave = 10, maxWaves = 20)
    val sim = ReferenceSimulator.crawl(spec, pagesMap)
    val res = CrawlJob.run(spark, spec, pagesDf)
    // budget property: per (wave, host) issued fetches ≤ 10
    val perWave = res.crawlOrder.groupBy("wave").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(perWave.values.forall(_ <= 10))
    // all 51 pages crawled exactly once, across ≥ 6 waves
    assert(auditKinds(res)("crawled") == 51)
    assert(res.waves == sim.waves && res.waves >= 6)
    assert(recordSeq(res).toSet == sim.records.toSet)
    assert(seenSet(res) == sim.seen)
  }

  test("global concurrency cap bounds wave size, defers by rank, loses nothing") {
    val spec = CrawlSpec(startUrls = Seq("http://mega.example.com/"),
      parserId = "all_links", concurrentRequests = 7, syncOrder = true,
      maxWaves = 30)
    val sim = ReferenceSimulator.crawl(spec, pagesMap)
    val res = CrawlJob.run(spark, spec, pagesDf)
    val perWave = res.crawlOrder.groupBy("wave").count()
      .collect().map(r => r.getLong(1))
    assert(perWave.forall(_ <= 7))
    assert(auditKinds(res)("crawled") == 51)
    assert(recordSeq(res) == sim.records)
    assert(orderSeq(res) == sim.order)
    assert(res.waves == sim.waves && res.waves >= 8)
  }

  test("URLRevisitEnabled revisits duplicate links") {
    // books index links cat_1 twice: with revisit, cat_1 is fetched twice
    val spec = CrawlSpec(startUrls = Seq(SiteFixtures.BooksBase),
      allowedDomains = Seq("books.toscrape.com"),
      urlRevisitEnabled = true, parserId = "all_links", maxDepth = 1,
      syncOrder = true, maxWaves = 3)
    val res = CrawlJob.run(spark, spec, pagesDf)
    val sim = ReferenceSimulator.crawl(spec, pagesMap)
    assert(recordSeq(res) == sim.records)
    val visits = orderSeq(res).map(_._2)
      .count(_ == "http://books.toscrape.com/catalogue/cat_1/index.html")
    // still once per wave: intra-wave first-wins dedup applies even with revisit
    assert(visits == 1)
    // but the index url itself can be re-discovered from category pages later
  }

  test("scale-mode ranking (the default) preserves results modulo order") {
    val spec = CrawlSpec(startUrls = Seq(SiteFixtures.BooksBase),
      allowedDomains = Seq("books.toscrape.com"),
      parserId = "all_links", syncOrder = true, maxWaves = 20)
    val sync = CrawlJob.run(spark, spec, pagesDf)
    val scale = CrawlJob.run(spark, spec.copy(syncOrder = false), pagesDf)
    assert(recordSeq(scale).sorted == recordSeq(sync).sorted)
    assert(seenSet(scale) == seenSet(sync))
    assert(auditKinds(scale) == auditKinds(sync))
    assert(scale.waves == sync.waves)
    // per-wave fetch sets identical (BFS generations don't depend on rank)
    val a = scale.crawlOrder.collect().map(r => (r.getInt(0), r.getString(2))).toSet
    val b = sync.crawlOrder.collect().map(r => (r.getInt(0), r.getString(2))).toSet
    assert(a == b)
  }

  test("maxDepth caps frontier expansion") {
    val spec = CrawlSpec(startUrls = Seq(SiteFixtures.QuotesBase),
      parserId = "quotes", maxDepth = 2, maxWaves = 20)
    val res = CrawlJob.run(spark, spec, pagesDf)
    assert(auditKinds(res)("crawled") == 3) // pages 1..3
    assert(recordSeq(res).size == 30)
  }

  test("parseHtmlDisabled suppresses extraction but still crawls") {
    val spec = CrawlSpec(startUrls = Seq(SiteFixtures.QuotesBase),
      parserId = "quotes", parseHtmlDisabled = true, maxWaves = 5)
    val res = CrawlJob.run(spark, spec, pagesDf)
    assert(auditKinds(res)("crawled") == 1)  // no next-links discovered
    assert(recordSeq(res).isEmpty)
  }

  test("metrics + per-partition lineage tables are emitted per wave") {
    val spec = CrawlSpec(startUrls = Seq(SiteFixtures.QuotesBase),
      parserId = "quotes", maxWaves = 20)
    val res = CrawlJob.run(spark, spec, pagesDf)
    val m = res.metrics.collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    // 10 waves, each with frontier_size 1 and one crawled page
    (0 until 10).foreach { w =>
      assert(m((w, "frontier_size")) == 1, s"wave $w")
      assert(m((w, "crawled")) == 1, s"wave $w")
    }
    val lin = res.lineage.collect()
    assert(lin.map(_.getInt(0)).distinct.length == 10)  // every wave covered
    // lineage row counts sum to total granted fetches
    assert(lin.map(_.getLong(2)).sum == res.crawlOrder.count())
  }

  test("fetch miss lands in the audit as the ErrorFunc analog") {
    val spec = CrawlSpec(startUrls = Seq("http://nowhere.example.com/x"),
      parserId = "all_links", maxWaves = 2)
    val res = CrawlJob.run(spark, spec, pagesDf)
    assert(auditKinds(res)("fetch_miss") == 1)
  }

  /** Runs `spec` over the fixture corpus, committing to `stateDir` if one
    * is given, and returns its result, each of its jobs (description, call
    * sites of its stages) and its Dataset actions. The action listener is
    * shown to be live: an action run on the result while it is registered
    * reaches it.
    */
  private def crawlJobs(spec: CrawlSpec, stateDir: Option[String] = None)
      : (CrawlJob.CrawlResult, Seq[(String, Seq[String])], Seq[String]) = {
    pagesDf.count()
    val sc = spark.sparkContext
    org.apache.spark.SparkTestBus.drain(sc)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[String])]
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add((Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""), e.stageInfos.map(_.name)))
    }
    val actionListener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(action: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        actions.add(action)
      def onFailure(action: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(listener)
    spark.listenerManager.register(actionListener)
    try {
      val res = CrawlJob.run(spark, spec, pagesDf, stateDir = stateDir)
      org.apache.spark.SparkTestBus.drain(sc)
      val crawlJobs = jobs.toArray(Array.empty[(String, Seq[String])]).toSeq
      val crawlActions = actions.toArray(Array.empty[String]).toSeq
      res.crawlOrder.collect()
      org.apache.spark.SparkTestBus.drain(sc)
      assert(actions.toArray(Array.empty[String]).toSeq ==
        crawlActions :+ "collect", "the action listener missed an action")
      (res, crawlJobs, crawlActions)
    } finally {
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(actionListener)
    }
  }

  /** Every job is labelled with its wave and stage, side thread included,
    * and none is a `Dataset.localCheckpoint`: kept tables are filled by
    * jobs of their own. Returns the (wave, stage) labels.
    */
  private def labels(jobs: Seq[(String, Seq[String])]): Seq[(Int, String)] = {
    val checkpoints = jobs.filter(_._2.exists(_.startsWith("localCheckpoint at")))
    assert(checkpoints.isEmpty, checkpoints)
    val Label = """wave=(\d+) stage=(\w+)""".r
    jobs.map {
      case (Label(w, stage), _) => (w.toInt, stage)
      case (d, _) => fail(s"a crawl job has description '$d'")
    }
  }

  test("job-count guard: the flagship quotes crawl starts no more Spark jobs") {
    // Ceiling = the count measured as below (local[4], AQE on, the fixture
    // corpus already cached) once every table kept across waves went
    // through one primitive (graft.state.Kept) and the final fold became
    // one job: 125 jobs, the same in separate JVMs (307, 190, then 128
    // before). A change that cuts jobs lowers it; nothing may raise it.
    val FlagshipJobCeiling = 125
    val spec = CrawlSpec(startUrls = Seq(SiteFixtures.QuotesBase),
      parserId = "quotes", syncOrder = true, maxWaves = 20)
    val (res, jobs, actions) = crawlJobs(spec)
    assert(res.waves == 10)
    assert(jobs.size <= FlagshipJobCeiling,
      s"the flagship crawl started ${jobs.size} Spark jobs, " +
        s"ceiling $FlagshipJobCeiling")
    // once the seed host has its rules, a wave starts no robots job
    val settled = labels(jobs).filter { case (w, _) => w >= 1 && w <= 9 }
    assert(settled.nonEmpty)
    assert(!settled.exists(_._2 == "robots"), settled.filter(_._2 == "robots"))
    // and no wave probes a count or an emptiness with an action of its
    // own: the crawl runs no Dataset action at all
    assert(actions.isEmpty, actions)
  }

  test("job-count guard: the bloomDedup quotes crawl starts no more Spark jobs") {
    // Measured as the flagship ceiling: 157 jobs (180 while the Bloom
    // merge counted each wave's new urls with a job of its own).
    val BloomJobCeiling = 157
    val spec = CrawlSpec(startUrls = Seq(SiteFixtures.QuotesBase),
      parserId = "quotes", syncOrder = true, maxWaves = 20, bloomDedup = true)
    val (res, jobs, actions) = crawlJobs(spec)
    assert(res.waves == 10)
    assert(jobs.size <= BloomJobCeiling,
      s"the bloomDedup crawl started ${jobs.size} Spark jobs, " +
        s"ceiling $BloomJobCeiling")
    assert(labels(jobs).nonEmpty)
    // one count bootstraps the Bloom from `seen`; each wave's merge builds
    // its increment's filter (`head`) and counts nothing again
    assert(actions.count(_ == "count") == 1 && !actions.contains("isEmpty"),
      actions)
  }

  test("job-count guard: the quotes crawl with a state dir starts no more " +
      "Spark jobs, and commits robots rules only in waves that add them") {
    // Measured as the flagship ceiling: 205 jobs, 20 of them parquet
    // writes of the metrics and lineage increments (204 while the robots
    // rules were rewritten whole every wave and lineage was not committed).
    val StateDirJobCeiling = 205
    val dir = java.nio.file.Files.createTempDirectory("graft-census").toString
    val spec = CrawlSpec(startUrls = Seq(SiteFixtures.QuotesBase),
      parserId = "quotes", syncOrder = true, maxWaves = 20)
    val (res, jobs, _) = crawlJobs(spec, Some(dir))
    assert(res.waves == 10)
    assert(jobs.size <= StateDirJobCeiling,
      s"the crawl with a state dir started ${jobs.size} Spark jobs, " +
        s"ceiling $StateDirJobCeiling")
    assert(labels(jobs).nonEmpty)
    // the seed host's rules arrive in wave 0, and no other wave adds any
    val robotsWaves = res.audit.filter(col("kind") === "robots_request")
      .select("wave").distinct().collect().map(r => s"wave=${r.getInt(0)}")
      .toSeq.sorted
    assert(robotsWaves == Seq("wave=0"))
    assert(new java.io.File(s"$dir/delta/robot_rules").list().toSeq.sorted ==
      robotsWaves)
  }

  test("compile-count guard: settled waves of a second flagship crawl " +
      "compile (almost) nothing") {
    // Every settled wave plans the same code, few enough classes to stay in
    // Spark's default codegen cache (SparkTestBase keeps its size), so once
    // a crawl has run, waves 2-9 of the next reuse the classes of the waves
    // before them. Measured as below (local[4], AQE on, the fixture corpus
    // cached): 0 compiles in waves 2-9, against 589 when every wave
    // inlined its number and the seen union grew a child per wave.
    val SettledCompileCeiling = 40
    val spec = CrawlSpec(startUrls = Seq(SiteFixtures.QuotesBase),
      parserId = "quotes", syncOrder = true, maxWaves = 20)
    pagesDf.count()
    val Label = """wave=(\d+) stage=(\w+)""".r
    def byWave(cs: Seq[CodegenCensus.Compile]): Seq[(Int, String)] =
      cs.collect { case CodegenCensus.Compile(Label(w, _), body) =>
        (w.toInt, body) }
    val first = byWave(CodegenCensus.record(spark)(
      CrawlJob.run(spark, spec, pagesDf))._2)
    val (res, compiles) =
      CodegenCensus.record(spark)(CrawlJob.run(spark, spec, pagesDf))
    assert(res.waves == 10)
    val second = byWave(compiles)
    val settled = second.filter { case (w, _) => w >= 2 && w <= 9 }
    assert(settled.size <= SettledCompileCeiling,
      s"waves 2-9 of the second crawl compiled ${settled.size} classes, " +
        s"ceiling $SettledCompileCeiling")
    // a class a settled wave compiles was compiled by another wave too
    // (evicted, then reused), never code of that one wave only
    val waves = (first.map { case (w, b) => (-1 - w, b) } ++ second)
      .groupBy(_._2).map { case (b, ws) => b -> ws.map(_._1).toSet }
    val once = settled.map(_._2).distinct.filter(b => waves(b).size == 1)
    assert(once.isEmpty, s"${once.size} classes compiled in one wave only: " +
      once.map(_.linesIterator.slice(4, 6).mkString(" ")).mkString(" | "))
  }

  test("robots rules arrive in the wave a deferred host is first granted") {
    // a, b and c enter the frontier together in wave 1; the caps defer b
    // and c (all their urls) past it. Each host's robots_request (and, with
    // a robots.txt, robots_response) row lands in the wave its first url
    // is granted, and the blocked /secret urls are audited in the wave
    // they are granted, also in waves whose hosts all have rules.
    val pages = SiteFixtures.pagesDf(spark, SiteFixtures.deferredRobotsPages)
    def robotsRows(spec: CrawlSpec): Seq[(Int, String, String)] =
      CrawlJob.run(spark, spec, pages).audit
        .filter(col("kind").startsWith("robots_"))
        .select("wave", "kind", "url").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq.sorted
    val base = CrawlSpec(startUrls = Seq("http://hub.example.com/"),
      parserId = "all_links", syncOrder = true, maxWaves = 10)
    def req(w: Int, h: String) =
      (w, "robots_request", s"http://$h.example.com/robots.txt")
    def resp(w: Int, h: String) =
      (w, "robots_response", s"http://$h.example.com/robots.txt")
    def forbidden(w: Int, h: String) =
      (w, "robots_forbidden", s"http://$h.example.com/secret")
    // global cap 2: wave 1 grants a/1, a/2; wave 2 a/3, a/secret; wave 3
    // b/1, c/1; wave 4 c/secret
    assert(robotsRows(base.copy(concurrentRequests = 2)) == Seq(
      req(0, "hub"), req(1, "a"), resp(1, "a"), forbidden(2, "a"),
      req(3, "b"), req(3, "c"), resp(3, "c"), forbidden(4, "c")).sorted)
    // one grant per host, then global cap 2: wave 1 grants a/1, b/1 (c/1
    // loses the cap); wave 2 a/2, c/1; wave 3 a/3, c/secret; wave 4
    // a/secret
    assert(robotsRows(base.copy(hostTokensPerWave = 1,
        concurrentRequests = 2)) == Seq(
      req(0, "hub"), req(1, "a"), resp(1, "a"), req(1, "b"),
      req(2, "c"), resp(2, "c"), forbidden(3, "c"), forbidden(4, "a")).sorted)
  }
}
