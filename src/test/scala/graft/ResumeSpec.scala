package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files
import graft.fixtures.SiteFixtures
import graft.model.CrawlSpec
import graft.pipeline.CrawlJob
import graft.state.StateStore

/** Exact resume from checkpoint: no re-fetches, no lost frontier entries
  * (BASELINE.json north_star; Dummy-cache semantics cache/cache.go:136-173).
  */
class ResumeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private lazy val pagesDf = SiteFixtures.pagesDf(spark).cache()

  test("kill after wave 2, resume, end state identical to an uninterrupted run") {
    val dir = Files.createTempDirectory("graft-state").toString
    val full = CrawlSpec(startUrls = Seq(SiteFixtures.QuotesBase),
      parserId = "quotes", maxWaves = 20)

    // uninterrupted reference run
    val direct = CrawlJob.run(spark, full, pagesDf)
    val directRecs = direct.records.orderBy(col("wave"), col("rank"), col("seq"))
      .select("json").collect().map(_.getString(0)).toSeq

    // "crash" after 3 waves
    val partial = CrawlJob.run(spark, full.copy(maxWaves = 3), pagesDf,
      stateDir = Some(dir))
    assert(StateStore.latestCommitted(dir).contains(2))
    val partialOrder = partial.crawlOrder.count()

    // resume from the committed snapshot
    val resumed = CrawlJob.run(spark, full, pagesDf, stateDir = Some(dir))
    val resumedRecs = resumed.records.orderBy(col("wave"), col("rank"), col("seq"))
      .select("json").collect().map(_.getString(0)).toSeq

    assert(resumedRecs == directRecs)
    assert(resumed.seen.collect().map(_.getString(0)).toSet ==
      direct.seen.collect().map(_.getString(0)).toSet)
    assert(resumed.waves == direct.waves)

    // no re-fetches: every url issued exactly once overall (quotes chain has
    // no retries), and the resumed order strictly extends the partial order
    val order = resumed.crawlOrder.collect().map(r => (r.getInt(0), r.getString(2)))
    assert(order.length == order.distinct.length)
    assert(order.map(_._2).length == order.map(_._2).distinct.length)
    assert(resumed.crawlOrder.filter(col("wave") < 3).count() == partialOrder)
  }

  test("kill just before a deferred host is first granted, resume: " +
      "identical to an uninterrupted run") {
    // Wave 3 is the first to grant b and c (the global cap deferred them
    // since wave 1), so the resumed crawl's first wave must fetch their
    // robots rules, knowing only the committed rules of hub and a.
    val pages = SiteFixtures.pagesDf(spark, SiteFixtures.deferredRobotsPages)
    val full = CrawlSpec(startUrls = Seq("http://hub.example.com/"),
      parserId = "all_links", syncOrder = true, concurrentRequests = 2,
      maxWaves = 10)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    val direct = CrawlJob.run(spark, full, pages)
    val dir = Files.createTempDirectory("graft-state-robots").toString
    CrawlJob.run(spark, full.copy(maxWaves = 3), pages, stateDir = Some(dir))
    assert(StateStore.latestCommitted(dir).contains(2))
    val resumed = CrawlJob.run(spark, full, pages, stateDir = Some(dir))
    assert(direct.audit.filter(col("kind") === "robots_request" &&
      col("wave") === 3).count() == 2)
    assert(rows(resumed.records) == rows(direct.records))
    assert(rows(resumed.audit) == rows(direct.audit))
    assert(rows(resumed.crawlOrder) == rows(direct.crawlOrder))
    assert(rows(resumed.seen) == rows(direct.seen))
    assert(resumed.waves == direct.waves)
  }

  /** Kill the crawl after every wave but its last and resume it: each
    * resumed crawl ends with the records, audit, crawl order, seen set,
    * metrics and lineage of the uninterrupted one, and commits the same
    * tables: the last snapshots (cookie jar, and the AIMD caps or trap
    * counts once their feature has started them) and every delta table
    * read back at the last committed wave.
    */
  private def killAtEveryWave(spec: CrawlSpec,
      pages: org.apache.spark.sql.DataFrame): Unit = {
    def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    def rows(r: CrawlJob.CrawlResult): Seq[Seq[String]] =
      Seq(r.records, r.audit, r.crawlOrder, r.seen, r.metrics, r.lineage)
        .map(sorted)
    def committed(dir: String): Map[String, Seq[String]] = {
      val w = StateStore.latestCommitted(dir).get
      new java.io.File(s"$dir/wave=$w").list().toSeq
        .filter(_ != "frontier") // the last frontier is empty
        .map(t => t -> sorted(StateStore.read(spark, dir, w, t))).toMap ++
        StateStore.deltaTables(dir).map(t =>
          s"delta/$t" -> sorted(StateStore.readDeltas(spark, dir, t, w).get))
    }
    val directDir = Files.createTempDirectory("graft-state-direct").toString
    val direct = CrawlJob.run(spark, spec, pages, stateDir = Some(directDir))
    val want = rows(direct)
    val wantCommitted = committed(directDir)
    assert(direct.waves > 2)
    for (k <- 1 until direct.waves) {
      val dir = Files.createTempDirectory(s"graft-state-kill$k").toString
      CrawlJob.run(spark, spec.copy(maxWaves = k), pages, stateDir = Some(dir))
      assert(StateStore.latestCommitted(dir).contains(k - 1))
      val resumed = CrawlJob.run(spark, spec, pages, stateDir = Some(dir))
      assert(rows(resumed) == want, s"killed after wave ${k - 1}")
      assert(committed(dir) == wantCommitted, s"killed after wave ${k - 1}")
      assert(resumed.waves == direct.waves)
    }
  }

  test("robots rules in every wave, cookies on: killed at every wave " +
      "boundary, resume keeps the rules and the jar") {
    // a chain of hosts, one new host a wave: each wave fetches the rules
    // of its host (every second host disallows /private/) and each page
    // sets a Domain cookie that every later host carries. Rules arrive in
    // 9 waves, one more than the 8 the robots table once compacted after.
    val t = java.sql.Timestamp.valueOf("2023-06-01 00:00:00")
    def page(url: String, body: String, setCookie: String = null) = {
      val html = s"<html><body>$body</body></html>"
      SiteFixtures.Page(url, t,
        html.getBytes(java.nio.charset.StandardCharsets.UTF_8), html, "en",
        200, "text/html; charset=utf-8", null, setCookie)
    }
    def robots(url: String) = SiteFixtures.Page(url, t,
      "User-agent: *\nDisallow: /private/\n".getBytes("UTF-8"), "", "en",
      200, "text/plain", null)
    val hosts = 9
    val chain = (0 until hosts).flatMap { i =>
      val h = s"http://h$i.chain.example.com"
      val next =
        if (i + 1 < hosts) s"""<a href="http://h${i + 1}.chain.example.com/">n</a>"""
        else ""
      Seq(page(s"$h/", s"""$next<a href="/private/x">p</a>""",
          s"c$i=v$i; Domain=chain.example.com"),
        page(s"$h/private/x", "<p>private</p>")) ++
        (if (i % 2 == 0) Seq(robots(s"$h/robots.txt")) else Nil)
    }
    killAtEveryWave(CrawlSpec(
      startUrls = Seq("http://h0.chain.example.com/"),
      parserId = "cookie_echo", maxWaves = 20),
      SiteFixtures.pagesDf(spark, chain))
  }

  test("adaptiveRate: killed at every wave boundary, resume keeps the " +
      "AIMD host caps") {
    import spark.implicits._
    // a slow host's cap halves every wave, a fast host's grows: a resumed
    // crawl that forgot the caps would grant both the initial cap again
    def site(host: String, latency: Long) =
      (s"http://$host/", 200, (1 to 20).map(i => s"""<a href="/p/$i">x</a>""")
        .mkString("<html><body>", "", "</body></html>"), latency) +:
        (1 to 20).map(i => (s"http://$host/p/$i", 200,
          s"<html><body><p>leaf $i</p></body></html>", latency))
    val corpus = (site("slow.example.com", 5000L) ++
        site("fast.example.com", 50L))
      .map { case (u, st, html, lat) =>
        (u, st, "text/html; charset=utf-8", Option.empty[String],
          html.getBytes("UTF-8"), lat)
      }
      .toDF("url", "status", "content_type", "location", "html", "latency_ms")
    killAtEveryWave(CrawlSpec(
      startUrls = Seq("http://slow.example.com/", "http://fast.example.com/"),
      parserId = "all_links", robotsTxtDisabled = true,
      adaptiveRate = true, maxWaves = 6), corpus)
  }

  test("trapTemplateBudget: killed at every wave boundary, resume keeps " +
      "the per-template counts") {
    // a 9-page chain on one template: the budget stops it after 3 grants;
    // a resumed crawl that forgot the counts would grant 3 more
    val chain = (1 to 9).map { i =>
      val html = s"""<html><body><a href="/cal/${i + 1}">n</a></body></html>"""
      SiteFixtures.Page(s"http://cal.example.com/cal/$i",
        java.sql.Timestamp.valueOf("1997-01-01 00:00:00"),
        html.getBytes(java.nio.charset.StandardCharsets.UTF_8), html, "en",
        200, "text/html; charset=utf-8", null)
    }
    killAtEveryWave(CrawlSpec(startUrls = Seq("http://cal.example.com/cal/1"),
      parserId = "all_links", maxWaves = 12, trapTemplateBudget = Some(3)),
      SiteFixtures.pagesDf(spark, chain))
  }

  test("delta commits: wave N writes ONLY wave-N increments for accumulators") {
    val dir = Files.createTempDirectory("graft-state-delta").toString
    val spec = CrawlSpec(startUrls = Seq(SiteFixtures.QuotesBase),
      parserId = "quotes", maxWaves = 3)
    val res = CrawlJob.run(spark, spec, pagesDf, stateDir = Some(dir))

    // each accumulator increment dir holds exactly its own wave's rows —
    // commit volume is O(wave output), not O(crawl history)
    for (w <- 0 until 3; table <- Seq("audit", "crawl_order", "records")) {
      val delta = spark.read.parquet(s"$dir/delta/$table/wave=$w")
      assert(delta.filter(col("wave") =!= w).count() == 0,
        s"$table wave=$w delta contains foreign-wave rows")
      assert(delta.count() ==
        (table match {
          case "audit" => res.audit
          case "crawl_order" => res.crawlOrder
          case _ => res.records
        }).filter(col("wave") === w).count(),
        s"$table wave=$w delta incomplete")
    }
    // seen deltas (url-only) partition the final seen set exactly
    val seenUnion = (0 until 3)
      .map(w => spark.read.parquet(s"$dir/delta/seen/wave=$w"))
      .reduce(_ union _)
    assert(seenUnion.count() == seenUnion.distinct().count())
    assert(seenUnion.count() == res.seen.count())
  }

  test("time travel: asOf(wave) reads exactly what wave N committed") {
    val dir = Files.createTempDirectory("graft-state-tt").toString
    val spec = CrawlSpec(startUrls = Seq(SiteFixtures.QuotesBase),
      parserId = "quotes", maxWaves = 5)
    val res = CrawlJob.run(spark, spec, pagesDf, stateDir = Some(dir))

    // accumulator as of wave 2 = all increments ≤ 2, untouched by waves 3-4
    val recAsOf2 = StateStore.asOf(spark, dir, 2, "records", delta = true).get
    assert(recAsOf2.collect().map(_.toString).toSet ==
      res.records.filter(col("wave") <= 2).collect().map(_.toString).toSet)

    // snapshot table as of wave 1 = the live frontier wave 1 committed
    val frontier1 = StateStore.asOf(spark, dir, 1, "frontier", delta = false)
    assert(frontier1.exists(_.count() > 0))

    // an uncommitted wave is invisible
    assert(StateStore.asOf(spark, dir, 99, "records", delta = true).isEmpty)
  }

  test("legacy pre-delta checkpoint fails LOUDLY instead of resuming empty") {
    // round-3 advice: the old layout stored accumulators as wave=N
    // snapshots; the delta reader would silently resume with an empty seen
    // set (re-fetching everything) and drop all prior records
    val dir = Files.createTempDirectory("graft-state-legacy").toString
    import spark.implicits._
    val legacySeen = Seq("http://quotes.toscrape.com/").toDF("url")
    val legacyFrontier = Seq.empty[(String, String)].toDF("url", "host")
    StateStore.commitWave(dir, 0, snapshots = Map(
      "frontier" -> legacyFrontier, "robot_rules" -> legacyFrontier,
      "seen" -> legacySeen)) // seen as a SNAPSHOT = the legacy layout
    val spec = CrawlSpec(startUrls = Seq(SiteFixtures.QuotesBase),
      parserId = "quotes", maxWaves = 3)
    val e = intercept[IllegalStateException] {
      CrawlJob.run(spark, spec, pagesDf, stateDir = Some(dir))
    }
    assert(e.getMessage.contains("legacy pre-delta layout"))
  }

  test("a checkpoint that keeps the robots rules as a wave=N snapshot " +
      "fails LOUDLY instead of resuming without rules") {
    // the layout before the rules were committed as increments: one
    // snapshot of every rule at wave=N, no robot_rules deltas
    val dir = Files.createTempDirectory("graft-state-rules").toString
    val spec = CrawlSpec(startUrls = Seq(SiteFixtures.QuotesBase),
      parserId = "quotes", maxWaves = 3)
    CrawlJob.run(spark, spec, pagesDf, stateDir = Some(dir))
    val w = StateStore.latestCommitted(dir).get
    StateStore.readDeltas(spark, dir, "robot_rules", w).get
      .write.parquet(s"$dir/wave=$w/robot_rules")
    Files.walk(java.nio.file.Paths.get(s"$dir/delta/robot_rules"))
      .sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    val e = intercept[IllegalStateException] {
      CrawlJob.run(spark, spec.copy(maxWaves = 20), pagesDf,
        stateDir = Some(dir))
    }
    assert(e.getMessage.contains("legacy pre-delta layout"))
    assert(e.getMessage.contains("robot_rules"))
  }

  test("a table that commits nothing in a wave drops the increment a " +
      "crashed run left at that wave") {
    // the robots rules commit only in waves that add rules: a stale
    // increment of a later wave would otherwise be read back as committed
    val dir = Files.createTempDirectory("graft-state-stale").toString
    val spec = CrawlSpec(startUrls = Seq(SiteFixtures.QuotesBase),
      parserId = "quotes", maxWaves = 3)
    CrawlJob.run(spark, spec, pagesDf, stateDir = Some(dir))
    StateStore.readDeltas(spark, dir, "robot_rules", 2).get
      .write.parquet(s"$dir/delta/robot_rules/wave=3")
    CrawlJob.run(spark, spec.copy(maxWaves = 5), pagesDf, stateDir = Some(dir))
    assert(StateStore.latestCommitted(dir).contains(4))
    assert(new java.io.File(s"$dir/delta/robot_rules").list().toSeq ==
      Seq("wave=0"))
  }

  test("delta compaction: resume after compactDeltas is byte-identical, " +
      "crashed-compactor leftovers are ignored, expired history fails loudly") {
    val dir = Files.createTempDirectory("graft-state-compact").toString
    val full = CrawlSpec(startUrls = Seq(SiteFixtures.QuotesBase),
      parserId = "quotes", maxWaves = 20)
    val direct = CrawlJob.run(spark, full, pagesDf)
    val directRecs = direct.records.orderBy(col("wave"), col("rank"), col("seq"))
      .select("json").collect().map(_.getString(0)).toSeq

    // crash after 5 waves, then run the maintenance compactor on every
    // accumulator (the Iceberg rewrite_data_files + expiration analog)
    CrawlJob.run(spark, full.copy(maxWaves = 5), pagesDf, stateDir = Some(dir))
    val w = StateStore.latestCommitted(dir).get
    StateStore.deltaTables(dir)
      .foreach(t => StateStore.compactDeltas(spark, dir, t, w))
    // covered wave dirs are gone; one base remains
    val seenDir = new java.io.File(s"$dir/delta/seen")
    assert(seenDir.listFiles().map(_.getName).sorted.toSeq == Seq(s"base=$w"))

    // a crashed SECOND compactor: stray tmp dir + a re-materialized covered
    // wave dir must both be invisible to readers
    Files.createDirectories(java.nio.file.Paths.get(
      s"$dir/delta/seen/_base_tmp_99"))
    StateStore.read(spark, dir, w, "frontier").limit(1).write
      .mode("overwrite").parquet(s"$dir/delta/records/wave=0")

    val resumed = CrawlJob.run(spark, full, pagesDf, stateDir = Some(dir))
    val resumedRecs = resumed.records.orderBy(col("wave"), col("rank"), col("seq"))
      .select("json").collect().map(_.getString(0)).toSeq
    assert(resumedRecs == directRecs)
    assert(resumed.seen.collect().map(_.getString(0)).toSet ==
      direct.seen.collect().map(_.getString(0)).toSet)
    // every table compacted, the robots rules, metrics and lineage too
    assert(StateStore.deltaTables(dir) == Seq("audit", "crawl_order",
      "lineage", "metrics", "records", "robot_rules", "seen"))
    def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    for ((got, want) <- Seq(resumed.audit -> direct.audit,
        resumed.crawlOrder -> direct.crawlOrder,
        resumed.metrics -> direct.metrics, resumed.lineage -> direct.lineage))
      assert(sorted(got) == sorted(want))

    // time travel below the compaction horizon is EXPIRED — loud failure,
    // never a silent over-read
    val ex = intercept[IllegalStateException] {
      StateStore.readDeltas(spark, dir, "seen", w - 1)
    }
    assert(ex.getMessage.contains("compacted"))
  }

  test("resume with nothing committed starts cold") {
    val dir = Files.createTempDirectory("graft-state-empty").toString
    val spec = CrawlSpec(startUrls = Seq(SiteFixtures.QuotesBase),
      parserId = "quotes", maxWaves = 2)
    val res = CrawlJob.run(spark, spec, pagesDf, stateDir = Some(dir))
    assert(res.records.count() == 20)
    assert(StateStore.latestCommitted(dir).contains(1))
  }
}
