package perfbench

import org.apache.spark.sql.SparkSession
import graft.html.HtmlParser
import graft.model.CrawlSpec
import graft.pipeline.{AllLinksParser, RobotsRules}
import graft.state.SeenSet
import graft.url.UrlOps

/** Direct, timed calls into single engine modules on inputs drawn from the
  * `zipf-polite` corpus. Every probe checks its answers:
  * a wrong answer counts as a failed operation. */
object Probes {
  import Layers.Metrics

  /** Items per second of `pass` (which handles `items` items), over repeated
    * passes for at least `minS` seconds after one untimed warm-up pass. */
  private def rate(items: Int, minS: Double)(pass: => Unit): Double = {
    pass
    val start = System.nanoTime()
    var n = 0L
    while (Main.secs(start) < minS) { pass; n += items }
    n / Main.secs(start)
  }

  def run(spark: SparkSession, corpus: ZipfCorpus, bfs: ZipfCorpus.Bfs, trace: Trace,
      m: Metrics, tally: Tally): Unit = {
    val sample = corpus.pages.filter(_.contentType.startsWith("text/html")).take(1000)
      .map(p => (p.url, new String(p.html, "UTF-8")))
    val bytes = sample.map(_._2.getBytes("UTF-8").length.toLong).sum
    val ua = CrawlSpec.DefaultUserAgent

    trace.span("probe:html") {
      val r = rate(sample.size, 1.0) { sample.foreach(p => HtmlParser.parse(p._2)) }
      m("html.parse_pages_per_s") = (r, "1/s")
      m("html.parse_bytes_per_s") = (r * bytes / sample.size, "B/s")
    }
    val index = corpus.urls.zipWithIndex.toMap
    trace.span("probe:parse") {
      val links = sample.map(p => AllLinksParser.parse(p._1, p._2, true, Map.empty).links.map(_.url))
      tally.record(sample.zip(links).collectFirst {
        case ((u, _), l) if l != corpus.outLinks(index(u)).map(corpus.urls) =>
          s"AllLinksParser found $l on $u"
      })
      m("pipeline.parse_pages_per_s") = (rate(sample.size, 1.0) {
        sample.foreach(p => AllLinksParser.parse(p._1, p._2, true, Map.empty))
      }, "1/s")
    }
    trace.span("probe:url") {
      val pairs = sample.flatMap { case (u, _) =>
        corpus.hrefs(index(u)).zip(corpus.outLinks(index(u))).map { case (h, j) => (u, h, j) }
      }
      tally.record(pairs.collectFirst {
        case (u, h, j) if UrlOps.canonicalize(UrlOps.resolveLink(u, h)) != corpus.urls(j) =>
          s"UrlOps resolved $h on $u wrongly"
      })
      m("url.resolve_per_s") = (rate(pairs.size, 1.0) {
        pairs.foreach { case (u, h, _) => UrlOps.canonicalize(UrlOps.resolveLink(u, h)) }
      }, "1/s")
    }
    trace.span("probe:robots") {
      def allowed(u: String): Boolean = RobotsRules.allowed(corpus.pathOf(u),
        RobotsRules.group(corpus.robotsBody.getOrElse(corpus.hostOf(u), ""), ua).rules)
      val urls = corpus.urls.take(2000)
      tally.record(urls.find(u => allowed(u) == corpus.blocked(u))
        .map(u => s"RobotsRules decided $u wrongly"))
      m("pipeline.robots_checks_per_s") = (rate(urls.size, 1.0) { urls.foreach(allowed) }, "1/s")
    }
    seenSet(spark, corpus, bfs, trace, m, tally)
  }

  /** The seen-set layer on one wave of the reference BFS: the plain
    * left_anti join, the Bloom prefilter and the cuckoo prefilter, each
    * checked equal to the anti-join. */
  private def seenSet(spark: SparkSession, corpus: ZipfCorpus, bfs: ZipfCorpus.Bfs,
      trace: Trace, m: Metrics, tally: Tally): Unit = {
    import spark.implicits._
    val w = bfs.waves.size / 2
    val seen = bfs.waves.take(w + 1).flatten
    val cands = corpus.candidatesOf(bfs, w)
    val seenDf = seen.toDF("url").cache()
    val candDf = cands.toDF("url").cache()
    seenDf.count(); candDf.count()
    def timed(name: String)(f: => Seq[String]): (Seq[String], Double) = {
      val runs = (1 to 3).map { _ =>
        val start = System.nanoTime()
        val out = trace.span(name)(f)._1
        (out, Main.secs(start))
      }
      (runs.head._1.sorted, Main.median(runs.map(_._2)))
    }
    trace.span("probe:seen_set") {
      val (anti, antiS) = timed("state:antijoin") {
        candDf.join(seenDf, Seq("url"), "left_anti").as[String].collect().toSeq
      }
      val (bloom, bloomS) = timed("state:bloom") {
        SeenSet.filterNew(candDf, SeenSet.build(seenDf, seen.size)).as[String].collect().toSeq
      }
      val (cuckoo, cuckooS) = timed("state:cuckoo") {
        SeenSet.filterNewCuckoo(candDf, SeenSet.buildCuckooState(seenDf, seen.size), seenDf)
          .as[String].collect().toSeq
      }
      tally.record(
        if (anti.toSet != bfs.waves(w + 1).toSet) Some("anti-join new set differs from the BFS")
        else if (bloom != anti) Some("Bloom-filtered dedup differs from the anti-join")
        else if (cuckoo != anti) Some("cuckoo-filtered dedup differs from the anti-join")
        else None)
      val layered = SeenSet.build(seenDf, seen.size)
      m("state.dedup_new_ratio") = (anti.distinct.size.toDouble / cands.size, "ratio")
      m("state.antijoin_s") = (antiS, "s")
      m("state.bloom_filter_s") = (bloomS, "s")
      m("state.cuckoo_filter_s") = (cuckooS, "s")
      m("state.bloom_maybe_ratio") =
        (cands.count(layered.bloom.mightContain).toDouble / cands.size, "ratio")
    }
    seenDf.unpersist(); candDf.unpersist()
  }
}
