package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.fixtures.SiteFixtures
import graft.model.CrawlSpec
import graft.pipeline.CrawlJob

/** One complete crawl's outputs, collected into the benchmark JVM. */
final case class CrawlOut(
    res: CrawlJob.CrawlResult,
    records: Seq[(Int, Long, Int, String)], // wave, rank, seq, json
    order: Seq[(Int, Long, String)],        // wave, rank, url
    seen: Set[String]) {
  def crawledUrls: Seq[String] = order.map(_._3)
}

/** A crawl workload: inputs made from the seed, one crawl call into the
  * engine, and the check its outputs must pass. */
trait Workload {
  def name: String
  def spec: CrawlSpec
  /** Generate the inputs and hand the engine its DataFrame (cached when the
    * workload reads a generated corpus). Called once per set-up pass. */
  def prepare(spark: SparkSession): Unit
  def pages: DataFrame
  /** A short crawl for the tracing-overhead triple. */
  def overheadSpec: CrawlSpec
  /** The traced run's layer calls beyond the crawl itself. */
  def traceLayers(spark: SparkSession, seed: Long, runDir: String, full: Option[CrawlOut],
      trace: Trace, m: Layers.Metrics, tally: Tally): Unit
  /** Per-layer metrics this workload does not exercise; its traced run
    * reports them as 0. */
  def notExercised: Seq[(String, String)]
  /** What is wrong with the output of a crawl under `s`; None when it
    * passes. */
  def check(out: CrawlOut, s: CrawlSpec): Option[String]

  def crawl(spark: SparkSession, s: CrawlSpec = spec,
      stateDir: Option[String] = None): CrawlOut = {
    val res = CrawlJob.run(spark, s, pages, stateDir = stateDir)
    val records = res.records.orderBy(col("wave"), col("rank"), col("seq"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getString(3))).toSeq
    val order = res.crawlOrder.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSeq
    val seen = res.seen.collect().map(_.getString(0)).toSet
    CrawlOut(res, records, order, seen)
  }
}

/** q17's spec: the 10-page quotes pagination chain in sync-order parity
  * mode — 10 waves of one page, so the wall time is the engine's fixed
  * cost per wave. */
final class QuotesWorkload extends Workload {
  val name = "quotes"
  val spec = CrawlSpec(startUrls = Seq(SiteFixtures.QuotesBase),
    parserId = "quotes", syncOrder = true, maxWaves = 20)
  private var df: DataFrame = _
  def pages: DataFrame = df
  def prepare(spark: SparkSession): Unit = df = SiteFixtures.pagesDf(spark)

  /** The closed form q17's oracle encodes: quote g sits on page g/10 + 1,
    * is crawled at wave g/10 and carries Go-map-ordered compact json. */
  val expected: Seq[(Int, Long, Int, String)] = (0 until 100).map { g =>
    val tags = (0 to g % 3)
      .map(j => "\"" + SiteFixtures.tagNames((g + j) % 7) + "\"").mkString(",")
    val json = s"""{"author":"${SiteFixtures.authors(g % 7)}","number":${g % 10},""" +
      s""""tags":[$tags],"text":"“Deterministic wisdom #$g — simplicity & scale.”"}"""
    (g / 10, if (g < 10) 0L else 1L, g % 10, json)
  }

  /** The first two pages of the chain. */
  def overheadSpec: CrawlSpec = spec.copy(maxWaves = 2)

  def traceLayers(spark: SparkSession, seed: Long, runDir: String, full: Option[CrawlOut],
      trace: Trace, m: Layers.Metrics, tally: Tally): Unit =
    Faces.fixtures(spark, trace, m, tally)
  /** The quotes crawl parses no generated pages and keeps no state. */
  def notExercised: Seq[(String, String)] =
    Layers.ProbeMetrics ++ Layers.StateDirMetrics ++ Faces.TableFaces.map(f => s"queries.${f}_s" -> "s")

  /** A crawl stopped after `s.maxWaves` waves holds that prefix. */
  def check(out: CrawlOut, s: CrawlSpec): Option[String] = {
    val pages = math.min(10, s.maxWaves)
    val want = expected.filter(_._1 < pages)
    if (out.records != want) {
      val bad = out.records.zipAll(want, null, null).find(p => p._1 != p._2)
      Some(s"quotes records differ from the closed form (first: $bad)")
    } else if (out.crawledUrls.distinct.size != pages || out.order.size != pages)
      Some(s"quotes crawl issued ${out.order.size} fetches, expected $pages pages once each")
    else None
  }
}

/** The generated Zipf-host corpus, crawled in the default scale mode with
  * a per-host token cap that binds on the head hosts only. */
final class ZipfWorkload(seed: Long) extends Workload {
  import ZipfWorkload._
  val name = "zipf-polite"
  var corpus: ZipfCorpus = _
  var bfs: ZipfCorpus.Bfs = _
  private var df: DataFrame = _
  def pages: DataFrame = df
  def spec: CrawlSpec = CrawlSpec(startUrls = corpus.seeds, parserId = "all_links",
    hostTokensPerWave = HostTokens)

  def prepare(spark: SparkSession): Unit = {
    if (df != null) df.unpersist(blocking = true)
    corpus = ZipfWorkload.corpus(seed)
    bfs = corpus.referenceBfs
    df = SiteFixtures.pagesDf(spark, corpus.pages).cache()
    df.count()
  }

  /** The seed wave alone. */
  def overheadSpec: CrawlSpec = spec.copy(maxWaves = 1)

  /** Layer probes on this corpus, a kill-and-resume from a state dir, and
    * the table faces. */
  def traceLayers(spark: SparkSession, seed: Long, runDir: String, full: Option[CrawlOut],
      trace: Trace, m: Layers.Metrics, tally: Tally): Unit = {
    Probes.run(spark, corpus, bfs, trace, m, tally)
    Layers.resume(spark, this, full, s"$runDir/state", trace, m, tally)
    Faces.tables(spark, seed, s"$runDir/faces", trace, m, tally)
  }
  def notExercised: Seq[(String, String)] =
    ("queries.PipelineQueries_s" -> "s") +: Faces.FixtureFaces.map(f => s"queries.${f}_s" -> "s")

  /** A full crawl must match the reference BFS; a crawl stopped after the
    * seed wave must match its first wave (the token cap does not bind on
    * the 60-page seed level, so the BFS and the crawl agree there). */
  def check(out: CrawlOut, s: CrawlSpec): Option[String] = {
    val full = s.maxWaves > 1
    val crawled = if (full) bfs.crawled else bfs.waves.head.filterNot(corpus.blocked).toSet
    val seen = if (full) bfs.seen else bfs.waves.take(2).flatten.toSet
    val wantBlocked = if (full) bfs.robotsBlocked.size else bfs.waves.head.count(corpus.blocked)
    val recordUrls = out.records.map(_._4.stripPrefix("[\"").stripSuffix("\"]"))
    val blocked = out.res.audit.filter(col("kind") === "robots_forbidden").count()
    if (recordUrls.toSet != crawled)
      Some(s"crawled set differs from the reference BFS: ${recordUrls.toSet.size} " +
        s"vs ${crawled.size} pages; extra ${(recordUrls.toSet diff crawled).take(2)}, " +
        s"missing ${(crawled diff recordUrls.toSet).take(2)}")
    else if (recordUrls.size != recordUrls.distinct.size ||
        out.crawledUrls.size != out.crawledUrls.distinct.size)
      Some("a url was crawled twice")
    else if (out.seen != seen)
      Some(s"seen set differs from the reference BFS (${out.seen.size} vs ${seen.size})")
    else if (blocked != wantBlocked)
      Some(s"robots blocked $blocked urls, the reference BFS $wantBlocked")
    else if (full && out.res.waves >= s.maxWaves)
      Some(s"the crawl hit maxWaves=${s.maxWaves} before its frontier emptied")
    else if (full && deferred(out).isEmpty)
      Some(s"hostTokensPerWave=${s.hostTokensPerWave} deferred no url")
    else None
  }

  /** Urls crawled in a later wave than the reference BFS reaches them: the
    * ones the per-host token cap deferred. */
  def deferred(out: CrawlOut): Seq[String] = {
    val bfsWave = bfs.waves.zipWithIndex.flatMap { case (us, w) => us.map(_ -> w) }.toMap
    out.order.collect { case (w, _, u) if bfsWave.get(u).exists(_ < w) => u }
  }
}

object ZipfWorkload {
  /** Link-level sizes: 60 seeds, then 700 and 240 pages, 1,000 in all. */
  val Levels = Seq(60, 700, 240)
  val Hosts = 60
  val Forward = 4
  val Back = 2
  val Skew = 1.0
  /** The head host holds ~21% of the pages: ~150 of the 700-page level,
    * against ≤ 75 for any other host on any level and ~80 for the head
    * host in the next wave with its deferred urls, so the cap binds on the
    * head host in the peak wave only. */
  val HostTokens = 120

  def corpus(seed: Long): ZipfCorpus =
    ZipfCorpus.generate(seed, Levels, Hosts, Forward, Back, Skew)
}
