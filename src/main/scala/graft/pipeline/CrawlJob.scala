package graft.pipeline

import java.time.Instant
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.CrawlSpec
import graft.rfc2616.Freshness
import graft.state.{Kept, StateStore}
import graft.url.UrlOps

/** The crawl engine: Geziyor's whole goroutine pipeline re-expressed as a
  * deterministic micro-batch loop of DataFrame transforms (SURVEY.md §3.1).
  *
  * One wave = one BFS generation, run as named stages over one
  * [[WaveState]] (the reference's middleware chain, SURVEY.md §1): gate
  * (per-host politeness grant, global wave cap) → robots (rules for new
  * hosts, gate) → request chain (cookies, custom middlewares, RFC2616
  * cache decision) → fetch (corpus join, redirects, 304 merge) → respond
  * (retries, action programs, response middlewares, WARC) → extract
  * (parse, links, AllowedDomains) → dedup (first-wins, seen anti-join) →
  * assemble (next frontier) → account (audit, lineage, state commit).
  * Each optional feature is a method the loop calls only when its spec
  * field is on.
  *
  * Middleware-order fidelity (geziyor.go:63-68,121-130): AllowedDomains runs
  * BEFORE dedup (blocked-domain urls never enter the seen set); robots runs
  * AFTER dedup (blocked urls ARE in the seen set); custom request
  * middlewares run LAST in the request chain (appended after the built-ins,
  * geziyor.go:128-130); retries re-enter the client only (no re-dedup, no
  * politeness token, middleware chain not re-run — client/client.go:94-121
  * recursion semantics).
  *
  * Scale design: every per-wave step is a narrow DataFrame op —
  *  - the seen-set anti-join and fetch join both shuffle on url, so AQE can
  *    reuse/coalesce partitions; at 10^10 urls the seen set lives in the
  *    Parquet state table, prefiltered (CrawlSpec.bloomDedup) by the one
  *    Bloom `SeenSet.Sketch` the crawl holds from first probe to exit;
  *  - the politeness grant and the global concurrency cap are both the
  *    exact two-phase salted top-k ([[TopK]]), so by DEFAULT
  *    (syncOrder=false) no per-wave window ever ranks an unbounded input
  *    on a single partition;
  *  - robots rules and the cookie jar are one row per host → broadcast;
  *  - state that outlives its wave is [[graft.state.Kept]], which cuts
  *    lineage so plan analysis stays O(1) in wave count (on a cluster:
  *    reliable checkpoint / state table);
  *  - the loop's bookkeeping counts are counted by the jobs that fill its
  *    kept snapshots ([[graft.state.Kept.fill]]), never asked for by a
  *    job of their own: the frontier's size, its rows of hosts
  *    without robots rules and its waves ride the frontier checkpoint, the
  *    dispatched rows and their per-partition lineage the dispatch
  *    checkpoint, each redirect hop's follow-up rows and Set-Cookie rows
  *    the hop's;
  *  - every settled wave plans the same code (see [[WaveState]]), so its
  *    generated classes stay in Spark's codegen cache from wave to wave.
  *
  * Every job carries the Spark job description `wave=N stage=S`.
  */
object CrawlJob {

  final case class CrawlResult(
      records: DataFrame,    // wave, rank, seq, json
      audit: DataFrame,      // wave, kind, method, status, host, url, detail
      seen: DataFrame,       // url
      crawlOrder: DataFrame, // wave, rank, url  (issued fetches, determ. order)
      metrics: DataFrame,    // wave, metric, value — per-wave counters
      lineage: DataFrame,    // wave, partition_id, n_rows — granted-set lineage
      waves: Int)

  private val RedirectStatuses = Seq(301, 302, 303, 307, 308)

  private val JobDescription = "spark.job.description"

  // TopK salt buckets of the politeness grant and the global wave cap;
  // url-hash buckets of the scale-mode rank (see bucketRank)
  private val SkewSaltBuckets = 8
  private val CapBuckets = 32
  private val RankBuckets = 1024

  // AIMD controller (CrawlSpec.adaptiveRate): slow-response threshold,
  // a new host's cap, the cap ceiling
  private val AdaptiveLatencyMs = 2000L
  private val AdaptiveInitialCap = 8L
  private val AdaptiveMaxCap = 64L

  // WARC archive (CrawlSpec.warcArchiveDir): identical payloads within a
  // wave become revisit records; records are written uncompressed
  private val WarcDedup = true
  private val WarcGzip = false

  /** The corpus columns a fetched row carries: the one template for the
    * empty fetch accumulator, the redirect drop list and cache-served rows.
    */
  private val FetchCols = Seq(
    "p_status" -> "int", "p_ct" -> "string", "p_html" -> "binary",
    "p_text" -> "string", "p_setck" -> "string", "p_etag" -> "string",
    "p_lastmod" -> "string", "p_latency" -> "long",
    "p_warc_ts" -> "timestamp")

  private def withFetchCols(df: DataFrame,
      set: Map[String, Column] = Map.empty): DataFrame =
    FetchCols.foldLeft(df) { case (d, (name, dt)) =>
      d.withColumn(name, set.getOrElse(name, lit(null).cast(dt)))
    }

  /** Deterministic per-(url, wave) politeness delay in ms
    * (middleware/delay.go:20-24: uniform in [0.5d, 1.5d) when randomized).
    * md5-derived so any engine (and the DuckDB oracle) reproduces it.
    * 12 hex digits = 48 bits of seed: enough that the modulus covers any
    * realistic delay (4 digits capped the range at 65535ms and carried
    * visible modulo bias); still well inside BIGINT in Spark and DuckDB.
    */
  private[graft] def delayExpr(d: Long, random: Boolean): Column =
    if (!random) lit(d)
    else lit(d / 2) +
      conv(substring(md5(concat_ws(":", col("url"), col("wave"))), 1, 12),
        16, 10).cast("long") % d

  /** Scale-mode frontier rank: unique, deterministic and P-way parallel,
    * not a global order — url-hash bucket · 2^40 + row number by `order`.
    */
  private def bucketRank(order: Column*): Column = {
    val bucket = pmod(hash(col("url")), lit(RankBuckets))
    bucket.cast("long") * lit(1L << 40) +
      row_number().over(Window.partitionBy(bucket).orderBy(order: _*))
        .cast("long")
  }

  /** Audit rows (wave, kind, method, status, host, url, detail). */
  private def auditRows(df: DataFrame, kind: String,
      status: Column = lit(0), detail: Column = lit(""),
      method: Column = col("method"), url: Column = col("url")): DataFrame =
    df.select(col("wave"), lit(kind), method, status, col("host"), url,
      detail)

  /** Audit rows of several kinds from ONE scan of `df`: a row yields one
    * audit row per (kind, condition, status, detail) whose condition holds,
    * in the order given. One projection plus an explode, where a union of
    * filters would compile and scan once per kind.
    */
  private def auditKinds(df: DataFrame,
      kinds: Seq[(String, Column, Column, Column)]): DataFrame =
    df.select(explode(array(kinds.map { case (kind, cond, status, detail) =>
        when(cond, struct(col("wave").as("wave"), lit(kind).as("kind"),
          col("method").as("method"), status.as("status"),
          col("host").as("host"), col("url").as("url"),
          detail.as("detail")))
      }: _*)).as("a"))
      .filter(col("a").isNotNull)
      .select(col("a.*"))

  def run(
      spark: SparkSession,
      spec: CrawlSpec,
      pages: DataFrame,
      parsers: Map[String, Parser] = Parsers.registry,
      stateDir: Option[String] = None,
      seedsDf: Option[DataFrame] = None,
      requestMiddlewares: Seq[DataFrame => DataFrame] = Nil,
      responseMiddlewares: Seq[DataFrame => DataFrame] = Nil,
      cacheDf: Option[DataFrame] = None): CrawlResult = {
    val sc = spark.sparkContext
    val callerDescription = sc.getLocalProperty(JobDescription)
    // the crawl's own side thread: the next frontier's assembly runs on it,
    // overlapped with the audit fold
    val sidePool = java.util.concurrent.Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, "crawl-side-job")
      t.setDaemon(true)
      t
    })
    val st = new WaveState(spark, spec, pages, cacheDf,
      ExecutionContext.fromExecutor(sidePool))
    var metricsServer = Option.empty[graft.metrics.MetricsServer.Handle]
    try {
    // ---- resume or cold start -------------------------------------------
    st.stage("start")
    stateDir.flatMap(StateStore.latestCommitted) match {
      case Some(w) => st.resume(stateDir.get, w)
      case None => st.coldStart(seedsDf)
    }
    metricsServer = graft.metrics.MetricsServer.start(
      spec.metricsType, () => st.liveMetrics(), spec.metricsPort)
    // Per-host wave cap: the spec's hostTokensPerWave, optionally
    // tightened by robots Crawl-delay and by the AIMD controller.
    val honorDelay = spec.honorCrawlDelay && !spec.robotsTxtDisabled
    val hostCapped = spec.hostTokensPerWave != Int.MaxValue || honorDelay ||
      spec.adaptiveRate
    // global concurrency cap (geziyor.go:109-111 semaphore → wave size
    // cap) + RequestsPerSecond × waveInterval (options.go:87) — both
    // collapse to a wave-size bound; excess is deferred, never dropped
    val rpsCap =
      if (spec.requestsPerSecond > 0)
        math.max(1L, spec.requestsPerSecond.toLong * spec.waveIntervalMs / 1000L)
      else Long.MaxValue
    val waveCap = math.min(spec.concurrentRequests.toLong, rpsCap)

    var done = false
    while (!done && st.wave < spec.maxWaves) {
      // the frontier checkpoint counted its own rows: no probe job
      if (st.frontierN == 0) { done = true }
      else {
        st.auditInc.clear()
        st.stage("gate")
        val (hostGranted, hostDeferred) =
          if (!hostCapped) (st.frontier, st.emptyFrontier)
          else {
            val req = st.frontier.filter(!col("is_retry"))
            val capped =
              if (honorDelay) st.crawlDelayCap(req) else st.tokenCap(req)
            st.grant(if (spec.adaptiveRate) st.aimdCap(capped) else capped)
          }
        val (granted0, deferred0) =
          if (waveCap >= Int.MaxValue) (hostGranted, hostDeferred)
          else st.capWave(hostGranted, hostDeferred, waveCap)
        // a top-k's outputs are read by several stages: kept for the wave.
        // An uncapped wave's are the kept frontier and an empty frame
        // already.
        val ranked =
          if (hostCapped || waveCap < Int.MaxValue)
            Seq(Kept(granted0), Kept(deferred0))
          else Nil
        val Seq(granted, deferred) =
          if (ranked.isEmpty) Seq(granted0, deferred0) else ranked.map(_.df)

        st.stage("robots")
        // granted ⊆ frontier: a frontier whose hosts all have rules grants
        // no new host, so the robots fetch is skipped exactly
        val newRules =
          if (spec.robotsTxtDisabled || st.frontierUnruled == 0) None
          else st.fetchRobots(granted)
        val sitemapCand =
          if (spec.sitemapDiscovery) newRules.map(st.sitemapLinks) else None
        val allowed =
          if (spec.robotsTxtDisabled) granted else st.robotsGate(granted)

        st.stage("request")
        val withCookies =
          if (st.cookiesActive && st.cookieJarNonEmpty) st.applyCookies(allowed)
          else allowed
        val requested =
          if (requestMiddlewares.isEmpty) withCookies
          else st.requestChain(withCookies, requestMiddlewares)
        val (toFetch, cacheServed) =
          if (st.cacheActive) st.cacheDecision(requested)
          else (requested, None)

        st.stage("fetch")
        val (pending, pendingN) = st.dispatch(toFetch)
        val (fetchedNew, setCookieN) = st.fetch(pending, pendingN)
        val fetchedRev =
          if (st.cacheActive) st.revalidate(fetchedNew)
          else fetchedNew.withColumn("revalidated_304", lit(false))
        // filters over the hops' kept joins: read by the parse, the audit
        // and the requeue, never persisted again
        val fetched = cacheServed.fold(fetchedRev)(st.serveCached(fetchedRev, _))

        st.stage("respond")
        if (spec.adaptiveRate) st.updateAimd(fetched)
        if (st.cookiesActive && setCookieN > 0) st.absorbCookies(fetched)
        val (delivered, requeue) = st.respond(fetched)
        val rendered = st.actionProg.fold(delivered)(st.runActions(delivered, _))
        val responses = st.logCrawled(
          responseMiddlewares.foldLeft(rendered)((df, mw) => mw(df)))
        spec.warcArchiveDir.foreach(st.archive(responses, _))

        st.stage("extract")
        val parsed = st.extract(responses, parsers)
        val cand = st.links(parsed, sitemapCand)

        st.stage("dedup")
        val candNew = st.dedup(cand)
        val candGranted =
          spec.trapTemplateBudget.fold(candNew)(st.trapGate(candNew, _))

        st.stage("assemble")
        val frontierF = st.assemble(candGranted, candNew, deferred, requeue)

        st.stage("account")
        st.account(frontierF)
        ranked.foreach(_.rdd.unpersist())
        stateDir.foreach(st.commit)
        st.wave += 1
      }
    }

    // the outputs are materialized when returned: one job fills the
    // increments no wave has read, so none holds the kept relations it was
    // computed from (`parsed`, `pending`, `candNew`)
    st.stage("fold")
    Kept.fill(st.records, st.audit, st.order, st.seen, st.metrics, st.lineage)
    CrawlResult(st.records.df, st.audit.df, st.seen.df, st.order.df,
      st.liveMetrics(), st.lineage.df, st.wave)
    } finally {
      st.sketch.close()
      metricsServer.foreach(_.stop())
      sidePool.shutdown()
      sc.setJobDescription(callerDescription)
    }
  }

  /** The crawl's state across waves (the wave loop's variables) and its
    * stages. UDF bodies below capture only local vals: a closure over a
    * field would drag this (unserializable) holder into every task.
    *
    * Every table that outlives the stage computing it is [[Kept]], in one
    * of two forms:
    *  - snapshots, replaced each wave: the frontier, the dispatched
    *    requests, each redirect hop's join, the robots new-host rows and
    *    their rules, the parse output, the new urls (`candNew`), the AIMD
    *    caps, the trap counts and the cookie jar. A snapshot whose count
    *    the loop reads is filled by the one job that counts it;
    *  - accumulators, grown by one kept increment a wave: `seen`,
    *    `records`, `audit`, `order`, `metrics`, `lineage` and the robots
    *    rules. Each is one leaf relation however many waves it holds; the
    *    final fold fills the increments no wave has read.
    *
    * With a state dir, a table's kind is all that commit and resume know
    * of it. Each wave commits the frames of its snapshots and, for each
    * accumulator in [[accumulators]], the increments added since its last
    * commit (none, no write); resume reads the snapshots back and restores
    * each accumulator's committed increments as one.
    *
    * One release rule: kept rows go when nothing references them, by
    * Spark's cleaner. The exception is a capped wave's granted and deferred
    * frames, which are as large as the frontier and are unpersisted as the
    * wave ends, so everything read from them is filled within the wave.
    * The exception stays: the cleaner would free them only at the next GC.
    *
    * Plans stay the same from wave to wave, so a settled wave generates
    * the code of the wave before it and compiles nothing:
    *  - no per-wave plan inlines a driver value that changes from wave to
    *    wave (the wave number, the wave clock): such a value travels as
    *    data, or inside a UDF's closure, which codegen references instead
    *    of inlining;
    *  - every frontier row of wave w has `wave == w` (seeds start at 0;
    *    deferred, requeued and discovered rows all take their parent's
    *    `wave` + 1), so rows derived from the frontier carry their wave in
    *    that column; the frontier checkpoint checks it at no extra job;
    *  - growing state is one relation of fixed plan shape, and stages
    *    read kept relations rather than persists, whose scans each compile
    *    their own columnar reader.
    */
  private final class WaveState(spark: SparkSession, spec: CrawlSpec,
      pages: DataFrame, cacheDf: Option[DataFrame], sideEc: ExecutionContext) {
    import spark.implicits._

    private val hostOfU = udf((u: String) => UrlOps.hostOf(u))
    private val pathOfU = udf((u: String) => UrlOps.pathOf(u))

    val cacheActive: Boolean =
      (spec.cachePolicy == "rfc2616" || spec.cachePolicy == "dummy") &&
        cacheDf.nonEmpty
    val cookiesActive: Boolean =
      !spec.cookiesDisabled && pages.columns.contains("set_cookie")
    // Rendered-mode custom action program (pipeline/Actions.scala;
    // client/client.go:215-221). None = the default rendered path.
    val actionProg: Option[Seq[Actions.Action]] =
      if (spec.rendered &&
          (spec.preActions.isDefined || spec.requestActions.nonEmpty))
        Some(Actions.program(spec.preActions, spec.requestActions))
      else None

    // fetch-relevant corpus projection; optional-feature columns are read
    // only when the feature is on, keeping the parquet scan narrow
    private def optCol(name: String, dt: String, want: Boolean): Column =
      if (want && pages.columns.contains(name)) col(name).cast(dt)
      else lit(null).cast(dt)
    private val corpus = pages.select(
      col("url").as("p_url"), col("status").as("p_status"),
      col("content_type").as("p_ct"), col("location").as("p_loc"),
      col("html").as("p_html"),
      optCol("text", "string", spec.rendered).as("p_text"),
      optCol("set_cookie", "string", cookiesActive).as("p_setck"),
      optCol("etag", "string", cacheActive).as("p_etag"),
      optCol("last_modified", "string", cacheActive).as("p_lastmod"),
      optCol("latency_ms", "long",
        spec.requestTimeoutMs > 0 || spec.adaptiveRate).as("p_latency"),
      optCol("warc_ts", "timestamp",
        spec.warcArchiveDir.isDefined).as("p_warc_ts"))

    private val emptyAudit =
      Seq.empty[(Int, String, String, Int, String, String, String)]
        .toDF("wave", "kind", "method", "status", "host", "url", "detail")
    // RFC 6265 jar keyed by (domain, name, path); c_domain is the Domain
    // attribute, or the response host when absent (c_hostonly);
    // c_expires = -1 for a session cookie
    private val emptyCookies =
      Seq.empty[(String, Boolean, String, String, String, Boolean, Long, Int)]
        .toDF("c_domain", "c_hostonly", "c_name", "c_path", "c_value",
          "c_secure", "c_expires", "c_wave")
    val emptyFrontier: DataFrame = Seq
      .empty[(String, String, String, Int, String, Map[String, String], Int, Int, Int, Long, String, Boolean)]
      .toDF("url", "host", "path", "depth", "method", "meta", "retry",
        "priority", "wave", "rank", "parser_id", "is_retry")
    private val frontierCols = emptyFrontier.columns.map(col).toIndexedSeq

    // ---- crawl state ----------------------------------------------------
    var wave = 0
    var frontier: DataFrame = emptyFrontier
    // counted by the frontier's fill: its rows, and its rows whose host has
    // no robots rules yet
    var frontierN = 0L
    var frontierUnruled = 0L
    // accumulators
    val seen = new Kept.Accumulator(Seq.empty[String].toDF("url"))
    val records = new Kept.Accumulator(
      Seq.empty[(Int, Long, Int, String)].toDF("wave", "rank", "seq", "json"))
    val order = new Kept.Accumulator(
      Seq.empty[(Int, Long, String)].toDF("wave", "rank", "url"))
    // read by metrics scrapes: added to under `scrapeLock`
    val audit = new Kept.Accumulator(emptyAudit)
    // per-wave counters not derived from the audit
    val metrics = new Kept.Accumulator(
      Seq.empty[(Int, String, Long)].toDF("wave", "metric", "value"))
    // per-partition rows of each wave's dispatched requests
    val lineage = new Kept.Accumulator(
      Seq.empty[(Int, Int, Long)].toDF("wave", "partition_id", "n_rows"))
    // the rules of every host seen so far
    private val robotRules = new Kept.Accumulator(
      Seq.empty[(String, Seq[RobotsRules.Rule], Option[Double])]
        .toDF("r_host", "rules", "crawl_delay"))
    /** Every accumulator, by the table it commits as. */
    private val accumulators = Seq("seen" -> seen, "records" -> records,
      "audit" -> audit, "crawl_order" -> order, "metrics" -> metrics,
      "lineage" -> lineage, "robot_rules" -> robotRules)
    private val scrapeLock = new Object
    // robotRules' hosts, driver-side (broadcast to the frontier's fill)
    private var ruledHosts = Set.empty[String]
    private var cookieJar = emptyCookies // accumulated Set-Cookies
    var cookieJarNonEmpty = false
    // jar-shape flags: the common all-host-only jar never builds the
    // Domain join slices
    private var jarHasDomainCk = false // any non-host-only (Domain-attribute) cookie
    private var jarHasTldCk = false //   … with a single-label domain (no 2-label key)
    // Bloom prefilter of the seen set (CrawlSpec.bloomDedup)
    val sketch = new graft.state.SeenSet.Sketch
    // trap budget: (host, template) → urls granted so far
    private var trapCounts: Option[DataFrame] = None
    // AIMD: observed host → current grant cap
    private var hostCaps: Option[DataFrame] = None

    // this wave's audit rows, one frame per kind of check
    val auditInc = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    /** Label the jobs this thread starts from here on. */
    def stage(name: String): Unit =
      spark.sparkContext.setJobDescription(s"wave=$wave stage=$name")

    /** Keep the frontier of wave `w`. The job that fills it counts its
      * rows, its rows whose host has no robots rules yet and its rows whose
      * `wave` is not `w`, which fail the crawl. Returns (frontier, rows,
      * unruled rows).
      */
    def checkpointFrontier(df: DataFrame, w: Int): (DataFrame, Long, Long) = {
      val ruled = spark.sparkContext.broadcast(ruledHosts)
      val hostAt = df.schema.fieldIndex("host")
      val waveAt = df.schema.fieldIndex("wave")
      try {
        // per partition: rows, unruled rows, rows of another wave
        val (cp, parts) = Kept(df).fill { rows =>
          var n, unruled, foreign = 0L
          rows.foreach { r =>
            n += 1
            if (r.isNullAt(hostAt) ||
                !ruled.value.contains(r.getUTF8String(hostAt).toString))
              unruled += 1
            if (r.getInt(waveAt) != w) foreign += 1
          }
          (n, unruled, foreign)
        }
        if (parts.map(_._3).sum > 0)
          throw new IllegalStateException(s"the frontier of wave $w holds " +
            s"${parts.map(_._3).sum} rows of another wave")
        (cp, parts.map(_._1).sum, parts.map(_._2).sum)
      } finally ruled.destroy()
    }

    def adoptFrontier(f: (DataFrame, Long, Long)): Unit = {
      frontier = f._1
      frontierN = f._2
      frontierUnruled = f._3
    }

    // deterministic wave clock for cookie expiry and WARC dates
    private def waveNowEpoch: Long =
      spec.cacheNowEpochSec + wave.toLong * spec.waveIntervalMs / 1000L

    /** Keep `jar` as the cookie jar; the job that fills it sets the
      * jar-shape flags. Returns its rows.
      */
    private def adoptJar(jar: DataFrame): Long = {
      val hostOnlyAt = jar.schema.fieldIndex("c_hostonly")
      val domainAt = jar.schema.fieldIndex("c_domain")
      // per partition: rows, Domain-attribute cookies, single-label ones
      val (kept, parts) = Kept(jar).fill(_.foldLeft((0L, 0L, 0L)) {
        case ((n, dom, tld), r) if r.getBoolean(hostOnlyAt) => (n + 1, dom, tld)
        case ((n, dom, tld), r) => (n + 1, dom + 1, tld + (if (r.isNullAt(domainAt) ||
          r.getUTF8String(domainAt).toString.contains('.')) 0 else 1))
      })
      cookieJar = kept
      jarHasDomainCk = parts.exists(_._2 > 0)
      jarHasTldCk = parts.exists(_._3 > 0)
      parts.map(_._1).sum
    }

    // live counter snapshot, per scrape (metrics/metrics.go:100-115) and
    // for CrawlResult.metrics. Scrapes run on the metrics server's threads:
    // read `audit` and `metrics` under `scrapeLock`.
    def liveMetrics(): DataFrame = {
      val (auditSnap, counters) = scrapeLock.synchronized {
        (audit.df, metrics.df)
      }
      auditSnap
        .groupBy(col("wave"), col("kind").as("metric"))
        .agg(count(lit(1)).as("value"))
        .union(counters)
    }

    /** Adds this wave's row of counter `metric`. */
    private def addCounter(metric: String, value: Long): Unit =
      scrapeLock.synchronized {
        metrics.add(Seq((wave, metric, value)).toDF("wave", "metric", "value"))
      }

    // ---- resume / cold start ---------------------------------------------
    def resume(dir: String, w: Int): Unit = {
      // each accumulator resumes as the union of its committed increments.
      // One kept as a wave=N snapshot instead is the legacy pre-delta
      // layout: resuming would silently lose it, so fail loudly
      accumulators.foreach { case (name, acc) =>
        StateStore.readDeltas(spark, dir, name, w) match {
          case Some(rows) => acc.restore(rows)
          case None if StateStore.hasTable(dir, w, name) =>
            throw new IllegalStateException(
              s"checkpoint at $dir wave=$w uses the legacy pre-delta layout: " +
                s"accumulator $name is a wave=N snapshot, not delta/ " +
                "increments; re-run the crawl from scratch or migrate the " +
                "checkpoint (copy wave=N/<table> to delta/<table>/wave=N)")
          case None =>
        }
      }
      def snapshot(name: String) =
        StateStore.asOf(spark, dir, w, name, delta = false)
      frontier = snapshot("frontier").get
      snapshot("cookies").foreach { jar =>
        if (!Seq("c_domain", "c_name", "c_path").forall(jar.columns.contains))
          throw new IllegalStateException(
            s"checkpoint at $dir wave=$w has a legacy cookies snapshot " +
              "(pre-RFC6265 jar without (host, name, path) keys); " +
              "resuming would fail downstream — restart the crawl or " +
              "migrate the snapshot")
        cookieJarNonEmpty = adoptJar(jar) > 0
      }
      hostCaps = snapshot("host_caps")
      trapCounts = snapshot("trap_counts")
      if (!spec.robotsTxtDisabled)
        ruledHosts = robotRules.df.select(col("r_host"))
          .filter(col("r_host").isNotNull).as[String].collect().toSet
      wave = w + 1
      adoptFrontier(checkpointFrontier(frontier, wave))
    }

    /** Seeds pass AllowedDomains + dedup exactly like discovered urls (the
      * reference runs seeds through the same middleware chain). Seed
      * source: a driver-side StartURLs list (parity mode, ordered) or a
      * seeds DataFrame with a `url` column (scale mode — a 10^10 frontier
      * seed list is a table, not a Seq). Optional seed columns complete the
      * Get/Head/Post helper surface (geziyor.go:189-217): `method` (default
      * GET — HEAD skips decode downstream) and `body` (the POST payload,
      * carried as meta("body") so parsers see it).
      */
    def coldStart(seedsDf: Option[DataFrame]): Unit = {
      val seedsRaw = seedsDf match {
        case Some(df) =>
          val methodCol =
            if (df.columns.contains("method"))
              coalesce(col("method"), lit("GET"))
            else lit("GET")
          val metaCol =
            if (df.columns.contains("body"))
              when(col("body").isNotNull, map(lit("body"), col("body")))
                .otherwise(map().cast("map<string,string>"))
            else map().cast("map<string,string>")
          df.select(Seq(col("url")) ++
              (if (df.columns.contains("method")) Seq(col("method")) else Nil) ++
              (if (df.columns.contains("body")) Seq(col("body")) else Nil): _*)
            .withColumn("host", hostOfU(col("url")))
            .withColumn("path", pathOfU(col("url")))
            .withColumn("depth", lit(0))
            .withColumn("meta", metaCol)
            .withColumn("method", methodCol)
            .drop("body")
            .withColumn("retry", lit(0))
            .withColumn("priority", lit(0))
            .withColumn("wave", lit(0))
            .withColumn("rank", bucketRank(col("url")))
            .withColumn("parser_id", lit(spec.parserId))
            .withColumn("is_retry", lit(false))
            // canonical column ORDER (positional unions downstream)
            .select(frontierCols: _*)
        case None =>
          spec.startUrls.zipWithIndex
            .map { case (u, i) =>
              (u, UrlOps.hostOf(u), UrlOps.pathOf(u), 0, "GET",
                Map.empty[String, String], 0, 0, 0, i.toLong, spec.parserId,
                false)
            }
            .toDF("url", "host", "path", "depth", "method", "meta", "retry",
              "priority", "wave", "rank", "parser_id", "is_retry")
      }
      val seedsAllowed =
        if (spec.allowedDomains.isEmpty) seedsRaw
        else seedsRaw.filter(col("host").isin(spec.allowedDomains: _*))
      // only GETs are deduped / enter the seen set
      // (middleware/duplicate_requests.go:17)
      adoptFrontier(checkpointFrontier(
        seedsAllowed.filter(col("method") === "GET")
          .dropDuplicates("url")
          .unionByName(seedsAllowed.filter(col("method") =!= "GET")), 0))
      // the kept frontier's GETs are the deduped seeds
      seen.add(frontier.filter(col("method") === "GET").select(col("url")))
    }

    // ---- gate ------------------------------------------------------------
    // Politeness: grant ≤ `hcap` tokens per host this wave. Retries bypass
    // the budget (the reference retries inside the client without
    // re-running the delay middleware).
    def tokenCap(req: DataFrame): DataFrame =
      req.withColumn("hcap", lit(spec.hostTokensPerWave.toLong))

    /** The spec's cap tightened by robots Crawl-delay: ≤ max(1,
      * floor(waveInterval / delay)) grants per wave. Rules are fetched
      * lazily, so a host's FIRST wave runs uncapped, like the reference.
      */
    def crawlDelayCap(req: DataFrame): DataFrame = req
      .join(broadcast(robotRules.df.select(col("r_host"), col("crawl_delay"))),
        col("host") === col("r_host"), "left")
      .withColumn("hcap",
        least(lit(spec.hostTokensPerWave.toLong),
          coalesce(
            greatest(lit(1L),
              floor(lit(spec.waveIntervalMs / 1000.0) /
                col("crawl_delay")).cast("long")),
            lit(spec.hostTokensPerWave.toLong))))
      .drop("r_host", "crawl_delay")

    /** AIMD cap: tighten by the host's controller state; unobserved hosts
      * run at the initial cap.
      */
    def aimdCap(req: DataFrame): DataFrame = hostCaps match {
      case Some(caps) => req
        .join(broadcast(caps), col("host") === col("a_host"), "left")
        .withColumn("hcap", least(col("hcap"),
          coalesce(col("acap"), lit(AdaptiveInitialCap))))
        .drop("a_host", "acap")
      case None =>
        req.withColumn("hcap", least(col("hcap"), lit(AdaptiveInitialCap)))
    }

    /** The per-host exact top-hcap, by priority (then delay, then rank);
      * retries are always granted. Returns (granted, deferred).
      */
    def grant(req: DataFrame): (DataFrame, DataFrame) = {
      val polOrder: Seq[Column] =
        if (spec.requestDelayMs > 0)
          Seq(col("priority").desc, col("delay_ms").asc, col("rank").asc)
        else Seq(col("priority").desc, col("rank").asc)
      val ordered =
        if (spec.requestDelayMs > 0)
          req.withColumn("delay_ms",
            delayExpr(spec.requestDelayMs, spec.randomDelay))
        else req
      val top = TopK(ordered, Seq(col("host")), col("url"), SkewSaltBuckets,
        polOrder, col("hcap"))
      (top.kept.select(frontierCols: _*)
         .union(frontier.filter(col("is_retry"))),
       top.dropped.select(frontierCols: _*))
    }

    /** The wave-size cap: the exact global top-`cap` by rank. */
    def capWave(granted: DataFrame, deferred: DataFrame,
        cap: Long): (DataFrame, DataFrame) = {
      val top = TopK(granted, Nil, col("url"), CapBuckets,
        Seq(col("rank").asc), lit(cap))
      (top.kept.select(frontierCols: _*),
       deferred.union(top.dropped.select(frontierCols: _*)))
    }

    // ---- robots ----------------------------------------------------------
    /** Fetch rules for the wave's NEW hosts; returns their rules rows
      * (None when no host is new). The robots URL takes the scheme of the
      * host's first granted request (middleware/robotstxt.go:40).
      */
    def fetchRobots(granted: DataFrame): Option[DataFrame] = {
      val newHosts = granted
        .groupBy(col("host"))
        .agg(min_by(
          regexp_extract(col("url"), "^([A-Za-z][A-Za-z0-9+.-]*)://", 1),
          col("rank")).as("scheme"), min(col("wave")).as("wave"))
        .join(robotRules.df, col("host") === col("r_host"), "left_anti")
        .withColumn("robots_url",
          concat(when(col("scheme") === "", "http").otherwise(col("scheme")),
            lit("://"), col("host"), lit("/robots.txt")))
      // the tiny new-host set first, its hosts listed by the job that
      // fills it: a wave with no new host skips the corpus scan
      val hostAt = newHosts.schema.fieldIndex("host")
      val (newHostsM, parts) = Kept(newHosts).fill(_.map(r =>
        if (r.isNullAt(hostAt)) null else r.getUTF8String(hostAt).toString
      ).toVector)
      val newHostList = parts.toSeq.flatten
      if (newHostList.isEmpty) return None
      // newHosts is the BROADCAST side of an inner join, so the corpus is
      // never shuffled; hosts with no robots page come back as the left
      // join's nulls below (allow-all, like a 404)
      val hits = corpus
        .join(broadcast(newHostsM), col("p_url") === col("robots_url"))
        .select(col("host").as("h_hit"),
          col("p_status").as("r_status"), col("p_html").as("r_body"))
      // FromStatusAndBytes semantics honoring the crawl's UA: 2xx → parse
      // groups + select the UA's group; 4xx / no page → allow-all (empty
      // rules); 5xx → disallow-all.
      val specUa = spec.userAgent
      val parseRobotsU = udf((status: java.lang.Integer, b: Array[Byte]) =>
        if (status == null) RobotsRules.Group(Seq.empty, None)
        else RobotsRules.fromStatusGroup(status.intValue(),
          if (b == null) ""
          else new String(b, java.nio.charset.StandardCharsets.UTF_8),
          specUa))
      // ONE tiny kept table feeds the rules increment, the counter rows
      // and (with sitemap discovery) the Sitemap: pointers
      val smPtrsU = udf((status: java.lang.Integer, b: Array[Byte]) =>
        if (status == null || status.intValue() < 200 ||
            status.intValue() >= 300 || b == null) Seq.empty[String]
        else RobotsRules.sitemaps(
          new String(b, java.nio.charset.StandardCharsets.UTF_8)))
      val smCol =
        if (spec.sitemapDiscovery)
          Seq(smPtrsU(col("r_status"), col("r_body")).as("sitemap_ptrs"))
        else Nil
      val newRulesFull = Kept(newHostsM
        .join(broadcast(hits), col("host") === col("h_hit"), "left")
        .withColumn("g", parseRobotsU(col("r_status"), col("r_body")))
        .select(Seq(col("wave"), col("host"), col("robots_url"), col("r_status"),
          col("g.rules").as("rules"),
          col("g.crawlDelay").as("crawl_delay")) ++ smCol: _*)).df
      // counter parity (metrics/metrics.go:31-33): one request row per new
      // host, one response row per robots.txt served
      auditInc += auditRows(newRulesFull, "robots_request",
        method = lit("GET"), url = col("robots_url"))
      auditInc += auditRows(newRulesFull.filter(col("r_status").isNotNull),
        "robots_response", status = col("r_status"), method = lit("GET"),
        url = col("robots_url"))
      robotRules.add(newRulesFull
        .select(col("host").as("r_host"), col("rules"), col("crawl_delay")))
      ruledHosts ++= newHostList.filter(_ != null)
      Some(newRulesFull)
    }

    /** Sitemap autodiscovery (sitemaps.org): the new hosts' Sitemap:
      * pointers are fetched from the corpus (broadcast pointer side, the
      * robots fetch's join shape) and every urlset <loc> becomes a
      * candidate link; parent_rank = -1 sorts them ahead of parsed links
      * in the first-wins window.
      */
    def sitemapLinks(newRules: DataFrame): DataFrame = {
      val ptrs = newRules.select(col("wave"),
        posexplode(col("sitemap_ptrs")).as(Seq("sm_pos", "sm_url")))
      val smDocs = corpus
        .join(broadcast(ptrs), col("p_url") === col("sm_url"))
        .select(col("wave"), col("sm_pos"), col("p_status").as("s_status"),
          col("p_html").as("s_body"))
      val locsU = udf((status: java.lang.Integer, b: Array[Byte]) =>
        if (status == null || status.intValue() < 200 ||
            status.intValue() >= 300 || b == null) Seq.empty[String]
        else graft.sitemap.Sitemap.parse(
          new String(b, java.nio.charset.StandardCharsets.UTF_8))
          .map(_.loc))
      smDocs
        .select(col("wave"), col("sm_pos"),
          posexplode(locsU(col("s_status"), col("s_body")))
            .as(Seq("loc_pos", "url")))
        .select(col("wave"), col("url"), lit(spec.parserId).as("parser_id"),
          lit(-1L).as("parent_rank"),
          (col("sm_pos") * 65536 + col("loc_pos")).as("link_pos"),
          lit(1).as("depth"),
          typedLit(Map.empty[String, String]).as("meta"))
    }

    /** Full-REP gate (RobotsRules.allowedRows); blocked rows are audited
      * and dropped.
      */
    def robotsGate(granted: DataFrame): DataFrame = {
      val isBlocked = udf((path: String, rules: Seq[Row]) =>
        rules != null && rules.nonEmpty &&
          !RobotsRules.allowedRows(path, rules))
      val j = granted.join(broadcast(robotRules.df),
        col("host") === col("r_host"), "left")
      val blocked = j.filter(!col("is_retry") &&
          isBlocked(col("path"), col("rules")))
        .drop("r_host", "rules", "crawl_delay")
      auditInc += auditRows(blocked, "robots_forbidden")
      j.filter(col("is_retry") || !isBlocked(col("path"), col("rules")))
        .drop("r_host", "rules", "crawl_delay")
    }

    // ---- request chain ---------------------------------------------------
    /** Apply the jar (client/client.go:250-272): the Cookie header a
      * request would carry is exposed to parsers as meta("cookie").
      * HOST-ONLY cookies join per host. DOMAIN cookies join on the last two
      * labels, a lossless bucketing (§5.1.3 domain-match forces H and D to
      * share them). A single-label (TLD-wide) Domain has no two-label key
      * and rides one flag-gated single-row broadcast. The header UDF
      * applies the exact RFC filters (domain/path-match, Secure, expiry at
      * the wave clock) and emits Go-jar-ordered name=value pairs.
      */
    def applyCookies(req: DataFrame): DataFrame = {
      val jarStruct = struct(col("c_name"), col("c_domain"),
        col("c_hostonly"), col("c_path"), col("c_value"),
        col("c_secure"), col("c_expires"), col("c_wave"))
      def lastTwo(c: Column): Column = {
        val parts = split(c, "\\.")
        when(size(parts) <= 2, c)
          .otherwise(concat_ws(".", slice(parts, -2, 2)))
      }
      val nLabels = size(split(col("c_domain"), "\\."))
      val hostAgg = cookieJar.filter(col("c_hostonly"))
        .groupBy(col("c_domain").as("jh_host"))
        .agg(collect_list(jarStruct).as("jar_h"))
      val jarColType = hostAgg.schema("jar_h").dataType
      val base = req
        .join(broadcast(hostAgg), col("host") === col("jh_host"), "left")
      val withDom =
        if (!jarHasDomainCk)
          base.withColumn("jar_d", lit(null).cast(jarColType))
        else base.join(
          broadcast(cookieJar
            .filter(!col("c_hostonly") && nLabels >= 2)
            .groupBy(lastTwo(col("c_domain")).as("jd_key"))
            .agg(collect_list(jarStruct).as("jar_d"))),
          lastTwo(col("host")) === col("jd_key"), "left")
      val withTld =
        if (!jarHasTldCk)
          withDom.withColumn("jar_t", lit(null).cast(jarColType))
        else withDom.crossJoin(
          broadcast(cookieJar
            .filter(!col("c_hostonly") && nLabels < 2)
            .agg(collect_list(jarStruct).as("jar_t"))))
      val now = waveNowEpoch
      val headerU = udf((url: String, host: String, path: String,
          jarH: Seq[Row], jarD: Seq[Row], jarT: Seq[Row]) =>
        Cookies.header(url, host, path, now,
          (if (jarH == null) Seq.empty else jarH) ++
            (if (jarD == null) Seq.empty else jarD) ++
            (if (jarT == null) Seq.empty else jarT)))
      withTld
        .withColumn("cookie_hdr",
          headerU(col("url"), col("host"), col("path"),
            col("jar_h"), col("jar_d"), col("jar_t")))
        .withColumn("meta",
          when(col("cookie_hdr").isNotNull,
            map_concat(
              map_filter(col("meta"), (k, _) => k =!= "cookie"),
              map(lit("cookie"), col("cookie_hdr"))))
            // no applicable cookie → strip one inherited from the parent
            .otherwise(
              map_filter(col("meta"), (k, _) => k =!= "cookie")))
        .drop("jh_host", "jar_h", "jd_key", "jar_d", "jar_t", "cookie_hdr")
    }

    /** Custom request middlewares (geziyor.go:128-130), after the
      * built-ins; `cancelled` = true drops a request (audited).
      */
    def requestChain(req: DataFrame,
        middlewares: Seq[DataFrame => DataFrame]): DataFrame = {
      val out = middlewares.foldLeft(req.withColumn("cancelled", lit(false)))(
        (df, mw) => mw(df))
      auditInc += auditRows(out.filter(col("cancelled")), "cancelled")
      out.filter(!col("cancelled")).drop("cancelled")
    }

    /** RFC2616 cache decision (cache/cache.go:182-265). Returns (to fetch,
      * served from cache); revalidate rows carry the cached entry to the
      * 304 merge; gateway_504 (only-if-cached miss) is audited and dropped.
      */
    def cacheDecision(req: DataFrame): (DataFrame, Option[DataFrame]) = {
      val reqHeaders = CrawlSpec.DefaultHeaders
      val cache = cacheDf.get.select(
        col("url").as("k_url"),
        col("headers").as("k_headers"),
        col("body").as("k_body"),
        col("content_type").as("k_ct"))
      val tagged = req
        .join(cache, col("url") === col("k_url"), "left")
        .drop("k_url")
        .withColumn("cache_action",
          when(col("k_headers").isNull,
            when(lit(reqHeaders.exists(h =>
                h._1.equalsIgnoreCase("Cache-Control") &&
                  h._2.contains("only-if-cached"))),
              lit("gateway_504")).otherwise(lit("fetch")))
            .otherwise(
              // Dummy policy (cache/cache.go:136-173): a cached entry is
              // always served, never revalidated
              if (spec.cachePolicy == "dummy") lit("serve_cached")
              else decideUdf(spec.cacheNowEpochSec)(
                col("method"), col("k_headers"))))
      auditInc += auditRows(
        tagged.filter(col("cache_action") === "gateway_504"),
        "gateway_504", status = lit(504))
      (tagged.filter(col("cache_action") =!= "serve_cached" &&
          col("cache_action") =!= "gateway_504"),
       Some(tagged.filter(col("cache_action") === "serve_cached")))
    }

    // ---- fetch -----------------------------------------------------------
    /** Keep the wave's requests; record the crawl order, the frontier_size
      * metric and the per-partition lineage. The job that fills them counts
      * each partition's rows. Returns (requests, their count).
      */
    def dispatch(toFetch: DataFrame): (DataFrame, Long) = {
      val (pending, parts) = Kept(toFetch
        .withColumn("cur_url", col("url")).withColumn("hops", lit(0))
      ).fill(_.size.toLong)
      order.add(pending.select(col("wave"), col("rank"), col("url")))
      addCounter("frontier_size", frontierN)
      lineage.add(parts.zipWithIndex.collect {
        case (n, p) if n > 0 => (wave, p, n)
      }.toSeq.toDF("wave", "partition_id", "n_rows"))
      (pending, parts.sum)
    }

    /** Fetch join with transparent redirect following. Returns (fetched
      * rows, those carrying a Set-Cookie).
      */
    def fetch(dispatched: DataFrame, dispatchedN: Long): (DataFrame, Long) = {
      var pending = dispatched
      var pendingN = dispatchedN
      var setCookieN = 0L
      var fetched = Option.empty[DataFrame]
      var hop = 0
      while (hop <= spec.maxRedirect && pendingN > 0) {
        // Keep the join ONCE per hop; finals and the redirect continuation
        // are filters over it. The job that fills it also counts the next
        // hop's rows and this hop's final rows with a Set-Cookie.
        val joined = pending.join(corpus, col("cur_url") === col("p_url"), "left")
          .drop("p_url")
        val statusAt = joined.schema.fieldIndex("p_status")
        val locAt = joined.schema.fieldIndex("p_loc")
        val setckAt = joined.schema.fieldIndex("p_setck")
        val lastHop = hop == spec.maxRedirect
        val (j, counts) = Kept(joined).fill { rows =>
          var redirects, setCookies = 0L
          rows.foreach { r =>
            val redir = !r.isNullAt(statusAt) && !r.isNullAt(locAt) &&
              RedirectStatuses.contains(r.getInt(statusAt))
            if (redir) redirects += 1
            if ((!redir || lastHop) && !r.isNullAt(setckAt)) setCookies += 1
          }
          (redirects, setCookies)
        }
        val isRedir = col("p_status").isin(RedirectStatuses.map(Integer.valueOf): _*) &&
          col("p_loc").isNotNull
        val isFinal = !isRedir || lit(lastHop)
        pendingN = if (lastHop) 0L else counts.map(_._1).sum
        setCookieN += counts.map(_._2).sum
        val finals = j.filter(isFinal)
          .withColumn("redirect_exceeded", isRedir)
          .drop("p_loc")
        fetched = Some(fetched.fold(finals)(_.unionByName(finals)))
        pending =
          if (hop == spec.maxRedirect) pending.limit(0)
          else {
            // Go http.Client (client/client.go:303-311): 301/302/303
            // rewrite a non-GET/HEAD method to GET and drop the body
            val rewrite = col("p_status").isin(301, 302, 303) &&
              col("method") =!= "GET" && col("method") =!= "HEAD"
            j.filter(isRedir)
              // evaluated ONCE, against the original method
              .withColumn("mrw", rewrite)
              .withColumn("method",
                when(col("mrw"), lit("GET")).otherwise(col("method")))
              .withColumn("meta",
                when(col("mrw"),
                  map_filter(col("meta"), (k, _) => k =!= "body"))
                  .otherwise(col("meta")))
              .drop("mrw")
              .withColumn("cur_url", col("p_loc"))
              .withColumn("hops", col("hops") + 1)
              .drop(FetchCols.map(_._1) :+ "p_loc": _*)
          }
        hop += 1
      }
      (fetched.getOrElse(withFetchCols(dispatched.limit(0))
        .withColumn("redirect_exceeded", lit(false))), setCookieN)
    }

    /** Validator/304 merge (cache/cache.go:210-239): a live page still
      * carrying the cached validators keeps the cached body.
      */
    def revalidate(fetched: DataFrame): DataFrame = {
      val hOf = (m: Column, k: String) => element_at(m, k)
      val notModified = col("cache_action") === "revalidate" &&
        col("p_status").isNotNull && (
          (col("p_etag").isNotNull &&
            col("p_etag") === hOf(col("k_headers"), "ETag")) ||
          (col("p_lastmod").isNotNull &&
            col("p_lastmod") === hOf(col("k_headers"), "Last-Modified")))
      fetched
        .withColumn("revalidated_304", notModified)
        .withColumn("p_html",
          when(notModified, col("k_body")).otherwise(col("p_html")))
        .withColumn("p_ct",
          when(notModified, col("k_ct")).otherwise(col("p_ct")))
    }

    /** Cache-served rows join the delivery stream without fetching. */
    def serveCached(fetched: DataFrame, served: DataFrame): DataFrame = {
      val asFetched = withFetchCols(
          served.withColumn("cur_url", col("url")).withColumn("hops", lit(0)),
          Map("p_status" -> lit(200), "p_ct" -> col("k_ct"),
            "p_html" -> col("k_body")))
        .withColumn("redirect_exceeded", lit(false))
        .withColumn("revalidated_304", lit(false))
      auditInc += auditRows(served, "cache_hit", status = lit(200))
      fetched.unionByName(asFetched)
    }

    // ---- respond ---------------------------------------------------------
    /** AIMD update: a host with ANY slow or 5xx response halves its cap,
      * other observed hosts add 2; unobserved hosts keep theirs.
      */
    def updateAimd(fetched: DataFrame): Unit = {
      val overObs = fetched
        .filter(col("p_status").isNotNull)
        .groupBy(col("host"))
        .agg(max(
          when(col("p_latency").isNotNull &&
            col("p_latency") > lit(AdaptiveLatencyMs), 1)
            .when(col("p_status") >= 500, 1)
            .otherwise(0)).as("over"))
        .select(col("host").as("a_host"), col("over"))
      val prev = hostCaps.getOrElse(
        overObs.limit(0).select(col("a_host"),
          lit(null).cast("long").as("acap")))
      val init = lit(AdaptiveInitialCap)
      // read from this wave's fetched rows, so filled before the wave ends
      hostCaps = Some(Kept(prev
        .join(overObs, Seq("a_host"), "full_outer")
        .select(col("a_host"),
          when(col("over") === 1,
            greatest(lit(1L),
              floor(coalesce(col("acap"), init) / 2).cast("long")))
            .when(col("over") === 0,
              least(lit(AdaptiveMaxCap), coalesce(col("acap"), init) + 2))
            .otherwise(col("acap")).as("acap"))).fill(_ => ())._1)
    }

    /** Accumulate Set-Cookie responses (RFC 6265, client/client.go:
      * 250-272): keyed by (domain, name, path), the latest wave replaces
      * (ties: max value); Max-Age ≤ 0 / past Expires evicts. Called only
      * for a wave whose fetch counted a Set-Cookie.
      */
    def absorbCookies(fetched: DataFrame): Unit = {
      val now = waveNowEpoch
      val parseCkU = udf((setCookie: String, host: String, path: String) =>
        Cookies.parse(setCookie, host, path, now))
      // purge cookies already expired at the wave clock
      val liveU = udf((expires: Long) => expires < 0 || expires > now)
      val newCk = fetched.filter(col("p_setck").isNotNull)
        .select(parseCkU(col("p_setck"), col("host"), col("path")).as("ck"),
          col("wave").as("c_wave"))
        .filter(col("ck").isNotNull)
        .select(col("ck.domain").as("c_domain"),
          col("ck.hostOnly").as("c_hostonly"),
          col("ck.name").as("c_name"), col("ck.path").as("c_path"),
          col("ck.value").as("c_value"), col("ck.secure").as("c_secure"),
          col("ck.expiresAt").as("c_expires"),
          col("ck.remove").as("c_remove"), col("c_wave"))
        .distinct()
      if (!newCk.isEmpty) {
        val merged = cookieJar.withColumn("c_remove", lit(false))
          .unionByName(newCk)
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("c_domain"), col("c_name"), col("c_path"))
              .orderBy(col("c_wave").desc, col("c_value").desc)))
          .filter(col("rn") === 1 && !col("c_remove") &&
            liveU(col("c_expires")))
          .drop("rn", "c_remove")
        adoptJar(merged)
        // the jar stays applied even once empty: it strips a cookie header
        // that requests inherit from their parent
        cookieJarNonEmpty = true
      }
    }

    private val timedOut: Column =
      if (spec.requestTimeoutMs > 0)
        col("p_status").isNotNull && col("p_latency").isNotNull &&
          col("p_latency") > lit(spec.requestTimeoutMs)
      else lit(false)

    /** Retry re-enqueue and delivery; returns (delivered, requeued), and
      * audits the fetch outcomes. Timeouts (latency_ms > requestTimeoutMs)
      * and retryable statuses both retry up to retryTimes
      * (client/client.go:94-121). An exhausted timeout delivers nothing
      * (fetch_timeout, the ErrorFunc analog); an exhausted retryable STATUS
      * is delivered (geziyor.go:233-263).
      */
    def respond(fetched: DataFrame): (DataFrame, DataFrame) = {
      val retryCodes = spec.retryHttpCodes.toSeq.map(Integer.valueOf)
      val retryableStatus = col("p_status").isin(retryCodes: _*)
      val isRetryable =
        (retryableStatus || timedOut) && !col("redirect_exceeded")
      val again = col("retry") < spec.retryTimes
      val exhausted = col("retry") >= spec.retryTimes
      val requeue = fetched.filter(isRetryable && again)
        .select(col("url"), col("host"), col("path"), col("depth"),
          col("method"), col("meta"), (col("retry") + 1).as("retry"),
          col("priority"), (col("wave") + 1).as("wave"), col("rank"),
          col("parser_id"), lit(true).as("is_retry"))
      auditInc += auditKinds(fetched, Seq(
        ("revalidate_304", col("revalidated_304"), col("p_status"), lit("")),
        // fetch miss = the transport-error (ErrorFunc) analog
        ("fetch_miss", col("p_status").isNull, lit(-1),
          concat(lit("no such page: "), col("cur_url"))),
        ("redirect_exceeded", col("redirect_exceeded"), col("p_status"),
          lit(s"stopped after ${spec.maxRedirect} redirects")),
        ("retry", isRetryable && again, col("p_status"),
          concat(lit("attempt "), col("retry") + 1)),
        ("retry_exhausted", isRetryable && exhausted && !timedOut,
          col("p_status"),
          lit(s"gave up after ${spec.retryTimes} retries")),
        ("fetch_timeout", isRetryable && exhausted && timedOut, lit(-1),
          lit(s"timed out after ${spec.retryTimes} retries"))))
      val delivered = fetched.filter(col("p_status").isNotNull &&
        !col("redirect_exceeded") && !timedOut &&
        (!retryableStatus || exhausted))
      (delivered, requeue)
    }

    /** Custom rendered action program, run as part of the fetch, before
      * any response middleware (client/client.go:133-139,171-247): never
      * captured ⇒ empty body; never navigated ⇒ StatusCode 0.
      */
    def runActions(delivered: DataFrame,
        prog: Seq[Actions.Action]): DataFrame = {
      val renderU = udf((u: String, t: String) => {
        val r = Actions.render(u, t, prog)
        (r.body, r.statusSet)
      })
      delivered
        .withColumn("r_out", renderU(col("cur_url"), col("p_text")))
        .withColumn("p_text", col("r_out._1"))
        .withColumn("p_status",
          when(col("r_out._2"), col("p_status")).otherwise(lit(0)))
        .drop("r_out")
    }

    /** The `crawled` audit rows, stamped with the url-hash proxy
      * (client/proxy.go:19-48, the q34 face). LogDisabled kills the log
      * lines, not the counters: `account` counts these rows into the
      * metrics and drops them from the audit. Returns the responses.
      */
    def logCrawled(responses: DataFrame): DataFrame = {
      val crawlDetail =
        if (spec.proxyUrls.isEmpty) lit("")
        else {
          val pid = conv(substring(md5(col("url")), 1, 4), 16, 10)
            .cast("long") % spec.proxyUrls.size
          concat(lit("proxy="), pid, lit(":"),
            element_at(array(spec.proxyUrls.map(lit): _*),
              (pid + 1).cast("int")))
        }
      auditInc += auditRows(responses, "crawled",
        status = col("p_status"), detail = crawlDetail)
      responses
    }

    // Rendered fetch mode (client/client.go:171-247): deliver the
    // pre-rendered `text` DOM instead of the raw body.
    private val bodyCol: Column =
      if (actionProg.isDefined)
        // custom program: the body is what it captured, maybe empty
        encode(coalesce(col("p_text"), lit("")), "UTF-8")
      else if (spec.rendered)
        when(col("p_text").isNotNull, encode(col("p_text"), "UTF-8"))
          .otherwise(col("p_html"))
      else col("p_html")
    private val ctCol: Column =
      if (actionProg.isDefined)
        // document response never received ⇒ headers unset (res==nil)
        when(col("p_status") === 0, lit(null).cast("string"))
          .otherwise(lit("text/html; charset=utf-8"))
      else if (spec.rendered)
        when(col("p_text").isNotNull, lit("text/html; charset=utf-8"))
          .otherwise(col("p_ct"))
      else col("p_ct")

    /** WARC archive: the wave's delivered responses become one ISO-28500
      * member per partition under `dir`/wave-NNNN/.
      */
    def archive(responses: DataFrame, dir: String): Unit = {
      val captures = responses.select(
        col("cur_url").as("url"),
        coalesce(
          date_format(col("p_warc_ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'"),
          lit("1970-01-01T00:00:00Z")).as("ts"),
        coalesce(bodyCol, lit(Array.emptyByteArray)).as("payload"))
      // each member opens with a warcinfo record (ISO 28500 §6.2)
      val infoDate = java.time.format.DateTimeFormatter.ISO_INSTANT
        .format(java.time.Instant.ofEpochSecond(waveNowEpoch))
      graft.sinks.WarcSink.write(captures, f"$dir%s/wave-$wave%04d",
        dedup = WarcDedup, compress = WarcGzip,
        info = Some((infoDate, Seq(
          "software" -> "geziyorspark",
          "format" -> "WARC File Format 1.0",
          "wave" -> wave.toString))))
    }

    // ---- extract ---------------------------------------------------------
    /** Decode + parse the delivered responses (kept); audit parse errors
      * and append the wave's records.
      */
    def extract(responses: DataFrame,
        parsers: Map[String, Parser]): DataFrame = {
      val reg = parsers
      val maxBody = spec.maxBodySize
      val parseHtmlDisabled = spec.parseHtmlDisabled
      val charsetDetectDisabled = spec.charsetDetectDisabled
      val sniffCt = spec.sniffContentType
      val parsedRows = responses
        .select(col("url"), col("cur_url"), col("host"), col("depth"),
          col("method"), col("meta"), col("wave"), col("rank"),
          col("parser_id"), col("p_status"), ctCol.as("p_ct"),
          bodyCol.as("p_html"))
        .as[(String, String, String, Int, String, Map[String, String], Int,
          Long, String, Int, String, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (url, finalUrl, host, depth, method, meta, w, rank,
              parserId, status, ct, html) =>
            val body = CharsetDecode.truncate(html, maxBody)
            // opt-in: sniff a missing Content-Type from the leading bytes;
            // a server-provided type always wins
            val ctEff =
              if (sniffCt && (ct == null || ct.isEmpty) &&
                  body != null && body.nonEmpty)
                ContentSniff.sniff(new String(body, 0,
                  math.min(body.length, ContentSniff.MaxSniff),
                  java.nio.charset.StandardCharsets.ISO_8859_1))
              else ct
            val isHead = method == "HEAD"
            val text =
              if (isHead) ""
              else if (charsetDetectDisabled) CharsetDecode.decodeRaw(body)
              else CharsetDecode.decode(body, ctEff)
            val html4Parse = CharsetDecode.isHtml(ctEff) && !parseHtmlDisabled
            Parsers.safeParse(reg)(parserId, finalUrl, text, html4Parse, meta) match {
              case Right(out) => (url, host, depth, meta, w, rank, parserId,
                out.records, out.links.map(d => (d.url, d.parserId)), null: String)
              case Left(err) => (url, host, depth, meta, w, rank, parserId,
                Seq.empty[String], Seq.empty[(String, String)], err)
            }
          }
        }
        .toDF("url", "host", "depth", "meta", "wave", "rank", "parser_id",
          "records", "links", "parse_error")
      val parsed = Kept(parsedRows).df
      auditInc += auditRows(parsed.filter(col("parse_error").isNotNull),
        "parse_error", method = lit("GET"), detail = col("parse_error"))
      records.add(parsed
        .select(col("wave"), col("rank"),
          posexplode(col("records")).as(Seq("seq", "json"))))
      parsed
    }

    /** Discovered links and sitemap locs past the depth cap and
      * AllowedDomains (audited rejected_domain).
      */
    def links(parsed: DataFrame, sitemapCand: Option[DataFrame]): DataFrame = {
      val candLinks = parsed
        .select(col("wave"), col("rank").as("parent_rank"), col("depth"),
          col("meta"), posexplode(col("links")).as(Seq("link_pos", "link")))
        .select(col("link._1").as("url"), col("link._2").as("parser_id"),
          col("parent_rank"), col("link_pos"),
          (col("depth") + 1).as("depth"), col("meta"), col("wave"))
      val cand = sitemapCand
        .map(candLinks.unionByName(_)).getOrElse(candLinks)
        .filter(col("depth") <= spec.maxDepth)
        .withColumn("host", hostOfU(col("url")))
        .withColumn("path", pathOfU(col("url")))
      if (spec.allowedDomains.isEmpty) cand
      else {
        val allowed = col("host").isin(spec.allowedDomains: _*)
        auditInc += auditRows(cand.filter(!allowed), "rejected_domain",
          method = lit("GET"))
        cand.filter(allowed)
      }
    }

    // ---- dedup -----------------------------------------------------------
    /** Intra-wave first-wins dedup (duplicate_requests.go:18), then the
      * seen-set anti-join (bloomDedup: Bloom prefilter first;
      * URLRevisitEnabled: none). Kept and filled once for its consumers,
      * by the job that counts its rows for the Bloom merge.
      */
    def dedup(cand: DataFrame): DataFrame = {
      val dw = Window.partitionBy(col("url"))
        .orderBy(col("parent_rank").asc, col("link_pos").asc)
      val candDeduped = cand
        .withColumn("rn", row_number().over(dw))
        .filter(col("rn") === 1).drop("rn")
      val (candNew, rows) = Kept(
        if (spec.urlRevisitEnabled) candDeduped
        else if (spec.bloomDedup) sketch.filterNew(candDeduped, seen.df)
        else candDeduped.join(seen.df, Seq("url"), "left_anti")
      ).fill(_.size.toLong)
      // candNew is filled, so no job still reads the old broadcast
      sketch.mergeIncrement(candNew.select(col("url")), rows.sum)
      candNew
    }

    /** Crawl-trap budget: cap each (host, digit-run path template) at
      * `budget` frontier entries per run. Saturated templates are a plain
      * filter; active ones rank (parent_rank, link_pos, url) and keep
      * n_prev + rank <= budget. Capped urls are audited and stay in `seen`.
      */
    def trapGate(candNew: DataFrame, budget: Int): DataFrame = {
      val withT = candNew.withColumn("template",
        regexp_replace(col("path"), "[0-9]+", "N"))
      val counts = trapCounts.getOrElse {
        import org.apache.spark.sql.types._
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          StructType(Seq(StructField("host", StringType),
            StructField("template", StringType),
            StructField("n_prev", LongType))))
      }
      val joined = withT
        .join(broadcast(counts), Seq("host", "template"), "left")
        .withColumn("n_prev", coalesce(col("n_prev"), lit(0L)))
      val saturated = joined.filter(col("n_prev") >= budget)
      val active = joined.filter(col("n_prev") < budget)
      val tw = Window.partitionBy(col("host"), col("template"))
        .orderBy(col("parent_rank").asc, col("link_pos").asc, col("url").asc)
      val rankedT = active.withColumn("t_rn",
        row_number().over(tw).cast("long"))
      val granted = rankedT
        .filter(col("n_prev") + col("t_rn") <= budget)
        .drop("t_rn")
      val capped = rankedT
        .filter(col("n_prev") + col("t_rn") > budget)
        .drop("t_rn")
        .unionByName(saturated)
      auditInc += auditRows(capped, "trap_capped", method = lit("GET"),
        detail = col("template"))
      val newCounts = granted.groupBy(col("host"), col("template"))
        .agg(count(lit(1)).as("n_inc"))
      // filled by the next wave's (or the commit's) first read
      trapCounts = Some(Kept(counts
        .join(newCounts, Seq("host", "template"), "full_outer")
        .select(col("host"), col("template"),
          (coalesce(col("n_prev"), lit(0L)) +
            coalesce(col("n_inc"), lit(0L))).as("n_prev"))).df)
      granted.drop("template", "n_prev")
    }

    // ---- assemble --------------------------------------------------------
    /** Next frontier = deferred < retries < new discoveries, ranked on the
      * side pool by ONE window over (group, order a, order b), where
      * discoveries order by (parent_rank, link_pos) and the others by their
      * rank; also grows `seen`. Returns the next frontier's future.
      * Sync-order mode (geziyor.go:225-227) ranks globally; scale mode
      * ranks inside the bucketed window of [[bucketRank]].
      */
    def assemble(candGranted: DataFrame, candNew: DataFrame,
        deferred: DataFrame,
        requeue: DataFrame): Future[(DataFrame, Long, Long)] = {
      val nextFrontier = candGranted
        .select(col("url"), col("host"), col("path"), col("depth"),
          lit("GET").as("method"), col("meta"), lit(0).as("retry"),
          lit(0).as("priority"), (col("wave") + 1).as("wave"),
          lit(0L).as("rank"),
          col("parser_id"), lit(false).as("is_retry"),
          col("parent_rank").as("ord_a"),
          col("link_pos").cast("long").as("ord_b"))

      // candNew is unique and anti-joined against seen: no distinct needed
      seen.add(candNew.select(col("url")))
      val assembled = deferred.withColumn("wave", col("wave") + 1)
        .withColumn("grp", lit(0))
        .withColumn("ord_a", col("rank")).withColumn("ord_b", lit(0L))
        .unionByName(requeue.withColumn("grp", lit(1))
          .withColumn("ord_a", col("rank")).withColumn("ord_b", lit(0L)))
        .unionByName(nextFrontier.withColumn("grp", lit(2)))
      // runs CONCURRENTLY with the audit fold (both read cached frames)
      val description = spark.sparkContext.getLocalProperty(JobDescription)
      val next = wave + 1
      Future {
        spark.sparkContext.setJobDescription(description)
        val order = Seq(col("grp").asc, col("ord_a").asc, col("ord_b").asc)
        checkpointFrontier(assembled.withColumn("rank",
            if (spec.syncOrder)
              row_number().over(Window.orderBy(order: _*)).cast("long")
            else bucketRank(order: _*))
          .drop("grp", "ord_a", "ord_b"), next)
      }(sideEc)
    }

    // ---- account ---------------------------------------------------------
    /** Append the wave's audit increment (with logDisabled, its crawled
      * rows become the crawled metric, counted by the job that fills it),
      * then take the next frontier from its side job.
      */
    def account(frontierF: Future[(DataFrame, Long, Long)]): Unit = {
      // Column names normalized for the delta parquet; filled NOW, while
      // granted is still kept.
      val raw = auditInc.reduce(_ union _).toDF(emptyAudit.columns: _*)
      val crawledKind = org.apache.spark.unsafe.types.UTF8String
        .fromString("crawled")
      // small waves collapse the branches into 4 tasks
      val inc = Kept(if (frontierN < 100000L) raw.coalesce(4) else raw)
      val crawled =
        inc.fill(_.count(_.getUTF8String(1) == crawledKind).toLong)._2.sum
      val kept =
        if (spec.logDisabled) Kept(inc.df.filter(col("kind") =!= "crawled"))
        else inc
      scrapeLock.synchronized {
        audit.add(kept)
        if (spec.logDisabled) addCounter("crawled", crawled)
      }
      adoptFrontier(Await.result(frontierF, Duration.Inf))
    }

    /** Commits the wave: each snapshot's frame (the AIMD caps and the trap
      * counts once their feature has started them), and each accumulator's
      * increments since its last commit.
      */
    def commit(dir: String): Unit =
      StateStore.commitWave(dir, wave,
        snapshots = Map("frontier" -> frontier, "cookies" -> cookieJar) ++
          hostCaps.map("host_caps" -> _) ++
          trapCounts.map("trap_counts" -> _),
        deltas = accumulators.flatMap { case (name, acc) =>
          acc.commit().map(name -> _)
        }.toMap)
  }

  /** RFC2616 serve decision over the cached entry's headers
    * (Freshness.decide), at the injected clock.
    */
  private def decideUdf(nowEpochSec: Long) = {
    val now = Instant.ofEpochSecond(nowEpochSec)
    val reqHeaders = CrawlSpec.DefaultHeaders
    udf((method: String, cached: Map[String, String]) =>
      Freshness.decide(method, reqHeaders, Option(cached), now) match {
        case Freshness.ServeCached => "serve_cached"
        case _: Freshness.Revalidate => "revalidate"
        case Freshness.FetchAndStore => "fetch"
        case Freshness.FetchNoStore => "fetch_no_store"
        case Freshness.GatewayTimeout504 => "gateway_504"
      })
  }
}
