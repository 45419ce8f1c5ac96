package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.state.StateStore

/** Counts of checked operations; a failed one is never timed. */
final class Tally {
  var attempted, failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  def record(why: Option[String]): Boolean = {
    attempted += 1
    why.foreach { w =>
      failed += 1; failures += w; System.err.println(s"[perfbench] FAILED: $w")
    }
    why.isEmpty
  }
}

/** Per-layer metrics taken from a traced crawl: the Spark jobs under its
  * span and the engine's own CrawlResult tables. */
object Layers {
  type Metrics = mutable.LinkedHashMap[String, (Double, String)]

  /** What Probes reports. */
  val ProbeMetrics: Seq[(String, String)] = Seq(
    "html.parse_pages_per_s" -> "1/s", "html.parse_bytes_per_s" -> "B/s",
    "pipeline.parse_pages_per_s" -> "1/s", "url.resolve_per_s" -> "1/s",
    "pipeline.robots_checks_per_s" -> "1/s", "state.dedup_new_ratio" -> "ratio",
    "state.antijoin_s" -> "s", "state.bloom_filter_s" -> "s", "state.cuckoo_filter_s" -> "s",
    "state.bloom_maybe_ratio" -> "ratio")
  /** What `resume` reports. */
  val StateDirMetrics: Seq[(String, String)] = Seq("state.resume_s" -> "s",
    "state.bytes_written_per_wave" -> "bytes", "state.read_deltas_s" -> "s")

  def crawlMetrics(m: Metrics, trace: Trace, span: Trace.Span, out: CrawlOut,
      cores: Int): Unit = {
    val jobs = trace.jobsUnder(span)
    val wallS = (span.end - span.start) / 1000.0
    val activeS = trace.jobActiveMs(span) / 1000.0
    val stages = jobs.map(_.stages).sum
    val tasks = jobs.map(_.tasks).sum
    val taskS = jobs.map(_.runMs).sum / 1000.0
    val waves = out.res.waves
    m("spark.jobs") = (jobs.size.toDouble, "count")
    m("spark.jobs_per_wave") = (jobs.size.toDouble / waves, "count")
    m("spark.stages") = (stages.toDouble, "count")
    m("spark.tasks") = (tasks.toDouble, "count")
    m("spark.tasks_per_stage") = (tasks.toDouble / math.max(stages, 1), "count")
    m("spark.task_run_s") = (taskS, "s")
    m("spark.gc_s") = (jobs.map(_.gcMs).sum / 1000.0, "s")
    m("spark.job_active_s") = (activeS, "s")
    m("spark.busy_share") = (taskS / (wallS * cores), "ratio")
    m("spark.shuffle_read_bytes") = (jobs.map(_.shuffleRead).sum.toDouble, "bytes")
    m("spark.shuffle_write_bytes") = (jobs.map(_.shuffleWrite).sum.toDouble, "bytes")
    m("spark.spill_bytes") = (jobs.map(_.spill).sum.toDouble, "bytes")

    val res = out.res
    val crawled = out.crawledUrls.size.toDouble
    val frontierRows = res.metrics.filter(col("metric") === "frontier_size")
      .agg(sum(col("value"))).head().get(0) match {
        case null => 0.0
        case v => v.toString.toDouble
      }
    val skew = res.lineage.groupBy(col("wave"))
      .agg((max(col("n_rows")) / avg(col("n_rows"))).as("skew"))
      .agg(avg(col("skew"))).head().get(0) match {
        case null => 0.0
        case v => v.toString.toDouble
      }
    m("pipeline.driver_gap_s") = (wallS - activeS, "s")
    m("pipeline.waves") = (waves.toDouble, "count")
    m("pipeline.crawled") = (crawled, "count")
    m("pipeline.robots_blocked") =
      (res.audit.filter(col("kind") === "robots_forbidden").count().toDouble, "count")
    m("pipeline.frontier_rows_per_crawled") = (frontierRows / crawled, "ratio")
    m("pipeline.grant_skew") = (skew, "ratio")
  }

  /** Kill-and-resume: the workload's crawl stopped after a fixed wave with
    * a state dir, then resumed to completion from it. Records, seen set and
    * crawl order must equal the uninterrupted crawl's, and no url may be
    * fetched by both calls. */
  def resume(spark: SparkSession, w: Workload, full: Option[CrawlOut], dir: String,
      trace: Trace, m: Metrics, tally: Tally): Unit = {
    val kill = full.fold(3)(o => math.max(1, math.min(3, o.res.waves / 2)))
    val (partial, _) = trace.span("resume:killed") {
      w.crawl(spark, w.spec.copy(maxWaves = kill), Some(dir))
    }
    val (resumed, span) = trace.span("resume:resumed") { w.crawl(spark, w.spec, Some(dir)) }
    val refetched = partial.crawledUrls.toSet intersect
      resumed.order.filter(_._1 >= kill).map(_._3).toSet
    val why = w.check(resumed, w.spec).orElse(full.flatMap { f =>
      if (resumed.records.sorted != f.records.sorted) Some("resumed records differ")
      else if (resumed.seen != f.seen) Some("resumed seen set differs")
      else if (resumed.order.sorted != f.order.sorted) Some("resumed crawl order differs")
      else None
    }).orElse(
      if (refetched.nonEmpty) Some(s"resume re-fetched ${refetched.take(3)}") else None)
    tally.record(why.map("resume: " + _))

    val bytes = Files.walk(Paths.get(dir)).filter(Files.isRegularFile(_))
      .mapToLong(Files.size(_)).sum()
    val latest = StateStore.latestCommitted(dir).getOrElse(0)
    val reads = (1 to 3).map { _ =>
      val t = System.nanoTime()
      trace.span("state:read_deltas") {
        Seq("seen", "records", "audit", "crawl_order")
          .foreach(t => StateStore.readDeltas(spark, dir, t, latest).foreach(_.count()))
      }
      Main.secs(t)
    }
    m("state.resume_s") = ((span.end - span.start) / 1000.0, "s")
    m("state.bytes_written_per_wave") = (bytes.toDouble / resumed.res.waves, "bytes")
    m("state.read_deltas_s") = (Main.median(reads), "s")
  }
}
