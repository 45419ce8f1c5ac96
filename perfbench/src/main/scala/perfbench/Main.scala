package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.model.CrawlSpec

/** Benchmark entry point, launched by run.py. A closed loop: one
  * thread issues one crawl at a time into the engine at local[cores].
  *
  * crawl_s is the wall time of exactly one complete crawl, the first of a
  * fresh JVM, whatever `--seconds` says: a crawl is a batch job, and a batch
  * job pays the JVM's JIT and Spark's code generation on every run. This
  * engine needs about two full crawls before a crawl runs warm, which the
  * run's time budget cannot pay for. Set-up is the session start plus input
  * generation and cache fill (the median of several).
  *
  * `--trace 0` reports the end-to-end metrics. `--trace 1` times the same
  * first crawl with the benchmark's Spark listener attached, then an
  * untraced/traced/untraced triple of short crawls for the tracing
  * overhead and the workload's layer calls, and reports the per-layer
  * metrics; its spans go to `<out-dir>/traces`.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      cores: Int, heapGb: Int, runDir: String, outDir: String, runId: String,
      sourceSha: String)

  private def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("cores").toInt, m("heap-gb").toInt, m("run-dir"), m("out-dir"),
      m("run-id"), m("source-sha256"))
  }

  /** Input preparations per run; setup_s counts their median. */
  val SetupPasses = 3

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${args.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.runDir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = secs(t0)

    val workload: Workload = args.workload match {
      case "quotes" => new QuotesWorkload
      case "zipf-polite" => new ZipfWorkload(args.seed)
    }
    val tally = new Tally
    /** One checked crawl; a crawl that throws or fails its check counts as
      * failed and is never timed. */
    def checkedCrawl(spec: CrawlSpec = workload.spec): Option[(CrawlOut, Double)] = {
      val start = System.nanoTime()
      val out = try Right(workload.crawl(spark, spec))
        catch { case e: Exception => Left(e.toString) }
      val dt = secs(start)
      val checked = out.flatMap(o => workload.check(o, spec).toLeft(o))
      if (tally.record(checked.left.toOption)) checked.toOption.map((_, dt)) else None
    }

    val passes = (1 to SetupPasses).map { _ =>
      val start = System.nanoTime()
      workload.prepare(spark)
      secs(start)
    }
    val setupS = sessionS + median(passes)

    val metrics: Layers.Metrics = mutable.LinkedHashMap.empty
    val record = mutable.LinkedHashMap(
      "workload" -> args.workload, "seed" -> args.seed.toString,
      "trace" -> args.trace.toString, "seconds" -> args.seconds.toString,
      "cores" -> args.cores.toString,
      "heap_gb" -> args.heapGb.toString, "ram_mb" -> memTotalMb.toString,
      "spark_version" -> spark.version, "source_sha256" -> args.sourceSha,
      "session_s" -> sessionS.toString, "prepare_s" -> passes.mkString(","))
    if (!args.trace) {
      val first = checkedCrawl()
      val crawlS = first.fold(Double.NaN)(_._2)
      val pages = first.fold(0)(_._1.crawledUrls.size)
      metrics("setup_s") = (setupS, "s")
      metrics("crawl_s") = (crawlS, "s")
      metrics("pages_per_s") = (pages / crawlS, "1/s")
      metrics("heap_after_crawl_mb") = (liveHeapMb(first), "MB")
      record ++= Seq("waves" -> first.fold(0)(_._1.res.waves).toString,
        "pages" -> pages.toString)
    } else {
      val trace = new Trace(spark.sparkContext)
      trace.span(s"workload:${workload.name}") {
        val (first, span) = trace.span("crawl") { checkedCrawl() }
        trace.drain()
        for ((o, _) <- first) Layers.crawlMetrics(metrics, trace, span, o, args.cores)
        // untraced, traced, untraced on the short crawl: the overhead ratio
        // compares the traced one with the mean of its neighbours
        val short = workload.overheadSpec
        def untraced() = {
          trace.stop()
          try trace.span("crawl:untraced") { checkedCrawl(short) }._1 finally trace.start()
        }
        val u1 = untraced()
        val t = trace.span("crawl:traced") { checkedCrawl(short) }._1
        val u2 = untraced()
        for ((_, a) <- u1; (_, b) <- t; (_, c) <- u2)
          metrics("trace_overhead_ratio") = (b / ((a + c) / 2), "ratio")
        workload.traceLayers(spark, args.seed, args.runDir, first.map(_._1), trace, metrics,
          tally)
        workload.notExercised.foreach { case (k, u) => metrics(k) = (0.0, u) }
      }
      trace.drain()
      trace.stop()
      Files.createDirectories(Paths.get(args.outDir, "traces"))
      Files.writeString(Paths.get(args.outDir, "traces", s"${args.runId}.json"), trace.toJson)
    }
    record("failures") = tally.failures.mkString(" | ")
    writeRecord(args, record, metrics)

    val correct = tally.failed == 0
    val metricJson = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    spark.stop()
    println(s"""{"correct": $correct, "attempted": ${tally.attempted}, "failed": ${tally.failed}, """ +
      s""""metrics": {$metricJson}}""")
    System.exit(if (correct) 0 else 1)
  }

  def secs(startNs: Long): Double = (System.nanoTime() - startNs) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Heap in use after a full collection while `held` (the crawl's outputs)
    * is still referenced: the memory the engine retains for a crawl. Unlike
    * the resident set it does not depend on the initial heap the JVM is
    * started with (run.py pre-touches one). The first collection lets
    * Spark's cleaner thread drop the blocks of frames no longer referenced,
    * the second frees what it dropped. */
  def liveHeapMb(held: AnyRef): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    java.lang.ref.Reference.reachabilityFence(held)
    used / 1048576.0
  }

  def memTotalMb: Long = scala.io.Source.fromFile("/proc/meminfo").getLines()
    .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong / 1024).getOrElse(0L)

  /** Per-run record with the hardware, Spark version and source hash. */
  private def writeRecord(args: Args, env: collection.Map[String, String],
      metrics: collection.Map[String, (Double, String)]): Unit = {
    val envJson = env.toSeq.map { case (k, v) => s""""$k": "${Json.esc(v)}"""" }
    val mJson = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}""" }
    Files.createDirectories(Paths.get(args.outDir, "results"))
    Files.writeString(Paths.get(args.outDir, "results", s"${args.runId}.json"),
      s"""{${envJson.mkString(", ")}, "metrics": {${mJson.mkString(", ")}}}""" + "\n")
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "-1" else java.math.BigDecimal.valueOf(v).toPlainString
}
