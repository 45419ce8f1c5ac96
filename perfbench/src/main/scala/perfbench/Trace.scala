package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** The traced run's record: spans opened by the benchmark around
  * each call into the engine (workload → crawl/probe call) plus the
  * Spark jobs a listener saw, each job attached as a leaf to the innermost
  * span whose interval holds its start. Kept in memory; written once at the
  * end of the run. Times are epoch milliseconds.
  */
object Trace {
  final case class Span(id: Int, parent: Int, name: String, start: Long, var end: Long)

  final class JobStats(val id: Int, val start: Long) {
    var end: Long = start
    var stages, tasks = 0
    var runMs, gcMs, shuffleRead, shuffleWrite, spill = 0L
  }
}

final class Trace(sc: SparkContext) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val jobs = mutable.LinkedHashMap.empty[Int, JobStats]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      jobs(e.jobId) = new JobStats(e.jobId, e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      for (j <- stageJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
  start()

  /** Attach or detach the listener; spans are recorded either way. */
  def start(): Unit = sc.addSparkListener(listener)
  /** Run `body` inside a named span; returns its value and the span. */
  def span[T](name: String)(body: => T): (T, Span) = {
    val s = Span(spans.size, open.headOption.fold(-1)(_.id), name,
      System.currentTimeMillis(), -1L)
    synchronized { spans += s }
    open = s :: open
    try (body, s)
    finally {
      s.end = System.currentTimeMillis()
      open = open.tail
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def stop(): Unit = sc.removeSparkListener(listener)

  private def childSpans(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Jobs whose start falls in `s` and in none of its child spans. */
  private def ownJobs(s: Span): Seq[JobStats] = synchronized {
    val kids = childSpans(s)
    jobs.values.filter(j => j.start >= s.start && j.start <= s.end &&
      !kids.exists(k => j.start >= k.start && j.start <= k.end)).toSeq
  }

  /** Jobs under `s` or any of its descendants. */
  def jobsUnder(s: Span): Seq[JobStats] = synchronized {
    jobs.values.filter(j => j.start >= s.start && j.start <= s.end).toSeq
  }

  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  private def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total, reach = 0L
    reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** Wall time covered by the jobs under `s`, in ms. */
  def jobActiveMs(s: Span): Long =
    covered(jobsUnder(s).map(j => (j.start, j.end)), s.start, s.end)

  /** A span's self time: its duration minus what its child spans and its
    * own Spark jobs cover. */
  def selfMs(s: Span): Long = {
    val kids = childSpans(s).map(k => (k.start, k.end)) ++
      ownJobs(s).map(j => (j.start, j.end))
    (s.end - s.start) - covered(kids, s.start, s.end)
  }

  def toJson: String = synchronized {
    val spanRows = spans.map { s =>
      val own = ownJobs(s)
      f"""{"id":${s.id},"parent":${s.parent},"name":"${Json.esc(s.name)}",""" +
        f""""start_ms":${s.start},"end_ms":${s.end},"self_ms":${selfMs(s)},""" +
        f""""jobs":[${own.map(_.id).mkString(",")}]}"""
    }
    val jobRows = jobs.values.map { j =>
      f"""{"id":${j.id},"start_ms":${j.start},"end_ms":${j.end},""" +
        f""""stages":${j.stages},"tasks":${j.tasks},"task_run_ms":${j.runMs},""" +
        f""""gc_ms":${j.gcMs},"shuffle_read_bytes":${j.shuffleRead},""" +
        f""""shuffle_write_bytes":${j.shuffleWrite},"spill_bytes":${j.spill}}"""
    }
    s"""{"spans":[${spanRows.mkString(",\n")}],\n"jobs":[${jobRows.mkString(",\n")}]}"""
  }
}
