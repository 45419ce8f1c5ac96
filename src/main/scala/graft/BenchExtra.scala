package graft

import org.apache.spark.sql.SparkSession

/** Profiling main for optimization work — NOT part of the benchmark
  * contract (Bench.scala is frozen). Replicates Bench's queries phase:
  * its session shape and name-ordered execution, printing one
  * `EXTRA <name> <secs>` line per query run plus a total, so per-query
  * effects of a change can be measured in the shape Bench times.
  *
  * `runMain graft.BenchExtra [query-prefixes] [reps]`: run only the queries
  * whose names start with one of the comma-separated prefixes (default:
  * all), each `reps` times (default 1), still in name order.
  *
  * Flags:
  *  - GRAFT_CLEAN_BETWEEN=1: after each query's count, drop every persistent
  *    RDD and clear the cache manager — isolates the "session pollution"
  *    hypothesis (leaked checkpoint/persist blocks from earlier queries
  *    slowing later ones via storage-pool pressure and GC).
  *  - SPARK_GRAFT_CPUS: local[N] threads (default: this machine's cores).
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val prefixes = args.headOption.map(_.split(",").map(_.trim).toSet)
      .getOrElse(Set.empty[String])
    val reps = if (args.length > 1) args(1).toInt else 1
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val clean = sys.env.getOrElse("GRAFT_CLEAN_BETWEEN", "0") == "1"
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName("graft-bench-extra")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS", "64"))
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    try {
      // same warmup query the bench uses
      try SparkEntry.queries("q20_dedup_exact")(spark, sfDir).count()
      catch { case e: Exception => println(s"EXTRA warm-up FAILED: $e") }
      var total = 0.0
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        if (prefixes.isEmpty || prefixes.exists(name.startsWith))
          (1 to reps).foreach { _ =>
            val t0 = System.nanoTime()
            try { fn(spark, sfDir).count() }
            catch { case e: Exception => println(s"EXTRA $name FAILED: $e") }
            val secs = (System.nanoTime() - t0) / 1e9
            total += secs
            println(f"EXTRA $name $secs%.3f")
            if (clean) {
              spark.sharedState.cacheManager.clearCache()
              spark.sparkContext.getPersistentRDDs.values
                .foreach(_.unpersist(blocking = false))
            }
          }
      }
      println(f"EXTRA_TOTAL $total%.3f clean=$clean")
    } finally spark.stop()
  }
}
