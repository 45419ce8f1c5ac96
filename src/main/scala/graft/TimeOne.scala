package graft

import org.apache.spark.sql.SparkSession

/** Ad-hoc single-query timer: `runMain graft.TimeOne <queryName> [reps]`.
  * Runs one SparkEntry query against SPARK_GRAFT_SF_DIR (default sf0.01)
  * in the same session shape as the Bench queries phase — for profiling a
  * specific query without paying for the other 55.
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q17_crawl_quotes_e2e")
    val reps = if (args.length > 1) args(1).toInt else 1
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[32]"))
      .appName(s"graft-timeone-$name")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS", "64"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    try {
      (1 to reps).foreach { r =>
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(name)(spark, sfDir).count()
        println(f"TIMEONE $name rep=$r rows=$n secs=${(System.nanoTime() - t0) / 1e9}%.3f")
      }
    } finally spark.stop()
  }
}
