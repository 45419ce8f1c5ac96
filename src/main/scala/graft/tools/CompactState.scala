package graft.tools

import org.apache.spark.sql.SparkSession
import graft.state.StateStore

/** Maintenance entry point for checkpointed crawls: compact a state dir's
  * accumulator deltas up to the latest committed wave (Iceberg
  * rewrite_data_files + snapshot-expiration analog — see
  * `StateStore.compactDeltas`). Run BETWEEN crawl runs, never inside one:
  * `sbt "runMain graft.tools.CompactState <stateDir> [table...]"`.
  * Defaults to every delta table under `<stateDir>/delta/`.
  */
object CompactState {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: CompactState <stateDir> [table...]")
    val dir = args(0)
    val tables =
      if (args.length > 1) args.drop(1).toSeq
      else StateStore.deltaTables(dir)
    val w = StateStore.latestCommitted(dir).getOrElse {
      println(s"nothing committed at $dir — nothing to compact"); return
    }
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[4]"))
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .appName("graft-compact-state")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try tables.foreach { t =>
      StateStore.compactDeltas(spark, dir, t, w)
      println(s"compacted $t to base=$w")
    } finally spark.stop()
  }
}
