package graft

import org.apache.spark.sql.SparkSession

/** Single scaling measurement in a fresh JVM (spawned by Bench, optionally
  * under `taskset`): args = <master> <benchN> [reps]. Builds the wave
  * inputs ONCE, runs one untimed warm-up wave + `reps` timed waves over
  * them, prints one line `URLS_PER_SEC <best>`.
  *
  * Why a subprocess: the fair N-vs-4N-executor comparison gives the
  * 1-executor baseline 1/4 of the MACHINE (8 pinned CPUs and their share of
  * bandwidth), exactly what one node of a 4-node cluster owns — an unpinned
  * 8-thread run borrows the whole socket's cache/bandwidth/turbo and
  * understates scale-out efficiency. CPU affinity is inherited by the
  * local-cluster executor JVMs this process spawns.
  *
  * The parent merges and drains this process's stderr (round-1 lesson: an
  * undrained pipe deadlocks the child once Spark's startup logging fills it).
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val master = args(0)
    val n = args(1).toLong
    val reps = if (args.length > 2) args(2).toInt else 2
    val builder = SparkSession.builder()
      .master(master)
      .appName("graft-bench-one")
      .config("spark.executor.memory",
        sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM", "9g"))
      .config("spark.executor.extraClassPath", Bench.classesDir)
      // pre-touched initial heap: allocation faults land at executor START
      // (before the untimed warm-up) instead of inside timed windows — this
      // microVM pays heavy host-side fault costs under load
      // ParallelGCThreads=8: an executor JVM sizes its GC thread pool from
      // the MACHINE's 32 cores, so 4 executors would run up to 128 GC
      // threads contending for 32 cores; a real cluster executor gets GC
      // threads ~ its own core count (measured +3-5% at 4x8)
      .config("spark.executor.extraJavaOptions",
        sys.env.getOrElse("SPARK_GRAFT_EXEC_GC",
          "-XX:+UseParallelGC -XX:ParallelGCThreads=8 -Xms8g -XX:+AlwaysPreTouch"))
      // keep shuffle lz4 (uncompressed loopback fetch measured SLOWER at
      // 4 executors: 4-5x more bytes through TCP); bigger in-flight windows
      // + file buffers cut reducer fetch-wait (profiled ~30% of reduce time)
      .config("spark.reducer.maxSizeInFlight", "128m")
      .config("spark.shuffle.file.buffer", "1m")
      // 32 shuffle partitions with AQE coalescing OFF: exactly one reduce
      // task per core at the 4x8 layout. AQE's 64MB-target coalescing
      // produced 44-49-task stages = 1.4 uneven task-waves over 32 cores
      // (measured ~8% wall loss); ragged counts also hurt the 8-core
      // config's 9-task stages (one straggler per stage).
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // prefer shuffled-hash over sort-merge: every big join in the wave
      // (seen anti-join, fetch left join) is a plain equi-join whose build
      // side fits executor memory per-partition — SHJ skips both sorts
      .config("spark.sql.join.preferSortMergeJoin",
        sys.env.getOrElse("SPARK_GRAFT_PREFER_SMJ", "false"))
      // tmpfs shuffle scratch when it has headroom (ext4 scratch costs heavy
      // kernel time on this microVM — round-1 lesson re-learned in round 2:
      // a /tmp scratch dir halved 4-executor throughput)
      .config("spark.local.dir", {
        val shm = new java.io.File("/dev/shm")
        if (shm.exists() && shm.getUsableSpace > 24L * (1L << 30))
          "/dev/shm/graft-spark-one"
        else "/tmp/graft-spark-one"
      })
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // per-executor quarter pinning (PinPlugin): each executor JVM tasksets
    // itself to its own 8-core slice so host pressure hits the 1- and
    // 4-executor configs symmetrically. local-cluster masters only — in
    // local[n] mode the "executor" IS the whole JVM and pinning it to one
    // quarter would throttle the 32-thread config to 8 cores.
    val builderPinned =
      if (master.startsWith("local-cluster") &&
          sys.env.getOrElse("SPARK_GRAFT_PIN_QUARTERS", "").nonEmpty)
        builder.config("spark.plugins", "graft.PinPlugin")
      else builder
    // ad-hoc conf overrides for perf experiments:
    //   SPARK_GRAFT_CONF="spark.sql.adaptive.enabled=false;spark.foo=bar"
    val withConf = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .foldLeft(builderPinned) { (b, kv) =>
        val Array(k, v) = kv.split("=", 2); b.config(k, v)
      }
    val spark = withConf.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val bestSecs = Bench.waveBench(spark, n, reps)
    println(f"URLS_PER_SEC ${n / bestSecs}%.0f")
    System.out.flush()
    spark.stop()
  }
}
