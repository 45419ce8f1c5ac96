package graft.state

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned Parquet state tables with an atomic snapshot manifest —
  * the sandbox realization of the Iceberg state tables in BASELINE.json
  * (no Iceberg jars offline; SURVEY.md §7). Semantics preserved: exact
  * resume, readers only ever see fully-committed snapshots, swappable to
  * real Iceberg later.
  *
  * Two table families (Iceberg-style snapshot semantics); the store
  * knows no table by name, only its family:
  *  - SNAPSHOT tables: current state, rewritten whole per wave at
  *    `{dir}/wave={N}/{table}`, each bounded by what is live (frontier,
  *    hosts, templates), not by crawl history.
  *  - DELTA tables: append-only accumulators. A wave commits ONLY the
  *    increments added since the table's last commit, under
  *    `{dir}/delta/{table}/wave={N}`, and a wave that added none writes
  *    nothing; a reader unions the committed increments. Rewriting the
  *    full accumulation per wave would be O(total × waves) write
  *    amplification — a scale-killer for long checkpointed crawls.
  *
  * Atomicity: the commit marker `{dir}/_COMMIT_{N}` is written only after
  * every snapshot table and delta increment of wave N is durably on disk.
  * A reader taking max committed N can never observe a torn snapshot, and
  * `readDeltas` unions increments only up to that N — a half-written
  * increment from a crashed wave N+1 is invisible, and overwritten or
  * removed when the resumed run commits the wave again.
  */
object StateStore {

  def commitWave(
      dir: String,
      wave: Int,
      snapshots: Map[String, DataFrame],
      deltas: Map[String, DataFrame] = Map.empty): Unit = {
    snapshots.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dir/wave=$wave/$name")
    }
    deltas.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dir/delta/$name/wave=$wave")
    }
    // a table that commits nothing this wave drops the increment a crashed
    // run may have left at this wave
    deltaTables(dir).filterNot(deltas.contains)
      .foreach(name => rmTree(new java.io.File(s"$dir/delta/$name/wave=$wave")))
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(s"$dir/_COMMIT_$wave"), Array.emptyByteArray)
  }

  def latestCommitted(dir: String): Option[Int] = {
    val d = new java.io.File(dir)
    if (!d.exists()) return None
    val waves = d.listFiles().toSeq
      .map(_.getName).filter(_.startsWith("_COMMIT_"))
      .map(_.stripPrefix("_COMMIT_").toInt)
    if (waves.isEmpty) None else Some(waves.max)
  }

  /** The delta tables under `dir`, by name, sorted. */
  def deltaTables(dir: String): Seq[String] =
    Option(new java.io.File(s"$dir/delta").list()).toSeq.flatten.sorted

  def read(spark: SparkSession, dir: String, wave: Int, name: String): DataFrame =
    spark.read.parquet(s"$dir/wave=$wave/$name")

  /** Union of a delta table's committed increments for waves ≤ `upToWave`,
    * reading a compaction base (`base=B`, see [[compactDeltas]]) plus the
    * uncompacted tail when one exists. None when no increment exists
    * (caller supplies its empty frame — the store doesn't know schemas).
    *
    * Wave directories already covered by the chosen base are IGNORED by
    * protocol — a compactor that crashed between its atomic base rename
    * and its best-effort cleanup leaves them behind without affecting
    * readers.
    */
  def readDeltas(spark: SparkSession, dir: String, name: String,
      upToWave: Int): Option[DataFrame] = {
    val base = new java.io.File(s"$dir/delta/$name")
    if (!base.exists()) return None
    val names = base.listFiles().toSeq.map(_.getName)
    val bases = names.filter(_.startsWith("base="))
      .map(_.stripPrefix("base=").toInt)
    val horizon = bases.filter(_ <= upToWave).sorted.lastOption
    if (bases.nonEmpty && horizon.isEmpty)
      throw new IllegalStateException(
        s"delta table $name at $dir is compacted to wave ${bases.min}+ — " +
          s"history below that horizon was expired (Iceberg snapshot " +
          s"expiration semantics); asOf/readDeltas(upToWave=$upToWave) is " +
          "no longer answerable")
    val floor = horizon.getOrElse(-1)
    val waves = names.filter(_.startsWith("wave="))
      .map(_.stripPrefix("wave=").toInt)
      .filter(w => w > floor && w <= upToWave).sorted
    val paths = horizon.map(b => s"$dir/delta/$name/base=$b").toSeq ++
      waves.map(w => s"$dir/delta/$name/wave=$w")
    if (paths.isEmpty) None
    // one multi-path scan, not an N-deep union: a long checkpointed crawl
    // has thousands of committed increments, and a union plan that deep is
    // itself a driver-side scale problem (plan size/optimization cost grows
    // with wave count; a single FileScan over N directories does not)
    else Some(spark.read.parquet(paths: _*))
  }

  /** Compact a delta table's committed increments ≤ `upToWave` into one
    * `base=<upToWave>` directory — the Iceberg `rewrite_data_files` +
    * snapshot-expiration analog. A 10,000-wave crawl otherwise carries
    * 10,000 increment directories per accumulator: the multi-path scan
    * stays one FileScan, but file-listing cost, open-file counts, and
    * small-file overhead all grow with wave count. Run it as a
    * maintenance job BETWEEN crawl runs (or from a scheduler), not inside
    * the wave loop — each run costs O(accumulated size), so schedule it
    * geometrically (e.g. when the uncompacted tail outweighs the base),
    * never per-wave.
    *
    * Crash safety: the compacted data is written to a temp dir and
    * published with ONE atomic directory rename to `base=<W>`; covered
    * `wave=` dirs and older bases are then deleted best-effort (readers
    * ignore them by protocol, so a crash mid-cleanup is harmless).
    * Trade-off (documented Iceberg parity): time travel BELOW the
    * compaction horizon is expired — readDeltas/asOf for an earlier wave
    * fail loudly instead of silently over-reading.
    */
  def compactDeltas(spark: SparkSession, dir: String, name: String,
      upToWave: Int): Unit = {
    val merged = readDeltas(spark, dir, name, upToWave).getOrElse(return)
    val tmp = s"$dir/delta/$name/_base_tmp_$upToWave"
    merged.write.mode("overwrite").parquet(tmp)
    val target = Paths.get(s"$dir/delta/$name/base=$upToWave")
    // self-overwrite guard (re-compacting at the same horizon): the rename
    // below must create, not nest
    if (Files.exists(target)) rmTree(target.toFile)
    Files.move(Paths.get(tmp), target,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    // best-effort cleanup of covered increments and superseded bases
    val root = new java.io.File(s"$dir/delta/$name")
    root.listFiles().foreach { f =>
      val n = f.getName
      val covered =
        (n.startsWith("wave=") && n.stripPrefix("wave=").toInt <= upToWave) ||
          (n.startsWith("base=") && n.stripPrefix("base=").toInt < upToWave)
      if (covered) rmTree(f)
    }
  }

  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(); ()
  }

  /** Time travel (Iceberg-snapshot semantics): a table exactly as wave
    * `wave` committed it — snapshot tables read back verbatim, delta
    * tables as the union of increments ≤ wave. Later waves never disturb
    * an earlier committed view.
    */
  def asOf(spark: SparkSession, dir: String, wave: Int, name: String,
      delta: Boolean): Option[DataFrame] = {
    val committed = latestCommitted(dir).exists(_ >= wave) &&
      new java.io.File(s"$dir/_COMMIT_$wave").exists()
    if (!committed) None
    else if (delta) readDeltas(spark, dir, name, wave)
    else if (hasTable(dir, wave, name)) Some(read(spark, dir, wave, name))
    else None
  }

  def hasTable(dir: String, wave: Int, name: String): Boolean =
    new java.io.File(s"$dir/wave=$wave/$name").exists()
}
