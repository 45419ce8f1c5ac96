package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 (plus the training-data
  * pipeline extensions) is one entry in `queries`, with a DuckDB oracle in
  * `oracleSql` where the semantics are ANSI-SQL-expressible.
  */
object SparkEntry {

  /** All query groups. */
  private def groups: Seq[Q] =
    CrawlQueries.all ++ PipelineQueries.all ++ TextQueries.all ++
      SimQueries.all ++ EventQueries.all ++ MultimodalQueries.all ++
      FunctionQueries.all ++ GraphQueries.all ++ QualityQueries.all ++
      WebCorpusQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The full end-to-end quotes crawl: seed → politeness → robots → fetch
    * join → extract → frontier expansion → 100 records in crawl order.
    */
  def entry(spark: SparkSession): DataFrame =
    PipelineQueries.qCrawlQuotes.run(spark, "/root/testdata/sf0.001")

  /** Session hygiene at query entry: drop storage blocks leaked by EARLIER
    * (already-materialized) queries — eagerly-localCheckpointed level/wave
    * frames and persisted join caches whose results were consumed long ago
    * but whose blocks linger until the driver's GC lets the ContextCleaner
    * run. In a long same-session sweep (the bench queries phase runs ~104
    * queries in one 22 GB local[32] JVM) the leaked blocks squeeze the
    * unified memory pool's execution share and the measured effect is
    * severe: a controlled A/B (BenchExtra, sf0.1) put the same name-ordered
    * sweep at 165.7 s without the cleanup and 98.0 s with it (q45 28→2.1 s,
    * q72 13.2→1.5 s, q44 11.6→1.5 s). Callers of this map (Bench, Verify,
    * BenchExtra) all fully materialize each query before invoking the next, so
    * nothing live is ever dropped; this frees memory, it caches nothing.
    * A failure here propagates: a session that cannot release its blocks
    * would skew every later query's timing.
    */
  private def cleanSession(s: SparkSession): Unit = {
    s.sharedState.cacheManager.clearCache()
    s.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    groups.map(q => q.name -> { (s: SparkSession, dir: String) =>
      cleanSession(s)
      q.run(s, dir)
    }).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    groups.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
