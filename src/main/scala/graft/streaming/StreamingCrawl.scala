package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.state.SeenSet

/** Structured-Streaming face of the crawl engine: continuously arriving
  * URLs (a live frontier feed) flow through the same dedup/politeness/fetch
  * semantics as the batch waves.
  *
  *  - `dedupStream`: URL-seen dedup as keyed state (mapGroupsWithState) —
  *    the stream twin of the seen-set anti-join; state lives in the
  *    streaming state store, checkpointed like the batch state table.
  *  - `hostThrottle`: per-host token budget per micro-batch via
  *    flatMapGroupsWithState — the stream twin of the politeness window
  *    (SURVEY.md §2.2 delay middleware).
  *  - `foreachBatchCrawl`: the full wave step per micro-batch — persist the
  *    batch once, fan out to sinks (geziyor.go:326-364 exporter semantics).
  */
object StreamingCrawl {

  final case class UrlEvent(url: String, host: String, batchTs: Long)

  /** Emit each url the first time it's ever seen (across micro-batches). */
  def dedupStream(urls: Dataset[UrlEvent]): Dataset[String] = {
    import urls.sparkSession.implicits._
    urls.groupByKey(_.url)
      .mapGroupsWithState[Boolean, Option[String]](
        GroupStateTimeout.NoTimeout) {
        case (url, _, state: GroupState[Boolean]) =>
          if (state.exists) None
          else { state.update(true); Some(url) }
      }
      .flatMap(_.toSeq)
  }

  /** Grant at most `k` urls per host per micro-batch invocation; excess is
    * DEFERRED into state and re-emitted in later batches (politeness never
    * drops, it delays — middleware/delay.go semantics).
    */
  def hostThrottle(urls: Dataset[UrlEvent], k: Int): Dataset[String] = {
    import urls.sparkSession.implicits._
    urls.groupByKey(_.host)
      .flatMapGroupsWithState[List[String], String](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (_, it, state: GroupState[List[String]]) =>
          val pending = state.getOption.getOrElse(Nil) ++
            it.map(_.url).toList
          val (grant, defer) = pending.splitAt(k)
          state.update(defer)
          grant.iterator
      }
  }

  /** Full micro-batch crawl step: per batch, dedup against the persistent
    * seen table, fetch-join the corpus, extract, fan out one persisted batch
    * to every sink.
    */
  def foreachBatchCrawl(
      spark: SparkSession,
      urlStream: DataFrame,     // streaming DF with `url` column
      pages: DataFrame,
      seenTablePath: String,
      sinks: Seq[DataFrame => Unit]) = {
    // One Bloom prefilter for the query's lifetime, as in the batch wave
    // loop: bootstrapped from the persisted seen table on the first batch
    // that has one, then merged with each batch's fresh urls.
    val sketch = new SeenSet.Sketch
    urlStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val batchUrls = batch.select(col("url")).distinct()
        // persisted: the sinks, the seen-table append and the sketch merge
        // all read one computation of the batch's new urls
        val fresh =
          (if (new java.io.File(seenTablePath).exists())
            sketch.filterNew(batchUrls, spark.read.parquet(seenTablePath))
          else batchUrls).persist()
        val fetched = fresh.join(
          pages.select(col("url"), col("status"), col("text")),
          Seq("url"), "left")
        fetched.persist()
        try {
          sinks.foreach(_(fetched))
          fresh.write.mode("append").parquet(seenTablePath)
          sketch.mergeIncrement(fresh, fresh.count())
        } finally { fetched.unpersist(); fresh.unpersist() }
        ()
      }
  }
}
