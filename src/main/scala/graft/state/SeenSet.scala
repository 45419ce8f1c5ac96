package graft.state

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** URL-seen dedup at 10^10-URL scale (SURVEY.md §2.2 — the engine's
  * centerpiece; reference: middleware/duplicate_requests.go:16-26).
  *
  * Two layers, preserving the exact-set invariant:
  *  1. a Bloom filter over the seen table, broadcast and consulted before
  *     the shuffle;
  *  2. the exact anti-join against the seen state table.
  *
  * The Bloom can only say "definitely NOT seen" (no false negatives by
  * construction) — those rows skip the anti-join shuffle entirely. "Maybe
  * seen" rows (true positives + fp-rate false positives) take the exact
  * anti-join, so a false positive can never drop a genuinely-new URL.
  * At steady crawl state most candidates are dupes of the seen set, so the
  * shuffle shrinks to ~(new + fpp·new) rows instead of all candidates.
  *
  * [[Sketch]] owns the filter's whole lifecycle for one crawl
  * (`CrawlJob.run`) or one stream (`StreamingCrawl.foreachBatchCrawl`):
  * it is never rebuilt from the full seen set inside the loop. Bit-ors are
  * associative, so each wave builds a filter over ONLY its increment (same
  * capacity/fpp → compatible bit layout) and `mergeInPlace`s it into the
  * running filter — O(increment) per wave. When the running count outgrows
  * the capacity headroom the filter is rebuilt 4× larger from the full seen
  * set — a geometric series, so total rebuild work over the whole crawl is
  * O(final seen size).
  *
  * Deployment note (10^10 keys): one monolithic Bloom is ~9 GB — shard it
  * per frontier url-hash range (one filter per range, each sized for its
  * range, consulted co-partitioned), which also caps the per-wave
  * increment-filter allocation at range size.
  */
object SeenSet {

  /** Test hook: counts FULL-seen-set sketch builds (a Sketch's bootstrap
    * and regrowths). SeenSetSpec asserts a multi-wave crawl performs
    * O(log growth) builds, not one per wave — the round-3 scale-killer.
    */
  val fullBuilds = new java.util.concurrent.atomic.AtomicInteger(0)

  // ---- Bloom layer --------------------------------------------------------

  /** Design false-positive rate: ~7.3 bits per url (see the deployment
    * note for what that means at 10^10 urls).
    */
  private val Fpp = 0.03

  final case class Layered(bloom: BloomFilter, seen: DataFrame)

  /** One-shot Bloom over the seen table, sized for `expected` urls. */
  def build(seen: DataFrame, expected: Long, fpp: Double = Fpp): Layered =
    Layered(seen.stat.bloomFilter("url", math.max(expected, 1L), fpp), seen)

  /** Candidates NOT in the seen set — exact, Bloom-accelerated. One-shot:
    * the broadcast lives as long as the returned plan; loops use [[Sketch]],
    * which keeps exactly one live broadcast.
    */
  def filterNew(cand: DataFrame, layered: Layered): DataFrame =
    probe(cand, cand.sparkSession.sparkContext.broadcast(layered.bloom),
      layered.seen)

  /** The prefilter's row predicate. A named class rather than a lambda so
    * a plan's Bloom broadcast can be found in its ScalaUDF (StreamingSpec).
    */
  private[graft] final case class MightContain(bc: Broadcast[BloomFilter])
      extends (String => Boolean) {
    def apply(u: String): Boolean = bc.value.mightContain(u)
  }

  private def probe(cand: DataFrame, bc: Broadcast[BloomFilter],
      seen: DataFrame): DataFrame = {
    val mightContain = udf(MightContain(bc))
    val definitelyNew = cand.filter(!mightContain(col("url")))
    val maybeSeen = cand.filter(mightContain(col("url")))
    definitelyNew.union(maybeSeen.join(seen, Seq("url"), "left_anti"))
  }

  /** The Bloom prefilter of one crawl or one stream, from bootstrap to
    * release. Call `filterNew` with each wave's candidates and the current
    * seen table, `mergeIncrement` with the wave's materialized new urls, and
    * `close` at the end. It holds exactly one live broadcast: every change
    * to the filter destroys the broadcast before publishing the next one.
    * Not thread-safe; one loop drives it.
    */
  final class Sketch {
    private var bloom: BloomFilter = null
    private var capacity = 0L
    private var seenCount = 0L
    private var bc: Broadcast[BloomFilter] = null

    /** Urls the filter covers: the bootstrap count plus every increment. */
    def count: Long = seenCount

    /** The live broadcast of the filter, once bootstrapped. */
    def broadcast: Option[Broadcast[BloomFilter]] = Option(bc)

    /** Candidates NOT in `seen` — exact. Bootstraps the filter from `seen`
      * on first use (one count) and rebuilds it once the running count
      * outgrows its capacity; the returned plan reads the live broadcast,
      * so materialize it before the next `mergeIncrement`.
      */
    def filterNew(cand: DataFrame, seen: DataFrame): DataFrame = {
      if (bloom == null) rebuild(seen, seen.count())
      else if (seenCount > capacity) rebuild(seen, seenCount)
      probe(cand, bc, seen)
    }

    /** OR the increment's urls into the filter — O(|increment|), never
      * rescans the accumulated seen set. A no-op until bootstrapped, so a
      * loop may call it whether or not it probes.
      */
    def mergeIncrement(inc: DataFrame): Unit = if (bloom != null) {
      val n = inc.count()
      if (n > 0) {
        bloom.mergeInPlace(inc.stat.bloomFilter("url", capacity, Fpp))
        seenCount += n
        publish(inc)
      }
    }

    /** Destroys the live broadcast and drops the filter. */
    def close(): Unit = {
      if (bc != null) bc.destroy()
      bc = null
      bloom = null
    }

    /** Full build from the seen table with 4× headroom, so the following
      * waves merge in place.
      */
    private def rebuild(seen: DataFrame, n: Long): Unit = {
      fullBuilds.incrementAndGet()
      capacity = math.max(4 * math.max(n, 1L), 1L << 20)
      bloom = seen.stat.bloomFilter("url", capacity, Fpp)
      seenCount = n
      publish(seen)
    }

    // The old broadcast's value may be this same (now mutated) filter:
    // destroy it, never leave a stale or second copy live.
    private def publish(df: DataFrame): Unit = {
      if (bc != null) bc.destroy()
      bc = df.sparkSession.sparkContext.broadcast(bloom)
    }
  }

  // ---- cuckoo variant ----------------------------------------------------
  // Kept only because the crawl benchmark's seen-set probe times it against
  // the Bloom (perfbench Probes); no crawl or stream runs it. The Bloom won
  // that measurement, and nothing calls CuckooFilter.delete, the cuckoo's
  // reason to exist. Cuckoo tables don't merge associatively the way Bloom
  // bit-ors do, so the build SHARDS the keyspace: one filter per url-hash
  // shard, each built exactly from its shard's keys, held executor-side in
  // a localCheckpointed Dataset.

  private def shardOf(u: String, n: Int): Int =
    math.floorMod(scala.util.hashing.MurmurHash3.stringHash(u, 0x51ed270b), n)

  private implicit val cuckooPairEnc: Encoder[(Int, CuckooFilter)] =
    Encoders.tuple(Encoders.scalaInt, Encoders.javaSerialization[CuckooFilter])

  /** Distributed cuckoo shard state: one filter per url-hash shard. */
  final case class CuckooState(filters: Dataset[(Int, CuckooFilter)], nShards: Int)

  /** One-shot build of the shard table (benchmark probe only). */
  def buildCuckooState(seen: DataFrame, expected: Long,
      nShards: Int = 32): CuckooState = {
    implicit val strEnc: Encoder[String] = Encoders.STRING
    val perShard = math.max(1024L, (expected / math.max(1, nShards)) * 2)
    val filters = seen.select(col("url")).as[String]
      .groupByKey(u => shardOf(u, nShards))(Encoders.scalaInt)
      .mapGroups { (shard, urls) =>
        val f = CuckooFilter.create(perShard)
        urls.foreach(f.insert)
        (shard, f)
      }
      .localCheckpoint(true)
    CuckooState(filters, nShards)
  }

  /** Candidates NOT in the seen set — exact, cuckoo-accelerated (no false
    * negatives for inserted members, so definitely-new routing is safe).
    * Candidates cogroup with their url-hash shard; each task evaluates
    * `mightContain` against its one filter — no broadcast, no collect.
    */
  def filterNewCuckoo(cand: DataFrame, state: CuckooState,
      seen: DataFrame): DataFrame = {
    val schema = cand.schema
    val rowEnc = Encoders.row(schema)
    val outEnc = Encoders.tuple(rowEnc, Encoders.scalaBoolean)
    val urlIdx = schema.fieldIndex("url")
    val n = state.nShards
    val candK = cand.as(rowEnc)
      .groupByKey(r => shardOf(r.getString(urlIdx), n))(Encoders.scalaInt)
    // flag pass materialized once (localCheckpoint) so the two consumers
    // below don't re-run the cogroup
    val flagged = state.filters
      .groupByKey(_._1)(Encoders.scalaInt)
      .cogroup(candK) { (_, fs, rows) =>
        val f = fs.buffered.headOption.map(_._2)
        rows.map(r => (r, f.exists(_.mightContain(r.getString(urlIdx)))))
      }(outEnc)
      .toDF("r", "maybe_seen")
      .localCheckpoint(true)
    val definitelyNew = flagged.filter(!col("maybe_seen")).select(col("r.*"))
    val maybeSeen = flagged.filter(col("maybe_seen")).select(col("r.*"))
    definitelyNew.union(maybeSeen.join(seen, Seq("url"), "left_anti"))
  }
}
