package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.fixtures.SiteFixtures
import graft.model.CrawlSpec
import graft.pipeline.CrawlJob
import graft.state.SeenSet

class SeenSetSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("Bloom layer has no false negatives: every seen url is maybe-seen") {
    val seen = (0 until 50000).map(i => s"http://h${i % 97}.example.com/p/$i")
      .toDF("url")
    val layered = SeenSet.build(seen, 50000)
    // every member must be contained — a false negative would re-fetch
    val misses = seen.collect().map(_.getString(0))
      .count(u => !layered.bloom.mightContain(u))
    assert(misses == 0)
  }

  test("filterNew is exactly the anti-join (FPs confirmed away)") {
    val seen = (0 until 20000 by 2)
      .map(i => s"http://h.example.com/p/$i").toDF("url")
    val cand = (0 until 20000)
      .map(i => s"http://h.example.com/p/$i").toDF("url")
    val layered = SeenSet.build(seen, 10000, fpp = 0.2) // high fpp on purpose
    val got = SeenSet.filterNew(cand, layered)
      .collect().map(_.getString(0)).toSet
    val want = cand.join(seen, Seq("url"), "left_anti")
      .collect().map(_.getString(0)).toSet
    assert(got == want)
    assert(want.size == 10000)
  }

  test("bloomDedup crawl is result-identical to exact-only crawl " +
      "and never rebuilds the sketch per wave") {
    val pages = SiteFixtures.pagesDf(spark).cache()
    val spec = CrawlSpec(startUrls = Seq(SiteFixtures.QuotesBase),
      parserId = "quotes", maxWaves = 20)
    val exact = CrawlJob.run(spark, spec, pages)
    SeenSet.fullBuilds.set(0)
    val bloom = CrawlJob.run(spark, spec.copy(bloomDedup = true), pages)
    // incremental maintenance: bootstrap + at most a couple of geometric
    // regrowths — NOT one full-seen rebuild per wave (the round-3
    // scale-killer; this crawl runs ~12 populated waves)
    assert(SeenSet.fullBuilds.get() <= 3,
      s"bloom rebuilt ${SeenSet.fullBuilds.get()} times over ${bloom.waves} waves")
    def recs(r: CrawlJob.CrawlResult) =
      r.records.orderBy(col("wave"), col("rank"), col("seq"))
        .select("json").collect().map(_.getString(0)).toSeq
    assert(recs(bloom) == recs(exact))
    assert(bloom.seen.collect().map(_.getString(0)).toSet ==
      exact.seen.collect().map(_.getString(0)).toSet)
  }

  test("1,000-wave soak: flat per-wave sketch cost, geometric rebuilds, " +
      "every stale broadcast disposed") {
    // Endurance proof for SeenSet.Sketch, the lifecycle the wave loop and
    // the stream both hold: 1,000 synthetic waves of filterNew (bootstrap
    // and regrowth; the probe plan itself is not run) then mergeIncrement
    // (O(increment) mergeInPlace + destroy-then-rebroadcast). Asserts the
    // properties that keep a 10^10-URL crawl alive:
    //   1. full-seen rebuilds are geometric (O(log growth)), not per-wave;
    //   2. per-wave time stays FLAT (late-crawl waves no costlier than
    //      early ones — an O(|seen|)/wave regression shows up as a
    //      monotone climb);
    //   3. every superseded broadcast is destroyed (bounded executor
    //      memory), only the live one survives, and close() releases it;
    //   4. the merged filter still has zero false negatives across the
    //      whole crawl's keyspace.
    val K = 1500L // urls per wave → 1.5M total, crossing the 2^20
    //              bootstrap capacity exactly once (one geometric regrowth)
    val waves = 1000
    def urls(lo: Long, hi: Long) =
      spark.range(lo, hi, 1, 2)
        .select(concat(lit("http://soak.example.com/p/"), col("id")).as("url"))
    SeenSet.fullBuilds.set(0)
    val sketch = new SeenSet.Sketch
    val published = scala.collection.mutable.LinkedHashSet
      .empty[org.apache.spark.broadcast.Broadcast[_]]
    var seenCount = K
    val waveNanos = new Array[Long](waves)
    for (w <- 1 until waves) {
      val t0 = System.nanoTime()
      val inc = urls(seenCount, seenCount + K)
      sketch.filterNew(inc, urls(0, seenCount))
      published ++= sketch.broadcast
      sketch.mergeIncrement(inc)
      published ++= sketch.broadcast
      seenCount += K
      waveNanos(w) = System.nanoTime() - t0
    }
    assert(sketch.count == seenCount)
    // 1. bootstrap + the single 2^20→4·count regrowth, nothing per-wave
    assert(SeenSet.fullBuilds.get() <= 3,
      s"${SeenSet.fullBuilds.get()} full rebuilds over $waves waves")
    // 2. flat per-wave cost: medians are robust to the rebuild spike and
    // GC noise; an O(|seen|)-per-wave bug would put the last quintile's
    // median ~9× the first's (seen grows 5× across the window)
    def median(xs: Seq[Long]): Long = xs.sorted.apply(xs.size / 2)
    val early = median(waveNanos.slice(10, 210).toSeq)
    val late = median(waveNanos.slice(waves - 200, waves).toSeq)
    assert(late < early * 4,
      f"per-wave cost climbed: early median ${early / 1e6}%.1fms, " +
        f"late median ${late / 1e6}%.1fms")
    // 3. one broadcast per merge plus one per full build; all superseded
    // ones are dead (value() must throw), the live one still serves
    assert(published.size >= waves)
    val live = sketch.broadcast.get
    assert(published.last eq live)
    published.init.zipWithIndex.foreach { case (bc, i) =>
      assert(scala.util.Try(bc.value).isFailure,
        s"stale broadcast #$i still live")
    }
    // 4. zero false negatives end-to-end + the fpp stayed near design
    val sample = Seq(0L, K - 1, seenCount / 2, seenCount - 1)
    sample.foreach(i =>
      assert(live.value.mightContain(s"http://soak.example.com/p/$i")))
    val fresh = (0 until 2000)
      .count(i => live.value.mightContain(s"http://other.example.com/q/$i"))
    assert(fresh < 400, s"fp rate blew up: $fresh/2000 fresh urls flagged")
    sketch.close()
    assert(scala.util.Try(live.value).isFailure && sketch.broadcast.isEmpty)
  }

  test("mergeIncrement equals full rebuild membership (associative bit-or)") {
    val base = (0 until 10000).map(i => s"http://h.example.com/a/$i").toDF("url")
    val inc = (0 until 5000).map(i => s"http://h.example.com/b/$i").toDF("url")
    val sketch = new SeenSet.Sketch
    sketch.filterNew(inc, base) // bootstraps the filter from `base`
    sketch.mergeIncrement(inc)
    assert(sketch.count == 15000)
    // 15,000 urls sit below the 2^20 capacity floor, so a full build over
    // both halves at that capacity has the same geometry: the in-place
    // merge must give exactly its bits
    val merged = sketch.broadcast.get.value
    assert(merged == SeenSet.build(base.union(inc), 1L << 20).bloom)
    (0 until 10000).foreach(i =>
      assert(merged.mightContain(s"http://h.example.com/a/$i")))
    (0 until 5000).foreach(i =>
      assert(merged.mightContain(s"http://h.example.com/b/$i")))
    sketch.close()
  }
}
