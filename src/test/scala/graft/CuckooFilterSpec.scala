package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.state.{CuckooFilter, SeenSet}

/** Cuckoo filter, the alternative seen-set prefilter the crawl benchmark
  * times against the Bloom. Contract mirrors the Bloom layer: NO false
  * negatives for members (definitely-new routing can never drop a URL), low
  * false-positive rate, plus the capability the Bloom lacks: deletion.
  */
class CuckooFilterSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def url(i: Int) = s"http://h${i % 997}.example.com/p/$i"

  test("no false negatives over 200k members; fp rate < 1% on non-members") {
    val n = 200000
    val f = CuckooFilter.create(n)
    (0 until n).foreach(i => assert(f.insert(url(i))))
    assert(f.size == n)
    (0 until n).foreach(i => assert(f.mightContain(url(i)), url(i)))
    val fps = (n until 2 * n).count(i => f.mightContain(url(i)))
    assert(fps < n / 100, s"fp rate ${fps.toDouble / n}")
  }

  test("deletion withdraws a member (the capability Bloom lacks)") {
    val f = CuckooFilter.create(1000)
    (0 until 1000).foreach(i => f.insert(url(i)))
    assert(f.mightContain(url(7)))
    assert(f.delete(url(7)))
    // deleting one member never disturbs the rest
    ((0 until 1000).toSet - 7).foreach(i => assert(f.mightContain(url(i))))
    assert(f.size == 999)
  }

  test("overflow stash keeps the no-false-negative contract when overfull") {
    val f = CuckooFilter.create(64) // tiny table
    val keys = (0 until 1000).map(url)
    keys.foreach(k => assert(f.insert(k))) // inserts never fail (stash)
    keys.foreach(k => assert(f.mightContain(k), k))
  }

  test("sharded distributed build: filterNewCuckoo equals the exact anti-join") {
    import spark.implicits._
    val seen = (0 until 5000).map(url).toDF("url")
    val cand = (2500 until 7500).map(url).toDF("url")
      .withColumn("depth", lit(1))
    val state = SeenSet.buildCuckooState(seen, 5000)
    val got = SeenSet.filterNewCuckoo(cand, state, seen)
      .select("url").collect().map(_.getString(0)).toSet
    val want = cand.join(seen, Seq("url"), "left_anti")
      .select("url").collect().map(_.getString(0)).toSet
    assert(got == want) // exact: cuckoo only routes, never decides
    assert(want == (5000 until 7500).map(url).toSet)
  }

  test("stash multiset: equal-fingerprint overflows survive one delete") {
    val f = CuckooFilter.create(16) // tiny → force stash traffic
    val keys = (0 until 600).map(url)
    keys.foreach(f.insert)
    // delete half the keys; every remaining key must still be contained
    val (gone, kept) = keys.splitAt(300)
    gone.foreach(k => assert(f.delete(k)))
    kept.foreach(k => assert(f.mightContain(k), k))
  }
}
