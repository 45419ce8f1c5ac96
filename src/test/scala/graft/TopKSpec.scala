package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.pipeline.TopK

/** The exact two-phase salted top-k against the single-window definition:
  * on seeded skewed frames, `kept` is exactly `row_number() <= cap` per
  * key, and kept ∪ dropped is the input with no row twice.
  */
class TopKSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import SparkTestBase.spark.implicits._

  private val order = Seq(col("prio").desc, col("rank").asc)

  /** n rows over Zipf-ish keys (key k holds ~1/(k+1) of the rows), plus a
    * mega-key "mega" with `mega` rows; `hcap` is constant within a key.
    */
  private def frame(seed: Long, n: Int, mega: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val weights = (0 until 20).map(k => 1.0 / (k + 1))
    val cum = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum)
    def key() = { val u = rnd.nextDouble(); s"k${cum.indexWhere(u <= _)}" }
    val keys = Seq.fill(n)(key()) ++ Seq.fill(mega)("mega")
    val ranks = rnd.shuffle((0L until keys.size.toLong).toVector)
    keys.zip(ranks).zipWithIndex.map { case ((k, r), id) =>
      (id.toLong, k, rnd.nextInt(3), r, (math.abs(k.hashCode) % 6 + 1).toLong)
    }.toDF("id", "key", "prio", "rank", "hcap").repartition(4)
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").as[Long].collect().toSeq

  private def check(df: DataFrame, keys: Seq[Column], buckets: Int,
      cap: Column): Unit = {
    val top = TopK(df, keys, col("id"), buckets, order, cap)
    val w = if (keys.isEmpty) Window.orderBy(order: _*)
      else Window.partitionBy(keys: _*).orderBy(order: _*)
    val want = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cap)
    assert(top.kept.columns.toSeq == df.columns.toSeq)
    assert(top.dropped.columns.toSeq == df.columns.toSeq)
    val kept = ids(top.kept)
    val dropped = ids(top.dropped)
    assert(kept.sorted == ids(want).sorted)
    assert(kept.distinct.size == kept.size)
    assert(dropped.distinct.size == dropped.size)
    assert(kept.toSet.intersect(dropped.toSet).isEmpty)
    assert((kept ++ dropped).sorted == ids(df).sorted)
  }

  test("per-row cap column (the politeness-grant shape)") {
    Seq(1L, 2L, 3L).foreach { seed =>
      check(frame(seed, 600, 0), Seq(col("key")), 8, col("hcap"))
    }
  }

  test("literal cap per key (the postings-head shape)") {
    Seq(4L, 5L).foreach { seed =>
      check(frame(seed, 600, 0), Seq(col("key")), 64, lit(8))
    }
  }

  test("keyless global cap (the wave-cap shape)") {
    Seq(6L, 7L).foreach { seed =>
      check(frame(seed, 500, 0), Nil, 32, lit(7L))
    }
  }

  test("mega-key with more than cap·buckets rows") {
    // 3 × 8 = 24 phase-1 survivors at most; "mega" alone has 400 rows
    check(frame(8L, 200, 400), Seq(col("key")), 8, lit(3))
    check(frame(9L, 200, 400), Seq(col("key")), 8, col("hcap"))
    check(frame(10L, 0, 400), Nil, 8, lit(5))
  }
}
