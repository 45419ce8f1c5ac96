package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Exact two-phase salted top-k: per key, keep the first `cap` rows by
  * `order` (a total order), and never rank an unbounded key on one task.
  *
  * Phase 1 ranks within (key, salt) and keeps ≤ cap rows per bucket. The
  * key's global top-cap is always a subset of its buckets' survivors (a
  * row in the global top-cap has at most cap−1 rows ahead of it overall,
  * so also within its bucket), so phase 2 ranks ≤ cap·buckets rows per key
  * and is exact. A mega-key's phase-1 window work spreads over `buckets`
  * tasks (SURVEY.md §7 skew note).
  *
  * With no keys it is the global form: phase 1 per salt bucket, phase 2
  * one window over the ≤ cap·buckets survivors.
  *
  * `cap` may be a per-row column (constant within a key) or a literal.
  * `kept` and `dropped` are lazy, carry exactly the input's columns, and
  * together hold every input row once: dropped = phase-1 drops ∪ phase-2
  * drops.
  */
final class TopK private (phase1: DataFrame, cap: Column, order: Seq[Column],
    keys: Seq[Column]) {
  import TopK._

  private lazy val ranked2 = {
    val w = if (keys.isEmpty) Window.orderBy(order: _*)
      else Window.partitionBy(keys: _*).orderBy(order: _*)
    phase1.filter(col(R1) <= cap).withColumn(R2, row_number().over(w))
  }

  lazy val kept: DataFrame =
    ranked2.filter(col(R2) <= cap).drop(Salt, R1, R2)

  lazy val dropped: DataFrame =
    phase1.filter(col(R1) > cap).drop(Salt, R1)
      .union(ranked2.filter(col(R2) > cap).drop(Salt, R1, R2))
}

object TopK {
  private val Salt = "_topk_salt"
  private val R1 = "_topk_r1"
  private val R2 = "_topk_r2"

  /** @param keys    partition keys (empty = one global top-cap)
    * @param salt    the column whose hash picks the phase-1 bucket
    * @param buckets phase-1 salt buckets
    * @param order   total order within a key
    * @param cap     rows kept per key
    */
  def apply(df: DataFrame, keys: Seq[Column], salt: Column, buckets: Int,
      order: Seq[Column], cap: Column): TopK = {
    val salted = df.withColumn(Salt, pmod(hash(salt), lit(buckets)))
    val phase1 = salted.withColumn(R1, row_number().over(
      Window.partitionBy(keys :+ col(Salt): _*).orderBy(order: _*)))
    new TopK(phase1, cap, order, keys)
  }
}
