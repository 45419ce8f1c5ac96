package graft.state

import scala.reflect.ClassTag
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, RddRelation}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Union}

/** A crawl table kept past the wave that computed it: ONE leaf relation
  * (`df`) over an RDD-level local checkpoint of its rows (`rdd`). This is
  * the one way crawl state outlives its wave, in two forms:
  *  - a snapshot, replaced each wave: [[Kept.apply]] keeps a frame, filled
  *    by the first job that reads it, and [[fill]] fills it now with ONE
  *    job that also returns a per-partition tally;
  *  - an accumulator, grown each wave: [[Kept.Accumulator]] is one leaf
  *    over the RDD-level union of its kept increments, so every plan that
  *    reads it has the same shape however many waves it holds, and no job
  *    ever compacts it. `Kept.fill(accs*)` fills, with at most one job,
  *    the increments no job has read yet, and `commit` hands out the
  *    increments added since the last commit.
  *
  * Unlike a persist, a scan of a kept relation compiles no columnar reader
  * and no batch filter, and AQE starts no job to fill it; unlike
  * `Dataset.localCheckpoint`, it carries no constraints of the kept plan.
  * Planning the kept frame runs its exchanges (AQE). A filled RDD drops its
  * lineage, so it holds no upstream kept relation; kept rows are released
  * by Spark's cleaner once nothing references them, like a checkpoint's.
  */
final class Kept private (val df: DataFrame, val rdd: RDD[InternalRow],
    private val output: Seq[Attribute], private val sizeInBytes: BigInt) {

  /** Fills the rows now with ONE job that also returns `f` of each
    * partition's rows: a checkpoint that observes its own rows. Returns
    * (`df`, the tallies). An empty plan may have no partition, and then
    * runs no job.
    */
  def fill[A: ClassTag](f: Iterator[InternalRow] => A): (DataFrame, Array[A]) =
    (df, if (rdd.partitions.isEmpty) Array.empty[A] else rdd.sparkContext.runJob(rdd, f))
}

object Kept {

  /** Test hook: sees each kept plan once planning has run its exchanges
    * (no Dataset action runs it, so a QueryExecutionListener never does).
    */
  @volatile var onKeep: org.apache.spark.sql.execution.QueryExecution => Unit = _ => ()

  /** `df`'s rows, kept; building the relation runs no job of its own. */
  def apply(df: DataFrame): Kept = {
    val qe = df.queryExecution
    val rows = qe.toRdd.map(_.copy()).localCheckpoint()
    onKeep(qe)
    // the estimate join planning reads, as Spark gives the kept plan
    val size = qe.optimizedPlan.stats.sizeInBytes
    new Kept(RddRelation(df.sparkSession, qe.analyzed.output, rows, size),
      rows, qe.analyzed.output, size)
  }

  /** A table that grows by one kept increment per wave. Its columns are
    * `empty`'s; each increment has the same names and types, and a column
    * is nullable when any increment's is, as Spark types a union. It
    * remembers which increments have been committed: [[commit]] hands out
    * the others once. One thread adds and commits; `df` may be read from
    * any.
    */
  final class Accumulator(empty: DataFrame) {
    private var output = empty.queryExecution.analyzed.output
    private[Kept] var parts = Vector.empty[Kept]
    private var committed = 0
    @volatile private var current = build(parts)

    /** Every increment added so far, as one relation. */
    def df: DataFrame = current

    /** Appends `inc`, kept; returns the increment's relation. */
    def add(inc: DataFrame): DataFrame = add(Kept(inc))

    /** Appends rows already kept; returns their relation. */
    def add(inc: Kept): DataFrame = {
      require(inc.output.map(_.name) == output.map(_.name), s"increment " +
        s"columns ${inc.output.map(_.name)} are not ${output.map(_.name)}")
      output = Union(Seq(LocalRelation(output), LocalRelation(inc.output)))
        .output
      parts :+= inc
      current = build(parts)
      inc.df
    }

    /** The increments added since the last commit, as one relation, now
      * counted as committed; None when there are none.
      */
    def commit(): Option[DataFrame] = {
      val fresh = parts.drop(committed)
      committed = parts.size
      if (fresh.isEmpty) None else Some(build(fresh))
    }

    /** Appends rows read back from a commit, as one committed increment. */
    def restore(committedRows: DataFrame): Unit = {
      add(committedRows)
      committed = parts.size
    }

    // with no increment, `empty` itself: a broadcast of it runs no job
    private def build(ps: Vector[Kept]): DataFrame =
      if (ps.isEmpty) empty
      else RddRelation(empty.sparkSession, output,
        empty.sparkSession.sparkContext.union(ps.map(_.rdd)),
        ps.map(_.sizeInBytes).sum.max(1))
  }

  /** Fills every increment of `accs` that no job has read yet, with at most
    * ONE job; after it, no increment holds the lineage it was computed from.
    */
  def fill(accs: Accumulator*): Unit = {
    val unfilled = accs.flatMap(_.parts.map(_.rdd))
      .filter(p => !p.isCheckpointed && p.partitions.nonEmpty)
    if (unfilled.nonEmpty)
      unfilled.head.sparkContext.union(unfilled).foreachPartition(_.size)
  }
}
