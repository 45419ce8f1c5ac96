package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD

/** A DataFrame standing on an RDD of rows as ONE leaf relation, the way
  * Spark builds a checkpointed Dataset (private to Spark). Its columns are
  * fresh instances of `output`. Building it runs no job; `sizeInBytes` is
  * the estimate join planning reads.
  */
object RddRelation {
  def apply(spark: SparkSession, output: Seq[Attribute],
      rows: RDD[InternalRow], sizeInBytes: BigInt): DataFrame = {
    val s = spark.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(s,
      LogicalRDD(output.map(_.newInstance()), rows)(s,
        Some(Statistics(sizeInBytes))))
  }
}
