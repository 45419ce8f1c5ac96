package org.apache.spark

/** Test access to Spark's listener bus, which is private to Spark. */
object SparkTestBus {
  /** Wait until every listener has seen every event posted so far. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
