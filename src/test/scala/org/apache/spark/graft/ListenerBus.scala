package org.apache.spark.graft

import org.apache.spark.sql.SparkSession

/** Test access to Spark's asynchronous listener bus, which is private to
  * the `org.apache.spark` package.
  */
object ListenerBus {

  /** Block until every event posted so far has reached every listener;
    * throws `TimeoutException` after `timeoutMillis`.
    */
  def drain(spark: SparkSession, timeoutMillis: Long): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMillis)
}
