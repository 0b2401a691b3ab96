package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test access to the listener bus, whose drain is Spark-private:
  * listener events arrive asynchronously, so a spec must wait for the
  * bus to empty before it reads what a listener recorded. */
object ListenerBusDrain {
  def apply(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
