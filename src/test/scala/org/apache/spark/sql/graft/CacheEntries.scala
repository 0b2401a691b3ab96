package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test access to the session's cache manager: whether any frame is
  * cached (persist/cache registrations), which the SparkContext's
  * persistent-RDD list cannot tell apart from checkpoint RDDs. */
object CacheEntries {
  def isEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty
}
