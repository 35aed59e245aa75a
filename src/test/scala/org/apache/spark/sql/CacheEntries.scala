package org.apache.spark.sql

/** The number of plans in the session's cache manager (`private[sql]`). */
object CacheEntries {
  def apply(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
