package org.apache.spark.sql

/** Spec access to the number of frames in the session's cache manager
  * (`numCachedEntries` is `private[sql]`). */
object CacheEntries {
  def count(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
