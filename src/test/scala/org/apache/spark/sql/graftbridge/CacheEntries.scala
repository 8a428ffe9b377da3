package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** The number of plans registered in the session's cache manager, persisted
  * or not yet materialized. Lives under `org.apache.spark.sql` for access to
  * `CacheManager.numCachedEntries`. */
object CacheEntries {
  def apply(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
