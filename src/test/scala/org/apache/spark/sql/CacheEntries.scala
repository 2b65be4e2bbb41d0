package org.apache.spark.sql

/** Spec access to the CacheManager's `private[sql]` entry count. */
object CacheEntries {
  def apply(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
