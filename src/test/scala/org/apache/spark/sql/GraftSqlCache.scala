package org.apache.spark.sql

/** Test view of the session's SQL cache. `CacheManager` is `private[sql]`,
 *  hence this file's package. */
object GraftSqlCache {

  /** True iff the session's SQL cache holds no cached plans — the persist-
   *  hygiene invariant (every operator-internal persist must be released
   *  before the operator returns; PersistHygieneSpec). */
  def isEmpty(spark: SparkSession): Boolean = spark.sharedState.cacheManager.isEmpty
}
