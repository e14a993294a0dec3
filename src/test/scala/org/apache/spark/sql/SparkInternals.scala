package org.apache.spark.sql

import org.apache.spark.SparkContext

/** Spark state the barrier specs read or restore that has no public API. */
object SparkInternals {

  /** A live context can set its checkpoint dir but not unset it; a spec
    * that exercises the reliable barrier branch puts the dir back as it
    * found it, so later specs see the default branch whatever the order. */
  def restoreCheckpointDir(sc: SparkContext, dir: Option[String]): Unit = sc.checkpointDir = dir

  /** Entries in the session's CacheManager: `persist`ed plans that live
    * until someone unpersists them. */
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries

  /** Blocks until every event posted so far has reached the listeners. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
