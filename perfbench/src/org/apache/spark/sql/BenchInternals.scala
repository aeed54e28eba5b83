package org.apache.spark.sql

/**
 * The three Spark internals the benchmark reads: the listener-bus drain
 * (so counters are complete before they are read), the cached-plan count
 * and the local-checkpoint flag of a persisted RDD (hygiene counters). All
 * are `private[spark]`/`private[sql]`, hence this shim in Spark's package.
 */
object BenchInternals {
  def drainListenerBus(s: SparkSession): Unit =
    s.sparkContext.listenerBus.waitUntilEmpty()

  def cachedPlans(s: SparkSession): Int =
    s.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries

  def isLocalCheckpoint(rdd: org.apache.spark.rdd.RDD[_]): Boolean =
    rdd.checkpointData.exists(_.isInstanceOf[org.apache.spark.rdd.LocalRDDCheckpointData[_]])
}
