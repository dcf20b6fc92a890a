package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.SparkPlan

/** The few `private[spark]` hooks the benchmark's tracing needs. */
object SparkInternals {

  /** Block until every queued listener event has been delivered. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** The physical plan that materialized a persisted Dataset, if cached. */
  def cachedPlan(spark: SparkSession, ds: Dataset[_]): Option[SparkPlan] =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
      .lookupCachedData(ds.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .map(_.cachedRepresentation.cacheBuilder.cachedPlan)
}
