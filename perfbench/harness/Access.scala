package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one Spark-internal call the tracer needs: block until every
  * listener queue has delivered the events posted so far, so that a
  * query's span closes only after the end events of all its jobs, SQL
  * executions and micro-batches have arrived. */
object Access {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
