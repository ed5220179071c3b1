package org.apache.spark

/** The one Spark-internal call the pipeline benchmark needs: wait until
  * every listener has seen every event posted so far, so the traced
  * run's job, stage and task attribution is complete before it is
  * read. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
