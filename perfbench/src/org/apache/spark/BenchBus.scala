package org.apache.spark

/** Waits until every event already posted to the listener bus has been
  * delivered, so a traced operation's job, stage and query events are
  * all counted before the next operation starts. The bus is internal to
  * Spark; this is the one call the benchmark needs from it. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
