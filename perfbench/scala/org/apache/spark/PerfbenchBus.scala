package org.apache.spark

/** Lets the benchmark's tracer wait until every listener event posted
  * so far has been delivered, so each operation's jobs, block updates
  * and SQL executions are attributed before the next one starts. The
  * listener bus is package-private to Spark, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
