package org.apache.spark

/** The benchmark's one reach into Spark internals: block until every
  * posted listener event has been delivered, so a traced operation's
  * jobs, tasks and query executions are all attributed to it before the
  * next operation starts. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
