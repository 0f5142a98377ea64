package org.apache.spark

/** The one scheduler hook the benchmark needs that Spark keeps
  * package-private: waiting until every posted listener event has been
  * delivered, so that counts read after an operation include all of its
  * tasks.
  */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
