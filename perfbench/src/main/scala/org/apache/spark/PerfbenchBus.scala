package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * a traced span is only complete once every job event it caused has
  * reached the listeners. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
