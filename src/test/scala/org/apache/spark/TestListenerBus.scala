package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * a job count read after the drain has seen every event the counted
  * jobs posted, however slowly the bus delivers. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
