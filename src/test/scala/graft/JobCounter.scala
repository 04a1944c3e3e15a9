package graft

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Exact Spark job counts for specs: the listener bus is drained before
  * the listener attaches (so earlier jobs' queued events are not
  * counted) and again before it detaches (so every job `body` started
  * is), with no sleep to tune. */
object JobCounter {
  /** `body`'s result and the number of jobs it started that `keep` accepts. */
  def apply[T](spark: SparkSession, keep: SparkListenerJobStart => Boolean = _ => true)
              (body: => T): (T, Long) = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicLong(0L)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (keep(j)) n.incrementAndGet(): Unit
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val res = body
      TestListenerBus.drain(sc)
      (res, n.get())
    } finally sc.removeSparkListener(l)
  }
}
