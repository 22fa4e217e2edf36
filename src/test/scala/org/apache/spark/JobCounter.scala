package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts. Lives in the spark package
  * only to drain the `private[spark]` listener bus before and after
  * the block, so the count is exact rather than racing the
  * asynchronous event delivery. */
object JobCounter {
  def jobs(sc: SparkContext)(body: => Any): Int = {
    val n = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try { body; sc.listenerBus.waitUntilEmpty(); n.get }
    finally sc.removeSparkListener(listener)
  }
}
