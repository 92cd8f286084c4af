package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts. The listener bus is asynchronous, so
  * it is drained before and after the block: every job-start event of the
  * block, and none from before it, is counted. Lives under `org.apache.spark`
  * because draining the bus is Spark-private.
  */
object JobCounter {
  def apply(sc: SparkContext)(body: => Any): Int = {
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      body
      sc.listenerBus.waitUntilEmpty()
      started.get
    } finally sc.removeSparkListener(listener)
  }
}
