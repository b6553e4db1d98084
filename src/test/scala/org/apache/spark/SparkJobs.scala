package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts on the calling thread. Lives
  * under `org.apache.spark` to drain the `private[spark]` listener bus,
  * so every job event of the block is in before the count is read. */
object SparkJobs {
  private val Tag = "graft.test.jobTag"

  /** `body`'s result and the number of jobs it started. */
  def count[T](sc: SparkContext)(body: => T): (T, Int) = {
    val tag = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(Tag) == tag) n.incrementAndGet(): Unit
    }
    val prev = sc.getLocalProperty(Tag)
    sc.addSparkListener(listener)
    sc.setLocalProperty(Tag, tag)
    try {
      val r = body
      sc.listenerBus.waitUntilEmpty()
      (r, n.get)
    } finally {
      sc.setLocalProperty(Tag, prev)
      sc.removeSparkListener(listener)
    }
  }
}
