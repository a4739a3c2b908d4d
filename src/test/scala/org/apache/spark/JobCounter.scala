package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs `f` starts on the calling thread's job group. The
  * listener bus delivers events asynchronously, so the count is read only
  * after every event posted during `f` has been handled.
  */
object JobCounter {
  def apply[T](sc: SparkContext)(f: => T): (T, Int) = {
    val group = s"job-counter-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted")
    try {
      val r = f
      sc.listenerBus.waitUntilEmpty()
      (r, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
