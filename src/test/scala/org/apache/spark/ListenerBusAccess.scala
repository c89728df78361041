package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Test access to the listener bus, which is `private[spark]`. */
object ListenerBusAccess {

  /** Block until every event posted so far has reached its listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The Spark jobs `body` starts, counted in a job group of their own. */
  def jobCount(sc: SparkContext)(body: => Unit): Int = {
    val group = s"job-count-${java.util.UUID.randomUUID}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try {
      body
      drain(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    jobs.get
  }
}
