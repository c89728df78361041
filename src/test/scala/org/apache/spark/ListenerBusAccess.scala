package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}

/** Test access to the listener bus, which is `private[spark]`. */
object ListenerBusAccess {

  /** Block until every event posted so far has reached its listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The Spark jobs `body` starts, counted in a job group of their own. */
  def jobCount(sc: SparkContext)(body: => Unit): Int = {
    val jobs = new AtomicInteger
    inGroup(sc)(group => new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (in(group, e.properties)) jobs.incrementAndGet()
    })(body)
    jobs.get
  }

  /** The task count of each stage `body` submits, in submission order. */
  def stageTasks(sc: SparkContext)(body: => Unit): Seq[Int] = {
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    inGroup(sc)(group => new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (in(group, e.properties)) tasks.add(e.stageInfo.numTasks)
    })(body)
    tasks.asScala.toSeq
  }

  private def in(group: String, props: java.util.Properties): Boolean =
    props != null && props.getProperty("spark.jobGroup.id") == group

  /** Run `body` in a job group of its own, with the listener made for
    * that group added.
    */
  private def inGroup(sc: SparkContext)(listener: String => SparkListener)(body: => Unit): Unit = {
    val group = s"listener-access-${java.util.UUID.randomUUID}"
    val l = listener(group)
    sc.addSparkListener(l)
    sc.setJobGroup(group, "listener access")
    try {
      body
      drain(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }
}
