package org.apache.spark.sql.graft

import java.util.UUID
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs `body` starts from the calling thread (jobs
  * carry the thread's local properties, so jobs of other threads or
  * earlier tests are not counted). Draining the listener bus before
  * reading the count needs `private[spark]` access, hence this package. */
object JobCount {
  private val Tag = "graft.test.jobCount"

  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val id = UUID.randomUUID().toString
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(Tag) == id) n.incrementAndGet()
    }
    val prior = sc.getLocalProperty(Tag)
    sc.addSparkListener(listener)
    sc.setLocalProperty(Tag, id)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, n.get)
    } finally {
      sc.setLocalProperty(Tag, prior)
      sc.removeSparkListener(listener)
    }
  }
}
