package graft

import java.util.UUID
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of code launches, for asserting that
  * building a query or reading a table runs no eager action. Jobs are
  * matched by a local property the block's thread carries, so threads it
  * starts are counted too and other work in the session is not. */
object JobCounter {

  private val Key = "graft.test.jobCounter"

  def count[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(Key) == tag) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, tag)
    try {
      val result = body
      ListenerBusAccess.drain(sc)
      (result, jobs.get)
    } finally {
      sc.setLocalProperty(Key, prev)
      sc.removeSparkListener(listener)
    }
  }
}
