package org.apache.spark

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts started jobs per value of one job-local property (a job group
  * id, a streaming query id). A read drains the listener bus first, so
  * every job of a finished action is counted. Lives in this package
  * because the bus drain is Spark-private. */
final class JobsByProperty(sc: SparkContext, key: String) extends SparkListener {
  private val counts = scala.collection.mutable.Map.empty[String, Int]
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(key))).foreach { v =>
      counts.synchronized(counts(v) = counts.getOrElse(v, 0) + 1)
    }

  def apply(value: String): Int = {
    sc.listenerBus.waitUntilEmpty()
    counts.synchronized(counts.getOrElse(value, 0))
  }

  def close(): Unit = sc.removeSparkListener(this)
}
