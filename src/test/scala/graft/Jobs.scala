package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.GraftTestListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts, on any thread of the context. */
object Jobs {
  def during[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    // earlier jobs' events must not land on this listener
    GraftTestListenerBridge.waitUntilListenerBusEmpty(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      GraftTestListenerBridge.waitUntilListenerBusEmpty(sc)
      (r, n.get)
    } finally sc.removeSparkListener(listener)
  }
}
