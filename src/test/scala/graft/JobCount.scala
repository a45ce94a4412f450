package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The number of Spark jobs a block launches — the weather-independent
  * cost the store specs pin.
  */
object JobCount {
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    org.apache.spark.sql.GraftBridge.drainListenerBus(sc)
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.sql.GraftBridge.drainListenerBus(sc)
      (r, n.get)
    } finally sc.removeSparkListener(listener)
  }
}
