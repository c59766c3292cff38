package org.apache.spark.perfbench

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.{CleanerListener, SparkContext}

/** Counts ContextCleaner completions (RDD, shuffle, broadcast,
  * accumulator and checkpoint clean-ups). The listener hook is
  * private[spark], hence this package.
  */
object Cleanups {
  def attach(sc: SparkContext): AtomicInteger = {
    val n = new AtomicInteger
    sc.cleaner.foreach(_.attachListener(new CleanerListener {
      override def rddCleaned(rddId: Int): Unit = n.incrementAndGet(): Unit
      override def shuffleCleaned(shuffleId: Int): Unit = n.incrementAndGet(): Unit
      override def broadcastCleaned(broadcastId: Long): Unit = n.incrementAndGet(): Unit
      override def accumCleaned(accId: Long): Unit = n.incrementAndGet(): Unit
      override def checkpointCleaned(rddId: Long): Unit = n.incrementAndGet(): Unit
    }))
    n
  }
}
