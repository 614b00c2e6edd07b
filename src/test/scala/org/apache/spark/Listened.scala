package org.apache.spark

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spark jobs started, and shuffle records written, while a block of
  * driver code runs. Lives in Spark's package because draining the
  * listener bus, so that every event of the block is counted and none of
  * an earlier block, is package-private.
  */
object Listened {

  case class Counts(jobs: Long, shuffleRecords: Long)

  def apply[T](sc: SparkContext)(body: => T): (T, Counts) = {
    sc.listenerBus.waitUntilEmpty()
    val jobs, records = new AtomicLong
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          records.addAndGet(m.shuffleWriteMetrics.recordsWritten))
    }
    sc.addSparkListener(l)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, Counts(jobs.get, records.get))
    } finally sc.removeSparkListener(l)
  }
}
