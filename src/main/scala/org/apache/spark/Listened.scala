package org.apache.spark

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** The Spark jobs a block of driver code runs: how many start, each
  * finished job's stage names and seconds, and the shuffle records
  * written. Lives in Spark's package because draining the listener bus,
  * so that every event of the block is counted and none of an earlier
  * block, is package-private.
  */
object Listened {

  /** One finished job: its stages' names and its start-to-end seconds. */
  case class Job(stages: Seq[String], seconds: Double)

  /** `jobs` counts job starts; `finished` lists the jobs that ended, in
    * the order they ended.
    */
  case class Counts(jobs: Long, shuffleRecords: Long, finished: Seq[Job])

  def apply[T](sc: SparkContext)(body: => T): (T, Counts) = {
    sc.listenerBus.waitUntilEmpty()
    var jobs, records = 0L
    val started = LinkedHashMap.empty[Int, SparkListenerJobStart]
    val finished = ArrayBuffer.empty[Job]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.synchronized {
        jobs += 1
        started(e.jobId) = e
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = started.synchronized {
        started.remove(e.jobId).foreach(s =>
          finished += Job(s.stageInfos.map(_.name), (e.time - s.time) / 1e3))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => started.synchronized {
          records += m.shuffleWriteMetrics.recordsWritten
        })
    }
    sc.addSparkListener(l)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      started.synchronized((out, Counts(jobs, records, finished.toList)))
    } finally sc.removeSparkListener(l)
  }
}
