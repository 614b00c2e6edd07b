package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer, made from the benchmark's own code; the
  * pass it belongs to is its parent.
  */
case class Span(pass: String, name: String, startUs: Long, endUs: Long) {
  def seconds: Double = (endUs - startUs) / 1e6
}

/** Wall clock shared by spans and Spark's job events: epoch microseconds,
  * anchored once so that span durations keep nanoTime's resolution.
  */
object Clock {
  private val ms0 = System.currentTimeMillis()
  private val ns0 = System.nanoTime()
  def us: Long = ms0 * 1000 + (System.nanoTime() - ns0) / 1000
}

/** Spans kept in memory and written when the run ends. With `sc` set,
  * every Spark job a span's thread starts carries the span's name as its
  * job description and the pass id as a local property, so [[Jobs]] can
  * charge it to that span; with `sc` empty, only the time is taken.
  */
final class Spans(sc: => Option[SparkContext]) {
  val all = new ConcurrentLinkedQueue[Span]()

  def apply[T](pass: String, name: String)(body: => T): T = {
    val c = sc
    val before = c.map(x => (x.getLocalProperty(Jobs.PassProp),
      x.getLocalProperty(Jobs.DescProp)))
    c.foreach { x =>
      x.setLocalProperty(Jobs.PassProp, pass)
      x.setJobDescription(name)
    }
    val t0 = Clock.us
    try body
    finally {
      all.add(Span(pass, name, t0, Clock.us))
      c.zip(before).foreach { case (x, (p, d)) =>
        x.setLocalProperty(Jobs.PassProp, p)
        x.setJobDescription(d)
      }
    }
  }

  def of(pass: String): Seq[Span] = all.asScala.filter(_.pass == pass).toSeq

  def toJsonLines: String = all.asScala.map { s =>
    s"""{"pass":"${s.pass}","name":"${s.name}","start_us":${s.startUs},"end_us":${s.endUs}}"""
  }.mkString("", "\n", "\n")
}

/** Spark listener that charges jobs, stages and task metrics to the
  * (pass, span name) their job was started under.
  */
final class Jobs extends SparkListener {
  final class Counts {
    var jobs, stages, tasks, cpuNs, gcMs, shuffleWrite, shuffleRead, spill, inputRows = 0L
    def +=(o: Counts): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
      gcMs += o.gcMs; shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
      spill += o.spill; inputRows += o.inputRows
    }
  }

  private type Key = (String, String)
  private val counts = mutable.Map.empty[Key, Counts]
  private val stageKey = new ConcurrentHashMap[Int, Key]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, Key)]()
  private val windows = mutable.ArrayBuffer.empty[(String, Long, Long)]

  /** Start listening, again after a removal; the stage and job maps of
    * earlier, finished jobs are dropped.
    */
  def attach(sc: SparkContext): Unit = synchronized {
    stageKey.clear(); jobStart.clear()
    sc.addSparkListener(this)
  }

  private def get(k: Key): Counts = counts.getOrElseUpdate(k, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val k = (p.flatMap(x => Option(x.getProperty(Jobs.PassProp))).getOrElse("-"),
      p.flatMap(x => Option(x.getProperty(Jobs.DescProp)))
        .getOrElse("-"))
    e.stageIds.foreach(stageKey.put(_, k))
    val c = get(k)
    c.jobs += 1
    jobStart.put(e.jobId, (e.time, k))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    Option(jobStart.remove(e.jobId)).foreach { case (t0, k) =>
      windows += ((k._1, t0 * 1000, e.time * 1000))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    Option(stageKey.get(e.stageInfo.stageId)).foreach { k =>
      val c = get(k)
      c.stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    Option(stageKey.get(e.stageId)).foreach { k =>
      val c = get(k)
      c.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  /** Sum over the pass's spans whose name satisfies `name`. */
  def sum(pass: String, name: String => Boolean): Counts = synchronized {
    val out = new Counts
    counts.foreach { case ((p, n), c) => if (p == pass && name(n)) out += c }
    out
  }

  /** Job intervals (epoch microseconds) started under `pass`. */
  def jobWindows(pass: String): Seq[(Long, Long)] = synchronized {
    windows.collect { case (p, a, b) if p == pass => (a, b) }.toSeq
  }
}

object Jobs {
  val PassProp = "perfbench.pass"
  val DescProp = "spark.job.description"

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }
}
