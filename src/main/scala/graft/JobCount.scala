package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerJobEnd}
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

/** One-off diagnostic: count Spark JOBS (actions) a named query fires,
  * with per-job wall durations (start→end) so overhead-bound faces show
  * WHERE their fixed cost sits. Repeats each query `SPARK_GRAFT_BENCH_REPS`
  * times (default 2) and reports the LAST rep (warm plan/codegen), on
  * `local[SPARK_GRAFT_CPUS]` (default 4) like [[Bench]] and
  * [[graft.tools.TimeQueries]].
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt.max(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = {
      val b = SparkSession.builder().master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
      Tables.sessionConf.foreach { case (k, v) => b.config(k, v) }
      b.getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    Tables.all.foreach(t => Tables.load(spark, sfDir, t).count())
    args.foreach { name =>
      (1 until reps).foreach(_ => SparkEntry.queries(name)(spark, sfDir).count())
      val starts = LinkedHashMap.empty[Int, (Long, String)]
      val jobs = ArrayBuffer.empty[(String, Double)]
      val l = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit = jobs.synchronized {
          starts(js.jobId) = (System.nanoTime(),
            s"stages=${js.stageInfos.size} ${js.stageInfos.map(_.name).mkString(" | ").take(120)}")
        }
        override def onJobEnd(je: SparkListenerJobEnd): Unit = jobs.synchronized {
          starts.remove(je.jobId).foreach { case (t0, desc) =>
            jobs += ((desc, (System.nanoTime() - t0) / 1e9)) }
        }
      }
      spark.sparkContext.addSparkListener(l)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(400)
      spark.sparkContext.removeSparkListener(l)
      val inJobs = jobs.map(_._2).sum
      println(f"[jobs] $name -> ${jobs.size} jobs, $dt%.3f s total, $inJobs%.3f s in jobs (rest = planning/driver)")
      jobs.foreach { case (desc, d) => println(f"   $d%7.3f  $desc") }
    }
    spark.stop()
  }
}
