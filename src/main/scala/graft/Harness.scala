package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable.LinkedHashMap

/** The one measurement harness behind every dev main ([[Bench]],
  * [[BenchScaling]], [[Explain]], [[Verify]]): session construction,
  * warm-up, the interleaved min-of-k loop and the JSON string escaper.
  *
  * Env: `SPARK_GRAFT_CPUS` (default 4) sizes the local session and its
  * shuffle; `SPARK_GRAFT_BENCH_REPS` (default 5) is k. Five reps is the
  * round-close protocol: three still report JIT warm-up (a face's third
  * rep can sit ~10% above its fifth), and reps-5 gave back-to-back
  * identical suite totals where reps-3 kept flagging spikes.
  */
object Harness {
  type Query = (SparkSession, String) => DataFrame

  /** One timed (query name, fixture dir) pair. */
  type Cell = (String, String)

  def reps: Int = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "5").toInt.max(1)

  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val b = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    Tables.sessionConf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Read every fixture table once, so codegen, file listing and JIT
    * happen outside the timings and the first query measures itself.
    */
  def warm(spark: SparkSession, dirs: Seq[String]): Unit =
    for (dir <- dirs; t <- Tables.all) Tables.load(spark, dir, t).count()

  /** Per-cell samples (seconds, in rep order) and per-cell errors. */
  final case class Timings(samples: collection.Map[Cell, List[Double]],
                           errors: collection.Map[Cell, String]) {
    def exit: Int = if (errors.isEmpty) 0 else 1
  }

  /** Time `queries(name)(spark, dir).count()` for every cell, `reps`
    * times. The rep loop is the OUTER loop: k full passes over all cells,
    * so a contended minute spreads thinly over many cells instead of
    * corrupting every sample of one (back-to-back reps once recorded
    * [20.2, 65.6, 21.5] s for a 0.77 s query).
    *
    * A cell that throws is recorded in `errors`, drops the samples it
    * already had (time-to-crash must not mix with real runtimes) and is
    * not run again; every other cell, including the same query on another
    * dir, keeps its samples.
    */
  def time(spark: SparkSession, queries: collection.Map[String, Query],
           cells: Seq[Cell], reps: Int): Timings = {
    val samples = LinkedHashMap.empty[Cell, List[Double]]
    val errors = LinkedHashMap.empty[Cell, String]
    (1 to reps).foreach { _ =>
      cells.filterNot(errors.contains).foreach { case cell @ (name, dir) =>
        val t0 = System.nanoTime()
        try {
          queries(name)(spark, dir).count()
          samples(cell) = samples.getOrElse(cell, Nil) :+ (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          errors(cell) = s"${e.getClass.getSimpleName}: ${
            Option(e.getMessage).getOrElse("").takeWhile(_ != '\n').take(200)}"
          samples.remove(cell)
        }
      }
    }
    Timings(samples, errors)
  }

  def ms(v: Double): String = f"$v%.3f"

  /** Write a result sidecar; a failed write is reported, not fatal, so
    * the stdout result still prints.
    */
  def write(path: String, s: String): Unit =
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(path), s + "\n")
    catch { case e: Throwable => System.err.println(s"sidecar write to $path failed: $e") }

  /** JSON string literal. Escapes every control character (< 0x20), not
    * just newline: exception messages and authored SQL can carry tabs or
    * CRs that would break a consumer's `json.load`.
    */
  def json(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
