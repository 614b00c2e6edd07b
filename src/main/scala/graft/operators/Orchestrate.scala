package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Pipeline orchestration (SURVEY.md §3.1 `run_all.sh` lifecycle):
  * discover -> per-table structure check -> one-pass data summary ->
  * merged report with totals -> exit-code semantics. The subprocess/file
  * boundaries of the reference (TSV handoff, TOML per table, nohup) all
  * collapse into in-process Spark plans; the per-table loop mirrors
  * `step3_run_syncdiff.sh:106-123` (serial by default, parallelism via
  * `tableParallelism` — the reference runs chunk-parallel inside one
  * table, table-serial outside).
  */
object Orchestrate {

  /** One compare task — a table plus its diff knobs. The reference's
    * per-table task TOML (`step2_generate_configs.sh:112-124`) carries
    * exactly these fields; [[task]] picks `spec`, and `spec = None` falls
    * back to the keyless multiset diff ([[HashDiff]]); `structOnly`
    * mirrors the TOML's `check-struct-only`
    * (`my_database_users.toml:11`): compare schemas only and SKIP the
    * data stage entirely — no data summary job runs; data_result reads
    * "skipped" and counts are 0 (never computed).
    */
  case class Task(schema: String, table: String,
                  spec: Option[TableDiff.DiffSpec],
                  structOnly: Boolean)

  /** The one routing rule: a table whose declared primary key is a
    * single column is diffed keyed, chunked on that column
    * `chunkWidth` key values at a time ([[TableDiff]]); a composite key
    * or no declared key falls back to the keyless multiset diff
    * ([[HashDiff]]). Key uniqueness is what the keyed diff needs, so the
    * TiDB clustering class (`pk_kind`) plays no part here.
    */
  def task(schema: String, table: String, chunkWidth: Long,
           structOnly: Boolean): Task =
    Task(schema, table, Tables.primaryKeys.get(table).collect {
      case Seq(pk) => TableDiff.DiffSpec(Seq(pk), pk, chunkWidth)
    }, structOnly)

  /** Discovery's table list (`check_sql` over the manifest) as compare
    * tasks — steps 1-2 of the reference's `run_all.sh`.
    */
  def discoverTasks(spark: SparkSession, dir: String, checkSql: String,
                    chunkWidth: Long, structOnly: Boolean): Seq[Task] =
    Discover.discover(spark, dir, checkSql).collect().toSeq
      .map(r => task(r.getString(0), r.getString(1), chunkWidth, structOnly))

  /** Compare every discovered table against its downstream derivation
    * and return the merged report with its TOTAL row.
    *
    * @param downstream   derives the replica side for a table (in prod: a
    *                     second source reader; in verify: a perturbation)
    * @param chunkWidth   chunk width of every keyed table ([[task]])
    * @param structOnly   see [[Task.structOnly]]
    */
  def runAll(
      spark: SparkSession,
      dir: String,
      checkSql: String,
      downstream: (String, DataFrame) => DataFrame,
      chunkWidth: Long,
      tableParallelism: Int = 1,
      structOnly: Boolean = false,
      onProgress: (Int, Int, Int) => Unit = (_, _, _) => ()): DataFrame =
    Report.withTotal(Report.toDF(spark, compareTaskReports(spark, dir,
      discoverTasks(spark, dir, checkSql, chunkWidth, structOnly),
      downstream, tableParallelism, onProgress)))

  /** Step-3 STANDALONE compare: run a FIXED task list (recovered from
    * previously generated task TOMLs — the reference's entry point C,
    * `step3_run_syncdiff.sh:106-123`) against the downstream
    * derivation, without re-discovering. [[runAll]] is discover +
    * exactly this.
    */
  def compareTaskReports(
      spark: SparkSession,
      dir: String,
      tasks: Seq[Task],
      downstream: (String, DataFrame) => DataFrame,
      tableParallelism: Int = 1,
      onProgress: (Int, Int, Int) => Unit = (_, _, _) => ())
      : Seq[Report.TableReport] = {

    // W4 running progress — the reference's current/total percent lines
    // (`step3_run_syncdiff.sh:43-57`, integer percent F11)
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    def tick(): Unit = {
      val d = done.incrementAndGet()
      onProgress(d, tasks.size, d * 100 / math.max(tasks.size, 1))
    }

    def reportFor(t: Task): Report.TableReport = {
      val up = Tables.load(spark, dir, t.table)
      val down = downstream(t.table, up)
      val structOk = StructDiff.equivalent(up.schema, down.schema)
      // struct-only short-circuits BEFORE any data action: schema
      // comparison is metadata-only, so no Spark job touches table data
      val (upN, downN, dataRes) =
        if (t.structOnly) (0L, 0L, "skipped")
        else {
          val r = (t.spec match {
            case Some(spec) => TableDiff.summary(up, down, spec)
            case None => HashDiff.summary(up, down)
          }).collect()(0)
          (r.getLong(0), r.getLong(1),
            if (r.getLong(2) > 0) "diff" else "ok")
        }
      val rep = Report.TableReport(t.table,
        if (structOk) "ok" else "diff", dataRes, upN, downN)
      tick()
      rep
    }

    if (tableParallelism <= 1) tasks.map(reportFor)
    else {
      // Spark actions are thread-safe on one session; a bounded pool
      // gives reference-style table-level concurrency (config.toml:20).
      val pool = java.util.concurrent.Executors.newFixedThreadPool(tableParallelism)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      try {
        val fs = tasks.map(t => scala.concurrent.Future(reportFor(t)))
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(fs),
          scala.concurrent.duration.Duration.Inf)
      } finally pool.shutdown()
    }
  }
}
