package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.Executors

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import graft.Tables
import graft.functions.Canonical
import graft.operators._
import graft.sources.SideReader
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Two-source reconcile pass timed end to end and per layer.
  *
  * One pass is the nightly job of the source paper, wired from the
  * engine's public operators: discover targets, per-table chunk verdicts,
  * merged report plus `summary.txt` files, then a row drill-down with fix
  * SQL written for every differing keyed table (keyless tables get the
  * multiset diff). The repair loop applies the drill-down with `Repair`,
  * writes the repaired replica and re-checks it. Every output is compared
  * with the generator's ground truth.
  *
  * Arguments (all required, as `--name value`): workload, seed, seconds,
  * trace (0|1), sf, cpus, upstream (the upstream source, generated when
  * missing), work (scratch dir, which receives the replica source), result
  * (JSON file written at the end).
  */
object Reconcile {

  val Workloads = Seq("nightly_clean", "replica_lag", "scattered_drift")
  private val KeyedTables = Seq("orders", "events")
  // warm passes per run, at least; more follow while --seconds lasts. A
  // pass runs at a speed that depends on the passes before it, so a fixed
  // count puts every run in the same state. scattered_drift's passes carry
  // HashDiff.diff, and the benchmark's time limit fits two.
  private val MinWarm = Map("nightly_clean" -> 3, "replica_lag" -> 3, "scattered_drift" -> 2)
  // repair loops per run, over the warm passes' drill-downs in turn: a
  // loop is short, so its median needs more samples than there are passes
  private val Repairs = 3

  case class Check(name: String, ok: Boolean, detail: String)

  /** A keyed table's drill-down: the lazy rowDiff (its plan shows the prune
    * tier), its materialized rows, and the fix-SQL directory.
    */
  case class Drill(plan: DataFrame, rows: DataFrame, fix: Path)

  /** What one pass left behind for the checks and the repair loop; a
    * verdict-only pass (`drilled` false) stops after the report.
    */
  case class PassOut(id: String, reconcileS: Double, verdictS: Double,
                     reports: Seq[Report.TableReport], summaryFiles: Int,
                     drilled: Boolean, drills: Map[String, Drill], hashDiff: Option[Path],
                     badChunks: Map[String, Long])

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = o("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    new Reconcile(workload, o("seed").toLong, o("seconds").toDouble, o("trace") == "1",
      o("sf").toDouble, o("cpus").toInt, Paths.get(o("upstream")), Paths.get(o("work")),
      Paths.get(o("result"))).run()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

final class Reconcile(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      sf: Double, cpus: Int, upstream: Path, work: Path, result: Path) {
  import Reconcile._

  private val width = Inputs.chunkWidth(sf)
  // the reference's catalog filter (> 1e9 rows, NONCLUSTERED) at fixture size
  private val checkSql = Discover.defaultCheckSql(math.round(100000 * sf))
  private val parallelism = math.min(3, cpus)
  private val upDir = upstream.toString
  private val downDir = work.resolve("replica")
  private val outRoot = work.resolve("out")

  private var spark: SparkSession = _
  private var sessionBuildUs = 0L
  private val jobs = new Jobs
  private var tracing = false
  private val spans = new Spans(if (tracing) Some(spark.sparkContext) else None)
  private val checks = mutable.ArrayBuffer.empty[Check]
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private var truths: Map[String, Inputs.Truth] = Map.empty

  private def session(): SparkSession = {
    val t0 = Clock.us
    val b = SparkSession.builder().master(s"local[$cpus]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
    Tables.sessionConf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    sessionBuildUs = Clock.us - t0
    s
  }

  /** Tracing on: the listener counts jobs and spans label them. */
  private def setTracing(on: Boolean): Unit = {
    if (on && !tracing) jobs.attach(spark.sparkContext)
    if (!on && tracing) {
      org.apache.spark.PerfbenchListenerBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(jobs)
    }
    tracing = on
  }

  /** Cli's routing: a single-column key gets chunked TableDiff, a
    * composite key the keyless HashDiff.
    */
  private def specFor(table: String): Option[TableDiff.DiffSpec] =
    Tables.primaryKeys.get(table).collect {
      case Seq(pk) => TableDiff.DiffSpec(Seq(pk), pk, width)
    }

  private def down(table: String): DataFrame =
    SideReader.read(spark, SideReader.ParquetDir(downDir.toString), table)

  private def inParallel[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = Executors.newFixedThreadPool(parallelism)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(xs.map(x => Future(f(x)))), Duration.Inf)
    finally pool.shutdown()
  }

  private def check(name: String, ok: Boolean, detail: => String): Unit =
    checks += Check(name, ok, if (ok) "" else detail)

  private def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  private def partFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else Files.list(dir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-"))

  private def lines(dir: Path): Seq[String] =
    partFiles(dir).flatMap(p => Files.readAllLines(p).asScala)

  // ------------------------------------------------------------------ pass

  /** One reconcile pass; with `drill` off it ends at the written report,
    * which is all an all-green night waits for. With tracing on, the
    * phase-1 calls are issued per table here, as Orchestrate issues them and
    * at its parallelism, so that Spark jobs are charged to tables.
    */
  private def pass(id: String, drill: Boolean = true): PassOut = {
    val out = outRoot.resolve(id)
    val runId = "20260101_000000"
    val t0 = Clock.us
    val tasks = spans(id, "discover") {
      Discover.discover(spark, upDir, checkSql).collect().toSeq.map(r =>
        Orchestrate.Task(r.getString(0), r.getString(1), specFor(r.getString(1)),
          structOnly = false))
    }
    val badChunks = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val reports =
      if (!tracing)
        spans(id, "phase1") {
          Orchestrate.compareTaskReports(spark, upDir, tasks, (t, _) => down(t), parallelism)
        }
      else inParallel(tasks) { t =>
        spans(id, s"phase1.${t.table}") {
          val up = Tables.load(spark, upDir, t.table)
          val dn = down(t.table)
          val r = (t.spec match {
            case Some(spec) => TableDiff.summary(up, dn, spec)
            case None => HashDiff.summary(up, dn)
          }).collect()(0)
          badChunks.put(t.table, r.getLong(2))
          Report.TableReport(t.table,
            if (StructDiff.equivalent(up.schema, dn.schema)) "ok" else "diff",
            if (r.getLong(2) > 0) "diff" else "ok", r.getLong(0), r.getLong(1))
        }
      }
    val summaries = out.resolve("summaries")
    spans(id, "report") {
      ReportIngest.writeSummaries(reports, summaries.toString, runId)
      Files.writeString(out.resolve("report.txt"),
        Report.render(Report.withTotal(Report.toDF(spark, reports))) + "\n")
    }
    val tVerdict = Clock.us

    val differing = tasks.filter(t =>
      reports.exists(r => r.table_name == t.table && r.data_result == "diff"))
    val drilled = if (!drill) Nil else inParallel(differing) { t =>
      val up = Tables.load(spark, upDir, t.table)
      val dn = down(t.table)
      t.spec match {
        case Some(spec) =>
          // rowDiff collects the bad chunk ids when called (phase 1 again);
          // the checkpoint runs the pruned row join once for fix SQL,
          // checks and repair
          val plan = spans(id, s"badchunks.${t.table}")(TableDiff.rowDiff(up, dn, spec))
          val rows = spans(id, s"rowdiff.${t.table}")(plan.localCheckpoint())
          val fix = out.resolve(s"fix_${t.schema}.${t.table}.sql")
          spans(id, s"fixsql.${t.table}") {
            FixSql.fromRowDiff(rows, t.table, spec.pkCols).select("fix_sql")
              .write.mode("overwrite").text(fix.toString)
          }
          Left(t.table -> Drill(plan, rows, fix))
        case None =>
          val dir = out.resolve(s"diff_${t.schema}.${t.table}")
          spans(id, "hashdiff.diff") {
            HashDiff.diff(up, dn).write.mode("overwrite").json(dir.toString)
          }
          Right(dir)
      }
    }
    val t1 = Clock.us
    spans.all.add(Span(id, "pass", t0, t1))
    System.err.println(f"pass $id: reconcile ${(t1 - t0) / 1e6}%.3f s, " +
      f"verdict ${(tVerdict - t0) / 1e6}%.3f s")
    PassOut(id, (t1 - t0) / 1e6, (tVerdict - t0) / 1e6, reports,
      truths.keys.count(t =>
        Files.exists(summaries.resolve(s"${t}_$runId").resolve("summary.txt"))), drill,
      drilled.collect { case Left(d) => d }.toMap, drilled.collectFirst { case Right(d) => d },
      badChunks.asScala.toMap)
  }

  // --------------------------------------------------------------- checks

  private def verify(p: PassOut): Boolean = {
    val before = checks.count(!_.ok)
    val byTable = p.reports.map(r => r.table_name -> r).toMap
    check(s"${p.id}: discovered tables", byTable.keySet == truths.keySet,
      s"got ${byTable.keySet}")
    check(s"${p.id}: summary.txt per table", p.summaryFiles == truths.size,
      s"got ${p.summaryFiles}")
    truths.values.foreach { tr =>
      byTable.get(tr.table).foreach { r =>
        val want = (tr.upcount, tr.downcount, if (tr.differs) "diff" else "ok", "ok")
        val got = (r.upcount, r.downcount, r.data_result, r.structure)
        check(s"${p.id}: ${tr.table} counts and verdict", got == want, s"want $want got $got")
      }
      val keyed = specFor(tr.table).map(_.pkCols.head)
      for (_ <- keyed; n <- p.badChunks.get(tr.table)) {
        val want = tr.badChunks(width).size.toLong
        check(s"${p.id}: ${tr.table} bad chunks", n == want, s"want $want got $n")
      }
      for (pk <- keyed; d <- p.drills.get(tr.table)) {
        val got = d.rows.select(col(pk), col("diff_kind")).collect()
          .groupBy(_.getString(1)).map { case (k, rs) => k -> rs.map(_.getLong(0)).toSet }
        val want = Map("missing_on_down" -> tr.missing, "value_mismatch" -> tr.mismatch,
          "extra_on_down" -> tr.extra).filter(_._2.nonEmpty)
        check(s"${p.id}: ${tr.table} diff rows by kind", got == want,
          s"want ${want.map(kv => kv._1 -> kv._2.size)} got ${got.map(kv => kv._1 -> kv._2.size)}")
        val stmts = lines(d.fix)
        val (replaceAt, deleteAt) =
          (s"REPLACE INTO ${tr.table} VALUES (", s"DELETE FROM ${tr.table} WHERE $pk = ")
        val replace = stmts.filter(_.startsWith(replaceAt))
          .map(_.stripPrefix(replaceAt).takeWhile(_ != ',').toLong).toSet
        val delete = stmts.filter(_.startsWith(deleteAt))
          .map(_.stripPrefix(deleteAt).stripSuffix(";").toLong).toSet
        check(s"${p.id}: ${tr.table} fix statements",
          stmts.size == replace.size + delete.size &&
            replace == tr.missing ++ tr.mismatch && delete == tr.extra,
          s"want REPLACE ${(tr.missing ++ tr.mismatch).size} DELETE ${tr.extra.size}, " +
            s"got ${stmts.size} lines: REPLACE ${replace.size} DELETE ${delete.size}")
      }
      if (p.drilled && tr.differs && keyed.isEmpty) {
        // keyless: a stale row is one missing and one extra fingerprint;
        // the sample payload carries the composite key
        val rows = p.hashDiff.map(d => spark.read.json(d.toString).collect().toSeq)
          .getOrElse(Nil)
        val names = Tables.load(spark, upDir, tr.table).columns
        val (ok, ln) = (names.indexOf("l_orderkey"), names.indexOf("l_linenumber"))
        def keys(kind: String) = rows.filter(_.getAs[String]("diff_kind") == kind).map { r =>
          val f = r.getAs[String]("vals").split(",")
          f(ok).toLong * 8 + f(ln).toLong
        }
        val (missing, extra) = (keys("missing_on_down"), keys("extra_on_down"))
        check(s"${p.id}: ${tr.table} differing fingerprints",
          missing.size + extra.size == rows.size &&
            missing.size == missing.toSet.size && extra.size == extra.toSet.size &&
            missing.toSet == tr.missing ++ tr.mismatch && extra.toSet == tr.mismatch ++ tr.extra,
          s"want ${tr.missing.size + 2 * tr.mismatch.size + tr.extra.size} " +
            s"got ${rows.size} (missing ${missing.size} extra ${extra.size})")
      }
    }
    if (p.drilled) {
      val want = truths.values.filter(t => t.differs && specFor(t.table).isDefined).map(_.table)
      check(s"${p.id}: drilled tables", p.drills.keySet == want.toSet,
        s"want ${want.toSet} got ${p.drills.keySet}")
    }
    checks.count(!_.ok) == before
  }

  // ---------------------------------------------------------------- repair

  /** Repair every differing keyed table from the pass's drill-down, write
    * the repaired replica, then re-check all keyed tables against it. On a
    * clean replica only the re-check runs. Returns (seconds, clean).
    */
  private def repairLoop(p: PassOut, id: String): (Double, Boolean) = {
    val repaired = outRoot.resolve(id).resolve("replica")
    val t0 = Clock.us
    inParallel(p.drills.toSeq) { case (t, d) =>
      spans(id, s"repair.$t") {
        Repair.repair(down(t), Tables.load(spark, upDir, t), d.rows, specFor(t).get.pkCols)
          .write.mode("overwrite").parquet(repaired.resolve(s"$t.parquet").toString)
      }
    }
    val tasks = KeyedTables.map(t => Orchestrate.Task("main", t, specFor(t), structOnly = false))
    val reports = spans(id, "recheck") {
      Orchestrate.compareTaskReports(spark, upDir, tasks,
        (t, _) => if (p.drills.contains(t)) Tables.load(spark, repaired.toString, t) else down(t),
        parallelism)
    }
    val t1 = Clock.us
    spans.all.add(Span(id, "repair", t0, t1))
    System.err.println(f"repair $id: ${(t1 - t0) / 1e6}%.3f s")
    val before = checks.count(!_.ok)
    reports.foreach { r =>
      val want = truths(r.table_name).upcount
      check(s"$id: ${r.table_name} clean after repair",
        r.data_result == "ok" && r.upcount == want && r.downcount == want,
        s"got ${r.data_result} ${r.upcount}/${r.downcount}, want ok $want/$want")
      if (tracing) put(s"repair.rows_written.${r.table_name}",
        if (p.drills.contains(r.table_name)) r.downcount.toDouble else 0.0, "rows")
    }
    ((t1 - t0) / 1e6, checks.count(!_.ok) == before)
  }

  // ------------------------------------------------------------------- run

  def run(): Unit = {
    // JVM start to main, charged to the set-up
    val preMainUs = Clock.us -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000
    val g0 = Clock.us
    truths = Generate(() => { if (spark == null) spark = session(); spark },
      workload, seed, sf, upstream, downDir)
    put("gen_s", (Clock.us - g0 - sessionBuildUs) / 1e6, "s")
    val sessionUs = preMainUs + sessionBuildUs
    KeyedTables.foreach { t =>
      val maxKey = (truths(t).extra + (truths(t).upcount - 1)).max
      put(s"tablediff.chunks.$t", (maxKey / width + 1).toDouble, "count")
    }

    var attempted = 0
    var failed = 0
    def attempt[T](body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"pass failed: $e")
          e.printStackTrace()
          None
      }
    }
    def checked(p: PassOut): PassOut = { if (!verify(p)) failed += 1; p }

    // set-up: process start to the end of the first (cold) pass, less the
    // input generation; the cold pass counts Discover's manifest and leaves
    // the warm passes a filled one
    setTracing(trace)
    val cold = attempt(checked(pass("cold")))

    // warm-up: a verdict-only pass, untimed, brings phase 1 back to speed
    // after the cold pass's drill-down. Then the warm passes, and after them
    // the repair loops: a repair loop between passes slows the next pass's
    // phase 1 by up to a third. A traced run alternates tracing on and off
    // between passes, and the difference is the overhead
    attempt(checked(pass("warmup", drill = false)))
    val traced, untraced = mutable.ArrayBuffer.empty[PassOut]
    val repairS = mutable.ArrayBuffer.empty[Double]
    val tEnd = Clock.us + (seconds * 1e6).toLong
    var i = 0
    var passUs = 0L
    while (i < MinWarm(workload) || Clock.us + passUs <= tEnd) {
      i += 1
      setTracing(trace && i % 2 == 1)
      val on = tracing
      val p0 = Clock.us
      attempt(checked(pass(s"warm$i"))).foreach(p =>
        (if (on || !trace) traced else untraced) += p)
      passUs = Clock.us - p0
    }
    setTracing(trace)
    val drilled = (traced ++ untraced).toSeq
    if (drilled.nonEmpty) (1 to Repairs).foreach { k =>
      attempt {
        val (s, ok) = repairLoop(drilled((k - 1) % drilled.size), s"repair$k")
        if (!ok) failed += 1
        repairS += s
      }
    }
    setTracing(false)

    val warm = traced.toSeq
    put("reconcile_s", median(warm.map(_.reconcileS)), "s")
    put("verdict_s", median(warm.map(_.verdictS)), "s")
    val rows = truths.values.map(t => t.upcount + t.downcount).sum
    put("rows_per_s", rows / median(warm.map(_.reconcileS)), "rows/s")
    put("repair_s", median(repairS.toSeq), "s")
    cold.foreach(p => put("setup_s", sessionUs / 1e6 + p.reconcileS, "s"))
    put("fail_rate", failed.toDouble / attempted, "ratio")
    if (trace) layers(warm, untraced.toSeq, cold.toSeq)
    put("jvm.heap_peak_mb", java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6, "MB")

    checks.filterNot(_.ok).foreach(c => System.err.println(s"CHECK FAILED ${c.name}: ${c.detail}"))
    if (trace) Files.writeString(work.resolve("spans.jsonl"), spans.toJsonLines)
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${if (v.isNaN || v.isInfinite) 0.0 else v},"unit":"$u"}"""
    }.mkString(",")
    Files.writeString(result,
      s"""{"correct":${checks.forall(_.ok) && failed == 0},"attempted":$attempted,""" +
        s""""failed":$failed,"metrics":{$ms}}""" + "\n")
    spark.stop()
  }

  // ---------------------------------------------------------------- layers

  private def layers(traced: Seq[PassOut], untraced: Seq[PassOut], cold: Seq[PassOut]): Unit = {
    def spanS(id: String, name: String): Double =
      spans.of(id).filter(_.name == name).map(_.seconds).sum
    def spanAll(name: String): Seq[Double] =
      spans.all.asScala.filter(_.name == name).map(_.seconds).toSeq
    def med(f: PassOut => Double): Double = median(traced.map(f))
    def counts(p: PassOut, names: String*) = jobs.sum(p.id, n => names.contains(n))
    val sideRows = truths.map { case (t, tr) => t -> (tr.upcount + tr.downcount).toDouble }

    put("discover.s", median(cold.map(p => spanS(p.id, "discover"))), "s")
    put("discover.jobs", median(cold.map(counts(_, "discover").jobs.toDouble)), "count")
    put("discover.warm_s", med(p => spanS(p.id, "discover")), "s")
    KeyedTables.foreach { t =>
      val ph = s"phase1.$t"
      val drill = Seq(s"badchunks.$t", s"rowdiff.$t")
      put(s"tablediff.summary.s.$t", med(p => spanS(p.id, ph)), "s")
      put(s"tablediff.summary.task_cpu_s.$t", med(counts(_, ph).cpuNs / 1e9), "s")
      put(s"tablediff.summary.scan_rows.$t", med(counts(_, ph).inputRows.toDouble), "rows")
      put(s"tablediff.summary.shuffle_bytes.$t", med(counts(_, ph).shuffleWrite.toDouble), "bytes")
      put(s"tablediff.bad_chunks.$t", med(_.badChunks.getOrElse(t, 0L).toDouble), "count")
      put(s"tablediff.badchunks.s.$t", med(p => spanS(p.id, s"badchunks.$t")), "s")
      put(s"tablediff.rowdiff.s.$t", med(p => spanS(p.id, s"rowdiff.$t")), "s")
      put(s"tablediff.rowdiff.scan_passes.$t",
        med(counts(_, drill: _*).inputRows / sideRows(t)), "ratio")
      put(s"tablediff.rowdiff.shuffle_bytes.$t",
        med(counts(_, drill: _*).shuffleWrite.toDouble), "bytes")
      val d = traced.flatMap(_.drills.get(t)).headOption
      val spec = specFor(t).get
      // bad chunks are the chunks of the differing rows
      val ids = d.map(_.rows.select(col(spec.chunkBy)).collect()
        .map(r => Math.floorDiv(r.getLong(0), width)).toSeq.distinct).getOrElse(Nil)
      put(s"tablediff.merged_ranges.$t", TableDiff.mergedRanges(ids, spec).size, "count")
      // the prune tier in the executed plan: 0 no phase 2, 1 range
      // filter, 2 broadcast left-semi join, 3 flat join
      val tier = d.map { d =>
        val plan = d.plan.queryExecution.executedPlan.toString
        if (plan.contains("LeftSemi")) 2
        else if (plan.contains(s"GreaterThanOrEqual(${spec.chunkBy}")) 1
        else 3
      }.getOrElse(0)
      put(s"tablediff.tier.$t", tier, "tier")
      Seq("missing_on_down", "extra_on_down", "value_mismatch").foreach { k =>
        put(s"tablediff.diff_rows.$k.$t",
          d.map(_.rows.filter(col("diff_kind") === k).count().toDouble).getOrElse(0.0), "rows")
      }
      put(s"fixsql.s.$t", med(p => spanS(p.id, s"fixsql.$t")), "s")
      put(s"fixsql.stmts.$t", med(_.drills.get(t).map(d => lines(d.fix).size.toDouble)
        .getOrElse(0.0)), "count")
      put(s"fixsql.bytes.$t", med(_.drills.get(t).map(d => partFiles(d.fix)
        .map(Files.size(_).toDouble).sum).getOrElse(0.0)), "bytes")
      put(s"repair.s.$t", median(spanAll(s"repair.$t")), "s")
    }
    put("hashdiff.summary.s", med(p => spanS(p.id, "phase1.lineitem")), "s")
    put("hashdiff.summary.task_cpu_s", med(counts(_, "phase1.lineitem").cpuNs / 1e9), "s")
    put("hashdiff.summary.shuffle_bytes",
      med(counts(_, "phase1.lineitem").shuffleWrite.toDouble), "bytes")
    put("hashdiff.diff.s", med(p => spanS(p.id, "hashdiff.diff")), "s")
    put("hashdiff.diff.scan_passes",
      med(counts(_, "hashdiff.diff").inputRows / sideRows("lineitem")), "ratio")
    put("hashdiff.diff.shuffle_bytes", med(counts(_, "hashdiff.diff").shuffleWrite.toDouble), "bytes")
    put("recheck.s", median(spanAll("recheck")), "s")
    put("report.s", med(p => spanS(p.id, "report")), "s")

    def whole(p: PassOut) = jobs.sum(p.id, _ => true)
    put("spark.jobs", med(whole(_).jobs.toDouble), "count")
    put("spark.stages", med(whole(_).stages.toDouble), "count")
    put("spark.tasks", med(whole(_).tasks.toDouble), "count")
    put("spark.task_cpu_s", med(whole(_).cpuNs / 1e9), "s")
    put("spark.gc_s", med(whole(_).gcMs / 1e3), "s")
    put("spark.shuffle_write_bytes", med(whole(_).shuffleWrite.toDouble), "bytes")
    put("spark.shuffle_read_bytes", med(whole(_).shuffleRead.toDouble), "bytes")
    put("spark.spill_bytes", med(whole(_).spill.toDouble), "bytes")
    put("spark.input_rows", med(whole(_).inputRows.toDouble), "rows")
    def window(p: PassOut) = spans.of(p.id).find(_.name == "pass").get
    put("spark.driver_s", med { p =>
      val w = window(p)
      (w.endUs - w.startUs - Jobs.covered(jobs.jobWindows(p.id), w.startUs, w.endUs)) / 1e6
    }, "s")
    // share of each pass's wall time inside a layer span, for the worst pass
    put("trace.coverage_pct", traced.map { p =>
      val w = window(p)
      val inner = spans.of(p.id).filter(_.name != "pass").map(s => (s.startUs, s.endUs))
      100.0 * Jobs.covered(inner, w.startUs, w.endUs) / (w.endUs - w.startUs)
    }.minOption.getOrElse(0.0), "%")
    put("trace.overhead_s", med(_.reconcileS) - median(untraced.map(_.reconcileS)), "s")
    kernels()
  }

  /** Fingerprint cost per row: each fingerprint lane written to Spark's
    * no-op sink, minus a scan-only no-op write of the same columns; median
    * of three rounds over the three compared upstream tables.
    */
  private def kernels(): Unit = {
    val tables = Inputs.big.map(t => Tables.load(spark, upDir, t.name))
    val rows = truths.values.map(_.upcount).sum.toDouble
    def timed(f: DataFrame => DataFrame): Double = {
      val t0 = System.nanoTime()
      tables.foreach(df => f(df).write.format("noop").mode("overwrite").save())
      (System.nanoTime() - t0).toDouble
    }
    def lanes(df: DataFrame) = df.schema.fields.toSeq.map(f => (col(f.name), f.dataType))
    val rounds = (1 to 3).map { _ =>
      (timed(identity), timed(df => df.select(Canonical.fingerprint48(lanes(df)))),
        timed(df => df.select(Canonical.fingerprint(lanes(df)))))
    }
    val scan = median(rounds.map(_._1))
    put("scan.ns_per_row", scan / rows, "ns/row")
    put("scan.rows", rows, "rows")
    put("scan.bytes", Inputs.big.flatMap(t => Files.list(upstream.resolve(s"${t.name}.parquet"))
      .iterator().asScala.map(Files.size(_).toDouble)).sum, "bytes")
    put("canonical.fp48_ns_per_row", (median(rounds.map(_._2)) - scan) / rows, "ns/row")
    put("canonical.fp128_ns_per_row", (median(rounds.map(_._3)) - scan) / rows, "ns/row")
  }
}
