package graft

import graft.operators._
import graft.functions.Salt
import graft.sources.SideReader
import org.apache.spark.sql.functions._
import java.nio.file.Files

class ReportIngestSpec extends SparkSpec {

  private val reports = Seq(
    Report.TableReport("orders", "ok", "ok", 1500, 1500),
    Report.TableReport("lineitem", "ok", "diff", 6000, 5997))

  test("summary artifacts round-trip through the file boundary") {
    val base = Files.createTempDirectory("graft_sum").toString
    ReportIngest.writeSummaries(reports, base, "20240101_000000")
    // a later run supersedes the first for orders (P8 latest-run)
    ReportIngest.writeSummaries(
      Seq(Report.TableReport("orders", "ok", "diff", 1500, 1400)),
      base, "20240102_000000")
    val got = ReportIngest.ingestSummaries(spark, base)
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got("lineitem") == (("ok", "diff", 6000L, 5997L)))
    assert(got("orders") == (("ok", "diff", 1500L, 1400L))) // latest run wins
  }

  test("table list TSV round-trips and drops warning lines") {
    val dir = Files.createTempDirectory("graft_tsv").toString + "/list"
    import spark.implicits._
    val tables = Seq(("main", "orders"), ("mysql: warning", "x"))
      .toDF("schema_name", "table_name")
    ReportIngest.writeTableList(tables, dir)
    val back = ReportIngest.readTableList(spark, dir).collect()
    assert(back.map(_.getString(1)).toSet == Set("orders"))
  }
}

class EventLogSpec extends SparkSpec {

  test("log events render reference-format lines and round-trip") {
    val log = new EventLog
    log.log("INFO", "step 1 start", 1704067200000L)
    log.log("ERROR", "table orders: diff found", 1704067260000L)
    val lines = log.renderLines
    assert(lines.head == "[2024-01-01 00:00:00] [INFO] step 1 start")
    val f = Files.createTempFile("graft_log", ".log")
    log.writeTo(f)
    val back = EventLog.read(spark, f.toString).orderBy("ts").collect()
    assert(back.length == 2)
    assert(back(1).getString(1) == "ERROR")
    assert(back(1).getString(2) == "table orders: diff found")
  }
}

class SaltSpec extends SparkSpec {

  // skewed: one hot key with 5000 rows, others tiny
  private lazy val skewed = spark.range(0, 5000).toDF("i")
    .select(when(col("i") < 4500, lit(1L)).otherwise(col("i")).as("k"),
      col("i").as("v"))

  test("salted count equals plain count") {
    val plain = skewed.groupBy("k").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val salted = Salt.saltedCount(skewed, "k", 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }

  test("salted sum equals plain sum (commutative checksum shape)") {
    val plain = skewed.groupBy("k").agg(sum("v").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val salted = Salt.saltedSum(skewed, "k", "v", 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }

  test("salted join equals plain join") {
    import spark.implicits._
    val dim = Seq((1L, "hot"), (4600L, "cold")).toDF("k", "name")
    val plain = skewed.join(dim, "k").groupBy("name").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Salt.saltedJoin(skewed, dim, "k", 8).groupBy("name").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
    assert(plain("hot") == 4500L)
  }
}

class SideReaderSpec extends SparkSpec {

  test("parquet side reads fixture snapshots") {
    val df = SideReader.read(spark, SideReader.ParquetDir(sfDir), "orders")
    assert(df.count() == 1500)
  }

  test("jdbc options derive chunk partitioning from chunk size") {
    val opts = SideReader.jdbcOptions(SideReader.Jdbc(
      url = "jdbc:mysql://db:4000", schema = "main", table = "orders",
      user = "u", password = "p", pkColumn = "o_orderkey",
      lowerBound = 0, upperBound = 999999, chunkSize = 5000))
    assert(opts("numPartitions") == "200")
    assert(opts("dbtable") == "main.orders")
    assert(opts("partitionColumn") == "o_orderkey")
  }

  test("partitioned JDBC read executes against a live embedded database (S5, VERDICT r04 #9)") {
    // Derby ships with Spark's jars, so the JDBC branch — options through
    // DataFrameReader through a real driver through real result sets —
    // finally executes instead of stopping at option construction. The
    // in-memory database lives in this (forked) test JVM, which is the
    // same JVM local-mode executors run in, so every partition's
    // connection sees it. AS OF TIMESTAMP stays n/a (TiDB dialect).
    System.setProperty("derby.system.home", System.getProperty("java.io.tmpdir"))
    val url = "jdbc:derby:memory:graftjdbc;create=true"
    val conn = java.sql.DriverManager.getConnection(url, "app", "app")
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        "CREATE TABLE items (id INT PRIMARY KEY, name VARCHAR(24), val DOUBLE)")
      val ins = conn.prepareStatement("INSERT INTO items VALUES (?, ?, ?)")
      (0 until 100).foreach { i =>
        ins.setInt(1, i); ins.setString(2, s"item_$i"); ins.setDouble(3, i / 4.0)
        ins.addBatch()
      }
      ins.executeBatch()
      st.close(); ins.close()
    } finally conn.close()

    val side = SideReader.Jdbc(
      url = url, schema = "APP", table = "items", user = "app",
      password = "app", pkColumn = "id", lowerBound = 0, upperBound = 99,
      chunkSize = 25)
    val df = SideReader.read(spark, side, "items")
    // chunk-size partitioning is REAL here: 100-row span / 25-row chunks
    // = 4 concurrent range-bounded scans, the reference's chunked dual
    // scan shape (my_database_users.toml:45)
    assert(df.rdd.getNumPartitions == 4)
    assert(df.count() == 100)
    val agg = df.agg(
      org.apache.spark.sql.functions.sum("id"),
      org.apache.spark.sql.functions.min("name")).collect()(0)
    assert(agg.get(0).toString.toLong == 4950L)
    assert(agg.getString(1) == "item_0")
  }

  test("snapshot pin wraps the table in AS OF TIMESTAMP") {
    val opts = SideReader.jdbcOptions(SideReader.Jdbc(
      "jdbc:mysql://db:4000", "main", "orders", "u", "p",
      "o_orderkey", 0, 99, 50, snapshotTs = Some("2024-01-01 00:00:00")))
    assert(opts("dbtable") ==
      "(SELECT * FROM main.orders AS OF TIMESTAMP '2024-01-01 00:00:00') AS t")
    assert(opts("numPartitions") == "2")
  }

  test("config-to-endpoint assembly renders the exact live TiDB strings (S6 seam, VERDICT r08 #8)") {
    // The one seam no sandbox can execute: a LIVE TiDB `AS OF TIMESTAMP`
    // read. Pin it by construction instead — parse a reference-shaped
    // config (my_database_users.toml fields), assemble the Jdbc side the
    // engine would hand Spark's JDBC source, and golden-assert every
    // string a real endpoint would receive. A regression in URL assembly,
    // subquery wrapping, clause spelling, or chunk partitioning fails
    // here even though the connection is never opened.
    val conf = graft.conf.EngineConf.parse(
      """master_ip = "10.0.0.7"
        |master_port = 4000
        |master_user = "checker"
        |master_password = "c2VjcmV0"
        |slave_ip = "10.0.0.8"
        |slave_port = 4000
        |slave_user = "checker"
        |slave_password = "c2VjcmV0"
        |check_sql = "SELECT 1"
        |output_dir = "/tmp/out"
        |chunk_size = 5000
        |""".stripMargin)
    val side = SideReader.fromConf(conf.master, "my_database", "users",
      "id", 1L, 1000000L, conf.chunkSize,
      snapshotTs = Some("2024-01-01 00:00:00"))
    val opts = SideReader.jdbcOptions(side)
    assert(opts("url") == "jdbc:mysql://10.0.0.7:4000/my_database")
    assert(opts("dbtable") ==
      "(SELECT * FROM my_database.users " +
        "AS OF TIMESTAMP '2024-01-01 00:00:00') AS t")
    assert(opts("user") == "checker")
    assert(opts("password") == "secret") // base64 pw decoded (F1)
    assert(opts("partitionColumn") == "id")
    assert(opts("lowerBound") == "1" && opts("upperBound") == "1000000")
    assert(opts("numPartitions") == "200") // 1M-row span / 5000-row chunks
  }

  test("snapshot-pinned wrapped read EXECUTES end to end (S6 plumbing, VERDICT r07 #8)") {
    // The pin's engine-independent half — dbtable as a parenthesized
    // subquery with partition predicates applied over the derived table —
    // executes against embedded Derby via the CommentSnapshot dialect
    // (same clause text, rendered inert; Derby has no time travel). Only
    // the clause semantics remain TiDB-only.
    System.setProperty("derby.system.home", System.getProperty("java.io.tmpdir"))
    val url = "jdbc:derby:memory:graftasof;create=true"
    val conn = java.sql.DriverManager.getConnection(url, "app", "app")
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        "CREATE TABLE snap (id INT PRIMARY KEY, v VARCHAR(16))")
      val ins = conn.prepareStatement("INSERT INTO snap VALUES (?, ?)")
      (0 until 60).foreach { i =>
        ins.setInt(1, i); ins.setString(2, s"v$i"); ins.addBatch()
      }
      ins.executeBatch()
      st.close(); ins.close()
    } finally conn.close()

    val side = SideReader.Jdbc(
      url = url, schema = "APP", table = "snap", user = "app",
      password = "app", pkColumn = "id", lowerBound = 0, upperBound = 59,
      chunkSize = 20, snapshotTs = Some("2024-01-01 00:00:00"),
      dialect = SideReader.CommentSnapshot)
    // The options carry the full wrapped shape with the pin text present.
    val opts = SideReader.jdbcOptions(side)
    assert(opts("dbtable") ==
      "(SELECT * FROM APP.snap /* AS OF TIMESTAMP '2024-01-01 00:00:00' */) AS t")
    val df = SideReader.read(spark, side, "snap")
    assert(df.rdd.getNumPartitions == 3) // 60-row span / 20-row chunks
    assert(df.count() == 60)
    assert(df.agg(org.apache.spark.sql.functions.sum("id"))
      .collect()(0).get(0).toString.toLong == 1770L)
  }
}

class CliSpec extends SparkSpec {

  private lazy val confPath = {
    val f = Files.createTempFile("graft_conf", ".toml")
    Files.writeString(f,
      s"""master_ip = "a"
         |master_port = "4000"
         |master_user = "u"
         |master_password = "p"
         |slave_ip = "b"
         |slave_port = "4000"
         |slave_user = "u"
         |slave_password = "p"
         |check_sql = "SELECT schema_name, table_name FROM graft_manifest WHERE table_rows > 500 AND pk_kind = 'NONCLUSTERED' ORDER BY table_name"
         |thread_count = "2"
         |chunk_size = "500"
         |output_dir = "${Files.createTempDirectory("graft_cfgs")}"
         |""".stripMargin)
    f.toString
  }

  test("doctor passes on a sane config + fixture dir") {
    assert(Cli.run(Array("doctor", confPath, sfDir), spark) == 0)
  }

  test("run-all over identity downstream exits 0") {
    assert(Cli.run(Array("run-all", confPath, sfDir), spark) == 0)
  }

  test("generate writes one task config per discovered table") {
    assert(Cli.run(Array("generate", confPath, sfDir, "r1"), spark) == 0)
    val c = graft.conf.EngineConf.parse(Files.readString(
      java.nio.file.Paths.get(confPath)))
    val files = new java.io.File(c.outputDir).list().toSet
      .filter(_.endsWith(".toml")) // run-all's .graft.lock may coexist
    assert(files == Set("main_orders.toml", "main_lineitem.toml", "main_events.toml"))
  }

  test("concurrent run-all against one output dir is refused (exit 3)") {
    val c = graft.conf.EngineConf.parse(Files.readString(
      java.nio.file.Paths.get(confPath)))
    val ch = java.nio.channels.FileChannel.open(
      java.nio.file.Paths.get(c.outputDir, ".graft.lock"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    val held = ch.lock()
    try assert(Cli.run(Array("run-all", confPath, sfDir), spark) == 3)
    finally { held.release(); ch.close() }
    // lock released -> a fresh run proceeds normally
    assert(Cli.run(Array("run-all", confPath, sfDir), spark) == 0)
  }

  test("unknown subcommand exits 2") {
    assert(Cli.run(Array("bogus"), spark) == 2)
  }

  private def confWith(outputDir: String, checkSql: Option[String] = None,
                       structOnly: Boolean = false): String = {
    val f = Files.createTempFile("graft_conf", ".toml")
    val sql = checkSql.getOrElse(
      "SELECT schema_name, table_name FROM graft_manifest WHERE " +
        "table_rows > 500 AND pk_kind = 'NONCLUSTERED' ORDER BY table_name")
    Files.writeString(f,
      s"""master_ip = "a"
         |master_port = "4000"
         |master_user = "u"
         |master_password = "p"
         |slave_ip = "b"
         |slave_port = "4000"
         |slave_user = "u"
         |slave_password = "p"
         |check_sql = "$sql"
         |thread_count = "2"
         |chunk_size = "500"
         |output_dir = "$outputDir"
         |check_struct_only = "$structOnly"
         |""".stripMargin)
    f.toString
  }

  test("compare runs standalone from generated task configs (entry point C)") {
    val out = Files.createTempDirectory("graft_cmp").toString
    val conf = confWith(out)
    // without generated configs: refused with exit 1 (step3:90-93)
    assert(Cli.run(Array("compare", conf, sfDir, "20240101_000000"), spark) == 1)
    // generate, then compare WITHOUT re-discovery
    assert(Cli.run(Array("generate", conf, sfDir, "r9"), spark) == 0)
    assert(Cli.run(Array("compare", conf, sfDir, "20240101_000000"), spark) == 0)
    // summaries land in the directory-per-run layout the ingester reads
    for (t <- Seq("orders", "lineitem", "events"))
      assert(new java.io.File(s"$out/${t}_20240101_000000/summary.txt").exists(),
        s"missing summary for $t")
    // report re-aggregates the artifacts standalone, equivalent -> 0
    assert(Cli.run(Array("report", conf), spark) == 0)
  }

  test("compare against a missing task-config dir is refused (exit 1)") {
    val conf = confWith("/no/such/graft/dir")
    assert(Cli.run(Array("compare", conf, sfDir, "x"), spark) == 1)
  }

  test("report with no summaries is informational, exit 0 (step3:182-184)") {
    val conf = confWith(Files.createTempDirectory("graft_empty").toString)
    assert(Cli.run(Array("report", conf), spark) == 0)
  }

  /** `<table>_<runId>` summary dirs under `out`, sorted. */
  private def summaryDirs(out: String): Seq[String] =
    new java.io.File(out).list().toSeq
      .filter(d => d.matches(".*_\\d{8}_\\d{6}") &&
        new java.io.File(s"$out/$d/summary.txt").exists())
      .sorted

  test("run-all leaves one summary.txt per table; report renders the same rows and exit code") {
    val out = Files.createTempDirectory("graft_runall").toString
    val conf = confWith(out)
    val (code, runOut) = doctorOut(Array("run-all", conf, sfDir))
    val dirs = summaryDirs(out)
    assert(dirs.map(_.dropRight(16)) == Seq("events", "lineitem", "orders"), dirs)
    assert(dirs.map(_.takeRight(15)).distinct.size == 1, dirs) // one run id
    val (reportCode, reportOut) = doctorOut(Array("report", conf))
    assert(reportCode == code)
    assert(runOut.endsWith(reportOut), s"$runOut\n---\n$reportOut")
  }

  test("a struct-only run-all's skipped data stage survives summary.txt") {
    val out = Files.createTempDirectory("graft_structonly").toString
    val conf = confWith(out, structOnly = true)
    val (code, runOut) = doctorOut(Array("run-all", conf, sfDir))
    val (reportCode, reportOut) = doctorOut(Array("report", conf))
    val ingested = ReportIngest.ingestSummaries(spark, out)
      .select("table_name", "data_result").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(ingested == Map("events" -> "skipped", "lineitem" -> "skipped",
      "orders" -> "skipped"))
    assert(code == 0 && reportCode == code, reportOut)
    assert(runOut.endsWith(reportOut), s"$runOut\n---\n$reportOut")
  }

  test("discover, run-all and doctor take their tables from the source dir") {
    // events plus a table no fixture map knows, and none of the others
    val src = Files.createTempDirectory("graft_src")
    for (t <- Seq("events", "widgets"))
      Files.copy(java.nio.file.Paths.get(sfDir, "events.parquet"),
        src.resolve(s"$t.parquet"))
    val out = Files.createTempDirectory("graft_src_out").toString
    val conf = confWith(out)
    assert(Discover.discover(spark, src.toString, Discover.defaultCheckSql(500))
      .collect().map(_.getString(1)).toSeq == Seq("events", "widgets"))
    // widgets has no declared key, so it is compared keyless
    assert(Orchestrate.task("main", "widgets", 500, structOnly = false).spec.isEmpty)
    assert(Cli.run(Array("run-all", conf, src.toString), spark) == 0)
    assert(summaryDirs(out).map(_.dropRight(16)) == Seq("events", "widgets"))
    assert(Cli.run(Array("doctor", conf, src.toString), spark) == 0)
  }

  private def doctorOut(args: Array[String]): (Int, String) = {
    val buf = new java.io.ByteArrayOutputStream()
    val code = Console.withOut(new java.io.PrintStream(buf)) {
      Cli.run(args, spark)
    }
    (code, buf.toString("UTF-8"))
  }

  private def cliOutErr(args: Array[String]): (Int, String) = {
    val buf = new java.io.ByteArrayOutputStream()
    val ps = new java.io.PrintStream(buf)
    val oldErr = System.err
    System.setErr(ps)
    val code =
      try Console.withOut(ps) { Cli.run(args, spark) }
      finally { ps.flush(); System.setErr(oldErr) }
    (code, buf.toString("UTF-8"))
  }

  test("--wait: a waiter acquires once the holder releases; deadline expiry exits 2 naming the holder (r19 #7)") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val store = Files.createTempDirectory("graft_wait_cli").toString
    val ids = spark.range(0, 200).select(col("id").as("vec_id"))
    ProductQuant.publishIndex(spark, store,
      ProductQuant.uniformSyntheticCodes(ids))
    // a holder occupies the lease ~4 s on another thread; the waiter's
    // 30 s budget outlasts it and the compaction then proceeds
    val entered = new CountDownLatch(1)
    val t = new Thread(() => {
      StoreLease.withLease(spark, store, "slow-holder") {
        entered.countDown(); Thread.sleep(4000L)
      }
    })
    t.start(); assert(entered.await(10, TimeUnit.SECONDS))
    val (c1, o1) = cliOutErr(
      Array("compact", "--index", store, "--wait", "30"))
    assert(c1 == 0, o1)
    assert(o1.contains("compacted live generation"), o1)
    t.join(10000L)
    // a deadline shorter than the holder's body expires: exit 2 with
    // the holder NAMED and the wait acknowledged
    val entered2 = new CountDownLatch(1)
    val release2 = new CountDownLatch(1)
    val t2 = new Thread(() => {
      StoreLease.withLease(spark, store, "standing-holder") {
        entered2.countDown()
        release2.await(30, TimeUnit.SECONDS)
      }
    })
    t2.start(); assert(entered2.await(10, TimeUnit.SECONDS))
    try {
      val (c2, o2) = cliOutErr(
        Array("compact", "--index", store, "--wait", "1"))
      assert(c2 == 2, o2)
      assert(o2.contains("is being mutated"), o2)
      assert(o2.contains("waited 1s"), o2)
      assert(o2.contains("standing-holder"), o2)
    } finally { release2.countDown(); t2.join(15000L) }
  }

  test("--wait refuses a bare index; a repeated option falls through to usage (r20)") {
    // a BARE index (no versioned store): compactIndex renames the
    // index dir itself aside mid-swap, so a lease inside it cannot
    // serialize waiters — the flag refuses instead of silently
    // weakening (round-20 review #1)
    val bare = Files.createTempDirectory("graft_wait_bare").toString
    val ids = spark.range(0, 100).select(col("id").as("vec_id"))
    ProductQuant.writeIndex(ProductQuant.uniformSyntheticCodes(ids), bare)
    val (cb, ob) = cliOutErr(
      Array("compact", "--index", bare, "--wait", "30"))
    assert(cb == 2, ob)
    assert(ob.contains("needs a versioned store"), ob)
    // plain compaction of the same bare index still works
    assert(Cli.run(Array("compact", "--index", bare), spark) == 0)
    // a repeated option is malformed, not first-wins (round-20 review
    // #7): falls through to usage, exit 2
    val (cd, od) = cliOutErr(Array("compact", "--index", bare,
      "--wait", "5", "--wait", "300"))
    assert(cd == 2, od)
    assert(od.contains("usage:"), od)
  }

  test("run-all --yes --detach persists report, pid and status artifacts") {
    val out = Files.createTempDirectory("graft_det").toString
    val conf = confWith(out)
    assert(Cli.run(Array("run-all", conf, sfDir, "--yes", "--detach"),
      spark) == 0)
    val w = Cli.detachedWorker.get
    try {
      w.join(180000)
      assert(!w.isAlive, "detached worker did not finish")
      val files = new java.io.File(out).list().toSet
      assert(files.exists(_.startsWith("final_report_")),
        s"no final_report in $files")
      // pid file is per-run so concurrent --detach launches can't
      // clobber each other's record (ADVICE r12 #3)
      assert(files.exists(_.startsWith(".graft.pid_")), s"no pid file in $files")
      val status = files.find(_.startsWith(".graft.status_")).get
      assert(Files.readString(
        java.nio.file.Paths.get(out, status)).trim == "0")
      // the persisted report is the rendered merged table
      val rep = files.find(_.startsWith("final_report_")).get
      assert(Files.readString(java.nio.file.Paths.get(out, rep))
        .contains("TOTAL"))
    } finally Cli.detachedWorker = None
  }

  test("run-all interactive gate cancels on any answer but y (run_all.sh:76-83)") {
    val out = Files.createTempDirectory("graft_gate").toString
    val conf = confWith(out)
    sys.props("graft.forceInteractive") = "true"
    try {
      val declined = Console.withIn(
        new java.io.StringReader("n\n")) {
        Cli.run(Array("run-all", conf, sfDir), spark)
      }
      assert(declined == 0)
      // cancelled BEFORE any artifact: not even the run lock appears
      assert(Option(new java.io.File(out).list()).forall(_.isEmpty))
      val accepted = Console.withIn(
        new java.io.StringReader("y\n")) {
        Cli.run(Array("run-all", conf, sfDir), spark)
      }
      assert(accepted == 0)
      assert(new java.io.File(out, ".graft.lock").exists())
    } finally sys.props.remove("graft.forceInteractive")
  }

  test("doctor --index surfaces the layout audit from the shell (r14 #8)") {
    // skewed synthetic index: even vec_ids pile into list 0 (~4.5x mean)
    val codes = ProductQuant.skewedSyntheticCodes(
      spark.range(0, 200).select(col("id").as("vec_id")))
    val hotDir = Files.createTempDirectory("graft_idx_hot").toString + "/idx"
    ProductQuant.writeIndex(codes, hotDir)
    val (c1, o1) = doctorOut(Array("doctor", "--index", hotDir))
    assert(c1 == 1 && o1.contains("hot_list")
      && o1.contains("needs maintenance"), o1)
    // the salted rewrite physically splits ONLY the hot list and the
    // doctor goes green — the audit->action loop from the CLI (r14 #6)
    val okDir = Files.createTempDirectory("graft_idx_ok").toString + "/idx"
    ProductQuant.writeIndex(codes, okDir, hotLists = Seq(0))
    val (c2, o2) = doctorOut(Array("doctor", "--index", okDir))
    assert(c2 == 0 && o2.contains("index layout ok"), o2)
    val audit = ProductQuant.indexLayoutAudit(spark, okDir).collect()
    val hotRow = audit.find(_.getInt(0) == 0).get
    assert(hotRow.getLong(2) > 1L, "hot list did not physically split")
    assert(audit.filter(_.getInt(0) != 0).forall(_.getLong(2) == 1L),
      "a non-hot list lost the 1-file invariant")
    // not an index at all
    val (c3, _) = doctorOut(Array("doctor", "--index", "/no/such/index"))
    assert(c3 == 2)
    // a versioned STORE base resolves to its live generation
    val store = Files.createTempDirectory("graft_idx_store").toString
    ProductQuant.publishIndex(spark, store, codes, hotLists = Seq(0))
    val (c4, o4) = doctorOut(Array("doctor", "--index", store))
    assert(c4 == 0 && o4.contains("live generation v1")
      && o4.contains("index layout ok"), o4)
    // compact --index executes the split_files remedy and re-audits:
    // fragment a healthy layout with a second append, then compact
    val fragDir = Files.createTempDirectory("graft_idx_frag").toString + "/idx"
    val half = ProductQuant.skewedSyntheticCodes(
      spark.range(0, 200).select(col("id").as("vec_id")))
      .filter(col("ccid") =!= 0) // balanced lists only: no hot flag
    ProductQuant.writeIndex(half, fragDir)
    ProductQuant.writeIndex(half, fragDir, mode = "append")
    val (cf, of) = doctorOut(Array("doctor", "--index", fragDir))
    assert(cf == 1 && of.contains("split_files"), of)
    val (cc, oc) = doctorOut(Array("compact", "--index", fragDir))
    assert(cc == 0 && oc.contains("index layout ok"), oc)
    // compaction preserved the doubled row set exactly
    assert(spark.read.parquet(fragDir).count() ==
      half.count() * 2)
  }

  test("publish/prune --index run the store's write and retention from the shell (r15 #2)") {
    val store = Files.createTempDirectory("graft_store_cli").toString
    // prune on an EMPTY store: exit 2, scripts can't mistake a no-op
    // for a healthy prune
    val (ce, _) = doctorOut(Array("prune", "--index", store))
    assert(ce == 2)
    // publish from a missing codes dir: exit 2
    val (cm, _) = doctorOut(
      Array("publish", "--index", store, "/no/such/codes"))
    assert(cm == 2)
    // publish a SKEWED code relation: generation is born salted (the
    // publishStore hot-list derivation), doctor green on the store
    val codes = ProductQuant.skewedSyntheticCodes(
      spark.range(0, 200).select(col("id").as("vec_id")))
    val codesDir = Files.createTempDirectory("graft_codes").toString + "/c"
    codes.write.parquet(codesDir)
    val (c1, o1) = doctorOut(Array("publish", "--index", store, codesDir))
    assert(c1 == 0 && o1.contains("published generation v1"), o1)
    val (cd, od) = doctorOut(Array("doctor", "--index", store))
    assert(cd == 0 && od.contains("live generation v1")
      && od.contains("index layout ok"), od)
    val live = ProductQuant.indexLayoutAudit(spark,
      ProductQuant.currentIndexDir(spark, store)).collect()
    assert(live.find(_.getInt(0) == 0).get.getLong(2) > 1L,
      "published generation was not born salted on the hot list")
    // two more generations, then retention from the shell
    val (c2, o2) = doctorOut(Array("publish", "--index", store, codesDir))
    assert(c2 == 0 && o2.contains("v2"), o2)
    val (c3, _) = doctorOut(Array("publish", "--index", store, codesDir))
    assert(c3 == 0)
    // a retention-violating keep is REFUSED before touching the store
    val (cr, _) = doctorOut(
      Array("prune", "--index", store, "--keep", "0"))
    assert(cr == 2)
    val (cg, _) = doctorOut(
      Array("prune", "--index", store, "--keep", "garbage"))
    assert(cg == 2)
    // healthy prune: v1 goes, live v3 kept, exit 0 and says so
    val (cp, op) = doctorOut(
      Array("prune", "--index", store, "--keep", "2"))
    assert(cp == 0 && op.contains("pruned v1") && op.contains("live v3"), op)
    assert(ProductQuant.currentGeneration(spark, store).map(_._1)
      .contains(3))
    // pruning again with nothing to do stays exit 0 (idempotent)
    val (ci, oi) = doctorOut(Array("prune", "--index", store, "--keep", "2"))
    assert(ci == 0 && oi.contains("nothing to prune"), oi)
    // cross-generation diff from the shell: v2 vs v3 are the same
    // relation, so everything is unchanged; a missing generation is 2
    val (cdf, odf) = doctorOut(Array("diff", "--index", store, "v2", "v3"))
    assert(cdf == 0 && odf.contains("unchanged") &&
      odf.contains("added=0, removed=0, recoded=0"), odf)
    val (cdm, _) = doctorOut(Array("diff", "--index", store, "v2", "v9"))
    assert(cdm == 2)
  }

  test("publish --index --books stands up a probe-able store from the shell; mismatches refuse (r19)") {
    val e = Tables.load(spark, sfDir, "embeddings")
    val d = Similarity.dimOf(e)
    val (coarse, bySub) = ProductQuant.ivfadcQuantizers(e, 16, d)
    // a source generation holding the books — the "copy the sidecar
    // from last night's publish" shape a shell operator actually has
    val src = Files.createTempDirectory("graft_books_src").toString
    ProductQuant.publishIndex(spark, src,
      ProductQuant.ivfadcCodesWith(e, coarse, bySub, d),
      quantizers = Some((coarse, bySub)))
    val srcGen = ProductQuant.currentIndexDir(spark, src)
    val codesDir = Files.createTempDirectory("graft_codes_b").toString + "/c"
    ProductQuant.ivfadcCodesWith(e, coarse, bySub, d)
      .write.parquet(codesDir)
    // bookless publish still works; the doctor names the gap
    val bare = Files.createTempDirectory("graft_store_bare").toString
    val (cb, _) = doctorOut(Array("publish", "--index", bare, codesDir))
    assert(cb == 0)
    val (cbd, obd) = doctorOut(Array("doctor", "--index", bare))
    assert(cbd == 0 && obd.contains("books: ABSENT"), obd)
    // with-books publish: the loaded-books probe accepts the store and
    // returns the same rows as probing the source store
    val store = Files.createTempDirectory("graft_store_books").toString
    val (c1, o1) = doctorOut(
      Array("publish", "--index", store, codesDir, "--books", srcGen))
    assert(c1 == 0 && o1.contains("with books from"), o1)
    def rows(base: String) = ProductQuant.ivfadcProbeStore(e,
        col("vec_id") < 30, 3, base, dim = Some(d))
      .select("query_id", "cand_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val got = rows(store)
    assert(got.nonEmpty && got == rows(src))
    // the `_quantizers` dir itself is accepted as the books operand
    val (c2, _) = doctorOut(Array("publish", "--index", store, codesDir,
      "--books", srcGen + "/_quantizers"))
    assert(c2 == 0)
    // geometry-mismatched codes REFUSE with exit 2 and publish nothing
    // visible (synthetic codes: 4 subspaces, 8-bit code words — both
    // outside the books' m=8/ks=16 contract)
    val badDir = Files.createTempDirectory("graft_codes_bad").toString + "/c"
    ProductQuant.uniformSyntheticCodes(e.select("vec_id"))
      .write.parquet(badDir)
    val store2 = Files.createTempDirectory("graft_store_mm").toString
    val (cm, _) = doctorOut(
      Array("publish", "--index", store2, badDir, "--books", srcGen))
    assert(cm == 2)
    assert(ProductQuant.currentGeneration(spark, store2).isEmpty,
      "a refused publish must leave no visible generation")
  }

  test("publish --books of an OPQ generation carries the rotation; per-vector-incomplete codes refuse (ADVICE r19)") {
    val e = Tables.load(spark, sfDir, "embeddings")
    val d = Similarity.dimOf(e)
    // an opq source store: rotation + rotated-space books + codes
    val src = Files.createTempDirectory("graft_opq_src").toString
    val opq = ProductQuant.Scheme.Opq.learn(e, d, 1)
    val (coarse, bySub) = ProductQuant.ivfadcQuantizers(e, 16, d, opq)
    ProductQuant.publishIndex(spark, src,
      ProductQuant.ivfadcCodesWith(e, coarse, bySub, d, opq),
      quantizers = Some((coarse, bySub)), scheme = opq)
    val srcGen = ProductQuant.currentIndexDir(spark, src)
    val codesDir = Files.createTempDirectory("graft_opq_codes").toString + "/c"
    ProductQuant.ivfadcCodesWith(e, coarse, bySub, d, opq)
      .write.parquet(codesDir)
    // bootstrap from the shell: the rotation must ride the --books
    // forward (ADVICE r19 #2 — a scheme-only forward threw
    // writeQuantizers' half-publish refusal)
    val store = Files.createTempDirectory("graft_opq_boot").toString
    val (gen, _) = ProductQuant.publishStore(spark, store, codesDir,
      booksDir = Some(srcGen))
    assert(gen == 1)
    val meta = ProductQuant.loadQuantizersMeta(spark,
      ProductQuant.currentIndexDir(spark, store))._2
    assert(meta.scheme == opq,
      s"bootstrap dropped or mangled the rotation: $meta")
    // and the opq probe of the bootstrapped store matches the source
    def rows(base: String) = ProductQuant.ivfadcProbeStore(e,
        col("vec_id") < 30, 3, base, dim = Some(d))
      .select("query_id", "cand_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(rows(store).nonEmpty && rows(store) == rows(src))
    // per-vector completeness (ADVICE r19 #3): drop ONE subspace row of
    // one vector — globally every (sub, code) is still in-book, but
    // that vector's ADC would sum m-1 LUT terms; the publish refuses
    val holed = Files.createTempDirectory("graft_opq_holed").toString + "/c"
    val someVec = spark.read.parquet(codesDir)
      .select("vec_id").head().getLong(0)
    spark.read.parquet(codesDir)
      .filter(!(col("vec_id") === someVec && col("sub") === 0))
      .write.parquet(holed)
    val store2 = Files.createTempDirectory("graft_opq_holed_st").toString
    val ex = intercept[IllegalStateException] {
      ProductQuant.publishStore(spark, store2, holed,
        booksDir = Some(srcGen))
    }
    assert(ex.getMessage.contains("distinct subspace"), ex.getMessage)
    assert(ProductQuant.currentGeneration(spark, store2).isEmpty)
  }

  test("doctor --index surfaces the tombstone sidecar; compact is the named remedy (r16 #2)") {
    val store = Files.createTempDirectory("graft_tomb_cli").toString
    val ids = spark.range(0, 200).select(col("id").as("vec_id"))
    ProductQuant.publishIndex(spark, store,
      ProductQuant.uniformSyntheticCodes(ids))
    // no deletes yet: the doctor stays silent about tombstones
    val (c0, o0) = doctorOut(Array("doctor", "--index", store))
    assert(c0 == 0 && !o0.contains("tombstones:"), o0)
    // one delete batch: rows, files, permille of live vectors, remedy
    ProductQuant.writeTombstones(spark, store,
      ids.filter(col("vec_id") % 10 === 0))
    val (c1, o1) = doctorOut(Array("doctor", "--index", store))
    assert(c1 == 0, o1)
    assert(o1.contains("tombstones: 20 ids in 1 file(s)"), o1)
    assert(o1.contains("~100 permille of live vectors"), o1)
    assert(o1.contains("remedy: compact --index"), o1)
    // a second distinct batch stacks a second file — the doctor shows
    // the growth the probe pays for
    ProductQuant.writeTombstones(spark, store,
      ids.filter(col("vec_id") % 10 === 1))
    val (_, o2) = doctorOut(Array("doctor", "--index", store))
    assert(o2.contains("tombstones: 40 ids in 2 file(s)"), o2)
    // the named remedy: compaction applies the deletes physically,
    // folds the sidecar to one file (ids survive — the dirty v1 is
    // still retained), and the re-audit reprices the permille against
    // the CLEANED live generation (40 of 160)
    val (c3, o3) = doctorOut(Array("compact", "--index", store))
    assert(c3 == 0, o3)
    assert(o3.contains("tombstones: 40 ids in 1 file(s)"), o3)
    // the fold published a versioned sidecar generation (r20) and the
    // doctor names it
    assert(o3.contains("fold v1"), o3)
    assert(o3.contains("~250 permille of live vectors"), o3)
    // once retention drops the dirty generation, the next compaction's
    // GC removes the sidecar outright — the doctor goes silent again
    val (cp, _) = doctorOut(
      Array("prune", "--index", store, "--keep", "1"))
    assert(cp == 0)
    val (c4, o4) = doctorOut(Array("compact", "--index", store))
    assert(c4 == 0 && !o4.contains("tombstones:"), o4)
    // an interrupted GC (sidecar parked at .gc_old) flips the doctor
    // to exit 1 even over a clean layout — a health check scripted on
    // the exit code must not report healthy on a store whose every
    // probe refuses (round-17 review-2 #3); compaction recovers
    ProductQuant.writeTombstones(spark, store,
      ids.filter(col("vec_id") % 10 === 2))
    val fs = new org.apache.hadoop.fs.Path(store).getFileSystem(
      spark.sessionState.newHadoopConf())
    val p = new org.apache.hadoop.fs.Path(
      store + "/" + ProductQuant.TombstoneDir)
    assert(fs.rename(p,
      new org.apache.hadoop.fs.Path(p.toString + ".gc_old")))
    val (c5, o5) = doctorOut(Array("doctor", "--index", store))
    assert(c5 == 1 && o5.contains("tombstones: INCONSISTENT"), o5)
    assert(o5.contains("compact --index"), o5)
    val (c6, o6) = doctorOut(Array("compact", "--index", store))
    assert(c6 == 0 && o6.contains("tombstones: 20 ids in 1 file(s)"), o6)
  }

  test("retrain --index executes the past-clamp remedy the doctor names (r17)") {
    // the ProductQuantSpec boundary corpus, written to parquet as the
    // CLI's corpus argument: 2000 vectors whose collapsed plant puts
    // list 0 at ~150x the nonempty-list mean — past the 128x clamp
    val corpus = spark.range(0, 2000).select(col("id").as("vec_id"),
      org.apache.spark.sql.functions.expr(
        "transform(sequence(0, 7), i -> cast(cast((id * 31 + i * 17) " +
          "% 97 as double) / 97.0 - 0.5 as float))").as("embedding"))
    val corpusDir =
      Files.createTempDirectory("graft_corpus").toString + "/emb"
    corpus.write.parquet(corpusDir)
    val store = Files.createTempDirectory("graft_retrain_cli").toString
    ProductQuant.publishIndex(spark, store,
      ProductQuant.collapsedSyntheticCodes(corpus))
    // the doctor flags the collapse, names retrain for the past-clamp
    // list (a salted rewrite mathematically cannot clear it), and
    // reports the store as bookless
    val (c1, o1) = doctorOut(Array("doctor", "--index", store))
    assert(c1 == 1 && o1.contains("hot_list"), o1)
    assert(o1.contains("past the salt clamp"), o1)
    assert(o1.contains("retrain --index"), o1)
    assert(o1.contains("books: ABSENT"), o1)
    // the verb: retrain, re-list, publish, re-audit — green now
    val (c2, o2) = doctorOut(
      Array("retrain", "--index", store, corpusDir))
    assert(c2 == 0, o2)
    assert(o2.contains("retrained coarse quantizer: v1 re-listed as v2"),
      o2)
    assert(o2.contains("index layout ok"), o2)
    // unreadable corpus: exit 2, store untouched
    val (c3, _) = doctorOut(
      Array("retrain", "--index", store, "/no/such/corpus"))
    assert(c3 == 2)
    assert(ProductQuant.currentGeneration(spark, store).map(_._1)
      .contains(2))
  }

  test("doctor --index --json emits one parseable object with text-doctor exit parity (r18)") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    // each state: JSON exit == text exit (pinned parity — the two arms
    // must not drift), and the parsed object carries the named fields
    def dj(dir: String): (Int, JValue) = {
      val (cj, oj) = doctorOut(Array("doctor", "--index", dir, "--json"))
      val (ct, _) = doctorOut(Array("doctor", "--index", dir))
      assert(cj == ct, s"json exit $cj != text exit $ct for $dir")
      assert(oj.trim.linesIterator.size == 1, oj)
      (cj, JsonMethods.parse(oj.trim))
    }
    val e = Tables.load(spark, sfDir, "embeddings")
    val d = Similarity.dimOf(e)
    // 1) healthy flat store with books and one delete batch
    val store = Files.createTempDirectory("graft_djson").toString
    val (coarse, bySub) = ProductQuant.ivfadcQuantizers(e, 16, d)
    ProductQuant.publishIndex(spark, store,
      ProductQuant.ivfadcCodesWith(e, coarse, bySub, d),
      quantizers = Some((coarse, bySub)))
    ProductQuant.writeTombstones(spark, store,
      e.filter(col("vec_id") % 50 === 0).select("vec_id"))
    val (c1, j1) = dj(store)
    assert(c1 == 0)
    assert((j1 \ "store") == JBool(true))
    assert((j1 \ "generation") == JInt(1))
    assert((j1 \ "books" \ "status") == JString("present"))
    assert((j1 \ "books" \ "scheme") == JString("flat"))
    assert((j1 \ "tombstones" \ "files") == JInt(1))
    // versioned-sidecar layout (r20): pre-fold = one loose append,
    // no fold version yet
    assert((j1 \ "tombstones" \ "fold_version") == JNull)
    assert((j1 \ "tombstones" \ "loose_files") == JInt(1))
    assert((j1 \ "lists").children.nonEmpty)
    assert((j1 \ "exit") == JInt(0))
    // 2) a hot-list layout exits 1 in both arms; past_clamp names the
    // collapsed list
    val hot = Files.createTempDirectory("graft_djson_hot").toString
    val big = spark.range(0, 2000).select(col("id").as("vec_id"),
      org.apache.spark.sql.functions.expr(
        "transform(sequence(0, 7), i -> cast(cast((id * 31 + i * 17) " +
          "% 97 as double) / 97.0 - 0.5 as float))").as("embedding"))
    ProductQuant.publishIndex(spark, hot,
      ProductQuant.collapsedSyntheticCodes(big))
    val (c2, j2) = dj(hot)
    assert(c2 == 1)
    assert((j2 \ "books" \ "status") == JString("absent"))
    assert((j2 \ "past_clamp").children.contains(JInt(0)))
    // 3) a CORRUPT quantizer sidecar reads as unreadable, exit 1
    import spark.implicits._
    Seq(1).toDF("x").write.mode("overwrite").parquet(
      ProductQuant.currentIndexDir(spark, store) + "/" +
        ProductQuant.QuantizerDir)
    val (c3, j3) = dj(store)
    assert(c3 == 1)
    assert((j3 \ "books" \ "status") == JString("unreadable"))
    // 4) not an index at all: exit 2 with a one-line error field
    val bogus = Files.createTempDirectory("graft_djson_bogus").toString
    val (c4, j4) = dj(bogus)
    assert(c4 == 2)
    assert((j4 \ "error").isInstanceOf[JString])
  }

  test("doctor --index surfaces the writer lease: absent, active, and stale (r19)") {
    val store = Files.createTempDirectory("graft_lease_doc").toString
    val codes = ProductQuant.skewedSyntheticCodes(
      spark.range(0, 200).select(col("id").as("vec_id")))
    ProductQuant.publishIndex(spark, store, codes, hotLists = Seq(0))
    // healthy store: no lease line in text, null in JSON
    val (c0, o0) = doctorOut(Array("doctor", "--index", store))
    assert(c0 == 0 && !o0.contains("lease:"), o0)
    val (cj0, oj0) = doctorOut(Array("doctor", "--index", store, "--json"))
    assert(cj0 == 0 && oj0.contains("\"lease\":null"), oj0)
    // a planted FRESH foreign lease reports holder + op, exit
    // unchanged (a lease never blocks readers)
    val fs = new org.apache.hadoop.fs.Path(store).getFileSystem(
      spark.sessionState.newHadoopConf())
    val lease = new org.apache.hadoop.fs.Path(store,
      graft.operators.StoreLease.LeaseName)
    val out = fs.create(lease, true)
    out.write(s"777@otherhost#3 retrain ${System.currentTimeMillis()}\n"
      .getBytes("UTF-8"))
    out.close()
    val (c1, o1) = doctorOut(Array("doctor", "--index", store))
    assert(c1 == 0 && o1.contains("777@otherhost#3")
      && o1.contains("retrain") && o1.contains("writer is active"), o1)
    val (cj1, oj1) = doctorOut(Array("doctor", "--index", store, "--json"))
    assert(cj1 == 0 && oj1.contains("\"holder\":\"777@otherhost#3\"")
      && oj1.contains("\"op\":\"retrain\"")
      && oj1.contains("\"stale\":false"), oj1)
    // a STALE lease is flagged with the reclaim rule named
    fs.setTimes(lease, System.currentTimeMillis() -
      graft.operators.StoreLease.staleMillis - 60000L, -1)
    val (c2, o2) = doctorOut(Array("doctor", "--index", store))
    assert(c2 == 0 && o2.contains("lease: STALE")
      && o2.contains("the next mutation reclaims it"), o2)
    val (cj2, oj2) = doctorOut(Array("doctor", "--index", store, "--json"))
    assert(cj2 == 0 && oj2.contains("\"stale\":true"), oj2)
  }

  test("the store writer lease refuses a live second mutator, reclaims stale/dead ones, and never blocks readers (r18)") {
    val ids = spark.range(0, 200).select(col("id").as("vec_id"))
    val store = Files.createTempDirectory("graft_lease").toString
    ProductQuant.publishIndex(spark, store,
      ProductQuant.uniformSyntheticCodes(ids))
    val fs = new org.apache.hadoop.fs.Path(store).getFileSystem(
      spark.sessionState.newHadoopConf())
    val lease = new org.apache.hadoop.fs.Path(store,
      graft.operators.StoreLease.LeaseName)
    def plant(id: String): Unit = {
      val out = fs.create(lease, true)
      out.write(s"$id publish ${System.currentTimeMillis()}\n"
        .getBytes("UTF-8"))
      out.close()
    }
    val host = java.net.InetAddress.getLocalHost.getHostName
    // a LIVE foreign writer (pid 1 — alive wherever /proc is visible):
    // every mutation verb refuses, naming the holder
    plant(s"1@$host")
    val refusal = intercept[IllegalStateException] {
      ProductQuant.writeTombstones(spark, store,
        ids.filter(col("vec_id") === 1))
    }
    assert(refusal.getMessage.contains(s"1@$host"), refusal.getMessage)
    assert(Cli.run(Array("compact", "--index", store), spark) == 2)
    // pure READERS never touch the lease: resolve + scan + doctor all
    // run under the foreign holder
    assert(spark.read.parquet(
      ProductQuant.currentIndexDir(spark, store)).count() > 0)
    assert(Cli.run(Array("doctor", "--index", store), spark) == 0)
    // a DEAD holder on this host reclaims immediately (the ps-liveness
    // half of the reference's PID-lock check)
    plant(s"999999999@$host")
    ProductQuant.writeTombstones(spark, store,
      ids.filter(col("vec_id") === 2))
    assert(ProductQuant.tombstones(spark, store).get.count() == 1)
    // ...and the lease releases when the mutation finishes
    assert(!fs.exists(lease))
    // a STALE lease (older than the TTL, holder liveness unknowable
    // from here) reclaims too — a crashed writer cannot brick the store
    plant(s"1@$host")
    fs.setTimes(lease, System.currentTimeMillis() -
      graft.operators.StoreLease.StaleMillis - 60000L, -1)
    val (g1, g2) = ProductQuant.compactStore(spark, store)
    assert(g2 == g1 + 1)
    assert(!fs.exists(lease))
  }

  test("doctor maps each README failure class to a distinct check") {
    val out = Files.createTempDirectory("graft_doc").toString
    // class 1 — connection refused: source does not exist
    val (c1, o1) = doctorOut(Array("doctor", confWith(out), "/no/such/src"))
    assert(c1 == 1 && o1.contains("FAIL source reachable")
      && o1.contains("can't connect"))
    // class 2 — access denied: reachable but expected tables unreadable
    val emptyDir = Files.createTempDirectory("graft_nodata").toString
    val (c2, o2) = doctorOut(Array("doctor", confWith(out), emptyDir))
    assert(c2 == 1 && o2.contains("PASS source reachable")
      && o2.contains("FAIL source access") && o2.contains("access denied"))
    // class 3 — wrong catalog: check_sql does not bind
    val badSql = confWith(out, Some(
      "SELECT schema_name, table_name FROM no_such_catalog"))
    val (c3, o3) = doctorOut(Array("doctor", badSql, sfDir))
    assert(c3 == 1 && o3.contains("FAIL catalog query (check_sql)"))
    // class 4 — empty result: legal, WARN only, exit 0
    val narrow = confWith(out, Some(
      "SELECT schema_name, table_name FROM graft_manifest WHERE " +
        "table_rows > 999999999999"))
    val (c4, o4) = doctorOut(Array("doctor", narrow, sfDir))
    assert(c4 == 0 && o4.contains("WARN discovery matched no tables"))
    // class 0 — malformed config
    val junk = Files.createTempFile("graft_junk", ".toml")
    Files.writeString(junk, "not_a_key_anyone_needs = 1\n")
    val (c0, o0) = doctorOut(Array("doctor", junk.toString, sfDir))
    assert(c0 == 1 && o0.contains("FAIL config parses"))
  }
}
