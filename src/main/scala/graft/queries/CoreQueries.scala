package graft.queries

import graft.Tables
import graft.functions.Canonical
import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** Core comparison-engine queries (SURVEY.md §2.1-2.9) with DuckDB oracles.
  *
  * Every query name appears in both [[queries]] and (where SQL-expressible)
  * [[oracle]]; the driver hash-compares the two result sets.
  *
  * PK-keyed comparison runs on `orders` (o_orderkey is dense-unique);
  * `lineitem` — whose fixture (l_orderkey, l_linenumber) is NOT unique —
  * exercises the chunk-checksum and keyless multiset paths.
  */
object CoreQueries {
  import Oracle._

  val ordSpec: TableDiff.DiffSpec = TableDiff.DiffSpec(
    pkCols = Seq("o_orderkey"), chunkBy = "o_orderkey", chunkWidth = 500)
  val liSpec: TableDiff.DiffSpec = TableDiff.DiffSpec(
    pkCols = Seq("l_orderkey", "l_linenumber"),
    chunkBy = "l_orderkey", chunkWidth = 500)

  private def li(s: SparkSession, dir: String) = Tables.load(s, dir, "lineitem")
  private def ord(s: SparkSession, dir: String) = Tables.load(s, dir, "orders")

  private def dec(c: Column) = c.cast("decimal(18,2)")

  private def rowDiffDf(s: SparkSession, dir: String): DataFrame =
    TableDiff.rowDiff(ord(s, dir), Perturb.ordersDownstream(ord(s, dir)), ordSpec)

  /** The compare pipeline over two explicit tasks — orders keyed,
    * lineitem keyless — against the Perturb downstreams: one
    * chunk/fingerprint-level aggregation per table
    * ([[TableDiff.summary]] / [[HashDiff.summary]]), the two tables run
    * concurrently, as a production compare runs them.
    */
  private def compareReport(s: SparkSession, dir: String): DataFrame =
    Report.withTotal(Report.toDF(s, Orchestrate.compareTaskReports(s, dir,
      Seq(Orchestrate.Task("main", "orders", Some(ordSpec), structOnly = false),
        Orchestrate.Task("main", "lineitem", None, structOnly = false)),
      (t, up) => if (t == "orders") Perturb.ordersDownstream(up)
        else Perturb.lineitemDownstream(up), 2)))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "discover_tables" -> ((s, dir) =>
      Discover.discover(s, dir, Discover.defaultCheckSql(5000)).orderBy("table_name")),

    "config_render" -> ((s, dir) =>
      Discover.discover(s, dir, Discover.defaultCheckSql(5000))
        .withColumn("config_text", format_string(
          "[data-sources.master]\nsnapshot = \"auto\"\n[task]\ntarget-check-tables = [\"%s.%s\"]\nchunk-size = 500\noutput-dir = \"./output/%s_run1\"",
          col("schema_name"), col("table_name"), col("table_name")))
        .orderBy("table_name")),

    // The full §3.1 orchestration lifecycle as ONE oracle-checked relation
    // (VERDICT r04 next #8): discover (check_sql over the manifest) ->
    // per-table structure check -> data stage (routed by
    // Orchestrate.task: keyed on a single-column key, keyless multiset
    // elsewhere) -> merged report with the TOTAL tallies. Downstream =
    // perturbed orders (the keyed path goes "diff"), identity elsewhere —
    // the deterministic verdict mix the exit-code spec asserts on.
    "run_all_report" -> ((s, dir) =>
      Orchestrate.runAll(s, dir, Discover.defaultCheckSql(5000),
        downstream = (t, up) =>
          if (t == "orders") Perturb.ordersDownstream(up) else up,
        chunkWidth = ordSpec.chunkWidth,
        // reference-style table-level concurrency (config.toml:20) — C2
        // exercised under the oracle, and Future.sequence keeps report
        // order deterministic
        tableParallelism = 3)),

    // Cross-table referential-integrity audit: orphaned children per FK
    // edge. The fixture is internally consistent, so one check runs
    // against a parent with simulated partial loss (every 50th order
    // dropped) to prove the audit actually detects orphans.
    "ri_audit" -> ((s, dir) => {
      val liT = li(s, dir); val ordT = ord(s, dir)
      val cust = Tables.load(s, dir, "customer")
      val nat = Tables.load(s, dir, "nation")
      val supp = Tables.load(s, dir, "supplier")
      Integrity.audit(Seq(
        Integrity.check("customer->nation", cust, nat,
          Seq("c_nationkey" -> "n_nationkey")),
        Integrity.check("lineitem->orders", liT, ordT,
          Seq("l_orderkey" -> "o_orderkey")),
        Integrity.check("lineitem->orders_partial", liT,
          ordT.filter(col("o_orderkey") % 50 =!= 0),
          Seq("l_orderkey" -> "o_orderkey")),
        Integrity.check("orders->customer", ordT, cust,
          Seq("o_custkey" -> "c_custkey")),
        Integrity.check("supplier->nation", supp, nat,
          Seq("s_nationkey" -> "n_nationkey"))))
        .orderBy("check_name")
    }),

    "chunk_checksum" -> ((s, dir) =>
      TableDiff.chunkChecksums(li(s, dir), liSpec).orderBy("chunk_id")),

    // SURVEY §2.5 A1 CRC-compat mode: per-chunk BIT_XOR(CRC32(serial)) —
    // sync_diff_inspector's published checksum construction, so a user
    // migrating off the reference can cross-validate chunk checksums
    // against a live TiDB/MySQL byte for byte. The money double pre-casts
    // to the MySQL column's DECIMAL(18,2) scale (server float formatting
    // is the one render no other engine can reproduce bit-for-bit). The
    // oracle reimplements CRC32 in pure SQL (Oracle.crcSql).
    "chunk_checksum_crc" -> ((s, dir) =>
      TableDiff.chunkChecksums(
        ord(s, dir).withColumn("o_totalprice", dec(col("o_totalprice"))),
        ordSpec.copy(crcCompat = true)).orderBy("chunk_id")),

    "diff_chunks" -> ((s, dir) =>
      TableDiff.badChunks(ord(s, dir), Perturb.ordersDownstream(ord(s, dir)), ordSpec)
        .orderBy("chunk_id")),

    "row_diff" -> ((s, dir) => rowDiffDf(s, dir).orderBy("o_orderkey")),

    // Same comparison under hash-bucket chunking (composite/non-numeric
    // PK fallback, SURVEY.md §7.4) — the diff must be chunking-invariant,
    // so the oracle is row_diff's. Buckets ≫ drifted rows (~200 at
    // sf0.1), so most buckets stay clean and the phase-2 semi-join
    // actually prunes (VERDICT r03 #2 — 64 buckets degenerated to a
    // flat join with pure phase-1 overhead).
    "row_diff_hashchunk" -> ((s, dir) =>
      TableDiff.rowDiff(ord(s, dir), Perturb.ordersDownstream(ord(s, dir)),
        ordSpec.copy(hashBuckets = Some(4096))).orderBy("o_orderkey")),

    // The fix-SQL round-trip property AS an oracle (S10's reason to
    // exist): apply Repair to the drifted downstream using the row diff,
    // and the result must equal the upstream bit for bit — so the oracle
    // is simply the canonical projection of `orders` itself. Both repair
    // joins key on the drift-bounded diff relation and broadcast against
    // the (at scale, 100 TB) downstream.
    "repair_roundtrip" -> ((s, dir) => {
      val up = ord(s, dir)
      val down = Perturb.ordersDownstream(up)
      val rd = TableDiff.rowDiff(up, down, ordSpec)
      Repair.repair(down, up, rd, ordSpec.pkCols)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          round(col("o_totalprice") * 100).cast("long").as("price_cents"),
          Canonical.epochMs(col("o_orderdate")).as("o_orderdate_ms"),
          col("o_orderpriority"))
        .orderBy("o_orderkey")
    }),

    // P6 `range` — the reference's user-facing row restriction applied to
    // BOTH sides before chunking/diffing (`my_database_users.toml:46`).
    "row_diff_range" -> ((s, dir) =>
      TableDiff.rowDiff(ord(s, dir), Perturb.ordersDownstream(ord(s, dir)),
        ordSpec.copy(range = "o_orderkey % 2 = 0")).orderBy("o_orderkey")),

    // S3/S7/F12 round-trip: write reference-shaped summary.txt artifacts
    // (two runs per table, timestamp-style run ids), then ingest them
    // back — latest-run selection + verdict/row parse must reproduce the
    // newest run exactly (`step3_run_syncdiff.sh:157-218`).
    "summary_roundtrip" -> ((s, dir) => {
      val base = graft.Scratch.dir("graft_summaries_")
      ReportIngest.writeSummaries(Seq(
        Report.TableReport("users", "ok", "ok", 900L, 900L),
        Report.TableReport("audit_log", "ok", "diff", 400L, 395L)),
        base, "20240101_120000")
      ReportIngest.writeSummaries(Seq(
        Report.TableReport("users", "ok", "diff", 1000L, 998L),
        Report.TableReport("audit_log", "diff", "ok", 420L, 420L)),
        base, "20240105_093000")
      // P9 numeric guards: a foreign tool's artifact with junk counts
      // must ingest as NULLs, not crash or mis-parse
      val corrupt = java.nio.file.Paths.get(base, "corrupt_counts_20240105_093000")
      java.nio.file.Files.createDirectories(corrupt)
      java.nio.file.Files.writeString(corrupt.resolve("summary.txt"),
        "The upstream and downstream tables are different\n" +
          "`corrupt_counts` | ok | NaN | twelve\n")
      ReportIngest.ingestSummaries(s, base).orderBy("table_name")
    }),

    // S3: the step1->step2 TSV handoff round-trip — write the discovery
    // result as a TSV artifact, inject a client-warning leakage line (as
    // real mysql-client output contains), read it back with warning
    // lines dropped. Oracle = the discovery relation itself.
    "table_list_roundtrip" -> ((s, dir) => {
      val base = graft.Scratch.dir("graft_tablelist_")
      ReportIngest.writeTableList(
        Discover.discover(s, dir, Discover.defaultCheckSql(5000)), base)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(base, "part-warning.csv"),
        "mysql: [Warning] Using a password on the command line interface can be insecure.\n")
      ReportIngest.readTableList(s, base).orderBy("table_name")
    }),

    // S2+F1: typed parse of the reference config surface — flat TOML
    // subset, base64 password decode, plaintext fallback, defaulted
    // thread_count. Oracle is the independently-known expected record.
    "config_parse" -> ((s, dir) => {
      import s.implicits._
      val b64 = java.util.Base64.getEncoder
        .encodeToString("s3cret!".getBytes("UTF-8"))
      val toml =
        s"""# engine config
           |[sources]
           |master_ip = "10.0.0.1"
           |master_port = 4000
           |master_user = "root"
           |master_password = "$b64"
           |slave_ip = "10.0.0.2"
           |slave_port = 3306
           |slave_user = "reader"
           |slave_password = "plain*pw"
           |check_sql = "SELECT schema_name, table_name FROM graft_manifest"
           |chunk_size = 4096
           |output_dir = "/tmp/out"
           |""".stripMargin
      val c = graft.conf.EngineConf.parse(toml)
      Seq((c.master.host, c.master.port, c.master.user, c.master.password,
        c.slave.user, c.slave.password, c.threadCount, c.chunkSize, c.outputDir))
        .toDF("m_host", "m_port", "m_user", "m_password",
          "s_user", "s_password", "thread_count", "chunk_size", "output_dir")
    }),

    // S9: leveled run-log round-trip — render reference-format
    // `[ts] [LEVEL] msg` lines, append a foreign noise line, parse the
    // file back into the typed relation. Oracle is the original events.
    "runlog_roundtrip" -> ((s, dir) => {
      val log = new EventLog
      log.log("INFO", "discovery started", 1704103200000L)
      log.log("WARN", "table skipped: no pk", 1704103260000L)
      log.log("ERROR", "compare failed: orders", 1704103320000L)
      val f = graft.Scratch.file("graft_runlog", ".log")
      log.writeTo(f)
      java.nio.file.Files.writeString(f, "not a log line\n",
        java.nio.file.StandardOpenOption.APPEND)
      EventLog.read(s, f.toString)
        .select(Canonical.epochMs(col("ts")).as("ts_ms"), col("level"), col("message"))
        .orderBy("ts_ms")
    }),

    // F13/A6/A7: the ASCII report line + unit-scaled totals as a
    // relation — printf-style formatting must match the oracle's printf
    // exactly (field widths, alignment, integer-division M scaling).
    "report_lines" -> ((s, dir) =>
      compareReport(s, dir)
        .withColumn("line", format_string(
          "| %-24s | %-9s | %-7s | %10d | %10d |",
          col("table_name"), col("structure"), col("data_result"),
          col("upcount"), col("downcount")))
        .withColumn("scaled", format_string("up %dM down %dM",
          expr("upcount div 1000000"), expr("downcount div 1000000")))
        .select("table_name", "line", "scaled")
        .orderBy(when(col("table_name") === "TOTAL", 1).otherwise(0),
          col("table_name"))),

    // F1/F2: base64 password decode with verbatim fallback
    // (`step1_query_tables.sh:30-48`) — CLUSTERED rows carry valid
    // base64, the rest a '*'-bearing plaintext no decoder accepts; the
    // oracle derives the expected plaintext independently. Pure built-in
    // expression (the SURVEY F1 mapping): a strict base64 shape guard,
    // then a printable-ASCII guard on the DECODED BYTES (checked on
    // hex() so `decode` never sees malformed UTF-8 under ANSI mode) —
    // exactly EngineConf.decodePassword's Try + printable filter, which
    // stays driver-side for conf parsing only.
    "config_b64" -> ((s, dir) => {
      val raw = col("raw_password")
      val bin = unbase64(trim(raw))
      // Tail alternatives mirror the strict decoder exactly (ADVICE
      // r13): canonical padding ({2}== / {3}=) or BARE {2}/{3} tails
      // (java.util.Base64 decodes unpadded tails), and nothing else —
      // the earlier `==?`/`=?` form accepted a mal-padded "xx=" the
      // strict decoder throws on while rejecting the bare "xx" it
      // accepts.
      val looksB64 = trim(raw).rlike(
        "^(?:[A-Za-z0-9+/]{4})*(?:[A-Za-z0-9+/]{2}(?:==)?|[A-Za-z0-9+/]{3}=?)?$")
      // bytes 0x20-0x7E, i.e. decodePassword's (c >= ' ' && c < 127)
      val printable = hex(bin).rlike("^(?:2[0-9A-F]|[3-6][0-9A-F]|7[0-9A-E])*$")
      Discover.manifest(s, dir)
        .withColumn("raw_password",
          when(col("pk_kind") === "CLUSTERED",
            base64(encode(concat(lit("secret_"), col("table_name")), "UTF-8")))
            .otherwise(concat(lit("plain*"), col("table_name"))))
        .withColumn("password",
          when(looksB64 && printable, decode(bin, "UTF-8")).otherwise(raw))
        .select("table_name", "raw_password", "password")
        .orderBy("table_name")
    }),

    "fix_sql" -> ((s, dir) =>
      FixSql.fromRowDiff(rowDiffDf(s, dir), "orders", ordSpec.pkCols)
        .orderBy("o_orderkey")),

    "hashdiff_lineitem" -> ((s, dir) =>
      HashDiff.diff(li(s, dir), Perturb.lineitemDownstream(li(s, dir)))
        .orderBy("row_fp")),

    "q1_pricing_summary" -> ((s, dir) =>
      li(s, dir).groupBy("l_returnflag", "l_linestatus").agg(
        count(lit(1)).as("count_order"),
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum((dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
          .cast("decimal(30,4)")).cast("double").as("sum_disc_price"),
        (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"))
        .orderBy("l_returnflag", "l_linestatus")),

    "compare_report" -> ((s, dir) => compareReport(s, dir)),

    // Full CUBE over (status, priority): all four aggregation levels in
    // ONE shuffle — Spark expands the grouping sets before the exchange
    // (the 2-D completion of events_rollup's hierarchy). Keys coalesce
    // to 'ALL' sentinels; the level is the ANSI grouping_id bitmask.
    "orders_cube" -> ((s, dir) =>
      ord(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().cast("int").as("gid"),
          count(lit(1)).as("cnt"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status_k"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority_k"),
          col("gid"), col("cnt"), col("cents"))
        .orderBy("gid", "status_k", "priority_k")),

    // Star-schema enrichment: fact orders through the customer→nation→
    // region dim chain, revenue per (region, priority). Every dim side is
    // an explicit broadcast — at 100 TB the fact table NEVER shuffles for
    // dimension attachment (the 1000-executor plan is three BHJs inside
    // one whole-stage-codegen span, then one partial-agg exchange).
    "star_join_revenue" -> ((s, dir) => {
      val o = ord(s, dir)
      val c = Tables.load(s, dir, "customer").select("c_custkey", "c_nationkey")
      val n = Tables.load(s, dir, "nation").select("n_nationkey", "n_regionkey")
      val r = Tables.load(s, dir, "region").select("r_regionkey", "r_name")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice")).cast("decimal(30,2)")).cast("double")
            .as("revenue"))
        .orderBy("r_name", "o_orderpriority")
    }),

    // One-pass table profile: per-column null/distinct/min/max over orders
    // — the data-derived ANALYZE pass feeding discovery + chunk sizing.
    "profile_orders" -> ((s, dir) =>
      Profile.profile(ord(s, dir)).orderBy("col_name")),

    // Bucketed co-located join: orders ⋈ per-order lineitem revenue over
    // tables persisted bucketed+sorted on the join key — the plan carries
    // ZERO exchanges (asserted by BucketingSpec), the shape a nightly
    // re-compare wants at 100 TB.
    "bucketed_join" -> ((s, dir) =>
      graft.sources.Bucketing.colocatedRevenue(ord(s, dir), li(s, dir))
        .orderBy("o_orderkey")),

    "struct_diff" -> ((s, dir) => {
      val a = li(s, dir).schema
      val b = StructType(
        a.fields.filterNot(_.name == "l_tax")
          .map(f => if (f.name == "l_quantity") f.copy(dataType = StringType) else f)
          :+ StructField("l_comment", StringType, nullable = true))
      StructDiff.toDF(s, StructDiff.diff(a, b)).orderBy("field")
    }),

    // Bipartite HITS authorities over the customer-supplier link graph
    // (Graph scaladoc): which suppliers accumulate the most weight from
    // well-connected customers — the "domain authority" curation signal,
    // integer-exact so the SCORES oracle-compare bit for bit.
    "hits_authority" -> ((s, dir) => {
      val edges = li(s, dir).select(col("l_orderkey"), col("l_suppkey"))
        .join(ord(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
      Graph.hitsAuthorities(edges, "o_custkey", "l_suppkey",
        rounds = 2, k = 10)
    }),

    // Pivot→unpivot ROUND-TRIP: orders counts cross-tabbed to a wide
    // (status × priority) matrix with an EXPLICIT pivot column list (an
    // open-ended pivot needs a values-discovery pass — at 100 TB that's
    // a full extra scan, so the contract pins the domain), then melted
    // back to long form. The oracle is the plain long-form aggregate:
    // equality proves BOTH reshapes lossless, including the zero-fill
    // cells pivot invents and the round-trip must drop.
    "pivot_roundtrip" -> ((s, dir) => {
      val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")
      val wide = ord(s, dir)
        .groupBy("o_orderstatus")
        .pivot("o_orderpriority", prios)
        .agg(count(lit(1)))
      val long = wide.unpivot(
        Array(col("o_orderstatus")),
        prios.map(col).toArray, "o_orderpriority", "n_orders")
      long.filter(col("n_orders").isNotNull && col("n_orders") > 0)
        .orderBy("o_orderstatus", "o_orderpriority")
    }),

    // Percent-of-parent: each nation's revenue share of its region in
    // integer permille — the two-level rollup + broadcast-back shape
    // every BI drilldown uses. The orders⋈customer join is the only
    // large exchange; nation/region dims and the region totals (both
    // bounded) broadcast.
    "share_of_region" -> ((s, dir) => {
      val cents = round(col("o_totalprice") * 100).cast("long")
      val nat = Tables.load(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      val reg = Tables.load(s, dir, "region")
        .select(col("r_regionkey"), col("r_name"))
      val perNation = ord(s, dir)
        .join(Tables.load(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_nationkey").agg(sum(cents).as("nation_cents"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      val perRegion = perNation.groupBy("r_name")
        .agg(sum("nation_cents").as("region_cents"))
      perNation.join(broadcast(perRegion), "r_name")
        .select(col("r_name"), col("n_name"), col("nation_cents"),
          col("region_cents"),
          expr("nation_cents * 1000 div region_cents").as("share_permille"))
        .orderBy("r_name", "n_name")
    }),

    // ABC (Pareto-class) inventory analysis per nation: suppliers sorted
    // by account balance, cumulative share in integer permille, classed
    // A (first 70%), B (to 90%), C (tail). One window PER NATION — the
    // partitioned prefix-sum shape; totals broadcast back.
    "supplier_abc" -> ((s, dir) => {
      val sup = Tables.load(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"),
          round(col("s_acctbal") * 100).cast("long").as("bal_cents"))
        // classic ABC ranks non-negative value only: a negative balance
        // in the running share would let the cumulative permille fall
        // back across class boundaries (late rows re-entering "A")
        .filter(col("bal_cents") >= 0)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("s_nationkey")
        .orderBy(col("bal_cents").desc, col("s_suppkey"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val tot = sup.groupBy("s_nationkey")
        .agg(sum("bal_cents").as("nation_cents"))
      sup.withColumn("cum_cents", sum("bal_cents").over(w))
        .join(broadcast(tot), "s_nationkey")
        .withColumn("cum_permille",
          expr("cum_cents * 1000 div nation_cents"))
        .withColumn("abc_class",
          when(col("cum_permille") <= 700, lit("A"))
            .when(col("cum_permille") <= 900, lit("B"))
            .otherwise(lit("C")))
        .select("s_nationkey", "s_suppkey", "bal_cents", "cum_permille",
          "abc_class")
        .orderBy("s_nationkey", "s_suppkey")
    }),

    // Exact per-group simple OLS regression — slope/intercept of
    // extendedprice-cents on quantity, in micro units with NO float
    // anywhere: slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) evaluated as ONE
    // floor division of two DECIMAL(38,0) cross-products (the pmi
    // precedent; int64 wraps silently at ~1e12-row groups), intercept
    // from the already-floored slope so both engines share the exact
    // same rounding path. One aggregation pass per group — the sums are
    // classic map-side partials; nothing corpus-global.
    "price_regression" -> ((s, dir) => {
      val base = li(s, dir).select(col("l_returnflag"),
        col("l_quantity").cast("long").as("x"),
        round(col("l_extendedprice") * 100).cast("long").as("y"))
      base.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(x AS DECIMAL(38,0))")).as("sx"),
          sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
        .withColumn("slope_micro", expr(
          "CAST(((n * sxy - sx * sy) * 1000000) div " +
            "(n * sxx - sx * sx) AS BIGINT)"))
        .withColumn("intercept_micro", expr(
          "CAST((sy * 1000000 - slope_micro * sx) div n AS BIGINT)"))
        .select("l_returnflag", "n", "slope_micro", "intercept_micro")
        .orderBy("l_returnflag")
    }),

    // 2-D Pareto skyline (Skyline scaladoc): orders no other order beats
    // on BOTH recency and value — per-date summary + suffix-max window
    // over the summary, no O(n^2) self-join.
    "orders_skyline" -> ((s, dir) => {
      val o = ord(s, dir).select(col("o_orderkey"),
        Canonical.epochMs(col("o_orderdate")).as("date_ms"),
        round(col("o_totalprice") * 100).cast("long").as("price_cents"))
      Skyline.pareto2D(o, "date_ms", "price_cents")
        .select("o_orderkey", "date_ms", "price_cents")
        .orderBy("o_orderkey")
    }),

    // Market-basket co-occurrence: top part PAIRS by order-level support.
    // The item-side twin of events_type_affinity's user-side Jaccard —
    // here the key space is parts x parts (scale-interesting), but the
    // pair explode is bounded per order by the order's line count, the
    // self-join keys on l_orderkey, and the census shuffles (part_a,
    // part_b) pairs only. Top-k is TakeOrdered, never a global sort.
    "market_basket" -> ((s, dir) => {
      val lp = li(s, dir).select(col("l_orderkey"), col("l_partkey"))
        .distinct()
        // materialized ONCE (the r20 discipline; rationale at
        // Graph.bfsFrontiers): lp feeds both sides of the self-join and
        // their exchanges don't dedupe (0 ReusedExchange in the before
        // plan) — without the barrier the distinct pass runs twice
        .localCheckpoint()
      val pairs = lp.as("x").join(lp.as("y"), Seq("l_orderkey"))
        .filter(col("x.l_partkey") < col("y.l_partkey"))
        .groupBy(col("x.l_partkey").as("part_a"),
          col("y.l_partkey").as("part_b"))
        .agg(count(lit(1)).as("support"))
      pairs
        .orderBy(col("support").desc, col("part_a"), col("part_b"))
        .limit(50)
        .withColumn("rank",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("support").desc, col("part_a"), col("part_b"))))
        .select(col("rank").cast(IntegerType).as("rank"),
          col("part_a"), col("part_b"), col("support"))
        .orderBy("rank")
    }),

    // SymSpell edit-distance-1 recovery matching (Fuzzy scaladoc): a
    // corrupted feed (one key-dependent character dropped from every
    // name) is re-linked to the master by deletion-variant equi-join +
    // candidate-bounded levenshtein verify — the fuzzy lane the repair
    // path needs when the exact diff can only say delete+insert.
    "fuzzy_repair_match" -> ((s, dir) => {
      val master = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"))
      val corrupted = master.select(col("c_custkey").as("key"),
        expr("concat(substring(c_name, 1, CAST(9 + pmod(c_custkey, 8) AS INT)), " +
          "substring(c_name, CAST(11 + pmod(c_custkey, 8) AS INT), " +
          "length(c_name)))").as("bad_name"))
      Fuzzy.editDistance1Join(master, corrupted,
        "c_custkey", "c_name", "key", "bad_name")
        .select(col("id_a"), col("name_a"), col("id_b"), col("name_b"),
          col("distance"), (col("id_a") === col("id_b")).as("true_link"))
        .orderBy("id_a", "id_b")
    }),

    // Bounded-buffer top-k per group (TopKHeap scaladoc): top-3 line
    // items per supplier by exact cents. The AGGREGATE form — partial
    // top-k before the exchange, shuffle carries <= k rows per group per
    // map task — where the window form shuffles and sorts the whole
    // corpus. The oracle is the window form: same rows, different plan.
    "topk_heap" -> ((s, dir) => {
      val top3 = udaf(new graft.functions.TopKHeap(3))
      li(s, dir)
        .select(col("l_suppkey").cast("long").as("suppkey"),
          round(col("l_extendedprice") * 100).cast("long").as("score"),
          (col("l_orderkey") * 10 + col("l_linenumber"))
            .cast("long").as("id"))
        .groupBy("suppkey").agg(top3(col("score"), col("id")).as("top"))
        .select(col("suppkey"),
          posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("suppkey"), (col("pos") + 1).cast("long").as("rank"),
          col("t.score").as("cents"), col("t.id").as("id"))
        .orderBy("suppkey", "rank")
    }),

    // Exact join-output cardinality WITHOUT executing the join
    // (Profile.joinSizeEstimate scaladoc): per-key count histograms
    // joined on the key — the "plan before you spend cluster-hours"
    // estimator, with the max-single-key skew number that decides
    // salting up front.
    "join_size_estimate" -> ((s, dir) =>
      Profile.joinSizeEstimate(li(s, dir), ord(s, dir),
        "l_orderkey", "o_orderkey")),

    // PERMISSIVE CSV ingest with corrupt-record accounting — the ingest
    // face TSV/JSONL don't cover: a malformed row must neither kill the
    // job (FAILFAST) nor vanish (DROPMALFORMED); it lands in the corrupt
    // lane and is COUNTED, so data loss at ingest is observable. Three
    // rows are planted with an unparseable bigint; the oracle knows the
    // clean per-lang counts from the parquet plus exactly those 3.
    "csv_badrows" -> ((s, dir) => {
      val base = graft.Scratch.dir("graft_csvbad_")
      Tables.load(s, dir, "documents").select("doc_id", "lang", "n_chars")
        .coalesce(1).write.mode("overwrite").csv(base)
      // three malformation kinds, each with an unparseable n_chars so the
      // corrupt lane's sum is NULL by construction (no dependence on which
      // OTHER fields the permissive parser salvages): bad bigint key, bad
      // bigint value, excess columns
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(base, "part-injected.csv"),
        "oops,en,bad\n13,de,notanint\n14,fr,zz,extra\n")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("lang",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_chars",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("_bad",
          org.apache.spark.sql.types.StringType)))
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(base)
        .groupBy(when(col("_bad").isNotNull, lit("__CORRUPT__"))
          .otherwise(col("lang")).as("lang_key"))
        .agg(count(lit(1)).as("n_rows"), sum("n_chars").as("sum_chars"))
        .orderBy("lang_key")
    }),

    // PageRank over the symmetrized customer<->supplier link graph
    // (Graph.pagerankTopK scaladoc): node ids are disambiguated into one
    // int64 space (custkey*2, suppkey*2+1), edges run BOTH directions so
    // the walk is non-degenerate (a one-way bipartite graph would starve
    // the source side after one hop). Fixed-point micro-unit lane —
    // the SCORES oracle-compare bit for bit, no float tolerance.
    "pagerank_topk" -> ((s, dir) => {
      val base = li(s, dir).select(col("l_orderkey"), col("l_suppkey"))
        .join(ord(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
      val edges = base.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(base.select(col("b").as("src"), col("a").as("dst")))
      Graph.pagerankTopK(edges, "src", "dst", rounds = 2, k = 10)
    }),

    // Bounded-hop BFS over the symmetrized customer<->supplier graph
    // (Graph.bfsFrontiers scaladoc): blast radius of the nation-0
    // customer cohort — per hop, newly reached nodes and cumulative
    // total. Frontier joins carry node ids only; visited-set exclusion
    // is an anti-join.
    "graph_bfs_hops" -> ((s, dir) => {
      val base = li(s, dir).select(col("l_orderkey"), col("l_suppkey"))
        .join(ord(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
      val edges = base.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(base.select(col("b").as("src"), col("a").as("dst")))
      val seeds = Tables.load(s, dir, "customer")
        .filter(col("c_nationkey") === 0)
        .select((col("c_custkey") * 2).as("node"))
      Graph.bfsFrontiers(edges, "src", "dst", seeds, "node", hops = 3)
    }),

    // k-core peel trace (Graph.kcoreTrace scaladoc) over the bipartite
    // part–supplier graph from lineitem (part nodes even, supplier nodes
    // odd — disjoint id spaces). k=3 peels parts backed by fewer than 3
    // distinct suppliers; the cascade trims supplier degrees in turn.
    // One (round, n_nodes, n_edges) row per peel round.
    "graph_kcore" -> ((s, dir) => {
      val e = li(s, dir).select(
        (col("l_partkey") * 2).cast("long").as("p"),
        (col("l_suppkey") * 2 + 1).cast("long").as("q"))
      Graph.kcoreTrace(e, "p", "q", k = 3, rounds = 3)
    }),

    // Triangle census (Graph.triangleStats scaladoc) over the supplier
    // co-order graph: suppliers are adjacent when AT LEAST 4 orders draw
    // lines from both. Degree-ordered orientation keeps the wedge join
    // O(m^1.5) whatever the degree skew; output is the 1-row exact census
    // from which the global clustering coefficient 3T/W follows. The
    // weight threshold is the standard projection-graph densification
    // guard: an UNthresholded co-occurrence projection of a bipartite
    // source degenerates toward the complete graph as the source grows
    // (sf0.1 already reaches 91% of all possible supplier pairs, 4.1e8
    // wedges), so the exact census on it measures fixture density, not
    // the engine — and at 100 TB it would be a wedge explosion no
    // algorithm survives. Thresholding is done BEFORE the census with
    // one groupBy on the pair key (map-side partial counts), which is
    // also the semantically interesting graph: weight-1 co-order edges
    // are noise for clustering analysis. The unthresholded graph stays
    // covered by the sampled face below.
    "graph_triangles" -> ((s, dir) => {
      val os = li(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .distinct()
      val pairs = os.join(
          os.select(col("ok"), col("sk").as("sk2")), "ok")
        .filter(col("sk") < col("sk2"))
        .groupBy("sk", "sk2").agg(count(lit(1)).as("w"))
        .filter(col("w") >= 4)
      Graph.triangleStats(pairs, "sk", "sk2")
    }),

    // DOULION-style sampled triangle census over the UNthresholded
    // co-order graph — the scale path for graphs whose exact wedge set
    // is unaffordable (Tsourakakis et al., KDD'09: sample each edge
    // independently with probability p, census the sparsified graph,
    // estimate T ≈ T_sampled / p³ — an unbiased estimator whose variance
    // vanishes on triangle-rich graphs). The sampler must be
    // DETERMINISTIC (oracle-reproducible and, at scale, re-executable
    // per retry without drift), so membership is a fixed modular hash of
    // the edge key — (u·2654435761 + v·40503) mod 1000 < 200, p = 1/5 —
    // not rand(). All-integer arithmetic: the estimate ×125 = 1/p³ stays
    // in the exact int64 lane, no float leaves the engine. Wedge work
    // drops by p² (25×) and the census runs on edges the exact face
    // never materializes — both faces oracle-green means the sampler and
    // the census agree with an independent engine bit for bit.
    "graph_triangles_sampled" -> ((s, dir) => {
      val os = li(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .distinct()
      val pairs = os.join(
          os.select(col("ok"), col("sk").as("sk2")), "ok")
        .filter(col("sk") < col("sk2"))
        .select(col("sk").cast("long").as("u"), col("sk2").cast("long").as("v"))
        .distinct()
        .filter((col("u") * 2654435761L + col("v") * 40503L) % 1000L < 200L)
      Graph.triangleStats(pairs, "u", "v")
        .select(col("n_edges").as("n_edges_sampled"),
          col("n_triangles").as("n_tri_sampled"),
          (col("n_triangles") * 125L).as("n_tri_estimate"))
    }),

    // Bloom-filter runtime pruning (BloomPrune scaladoc): the probe side
    // (lineitem) is pre-filtered through a 128Kbit/3-hash Bloom filter of
    // the selective build side's keys BEFORE the shuffle join. The oracle
    // is the PLAIN join — the pruned plan must be bit-identical (no false
    // negatives by construction; the join kills false positives), which
    // makes the equivalence itself the correctness check.
    "bloom_prune_join" -> ((s, dir) => {
      val probe = li(s, dir)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      val build = ord(s, dir)
        .filter(col("o_totalprice") > 150000.0)
        .select(col("o_orderkey"), col("o_orderpriority"))
      BloomPrune.prunedJoin(probe, build, "l_orderkey", "o_orderkey")
        .groupBy(col("l_returnflag"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"),
          // Exact lane (the q1 idiom, green since r1): cast to DECIMAL(18,2)
          // BEFORE summing so accumulation is exact integer arithmetic and
          // therefore partition-order-insensitive; the final cast of the
          // exact decimal to DOUBLE is deterministic. sum-then-cast on raw
          // doubles was the r8/r9 hash-divergence surface.
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
        .orderBy("l_returnflag", "o_orderpriority")
    }))

  // ---------------------------------------------------------------- oracle

  /** orders columns in parquet order with canonical kinds. */
  private val ordersCols: Seq[(String, String)] = Seq(
    "o_orderkey" -> "i", "o_custkey" -> "i", "o_orderstatus" -> "s",
    "o_totalprice" -> "m", "o_orderdate" -> "t", "o_orderpriority" -> "s")

  private val liFp = fpSql(serialSql(lineitemCols))
  private val liFp48 = fp48Sql(serialSql(lineitemCols))
  private val liCsv = serialSql(lineitemCols, sep = ",")
  private val oFp = fpSql(serialSql(ordersCols))
  private val oFp48 = fp48Sql(serialSql(ordersCols))
  private val oSqlVals = sqlValuesSql(ordersCols)

  private val liDownCte = s"lidown AS (${Perturb.lineitemDownstreamSql})"
  private val oDownCte = s"odown AS (${Perturb.ordersDownstreamSql})"

  /** Row-diff CTE with the P6 `range` predicate applied to BOTH sides —
    * mirror of `DiffSpec.range` (`my_database_users.toml:46`).
    */
  private def rowDiffCteWhere(range: String) =
    s"""$oDownCte,
       |u AS (SELECT o_orderkey, $oFp AS up_fp, $oSqlVals AS up_vals FROM orders WHERE $range),
       |dd AS (SELECT o_orderkey, $oFp AS down_fp FROM odown WHERE $range),
       |rd AS (
       |  SELECT COALESCE(u.o_orderkey, dd.o_orderkey) AS o_orderkey,
       |         CASE WHEN dd.down_fp IS NULL THEN 'missing_on_down'
       |              WHEN u.up_fp IS NULL THEN 'extra_on_down'
       |              WHEN u.up_fp <> dd.down_fp THEN 'value_mismatch' END AS diff_kind,
       |         u.up_fp, dd.down_fp, u.up_vals
       |  FROM u FULL OUTER JOIN dd ON u.o_orderkey = dd.o_orderkey
       |  WHERE dd.down_fp IS NULL OR u.up_fp IS NULL OR u.up_fp <> dd.down_fp)""".stripMargin

  private val rowDiffCte = rowDiffCteWhere("1 = 1")

  private[queries] lazy val manifestCteSql: String = manifestCte

  /** The fixture tables declared NONCLUSTERED (the compare targets,
    * FIXTURES.md), written out so the oracle's manifest does not read
    * the engine's own declaration.
    */
  private val nonclustered = Set("orders", "lineitem", "events")

  private lazy val manifestCte: String = {
    val rows = Tables.all.map { t =>
      val kind = if (nonclustered(t)) "NONCLUSTERED" else "CLUSTERED"
      s"SELECT 'main' AS schema_name, '$t' AS table_name, (SELECT count(*) FROM $t) AS table_rows, '$kind' AS pk_kind"
    }
    s"manifest AS (${rows.mkString("\n  UNION ALL ")})"
  }

  /** Shared CTE chain ending in `finalrep(table_name, structure,
    * data_result, upcount, downcount)` — the compare_report relation
    * including the TOTAL row; compare_report and report_lines project it.
    */
  private lazy val compareReportBody =
    s"""WITH $rowDiffCte,
       |$liDownCte,
       |lu AS (SELECT $liFp AS row_fp FROM lineitem),
       |ld AS (SELECT $liFp AS row_fp FROM lidown),
       |luc AS (SELECT row_fp, count(*) AS c FROM lu GROUP BY 1),
       |ldc AS (SELECT row_fp, count(*) AS c FROM ld GROUP BY 1),
       |lidiff AS (
       |  SELECT 1 FROM luc FULL OUTER JOIN ldc ON luc.row_fp = ldc.row_fp
       |  WHERE COALESCE(luc.c, 0) <> COALESCE(ldc.c, 0)),
       |rep AS (
       |  SELECT 'lineitem' AS table_name, 'ok' AS structure,
       |         CASE WHEN EXISTS (SELECT 1 FROM lidiff) THEN 'diff' ELSE 'ok' END AS data_result,
       |         (SELECT count(*) FROM lineitem) AS upcount,
       |         (SELECT count(*) FROM lidown) AS downcount
       |  UNION ALL
       |  SELECT 'orders', 'ok',
       |         CASE WHEN EXISTS (SELECT 1 FROM rd) THEN 'diff' ELSE 'ok' END,
       |         (SELECT count(*) FROM orders), (SELECT count(*) FROM odown)),
       |finalrep AS (
       |  SELECT * FROM rep
       |  UNION ALL
       |  SELECT 'TOTAL',
       |         CAST(SUM(CASE WHEN structure = 'diff' THEN 1 ELSE 0 END) AS VARCHAR) || ' diff',
       |         CAST(SUM(CASE WHEN data_result = 'diff' THEN 1 ELSE 0 END) AS VARCHAR) || ' diff',
       |         CAST(SUM(upcount) AS BIGINT), CAST(SUM(downcount) AS BIGINT) FROM rep)""".stripMargin

  private val discoverSelect =
    "SELECT schema_name, table_name FROM manifest WHERE table_rows > 5000 AND pk_kind = 'NONCLUSTERED'"

  val oracle: Map[String, String] = Map(
    "discover_tables" ->
      s"WITH $manifestCte\n$discoverSelect ORDER BY table_name",

    "config_render" ->
      s"""WITH $manifestCte,
         |disc AS ($discoverSelect)
         |SELECT schema_name, table_name,
         |  printf(e'[data-sources.master]\\nsnapshot = "auto"\\n[task]\\ntarget-check-tables = ["%s.%s"]\\nchunk-size = 500\\noutput-dir = "./output/%s_run1"',
         |         schema_name, table_name, table_name) AS config_text
         |FROM disc ORDER BY table_name""".stripMargin,

    "run_all_report" ->
      s"""WITH $manifestCte,
         |$rowDiffCte,
         |disc AS ($discoverSelect),
         |rep0 AS (
         |  SELECT 'events' AS table_name, 'ok' AS structure, 'ok' AS data_result,
         |         (SELECT count(*) FROM events) AS upcount,
         |         (SELECT count(*) FROM events) AS downcount
         |  UNION ALL
         |  SELECT 'lineitem', 'ok', 'ok',
         |         (SELECT count(*) FROM lineitem), (SELECT count(*) FROM lineitem)
         |  UNION ALL
         |  SELECT 'orders', 'ok',
         |         CASE WHEN EXISTS (SELECT 1 FROM rd) THEN 'diff' ELSE 'ok' END,
         |         (SELECT count(*) FROM orders), (SELECT count(*) FROM odown)),
         |rep AS (SELECT r.* FROM rep0 r JOIN disc d ON d.table_name = r.table_name),
         |finalrep AS (
         |  SELECT * FROM rep
         |  UNION ALL
         |  SELECT 'TOTAL',
         |         CAST(SUM(CASE WHEN structure = 'diff' THEN 1 ELSE 0 END) AS VARCHAR) || ' diff',
         |         CAST(SUM(CASE WHEN data_result = 'diff' THEN 1 ELSE 0 END) AS VARCHAR) || ' diff',
         |         CAST(SUM(upcount) AS BIGINT), CAST(SUM(downcount) AS BIGINT) FROM rep)
         |SELECT * FROM finalrep
         |ORDER BY CASE WHEN table_name = 'TOTAL' THEN 1 ELSE 0 END, table_name""".stripMargin,

    "ri_audit" -> {
      def one(name: String, childSql: String, parentSql: String,
              childKey: String, parentKey: String): String =
        s"""SELECT '$name' AS check_name, count(*) AS child_rows,
           |  count(CASE WHEN p.$parentKey IS NULL THEN 1 END) AS orphan_rows
           |FROM ($childSql) c LEFT JOIN
           |  (SELECT DISTINCT $parentKey FROM ($parentSql)) p
           |  ON c.$childKey = p.$parentKey""".stripMargin
      val checks = Seq(
        one("customer->nation", "SELECT * FROM customer",
          "SELECT * FROM nation", "c_nationkey", "n_nationkey"),
        one("lineitem->orders", "SELECT * FROM lineitem",
          "SELECT * FROM orders", "l_orderkey", "o_orderkey"),
        one("lineitem->orders_partial", "SELECT * FROM lineitem",
          "SELECT * FROM orders WHERE o_orderkey % 50 <> 0",
          "l_orderkey", "o_orderkey"),
        one("orders->customer", "SELECT * FROM orders",
          "SELECT * FROM customer", "o_custkey", "c_custkey"),
        one("supplier->nation", "SELECT * FROM supplier",
          "SELECT * FROM nation", "s_nationkey", "n_nationkey"))
        .mkString("\nUNION ALL\n")
      s"""WITH checks AS (
         |$checks)
         |SELECT check_name, child_rows, orphan_rows,
         |       orphan_rows = 0 AS ok
         |FROM checks ORDER BY check_name""".stripMargin
    },

    "chunk_checksum" ->
      s"""SELECT l_orderkey // 500 AS chunk_id, count(*) AS cnt,
         |       ${checksumSql(liFp48)}
         |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "chunk_checksum_crc" ->
      s"""WITH sr AS (SELECT o_orderkey // 500 AS chunk_id,
         |                   ${mysqlSerialSql(ordersCols)} AS serial
         |            FROM orders)
         |SELECT chunk_id, count(*) AS cnt,
         |       CAST(bit_xor(${crcSql("serial")}) AS BIGINT) AS checksum
         |FROM sr GROUP BY 1 ORDER BY chunk_id""".stripMargin,

    "diff_chunks" ->
      s"""WITH $oDownCte,
         |uc AS (SELECT o_orderkey // 500 AS chunk_id, count(*) AS up_cnt,
         |              ${checksumSql(oFp48, "up_")} FROM orders GROUP BY 1),
         |dc AS (SELECT o_orderkey // 500 AS chunk_id, count(*) AS down_cnt,
         |              ${checksumSql(oFp48, "down_")} FROM odown GROUP BY 1)
         |SELECT COALESCE(uc.chunk_id, dc.chunk_id) AS chunk_id,
         |       up_cnt, up_checksum_hi, up_checksum_lo,
         |       down_cnt, down_checksum_hi, down_checksum_lo
         |FROM uc FULL OUTER JOIN dc ON uc.chunk_id = dc.chunk_id
         |WHERE up_cnt IS NULL OR down_cnt IS NULL OR up_cnt <> down_cnt
         |   OR up_checksum_hi <> down_checksum_hi
         |   OR up_checksum_lo <> down_checksum_lo
         |ORDER BY chunk_id""".stripMargin,

    "row_diff" ->
      s"""WITH $rowDiffCte
         |SELECT * FROM rd ORDER BY o_orderkey""".stripMargin,

    "row_diff_hashchunk" ->
      s"""WITH $rowDiffCte
         |SELECT * FROM rd ORDER BY o_orderkey""".stripMargin,

    // repair(down, up, rowDiff) == up, canonically projected.
    "repair_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
        |  epoch_ms(o_orderdate) AS o_orderdate_ms,
        |  o_orderpriority
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "row_diff_range" ->
      s"""WITH ${rowDiffCteWhere("o_orderkey % 2 = 0")}
         |SELECT * FROM rd ORDER BY o_orderkey""".stripMargin,

    // The round-trip's expected relation is the NEWEST run's reports as
    // the lossy summary.txt artifact preserves them: the verdict phrase
    // encodes only overall equivalence, so a structure-diff run reads
    // back data_result='diff' (faithful to step3's parse), and junk
    // counts ingest as NULLs (P9 numeric guards).
    "summary_roundtrip" ->
      """SELECT * FROM (VALUES
        |  ('audit_log', 'diff', 'diff', CAST(420 AS BIGINT), CAST(420 AS BIGINT)),
        |  ('corrupt_counts', 'ok', 'diff', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)),
        |  ('users', 'ok', 'diff', CAST(1000 AS BIGINT), CAST(998 AS BIGINT)))
        |  AS t(table_name, structure, data_result, upcount, downcount)
        |ORDER BY table_name""".stripMargin,

    "fix_sql" ->
      s"""WITH $rowDiffCte
         |SELECT o_orderkey,
         |  CASE WHEN diff_kind = 'extra_on_down'
         |       THEN 'DELETE FROM orders WHERE o_orderkey = ' || CAST(o_orderkey AS VARCHAR) || ';'
         |       ELSE 'REPLACE INTO orders VALUES (' || up_vals || ');' END AS fix_sql
         |FROM rd ORDER BY o_orderkey""".stripMargin,

    "hashdiff_lineitem" ->
      s"""WITH $liDownCte,
         |u AS (SELECT $liFp AS row_fp, $liCsv AS vals FROM lineitem),
         |dd AS (SELECT $liFp AS row_fp, $liCsv AS vals FROM lidown),
         |uc AS (SELECT row_fp, count(*) AS up_cnt, min(vals) AS up_vals FROM u GROUP BY 1),
         |dc AS (SELECT row_fp, count(*) AS down_cnt, min(vals) AS down_vals FROM dd GROUP BY 1)
         |SELECT COALESCE(uc.row_fp, dc.row_fp) AS row_fp,
         |       CASE WHEN COALESCE(up_cnt, 0) > COALESCE(down_cnt, 0)
         |            THEN 'missing_on_down' ELSE 'extra_on_down' END AS diff_kind,
         |       COALESCE(up_cnt, 0) AS up_cnt, COALESCE(down_cnt, 0) AS down_cnt,
         |       COALESCE(up_vals, down_vals) AS vals
         |FROM uc FULL OUTER JOIN dc ON uc.row_fp = dc.row_fp
         |WHERE COALESCE(up_cnt, 0) <> COALESCE(down_cnt, 0)
         |ORDER BY row_fp""".stripMargin,

    // struct_diff compares static schema metadata, so its oracle is the
    // expected golden relation (schema isn't data DuckDB could derive)
    "struct_diff" ->
      """SELECT * FROM (VALUES
        |  ('l_comment',  CAST(NULL AS VARCHAR), 'string', 'extra_on_down'),
        |  ('l_quantity', 'double', 'string', 'type_mismatch'),
        |  ('l_tax',      'double', CAST(NULL AS VARCHAR), 'missing_on_down'))
        |  AS t(field, up_type, down_type, status)
        |ORDER BY field""".stripMargin,

    "orders_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status_k,
        |  coalesce(o_orderpriority, 'ALL') AS priority_k,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS INTEGER) AS gid,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY gid, status_k, priority_k""".stripMargin,

    "q1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus, count(*) AS count_order,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(30,4))) AS DOUBLE) AS sum_disc_price,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty
         |FROM lineitem GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "star_join_revenue" ->
      """SELECT r.r_name, o.o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DECIMAL(30,2))) AS DOUBLE) AS revenue
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_name, o.o_orderpriority
        |ORDER BY r.r_name, o.o_orderpriority""".stripMargin,

    "profile_orders" -> Profile.oracleSql("orders", Seq(
      ("o_orderkey", "long"), ("o_custkey", "long"),
      ("o_orderstatus", "string"), ("o_totalprice", "double"),
      ("o_orderdate", "timestamp"), ("o_orderpriority", "string"))),

    "bucketed_join" ->
      """SELECT o.o_orderkey, o.o_totalprice,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
        |    * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))
        |    AS DECIMAL(30,4))) AS DOUBLE) AS revenue
        |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |GROUP BY o.o_orderkey, o.o_totalprice
        |ORDER BY o.o_orderkey""".stripMargin,

    "compare_report" ->
      s"""$compareReportBody
         |SELECT * FROM finalrep
         |ORDER BY CASE WHEN table_name = 'TOTAL' THEN 1 ELSE 0 END, table_name""".stripMargin,

    "report_lines" ->
      s"""$compareReportBody
         |SELECT table_name,
         |  printf('| %-24s | %-9s | %-7s | %10d | %10d |',
         |         table_name, structure, data_result, upcount, downcount) AS line,
         |  printf('up %dM down %dM', upcount // 1000000, downcount // 1000000) AS scaled
         |FROM finalrep
         |ORDER BY CASE WHEN table_name = 'TOTAL' THEN 1 ELSE 0 END, table_name""".stripMargin,

    "table_list_roundtrip" ->
      s"WITH $manifestCte\n$discoverSelect ORDER BY table_name",

    "runlog_roundtrip" ->
      """SELECT * FROM (VALUES
        |  (CAST(1704103200000 AS BIGINT), 'INFO', 'discovery started'),
        |  (CAST(1704103260000 AS BIGINT), 'WARN', 'table skipped: no pk'),
        |  (CAST(1704103320000 AS BIGINT), 'ERROR', 'compare failed: orders'))
        |  AS t(ts_ms, level, message)
        |ORDER BY ts_ms""".stripMargin,

    "config_parse" ->
      """SELECT * FROM (VALUES
        |  ('10.0.0.1', 4000, 'root', 's3cret!', 'reader', 'plain*pw',
        |   8, CAST(4096 AS BIGINT), '/tmp/out'))
        |  AS t(m_host, m_port, m_user, m_password, s_user, s_password,
        |       thread_count, chunk_size, output_dir)""".stripMargin,

    "config_b64" ->
      s"""WITH $manifestCte
         |SELECT table_name,
         |  CASE WHEN pk_kind = 'CLUSTERED'
         |       THEN to_base64(encode('secret_' || table_name))
         |       ELSE 'plain*' || table_name END AS raw_password,
         |  CASE WHEN pk_kind = 'CLUSTERED'
         |       THEN 'secret_' || table_name
         |       ELSE 'plain*' || table_name END AS password
         |FROM manifest ORDER BY table_name""".stripMargin,

    // HITS mirror: identical integer half-rounds — the SCORES compare
    // bit for bit, no float tolerance anywhere.
    "hits_authority" ->
      """WITH e AS (SELECT CAST(o_custkey AS BIGINT) AS src,
        |                  CAST(l_suppkey AS BIGINT) AS dst,
        |                  CAST(count(*) AS BIGINT) AS w
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL
        |  GROUP BY 1, 2),
        |a0 AS (SELECT DISTINCT dst AS node, CAST(1 AS BIGINT) AS score
        |       FROM e),
        |h1 AS (SELECT src, CAST(sum(w * score) AS BIGINT) AS score
        |       FROM e JOIN a0 ON e.dst = a0.node GROUP BY 1),
        |a1 AS (SELECT dst AS node, CAST(sum(e.w * h1.score) AS BIGINT)
        |         AS score
        |       FROM e JOIN h1 USING (src) GROUP BY 1),
        |h2 AS (SELECT src, CAST(sum(w * score) AS BIGINT) AS score
        |       FROM e JOIN a1 ON e.dst = a1.node GROUP BY 1),
        |a2 AS (SELECT dst AS node, CAST(sum(e.w * h2.score) AS BIGINT)
        |         AS score
        |       FROM e JOIN h2 USING (src) GROUP BY 1),
        |ranked AS (SELECT node, score, row_number() OVER
        |             (ORDER BY score DESC, node) AS rank
        |           FROM a2)
        |SELECT node, score AS auth_score, CAST(rank AS INT) AS rank
        |FROM ranked WHERE rank <= 10 ORDER BY rank""".stripMargin,

    // Round-trip mirror: the plain long-form aggregate both reshapes
    // must reproduce.
    "pivot_roundtrip" ->
      """SELECT o_orderstatus, o_orderpriority,
        |       CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    // Share mirror: identical two-level aggregation and permille.
    "share_of_region" ->
      """WITH pn AS (SELECT c_nationkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS nation_cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1),
        |nn AS (SELECT pn.c_nationkey, n_name, r_name, nation_cents
        |       FROM pn JOIN nation ON c_nationkey = n_nationkey
        |              JOIN region ON n_regionkey = r_regionkey),
        |pr AS (SELECT r_name, CAST(sum(nation_cents) AS BIGINT)
        |         AS region_cents FROM nn GROUP BY 1)
        |SELECT nn.r_name, nn.n_name, nn.nation_cents, pr.region_cents,
        |       CAST(nn.nation_cents * 1000 // pr.region_cents AS BIGINT)
        |         AS share_permille
        |FROM nn JOIN pr USING (r_name)
        |ORDER BY r_name, n_name""".stripMargin,

    // ABC mirror: identical per-nation running share and class bounds.
    "supplier_abc" ->
      """WITH s AS (SELECT s_suppkey, s_nationkey,
        |             CAST(round(s_acctbal * 100) AS BIGINT) AS bal_cents
        |           FROM supplier
        |           WHERE CAST(round(s_acctbal * 100) AS BIGINT) >= 0),
        |c AS (SELECT *, CAST(SUM(bal_cents) OVER (PARTITION BY s_nationkey
        |          ORDER BY bal_cents DESC, s_suppkey
        |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
        |      FROM s),
        |t AS (SELECT s_nationkey, CAST(sum(bal_cents) AS BIGINT)
        |        AS nation_cents FROM s GROUP BY 1)
        |SELECT c.s_nationkey, c.s_suppkey, c.bal_cents,
        |       CAST(c.cum_cents * 1000 // t.nation_cents AS BIGINT)
        |         AS cum_permille,
        |       CASE WHEN c.cum_cents * 1000 // t.nation_cents <= 700
        |              THEN 'A'
        |            WHEN c.cum_cents * 1000 // t.nation_cents <= 900
        |              THEN 'B'
        |            ELSE 'C' END AS abc_class
        |FROM c JOIN t USING (s_nationkey)
        |ORDER BY s_nationkey, s_suppkey""".stripMargin,

    // Regression mirror: HUGEINT lane (DuckDB int128 spans the same
    // range as Spark's DECIMAL(38,0)). Spark's `div` truncates toward
    // zero while DuckDB's `//` floors — they differ on NEGATIVE
    // numerators (a downhill slope, a below-zero intercept), so the
    // mirror divides magnitudes and re-applies the sign explicitly.
    "price_regression" ->
      """WITH b AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
        |             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        |           FROM lineitem),
        |a AS (SELECT l_returnflag, CAST(count(*) AS HUGEINT) AS n,
        |        CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
        |        CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
        |        CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
        |        CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
        |      FROM b GROUP BY 1),
        |s AS (SELECT *,
        |        CAST(CASE WHEN (n * sxy - sx * sy) >= 0
        |          THEN ((n * sxy - sx * sy) * 1000000)
        |               // (n * sxx - sx * sx)
        |          ELSE -(((sx * sy - n * sxy) * 1000000)
        |               // (n * sxx - sx * sx)) END AS BIGINT) AS slope_micro
        |      FROM a)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n, slope_micro,
        |       CAST(CASE WHEN (sy * 1000000 -
        |                       CAST(slope_micro AS HUGEINT) * sx) >= 0
        |         THEN (sy * 1000000 - CAST(slope_micro AS HUGEINT) * sx)
        |              // n
        |         ELSE -((CAST(slope_micro AS HUGEINT) * sx - sy * 1000000)
        |              // n) END AS BIGINT) AS intercept_micro
        |FROM s ORDER BY l_returnflag""".stripMargin,

    // Skyline mirror: identical per-date max + suffix-max decomposition.
    "orders_skyline" ->
      """WITH o AS (SELECT o_orderkey, epoch_ms(o_orderdate) AS date_ms,
        |             CAST(round(o_totalprice * 100) AS BIGINT)
        |               AS price_cents
        |           FROM orders),
        |px AS (SELECT date_ms, max(price_cents) AS gmax FROM o GROUP BY 1),
        |s AS (SELECT date_ms, gmax,
        |        COALESCE(max(gmax) OVER (ORDER BY date_ms DESC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |          -9223372036854775808) AS smax
        |      FROM px)
        |SELECT o.o_orderkey, o.date_ms, o.price_cents
        |FROM o JOIN s USING (date_ms)
        |WHERE o.price_cents = s.gmax AND o.price_cents > s.smax
        |ORDER BY o.o_orderkey""".stripMargin,

    // BFS mirror: identical unrolled frontier/visited set algebra.
    "graph_bfs_hops" ->
      """WITH b AS (SELECT CAST(o_custkey * 2 AS BIGINT) AS a,
        |             CAST(l_suppkey * 2 + 1 AS BIGINT) AS bn
        |           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |           WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL),
        |e AS (SELECT DISTINCT src, dst FROM (
        |        SELECT a AS src, bn AS dst FROM b
        |        UNION ALL SELECT bn, a FROM b)),
        |f0 AS (SELECT DISTINCT CAST(c_custkey * 2 AS BIGINT) AS node
        |       FROM customer WHERE c_nationkey = 0),
        |v0 AS (SELECT node FROM f0),
        |f1 AS (SELECT node FROM (SELECT DISTINCT e.dst AS node
        |         FROM e JOIN f0 ON e.src = f0.node)
        |       WHERE node NOT IN (SELECT node FROM v0)),
        |v1 AS (SELECT node FROM v0 UNION SELECT node FROM f1),
        |f2 AS (SELECT node FROM (SELECT DISTINCT e.dst AS node
        |         FROM e JOIN f1 ON e.src = f1.node)
        |       WHERE node NOT IN (SELECT node FROM v1)),
        |v2 AS (SELECT node FROM v1 UNION SELECT node FROM f2),
        |f3 AS (SELECT node FROM (SELECT DISTINCT e.dst AS node
        |         FROM e JOIN f2 ON e.src = f2.node)
        |       WHERE node NOT IN (SELECT node FROM v2)),
        |v3 AS (SELECT node FROM v2 UNION SELECT node FROM f3)
        |SELECT CAST(0 AS INTEGER) AS hop,
        |       (SELECT CAST(count(*) AS BIGINT) FROM f0) AS frontier_size,
        |       (SELECT CAST(count(*) AS BIGINT) FROM v0) AS reached_total
        |UNION ALL SELECT CAST(1 AS INTEGER),
        |       (SELECT CAST(count(*) AS BIGINT) FROM f1),
        |       (SELECT CAST(count(*) AS BIGINT) FROM v1)
        |UNION ALL SELECT CAST(2 AS INTEGER),
        |       (SELECT CAST(count(*) AS BIGINT) FROM f2),
        |       (SELECT CAST(count(*) AS BIGINT) FROM v2)
        |UNION ALL SELECT CAST(3 AS INTEGER),
        |       (SELECT CAST(count(*) AS BIGINT) FROM f3),
        |       (SELECT CAST(count(*) AS BIGINT) FROM v3)
        |ORDER BY hop""".stripMargin,

    // Basket mirror: identical distinct-pair census and TakeOrdered rank.
    "market_basket" ->
      """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |p AS (SELECT x.l_partkey AS part_a, y.l_partkey AS part_b,
        |        CAST(count(*) AS BIGINT) AS support
        |      FROM lp x JOIN lp y ON x.l_orderkey = y.l_orderkey
        |        AND x.l_partkey < y.l_partkey
        |      GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER
        |        (ORDER BY support DESC, part_a, part_b) AS rank FROM p)
        |SELECT CAST(rank AS INTEGER) AS rank, part_a, part_b, support
        |FROM r WHERE rank <= 50 ORDER BY rank""".stripMargin,

    // Fuzzy mirror: identical deletion neighborhoods and classic
    // levenshtein (both engines implement the textbook distance).
    // Top-k mirror: the WINDOW form — row_number over the same total
    // order — proves the bounded-buffer aggregate selects identically.
    "topk_heap" ->
      """WITH c AS (SELECT CAST(l_suppkey AS BIGINT) AS suppkey,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |    CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS id
        |  FROM lineitem),
        |r AS (SELECT suppkey, cents, id,
        |    row_number() OVER (PARTITION BY suppkey
        |      ORDER BY cents DESC, id ASC) AS rank
        |  FROM c)
        |SELECT suppkey, CAST(rank AS BIGINT) AS rank, cents, id
        |FROM r WHERE rank <= 3 ORDER BY suppkey, rank""".stripMargin,

    "fuzzy_repair_match" ->
      """WITH m AS (SELECT c_custkey AS id_a, c_name AS name_a FROM customer),
        |corr AS (SELECT c_custkey AS id_b,
        |    substring(c_name, 1, CAST(9 + (c_custkey % 8) AS INT)) ||
        |    substring(c_name, CAST(11 + (c_custkey % 8) AS INT),
        |              length(c_name)) AS name_b
        |  FROM customer),
        |av AS (SELECT id_a, name_a, v.x AS variant FROM m,
        |  UNNEST(list_distinct(list_transform(range(0, length(name_a) + 1),
        |    i -> CASE WHEN i = 0 THEN name_a
        |         ELSE substring(name_a, 1, CAST(i - 1 AS INT)) ||
        |              substring(name_a, CAST(i + 1 AS INT), length(name_a))
        |         END))) AS v(x)),
        |bv AS (SELECT id_b, name_b, v.x AS variant FROM corr,
        |  UNNEST(list_distinct(list_transform(range(0, length(name_b) + 1),
        |    i -> CASE WHEN i = 0 THEN name_b
        |         ELSE substring(name_b, 1, CAST(i - 1 AS INT)) ||
        |              substring(name_b, CAST(i + 1 AS INT), length(name_b))
        |         END))) AS v(x)),
        |cand AS (SELECT DISTINCT id_a, name_a, id_b, name_b
        |         FROM av JOIN bv USING (variant))
        |SELECT id_a, name_a, id_b, name_b,
        |       CAST(levenshtein(name_a, name_b) AS INTEGER) AS distance,
        |       (id_a = id_b) AS true_link
        |FROM cand WHERE levenshtein(name_a, name_b) <= 1
        |ORDER BY id_a, id_b""".stripMargin,

    // Join-size mirror: identical histogram product-sum.
    "join_size_estimate" ->
      """WITH la AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS cnt_a
        |            FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1),
        |ra AS (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS cnt_b
        |       FROM orders WHERE o_orderkey IS NOT NULL GROUP BY 1),
        |j AS (SELECT cnt_a * cnt_b AS out_rows FROM la JOIN ra USING (k))
        |SELECT CAST(COALESCE(sum(out_rows), 0) AS BIGINT) AS est_rows,
        |       CAST(count(*) AS BIGINT) AS n_common_keys,
        |       (SELECT CAST(count(*) AS BIGINT) FROM la) AS n_keys_left,
        |       (SELECT CAST(count(*) AS BIGINT) FROM ra) AS n_keys_right,
        |       CAST(COALESCE(max(out_rows), 0) AS BIGINT) AS max_key_rows
        |FROM j""".stripMargin,

    // CSV mirror: the clean lanes aggregate the parquet; the corrupt lane
    // is exactly the 3 planted malformed rows with a NULL sum.
    "csv_badrows" ->
      """WITH v AS (SELECT lang AS lang_key,
        |             CAST(count(*) AS BIGINT) AS n_rows,
        |             CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |           FROM documents GROUP BY 1
        |           UNION ALL
        |           SELECT '__CORRUPT__', CAST(3 AS BIGINT),
        |             CAST(NULL AS BIGINT))
        |SELECT * FROM v ORDER BY lang_key""".stripMargin,

    // PageRank mirror: identical per-edge floor-divisions (DuckDB `//`
    // floors, Spark `div` truncates — all operands positive, so the two
    // agree) and identical join/aggregate rounds.
    "pagerank_topk" ->
      """WITH b AS (SELECT CAST(o_custkey * 2 AS BIGINT) AS a,
        |                  CAST(l_suppkey * 2 + 1 AS BIGINT) AS bn
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL),
        |eu AS (SELECT a AS src, bn AS dst FROM b
        |       UNION ALL SELECT bn, a FROM b),
        |e AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w
        |      FROM eu GROUP BY 1, 2),
        |d AS (SELECT src, CAST(sum(w) AS BIGINT) AS deg FROM e GROUP BY 1),
        |n AS (SELECT DISTINCT src AS node FROM e),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS score FROM n),
        |c1 AS (SELECT e.dst,
        |         CAST(((r0.score * 850000) // (1000000 * d.deg)) * e.w
        |           AS BIGINT) AS term
        |       FROM e JOIN d USING (src) JOIN r0 ON e.src = r0.node),
        |i1 AS (SELECT dst, CAST(sum(term) AS BIGINT) AS inflow
        |       FROM c1 GROUP BY 1),
        |r1 AS (SELECT n.node,
        |         CAST(150000 + COALESCE(i1.inflow, 0) AS BIGINT) AS score
        |       FROM n LEFT JOIN i1 ON n.node = i1.dst),
        |c2 AS (SELECT e.dst,
        |         CAST(((r1.score * 850000) // (1000000 * d.deg)) * e.w
        |           AS BIGINT) AS term
        |       FROM e JOIN d USING (src) JOIN r1 ON e.src = r1.node),
        |i2 AS (SELECT dst, CAST(sum(term) AS BIGINT) AS inflow
        |       FROM c2 GROUP BY 1),
        |r2 AS (SELECT n.node,
        |         CAST(150000 + COALESCE(i2.inflow, 0) AS BIGINT) AS score
        |       FROM n LEFT JOIN i2 ON n.node = i2.dst),
        |ranked AS (SELECT node, score, row_number() OVER
        |             (ORDER BY score DESC, node) AS rank
        |           FROM r2)
        |SELECT node, score AS pr_score, CAST(rank AS INT) AS rank
        |FROM ranked WHERE rank <= 10 ORDER BY rank""".stripMargin,

    // k-core mirror: the same 3 peel rounds as chained CTEs — survivor
    // sets by HAVING on degree, edge filters by IN-membership.
    "graph_kcore" ->
      """WITH e0 AS MATERIALIZED (SELECT DISTINCT
        |    LEAST(CAST(l_partkey * 2 AS BIGINT),
        |          CAST(l_suppkey * 2 + 1 AS BIGINT)) AS u,
        |    GREATEST(CAST(l_partkey * 2 AS BIGINT),
        |             CAST(l_suppkey * 2 + 1 AS BIGINT)) AS v
        |  FROM lineitem),
        |k1 AS MATERIALIZED (SELECT node FROM (SELECT u AS node FROM e0
        |         UNION ALL SELECT v FROM e0) t
        |       GROUP BY 1 HAVING count(*) >= 3),
        |e1 AS MATERIALIZED (SELECT u, v FROM e0 WHERE u IN (SELECT node FROM k1)
        |         AND v IN (SELECT node FROM k1)),
        |k2 AS MATERIALIZED (SELECT node FROM (SELECT u AS node FROM e1
        |         UNION ALL SELECT v FROM e1) t
        |       GROUP BY 1 HAVING count(*) >= 3),
        |e2 AS MATERIALIZED (SELECT u, v FROM e1 WHERE u IN (SELECT node FROM k2)
        |         AND v IN (SELECT node FROM k2)),
        |k3 AS MATERIALIZED (SELECT node FROM (SELECT u AS node FROM e2
        |         UNION ALL SELECT v FROM e2) t
        |       GROUP BY 1 HAVING count(*) >= 3),
        |e3 AS MATERIALIZED (SELECT u, v FROM e2 WHERE u IN (SELECT node FROM k3)
        |         AND v IN (SELECT node FROM k3))
        |SELECT CAST(0 AS INTEGER) AS round,
        |  (SELECT CAST(count(DISTINCT node) AS BIGINT) FROM
        |    (SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0) t)
        |    AS n_nodes,
        |  (SELECT CAST(count(*) AS BIGINT) FROM e0) AS n_edges
        |UNION ALL SELECT CAST(1 AS INTEGER),
        |  (SELECT CAST(count(DISTINCT node) AS BIGINT) FROM
        |    (SELECT u AS node FROM e1 UNION ALL SELECT v FROM e1) t),
        |  (SELECT CAST(count(*) AS BIGINT) FROM e1)
        |UNION ALL SELECT CAST(2 AS INTEGER),
        |  (SELECT CAST(count(DISTINCT node) AS BIGINT) FROM
        |    (SELECT u AS node FROM e2 UNION ALL SELECT v FROM e2) t),
        |  (SELECT CAST(count(*) AS BIGINT) FROM e2)
        |UNION ALL SELECT CAST(3 AS INTEGER),
        |  (SELECT CAST(count(DISTINCT node) AS BIGINT) FROM
        |    (SELECT u AS node FROM e3 UNION ALL SELECT v FROM e3) t),
        |  (SELECT CAST(count(*) AS BIGINT) FROM e3)
        |ORDER BY round""".stripMargin,

    // Triangle mirror: plain a<b<c listing — orientation-free, so it
    // cross-checks the degree-ordered scheme's count, not its plan.
    "graph_triangles" ->
      """WITH os AS (SELECT DISTINCT l_orderkey AS ok,
        |              CAST(l_suppkey AS BIGINT) AS sk FROM lineitem),
        |e AS (SELECT a.sk AS u, b.sk AS v
        |      FROM os a JOIN os b ON a.ok = b.ok AND a.sk < b.sk
        |      GROUP BY 1, 2 HAVING count(*) >= 4),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d
        |        FROM (SELECT u AS node FROM e
        |              UNION ALL SELECT v FROM e) ends
        |        GROUP BY 1),
        |ns AS (SELECT count(*) AS n_nodes,
        |         CAST(sum((d * (d - 1)) // 2) AS BIGINT) AS n_wedges
        |       FROM deg),
        |es AS (SELECT count(*) AS n_edges FROM e),
        |tri AS (SELECT count(*) AS n_triangles
        |        FROM e e1
        |        JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
        |        JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v)
        |SELECT n_nodes, n_edges, n_wedges, n_triangles
        |FROM ns, es, tri""".stripMargin,

    // Sampled-census mirror: the same deterministic modular-hash edge
    // sampler (p = 1/5) and the same orientation-free triangle listing,
    // so the DOULION face's sampler AND census are both independently
    // reproduced. Integer-only: estimate = sampled × 125 = 1/p³.
    "graph_triangles_sampled" ->
      """WITH os AS (SELECT DISTINCT l_orderkey AS ok,
        |              CAST(l_suppkey AS BIGINT) AS sk FROM lineitem),
        |e AS (SELECT u, v FROM (SELECT DISTINCT a.sk AS u, b.sk AS v
        |        FROM os a JOIN os b ON a.ok = b.ok AND a.sk < b.sk) p
        |      WHERE (u * 2654435761 + v * 40503) % 1000 < 200),
        |es AS (SELECT CAST(count(*) AS BIGINT) AS n_edges_sampled FROM e),
        |tri AS (SELECT CAST(count(*) AS BIGINT) AS n_tri_sampled
        |        FROM e e1
        |        JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
        |        JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v)
        |SELECT n_edges_sampled, n_tri_sampled,
        |       CAST(n_tri_sampled * 125 AS BIGINT) AS n_tri_estimate
        |FROM es, tri""".stripMargin,

    // Bloom-prune mirror: the ORACLE is the plain unpruned join — the
    // Spark side must prove its Bloom pre-filter changes nothing.
    "bloom_prune_join" ->
      """SELECT l_returnflag, o_orderpriority,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 150000.0
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin)
}
