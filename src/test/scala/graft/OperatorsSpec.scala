package graft

import graft.operators._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class FixSqlSpec extends SparkSpec {
  import spark.implicits._

  private lazy val orders = Tables.load(spark, sfDir, "orders")
  private val spec = TableDiff.DiffSpec(
    pkCols = Seq("o_orderkey"), chunkBy = "o_orderkey", chunkWidth = 500)

  test("statements are executable SQL with quoted literals") {
    val rd = TableDiff.rowDiff(orders, Perturb.ordersDownstream(orders), spec)
    val stmts = FixSql.fromRowDiff(rd, "orders", Seq("o_orderkey"))
      .select("fix_sql").as[String].collect()
    assert(stmts.nonEmpty)
    val (deletes, replaces) = stmts.partition(_.startsWith("DELETE"))
    assert(deletes.forall(_.matches("DELETE FROM orders WHERE o_orderkey = \\d+;")))
    assert(replaces.forall(_.startsWith("REPLACE INTO orders VALUES (")))
    // string columns are quoted; timestamps are quoted literal datetimes
    assert(replaces.forall(s => s.contains("'") && s.endsWith(");")))
    assert(replaces.forall(_.matches(
      ".*'\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}\\.\\d{6}'.*")))
  }

  test("embedded quotes are doubled, money keeps scale") {
    val rd = Seq((1L, "value_mismatch", "a", "b", "5, 'O''Brien', 12.30"))
      .toDF("k", "diff_kind", "up_fp", "down_fp", "up_vals")
    val s = FixSql.fromRowDiff(rd, "t", Seq("k")).select("fix_sql").as[String].head()
    assert(s == "REPLACE INTO t VALUES (5, 'O''Brien', 12.30);")
  }
}

class StructDiffSpec extends SparkSpec {
  private val a = StructType(Seq(
    StructField("id", LongType), StructField("v", DoubleType)))

  test("identical structs are equivalent (order-insensitive)") {
    val b = StructType(a.fields.reverse)
    assert(StructDiff.equivalent(a, b))
  }

  test("drop, add, and retype are classified") {
    val b = StructType(Seq(
      StructField("id", StringType), StructField("w", DoubleType)))
    val d = StructDiff.diff(a, b).map(f => f.field -> f.status).toMap
    assert(d("id") == "type_mismatch")
    assert(d("v") == "missing_on_down")
    assert(d("w") == "extra_on_down")
  }
}

class DiscoverSpec extends SparkSpec {
  test("manifest discovery honors row floor and pk-kind filter") {
    val out = Discover.discover(spark, sfDir, Discover.defaultCheckSql(500))
      .collect().map(_.getString(1)).toSet
    // sf0.001: lineitem ~6000, orders 1500, events 1000 are NONCLUSTERED
    assert(out == Set("lineitem", "orders", "events"))
  }

  test("check_sql contract rejects single-column output") {
    intercept[IllegalArgumentException] {
      Discover.discover(spark, sfDir, "SELECT table_name FROM graft_manifest")
    }
  }

  test("manifest recounts a table rewritten in place, and only that table") {
    val dir = java.nio.file.Files.createTempDirectory("graft_manifest_")
    Tables.all.foreach(t => java.nio.file.Files.copy(
      java.nio.file.Paths.get(Tables.path(sfDir, t)),
      dir.resolve(s"$t.parquet")))
    def counts = Discover.manifest(spark, dir.toString).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    val before = counts
    val orders = dir.resolve("orders.parquet")
    val kept = Tables.load(spark, sfDir, "orders").limit(7)
    java.nio.file.Files.delete(orders)
    kept.write.parquet(orders.toString)
    val after = counts
    assert(before("orders") > 7 && after("orders") == 7)
    assert(after - "orders" == before - "orders")
  }

  test("extra columns are tolerated and truncated (step1 behavior)") {
    val out = Discover.discover(spark, sfDir,
      "SELECT schema_name, table_name, table_rows FROM graft_manifest")
    assert(out.columns.toSeq == Seq("schema_name", "table_name"))
  }
}

class ReportSpec extends SparkSpec {
  private def reports = Report.toDF(spark, Seq(
    Report.TableReport("a", "ok", "diff", 100, 99),
    Report.TableReport("b", "ok", "ok", 50, 50)))

  test("withTotal sums counts and tallies diff tables") {
    val t = Report.withTotal(reports).filter(col("table_name") === "TOTAL")
      .collect()(0)
    assert(t.getString(1) == "0 diff" && t.getString(2) == "1 diff")
    assert(t.getLong(3) == 150 && t.getLong(4) == 149)
  }

  test("exit code is 1 iff any table differs (step3:247-249)") {
    assert(Report.exitCode(Report.withTotal(reports)) == 1)
    val clean = Report.toDF(spark, Seq(Report.TableReport("a", "ok", "ok", 1, 1)))
    assert(Report.exitCode(Report.withTotal(clean)) == 0)
  }

  test("render produces the bordered report shape") {
    val txt = Report.render(Report.withTotal(reports))
    assert(txt.linesIterator.toSeq.count(_.startsWith("+")) == 3)
    assert(txt.contains("TOTAL"))
  }
}
