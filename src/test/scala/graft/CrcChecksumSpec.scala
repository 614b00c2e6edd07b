package graft

import graft.functions.Canonical
import graft.operators.{Perturb, TableDiff}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

/** CRC-compat checksum lane (SURVEY §2.5 A1): the construction must match
  * sync_diff_inspector's published `BIT_XOR(CRC32(CONCAT_WS(',', cols...,
  * CONCAT(ISNULL(col)...))))` — anchored here against the standard CRC32
  * check vector and an independent java.util.zip.CRC32 reimplementation
  * of the full serial, then exercised as a chunk-checksum lane (equal
  * tables agree, a drifted row is detected, and the documented XOR
  * duplicate-blindness is demonstrated, which is why the lane is opt-in
  * compat rather than the engine default).
  */
class CrcChecksumSpec extends SparkSpec {
  import spark.implicits._

  test("Spark crc32 matches the IEEE check vector and zlib semantics") {
    // "123456789" -> 0xCBF43926 is THE published CRC-32 check value.
    val got = Seq("123456789").toDF("s")
      .select(crc32(col("s").cast("binary"))).head().getLong(0)
    assert(got == 0xCBF43926L)
  }

  test("crcRow equals java.util.zip.CRC32 over the mysql-shaped serial") {
    val df = Seq(
      (1L, "ok", "2-HIGH"),
      (2L, null.asInstanceOf[String], "1-URGENT"),
      (3L, "x,y", "3-MEDIUM") // embedded separator: flags disambiguate
    ).toDF("k", "status", "prio")
    val cols = Seq(
      (col("k"), LongType), (col("status"), StringType),
      (col("prio"), StringType))
    val got = df.select(col("k"), Canonical.crcRow(cols).as("crc"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ref(serial: String): Long = {
      val c = new java.util.zip.CRC32()
      c.update(serial.getBytes("UTF-8"))
      c.getValue
    }
    // CONCAT_WS skips the NULL column entirely; ISNULL flags still mark it.
    assert(got(1L) == ref("1,ok,2-HIGH,000"))
    assert(got(2L) == ref("2,1-URGENT,010"))
    assert(got(3L) == ref("3,x,y,3-MEDIUM,000"))
  }

  private val spec = TableDiff.DiffSpec(
    pkCols = Seq("o_orderkey"), chunkBy = "o_orderkey", chunkWidth = 500,
    crcCompat = true)

  test("crc lane: identical sides agree; a drifted row flags its chunk") {
    val up = Tables.load(spark, sfDir, "orders")
      .withColumn("o_totalprice", col("o_totalprice").cast("decimal(18,2)"))
    val same = TableDiff.badChunks(up, up, spec)
    assert(same.count() == 0)
    val down = Perturb.ordersDownstream(
      Tables.load(spark, sfDir, "orders"))
      .withColumn("o_totalprice", col("o_totalprice").cast("decimal(18,2)"))
    assert(TableDiff.badChunks(up, down, spec).count() > 0)
  }

  test("XOR blindness: a row duplicated twice cancels (why the lane is opt-in)") {
    val base = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val dup = base.union(Seq((2L, "b"), (2L, "b")).toDF("k", "v"))
    val s = TableDiff.DiffSpec(Seq("k"), "k", 1000, crcCompat = true)
    val cs = TableDiff.chunkChecksums(base, s).collect()(0).getLong(2)
    val cd = TableDiff.chunkChecksums(dup, s).collect()(0).getLong(2)
    // checksums agree even though counts differ — the cnt column (and the
    // default md5-SUM lane) is what catches duplicate drift.
    assert(cs == cd)
    def md5Lane(df: org.apache.spark.sql.DataFrame) =
      TableDiff.chunkChecksums(df, s.copy(crcCompat = false))
        .select("checksum_hi", "checksum_lo").collect()(0)
    val md5Base = md5Lane(base)
    val md5Dup = md5Lane(dup)
    assert(md5Base != md5Dup)
  }
}
