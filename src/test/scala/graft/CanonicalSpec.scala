package graft

import graft.functions.Canonical
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.time.{Instant, LocalDate, LocalDateTime}

class CanonicalSpec extends SparkSpec {
  import spark.implicits._

  test("null columns serialize to the sentinel, not dropped") {
    val df = Seq((1L, Option.empty[String]), (2L, Some("x")))
      .toDF("id", "s")
    val out = df.select(Canonical.serial(Seq(
      (col("id"), LongType), (col("s"), StringType))).as("ser"))
      .orderBy("ser").as[String].collect()
    assert(out.toSeq == Seq("1|@NULL@", "2|x"))
  }

  test("money doubles canonicalize to exact cents") {
    val df = Seq(123.45, 0.1 + 0.2, 100.0).toDF("m")
    val out = df.select(Canonical.canonical(col("m"), DoubleType).as("c"))
      .as[String].collect().toSeq
    assert(out == Seq("12345", "30", "10000"))
  }

  test("sqlLiteral quotes strings and doubles embedded quotes") {
    val df = Seq(("it's", 1.5), ("plain", 2.0)).toDF("s", "m")
    val out = df.select(Canonical.sqlValues(Seq(
      (col("s"), StringType), (col("m"), DoubleType))).as("v"))
      .orderBy("v").as[String].collect().toSeq
    assert(out == Seq("'it''s', 1.50", "'plain', 2.00"))
  }

  test("sqlLiteral renders NULL keyword unquoted") {
    val df = Seq((1L, Option.empty[String])).toDF("id", "s")
    val out = df.select(Canonical.sqlValues(Seq(
      (col("id"), LongType), (col("s"), StringType))).as("v"))
      .as[String].head()
    assert(out == "1, NULL")
  }

  test("equality lane is full 128-bit md5 hex; checksum lane is 48-bit") {
    val df = Seq("a").toDF("s")
    val fp = df.select(Canonical.fingerprint(Seq((col("s"), StringType))))
      .as[String].head()
    assert(fp.length == 32 && fp.matches("[0-9a-f]{32}"))
    val fp48 = df.select(Canonical.fingerprint48(Seq((col("s"), StringType))))
      .as[Long].head()
    assert(fp48 >= 0L && fp48 < (1L << 48))
    // the 48-bit lane is the md5 prefix, so the lanes agree
    assert(java.lang.Long.parseLong(fp.substring(0, 12), 16) == fp48)
  }

  /** Run `f` under each execution mode the kernel has: whole-stage
    * codegen, generated projections alone (where wide rows split into
    * methods), and the interpreted fallback. The codegen modes turn the
    * silent fallback to interpreted off, so generated code must compile.
    */
  private def inEveryMode(f: => Unit): Unit = {
    val codegen = Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")
    Seq(codegen,
      codegen :+ ("spark.sql.codegen.wholeStage" -> "false"),
      Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")).foreach { confs =>
      val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try withClue(s"mode $confs: ")(f)
      finally before.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  private def lanes(df: DataFrame) =
    df.schema.fields.toSeq.map(f => (col(f.name), f.dataType))

  /** Kernel forms vs md5 / unhex(md5) / hex48(md5) of the Catalyst
    * serial, row by row.
    */
  private def assertParity(df: DataFrame): Unit = {
    val ser = Canonical.serial(lanes(df))
    val rows = df.select(
      Canonical.fingerprint(lanes(df)), md5(ser),
      Canonical.fingerprintBytes(lanes(df)), unhex(md5(ser)),
      Canonical.fingerprint48(lanes(df)), Canonical.hex48(md5(ser)),
      ser).collect()
    assert(rows.length == df.count())
    rows.foreach { r =>
      withClue(s"serial ${r.getString(6)}: ") {
        assert(r.getString(0) == r.getString(1))
        assert(r.getAs[Array[Byte]](2).toSeq == r.getAs[Array[Byte]](3).toSeq)
        assert(r.getLong(4) == r.getLong(5))
      }
    }
  }

  private def frame(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  test("kernel matches md5(serial) on every scalar lane, nulls and edge values") {
    val schema = StructType(Seq(
      StructField("b", ByteType), StructField("sh", ShortType),
      StructField("i", IntegerType), StructField("l", LongType),
      StructField("bo", BooleanType), StructField("f", FloatType),
      StructField("d", DoubleType), StructField("dec", DecimalType(18, 2)),
      StructField("wide", DecimalType(38, 10)), StructField("dt", DateType),
      StructField("ts", TimestampType), StructField("ntz", TimestampNTZType),
      StructField("s", StringType), StructField("bin", BinaryType)))
    val df = frame(schema,
      Row(Byte.MinValue, Short.MinValue, Int.MinValue, Long.MinValue, true,
        -1.005f, -2.675, BigDecimal("-12.34").bigDecimal,
        BigDecimal("-1234567890123.0123456789").bigDecimal,
        LocalDate.of(1969, 12, 31), Instant.parse("1969-12-31T23:59:59.999500Z"),
        LocalDateTime.parse("1900-01-01T00:00:00.000001"), "a|b", Array[Byte](0, -1)),
      Row(Byte.MaxValue, Short.MaxValue, Int.MaxValue, Long.MaxValue, false,
        0.125f, 1.005, BigDecimal("0.00").bigDecimal,
        BigDecimal("99999999.9999999999").bigDecimal,
        LocalDate.of(2024, 2, 29), Instant.parse("2024-02-29T12:34:56.789Z"),
        LocalDateTime.parse("2038-01-19T03:14:08"), "@NULL@", Array.emptyByteArray),
      Row(0.toByte, 0.toShort, 0, 0L, true, 123.456f, 0.1 + 0.2,
        BigDecimal("7").bigDecimal, BigDecimal("0").bigDecimal,
        LocalDate.of(1970, 1, 1), Instant.EPOCH, LocalDateTime.parse("1970-01-01T00:00"),
        "", "x".getBytes("UTF-8")),
      Row(-7.toByte, 300.toShort, -42, -1L, false, -0.0f, -12345.675,
        BigDecimal("1.5").bigDecimal, null, null, null, null,
        "žluťoučký kůň 🐴 日本", null),
      Row(Seq.fill(schema.length)(null): _*))
    inEveryMode(assertParity(df))
  }

  test("kernel matches md5(serial) on array and struct columns") {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("arr", ArrayType(DoubleType)),
      StructField("st", StructType(Seq(
        StructField("x", IntegerType), StructField("y", StringType))))))
    val df = frame(schema,
      Row(1L, Seq(1.5, -2.25), Row(3, "p|q")),
      Row(2L, Seq.empty[Double], Row(null, "@NULL@")),
      Row(3L, null, null),
      Row(null, Seq(Double.NaN), Row(-1, "")))
    inEveryMode(assertParity(df))
  }

  test("kernel and md5(serial) agree on NaN and infinities, value or error") {
    // a value, or the error condition found down the cause chain
    def outcome(df: DataFrame, c: org.apache.spark.sql.Column) =
      scala.util.Try(df.select(c).collect().toSeq.map(_.get(0))).toEither
        .left.map(e => Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .collectFirst { case t: org.apache.spark.SparkThrowable => t.getCondition }
          .getOrElse(e.toString))
    Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity).foreach { v =>
      val df = frame(StructType(Seq(StructField("d", DoubleType),
        StructField("f", FloatType))), Row(v, v.toFloat))
      inEveryMode {
        assert(outcome(df, Canonical.fingerprint(lanes(df))) ==
          outcome(df, md5(Canonical.serial(lanes(df)))), s"value $v")
        assert(outcome(df, Canonical.fingerprint48(lanes(df))) ==
          outcome(df, Canonical.hex48(md5(Canonical.serial(lanes(df))))), s"value $v")
      }
    }
  }

  test("kernel matches md5(serial) on a 300-column row") {
    val n = 300
    val schema = StructType((0 until n).map(i => StructField(s"c$i",
      if (i % 3 == 0) LongType else if (i % 3 == 1) StringType else DoubleType)))
    def row(k: Int) = Row((0 until n).map { i =>
      if ((i + k) % 7 == 0) null
      else if (i % 3 == 0) (i.toLong * 1000003L - k)
      else if (i % 3 == 1) s"v$i|$k"
      else i * 0.37 - k
    }: _*)
    inEveryMode(assertParity(frame(schema, (0 until 4).map(row): _*)))
  }

  test("chunkId floors negatives correctly") {
    // the exact integral form and the floor of a fractional quotient
    Seq(LongType, IntegerType, DoubleType, DecimalType(10, 1)).foreach { t =>
      val df = Seq(-501L, -500L, -1L, 0L, 499L, 500L).toDF("k")
        .select(col("k").cast(t).as("k"))
      val out = df.select(Canonical.chunkId(col("k"), 500, t).as("c"))
        .as[Long].collect().toSeq
      assert(out == Seq(-2L, -1L, -1L, 0L, 0L, 1L), t)
    }
  }
}
