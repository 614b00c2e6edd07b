package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native row-fingerprint kernel: the md5 of a row's canonical
  * serialization, computed without building the serial string.
  *
  * Each child is one column's canonical lane ([[Canonical.lane]]): a
  * BIGINT whose decimal digits are the canonical form, or a STRING
  * holding it. Per row the kernel writes the lanes into one reused byte
  * buffer — digits straight from the long, UTF-8 bytes copied from the
  * string, `@NULL@` for a null lane, `|` between lanes — and runs one
  * MD5 (one `MessageDigest` per task) over it. The bytes are exactly
  * those of `concat_ws('|', coalesce(canonical(c), '@NULL@') ...)`, so
  * the result is bit-identical to the Catalyst tree `md5(serial)` and to
  * the DuckDB oracle's `md5(concat_ws(...))`.
  *
  * `form` picks the output: lowercase hex (the 128-bit equality lane),
  * the raw 16 bytes (the shuffle key of the keyless multiset diff), or
  * the first 6 bytes as a BIGINT (the 48-bit checksum lane, the value of
  * `conv(substring(md5(serial), 1, 12), 16, 10)`).
  *
  * Generated code splits the per-lane writes into methods for wide rows
  * (`splitExpressionsWithCurrentInputs`, as Spark's hash expressions
  * do); interpreted `eval` uses one buffer per thread.
  */
case class RowDigest(children: Seq[Expression], form: RowDigest.Form)
    extends Expression {

  override def prettyName: String = "row_digest"

  override def nullable: Boolean = false

  override def dataType: DataType = form.dataType

  override def checkInputDataTypes(): TypeCheckResult =
    children.find(c => !RowDigest.isLane(c.dataType)) match {
      case None => TypeCheckResult.TypeCheckSuccess
      case Some(c) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects bigint or string lanes, got ${c.dataType.simpleString}")
    }

  override def eval(input: InternalRow): Any = {
    val d = RowDigest.perThread.get()
    d.reset()
    var first = true
    children.foreach { c =>
      if (!first) d.sep()
      first = false
      c.eval(input) match {
        case null => d.putNull()
        case v: Long => d.putLong(v)
        case s: UTF8String => d.putUtf8(s)
      }
    }
    form.result(d)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[RowDigester].getName
    val d = ctx.addMutableState(cls, "rowDigest",
      v => s"$v = new $cls();", forceInline = true)
    val lanes = children.zipWithIndex.map { case (c, i) =>
      val g = c.genCode(ctx)
      val put = if (c.dataType == LongType) "putLong" else "putUtf8"
      s"""${if (i > 0) s"$d.sep();" else ""}
         |${g.code}
         |if (${g.isNull}) { $d.putNull(); } else { $d.$put(${g.value}); }
         |""".stripMargin
    }
    val body = ctx.splitExpressionsWithCurrentInputs(lanes, funcName = "rowDigestLanes")
    ev.copy(isNull = FalseLiteral, code =
      code"""
         |$d.reset();
         |$body
         |${CodeGenerator.javaType(dataType)} ${ev.value} = $d.${form.method}();
         |""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object RowDigest {

  /** Output form of the digest: its type and the digester call that
    * yields it.
    */
  sealed abstract class Form(val dataType: DataType, val method: String) {
    def result(d: RowDigester): Any
  }
  case object Hex extends Form(StringType, "hex") {
    def result(d: RowDigester): Any = d.hex()
  }
  case object Bytes extends Form(BinaryType, "bytes") {
    def result(d: RowDigester): Any = d.bytes()
  }
  case object Fp48 extends Form(LongType, "fp48") {
    def result(d: RowDigester): Any = d.fp48()
  }

  private def isLane(dt: DataType): Boolean = dt match {
    case LongType | _: StringType => true
    case _ => false
  }

  private val perThread: ThreadLocal[RowDigester] =
    ThreadLocal.withInitial(() => new RowDigester)
}

/** The kernel's per-task state: a growable byte buffer holding one row's
  * canonical serialization and the MD5 over it. Public so generated
  * code can hold one as a field.
  */
final class RowDigester {
  private val md = MessageDigest.getInstance("MD5")
  private val out = new Array[Byte](16)
  private var buf = new Array[Byte](256)
  private var len = 0

  private def ensure(n: Int): Unit =
    if (len + n > buf.length)
      buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + n))

  private def putAscii(b: Array[Byte]): Unit = {
    ensure(b.length)
    System.arraycopy(b, 0, buf, len, b.length)
    len += b.length
  }

  def reset(): Unit = len = 0

  def sep(): Unit = {
    ensure(1)
    buf(len) = '|'
    len += 1
  }

  def putNull(): Unit = putAscii(RowDigester.NullBytes)

  def putUtf8(s: UTF8String): Unit = {
    val n = s.numBytes
    ensure(n)
    Platform.copyMemory(s.getBaseObject, s.getBaseOffset,
      buf, Platform.BYTE_ARRAY_OFFSET + len, n)
    len += n
  }

  /** Decimal digits of `v`, as `Long.toString` writes them. */
  def putLong(v: Long): Unit =
    if (v == Long.MinValue) putAscii(RowDigester.MinLongBytes)
    else {
      ensure(20)
      var x = v
      if (x < 0) {
        buf(len) = '-'
        len += 1
        x = -x
      }
      var digits = 1
      var t = x
      while (t >= 10) {
        t /= 10
        digits += 1
      }
      len += digits
      var p = len
      while (p > len - digits) {
        p -= 1
        buf(p) = ('0' + (x % 10)).toByte
        x /= 10
      }
    }

  private def digest(): Unit = {
    md.update(buf, 0, len)
    md.digest(out, 0, 16)
  }

  /** Lowercase hex of the digest. */
  def hex(): UTF8String = {
    digest()
    val h = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      h(2 * i) = RowDigester.HexDigits((out(i) >> 4) & 0xf)
      h(2 * i + 1) = RowDigester.HexDigits(out(i) & 0xf)
      i += 1
    }
    UTF8String.fromBytes(h)
  }

  /** The 16 digest bytes. */
  def bytes(): Array[Byte] = {
    digest()
    out.clone()
  }

  /** The first 6 digest bytes as an unsigned big-endian 48-bit value. */
  def fp48(): Long = {
    digest()
    var r = 0L
    var i = 0
    while (i < 6) {
      r = (r << 8) | (out(i) & 0xffL)
      i += 1
    }
    r
  }
}

object RowDigester {
  private val NullBytes = Canonical.NullSentinel.getBytes("UTF-8")
  private val MinLongBytes = Long.MinValue.toString.getBytes("UTF-8")
  private val HexDigits = "0123456789abcdef".getBytes("UTF-8")
}
