package graft.queries

/** Shared fragments for the DuckDB oracle SQL.
  *
  * Every fragment must be the exact ANSI-SQL mirror of the column
  * transforms in [[graft.functions.Canonical]] — the correctness gate
  * hash-compares Spark output against DuckDB output of these strings.
  */
object Oracle {

  /** Canonical kinds: i=integral, m=money-double(2dp), s=string, t=timestamp. */
  def canonSql(c: String, kind: String): String = kind match {
    case "i" => s"CAST($c AS VARCHAR)"
    case "m" => s"CAST(CAST(round($c*100) AS BIGINT) AS VARCHAR)"
    case "s" => c
    case "t" => s"CAST(epoch_ms($c) AS VARCHAR)"
  }

  def serialSql(cols: Seq[(String, String)], prefix: String = "", sep: String = "|"): String =
    cols.map { case (c, k) => s"COALESCE(${canonSql(prefix + c, k)},'@NULL@')" }
      .mkString(s"concat_ws('$sep', ", ", ", ")")

  /** Full-128-bit portable row fingerprint (mirror of
    * [[graft.functions.Canonical.fingerprint]] — row-equality lane).
    */
  def fpSql(serial: String): String = s"md5($serial)"

  /** 48-bit checksum-lane fingerprint (mirror of
    * [[graft.functions.Canonical.fingerprint48]] / hex48).
    */
  def fp48Sql(serial: String): String =
    s"CAST(('0x' || substr(md5($serial),1,12)) AS BIGINT)"

  /** Split chunk checksum of a 48-bit lane expression (mirror of
    * [[graft.functions.Canonical.checksumSums]]): the sums of its high
    * and low 24-bit halves.
    */
  def checksumSql(fp48: String, prefix: String = ""): String =
    s"CAST(SUM(($fp48) >> 24) AS BIGINT) AS ${prefix}checksum_hi, " +
      s"CAST(SUM(($fp48) & 16777215) AS BIGINT) AS ${prefix}checksum_lo"

  /** Executable SQL-literal form of one column (mirror of
    * [[graft.functions.Canonical.sqlLiteral]] — repair-statement payload).
    */
  def sqlLitSql(c: String, kind: String): String = {
    val v = kind match {
      case "i" => s"CAST($c AS VARCHAR)"
      case "m" => s"CAST(CAST($c AS DECIMAL(18,2)) AS VARCHAR)"
      case "s" => s"'''' || replace($c, '''', '''''') || ''''"
      case "t" => s"'''' || strftime($c, '%Y-%m-%d %H:%M:%S.%f') || ''''"
    }
    s"COALESCE($v, 'NULL')"
  }

  /** Comma-joined executable VALUES payload (mirror of
    * [[graft.functions.Canonical.sqlValues]]).
    */
  def sqlValuesSql(cols: Seq[(String, String)], prefix: String = ""): String =
    cols.map { case (c, k) => sqlLitSql(prefix + c, k) }
      .mkString("concat_ws(', ', ", ", ", ")")

  /** lineitem columns in parquet order with canonical kinds. */
  val lineitemCols: Seq[(String, String)] = Seq(
    "l_orderkey" -> "i", "l_partkey" -> "i", "l_suppkey" -> "i",
    "l_linenumber" -> "i", "l_quantity" -> "m", "l_extendedprice" -> "m",
    "l_discount" -> "m", "l_tax" -> "m", "l_returnflag" -> "s",
    "l_linestatus" -> "s", "l_shipdate" -> "t")

  /** events columns (ts handled as epoch millis) with canonical kinds. */
  val eventsCols: Seq[(String, String)] = Seq(
    "event_id" -> "i", "user_id" -> "i", "event_type" -> "s", "value" -> "m")

  /** MySQL/TiDB-shaped rendering of one column (mirror of
    * [[graft.functions.Canonical.mysqlRepr]] — CRC-compat lane). Money
    * doubles render at the MySQL column's DECIMAL(18,2) scale, matching
    * the Spark side's pre-cast.
    */
  def mysqlReprSql(c: String, kind: String): String = kind match {
    case "i" => s"CAST($c AS VARCHAR)"
    case "m" => s"CAST(CAST($c AS DECIMAL(18,2)) AS VARCHAR)"
    case "s" => c
    case "t" => s"strftime($c, '%Y-%m-%d %H:%M:%S')"
  }

  /** sync_diff_inspector's checksum serial (mirror of
    * [[graft.functions.Canonical.crcRow]]'s input):
    * `CONCAT_WS(',', cols..., CONCAT(ISNULL(col)...))`.
    */
  def mysqlSerialSql(cols: Seq[(String, String)]): String = {
    val reprs = cols.map { case (c, k) => mysqlReprSql(c, k) }
    val flags = cols
      .map { case (c, _) => s"CASE WHEN $c IS NULL THEN '1' ELSE '0' END" }
      .mkString(" || ")
    (reprs :+ s"($flags)").mkString("concat_ws(',', ", ", ", ")")
  }

  /** CRC32 (IEEE 802.3, reflected, poly 0xEDB88320) of an ASCII string
    * expression, in pure DuckDB SQL — the oracle mirror of Spark's
    * `crc32`. Tableless bit-at-a-time formulation: the byte list is
    * flattened so each byte contributes itself (XOR step, op >= 0)
    * followed by eight `-1` markers (shift steps), and one `list_reduce`
    * folds the whole row. Verified against the standard check vector
    * ("123456789" -> 0xCBF43926) and zlib.
    */
  def crcSql(s: String): String =
    s"""xor(list_reduce(
       |  list_prepend(4294967295::BIGINT,
       |    flatten(list_transform(
       |      list_transform(range(1, length($s)+1),
       |                     i -> ord(substring($s, i, 1))::BIGINT),
       |      b -> [b, -1, -1, -1, -1, -1, -1, -1, -1]))),
       |  (acc, op) -> CASE WHEN op >= 0 THEN xor(acc, op)
       |                    WHEN acc & 1 = 1 THEN xor(acc >> 1, 3988292384)
       |                    ELSE acc >> 1 END), 4294967295)""".stripMargin
}
