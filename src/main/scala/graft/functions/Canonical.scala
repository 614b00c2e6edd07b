package graft.functions

import org.apache.spark.sql.{Column, GraftColumns}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Canonical, engine-portable row serialization + fingerprinting.
  *
  * The reference's diff engine compares chunks by checksum and rows by value
  * (published `sync_diff_inspector` behavior enabled at
  * `/root/reference/syncdiff_config2/my_database_users.toml:40,45`). To make
  * every checksum independently verifiable by an external SQL oracle
  * (DuckDB), the row hash here is NOT Spark-private (`xxhash64`) but a
  * *portable* construction reproducible in any engine with `md5`:
  *
  *   serial(row)  = concat_ws('|', canonical(col1), ..., canonical(colN))
  *   fp(row)      = md5(serial)                    -- full 128 bits (equality)
  *   fp48(row)    = bigint(first 12 hex of fp)     -- 48 bits (checksum lane)
  *   checksum(S)  = (sum(fp48 >> 24), sum(fp48 & 0xFFFFFF)) over S
  *
  * The engine never builds `serial`: [[RowDigest]] writes each column's
  * canonical [[lane]] (digits of a BIGINT, or the bytes of a STRING) into
  * one reused buffer and hashes it with one MD5 per task, yielding the
  * hex, raw-byte or 48-bit form directly. It is bit-identical to
  * `md5(serial)`, which stays here as the reference it is tested against
  * and as what the oracle SQL spells out.
  *
  * Collision discipline (SURVEY.md §7.4): ROW EQUALITY is always decided on
  * the full 128-bit md5 — at 100 TB (~10^11 rows) the birthday bound for a
  * truncated 48-bit lane (~N²/2^49) would silently mask real differences,
  * while 128 bits keep it below 2^-35. The 48-bit truncation exists ONLY
  * inside the per-chunk commutative checksum. That checksum is the pair of
  * sums of the lane's two 24-bit halves ([[checksumSums]]): each half-sum
  * stays below 2^63 up to 2^39 rows per chunk, so no legal chunk size or
  * bucket count overflows it, and the pair determines the full 48-bit sum
  * exactly. The sums are order-independent and partial aggregation
  * (map-side combine) applies — Catalyst plans this as a two-phase
  * HashAggregate with no extra shuffle beyond the groupBy(chunk). Every
  * clean verdict, keyed ([[graft.operators.TableDiff]]) and keyless
  * ([[graft.operators.HashDiff]], whose chunks are buckets of this lane),
  * and every phase-2 prune rests on it: a drifted chunk is passed over
  * only if its row count AND its 48-bit sum both collide. Inside the
  * chunks that flag, the row pass decides equality (keyed) or multiset
  * membership (keyless) on the full 128-bit md5, so a collision there
  * cannot make two different rows compare equal.
  *
  * Canonicalization rules (must match the oracle SQL in
  * [[graft.SparkEntry.oracleSql]] exactly):
  *   - integral types: decimal string form
  *   - doubles (money-like, 2dp in fixtures): round(x*100) as bigint —
  *     avoids engine-specific double→string formatting (SURVEY.md §7.4)
  *   - timestamps: epoch milliseconds (UTC session)
  *   - strings: verbatim
  *   - NULL: sentinel "@NULL@" (concat_ws silently drops nulls — SURVEY.md
  *     §7.4 "NULL semantics in row hash")
  */
object Canonical {

  val NullSentinel = "@NULL@"

  /** Epoch milliseconds of a timestamp column, NTZ-safe.
    *
    * Parquet TIMESTAMP(isAdjustedToUTC=false) surfaces as TIMESTAMP_NTZ in
    * Spark 4, and `unix_millis` rejects NTZ outright (DATATYPE_MISMATCH) —
    * the r7 `repair_roundtrip` breakage. The engine runs a UTC session, so
    * NTZ→TZ cast is the identity (and a TZ→TZ cast is a no-op), making this
    * the single safe spelling for EVERY fixture timestamp column. All epoch
    * conversions in the codebase must route through here rather than call
    * `unix_millis` raw, so a fixture regeneration flipping TZ-ness cannot
    * break registered plans.
    */
  def epochMs(c: Column): Column = unix_millis(c.cast(TimestampType))

  /** Canonical lane of one column, by declared type: a BIGINT whose
    * decimal digits are the canonical form (integral, boolean, money
    * double, timestamp) or a STRING holding it (decimal, date, string,
    * binary md5, nested JSON) — the input [[RowDigest]] hashes.
    */
  def lane(c: Column, dt: DataType): Column = dt match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType =>
      c.cast(LongType)
    case FloatType | DoubleType =>
      // 2-decimal fixed-point; exact for the fixture money columns and
      // identical to DuckDB's CAST(round(x*100) AS BIGINT).
      round(c.cast(DoubleType) * lit(100)).cast(LongType)
    case _: DecimalType => c.cast(StringType)
    case TimestampType | TimestampNTZType =>
      // Epoch millis match DuckDB's epoch_ms over the same file; epochMs
      // handles the NTZ case (see its scaladoc).
      epochMs(c)
    case DateType => c.cast(StringType)
    case StringType => c
    case BinaryType => md5(c)
    case other =>
      // Nested/array types: canonical JSON; not oracle-portable, used only
      // by the engine-internal lane.
      to_json(struct(c.as("v")))
  }

  /** Canonical string form of one column, by declared type. */
  def canonical(c: Column, dt: DataType): Column =
    lane(c, dt).cast(StringType)

  private def serialize(cols: Seq[(Column, DataType)], sep: String): Column =
    concat_ws(sep, cols.map { case (c, dt) =>
      coalesce(canonical(c, dt), lit(NullSentinel))
    }: _*)

  /** Pipe-joined canonical serialization of the given columns — what
    * [[fingerprint]] hashes, kept as the Catalyst reference the kernel is
    * tested against (the engine never materializes it).
    */
  def serial(cols: Seq[(Column, DataType)]): Column = serialize(cols, "|")

  /** Comma-joined form — sample payload for diff inspection. */
  def serialCsv(cols: Seq[(Column, DataType)]): Column = serialize(cols, ",")

  /** Executable SQL literal form of one column — the repair-statement
    * payload (reference `export-fix-sql`, `my_database_users.toml:8`,
    * emits properly quoted literal values; sync_diff_inspector's published
    * behavior). Distinct from the fingerprint serialization on purpose:
    *   - strings: single-quoted, embedded quotes doubled
    *   - money doubles: original 2dp scale (not the x100 canonical form)
    *   - timestamps: 'yyyy-MM-dd HH:mm:ss.SSSSSS' literals
    *   - NULL: the keyword NULL
    */
  def sqlLiteral(c: Column, dt: DataType): Column = {
    def quoted(s: Column): Column =
      concat(lit("'"), regexp_replace(s, "'", "''"), lit("'"))
    val v = dt match {
      case ByteType | ShortType | IntegerType | LongType => c.cast(StringType)
      case BooleanType => c.cast(IntegerType).cast(StringType)
      case FloatType | DoubleType =>
        c.cast(DecimalType(18, 2)).cast(StringType)
      case _: DecimalType => c.cast(StringType)
      case TimestampType => quoted(date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      case TimestampNTZType =>
        quoted(date_format(c.cast(TimestampType), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      case DateType => quoted(c.cast(StringType))
      case StringType => quoted(c)
      case BinaryType => concat(lit("x'"), hex(c), lit("'"))
      case _ => quoted(to_json(struct(c.as("v"))))
    }
    coalesce(v, lit("NULL"))
  }

  /** Comma-joined executable VALUES payload over the given columns. */
  def sqlValues(cols: Seq[(Column, DataType)]): Column =
    concat_ws(", ", cols.map { case (c, dt) => sqlLiteral(c, dt) }: _*)

  private def digest(cols: Seq[(Column, DataType)], form: RowDigest.Form): Column =
    GraftColumns.of(RowDigest(cols.map { case (c, dt) =>
      GraftColumns.expressionOf(lane(c, dt))
    }, form))

  /** Portable full-128-bit row fingerprint (lowercase md5 hex of
    * [[serial]], oracle-reproducible). The ONLY basis for row-equality
    * decisions.
    */
  def fingerprint(cols: Seq[(Column, DataType)]): Column =
    digest(cols, RowDigest.Hex)

  /** [[fingerprint]] as its 16 raw bytes (`unhex(fingerprint)`) — the
    * narrow shuffle key of the keyless multiset diff.
    */
  def fingerprintBytes(cols: Seq[(Column, DataType)]): Column =
    digest(cols, RowDigest.Bytes)

  /** 48-bit fingerprint for the commutative chunk-checksum lane only
    * (`hex48(fingerprint)`) — never used alone for row equality (see
    * collision discipline above).
    */
  def fingerprint48(cols: Seq[(Column, DataType)]): Column =
    digest(cols, RowDigest.Fp48)

  /** The chunk checksum of a 48-bit lane column: the sums of its high and
    * low 24-bit halves, named `<prefix>checksum_hi` / `<prefix>checksum_lo`.
    * Each half is below 2^24, so a half-sum cannot overflow a BIGINT below
    * 2^39 rows per chunk, and (hi, lo) gives the full sum hi·2^24 + lo.
    */
  def checksumSums(fp48: Column, prefix: String = ""): Seq[Column] = Seq(
    sum(shiftright(fp48, 24)).as(s"${prefix}checksum_hi"),
    sum(fp48.bitwiseAND(lit(0xFFFFFFL))).as(s"${prefix}checksum_lo"))

  /** First 12 hex chars of a hex string, as a bigint (48 bits). */
  def hex48(hexCol: Column): Column =
    conv(substring(hexCol, 1, 12), 16, 10).cast(LongType)

  /** MySQL/TiDB-shaped rendering of one column for the CRC-compat lane —
    * the string CONCAT_WS sees when sync_diff_inspector's checksum SQL
    * (`BIT_XOR(CAST(CRC32(CONCAT_WS(',', cols..., CONCAT(ISNULL(col)...)))
    * AS UNSIGNED))`) runs server-side. Byte-identical for integral,
    * decimal, string, date, and second-precision timestamp columns; for
    * FLOAT/DOUBLE the caller should pre-cast to the MySQL column's
    * DECIMAL type (server float formatting is not reproducible bit-for-bit
    * from another engine — same caveat the repair literal lane documents).
    */
  def mysqlRepr(c: Column, dt: DataType): Column = dt match {
    case ByteType | ShortType | IntegerType | LongType => c.cast(StringType)
    case BooleanType => c.cast(IntegerType).cast(StringType)
    case _: DecimalType => c.cast(StringType)
    case FloatType | DoubleType => c.cast(StringType)
    case TimestampType | TimestampNTZType =>
      date_format(c.cast(TimestampType), "yyyy-MM-dd HH:mm:ss")
    case DateType => c.cast(StringType)
    case StringType => c
    case _ => c.cast(StringType)
  }

  /** CRC-compat per-row hash (SURVEY §2.5 A1 note): CRC32 over the
    * MySQL-shaped serial, combinable across rows with BIT_XOR — the exact
    * construction sync_diff_inspector issues to both endpoints, letting a
    * user migrating off the reference cross-validate per-chunk checksums
    * against a live TiDB/MySQL byte for byte. XOR (unlike the default
    * lane's SUM of 48-bit fingerprints) is self-inverse — a chunk
    * containing the same row an EVEN number of times XORs to the same
    * value as zero copies — which is why this lane is opt-in compat
    * rather than the default: the md5-sum lane detects duplicate-row
    * drift that BIT_XOR provably cannot.
    */
  def crcRow(cols: Seq[(Column, DataType)]): Column = {
    val nullFlags = concat(cols.map { case (c, _) =>
      isnull(c).cast(IntegerType).cast(StringType)
    }: _*)
    val serial = concat_ws(",",
      cols.map { case (c, dt) => mysqlRepr(c, dt) } :+ nullFlags: _*)
    crc32(serial.cast(BinaryType))
  }

  /** Chunk id from a numeric leading-PK column of type `keyType`:
    * contiguous ranges of `width` key values — the file-source analogue
    * of the reference's PK-range chunks (`my_database_users.toml:45`,
    * chunk-size 5000). The id is `floor(k / width)`, negatives included.
    * An integral key divides exactly: a double quotient rounds a BIGINT
    * above 2^53 that sits just below a chunk edge into the next chunk,
    * outside the range predicate that prunes the row pass (such keys are
    * what TiDB `AUTO_RANDOM` and snowflake ids produce). Fractional and
    * decimal keys keep the floor of the quotient.
    */
  def chunkId(pk: Column, width: Long, keyType: DataType): Column = keyType match {
    case ByteType | ShortType | IntegerType | LongType =>
      val w = lit(width)
      call_function("div", pk, w) - when(pk % w < 0, 1L).otherwise(0L)
    case _ => floor(pk / lit(width)).cast(LongType)
  }

  /** Hash-bucket chunk id for arbitrary (composite / non-numeric) PK
    * tables — the fallback when no numeric leading PK supports range
    * chunks (SURVEY.md §7.4). Derived from the row's OWN 48-bit
    * checksum-lane fingerprint, so the one md5 already paid for the
    * chunk checksum also yields the chunk id (the r3 form digested the
    * PK serial a second time per row — VERDICT r03 #2). Equal rows share
    * a bucket, which is what lets the keyless diff prune to bad buckets
    * without changing its result. A mutated row's two versions may land
    * in different buckets; each such bucket then flags by row count, so
    * detection is preserved, and the row pass re-verifies everything on
    * the full 128-bit lane as always. Buckets
    * lose the range-pushdown row pass (no contiguous predicate exists),
    * so the row drill-down uses the semi-join/flat tiers instead.
    */
  def chunkIdFromFp(fp48: Column, buckets: Int): Column =
    pmod(fp48, lit(buckets.toLong))
}
