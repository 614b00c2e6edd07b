package graft.operators

import graft.functions.Canonical
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Two-phase chunked table comparison — the engine's core operator.
  *
  * Re-expresses the reference's `sync_diff_inspector` pipeline
  * (configured at `/root/reference/syncdiff_config2/my_database_users.toml`)
  * as declarative Spark plans:
  *
  *   phase 1 (cheap, full-scan):  per-chunk (count, checksum) on both sides,
  *     full-outer equi-join on chunk_id, keep mismatches   [SURVEY.md J1/A1/C1]
  *   phase 2 (row drill-down):    both sides pruned to bad chunks, full-outer
  *     join on PK, classify missing / extra / mismatch     [SURVEY.md J2]
  *
  * Scale posture (100 TB): phase 1 is one shuffle per side (partial
  * aggregation map-side; the 48-bit fingerprints sum as two 24-bit halves,
  * which no chunk size overflows); the bad chunk list is small in the
  * common near-identical case, so phase 2 prunes with either (a)
  * pushed-down PK range predicates when few chunks differ — the parquet
  * scan then skips row groups via min/max stats, the direct analogue of
  * the reference's index-hinted chunk range scans
  * (`my_database_users.toml:21,30`) — or (b) a semi-join on chunk_id when
  * many differ, which the planner broadcasts when its size limit allows.
  * Nothing unbounded is collected: the id list is capped, and past the cap
  * phase 2 joins the whole tables. One front end ([[badChunkSides]]) makes
  * this choice for both the keyed [[rowDiff]] and the keyless
  * [[HashDiff.diff]].
  *
  * Both sides are matched by column name: a replica that holds the same
  * columns in another order is compared in upstream's order.
  */
object TableDiff {

  /** Comparison parameters for one table pair.
    *
    * @param pkCols     primary-key columns (row identity — SURVEY.md §1.1)
    * @param chunkBy    numeric leading-PK column used for range chunking
    * @param chunkWidth PK-value width of one chunk (reference chunk-size
    *                   analogue, `config.toml:21`)
    * @param range      free-form SQL row restriction, both sides
    *                   (`my_database_users.toml:46`, default "1 = 1")
    * @param hashBuckets when set, chunk by md5-hash bucket of the row
    *                   fingerprint instead of leading-column ranges — the
    *                   composite / non-numeric PK fallback (SURVEY.md
    *                   §7.4). Hash chunks have no contiguous range
    *                   predicate, so the row pass always uses the
    *                   semi-join / flat tiers. Size the bucket count WELL
    *                   ABOVE the expected number of drifted rows (so most
    *                   buckets stay clean and the semi-join actually
    *                   prunes — VERDICT r03 #2): at 100 TB (~10^11 rows)
    *                   with replication-lag-sized drift, 2^16..2^20
    *                   buckets, i.e. ~10^5..10^6 rows a bucket. Any count
    *                   is safe for the checksum lane, down to one bucket:
    *                   its split half-sums hold 2^39 rows per chunk. All
    *                   copies of a row share a bucket, so a keyless
    *                   multiset diff may prune to the bad buckets too
    *                   ([[HashDiff]], at a fixed 2^14); pkCols, chunkBy and
    *                   chunkWidth are then read only by [[rowDiff]].
    * @param crcCompat  checksum chunks with sync_diff_inspector's
    *                   `BIT_XOR(CRC32(serial))` ([[chunkChecksums]])
    */
  case class DiffSpec(
      pkCols: Seq[String],
      chunkBy: String,
      chunkWidth: Long,
      range: String = "1 = 1",
      hashBuckets: Option[Int] = None,
      crcCompat: Boolean = false)

  /** Phase 2 prunes by range predicate up to this many MERGED ranges, not
    * raw chunk ids: a big OR of ranges over scattered singleton chunks
    * costs more per scanned row than a hash semi-join and skips no row
    * groups (plan-audited at sf0.1: ~190 scattered ranges benched slower
    * than the semi tier). Few/contiguous ranges are the case where min/max
    * stats actually prune IO.
    */
  private val MaxPushdownRanges = 32

  /** Most bad chunk ids phase 2 collects (≈ 800 KB of driver memory) and
    * semi-joins on. Past it, drift is pervasive: pruning would keep about
    * everything, and the flat full-table row join is cheaper.
    */
  private val MaxPrunedChunks = 100000

  /** Chunk-id expression for `df` under the spec's chunking mode: a range
    * of the chunk column, or a hash bucket of the row's 48-bit fingerprint
    * `fp48` (evaluated only in hash mode, so a caller that already
    * computed `row_fp` passes that column and pays one digest per row).
    */
  private def chunkCol(df: DataFrame, spec: DiffSpec, fp48: => Column): Column =
    spec.hashBuckets match {
      case Some(b) => Canonical.chunkIdFromFp(fp48, b)
      case None => Canonical.chunkId(col(spec.chunkBy), spec.chunkWidth,
        df.select(col(spec.chunkBy)).schema.head.dataType)
    }

  private def fp48(df: DataFrame): Column = Canonical.fingerprint48(fpCols(df))

  /** Every column of `df` with its type: the fingerprint's input. */
  private[operators] def fpCols(df: DataFrame): Seq[(Column, org.apache.spark.sql.types.DataType)] =
    df.schema.fields.toSeq.map(f => (col(f.name), f.dataType))

  /** `down` in `up`'s column order when the two hold the same columns in
    * another order. Fingerprints follow schema order, so without it such a
    * replica reads as drifted in every row while [[StructDiff]], which
    * matches columns by name, reports its structure equal. Any other
    * `down` is returned as it is.
    */
  private def aligned(up: DataFrame, down: DataFrame): DataFrame =
    if (up.columns.sameElements(down.columns) ||
        up.columns.sorted.toSeq != down.columns.sorted.toSeq) down
    else down.select(up.columns.toSeq.map(col): _*)

  /** Per-chunk (row count, commutative checksum). One shuffle; partial agg
    * happens map-side (HashAggregateExec partial/final).
    *
    * The default checksum is the split sum of the 48-bit md5 lane,
    * `checksum_hi` / `checksum_lo` ([[Canonical.checksumSums]]):
    * order-independent, duplicate-sensitive, and no chunk of fewer than
    * 2^39 rows can overflow it. `spec.crcCompat` replaces it with one
    * `checksum` column holding sync_diff_inspector's published
    * `BIT_XOR(CRC32(serial))`, letting a migrating user
    * cross-validate chunk checksums against a live
    * TiDB/MySQL endpoint byte for byte (see [[Canonical.crcRow]] for the
    * construction and the XOR duplicate-blindness caveat that keeps this
    * opt-in). Both lanes are map-side-combining single-shuffle aggregates.
    */
  def chunkChecksums(df: DataFrame, spec: DiffSpec): DataFrame = {
    val rows = df.filter(expr(spec.range))
    if (spec.crcCompat) {
      // crc lane only — the md5 lane is not computed here unless hash
      // bucketing needs it for the chunk id.
      rows.withColumn("row_crc", Canonical.crcRow(fpCols(df)))
        .withColumn("chunk_id", chunkCol(df, spec, fp48(df)))
        .groupBy("chunk_id")
        .agg(count(lit(1)).as("cnt"), expr("bit_xor(row_crc)").as("checksum"))
    } else
      // hash mode: ONE digest per row serves both the checksum lane and the
      // chunk id (VERDICT r03 #2 — the chunk id derives from row_fp, not
      // from a second digest of the PK serial). The 48-bit lane checksums;
      // row EQUALITY elsewhere uses the full 128-bit lane — see
      // [[graft.functions.Canonical]] collision discipline.
      rows.withColumn("row_fp", fp48(df))
        .withColumn("chunk_id", chunkCol(df, spec, col("row_fp")))
        .groupBy("chunk_id")
        .agg(count(lit(1)).as("cnt"), Canonical.checksumSums(col("row_fp")): _*)
  }

  /** Joined per-chunk relation of both sides with a badness flag — shared
    * by [[badChunks]] (filter) and [[summary]] (aggregate) so the report
    * path runs ONE chunk-level pass instead of re-running the full diff
    * pipeline per verdict/count.
    */
  private def chunkJoin(up: DataFrame, down: DataFrame, spec: DiffSpec): DataFrame = {
    val u = chunkChecksums(up, spec)
    val lanes = u.columns.filter(_ != "chunk_id") // cnt + the checksum lane(s)
    def side(df: DataFrame, p: String) =
      df.withColumnsRenamed(lanes.map(c => c -> s"$p$c").toMap)
    side(u, "up_").join(side(chunkChecksums(aligned(up, down), spec), "down_"),
        Seq("chunk_id"), "full_outer")
      .withColumn("is_bad",
        col("up_cnt").isNull || col("down_cnt").isNull ||
          lanes.map(c => col(s"up_$c") =!= col(s"down_$c")).reduce(_ || _))
  }

  /** One-pass per-table comparison summary: both row counts plus the
    * bad-chunk tally, from a single chunk-level aggregation (one shuffle
    * per side + one tiny global agg). The report stage uses this instead
    * of recomputing the whole diff pipeline per verdict/count.
    */
  def summary(up: DataFrame, down: DataFrame, spec: DiffSpec): DataFrame =
    chunkJoin(up, down, spec).agg(
      sum(coalesce(col("up_cnt"), lit(0L))).as("upcount"),
      sum(coalesce(col("down_cnt"), lit(0L))).as("downcount"),
      sum(when(col("is_bad"), 1L).otherwise(0L)).as("bad_chunks"))

  /** Chunk-level full-outer diff: chunks present on one side only, or with
    * differing count/checksum. Output is small (bad chunks only).
    */
  def badChunks(up: DataFrame, down: DataFrame, spec: DiffSpec): DataFrame =
    chunkJoin(up, down, spec).filter(col("is_bad")).drop("is_bad")

  /** Bad chunk ids merged into maximal contiguous PK ranges. */
  def mergedRanges(ids: Seq[Long], spec: DiffSpec): List[(Long, Long)] =
    ids.sorted
      .foldLeft[List[(Long, Long)]](Nil) { // merge adjacent chunk ranges
        case ((lo, hi) :: rest, id) if id * spec.chunkWidth == hi + 1 =>
          (lo, (id + 1) * spec.chunkWidth - 1) :: rest
        case (acc, id) =>
          (id * spec.chunkWidth, (id + 1) * spec.chunkWidth - 1) :: acc
      }

  /** Pushed-down PK range predicate covering the given chunk ids: adjacent
    * chunks merge into one range, so the parquet scan skips clean row
    * groups via min/max stats — the direct analogue of the reference's
    * index-hinted chunk range scans (`my_database_users.toml:21,30`).
    * Bounds are half-open, `lo <= k < hi + 1`, because a chunk holds
    * every k with `floor(k / width)` = its id: a fractional or decimal
    * key such as 9.5 lies in chunk 0 but outside `BETWEEN 0 AND 9`.
    */
  def chunkRangePredicate(ids: Seq[Long], spec: DiffSpec): Column =
    if (ids.isEmpty) lit(false)
    else mergedRanges(ids, spec)
      .map { case (lo, hi) =>
        col(spec.chunkBy) >= lo && col(spec.chunkBy) < hi + 1 }
      .reduce(_ || _)

  /** Semi-join one side down to the given (bad) chunk ids — the phase-2
    * prune tier for chunkings with no contiguous range predicate. The ids
    * are a local relation of at most `MaxPrunedChunks` longs: at default
    * settings the planner broadcasts it, and a session with auto-broadcast
    * turned off gets a shuffled semi-join. Public so the prune's
    * effectiveness is assertable in specs: with buckets ≫ drift, this
    * scans FEWER rows than the flat join would.
    */
  def pruneToChunks(df: DataFrame, ids: Seq[Long], spec: DiffSpec): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.join(ids.toDF("__bad_chunk_id"),
      chunkCol(df, spec, fp48(df)) === col("__bad_chunk_id"), "left_semi")
  }

  /** The drill-down front end: both sides cut down to the bad chunks, with
    * `down` in `up`'s column order. One phase-1 pass collects the bad chunk
    * ids, at most `MaxPrunedChunks` + 1 of them. Nothing is cached — the
    * previous persist-based variant leaked MEMORY_AND_DISK cache across
    * calls (ADVICE r01). The prune tier then follows from the ids:
    *   - flat: more than `MaxPrunedChunks` ids, both sides whole. The cap
    *     is checked first: the collected ids are then only some of the bad
    *     chunks, and pruning to them would drop the others' rows;
    *   - range: a range chunking whose ids merge into at most
    *     `MaxPushdownRanges` ranges filters by [[chunkRangePredicate]];
    *   - semi: any other id list, [[pruneToChunks]].
    * No bad chunk prunes both sides to an empty relation, whose row join
    * then runs no job.
    */
  private[operators] def badChunkSides(up: DataFrame, down: DataFrame,
                                       spec: DiffSpec): (DataFrame, DataFrame) = {
    val dn = aligned(up, down)
    val ids = badChunks(up, dn, spec).select("chunk_id")
      .limit(MaxPrunedChunks + 1)
      .collect().map(_.getLong(0)).toSeq
    if (ids.length > MaxPrunedChunks) (up, dn) // a truncated list prunes nothing
    else if (spec.hashBuckets.isEmpty && mergedRanges(ids, spec).length <= MaxPushdownRanges) {
      val pred = chunkRangePredicate(ids, spec)
      (up.filter(pred), dn.filter(pred))
    } else (pruneToChunks(up, ids, spec), pruneToChunks(dn, ids, spec))
  }

  /** Phase-2 row-level full-outer diff restricted to bad chunks; with
    * `twoPhase = false`, over the whole tables (the reference the pruned
    * form must equal).
    *
    * Output: PK columns (coalesced), diff_kind in
    * {missing_on_down, extra_on_down, value_mismatch}, both fingerprints,
    * and the upstream row's canonical CSV payload (for fix-SQL).
    */
  def rowDiff(up: DataFrame, down: DataFrame, spec: DiffSpec,
              twoPhase: Boolean = true): DataFrame = {
    val (upIn, downIn) =
      if (twoPhase) badChunkSides(up, down, spec) else (up, aligned(up, down))
    // Row-level join: equality on the FULL 128-bit md5 lane; repair payload
    // is the executable SQL-literal form (not the fingerprint serial).
    val u = upIn.filter(expr(spec.range)).select(
      spec.pkCols.map(col) ++ Seq(
        Canonical.fingerprint(fpCols(upIn)).as("up_fp"),
        Canonical.sqlValues(fpCols(upIn)).as("up_vals")): _*)
    val d = downIn.filter(expr(spec.range)).select(
      spec.pkCols.map(col) :+
        Canonical.fingerprint(fpCols(downIn)).as("down_fp"): _*)
    u.join(d, spec.pkCols, "full_outer")
      .withColumn(
        "diff_kind",
        when(col("down_fp").isNull, lit("missing_on_down"))
          .when(col("up_fp").isNull, lit("extra_on_down"))
          .when(col("up_fp") =!= col("down_fp"), lit("value_mismatch")))
      .filter(col("diff_kind").isNotNull)
      .select((spec.pkCols.map(col) ++
        Seq(col("diff_kind"), col("up_fp"), col("down_fp"), col("up_vals"))): _*)
  }
}
