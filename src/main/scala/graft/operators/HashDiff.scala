package graft.operators

import graft.functions.Canonical
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Keyless (multiset) table diff.
  *
  * The reference's engine requires an index to key the comparison
  * (`sync_diff_inspector` chunks by PK/index ranges —
  * `my_database_users.toml:45`); tables without a unique key cannot be
  * compared row-by-row. This operator adds the standard fallback: compare
  * the two sides as multisets of canonical row fingerprints. Classes
  * reduce to missing/extra (a "mutation" appears as one missing + one
  * extra fingerprint); no fix-SQL keying is possible, matching the
  * reference's index requirement rationale.
  *
  * Two phases, as [[TableDiff]]'s: chunks are hash buckets of the row's
  * own fingerprint ([[Canonical.chunkIdFromFp]]), so every copy of a row
  * lands in the same bucket and the multiset diff over the rows of the
  * bad buckets is exactly the diff over the whole table.
  *   - phase 1 ([[summary]], and the first step of [[diff]]): one
  *     map-side-combining (count, checksum) aggregate per side into
  *     2^14 buckets, then a join on bucket id. Its shuffle is bounded by
  *     the bucket count per map task, not by the row count; a shuffle of
  *     per-row fingerprints cannot combine (nearly every one is distinct).
  *   - phase 2 (the rest of [[diff]]): [[TableDiff]]'s drill-down front
  *     end keeps only the rows of the bad buckets on each side (a
  *     semi-join on at most 2^14 ids, so nothing unbounded reaches the
  *     driver), and only those rows pay for the 128-bit fingerprint, the
  *     sample payload and the fingerprint shuffle. Under pervasive drift
  *     every bucket is bad and phase 2 is the full shuffled multiset join;
  *     only the id list may be broadcast, never the fingerprints.
  *
  * Collision discipline ([[graft.functions.Canonical]]): the clean verdict
  * and the bucket pruning rest on the 48-bit split-sum checksum and row
  * count per bucket, as the keyed verdict does — a drift is missed only if
  * its bucket's count and 48-bit sum both collide. Multiset membership
  * inside the bad buckets is decided on the full 128-bit md5.
  */
object HashDiff {

  /** Fingerprint buckets. A sweep of 2^12 / 2^14 / 2^16 on ~300 000
    * lineitem rows gave the lowest summary + diff CPU at 2^14: fewer
    * buckets keep more clean rows in phase 2, more widen phase 1's
    * aggregate. Not an option; package-visible for the specs.
    */
  private[graft] val Buckets = 1 << 14

  // hash-bucket mode reads no key or range column
  private val spec = TableDiff.DiffSpec(Nil, "", 1, hashBuckets = Some(Buckets))

  /** Multiset diff of two homologous tables: rows whose fingerprint
    * multiplicity differs. Output: row_fp (lowercase hex), diff_kind,
    * up_cnt, down_cnt (0 when absent), sample serial payload from
    * whichever side has the row. Phase 1 runs when this is called; with
    * no bad bucket, both sides prune to empty relations and the result
    * runs no job.
    */
  def diff(up: DataFrame, down: DataFrame): DataFrame = {
    val (u, d) = TableDiff.badChunkSides(up, down, spec)
    // Rows with equal fingerprints serialize identically, so one min()
    // sample per fp and side equals the per-side min the oracle computes.
    def side(df: DataFrame, p: String): DataFrame = {
      val cols = TableDiff.fpCols(df)
      df.select(Canonical.fingerprintBytes(cols).as("fp"),
          Canonical.serialCsv(cols).as("vals"))
        .groupBy("fp")
        .agg(count(lit(1)).as(s"${p}_cnt"), min(col("vals")).as(s"${p}_vals"))
    }
    side(u, "up").join(side(d, "down"), Seq("fp"), "full_outer")
      .na.fill(0L, Seq("up_cnt", "down_cnt"))
      .filter(col("up_cnt") =!= col("down_cnt"))
      .select(lower(hex(col("fp"))).as("row_fp"),
        when(col("up_cnt") > col("down_cnt"), lit("missing_on_down"))
          .otherwise(lit("extra_on_down")).as("diff_kind"),
        col("up_cnt"), col("down_cnt"),
        least(col("up_vals"), col("down_vals")).as("vals"))
  }

  /** Per-table summary for the report stage: both row counts and the
    * number of bad buckets (only `> 0` carries meaning: the tables differ).
    */
  def summary(up: DataFrame, down: DataFrame): DataFrame =
    TableDiff.summary(up, down, spec)
}
