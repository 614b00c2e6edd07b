package graft.operators

import graft.functions.Canonical
import org.apache.spark.sql.{DataFrame}
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
  * Scale posture: one groupBy(fingerprint) shuffle per side with map-side
  * partial counts, then an equi-join on the fingerprint — both shuffles
  * hash-partition on the same key, so AQE coalesces and no re-shuffle
  * happens for the join. The shuffled key is the 16-byte BINARY md5, not
  * its 32-char hex rendering (2.5x narrower per row at 100 TB — VERDICT
  * r03 #8); hex is restored only on the drift-bounded output. Sample
  * payloads never ride the full-table shuffle: the count pass groups bare
  * fingerprints, and payloads are re-derived in a second pass that is
  * semi-join-filtered down to the (drift-bounded) differing fingerprints
  * first — the same bounded-broadcast posture as TableDiff's bad-chunk
  * list.
  *
  * Multiset membership is decided on the FULL 128-bit md5 fingerprint
  * (collision discipline, [[graft.functions.Canonical]]) — this keyless
  * path has no row drill-down to catch a truncated-hash collision, so the
  * full lane is mandatory here.
  */
object HashDiff {

  private def fpCols(df: DataFrame) =
    df.schema.fields.toSeq.map(f => (col(f.name), f.dataType))

  /** (fp BINARY(16), count) for one side — the narrow count pass. */
  private def counted(df: DataFrame, cnt: String): DataFrame =
    df.select(Canonical.fingerprintBytes(fpCols(df)).as("fp"))
      .groupBy("fp").agg(count(lit(1)).as(cnt))

  private def joined(up: DataFrame, down: DataFrame): DataFrame =
    counted(up, "up_cnt")
      .join(counted(down, "down_cnt"), Seq("fp"), "full_outer")
      .withColumn("up_cnt", coalesce(col("up_cnt"), lit(0L)))
      .withColumn("down_cnt", coalesce(col("down_cnt"), lit(0L)))

  /** Multiset diff of two homologous tables: rows whose fingerprint
    * multiplicity differs. Output: row_fp (lowercase hex), diff_kind,
    * up_cnt, down_cnt (0 when absent), sample serial payload from
    * whichever side has the row.
    */
  def diff(up: DataFrame, down: DataFrame): DataFrame = {
    val diffs = joined(up, down).filter(col("up_cnt") =!= col("down_cnt"))

    // Payload pass: re-derive the serialized row ONLY for fingerprints
    // already known to differ. A forced broadcast() of that set would be
    // right in the common drift-bounded case but corpus-sized under
    // pervasive drift (wrong table pairing / mass mutation) → driver OOM,
    // the exact case TableDiff guards with maxBroadcastChunks. Here the
    // guard is free: the fp set sits at a shuffle-stage boundary, so
    // AQE's runtime size check converts the semi-join to broadcast-hash
    // only when the materialized stage is actually small, and keeps the
    // shuffled semi-join (on fp — the key both groupBys already
    // partition on) when it is not. No driver-side count, no extra pass,
    // and the decision is bytes-based rather than a guessed row cap.
    val fps = diffs.select("fp")
    // Rows with equal fingerprints serialize identically, so one min()
    // sample per fp equals the per-side min/coalesce the oracle computes.
    def sideVals(df: DataFrame): DataFrame =
      df.select(Canonical.fingerprintBytes(fpCols(df)).as("fp"),
        Canonical.serialCsv(fpCols(df)).as("vals"))
    val samples = sideVals(up).unionByName(sideVals(down))
      .join(fps, Seq("fp"), "left_semi")
      .groupBy("fp").agg(min(col("vals")).as("vals"))

    diffs.join(samples, Seq("fp"), "left")
      .withColumn("diff_kind",
        when(col("up_cnt") > col("down_cnt"), lit("missing_on_down"))
          .otherwise(lit("extra_on_down")))
      .select(lower(hex(col("fp"))).as("row_fp"),
        col("diff_kind"), col("up_cnt"), col("down_cnt"), col("vals"))
  }

  /** One-pass summary (both row counts + differing-fingerprint tally) for
    * the report stage — avoids re-running the diff per verdict/count.
    */
  def summary(up: DataFrame, down: DataFrame): DataFrame =
    joined(up, down).agg(
      sum(col("up_cnt")).as("upcount"),
      sum(col("down_cnt")).as("downcount"),
      sum(when(col("up_cnt") =!= col("down_cnt"), 1L).otherwise(0L))
        .as("bad_fingerprints"))
}
