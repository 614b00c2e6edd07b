package graft.streaming

import graft.functions.Canonical
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming continuous-diff extension (SURVEY.md §2.10): the reference is
  * batch-only over pinned snapshots; this maps its chunk-checksum core onto
  * an append stream with Structured Streaming. Time windows play the role
  * of PK-range chunks: a tumbling window over event time is a "chunk" whose
  * (count, checksum) can be compared across two streams — or against the
  * same window on a replica — once the watermark closes it.
  *
  * Scale posture: state per open window x key only (watermark bounds it);
  * the commutative checksum (the two 24-bit half-sums of the 48-bit lane,
  * [[graft.functions.Canonical.checksumSums]]) aggregates incrementally —
  * identical math to the batch [[graft.operators.TableDiff.chunkChecksums]], so a
  * completed stream window equals the batch answer over the same rows
  * (verified in the spec and by the batch `events_hourly_checksum` oracle).
  */
object StreamingDiff {

  /** Canonical fingerprint columns for the events stream. */
  def eventFp(df: DataFrame): Column = {
    val cols = df.schema.fields.toSeq
      .filter(f => Seq("event_id", "user_id", "event_type", "value").contains(f.name))
      .map(f => (col(f.name), f.dataType))
    Canonical.fingerprint48(cols)
  }

  /** Tumbling-window chunk checksums over an (optionally streaming)
    * events relation: per (window, event_type) row count + commutative
    * checksum. On a streaming input, pair with `watermark` so windows
    * finalize and state is evicted; on a batch input the same plan yields
    * the final answer directly.
    */
  def windowedChecksums(events: DataFrame, windowDur: String,
                        watermark: Option[String] = None): DataFrame = {
    val in = watermark.fold(events)(w => events.withWatermark("ts", w))
    in.withColumn("row_fp", eventFp(events))
      .groupBy(window(col("ts"), windowDur).as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), Canonical.checksumSums(col("row_fp")): _*)
      .select(col("w.start").as("window_start"), col("event_type"),
        col("cnt"), col("checksum_hi"), col("checksum_lo"))
  }

  /** Continuous dual-stream diff: tag each side, union, and aggregate
    * per (window, event_type) with CONDITIONAL per-side count/checksum
    * sums — one stateful aggregation instead of a stream-stream join, so
    * state stays one row per open window x key and is evicted by the
    * watermark. Rows where the sides disagree are the streaming
    * equivalent of [[graft.operators.TableDiff.badChunks]]; on batch
    * inputs it yields the final bad-window relation directly.
    */
  def windowedDiff(up: DataFrame, down: DataFrame, windowDur: String,
                   watermark: Option[String] = None): DataFrame = {
    def tagged(df: DataFrame, side: Int): DataFrame = {
      val in = watermark.fold(df)(w => df.withWatermark("ts", w))
      in.withColumn("row_fp", eventFp(df)).withColumn("side", lit(side))
    }
    // per side: row count and split checksum, prefixed up_ / down_
    def lanes(side: Int, prefix: String): Seq[Column] = {
      val mine = col("side") === side
      sum(when(mine, 1L).otherwise(0L)).as(s"${prefix}cnt") +:
        Canonical.checksumSums(when(mine, col("row_fp")).otherwise(0L), prefix)
    }
    val aggs = lanes(0, "up_") ++ lanes(1, "down_")
    tagged(up, 0).unionByName(tagged(down, 1))
      .groupBy(window(col("ts"), windowDur).as("w"), col("event_type"))
      .agg(aggs.head, aggs.tail: _*)
      .filter(col("up_cnt") =!= col("down_cnt") ||
        col("up_checksum_hi") =!= col("down_checksum_hi") ||
        col("up_checksum_lo") =!= col("down_checksum_lo"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("up_cnt"), col("up_checksum_hi"), col("up_checksum_lo"),
        col("down_cnt"), col("down_checksum_hi"), col("down_checksum_lo"))
  }

  /** Streaming exactly-once dedup on the event key within the watermark
    * horizon — the streaming face of [[graft.operators.Dedup.exact]].
    */
  def dedupStream(events: DataFrame, watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Custom chunk state for [[trackChunks]]. */
  case class ChunkState(cnt: Long, checksum: Long)
  case class ChunkUpdate(event_type: String, cnt: Long, checksum: Long)

  /** flatMapGroupsWithState chunk tracker: maintains a running (count,
    * checksum) per event_type and emits the updated summary on every
    * micro-batch — the custom-state analogue of the windowed aggregate,
    * here keyed by type alone (an unbounded "chunk") with explicit state
    * management, demonstrating the reference's incremental progress
    * reporting (`step3_run_syncdiff.sh:43-57`) as typed stream state.
    */
  def trackChunks(events: Dataset[(String, Long)]): Dataset[ChunkUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[ChunkState, ChunkUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, Long)], state: GroupState[ChunkState]) =>
          val prev = state.getOption.getOrElse(ChunkState(0L, 0L))
          val next = rows.foldLeft(prev) { case (s, (_, fp)) =>
            ChunkState(s.cnt + 1, s.checksum + fp)
          }
          state.update(next)
          Iterator(ChunkUpdate(key, next.cnt, next.checksum))
      }
  }
}
