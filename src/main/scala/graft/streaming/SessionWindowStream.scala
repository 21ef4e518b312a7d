package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Gap-based sessions via Spark's BUILT-IN `session_window` aggregation
  * running as a watermarked streaming query — the third leg of the
  * sessionization triangle next to the batch window twin
  * (`w3b_session_window`) and the hand-rolled stateful machine
  * (`stream_sessionize_stateful`). Same >30-minute-gap rule, same
  * end-inclusive merge boundary, and the SAME SQL oracle as the batch
  * variant: dynamic session merging inside the streaming state store must
  * reproduce the batch gaps-and-islands answer exactly.
  *
  * Finite-input determinism reuses the [[StagedEvents]] sentinel protocol:
  * one far-future row per user advances the watermark past every real
  * session so the final no-data micro-batch flushes them all (append-mode
  * session windows emit only once the watermark passes their close). The
  * sentinel's own one-event session stays forever unflushed — the
  * watermark never passes it — so no output filtering is even needed; the
  * belt-and-suspenders `n_events > 0` filter below only guards the
  * impossible sentinel-merged case.
  *
  * The whole staged input drains as ONE micro-batch (no maxFilesPerTrigger
  * cap): the late-record filter still carries the zero watermark while
  * every row is admitted, then the post-batch watermark jumps past all
  * real sessions at once. At 100 TB the same plan shards session state by
  * `user_id` across executors — merging is per-key in the state store,
  * nothing about the operator is single-node.
  */
object SessionWindowStream {

  def apply(spark: SparkSession, sfDir: String): DataFrame =
    graft.tables.Tables.withShufflePartitions(spark, 4) {
      val sessions = StagedEvents.eventStream(spark, sfDir)
        .withWatermark("ts", "30 minutes")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(
          sum(when(col("event_id") >= 0, 1L).otherwise(0L)).as("n_events"),
          ((max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
            / 1000000.0).as("duration_sec"))
      Drain.toMemory(spark, "stream_session_window", sessions)
        .filter(col("n_events") > 0)
        .select(col("user_id"), col("n_events"), col("duration_sec"))
    }
}
