package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** CDC-style latest-state compaction as a STATEFUL streaming query: an
  * unbounded event log keyed by user collapses to one row per key holding
  * the newest (event-time, event_id)-ordered value plus the update count —
  * the "log → table" materialization every training-data pipeline runs
  * over versioned documents (keep the newest version, count the churn).
  *
  * `flatMapGroupsWithState` with per-key constant state (newest us/id/value
  * + a counter), event-time timeout emitting the compacted row once the
  * watermark passes — the state store holds ONE tiny record per live key,
  * never the log. Late events the watermark admits fold in exactly like
  * in-order ones (max by (us, event_id) is order-free), which is why the
  * finite-input run reproduces the batch argmax oracle bit-for-bit.
  *
  * Determinism for the oracle check: the same per-user far-future sentinel
  * protocol as [[StatefulSessionize]] ([[StagedEvents]]) — every key's
  * final row is emitted by data, not wall-clock.
  */
object StatefulLatestState {

  case class Ev(user_id: Long, event_id: Long, us: Long,
      value: Option[Double], tsm: java.sql.Timestamp)
  case class Latest(us: Long, eventId: Long, value: Option[Double], n: Long)
  case class LatestRow(user_id: Long, last_us: Long,
      last_value: Option[Double], n_events: Long)

  private[streaming] def onGroup(
      user: Long, it: Iterator[Ev], state: GroupState[Latest]): Iterator[LatestRow] = {
    def rowOf(s: Latest) = LatestRow(user, s.us, s.value, s.n)
    if (state.hasTimedOut) {
      val s = state.get
      state.remove()
      Iterator.single(rowOf(s))
    } else {
      // fold order-free (max by (us, event_id)); the sort only makes the
      // sentinel flush land after every real event of its batch
      val evs = it.toArray.sortBy(e => (e.us, e.event_id))
      var cur = state.getOption
      val out = scala.collection.mutable.ArrayBuffer.empty[LatestRow]
      evs.foreach { e =>
        if (e.event_id == -1L) { // sentinel: flush, never counts as data
          cur.foreach(s => out += rowOf(s)); cur = None
        } else cur match {
          case None => cur = Some(Latest(e.us, e.event_id, e.value, 1L))
          case Some(s) =>
            val newer = e.us > s.us || (e.us == s.us && e.event_id > s.eventId)
            cur = Some(
              if (newer) Latest(e.us, e.event_id, e.value, s.n + 1)
              else s.copy(n = s.n + 1))
        }
      }
      cur match {
        case Some(s) =>
          state.update(s)
          // on an unbounded stream the compacted row emits once the key
          // goes quiet past the watermark horizon; never at or before the
          // current watermark (Spark rejects that)
          state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 30L * 60 * 1000)
        case None =>
          if (state.exists) state.remove()
      }
      out.iterator
    }
  }

  def apply(spark: SparkSession, sfDir: String): DataFrame =
    graft.tables.Tables.withShufflePartitions(spark, 4) {
      applyInner(spark, sfDir)
    }

  private def applyInner(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val compacted = StagedEvents.eventStream(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("value"), col("ts").as("tsm"))
      .withColumn("us", unix_micros(col("tsm")))
      .withWatermark("tsm", "30 minutes")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(onGroup)
    val drained = Drain.toMemory(spark, "stream_latest_state", compacted.toDF())
    drained.select(col("user_id"), col("last_us"), col("last_value"), col("n_events"))
  }
}
