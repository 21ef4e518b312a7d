package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import scala.collection.mutable.ArrayBuffer

/** The SCD2 dimension build as a STATEFUL streaming query — the streaming
  * twin of batch `cdc_scd2` (same tier attribute, same no-op compaction,
  * same versioned validity intervals), oracled against the SAME SQL.
  *
  * SCD2 is ORDER-SENSITIVE (unlike latest-state's order-free argmax): an
  * interior late event can open or suppress a version, so eager folding
  * would emit wrong intervals under admissible lateness. The state machine
  * therefore does event-time-ordered processing: arriving events BUFFER in
  * state, and each invocation folds only the (us, event_id)-sorted prefix
  * at or below the current watermark — once the watermark passes an event,
  * no earlier event can ever be admitted (the late filter drops raw event
  * time < watermark), so the folded prefix is final. Versions emit as they
  * CLOSE; the open version emits with the BIGINT-max sentinel when the key
  * is flushed (by the staged data sentinel on finite input, by event-time
  * timeout on an unbounded stream — the latest-state protocol).
  *
  * State per key is the open version's scalars plus the buffer TAIL above
  * the watermark — bounded by the key's event volume inside one watermark
  * horizon, never the key's history. At 100 TB the query shards by
  * user_id; the state store holds each key's horizon tail.
  *
  * Contract shared with the batch query: `value` is non-null (the tier
  * expression would otherwise need the batch filter's null-lag semantics
  * replicated here).
  */
object StreamScd2 {

  case class Ev(user_id: Long, event_id: Long, us: Long, tier: Long,
      tsm: java.sql.Timestamp)
  case class Scd2State(buf: Vector[(Long, Long, Long)], // (us, event_id, tier)
      version: Int, openFrom: Long, openTier: Long, hasOpen: Boolean)
  case class VersionRow(user_id: Long, version: Int, tier: Long,
      valid_from_us: Long, valid_to_us: Long, is_current: Boolean)

  /** Fold every buffered event at or below `safeUs` (all buffered events
    * when flushing); returns the advanced state and appends closed-version
    * rows. The open version only closes when a SAFE event changes the tier
    * — exactly the batch lag/lead semantics over the global per-key order.
    */
  private def foldSafe(user: Long, s: Scd2State, safeUs: Long, flush: Boolean,
      out: ArrayBuffer[VersionRow]): Scd2State = {
    val sorted = s.buf.sortBy(e => (e._1, e._2))
    // strictly below the watermark: Spark's late filter only drops rows
    // with RAW event time < watermark (pinned empirically, LateDropSpec),
    // so an event timestamped EXACTLY at the watermark can still arrive in
    // a later batch — folding the boundary timestamp eagerly would emit
    // versions out of (us, event_id) order. The boundary event stays
    // buffered until the watermark passes it.
    val (safe, rest) =
      if (flush) (sorted, Vector.empty[(Long, Long, Long)])
      else sorted.span(_._1 < safeUs)
    var (version, openFrom, openTier, hasOpen) =
      (s.version, s.openFrom, s.openTier, s.hasOpen)
    safe.foreach { case (us, _, tier) =>
      if (!hasOpen) {
        version += 1; openFrom = us; openTier = tier; hasOpen = true
      } else if (tier != openTier) {
        out += VersionRow(user, version, openTier, openFrom, us, is_current = false)
        version += 1; openFrom = us; openTier = tier
      } // same tier: the no-op the batch lag() pass compacts away
    }
    if (flush && hasOpen) {
      out += VersionRow(user, version, openTier, openFrom, Long.MaxValue,
        is_current = true)
      hasOpen = false
    }
    Scd2State(rest, version, openFrom, openTier, hasOpen)
  }

  private[streaming] def onGroup(
      user: Long, it: Iterator[Ev], state: GroupState[Scd2State]): Iterator[VersionRow] = {
    val out = new ArrayBuffer[VersionRow]
    if (state.hasTimedOut) {
      // key quiet past the horizon: everything buffered is final
      foldSafe(user, state.get, Long.MaxValue, flush = true, out)
      state.remove()
    } else {
      val evs = it.toArray
      val sentinel = evs.exists(_.event_id == -1L)
      val data = evs.filter(_.event_id != -1L).map(e => (e.us, e.event_id, e.tier))
      val cur = state.getOption.getOrElse(
        Scd2State(Vector.empty, 0, 0L, 0L, hasOpen = false))
      val buffered = cur.copy(buf = cur.buf ++ data)
      val wmUs = state.getCurrentWatermarkMs() * 1000L
      val next = foldSafe(user, buffered, wmUs, flush = sentinel, out)
      if (sentinel) {
        if (state.exists) state.remove()
      } else {
        state.update(next)
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 30L * 60 * 1000)
      }
    }
    out.iterator
  }

  def apply(spark: SparkSession, sfDir: String): DataFrame =
    graft.tables.Tables.withShufflePartitions(spark, 4) {
      import spark.implicits._
      val versions = StagedEvents.eventStream(spark, sfDir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"),
          // tier 0 ONLY for the staged flush sentinels (event_id == -1,
          // synthesized with null value; dropped before folding). A real
          // event with null value violates the non-null contract shared
          // with batch cdc_scd2 and must fail LOUDLY (non-nullable Ev.tier
          // rejects the null at deserialization) — a silent coalesce would
          // fold a fabricated tier 0 indistinguishable from real data.
          when(col("event_id") === -1L, lit(0L))
            .otherwise(floor(col("value")).cast("long") % 5L).as("tier"),
          col("ts").as("tsm"))
        .withWatermark("tsm", "30 minutes")
        .as[Ev]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(
          OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(onGroup)
      val drained = Drain.toMemory(spark, "stream_scd2", versions.toDF())
      drained.select(col("user_id"), col("version"), col("tier"),
        col("valid_from_us"), col("valid_to_us"), col("is_current"))
    }
}
