package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import scala.collection.mutable.ArrayBuffer

/** AS-OF ENRICHMENT at the ingest edge — the streaming twin of the batch
  * as-of family (j6/j8/j9): each arriving purchase is enriched with the
  * user's latest STRICTLY-PRIOR view (timestamp and value), the
  * lookup-the-state-as-of-this-event join every feature pipeline runs at
  * serving time. Spark has no native streaming as-of join; composing it
  * from the primitives is exactly what `flatMapGroupsWithState` is for.
  *
  * As-of is ORDER-SENSITIVE the same way SCD2 is: an admissibly-late
  * interior view changes which view is "latest prior" for purchases after
  * it, so eager per-batch folding would enrich against the wrong state.
  * The state machine therefore reuses the StreamScd2 discipline: arrivals
  * BUFFER in state; each invocation folds only the (us, event_id)-sorted
  * prefix strictly below the watermark (the boundary timestamp stays
  * buffered — Spark's late filter admits raw event time == watermark);
  * views advance the latest-view scalars, purchases emit enriched rows.
  *
  * State per key = two scalars + the buffer tail above the watermark —
  * bounded by one horizon's volume. On event-time timeout the safe prefix
  * folds and the SCALARS are kept (they are the key's entire as-of state,
  * O(1) forever — the latest-state shape), so a key quiet for a week still
  * enriches correctly when it wakes. The staged data sentinel flushes
  * finite input exactly once for the oracle comparison.
  */
object StreamAsof {

  case class Ev(user_id: Long, event_id: Long, us: Long, isView: Boolean,
      cents: Long, tsm: java.sql.Timestamp)
  case class AsofState(buf: Vector[(Long, Long, Boolean, Long)],
      vUs: Long, vCents: Long, hasView: Boolean)
  case class EnrichedRow(user_id: Long, event_id: Long, p_us: Long,
      v_us: Option[Long], v_cents: Option[Long])

  private def foldSafe(user: Long, s: AsofState, safeUs: Long, flush: Boolean,
      out: ArrayBuffer[EnrichedRow]): AsofState = {
    val sorted = s.buf.sortBy(e => (e._1, e._2))
    val (safe, rest) =
      if (flush) (sorted, Vector.empty[(Long, Long, Boolean, Long)])
      else sorted.span(_._1 < safeUs)
    var (vUs, vCents, hasView) = (s.vUs, s.vCents, s.hasView)
    safe.foreach { case (us, eid, isView, cents) =>
      if (isView) { vUs = us; vCents = cents; hasView = true }
      else out += EnrichedRow(user, eid, us,
        if (hasView) Some(vUs) else None,
        if (hasView) Some(vCents) else None)
    }
    AsofState(rest, vUs, vCents, hasView)
  }

  private[streaming] def onGroup(user: Long, it: Iterator[Ev],
      state: GroupState[AsofState]): Iterator[EnrichedRow] = {
    val out = new ArrayBuffer[EnrichedRow]
    val empty = AsofState(Vector.empty, 0L, 0L, hasView = false)
    if (state.hasTimedOut) {
      // quiet key: the buffer is final; keep the O(1) as-of scalars so a
      // late-waking key still enriches against its true latest view
      val next = foldSafe(user, state.get, Long.MaxValue, flush = true, out)
      state.update(next)
    } else {
      val evs = it.toArray
      val sentinel = evs.exists(_.event_id == -1L)
      val data = evs.filter(_.event_id != -1L)
        .map(e => (e.us, e.event_id, e.isView, e.cents))
      val cur = state.getOption.getOrElse(empty)
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
      val enriched = StagedEvents.eventStream(spark, sfDir)
        .filter(col("event_id") === -1L ||
          col("event_type").isin("view", "purchase"))
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"),
          // sentinels carry a null event_type → coalesce, they are
          // dropped before folding anyway
          coalesce(col("event_type") === "view", lit(false)).as("isView"),
          // cents 0 ONLY for the flush sentinels (null value by
          // construction, dropped before folding); a real null fails
          // loudly at deserialization (non-nullable Ev.cents)
          when(col("event_id") === -1L, lit(0L))
            .otherwise(round(col("value") * 100).cast("long")).as("cents"),
          col("ts").as("tsm"))
        .withWatermark("tsm", "30 minutes")
        .as[Ev]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(
          OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(onGroup)
      val drained = Drain.toMemory(spark, "stream_asof", enriched.toDF())
      drained.select(col("user_id"), col("event_id"), col("p_us"),
        col("v_us"), col("v_cents"))
    }
}
