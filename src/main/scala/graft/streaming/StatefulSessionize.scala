package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import scala.collection.mutable.ArrayBuffer

/** Gap-based sessionization as a STATEFUL Structured Streaming query:
  * `flatMapGroupsWithState` keyed by user, custom per-group state (the open
  * session), event-time timeout closing idle sessions past the watermark.
  *
  * This is the streaming twin of the batch `w3_sessionize` query (same
  * >30-minute-gap rule, same 0-based session ordinals) and of the
  * reference's per-file ordered-scan state machines (the precursor as-of
  * lookup, mzml_statistics.py:253-260, walks spectra in order carrying
  * "last MS1 seen" state — exactly a GroupState over the file key).
  *
  * Determinism for the finite-input oracle check: a far-future sentinel
  * event per user (event_id = -1) is staged next to the real file, so every
  * real session is closed by data rather than by wall-clock, and the output
  * is exactly the batch answer. On an unbounded stream the sentinel path is
  * simply never taken and the event-time timeout does the closing — that
  * branch is what `GroupState.hasTimedOut` handles.
  *
  * At 100 TB the same plan shards by `user_id` across executors with
  * per-key state in the state store; nothing here is single-node.
  */
object StatefulSessionize {

  private val GapUs = 30L * 60 * 1000000

  // tsm carries the watermarked event-time column through the typed view:
  // a lossy map{} to a tsm-less class would drop the watermark attribute and
  // Spark rejects EventTimeTimeout without a watermark in the child plan.
  case class Ev(user_id: Long, event_id: Long, us: Long, tsm: java.sql.Timestamp)
  case class Open(startUs: Long, lastUs: Long, n: Long, ordinal: Long)
  case class SessionRow(user_id: Long, session_id: Long, n_events: Long, duration_sec: Double)

  /** The per-group state transition. Events within a batch are sorted by
    * (time, id); the open session survives in `state` across batches.
    */
  private[streaming] def onGroup(
      user: Long, it: Iterator[Ev], state: GroupState[Open]): Iterator[SessionRow] = {
    if (state.hasTimedOut) {
      val s = state.get
      if (s.n == 0) {
        // the ordinal-continuation marker's own TTL expired → drop the
        // user's state entirely (bounds state-store growth on unbounded
        // streams; a user returning later restarts at ordinal 0)
        state.remove()
        Iterator.empty
      } else {
        // watermark passed lastUs + gap → close the session. Leave a
        // zero-event marker carrying the next ordinal, with its own
        // gap-length TTL so churned users don't accumulate state forever.
        state.update(Open(0L, 0L, 0L, s.ordinal + 1))
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + GapUs / 1000)
        Iterator.single(SessionRow(user, s.ordinal, s.n, (s.lastUs - s.startUs) / 1e6))
      }
    } else {
      val evs = it.toArray.sortBy(e => (e.us, e.event_id))
      val out = new ArrayBuffer[SessionRow]
      var cur: Option[Open] = state.getOption
      def close(s: Open): Unit =
        out += SessionRow(user, s.ordinal, s.n, (s.lastUs - s.startUs) / 1e6)
      evs.foreach { e =>
        if (e.event_id == -1L) { // sentinel: flush, never starts a session
          cur.filter(_.n > 0).foreach(close); cur = None
        } else cur match {
          case None =>
            cur = Some(Open(e.us, e.us, 1, 0L))
          case Some(s) if s.n == 0 => // marker left by a timeout close
            cur = Some(Open(e.us, e.us, 1, s.ordinal))
          case Some(s) if e.us - s.lastUs > GapUs =>
            close(s)
            cur = Some(Open(e.us, e.us, 1, s.ordinal + 1))
          case Some(s) =>
            // min/max, not lastUs = e.us: a later micro-batch may deliver
            // an event OLDER than lastUs (watermark admits up to gap-length
            // lateness). Any admissible late event satisfies
            // e.us >= lastUs - gap >= startUs - gap, so merging into the
            // open session is exactly what the batch sessionizer does with
            // the globally sorted data — an interior insert can only merge
            // sessions, never split them. (Events later than the watermark
            // allows would need output retraction; Append mode can't.)
            cur = Some(Open(
              math.min(s.startUs, e.us), math.max(s.lastUs, e.us), s.n + 1, s.ordinal))
        }
      }
      cur match {
        case Some(s) =>
          state.update(s)
          // never set a timeout at or before the current watermark (Spark
          // rejects it); an already-overdue session closes one batch later
          state.setTimeoutTimestamp(math.max(
            s.lastUs / 1000 + GapUs / 1000, state.getCurrentWatermarkMs() + 1))
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
    // sentinel-staged finite input (shared protocol: [[StagedEvents]])
    val sessions = StagedEvents.eventStream(spark, sfDir)
      .select(
        col("user_id"), col("event_id"),
        col("ts").as("tsm"))
      .withColumn("us", unix_micros(col("tsm")))
      .withWatermark("tsm", "30 minutes")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(onGroup)
    val drained = Drain.toMemory(spark, "stream_sessionize", sessions.toDF())
    // the memory sink holds the full result; the staged input can go
    drained
      .select(col("user_id"), col("session_id"), col("n_events"), col("duration_sec"))
  }
}
