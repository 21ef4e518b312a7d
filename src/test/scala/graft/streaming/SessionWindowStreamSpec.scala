package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import graft.SparkSpec

/** The streaming built-in session_window must reproduce the batch
  * gaps-and-islands answer on a hand-checkable fixture — including the
  * end-inclusive merge boundary (an event exactly 30 minutes after the
  * previous one MERGES; 30 minutes + 1 µs splits), cross-user isolation,
  * and the sentinel staying out of the output entirely.
  */
class SessionWindowStreamSpec extends SparkSpec {

  private def ts(h: Int, m: Int, s: Int = 0, us: Int = 0): Timestamp =
    Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:$s%02d.$us%06d")

  private val events = Seq(
    // user 1: session A = 00:00, 00:10, 00:40 (exactly 30 min after 00:10
    // → merges, end-inclusive); session B = 01:10:00.000001 (30 min + 1 µs
    // after 00:40 → splits)
    (1L, ts(0, 0), 1L),
    (2L, ts(0, 10), 1L),
    (3L, ts(0, 40), 1L),
    (4L, ts(1, 10, 0, 1), 1L),
    // user 2: one singleton session
    (5L, ts(5, 0), 2L))

  /** The fixture as an events table under `dir`. */
  private def writeEvents(dir: java.nio.file.Path): Unit = {
    import spark.implicits._
    events.map { case (id, t, u) => (id, t, u, "view", 1.0, null: String) }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  /** Run `body` on a fresh temp dir holding the fixture, then delete it. */
  private def withEvents[T](prefix: String)(body: String => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try {
      writeEvents(dir)
      body(dir.toString)
    } finally StagedEvents.deleteRecursively(dir)
  }

  test("streaming session_window equals the batch sessions, boundary-exact") {
    // the query stages its input as a `staged_events` fixture keyed on the
    // source path: a fixed path, written once, lets every run reuse that
    // fixture instead of staging a new one per run
    val dir = java.nio.file.Paths.get("target", "session-window-stream-spec").toAbsolutePath
    if (!Files.exists(dir.resolve("events.parquet").resolve("_SUCCESS"))) writeEvents(dir)
    val got = SessionWindowStream(spark, dir.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expected = Set(
      (1L, 3L, 40 * 60.0), // session A: 00:00 → 00:40
      (1L, 1L, 0.0),       // session B: the 01:10:00.000001 singleton
      (2L, 1L, 0.0))       // user 2 singleton
    assert(got === expected)
  }

  // The chained dedup→session query on the same fixture: id 3 (00:40,
  // user 1) is re-delivered two batches behind. With the nudge batch both
  // watermark versions are live when it arrives, so the late filter drops
  // it (00:40 < the 03:01 watermark from max ts 05:00 − 119 min) before
  // it can re-open user 1's already-flushed session — the output is
  // EXACTLY the plain session answer. (Without the nudge this fixture
  // measurably double-counts: the re-delivery passes the still-zero
  // lagged late filter after dedup state was already evicted.)
  test("dedup→session chain: the re-delivered slice leaves no trace") {
    val got = withEvents("session-dedup-stream-spec") { dir =>
      SessionDedupStream(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    val expected = Set(
      (1L, 3L, 40 * 60.0),
      (1L, 1L, 0.0),
      (2L, 1L, 0.0))
    assert(got === expected)
  }

  // Two-operator state metrics on the same fixture. max ts = 05:00, so
  // wm after batch 0 = 03:01; dedup's 2·delay horizon keeps ts ≥ 01:02
  // → ids 4 (01:10:00.000001) and 5 (05:00) = 2 keys; sessions closing
  // (last + 30 min) ≤ 03:01 flush → only user 2's (close 05:30) stays
  // open = 1. Batch 2's re-delivered id 3 (00:40) is late-dropped; batch
  // 3's two per-user sentinels add 2 dedup keys and 2 far-future
  // sessions. Also pins one state row per merged SESSION, not per event
  // (batch 0 reads 3, not 5).
  test("dedup→session chain metrics: " +
      "(0,5,0,5,3), (1,1,0,2,1), (2,1,1,2,1), (3,2,0,4,3)") {
    val got = withEvents("session-dedup-metrics-spec") { dir =>
      SessionDedupStream.metrics(spark, dir)
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toList.sortBy(_._1)
    }
    assert(got === List(
      (0, 5L, 0L, 5L, 3L),
      (1, 1L, 0L, 2L, 1L),
      (2, 1L, 1L, 2L, 1L),
      (3, 2L, 0L, 4L, 3L)))
  }
}
