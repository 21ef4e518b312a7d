package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Log of the most recently drained streams' per-micro-batch
  * [[org.apache.spark.sql.streaming.StreamingQueryProgress]] — the
  * measurement channel for the streaming family: a stream query's wall
  * cost decomposes into the progress `durationMs` fields (queryPlanning,
  * addBatch, walCommit, commitOffsets, latestOffset) that seconds alone
  * cannot attribute. StreamProf drains it after every rep; recording is
  * a buffer append, nothing about the drain changes. Nothing else drains
  * it, so the buffer keeps only the newest [[Cap]] entries: a JVM that
  * never drains (Bench, Verify, the CLI) holds a bounded log instead of
  * every progress of its lifetime.
  */
object ProgressLog {
  /** Streams kept — far above the few one StreamProf rep drains. */
  val Cap = 64

  private val buf = scala.collection.mutable.ArrayDeque
    .empty[(String, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress])]

  def record(prefix: String,
      ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]): Unit =
    buf.synchronized {
      buf += ((prefix, ps))
      if (buf.size > Cap) buf.removeHead()
    }

  def drain(): Seq[(String, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress])] =
    buf.synchronized { val out = buf.toList; buf.clear(); out }
}

/** Shared scaffold for the finite streaming queries: write the stream to a
  * uniquely-named memory sink, drain it with Trigger.AvailableNow, and
  * return the sink table. Every oracle-checked stream_* query funnels
  * through here so the drain mechanics have one definition.
  */
object Drain {
  def toMemory(s: SparkSession, prefix: String, df: DataFrame,
               mode: String = "append"): DataFrame =
    toMemoryWithProgress(s, prefix, df, mode)._1

  /** As [[toMemory]], but also returns the per-micro-batch
    * StreamingQueryProgress list — the observe() metrics and state-store
    * counters (numRowsDroppedByWatermark) the monitoring queries read.
    */
  def toMemoryWithProgress(s: SparkSession, prefix: String, df: DataFrame,
      mode: String = "append")
      : (DataFrame, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) = {
    val qn = s"${prefix}_${System.nanoTime()}"
    val q = df.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(qn)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    ProgressLog.record(prefix, q.recentProgress.toSeq)
    (s.table(qn), q.recentProgress.toSeq)
  }
}
