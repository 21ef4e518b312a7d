package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQueryProgress, Trigger}

/** Log of the most recently drained streams' per-micro-batch
  * [[StreamingQueryProgress]] — the measurement channel for the
  * streaming family: a stream query's wall cost decomposes into the
  * progress `durationMs` fields (queryPlanning, addBatch, walCommit,
  * commitOffsets, latestOffset) that seconds alone cannot attribute.
  * [[Drain.run]] records every stream the family starts. StreamProf
  * drains it after every rep; recording is a buffer append, nothing about
  * the drain changes. Nothing else drains it, so the buffer keeps only
  * the newest [[Cap]] entries: a JVM that never drains (Bench, Verify,
  * the CLI) holds a bounded log instead of every progress of its lifetime.
  */
object ProgressLog {
  /** Streams kept — far above the few one StreamProf rep drains. */
  val Cap = 64

  private val buf = scala.collection.mutable.ArrayDeque
    .empty[(String, Seq[StreamingQueryProgress])]

  def record(prefix: String, ps: Seq[StreamingQueryProgress]): Unit =
    buf.synchronized {
      buf += ((prefix, ps))
      if (buf.size > Cap) buf.removeHead()
    }

  def drain(): Seq[(String, Seq[StreamingQueryProgress])] =
    buf.synchronized { val out = buf.toList; buf.clear(); out }
}

/** Shared scaffold for the finite streaming queries. [[run]] owns the
  * whole run of every stream the family starts — Trigger.AvailableNow,
  * start, awaitTermination, [[ProgressLog]] and a per-run checkpoint dir —
  * whatever its sink (memory, foreachBatch, parquet file sink).
  * [[toMemory]] drains into a uniquely-named memory sink; [[readBack]] is
  * the bounded read-back of a sink dir.
  */
object Drain {

  /** Run the configured `writer` to completion over a fresh checkpoint
    * dir (deleted on exit) and return its per-micro-batch progress.
    */
  def run(prefix: String, writer: DataStreamWriter[Row]): Seq[StreamingQueryProgress] = {
    val cp = Files.createTempDirectory(s"$prefix-cp")
    try {
      val q = writer
        .option("checkpointLocation", cp.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val ps = q.recentProgress.toSeq
      ProgressLog.record(prefix, ps)
      ps
    } finally StagedEvents.deleteRecursively(cp)
  }

  def toMemory(s: SparkSession, prefix: String, df: DataFrame,
               mode: String = "append"): DataFrame =
    toMemoryWithProgress(s, prefix, df, mode)._1

  /** As [[toMemory]], but also returns the per-micro-batch
    * StreamingQueryProgress list — the observe() metrics and state-store
    * counters (numRowsDroppedByWatermark) the monitoring queries read.
    * The sink's session temp view is dropped once the returned frame has
    * resolved it, so a drained stream's rows are pinned only as long as
    * that frame is held, not for the life of the session.
    */
  def toMemoryWithProgress(s: SparkSession, prefix: String, df: DataFrame,
      mode: String = "append"): (DataFrame, Seq[StreamingQueryProgress]) = {
    val qn = s"${prefix}_${System.nanoTime()}"
    val ps = run(prefix, df.writeStream.outputMode(mode).format("memory").queryName(qn))
    val table = s.table(qn)
    s.catalog.dropTempView(qn)
    (table, ps)
  }

  /** The bounded read-back of a sink: `fill` writes into a fresh sink dir,
    * `audit` aggregates what it holds, and the audit's rows are collected
    * under the audit's own schema so the result outlives the sink dir,
    * which is deleted on exit.
    */
  def readBack(s: SparkSession)(fill: String => Unit)(
      audit: DataFrame => DataFrame): DataFrame = {
    val sink = Files.createTempDirectory("drain-sink")
    try {
      fill(sink.toString)
      val out = audit(s.read.parquet(sink.toString))
      s.createDataFrame(out.collect().toSeq.asJava, out.schema)
    } finally StagedEvents.deleteRecursively(sink)
  }
}
