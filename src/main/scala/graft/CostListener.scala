package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-query COST counters: job count and shuffle write and read bytes.
  * Seconds alone cannot tell a slower plan from a slower host; identical
  * jobs and shuffle bytes with divergent seconds point at the host. A
  * caller snapshots the deltas around the work it measures, each after a
  * [[drain]]. Unlike wall seconds, the counters are plan-determined: same
  * code + data + warm cache state ⇒ same numbers on any machine. Bench and
  * Profile both read it.
  */
private[graft] final class CostListener extends SparkListener {
  val jobsStarted = new AtomicLong
  val jobsEnded = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val shuffleReadBytes = new AtomicLong
  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobsStarted.incrementAndGet()
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobsEnded.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    // a stage completed without metrics (taskMetrics defaults to null)
    // adds no bytes
    val m = e.stageInfo.taskMetrics
    if (m != null) {
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
    }
  }
  /** The listener bus is async; a snapshot taken right after an action
    * returns can miss in-flight events. All events are POSTED by then,
    * so quiescence (counters stable for 100 ms, bounded at 3 s) means
    * the queue drained.
    */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 3_000_000_000L
    var last = (-1L, -1L, -1L, -1L)
    var stable = 0
    while (stable < 2 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      val cur = (jobsStarted.get, jobsEnded.get, shuffleWriteBytes.get, shuffleReadBytes.get)
      if (cur == last && cur._1 == cur._2) stable += 1 else stable = 0
      last = cur
    }
  }
}
