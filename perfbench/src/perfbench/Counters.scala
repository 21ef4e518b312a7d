package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Work the Spark engine did during one rep, as plan-derived counts. */
final case class EngineCounts(
    jobs: Long, stages: Long, tasks: Long,
    shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long,
    taskBusyMs: Long, maxTaskMs: Long,
    inputRecords: Long, inputBytes: Long) {

  /** The counts a rerun of the same code on the same input must repeat. */
  def exact: Seq[(String, Long)] = Seq(
    "spark.jobs" -> jobs, "spark.stages" -> stages, "spark.tasks" -> tasks,
    "spark.input_records" -> inputRecords, "spark.input_bytes" -> inputBytes,
    "spark.shuffle_write_bytes" -> shuffleWriteBytes,
    "spark.shuffle_read_bytes" -> shuffleReadBytes)
}

/** Counts jobs, stages, tasks and task metrics while `window` is open.
  * Events arrive on Spark's asynchronous listener bus, so [[close]] drains
  * the bus before it reads the totals.
  */
final class EngineListener(sc: SparkContext) extends SparkListener {
  @volatile private var open = false
  private var jobs, stages, tasks, shW, shR, spill, busy, maxTask, recs, bytes = 0L

  sc.addSparkListener(this)

  def window(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; shW = 0; shR = 0; spill = 0
    busy = 0; maxTask = 0; recs = 0; bytes = 0
    open = true
  }

  def close(): EngineCounts = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      open = false
      EngineCounts(jobs, stages, tasks, shW, shR, spill, busy, maxTask, recs, bytes)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (open) jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (open) stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (open && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks += 1
      shW += m.shuffleWriteMetrics.bytesWritten
      shR += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      busy += m.executorRunTime
      maxTask = math.max(maxTask, m.executorRunTime)
      recs += m.inputMetrics.recordsRead
      bytes += m.inputMetrics.bytesRead
    }
  }
}

/** JVM and host readings taken around the timed region. */
object Jvm {
  private val heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP).toSeq

  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private val afterGcPeak = new java.util.concurrent.atomic.AtomicLong()

  // heap in use right after each collection: what the program keeps live
  // (caches included), unlike the raw peak, which is just the young
  // generation filling up
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case emitter: NotificationEmitter =>
      emitter.addNotificationListener((n: Notification, _: AnyRef) => {
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
            case (pool, u) if heapPools.exists(_.getName == pool) => u.getUsed
          }.sum
          afterGcPeak.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
        }
      }, null, null)
    case _ =>
  }

  def resetPeakHeap(): Unit = afterGcPeak.set(0L)

  /** Largest heap occupancy seen right after a collection since the last
    * reset, in MiB.
    */
  def peakHeapMiB: Double = afterGcPeak.get / (1024.0 * 1024.0)

  /** Cumulative CPU steal over all cores, in seconds (0 when /proc/stat is
    * unreadable). Field 8 of the aggregate `cpu` line, in USER_HZ ticks.
    */
  def stealSeconds: Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/stat")).asScala.find(_.startsWith("cpu "))
      line.map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toDouble / 100.0).getOrElse(0.0)
    } catch { case _: Exception => 0.0 }

  /** Milliseconds since the epoch at which this process started. */
  def processStartMs: Long =
    ProcessHandle.current().info().startInstant().map[Long](_.toEpochMilli)
      .orElse(ManagementFactory.getRuntimeMXBean.getStartTime)
}
