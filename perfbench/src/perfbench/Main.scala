package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
}

/** One chain rep as the client saw it. */
final case class Rep(phase: String, seconds: Double, failures: Seq[String],
                     counts: EngineCounts, outBytes: Long, persistedLeftBytes: Long,
                     checked: Map[String, Double]) {
  def toJson: String =
    s"""{"phase":${Json.str(phase)},"seconds":${Json.num(seconds)},"ok":${failures.isEmpty},""" +
      s""""failures":${failures.map(Json.str).mkString("[", ",", "]")},"out_bytes":$outBytes,""" +
      s""""spark.persisted_left_bytes":$persistedLeftBytes,""" +
      counts.exact.map { case (k, v) => s""""$k":$v""" }.mkString(",") + "}"
}

/** The benchmark's JVM side: time process start → ready Spark session,
  * then drive one workload's chain as a closed loop with one client for
  * `--seconds`, checking every rep's output. With `--trace 1` it also times
  * the layer ladders, records spans and reports the per-layer metrics
  * instead of the end-to-end ones.
  *
  * The result is one JSON object written to `--result`.
  */
object Main {

  def median(xs: collection.Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val result = arg(args, "result")
    val cpus = arg(args, "cpus")
    val t0 = Jvm.processStartMs
    val spark = graft.Sessions.local(cpus, "perfbench")
    val setupS = (System.currentTimeMillis() - t0) / 1000.0
    try {
      val json = new Driver(spark, args, setupS, cpus.toInt).run()
      Files.write(Paths.get(result), (json + "\n").getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }

  /** Drives one workload. */
  private final class Driver(spark: SparkSession, args: Array[String], setupS: Double, cores: Int) {
    private val workload = arg(args, "workload")
    private val seconds = arg(args, "seconds").toDouble
    private val traced = arg(args, "trace") == "1"
    private val warmup = arg(args, "warmup").toDouble
    private val work = arg(args, "work")
    private val chain = Chain(spark, workload, arg(args, "inputs"))
    private val listener = new EngineListener(spark.sparkContext)
    private val trace = new Trace(traced)
    private val reps = ArrayBuffer.empty[Rep]
    private var repId = 0

    private def out: String = s"$work/out"

    private def deleteTree(path: String): Unit = {
      val p = Paths.get(path)
      if (Files.exists(p)) {
        val walk = Files.walk(p)
        try walk.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
        finally walk.close()
      }
    }

    /** Bytes the program left cached, then every cache dropped: the next
      * rep must not time a cache hit.
      */
    private def isolate(): Long = {
      val left = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      left
    }

    /** Run `body` on a clean output directory, timed, with the engine
      * counted; isolation and the output check happen outside the timer.
      */
    private def timed(clean: Boolean)(body: => Unit): (Double, EngineCounts, Long) = {
      if (clean) deleteTree(out)
      Files.createDirectories(Paths.get(out))
      repId += 1
      trace.startRep(repId)
      listener.window()
      val start = System.nanoTime()
      body
      val s = (System.nanoTime() - start) / 1e9
      val counts = listener.close()
      (s, counts, isolate())
    }

    private def chainRep(phase: String, spans: Boolean): Rep = {
      val (s, counts, left) = timed(clean = true) {
        if (spans) trace.span("chain")(chain.run(out, trace)) else chain.run(out, Trace.Off)
      }
      val checked =
        try chain.check(out)
        catch { case e: Exception => Checked(Seq(s"check threw ${e.getMessage}"), Map.empty) }
      isolate()
      val rep = Rep(phase, s, checked.failures, counts, Chain.treeBytes(out), left, checked.counts)
      reps += rep
      rep
    }

    /** A rep that throws is a failed rep, not a crashed benchmark. */
    private def safeChainRep(phase: String, spans: Boolean): Rep =
      try chainRep(phase, spans)
      catch {
        case e: Exception =>
          isolate()
          val rep = Rep(phase, Double.NaN, Seq(s"chain threw ${e.getMessage}"),
            EngineCounts(0, 0, 0, 0, 0, 0, 0, 0, 0, 0), 0L, 0L, Map.empty)
          reps += rep
          rep
      }

    def run(): String = {
      // the first rep is cold; warm-up reps then continue for `warmup`
      // seconds (at least two), so the JIT has settled before timing
      val cold = safeChainRep("warmup", spans = false)
      val warmStart = System.nanoTime()
      var warmReps = 0
      while (warmReps < 2 || (System.nanoTime() - warmStart) / 1e9 < warmup) {
        safeChainRep("warmup", spans = false)
        warmReps += 1
      }
      val jit0 = Jvm.jitMs
      val gc0 = Jvm.gcMs
      val steal0 = Jvm.stealSeconds
      Jvm.resetPeakHeap()
      val begin = System.nanoTime()
      def elapsed = (System.nanoTime() - begin) / 1e9

      val rungTimes = ArrayBuffer.empty[(String, Double)]
      var mzmlReadBytes = Seq.empty[Double]
      if (!traced) {
        while (elapsed < seconds) safeChainRep("timed", spans = false)
      } else {
        while (elapsed < seconds || !reps.exists(_.phase == "traced")) {
          safeChainRep("untraced", spans = false)
          safeChainRep("traced", spans = true)
          // later rungs read what the chain-step rungs wrote, so the
          // output directory is cleaned once per ladder, not per rung
          deleteTree(out)
          try chain.rungs(out, trace).foreach { case (name, body) =>
            val (s, counts, _) = timed(clean = false)(trace.span(s"ladder/$name")(body()))
            rungTimes += name -> s
            if (chain.mzmlRung.contains(name)) mzmlReadBytes :+= counts.inputBytes.toDouble
          } catch {
            case e: Exception =>
              isolate()
              reps += Rep("ladder", Double.NaN, Seq(s"ladder threw ${e.getMessage}"),
                EngineCounts(0, 0, 0, 0, 0, 0, 0, 0, 0, 0), 0L, 0L, Map.empty)
          }
          deleteTree(out)
        }
      }
      val jitS = (Jvm.jitMs - jit0) / 1000.0
      val gcS = (Jvm.gcMs - gc0) / 1000.0
      val stealS = Jvm.stealSeconds - steal0
      val peakHeap = Jvm.peakHeapMiB
      deleteTree(out)

      Files.write(Paths.get(work, "reps.jsonl"),
        reps.map(_.toJson).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))

      val measured = reps.filter(r => r.phase == (if (traced) "traced" else "timed"))
      val all = reps.filter(_.phase != "warmup")
      val failed = all.count(_.failures.nonEmpty)
      val correct = reps.forall(_.failures.isEmpty)
      reps.filter(_.failures.nonEmpty).take(3).foreach(r =>
        System.err.println(s"[perfbench] ${r.phase} rep failed: ${r.failures.take(5).mkString("; ")}"))
      val good = measured.filter(_.failures.isEmpty)
      val metrics: Seq[(String, Double, String)] =
        if (good.isEmpty || reps.exists(_.phase == "ladder")) Nil
        else if (!traced) {
          val jobS = median(good.map(_.seconds))
          Seq(
            ("setup_s", setupS, "s"),
            ("items_per_s", chain.items / jobS, "1/s"),
            ("out_bytes_per_in_byte", median(good.map(_.outBytes.toDouble)) / chain.inputBytes, "ratio"))
        } else {
          Files.write(Paths.get(work, "spans.json"), trace.toJson.getBytes(StandardCharsets.UTF_8))
          layerMetrics(good, rungTimes.toSeq, mzmlReadBytes, cold.seconds,
            jitS, gcS, peakHeap, stealS)
        }
      val metricJson = metrics.map { case (n, v, u) =>
        s"""${Json.str(n)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}"""
      }.mkString("{", ",", "}")
      val info =
        s"""{"workload":${Json.str(workload)},"items":${chain.items},"input_bytes":${chain.inputBytes},""" +
          s""""warmup_reps":${reps.count(_.phase == "warmup")},"measured_reps":${measured.size},""" +
          s""""rep_seconds":${measured.map(r => Json.num(r.seconds)).mkString("[", ",", "]")}}"""
      s"""{"info":$info,"correct":${correct && good.nonEmpty},"attempted":${math.max(1, all.size)},""" +
        s""""failed":$failed,"metrics":$metricJson}"""
    }

    private def layerMetrics(traced: collection.Seq[Rep], rungs: Seq[(String, Double)],
                             mzmlReadBytes: Seq[Double], coldS: Double, jitS: Double,
                             gcS: Double, peakHeap: Double, stealS: Double): Seq[(String, Double, String)] = {
      def med(f: Rep => Double) = median(traced.map(f))
      val jobS = med(_.seconds)
      val untraced = reps.filter(r => r.phase == "untraced" && r.failures.isEmpty).map(_.seconds)
      val rung = rungs.groupBy(_._1).map { case (k, v) => k -> median(v.map(_._2)) }
      val decodes =
        if (chain.mzmlBytes == 0 || mzmlReadBytes.isEmpty) 0.0
        else median(mzmlReadBytes) / chain.mzmlBytes
      val layers = chain.layers(rung, decodes).toMap
      // the accounting charges decode once per scan of the corpus; the
      // metric is one scan
      val shown = layers ++ rung.get("mzml.decode").map("mzml.decode_s" -> _)
      // every workload reports every layer; one its chain does not run reads 0
      val layerNames = Seq(
        "mzml.decode_s", "mzmlstats.msinfo_s", "mzmlstats.ms2info_s", "mzmlstats.write_s",
        "idxml.parse_s", "psmconvert.assemble_s", "psmconvert.join_s", "report.scan_s",
        "peptides.normalize_s", "msstats.convert_s", "sink.single_file_s")
      val checked = Seq("msstats.rows_in", "msstats.rows_out", "msstats.unmatched_runs")
      val busyS = med(_.counts.taskBusyMs / 1000.0)
      Seq(
        ("spark.jobs", med(_.counts.jobs.toDouble), "count"),
        ("spark.stages", med(_.counts.stages.toDouble), "count"),
        ("spark.tasks", med(_.counts.tasks.toDouble), "count"),
        ("spark.shuffle_write_bytes", med(_.counts.shuffleWriteBytes.toDouble), "B"),
        ("spark.shuffle_read_bytes", med(_.counts.shuffleReadBytes.toDouble), "B"),
        ("spark.spill_bytes", med(_.counts.spillBytes.toDouble), "B"),
        ("spark.task_busy_s", busyS, "s"),
        ("spark.max_task_s", med(_.counts.maxTaskMs / 1000.0), "s"),
        ("spark.core_util", busyS / (jobS * cores), "ratio"),
        ("spark.input_records", med(_.counts.inputRecords.toDouble), "count"),
        ("spark.input_bytes", med(_.counts.inputBytes.toDouble), "B"),
        ("spark.persisted_left_bytes", med(_.persistedLeftBytes.toDouble), "B"),
        ("mzml.spectra_per_s",
          if (chain.mzmlBytes == 0) 0.0 else chain.items / rung("mzml.decode"), "1/s"),
        ("mzml.bytes_read_per_input_byte", decodes, "ratio")) ++
        layerNames.map(n => (n, shown.getOrElse(n, 0.0), "s")) ++
        checked.map(n => (n, med(_.checked.getOrElse(n, 0.0)), "count")) ++
        Seq(
          ("jvm.cold_job_s", coldS, "s"),
          ("jvm.jit_s", jitS, "s"),
          ("jvm.gc_s", gcS, "s"),
          ("jvm.peak_heap_mib", peakHeap, "MiB"),
          ("host.steal_s", stealS, "s"),
          ("trace.overhead_s", if (untraced.isEmpty) 0.0 else jobS - median(untraced), "s"),
          ("trace.unaccounted_s", jobS - layers.values.sum, "s"))
    }
  }
}
