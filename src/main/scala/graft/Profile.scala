package graft

/** Ad-hoc single-query profiler: `graft.Profile <sfDir> <queryName> [reps]`.
  * Prints per-rep wall seconds plus scheduler-level evidence — job count
  * (≈ iteration/action count for loop-shaped queries like connected
  * components) and shuffle read/write bytes — and the formatted physical
  * plan, so a slow bench entry can be attributed (scan parallelism,
  * shuffle volume, codegen) and a scaling claim can be measured, not
  * guessed, without re-running the whole suite. The counters are
  * Bench's [[CostListener]], read as per-rep deltas.
  */
object Profile {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 5
    val spark = Sessions.local(Sessions.cpusOr("32"))
    spark.sparkContext.setLogLevel("ERROR")
    val cost = new CostListener
    spark.sparkContext.addSparkListener(cost)
    val fn = SparkEntry.queries(name)
    (1 to reps).foreach { i =>
      cost.drain()
      val (jobs0, write0, read0) =
        (cost.jobsEnded.get, cost.shuffleWriteBytes.get, cost.shuffleReadBytes.get)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      cost.drain()
      println(f"rep $i: $secs%.3f s  jobs=${cost.jobsEnded.get - jobs0}" +
        f"  shuffle_write=${(cost.shuffleWriteBytes.get - write0) / 1048576.0}%.1f MiB" +
        f"  shuffle_read=${(cost.shuffleReadBytes.get - read0) / 1048576.0}%.1f MiB")
    }
    // streaming entries run awaitTermination inside the closure and return
    // the drained memory sink — explaining that LocalTableScan would both
    // re-run the stream and print a useless plan
    if (name.startsWith("stream_"))
      println("(streaming query: plan attribution lives in the stream's own progress, not the sink table)")
    else fn(spark, sfDir).explain("formatted")
    spark.stop()
  }
}
