package graft.tools

/** Per-micro-batch cost attribution for the streaming family — where does
  * a drained stream's wall time actually go? Runs the named queries with
  * the bench discipline (sf0.001 warm-up, 3 reps, min) and prints, per
  * rep, the stream's total trigger time decomposed into the
  * StreamingQueryProgress `durationMs` fields (queryPlanning, addBatch,
  * walCommit, commitOffsets, latestOffset, getBatch) plus the wall time
  * spent OUTSIDE the stream (staging writes, codebook collects, sink
  * readback).
  *
  * `graft.tools.StreamProf <sfDir> <q1,q2,...>` (an empty list profiles
  * every query)
  */
object StreamProf {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = Some(graft.SparkEntry.queryNames(args(1))).filter(_.nonEmpty)
      .getOrElse(graft.SparkEntry.queries.keys.toSeq.sorted)
    val spark = graft.Sessions.local(graft.Sessions.cpusOr("32"))
    spark.sparkContext.setLogLevel("ERROR")

    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // warm-up: JIT/codegen/classload at the small SF, like Bench
    names.foreach { n =>
      try materialize(graft.SparkEntry.queries(n)(spark, "/root/testdata/sf0.001"))
      catch { case _: Throwable => () }
    }
    graft.streaming.ProgressLog.drain()
    try graft.queries.SessionCaches.prewarm(spark, sfDir)
    catch { case t: Throwable => System.err.println(s"[streamprof] prewarm failed: $t") }

    names.foreach { n =>
      System.gc()
      (1 to 3).foreach { rep =>
        val t0 = System.nanoTime()
        materialize(graft.SparkEntry.queries(n)(spark, sfDir))
        val wall = (System.nanoTime() - t0) / 1e9
        val progress = graft.streaming.ProgressLog.drain()
        progress.foreach { case (prefix, ps) =>
          val fields = Seq("triggerExecution", "queryPlanning", "addBatch",
            "walCommit", "commitOffsets", "latestOffset", "getBatch")
          val sums = fields.map { f =>
            f -> ps.map(p => Option(p.durationMs.get(f)).map(_.longValue).getOrElse(0L)).sum
          }
          println(s"[streamprof] $n rep$rep wall=${f"$wall%.3f"}s stream=$prefix " +
            s"batches=${ps.size} " +
            sums.map { case (f, ms) => s"$f=${ms}ms" }.mkString(" "))
        }
        if (progress.isEmpty)
          println(s"[streamprof] $n rep$rep wall=${f"$wall%.3f"}s (ran no stream)")
        graft.queries.SessionCaches.releaseLoopCheckpoints(spark)
      }
    }
    graft.queries.SessionCaches.releaseAll(spark)
    spark.stop()
  }
}
