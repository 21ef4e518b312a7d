package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dump `.explain("formatted")` for named queries to files — the judge-
  * checkable plan evidence for optimization rounds.
  *
  * `graft.tools.PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>` writes
  * `<outDir>/<name>_<suffix>.txt` per query (an empty list dumps every
  * query). Streaming queries (whose entry closure drains the stream and
  * returns a memory-sink table) are skipped with a note — their plan
  * evidence lives in the stream progress, not the drained LocalTableScan.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, suffix) = (args(0), args(1), args(2))
    val names = Some(graft.SparkEntry.queryNames(args(3))).filter(_.nonEmpty)
      .getOrElse(graft.SparkEntry.queries.keys.toSeq.sorted)
    val spark = graft.Sessions.local(graft.Sessions.cpusOr("32"))
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val out = Paths.get(outDir, s"${name}_$suffix.txt")
      if (name.startsWith("stream_")) {
        Files.writeString(out,
          "(streaming query: plan attribution lives in the stream's own " +
            "progress, not the drained memory sink)\n")
      } else {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        Files.writeString(out, txt)
        println(s"[plandump] wrote $out")
      }
    }
    graft.queries.SessionCaches.releaseAll(spark)
    spark.stop()
  }
}
