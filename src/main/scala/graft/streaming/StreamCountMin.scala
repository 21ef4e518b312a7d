package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** COUNT-MIN AT THE INGEST EDGE — the streaming twin of `a23_countmin`.
  *
  * The sketch's merge algebra (counters ADD) is exactly what a
  * complete-mode streaming aggregation maintains: each micro-batch's token
  * positions fold into the counter state by addition, so the drained
  * counter table after the last batch EQUALS the batch-built sketch over
  * the whole corpus — arrival batching changes nothing (CmsSpec pins the
  * same law for static slice splits; this query pins it for the state
  * store). State is bounded by the SKETCH SHAPE (≤ d·w = 4096 rows),
  * never by the token stream — the property that makes a per-source /
  * per-hour heavy-hitter monitor affordable at 100 TB where maintaining
  * the exact token histogram in state is not.
  *
  * The probe read-out (top-10 exact tokens, estimate next to truth) runs
  * batch-side against the STREAMED sketch via TextOps.cmsProbe and must
  * hash-match a23_countmin's oracle VERBATIM (one shared SQL string):
  * streaming the build changes nothing about the estimates.
  */
object StreamCountMin {

  def apply(spark: SparkSession, sfDir: String): DataFrame =
    graft.tables.Tables.withShufflePartitions(spark, 4) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      // doc-parity arrival fixture: pure function of the documents table,
      // staged once per content stamp and shared across invocations
      val staged = graft.Fixtures.stage("countmin_src", 1,
        graft.Fixtures.Source(sfDir, "documents.parquet")) { tmp =>
        require(docs.head(1).nonEmpty,
          s"$sfDir/documents.parquet is empty — cannot stage an ingest replay")
        StagedEvents.writePart(docs.filter(col("doc_id") % 2 === 0),
          tmp, "b0_docs_even.parquet", 60)
        StagedEvents.writePart(docs.filter(col("doc_id") % 2 =!= 0),
          tmp, "b1_docs_odd.parquet", 45)
      }
      locally {
        val schema = spark.read
          .parquet(staged.resolve("b0_docs_even.parquet").toString).schema
        val tokStream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(staged.toString)
          .select(explode(split(trim(col("text")), "\\s+")).as("token"))
          .filter(length(col("token")) > 0)
        // the d=4 × w=1024 counter aggregation, SAME builder as the batch
        // sketch — complete mode materializes the full counter table per
        // batch (4096 rows, the honest and bounded complete-mode cost)
        val sketch = Drain.toMemory(spark, "stream_countmin",
          graft.queries.TextOps.cmsSketch(tokStream, 1024), mode = "complete")
        val tok = graft.tables.Tables.fanOut(docs, spark)
          .select(explode(split(trim(col("text")), "\\s+")).as("token"))
          .filter(length(col("token")) > 0)
        val probes = tok.groupBy(col("token")).agg(count(lit(1)).as("exact_n"))
          .orderBy(col("exact_n").desc, col("token")).limit(10)
        graft.queries.TextOps.cmsProbe(sketch, probes, 1024)
      }
    }
}
