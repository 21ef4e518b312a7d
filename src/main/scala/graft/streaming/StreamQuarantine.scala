package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The WRITE side of expectations at the edge — the streamed twin of
  * `diag_quarantine`'s documents checks: rows arrive in micro-batches,
  * each row evaluates ALL per-row predicates in one STATELESS projection
  * (the explode-violated-entries shape of the batch query — no state
  * store, no watermark, no shuffle), and violating rows are routed to a
  * quarantine table committed per batch through the batchId-keyed
  * idempotent sink ([[IdempotentBatchSink]] — a retried batch replaces
  * nothing, never duplicates), `partitionBy(check_name)` inside each
  * batch dir — the layout a triage read opens one check's directory of.
  * This is the
  * deployment mode the batch query's Scaladoc promises ("at 100 TB the
  * quarantine WRITE is a partitioned sink appended after this exact
  * plan"): the load that ships the data also ships its reject table.
  *
  * The oracled output is the quarantine AUDIT read BACK from the sink
  * (rows per check + min/max routed key) and must equal the batch
  * `diag_quarantine` documents rows re-derived by DuckDB from the raw
  * table: arrival batching changes nothing about what gets routed —
  * and the counts cross-pin `stream_expectations`' verdict counters
  * (StreamQuarantineSpec), closing detect→route at the ingest edge.
  */
object StreamQuarantine {

  def audit(spark: SparkSession, sfDir: String): DataFrame =
    graft.tables.Tables.withShufflePartitions(spark, 4) {
      // doc-parity arrival fixture: pure function of the documents table,
      // staged once per content stamp and shared (sink + checkpoint dirs
      // stay per-invocation — the query writes them)
      val staged = graft.Fixtures.stage("quarantine_src", 1,
        graft.Fixtures.Source(sfDir, "documents.parquet")) { tmp =>
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id"), col("text"), col("n_chars"))
        require(docs.head(1).nonEmpty, s"$sfDir/documents.parquet is empty")
        StagedEvents.writePart(docs.filter(col("doc_id") % 2 === 0),
          tmp, "b0_docs.parquet", 60)
        StagedEvents.writePart(docs.filter(col("doc_id") % 2 =!= 0),
          tmp, "b1_docs.parquet", 45)
      }
      val schema =
        spark.read.parquet(staged.resolve("b0_docs.parquet").toString).schema
      // the four documents checks of diag_quarantine, verbatim: a row
      // fans out one quarantine entry per VIOLATED check (empty array →
      // the row never reaches the sink)
      val checks: Seq[(String, String, org.apache.spark.sql.Column)] = Seq(
        ("text_nonblank", "error",
          col("text").isNull || trim(col("text")) === ""),
        ("n_chars_consistent", "error",
          col("n_chars") =!= length(col("text"))),
        ("text_len_ge_60", "error", col("n_chars") < 60),
        ("text_len_ge_100", "warn", col("n_chars") < 100))
      val arr = array(checks.map { case (n, sev, pred) =>
        when(pred, struct(lit(n).as("check_name"), lit(sev).as("severity")))
      }: _*)
      val routed = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged.toString)
        .select(col("doc_id").cast("string").as("row_key"),
          explode(filter(arr, x => x.isNotNull)).as("c"))
        .select(col("row_key"), col("c.check_name").as("check_name"),
          col("c.severity").as("severity"))
      // the quarantine table is written through the batchId-keyed
      // idempotent commit ([[IdempotentBatchSink]]): a micro-batch
      // re-run after a failure (same batchId — the foreachBatch replay
      // contract) replaces nothing instead of appending duplicate
      // reject rows. partitionBy(check_name) inside each batch dir
      // keeps the triage layout (open one check's directory).
      Drain.readBack(spark) { out =>
        Drain.run("stream_quarantine", routed.writeStream
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            IdempotentBatchSink.commit(batch, out, batchId, Seq("check_name"))
            ()
          })
      } { sink => // bounded (≤4 rows — one per check)
        sink.groupBy(col("check_name").cast("string").as("check_name"),
          col("severity"))
          .agg(count(lit(1)).as("n_rows"),
            min(col("row_key")).as("min_key"), max(col("row_key")).as("max_key"))
      }
    }
}
