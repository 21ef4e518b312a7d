package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PSI DRIFT GATE AT THE INGEST EDGE — the serving twin of
  * `diag_psi_drift`, and the suite's first `foreachBatch` operator: each
  * arriving micro-batch's value histogram is compared against a FIXED
  * reference histogram (the already-loaded even-event_id slice — bounded:
  * |event types| × 20 bins, broadcast inside every batch), and the
  * per-batch PSI verdicts are emitted AT BATCH GRANULARITY — the alarm
  * surface a production monitor actually pages on (a drifting load alarms
  * when it ARRIVES, not at the end-of-day audit). stream_expectations
  * pins per-batch counters in its spec; this query makes the per-batch
  * verdicts themselves the ORACLED output: arrival slices are
  * deterministic (user_id parity), so DuckDB replays each batch's
  * histogram, its PSI terms (identical double arithmetic, rounded to
  * integer nano-units, summed as longs — the diag_psi_drift discipline),
  * and the >0.1 verdicts, row for row.
  *
  * The per-batch spine is a FULL OUTER join of reference and batch type
  * totals: a type the reference has never seen (planted here — a
  * deterministic event_id slice arrives relabeled 'launch') is the
  * strongest drift signal and scores against the all-smoothing uniform
  * reference instead of being silently dropped; a reference type absent
  * from a batch alarms symmetrically.
  *
  * Why foreachBatch and not a streaming aggregation: the gate needs a
  * JOIN against the reference and a finished PSI per batch — a batch-ONLY
  * computation over each micro-batch's rows, exactly what foreachBatch
  * scopes; complete-mode state would fold batches together and lose the
  * per-arrival alarm granularity.
  */
object StreamPsiGate {

  def apply(spark: SparkSession, sfDir: String): DataFrame =
    graft.tables.Tables.withShufflePartitions(spark, 4) {
      import spark.implicits._
      val ev = spark.read.parquet(s"$sfDir/events.parquet")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      // the odd-slice arrival fixture is a pure function of the events
      // table — staged once per content stamp and shared across
      // invocations (graft.Fixtures)
      val staged = graft.Fixtures.stage("psi_gate_src", 1,
        graft.Fixtures.Source(sfDir, "events.parquet")) { tmp =>
        require(ev.head(1).nonEmpty,
          s"$sfDir/events.parquet is empty — cannot stage an ingest replay")
        val odd = ev.filter(col("event_id") % 2 =!= 0)
        StagedEvents.writePart(odd.filter(col("user_id") % 2 === 0),
          tmp, "b0_users_even.parquet", 60)
        StagedEvents.writePart(odd.filter(col("user_id") % 2 =!= 0),
          tmp, "b1_users_odd.parquet", 45)
      }
      locally {
        // reference = the even-event_id slice's per-(type, bin) histogram
        // with per-type totals — the "already trusted" load. Bounded
        // (|types| × 20 rows), collected once, broadcast into each batch.
        val refHist = ev.filter(col("event_id") % 2 === 0)
          .withColumn("b", least(lit(19L), floor(col("value") / 25).cast("long")))
          .groupBy(col("event_type"), col("b")).agg(count(lit(1)).as("cref"))
        val refTot = refHist.groupBy(col("event_type"))
          .agg(sum(col("cref")).as("n_ref"))
        // current = the odd slice with the SAME planted 1.5× purchase
        // scale-up as diag_psi_drift, arriving in two user-parity batches
        val schema = spark.read
          .parquet(staged.resolve("b0_users_even.parquet").toString).schema
        val out = ArrayBuffer.empty[(Int, String, Long, Long, Long)]
        Drain.run("stream_psi_gate", spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(staged.toString)
          .writeStream
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            // per-batch PSI: 20-bin histogram of THIS batch vs the
            // reference, Laplace (+1) smoothing over the full bin spine
            val cur = batch
              .withColumn("v", when(col("event_type") === "purchase",
                col("value") * 1.5).otherwise(col("value")))
              // planted NOVEL type: a deterministic event_id slice arrives
              // relabeled — the schema-drift arrival the reference
              // histogram has never seen, which must ALARM, not vanish
              .withColumn("et", when(col("event_id") % 89 === 0, lit("launch"))
                .otherwise(col("event_type")))
              .withColumn("b", least(lit(19L), floor(col("v") / 25).cast("long")))
              .groupBy(col("et").as("event_type"), col("b"))
              .agg(count(lit(1)).as("ccur"))
            val curTot = cur.groupBy(col("event_type"))
              .agg(sum(col("ccur")).as("n_cur"))
            // FULL OUTER spine: an inner join here silently dropped any
            // event type present in the batch but absent from the
            // reference — for a drift gate, a brand-new type is the
            // STRONGEST drift signal. A missing side contributes the
            // all-smoothing histogram (n = 0 ⇒ every bin's probability is
            // the Laplace 1/20), so a novel type scores its PSI against
            // uniform and a type that DISAPPEARED from the load alarms
            // symmetrically.
            val spine = refTot.join(curTot, Seq("event_type"), "full_outer")
              .select(col("event_type"),
                coalesce(col("n_ref"), lit(0L)).as("n_ref"),
                coalesce(col("n_cur"), lit(0L)).as("n_cur"),
                explode(sequence(lit(0L), lit(19L))).as("b"))
            val rows = spine
              .join(refHist, Seq("event_type", "b"), "left")
              .join(cur, Seq("event_type", "b"), "left")
              .withColumn("p",
                (coalesce(col("cref"), lit(0L)) + 1).cast("double") / (col("n_ref") + 20))
              .withColumn("q",
                (coalesce(col("ccur"), lit(0L)) + 1).cast("double") / (col("n_cur") + 20))
              .withColumn("term_nano",
                round((col("p") - col("q")) * log(col("p") / col("q")) * 1e9).cast("long"))
              .groupBy(col("event_type"))
              .agg(max(col("n_ref")).as("n_ref"), max(col("n_cur")).as("n_cur"),
                sum(col("term_nano")).as("psi_nano"))
              .collect() // bounded: one row per event type
            // foreachBatch contract note: Spark re-runs a batch after a
            // failure with the SAME batchId, so a production sink must be
            // idempotent per batchId (MERGE on (batch_id, key), not blind
            // append). This finite AvailableNow drain has no retry path —
            // a failed batch fails the query — so the buffer append is
            // safe here; a sink that writes a real table routes through
            // the batchId-keyed atomic-rename commit instead
            // ([[IdempotentBatchSink]], used by StreamQuarantine).
            out.synchronized {
              out ++= rows.map(r => (batchId.toInt, r.getAs[String]("event_type"),
                r.getAs[Long]("n_ref"), r.getAs[Long]("n_cur"),
                r.getAs[Long]("psi_nano")))
            }
            () // foreachBatch wants Unit
          })
        out.toSeq.toDF("batch_ord", "event_type", "n_ref", "n_cur", "psi_nano")
          .select(col("batch_ord"), col("event_type"), col("n_ref"), col("n_cur"),
            round(col("psi_nano").cast("double") / 1e9, 6).as("psi"),
            (col("psi_nano") > 100000000L).as("drifted"))
      }
    }
}
