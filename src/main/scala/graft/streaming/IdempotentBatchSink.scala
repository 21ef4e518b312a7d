package graft.streaming

import org.apache.spark.sql.DataFrame

/** batchId-keyed idempotent commit for `foreachBatch` sinks — the code
  * form of the contract the PSI gate's sink note documents: Spark re-runs
  * a failed micro-batch with the SAME batchId, so a sink that blind-appends
  * duplicates every row of a retried batch. Each batch commits under
  * `root/batch_id=<id>/` through the shared atomic-rename stage protocol
  * ([[graft.Fixtures.commit]]): write to a UUID temp dir, re-check
  * the `_SUCCESS` marker, atomic move — so a replayed batch finds the
  * marker and becomes a no-op (replace-nothing) instead of an append, and
  * a reader never sees a half-written batch directory. The `batch_id=`
  * naming doubles as a partition column on read-back, which is exactly the
  * layout a downstream reconciliation job wants (per-batch lineage for
  * free).
  */
object IdempotentBatchSink {

  /** Commit `batch` under `root/batch_id=<batchId>`, partitioned by
    * `partitionCols` inside the batch directory. Returns true iff THIS
    * call staged the data (false = the batch was already committed — the
    * retry path).
    */
  def commit(batch: DataFrame, root: String, batchId: Long,
      partitionCols: Seq[String] = Nil): Boolean =
    // The return value is Fixtures.commit's race outcome — whether the
    // atomic move landed — NOT whether our write callback ran: a loser
    // whose tmp is discarded after another JVM's commit must report false.
    graft.Fixtures.commit(s"$root/batch_id=$batchId") { tmp =>
      val w = batch.write.mode("overwrite")
      // Spark's parquet commit leaves the _SUCCESS marker Fixtures.commit keys on
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(tmp)
    }
}
