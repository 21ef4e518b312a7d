package graft.streaming

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STREAMED GDPR ERASURE — `cdc_forget_keys`' serving twin, closing the
  * erasure loop at the edge: forget keys ARRIVE as a stream (deletion
  * requests trickle in; nobody batches them weekly by hand), and each
  * micro-batch drives the SAME partition-pruned rewrite the batch job
  * proved — only the arriving keys' `user_id % 16` bucket footprint is
  * rewritten, every other file never opened (the footprint comes from
  * the KEYS alone, arithmetic, so planning a batch's purge costs zero
  * table scans).
  *
  * Idempotency per batchId (the foreachBatch replay contract, the
  * IdempotentBatchSink discipline applied to a MUTATION): each applied
  * batch commits a `batch_id=<id>/_SUCCESS` marker in an applied-log
  * dir, and a replayed batchId is a NO-OP — it must not re-delete a
  * fully-forgotten bucket directory and must not burn a rewrite on
  * partitions that already converged. The rewrite itself is convergent
  * (purging already-purged keys reproduces the same survivors), so a
  * crash BETWEEN rewrite and marker only costs the replay one redundant
  * rewrite, never a wrong table — the marker is the work-saver and the
  * re-delete guard, the convergence is the correctness.
  *
  * The audit is the read-back per-bucket before/after census of the
  * final layout — identical to the batch purge's audit by construction
  * (the two arrival batches partition the same md5 forget set), so the
  * two queries share ONE oracle SQL string: arrival batching changes
  * nothing about what ends up erased.
  */
object StreamForgetKeys {

  /** Apply one arriving forget-key batch to the bucket-partitioned table
    * at `tableDir`, idempotent per `batchId` via `appliedLog`. Returns
    * the bucket set this call rewrote (empty on a replayed batchId).
    */
  private[graft] def applyForgetBatch(spark: SparkSession, tableDir: Path,
      appliedLog: Path, keys: DataFrame, batchId: Long): Set[Int] = {
    val marker = appliedLog.resolve(s"batch_id=$batchId")
    if (Files.exists(marker.resolve("_SUCCESS"))) Set.empty
    else {
      val k = keys.select(col("user_id")).distinct()
      // the batch's bucket footprint — from the KEYS, no table scan;
      // bounded ≤16, intersected with the partitions that still exist
      val affected = k.select(pmod(col("user_id"), lit(16L)).cast("int").as("b"))
        .distinct().collect().map(_.getInt(0)).toSet
        .filter(b => Files.exists(tableDir.resolve(s"bkt=$b")))
      if (affected.nonEmpty) {
        val stored = spark.read.parquet(tableDir.toString)
        val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try {
          stored.filter(col("bkt").cast("int").isin(affected.toSeq: _*))
            .join(broadcast(k), Seq("user_id"), "left_anti")
            .repartition(col("bkt"))
            .write.mode("overwrite").partitionBy("bkt").parquet(tableDir.toString)
        } finally prev match {
          case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
          case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        }
        // a bucket whose every row this batch forgets emits no survivors,
        // so dynamic overwrite left its stale dir — delete it (≤16 dirs).
        // Guard the read with a part-file listing first: a crash between
        // file deletion and dir removal (or an interrupted overwrite) can
        // leave the dir existing but parquet-empty, where schema inference
        // would throw and fail the batch instead of converging on replay —
        // a part-less dir IS fully forgotten, delete it without reading.
        // The readable dirs are censused in ONE job (basePath keeps the
        // bkt partition column) instead of one driver-sequential probe
        // job per bucket (≤16 tiny jobs of pure scheduling overhead —
        // guide §5 driver discipline).
        val existing = affected.toSeq.sorted
          .filter(b => Files.exists(tableDir.resolve(s"bkt=$b")))
        val (readable, bare) = existing.partition { b =>
          val listing = Files.list(tableDir.resolve(s"bkt=$b"))
          try listing.iterator().asScala.exists(
            _.getFileName.toString.endsWith(".parquet"))
          finally listing.close()
        }
        bare.foreach(b =>
          StagedEvents.deleteRecursively(tableDir.resolve(s"bkt=$b")))
        if (readable.nonEmpty) {
          val surviving = spark.read.option("basePath", tableDir.toString)
            .parquet(readable.map(b => tableDir.resolve(s"bkt=$b").toString): _*)
            .join(broadcast(k), Seq("user_id"), "left_anti")
            .select(col("bkt").cast("int")).distinct()
            .collect().map(_.getInt(0)).toSet
          readable.filterNot(surviving).foreach(b =>
            StagedEvents.deleteRecursively(tableDir.resolve(s"bkt=$b")))
        }
      }
      Files.createDirectories(marker)
      Files.createFile(marker.resolve("_SUCCESS"))
      affected
    }
  }

  def audit(spark: SparkSession, sfDir: String): DataFrame =
    graft.tables.Tables.withShufflePartitions(spark, 4) {
      import spark.implicits._
      val tableDir = Files.createTempDirectory("stream-forget-table")
      val keysDir = Files.createTempDirectory("stream-forget-keys")
      val appliedLog = Files.createTempDirectory("stream-forget-applied")
      try {
        graft.ops.ForgetKeys.stage(spark, sfDir, tableDir)
        // bounded (≤16 rows): the pre-erasure census, materialized before
        // any rewrite touches the files it audits
        val before = spark.read.parquet(tableDir.toString)
          .groupBy(col("bkt").cast("int").as("bkt"))
          .agg(count(lit(1)).as("n_before"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        // the arriving deletion requests: cdc_forget_keys' md5 rule
        // verbatim, split into two user-parity arrival files
        val fk = graft.tables.Tables.events(spark, sfDir)
          .select(col("user_id")).distinct()
          .filter(conv(substring(
            md5(concat(lit("fg"), col("user_id").cast("string"))), 1, 15), 16, 10)
            .cast("long") % 10 === 0)
        StagedEvents.writePart(fk.filter(col("user_id") % 2 === 0),
          keysDir, "b0_keys.parquet", 60)
        StagedEvents.writePart(fk.filter(col("user_id") % 2 =!= 0),
          keysDir, "b1_keys.parquet", 45)
        val schema =
          spark.read.parquet(keysDir.resolve("b0_keys.parquet").toString).schema
        val rewrote = scala.collection.mutable.Set.empty[Int]
        Drain.run("stream_forget_keys", spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(keysDir.toString)
          .writeStream
          .foreachBatch { (keys: DataFrame, batchId: Long) =>
            rewrote.synchronized {
              rewrote ++= applyForgetBatch(spark, tableDir, appliedLog, keys, batchId)
            }
            ()
          })
        // bounded (≤16 rows): the post-erasure census from the FILES —
        // the purge proven from the rewritten layout, not the plan
        val after = spark.read.parquet(tableDir.toString)
          .groupBy(col("bkt").cast("int").as("bkt"))
          .agg(count(lit(1)).as("n_after"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        val touched = rewrote.synchronized(rewrote.toSet)
        before.toSeq.sortBy(_._1).map { case (b, nb) =>
          val na = after.getOrElse(b, 0L)
          (b, nb, na, nb - na, touched.contains(b))
        }.toDF("bkt", "n_before", "n_after", "n_purged", "rewritten")
      } finally {
        StagedEvents.deleteRecursively(tableDir)
        StagedEvents.deleteRecursively(keysDir)
        StagedEvents.deleteRecursively(appliedLog)
      }
    }
}
