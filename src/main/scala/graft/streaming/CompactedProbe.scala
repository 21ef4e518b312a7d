package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The streamed IVF-PQ probe against the COMPACTED inverted-list layout —
  * [[ProbeStream]]'s serving regime composed with sim_ivfpq_compaction's
  * physical layout step: the index (cell + codes) is written
  * partitionBy(cell) so each inverted list is one partition directory,
  * and the probe stream's candidate scan OPENS ONLY THE PROBED CELLS'
  * DIRECTORIES (the nprobe cells are known from the bounded probe set, so
  * the static side carries a literal cell filter that partition-prunes —
  * pinned in CompactionSpec). This is the read path the compaction job
  * exists to serve: at 100 TB a probe touches nprobe lists, never the
  * corpus.
  *
  * In-stream work is the stateless LUT projection + two equi-joins
  * (probe→cells broadcast, then (cell, sub, c_id) against the pruned
  * static codes) + ONE complete-mode aggregation for the per-(probe,
  * candidate) ADC totals. The shortlist/exact re-rank runs BATCH-side
  * over the bounded drained aggregate (the stream_topk discipline), via
  * the exact tail `sim_ivfpq_topk` itself runs — so the whole streamed
  * path must land on sim_ivfpq_topk's own oracle, hash for hash.
  */
object CompactedProbe {

  /** One drain per (session, dir, stamp) — serving reps read the memo
    * (the ProbeStream discipline).
    */
  private val memo = new ReplayMemo(2)

  /** Stage-once compacted index per data-dir CONTENT STAMP: in
    * production the compaction is an INGEST artifact (sim_ivfpq_
    * compaction / _recompaction are the jobs that build and maintain
    * it); the serving path reads it, it does not rebuild it per query.
    * Keyed by the content stamp so an in-place regeneration of the data
    * dir re-stages, same rule as the SessionFrameCache.
    */
  private[graft] def compactedDir(spark: SparkSession, sfDir: String): String =
    graft.Fixtures.stage("compacted", 1, graft.Fixtures.Source(sfDir)) { tmp =>
      import graft.queries.Similarity
      // the compaction step: one writer task per cell = one file per list
      Similarity.ivfpqCellsShared(spark, sfDir)
        .join(Similarity.pqCodesShared(spark, sfDir), Seq("vec_id"))
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(tmp.toString)
    }.toString

  def ivfpqTop5(spark: SparkSession, sfDir: String): DataFrame =
    graft.tables.Tables.withShufflePartitions(spark, 4) {
      import graft.queries.Similarity
      val drained = memo.getOrRun(spark, sfDir, tag = "stream_compacted_probe") {
        val cents = Similarity.collectedCents(
          Similarity.pqCodebookShared(spark, sfDir))
        val probeCells = Similarity.ivfpqProbeCells(spark, sfDir)
        // bounded: nprobe=2 × ≤10 probes over 16 cells
        val cellIds = probeCells.select(col("cell").cast("int"))
          .distinct().collect().map(_.getInt(0)).sorted
        val idxDir = compactedDir(spark, sfDir)
        val staged = Files.createTempDirectory("stream-compacted-probe")
        try {
          val codes = compactedCodes(spark, idxDir, cellIds)
          val probes = graft.tables.Tables.embeddings(spark, sfDir)
            .filter(col("vec_id") < 10)
          require(probes.head(1).nonEmpty,
            s"$sfDir/embeddings.parquet has no probe rows — cannot stage a probe stream")
          StagedEvents.writePart(probes.filter(col("vec_id") % 2 === 0),
            staged, "b0_probes.parquet", 60)
          StagedEvents.writePart(probes.filter(col("vec_id") % 2 === 1),
            staged, "b1_probes.parquet", 45)
          val schema =
            spark.read.parquet(staged.resolve("b0_probes.parquet").toString).schema
          val scores = spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(staged.toString)
            .select(col("vec_id").as("q_id"),
              transform(col("embedding"), x => x.cast("double")).as("v"))
            .select(col("q_id"),
              transform(col("v"), x => round(x * 1000000).cast("long")).as("xu"))
            .select(col("q_id"), explode(ProbeStream.lutStructs(col("xu"), cents)).as("l"))
            .select(col("q_id"), col("l.sub").as("sub"),
              col("l.c_id").as("c_id"), col("l.d2").as("d2"))
            .join(broadcast(probeCells), Seq("q_id")) // probe → its nprobe cells
            .join(codes, Seq("cell", "sub", "c_id")) // pruned inverted lists only
            .filter(col("vec_id") =!= col("q_id"))
            .groupBy(col("q_id"), col("vec_id"))
            .agg(sum(col("d2")).as("adc_u"))
          Drain.toMemoryWithProgress(spark, "stream_compacted_probe", scores,
            mode = "complete")
        } finally StagedEvents.deleteRecursively(staged)
      }._1
      // exact shortlist/re-rank tail — batch-side, shared with sim_ivfpq_topk
      Similarity.ivfpqExactTail(spark, sfDir, drained, 50)
    }

  /** The static candidate side: the compacted layout read back with a
    * literal cell filter, so the scan partition-prunes to the probed
    * lists' directories. Factored out so CompactionSpec can pin the
    * pruning on the exact frame the stream joins.
    */
  private[graft] def compactedCodes(
      spark: SparkSession, idxDir: String, cellIds: Seq[Int]): DataFrame =
    spark.read.parquet(idxDir)
      .filter(col("cell").isin(cellIds.map(Int.box): _*))
      .select(col("cell").cast("int").as("cell"),
        col("vec_id"), col("sub"), col("c_id"))
}
