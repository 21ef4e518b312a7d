package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expressions.ContamExpressions

/** Benchmark decontamination AT THE INGEST EDGE — the streamed gate the
  * batch family (text_cross_contamination → pipeline_mix_decontaminated)
  * promises: the load that ships training data also refuses benchmark
  * content, per micro-batch, with ZERO joins in the hot path.
  *
  * The eval corpus's distinct 4-gram digests build an m=65536-bit, k=4
  * Bloom filter whose positions are Kirsch-Mitzenmacher combinations
  * (h1 + j·h2) mod m of the digest's two halves (the MinHash signature
  * scheme — one md5 per shingle, arithmetic for the rest). Each arriving
  * doc then evaluates entirely per-row: tokens → distinct 4-gram shingle
  * hashes → per shingle, all 4 bit positions set → hit count;
  * contaminated iff ≥50% of its shingles hit. No stream-static join, no
  * state store, no shuffle — at 100 TB the gate is pure map work riding
  * the ingest scan, and the filter is rebuilt only when the benchmark
  * suite changes (it is bounded by m = 8 KiB regardless of corpus size;
  * the position collect is the one driver-side read, ≤65536 rows by
  * construction).
  *
  * PERF HISTORY (each step measured, sf0.1 quiet reps): (1) per-position
  * md5s (md5(h || '_' || j)) put ~40M interpreted md5s on the stream —
  * 55 s; Kirsch-Mitzenmacher cut it ~4×. (2) A 16384-char hex STRING
  * bitmap probed with substr made every probe walk ~8 KB of the literal
  * (UTF8String.substring is O(position)) — 47 s; the nibble-packed array
  * literal + element_at fixed that → 5.2 s. (3) What remained was the
  * interpreted-HOF tax itself: Catalyst evaluates transform/filter/forall
  * lambdas per element per row, so every shingle paid tree-walk overhead
  * around its one md5 — and the single-file fixture serialized all of it
  * onto one input partition. Now the whole per-doc loop is ONE compiled
  * call ([[graft.expressions.ContamProbe]], real doGenCode, bitmap as a
  * reference object instead of a plan literal) and arrivals are staged 8
  * files per batch — the hot path is finally the md5s the semantics
  * require, spread across the scan's tasks.
  *
  * Bloom one-sidedness does the right thing here: a genuinely
  * contaminated doc can never slip through (no false negatives — every
  * truly-covered shingle's positions are set), while a false positive
  * only quarantines a clean doc for triage. The routed sink is
  * partitionBy(verdict), and the read-back audit hash-matches DuckDB
  * replaying the SAME position sets relationally — the false-positive
  * behavior itself is reproduced, not approximated.
  */
object ContamGate {
  private val M = 65536
  private val K = 4

  def audit(spark: SparkSession, sfDir: String): DataFrame =
    graft.tables.Tables.withShufflePartitions(spark, 4) {
      // the eval-side Bloom: every distinct eval shingle's K positions
      // (one compiled call per doc), exploded → DISTINCT set bits;
      // bounded by M rows, collected once to build the 8 KiB bitmap the
      // stream probes
      val posSet = spark.read
        .parquet(graft.queries.TextOps.evalCorpusDir(spark, sfDir))
        .select(ContamExpressions.positions(
          split(trim(col("text")), "\\s+"), M, K).as("ps"))
        .select(explode(col("ps")).as("p"))
        .distinct().collect().map(_.getLong(0))
      val bits = new Array[Byte](M / 8)
      posSet.foreach { p =>
        bits(p.toInt >> 3) = (bits(p.toInt >> 3) | (1 << (p.toInt & 7))).toByte
      }

      // the deterministic arrival fixture is staged ONCE per documents
      // content stamp (the evalCorpusDir discipline): each parity slice
      // as 8 files — a single-file batch puts the gate's whole
      // per-shingle map on ONE input partition, a fixture artifact (real
      // ingest arrives as many files). Sink + checkpoint stay per-run.
      val staged = graft.Fixtures.stage("contam_arrivals", 1,
        graft.Fixtures.Source(sfDir, "documents.parquet")) { tmp =>
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id"), col("source"), col("text"))
        require(docs.head(1).nonEmpty, s"$sfDir/documents.parquet is empty")
        StagedEvents.writeParts(docs.filter(col("doc_id") % 2 === 0),
          tmp, "b0_docs", 8, 60)
        StagedEvents.writeParts(docs.filter(col("doc_id") % 2 =!= 0),
          tmp, "b1_docs", 8, 45)
      }
      val schema =
        spark.read.parquet(staged.resolve("b0_docs_0.parquet").toString).schema
      val routed = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "8")
        .parquet(staged.toString)
        .select(col("doc_id"), col("source"),
          ContamExpressions.probe(
            split(trim(col("text")), "\\s+"), bits, M, K).as("pr"))
        .select(col("doc_id"), col("source"),
          element_at(col("pr"), 1).as("n_sh"),
          element_at(col("pr"), 2).as("nc"))
        .select(col("doc_id"), col("source"), col("nc"),
          when(col("n_sh") > 0 && col("nc") * 2 >= col("n_sh"), lit("contam"))
            .otherwise(lit("clean")).as("verdict"))
      Drain.readBack(spark) { out =>
        Drain.run("stream_contam_gate", routed.writeStream
          .format("parquet").option("path", out).partitionBy("verdict"))
      } { sink => // bounded (≤ 2·|sources| rows)
        sink.groupBy(col("source"), col("verdict").cast("string").as("verdict"))
          .agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("n_hits"),
            min(col("doc_id")).as("min_doc_id"),
            max(col("doc_id")).as("max_doc_id"))
      }
    }
}
