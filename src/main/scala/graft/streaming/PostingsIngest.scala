package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ENCODE-AT-INGEST for the LEXICAL index — the text-side twin of
  * [[EncodeIngest]]: documents arrive in micro-batches, are tokenized
  * and posting-ized per row (STATELESS — a document's term frequencies
  * need only its own token array: explode the distinct terms, count
  * each with a HOF filter over the row's tokens; no streaming
  * aggregation, no state store), each posting routed to its md5 term
  * bucket, and the stream APPENDS into the partitionBy(bucket) layout —
  * the bucket-routed posting append a live corpus feed runs. Each
  * micro-batch adds one file per touched bucket (the fragmentation the
  * frag-trigger family meters and the recompaction merges).
  *
  * The emitted per-bucket inventory is read BACK from the streamed
  * layout and must equal the logical posting table DuckDB re-derives
  * from raw text — the SAME oracle as the batch compaction
  * (text_postings_compaction): multi-batch append loses nothing.
  */
object PostingsIngest {

  def inventory(spark: SparkSession, sfDir: String): DataFrame =
    graft.tables.Tables.withShufflePartitions(spark, 4) {
      // doc-parity arrival fixture: pure function of the documents table,
      // staged once per content stamp and shared (the sink + checkpoint
      // dirs stay per-invocation — the query writes them)
      val staged = graft.Fixtures.stage("postings_ingest_src", 1,
        graft.Fixtures.Source(sfDir, "documents.parquet")) { tmp =>
        val docs = graft.tables.Tables.documents(spark, sfDir)
          .select(col("doc_id"), col("text"))
        require(docs.head(1).nonEmpty, s"$sfDir/documents.parquet is empty")
        StagedEvents.writePart(docs.filter(col("doc_id") % 2 === 0),
          tmp, "b0_docs.parquet", 60)
        StagedEvents.writePart(docs.filter(col("doc_id") % 2 === 1),
          tmp, "b1_docs.parquet", 45)
      }
      val schema =
        spark.read.parquet(staged.resolve("b0_docs.parquet").toString).schema
      val postings = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged.toString)
        .select(col("doc_id"),
          filter(split(trim(col("text")), "\\s+"), t => length(t) > 0).as("t"))
        .select(col("doc_id"), col("t"),
          explode(array_distinct(col("t"))).as("term"))
        .select(col("doc_id"), col("term"),
          size(filter(col("t"), x => x === col("term"))).cast("long").as("tf"))
        .withColumn("bucket",
          (conv(substring(md5(col("term")), 1, 15), 16, 10).cast("long")
            % 16).cast("int"))
      Drain.readBack(spark) { out =>
        Drain.run("stream_postings_ingest", postings.writeStream
          .format("parquet").option("path", out).partitionBy("bucket"))
      } { sink => // bounded (16 rows)
        sink.groupBy(col("bucket").cast("int").as("bucket"))
          .agg(countDistinct(col("term")).as("n_terms"),
            count(lit(1)).as("n_postings"), sum(col("tf")).as("n_tokens"))
      }
    }
}
