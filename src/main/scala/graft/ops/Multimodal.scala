package graft.ops

import java.security.MessageDigest
import java.util.zip.CRC32

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads ride as opaque
  * `binary` columns with a typed metadata struct; decode / feature-extract
  * runs batched per partition (the Scala analog of `mapInPandas` — one
  * iterator pass, batch-shaped amortization, no per-row driver involvement).
  *
  * REAL decode lives in [[MediaCodec]] (PNG/BMP via `javax.imageio`, WAV
  * PCM via a direct RIFF parse — JDK-only, oracle-checked end to end by
  * `mm_decode_meta`). `decodeStub` below remains ONLY as the stand-in for
  * formats the JDK has no codec for (video/JPEG-XL/...): it derives
  * deterministic pseudo frame metadata from a CRC of the payload so the
  * transport contract (schema, batching, null handling) stays testable for
  * those too; swapping it for a JNI/ffmpeg call changes no plan shape.
  */
object Multimodal {

  val mediaMetaType: StructType = StructType(Seq(
    StructField("n_bytes", IntegerType, nullable = false),
    StructField("sha256", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false)))

  /** STUB decode: deterministic pseudo-metadata from the payload CRC.
    * Replace with a real codec for production use.
    */
  def decodeStub(payload: Array[Byte]): (Int, Int, Int) = {
    val crc = new CRC32()
    crc.update(payload)
    val h = crc.getValue
    (640 + (h % 1280).toInt, 360 + ((h >> 11) % 720).toInt, 1 + ((h >> 22) % 240).toInt)
  }

  /** Attach the metadata struct to a (id, media: binary) DataFrame.
    * Batched per partition via mapPartitions; output schema is
    * (input columns..., meta: mediaMetaType). A null payload yields a
    * null meta struct — binary columns are nullable in real tables and a
    * single null row must not kill the task.
    */
  def withMediaMeta(df: DataFrame, binaryCol: String): DataFrame = {
    val outSchema = StructType(df.schema.fields :+ StructField("meta", mediaMetaType))
    val binIdx = df.schema.fieldIndex(binaryCol)
    implicit val enc = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      // one digest instance per batch/partition, not per row
      val md = MessageDigest.getInstance("SHA-256")
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](binIdx)
        val meta = if (payload == null) null else {
          md.reset()
          val sha = md.digest(payload).map(b => f"$b%02x").mkString
          val (w, h, f) = decodeStub(payload)
          Row(payload.length, sha, w, h, f)
        }
        Row.fromSeq(r.toSeq :+ meta)
      }
    }
  }

  /** Frame sampling stub: every k-th frame index of the decoded stream —
    * the batch-shape of a video pipeline without the codec.
    */
  def sampleFrameIndexes(nFrames: Int, every: Int): Seq[Int] =
    (0 until nFrames by math.max(1, every)).toSeq

  val decodedMetaType: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("channels", IntegerType),
    StructField("n_samples", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("duration_us", LongType),
    StructField("checksum", LongType)))

  /** The `mm_decode_meta` pipeline: `n` synthesized payloads (PNG / BMP /
    * WAV round-robin by id, [[MediaSynth]]), REALLY decoded per partition
    * with the JDK codecs ([[MediaCodec]]) — sniff the magic, decode the
    * bytes, fold pixels/samples to a checksum. Generation is the source
    * stand-in and runs in the same task as the decode (scan → decode is
    * one pipelined stage; nothing funnels through the driver), across
    * `partitions` input splits. Fixture content is arithmetic in id, so
    * every decoded field is known in closed form without a codec — the
    * DuckDB oracle is `MediaSynth.expected` as a VALUES literal.
    */
  def decodedFixtures(spark: SparkSession, n: Int, partitions: Int = 8): DataFrame = {
    implicit val enc = RowEncoder.encoderFor(decodedMetaType)
    spark.range(0, n, 1, partitions).toDF("media_id").mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val m = MediaCodec.decode(MediaSynth.payload(id)).getOrElse(
          throw new IllegalStateException(s"fixture payload $id failed to decode"))
        Row(id, m.kind,
          m.width.map(Int.box).orNull, m.height.map(Int.box).orNull,
          Int.box(m.channels),
          m.nSamples.map(Int.box).orNull, m.sampleRate.map(Int.box).orNull,
          m.durationUs.map(Long.box).orNull, m.checksum)
      }
    }
  }

  /** Stage-once parquet table of the fixture payloads as a REAL `media
    * BINARY` column (8 part files) — the cluster-shaped input for
    * [[decodedScan]]: payloads written at ingest, decoded by a later
    * stage from a scan, not generated in-task. Content is arithmetic in
    * media_id, so the staged bytes are identical across JVMs and rounds.
    */
  def mediaTableDir(spark: SparkSession, n: Int): String =
    mediaTable("media", n, spark.range(0, n, 1, 8).toDF())(
      id => Seq(id -> MediaSynth.payload(id)))

  private val mediaTableType: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("media", BinaryType, nullable = false)))

  /** The one builder of the stage-once `(media_id, media BINARY)` tables:
    * fixture `graft_<kind>_table` keyed on `n`, holding `rows(id)` for every
    * id in the first column of `ids`, in `ids`' partitions. `rows` must be
    * pure arithmetic in the id; bump the version below whenever a payload
    * generator ([[MediaSynth]]) changes what it writes.
    */
  private def mediaTable(kind: String, n: Int, ids: => DataFrame)(
      rows: Long => Seq[(Long, Array[Byte])]): String =
    graft.Fixtures.stage(s"${kind}_table", 1, graft.Fixtures.Params(n)) { tmp =>
      implicit val enc = RowEncoder.encoderFor(mediaTableType)
      ids.mapPartitions(_.flatMap(r => rows(r.getLong(0)).map { case (id, p) => Row(id, p) }))
        .write.mode("overwrite").parquet(tmp.toString)
    }.toString

  /** `mm_decode_scan`: the decode pipeline over the staged BINARY-column
    * parquet table — scan → per-partition JDK decode, one pipelined
    * stage, the exact shape a 100 TB media lake runs (payload bytes come
    * off the columnar scan, never a generator). Same output contract and
    * closed-form oracle as [[decodedFixtures]]; what this adds is the
    * binary-column I/O path end-to-end.
    */
  def decodedScan(spark: SparkSession, n: Int): DataFrame = {
    val dir = mediaTableDir(spark, n)
    implicit val enc = RowEncoder.encoderFor(decodedMetaType)
    spark.read.parquet(dir).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getAs[Long]("media_id")
        val m = MediaCodec.decode(r.getAs[Array[Byte]]("media")).getOrElse(
          throw new IllegalStateException(s"staged payload $id failed to decode"))
        Row(id, m.kind,
          m.width.map(Int.box).orNull, m.height.map(Int.box).orNull,
          Int.box(m.channels),
          m.nSamples.map(Int.box).orNull, m.sampleRate.map(Int.box).orNull,
          m.durationUs.map(Long.box).orNull, m.checksum)
      }
    }
  }

  /** Stage-once parquet table for the perceptual-hash dedup fixture: the
    * n base payloads PLUS an exact re-ingest of every id % 10 == 0
    * payload under media_id + 1000 — the duplicate-upload shape a media
    * lake dedups. Content is arithmetic in the base id, so the staged
    * bytes are identical across JVMs and the planted pairs are known in
    * closed form.
    */
  def phashTableDir(spark: SparkSession, n: Int): String =
    mediaTable("phash", n, spark.range(0, n, 1, 8).toDF())(
      withReuploads(MediaSynth.payload))

  /** `id`'s row plus, for every id % 10 == 0, an exact re-ingest under
    * media_id + 1000: the planted duplicate-upload shape.
    */
  private def withReuploads(payload: Long => Array[Byte])(id: Long): Seq[(Long, Array[Byte])] = {
    val p = payload(id)
    if (id % 10 == 0) Seq(id -> p, (id + 1000L) -> p) else Seq(id -> p)
  }

  /** Stage-once parquet table of the TEXTURED image family (the
    * hash-scheme audit's second corpus — quadratic/cross-term pixels
    * where all three perceptual schemes have signal), with the same
    * planted duplicate-upload shape as [[phashTableDir]]
    * (id % 10 == 0 re-ingested under media_id + 1000).
    */
  def texTableDir(spark: SparkSession, n: Int): String =
    mediaTable("tex", n, spark.range(0, n, 1, 8).toDF())(
      withReuploads(MediaSynth.texturedPayload))

  /** Stage-once parquet table for the AUDIO fingerprint dedup fixture:
    * the n base payloads (mixed modalities — image rows route out at
    * hash time) PLUS the planted wav re-uploads of
    * [[MediaSynth.audioDupIds]]: a TIME-SHIFTED copy (4 samples of
    * leading silence) per id ≡ 2 (mod 30) under media_id + 1000 and a
    * REQUANTIZED copy (low bit cleared) per id ≡ 8 (mod 30) under
    * media_id + 2000 — the two edits a re-encoded upload actually makes.
    * Content is arithmetic in the base id, so staged bytes are identical
    * across JVMs and the planted pairs are known in closed form.
    */
  def audioTableDir(spark: SparkSession, n: Int): String =
    mediaTable("audio", n, spark.createDataset(
        spark.sparkContext.parallelize((0L until n) ++ MediaSynth.audioDupIds(n), 8))(
        org.apache.spark.sql.Encoders.scalaLong).toDF())(
      id => Seq(id -> MediaSynth.audioCorpusPayload(id)))

  val afpType: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("afp", LongType, nullable = false)))

  /** (media_id, afp) over the audio fixture table: scan the BINARY
    * column, decode + fingerprint per partition (image rows drop out —
    * the route-by-modality shape, [[imageHashes]]' audio twin). Banding
    * downstream is the shared bandedHammingPairs logic.
    */
  def audioHashes(spark: SparkSession, n: Int): DataFrame = {
    val dir = audioTableDir(spark, n)
    implicit val enc = RowEncoder.encoderFor(afpType)
    spark.read.parquet(dir).mapPartitions { rows =>
      rows.flatMap { r =>
        MediaCodec.audioFingerprint(r.getAs[Array[Byte]]("media"))
          .map(h => Row(r.getAs[Long]("media_id"), h))
      }
    }
  }

  val phashType: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("phash", LongType, nullable = false)))

  /** (media_id, phash) over the phash fixture table: scan the BINARY
    * column, decode + DCT-hash per partition (WAV rows drop out — the
    * route-by-modality shape). The dedup banding downstream is plain
    * DataFrame logic.
    */
  def imageHashes(spark: SparkSession, n: Int): DataFrame = {
    val dir = phashTableDir(spark, n)
    implicit val enc = RowEncoder.encoderFor(phashType)
    spark.read.parquet(dir).mapPartitions { rows =>
      rows.flatMap { r =>
        MediaCodec.pHash(r.getAs[Array[Byte]]("media"))
          .map(h => Row(r.getAs[Long]("media_id"), h))
      }
    }
  }

  /** DECODE-AT-INGEST for the media lake: the staged BINARY-column table
    * read as a file STREAM (4 micro-batches of 2 part files), every
    * payload decoded per row INSIDE the stream — a stateless
    * mapPartitions projection, no state store, the EncodeIngest shape
    * applied to media — and appended to the sink. The drained table must
    * equal the batch decode exactly (same closed-form oracle as
    * mm_decode_meta / mm_decode_scan): arrival batching changes nothing.
    */
  def decodedStream(spark: SparkSession, n: Int): DataFrame =
    graft.tables.Tables.withShufflePartitions(spark, 4) {
      val dir = mediaTableDir(spark, n)
      val schema = spark.read.parquet(dir).schema
      implicit val enc = RowEncoder.encoderFor(decodedMetaType)
      val decoded = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(dir)
        .mapPartitions { rows =>
          rows.map { r =>
            val id = r.getAs[Long]("media_id")
            val m = MediaCodec.decode(r.getAs[Array[Byte]]("media")).getOrElse(
              throw new IllegalStateException(s"staged payload $id failed to decode"))
            Row(id, m.kind,
              m.width.map(Int.box).orNull, m.height.map(Int.box).orNull,
              Int.box(m.channels),
              m.nSamples.map(Int.box).orNull, m.sampleRate.map(Int.box).orNull,
              m.durationUs.map(Long.box).orNull, m.checksum)
          }
        }
      graft.streaming.Drain.toMemory(spark, "stream_media_decode", decoded.toDF())
    }

  val hashesType: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("ahash", LongType, nullable = false),
    StructField("dhash", LongType, nullable = false),
    StructField("phash", LongType, nullable = false)))

  private def hashesAt(spark: SparkSession, dir: String): DataFrame = {
    implicit val enc = RowEncoder.encoderFor(hashesType)
    spark.read.parquet(dir).mapPartitions { rows =>
      rows.flatMap { r =>
        val p = r.getAs[Array[Byte]]("media")
        for (a <- MediaCodec.aHash(p); dh <- MediaCodec.dHash(p);
             ph <- MediaCodec.pHash(p))
          yield Row(r.getAs[Long]("media_id"), a, dh, ph)
      }
    }
  }

  /** (media_id, ahash, dhash, phash) over the phash fixture table — all
    * three perceptual schemes from one decode pass, for the scheme audit.
    */
  def perceptualHashes(spark: SparkSession, n: Int): DataFrame =
    hashesAt(spark, phashTableDir(spark, n))

  /** The same three-scheme hash table over the TEXTURED corpus. */
  def texturedHashes(spark: SparkSession, n: Int): DataFrame =
    hashesAt(spark, texTableDir(spark, n))

  val resizedMetaType: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType),
    StructField("out_w", IntegerType),
    StructField("out_h", IntegerType),
    StructField("checksum", LongType)))

  /** `mm_image_resize`: decode + nearest-neighbor resize to (ow, oh) per
    * partition (MediaCodec.resizedChecksum) over the image ids of the
    * fixture corpus; WAV ids drop out of the iterator (flatMap, no row) —
    * the route-by-modality shape of a mixed media table.
    */
  def resizedFixtures(spark: SparkSession, n: Int, ow: Int, oh: Int,
                      partitions: Int = 8): DataFrame = {
    implicit val enc = RowEncoder.encoderFor(resizedMetaType)
    spark.range(0, n, 1, partitions).toDF("media_id").mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getLong(0)
        MediaCodec.resizedChecksum(MediaSynth.payload(id), ow, oh)
          .map(m => Row(id, m.kind, Int.box(ow), Int.box(oh), m.checksum))
      }
    }
  }

  val audioMetaType: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("n_frames", IntegerType),
    StructField("zero_crossings", IntegerType),
    StructField("energy", LongType),
    StructField("max_frame_energy", LongType)))

  /** `mm_audio_features`: windowed integer audio features (Σ s² energy
    * total + loudest frame, zero crossings) per partition over the WAV
    * ids; image ids drop out.
    */
  def audioFixtures(spark: SparkSession, n: Int, window: Int,
                    partitions: Int = 8): DataFrame = {
    implicit val enc = RowEncoder.encoderFor(audioMetaType)
    spark.range(0, n, 1, partitions).toDF("media_id").mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getLong(0)
        MediaCodec.audioFeatures(MediaSynth.payload(id), window)
          .map(a => Row(id, Int.box(a.nFrames), Int.box(a.zeroCrossings),
            a.energy, a.maxFrameEnergy))
      }
    }
  }
}
