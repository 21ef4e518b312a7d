package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Peptides
import graft.io.{DesignReader, ReportReader}
import graft.ops.{DiannToMsstats, MzmlStats, PsmConvert}

/** The generator's closed-form counts (`expected.tsv`). */
final class Expected(dir: String) {
  private val kv: Map[String, String] =
    Files.readAllLines(Paths.get(dir, "expected.tsv")).asScala
      .map(_.split("\t", 2)).collect { case Array(k, v) => k -> v }.toMap

  def long(key: String): Long = kv.getOrElse(key, sys.error(s"expected.tsv has no $key")).toLong
  def str(key: String): String = kv.getOrElse(key, sys.error(s"expected.tsv has no $key"))
}

/** What a rep's output check found: failed checks, and the measured counts
  * that are reported as per-layer metrics.
  */
final case class Checked(failures: Seq[String], counts: Map[String, Double])

/** One workload: the chain a client issues, the prefix "ladder" that splits
  * it into layers, and the check of its outputs.
  */
trait Chain {
  def items: Long
  def inputBytes: Long

  /** Bytes of the mzML corpus the chain reads (0 when it reads none). */
  def mzmlBytes: Long

  /** One chain run writing under `out`; every call into the program is a
    * span.
    */
  def run(out: String, t: Trace): Unit

  def check(out: String): Checked

  /** Ordered rungs: (name, body). Each body forces one prefix of the chain
    * to completion; the last rungs are the chain's own steps.
    */
  def rungs(out: String, t: Trace): Seq[(String, () => Unit)]

  /** Name of the rung whose engine input bytes give
    * `mzml.bytes_read_per_input_byte`, if any.
    */
  def mzmlRung: Option[String]

  /** Per-layer seconds from rung medians; they add up to the chain's own
    * steps' rung times. `decodes` is how many times the chain's mzML step
    * read the corpus.
    */
  def layers(rung: Map[String, Double], decodes: Double): Seq[(String, Double)]
}

object Chain {
  val QValueThreshold = 0.01

  def apply(spark: SparkSession, workload: String, inputs: String): Chain = workload match {
    case "dda_many_runs" => new DdaManyRuns(spark, inputs)
    case "dia_msstats" => new DiaMsstats(spark, inputs)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def fileBytes(path: String): Long = new File(path).length()

  /** Bytes of every regular file under `path`, Spark's `_SUCCESS`/`.crc`
    * bookkeeping excluded.
    */
  def treeBytes(path: String): Long = {
    val root = Paths.get(path)
    if (!Files.exists(root)) 0L
    else {
      val walk = Files.walk(root)
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p))
        .filterNot { p => val n = p.getFileName.toString; n.startsWith(".") || n.startsWith("_") }
        .map(Files.size).sum
      finally walk.close()
    }
  }

  def expect(failures: collection.mutable.Buffer[String], what: String,
             got: Long, want: Long): Unit =
    if (got != want) failures += s"$what: got $got, want $want"
}

/** `dda_many_runs`: mzML → ms_info/ms2_info → PSMs ⋈ MS2 peaks.
  * `MzmlStats.runMany` covers every run in one job; then each run's PSMs
  * are joined to that run's `ms2_info` partition by `PsmConvert.run`.
  */
final class DdaManyRuns(spark: SparkSession, inputs: String) extends Chain {
  import Chain._

  private val exp = new Expected(inputs)
  private val runs: Seq[String] = (1 to exp.long("runs").toInt).map(r => f"run$r%02d")
  private def mzml(r: String) = s"$inputs/$r.mzML"
  private def idxml(r: String) = s"$inputs/$r.idXML"

  val items: Long = exp.long("items")
  val mzmlBytes: Long = runs.map(r => fileBytes(mzml(r))).sum
  val inputBytes: Long = mzmlBytes + runs.map(r => fileBytes(idxml(r))).sum

  private def ms2Path(out: String, r: String) = s"$out/mzml/ms2_info/file_name=$r.mzML"
  private def psmPath(out: String, r: String) = s"$out/psm/${r}_psm.parquet"

  /** The reference's `mzmlstats --ms2_file`, for every run at once. */
  private def mzmlStep(out: String, t: Trace): Unit =
    t.span("MzmlStats.runMany") {
      MzmlStats.runMany(spark, runs.map(mzml), s"$out/mzml", ms2File = true)
    }

  private def psmStep(out: String, t: Trace): Unit = {
    Files.createDirectories(Paths.get(out, "psm"))
    runs.foreach { r =>
      t.span("PsmConvert.run") {
        PsmConvert.run(spark, idxml(r), Some(ms2Path(out, r)),
          exportDecoyPsm = true, outputFile = Some(psmPath(out, r)))
      }
    }
  }

  def run(out: String, t: Trace): Unit = {
    mzmlStep(out, t)
    psmStep(out, t)
  }

  val mzmlRung: Option[String] = Some("mzmlstats.step")

  def rungs(out: String, t: Trace): Seq[(String, () => Unit)] = {
    val paths = runs.map(mzml)
    def perRun(f: String => DataFrame): () => Unit = () => runs.foreach(r => noop(f(r)))
    Seq(
      "mzml.decode" -> (() => noop(t.span("MzmlStats.readSpectra")(MzmlStats.readSpectra(spark, paths)))),
      "mzmlstats.msinfo" -> (() => noop(t.span("MzmlStats.msInfo")(
        MzmlStats.msInfo(MzmlStats.readSpectra(spark, paths))))),
      "mzmlstats.ms2info" -> (() => noop(t.span("MzmlStats.ms2Info")(
        MzmlStats.ms2Info(MzmlStats.readSpectra(spark, paths))))),
      "mzmlstats.step" -> (() => mzmlStep(out, t)),
      "idxml.parse" -> perRun(r => t.span("PsmConvert.readIdXml")(
        PsmConvert.readIdXml(spark, Seq(idxml(r))))),
      "psmconvert.assemble" -> perRun(r => t.span("PsmConvert.convert")(
        PsmConvert.convert(PsmConvert.readIdXml(spark, Seq(idxml(r))), None, exportDecoyPsm = true))),
      "psmconvert.join" -> perRun(r => t.span("PsmConvert.convert")(
        PsmConvert.convert(PsmConvert.readIdXml(spark, Seq(idxml(r))),
          Some(spark.read.parquet(ms2Path(out, r))), exportDecoyPsm = true))),
      "psmconvert.step" -> (() => psmStep(out, t)))
  }

  def layers(rung: Map[String, Double], decodes: Double): Seq[(String, Double)] = {
    val decode = rung("mzml.decode")
    val msinfo = rung("mzmlstats.msinfo") - decode
    val ms2info = rung("mzmlstats.ms2info") - decode
    Seq(
      "mzml.decode_s" -> decodes * decode,
      "mzmlstats.msinfo_s" -> msinfo,
      "mzmlstats.ms2info_s" -> ms2info,
      "mzmlstats.write_s" -> (rung("mzmlstats.step") - decodes * decode - msinfo - ms2info),
      "idxml.parse_s" -> rung("idxml.parse"),
      "psmconvert.assemble_s" -> (rung("psmconvert.assemble") - rung("idxml.parse")),
      "psmconvert.join_s" -> (rung("psmconvert.join") - rung("psmconvert.assemble")),
      "sink.single_file_s" -> (rung("psmconvert.step") - rung("psmconvert.join")))
  }

  /** Per run: ms_info rows, Σ num_peaks, MS1 rows and parentless MS2 rows;
    * ms2_info rows and peaks; PSMs, decoys and PSMs joined to their peaks.
    */
  def check(out: String): Checked = {
    val failures = collection.mutable.Buffer.empty[String]
    def perRun(path: String, aggs: org.apache.spark.sql.Column*) =
      spark.read.parquet(path).groupBy("file_name").agg(aggs.head, aggs.tail: _*)
        .collect().map(row => row.getString(0).stripSuffix(".mzML") -> row).toMap
    val info = perRun(s"$out/mzml/ms_info",
      count(lit(1)), sum(col("num_peaks")),
      sum(when(col("ms_level") === 1, 1).otherwise(0)),
      sum(when(col("ms_level") === 2 && col("precursor_rt").isNull, 1).otherwise(0)))
    val ms2 = perRun(s"$out/mzml/ms2_info", count(lit(1)), sum(size(col("mz_array"))))
    runs.foreach { r =>
      def want(key: String, got: org.apache.spark.sql.Row, i: Int): Unit =
        expect(failures, s"$r $key", got.getLong(i), exp.long(s"$r.$key"))
      info.get(r) match {
        case None => failures += s"$r: no ms_info rows"
        case Some(row) =>
          Seq("spectra", "num_peaks", "ms1", "orphan_ms2").zipWithIndex
            .foreach { case (k, i) => want(k, row, i + 1) }
      }
      ms2.get(r) match {
        case None => failures += s"$r: no ms2_info rows"
        case Some(row) => want("ms2", row, 1); want("ms2_num_peaks", row, 2)
      }
      val psm = spark.read.parquet(psmPath(out, r)).agg(
        count(lit(1)), sum(col("is_decoy")), count(col("num_peaks"))).head()
      Seq("psms", "decoys", "matched").zipWithIndex.foreach { case (k, i) => want(k, psm, i) }
    }
    Checked(failures.toSeq, Map.empty)
  }
}

/** `dia_msstats`: one DIA-NN `report.parquet` plus a legacy design through
  * `DiannToMsstats.run` into one CSV.
  */
final class DiaMsstats(spark: SparkSession, inputs: String) extends Chain {
  import Chain._

  private val exp = new Expected(inputs)
  private val report = s"$inputs/report.parquet"
  private val design = s"$inputs/design.tsv"

  val items: Long = exp.long("items")
  val mzmlBytes: Long = 0L
  val inputBytes: Long = fileBytes(report) + fileBytes(design)
  val mzmlRung: Option[String] = None

  private def csv(out: String) = s"$out/design_msstats_in.csv"

  def run(out: String, t: Trace): Unit =
    t.span("DiannToMsstats.run") {
      DiannToMsstats.run(spark, report, design, QValueThreshold, out)
    }

  def rungs(out: String, t: Trace): Seq[(String, () => Unit)] = {
    def read() = t.span("ReportReader.read")(ReportReader.read(spark, report, QValueThreshold))
    Seq(
      "report.scan" -> (() => noop(read())),
      "peptides.normalize" -> (() => noop(read().select(t.span("Peptides.normalizeSequence")(
        Peptides.normalizeSequence(Peptides.sanitizeSequence(col("`Modified.Sequence`"))))))),
      "msstats.convert" -> (() => noop(t.span("DiannToMsstats.convert")(
        DiannToMsstats.convert(read(), DesignReader.read(spark, design))))),
      "msstats.step" -> (() => run(out, t)))
  }

  def layers(rung: Map[String, Double], decodes: Double): Seq[(String, Double)] = Seq(
    "report.scan_s" -> rung("report.scan"),
    "peptides.normalize_s" -> (rung("peptides.normalize") - rung("report.scan")),
    "msstats.convert_s" -> (rung("msstats.convert") - rung("peptides.normalize")),
    "sink.single_file_s" -> (rung("msstats.step") - rung("msstats.convert")))

  def check(out: String): Checked = {
    val failures = collection.mutable.Buffer.empty[String]
    val rows = spark.read.option("header", true).csv(csv(out))
    val r = rows.agg(
      count(lit(1)),
      countDistinct(col("Run")),
      sum(when(col("PeptideSequence").rlike("(?i)unimod|\\[|\\(SILAC\\)"), 1).otherwise(0)),
      sum(when(col("BioReplicate").isNull, 1).otherwise(0))).head()
    val outRuns = rows.select("Run").distinct().collect().map(_.getString(0)).toSet
    val dropped = exp.str("dropped").split(",").toSet
    expect(failures, "msstats rows", r.getLong(0), exp.long("rows_out"))
    expect(failures, "msstats runs", r.getLong(1), exp.long("runs_out"))
    expect(failures, "un-normalized peptidoforms", r.getLong(2), 0L)
    expect(failures, "rows without a design match", r.getLong(3), 0L)
    if ((outRuns & dropped).nonEmpty)
      failures += s"runs missing from the design were kept: ${(outRuns & dropped).mkString(",")}"
    val in = ReportReader.read(spark, report, QValueThreshold)
      .agg(count(lit(1)), countDistinct(col("Run"))).head()
    expect(failures, "msstats unmatched runs", in.getLong(1) - r.getLong(1), exp.long("unmatched_runs"))
    Checked(failures.toSeq, Map(
      "msstats.rows_in" -> in.getLong(0).toDouble,
      "msstats.rows_out" -> r.getLong(0).toDouble,
      "msstats.unmatched_runs" -> (in.getLong(1) - r.getLong(1)).toDouble))
  }
}
