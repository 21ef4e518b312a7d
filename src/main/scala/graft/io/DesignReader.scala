package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.functions.Peptides

/** Experimental-design tables.
  *
  * @param samples `Sample, MSstats_Condition, MSstats_BioReplicate`
  * @param files   `Fraction, Sample, run` (+ `Spectra_Filepath`/`Filename`,
  *                `Label` when multiplexed) — one row per raw file
  */
case class DesignTables(samples: DataFrame, files: DataFrame)

/** Readers for the two on-disk experimental-design formats
  * (reference: diann2msstats.py:141-240).
  *
  * Design files are a handful of rows of run metadata, so they are parsed on
  * the driver and both formats return LocalRelation-backed tables: reading
  * them back (as [[graft.ops.DiannToMsstats]] does) runs no Spark job.
  */
object DesignReader {

  /** Normalized design-file lines (CRLF/CR → LF, trailing EOF empties
    * dropped so only a true blank line between tables registers as empty —
    * matching Python readlines semantics).
    */
  private def readLines(path: String): Vector[String] = {
    val all = new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
      .replace("\r\n", "\n").replace("\r", "\n")
      .split("\n", -1).toVector
    all.reverse.dropWhile(_.isEmpty).reverse
  }

  /** Format sniff on the header line (diann2msstats.py:149-150): unified iff
    * it carries Condition + BioReplicate + Filename.
    */
  def read(spark: SparkSession, path: String): DesignTables = {
    val header = readLines(path).headOption.getOrElse("")
    if (header.contains("Condition") && header.contains("BioReplicate") &&
      header.contains("Filename")) readUnified(spark, path)
    else readLegacy(spark, path)
  }

  /** Unified flat TSV from convert-diann (diann2msstats.py:158-219). */
  def readUnified(spark: SparkSession, path: String): DesignTables = {
    val df = spark.read
      .option("sep", "\t").option("header", true)
      .csv(path)

    val required = Seq("Filename", "Fraction", "Sample", "Condition", "BioReplicate")
    val missing = required.filterNot(df.columns.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"Unified design file is missing required columns: ${missing.sorted.mkString(", ")}. " +
          s"Expected: ${required.sorted.mkString(", ")}")

    // one driver-side copy of the (few-row) table; everything below is Scala
    val hasLabel = df.columns.contains("Label")
    val cols = Seq("Filename", "Fraction", "Sample", "Condition", "BioReplicate") ++
      (if (hasLabel) Seq("Label") else Nil)
    val rows = df.select((cols.map(col) :+ Peptides.trueStem(col("Filename")).as("run")): _*)
      .collect().toSeq.map(r => (cols :+ "run").zipWithIndex.map { case (c, i) =>
        c -> r.getString(i) }.toMap)

    // an empty Label cell is null here (pandas astype(str) would have made
    // it "nan"): it is not a label, and it can't match either label family
    val labels = if (hasLabel) rows.map(_("Label")).filter(_ != null).distinct else Nil
    val multiplexed = labels.size > 1

    val fileCols = Seq("Filename", "Fraction", "Sample", "run") ++
      (if (multiplexed) Seq("Label") else Nil)
    val fileRows =
      if (multiplexed) {
        // whole-value SILAC / mTRAQ label replacement (diann2msstats.py:182-199)
        val lower = labels.map(_.toLowerCase(java.util.Locale.ROOT))
        val silac = lower.exists(_.contains("silac"))
        val mtraq = lower.exists(_.contains("mtraq"))
        val silacMap = Map("SILAC light" -> "L", "SILAC medium" -> "M", "SILAC heavy" -> "H")
        val mtraqMap = Map("MTRAQ0" -> "0", "MTRAQ4" -> "4", "MTRAQ8" -> "8")
        val mapping = (if (silac) silacMap else Map.empty[String, String]) ++
          (if (mtraq) mtraqMap else Map.empty[String, String])
        rows.map(r => r.updated("Label", mapping.getOrElse(r("Label"), r("Label"))))
      } else rows

    // each Sample must map to exactly one (Condition, BioReplicate)
    val mapping = rows.map(r => Seq(r("Sample"), r("Condition"), r("BioReplicate"))).distinct
    val dupSamples = mapping.groupBy(_.head).collect { case (s, m) if m.size > 1 => String.valueOf(s) }
    if (dupSamples.nonEmpty)
      throw new IllegalArgumentException(
        s"Inconsistent experimental design: Sample(s) ${dupSamples.toSeq.sorted.mkString(", ")} " +
          "map to multiple (Condition, BioReplicate) combinations.")

    val samples = local(spark, Seq("Sample", "MSstats_Condition", "MSstats_BioReplicate"), mapping)
    val files = local(spark, fileCols, fileRows.map(r => fileCols.map(r)))
    DesignTables(samples, files)
  }

  /** A string-typed LocalRelation: collecting it runs no Spark job. */
  private def local(spark: SparkSession, cols: Seq[String], rows: Seq[Seq[String]]): DataFrame =
    spark.createDataFrame(rows.map(Row.fromSeq).asJava,
      StructType(cols.map(StructField(_, StringType))))

  /** Legacy two-tables-in-one-file format: file table, blank line, sample
    * table (diann2msstats.py:222-240). All columns string-typed, as in the
    * reference's split-and-DataFrame parse.
    */
  def readLegacy(spark: SparkSession, path: String): DesignTables = {
    val lines = readLines(path)
    val sep = lines.indexWhere(_.isEmpty)
    if (sep < 0)
      throw new IllegalArgumentException(
        s"Could not find blank separator row in $path. Ensure the file contains " +
          "a blank line between the file and sample tables.")

    def table(header: String, rows: Seq[String]): DataFrame = {
      val cols = header.split("\t", -1)
      val schema = StructType(cols.map(StructField(_, StringType)))
      val data = rows.filter(_.nonEmpty).map(l => Row.fromSeq(l.split("\t", -1).toSeq))
      spark.createDataFrame(data.asJava, schema)
    }

    val files = table(lines.head, lines.slice(1, sep))
      .withColumn("run", Peptides.trueStem(col("Spectra_Filepath")))
    val samples = table(lines(sep + 1), lines.drop(sep + 2))
    DesignTables(samples, files)
  }
}
