package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.slf4j.LoggerFactory

import graft.functions.Peptides
import graft.io.{DesignReader, DesignTables, ReportReader, SingleFileSink}

/** DIA-NN report → MSstats input (reference: diann2msstats.py:24-130).
  *
  * One declarative plan: pruned report scan → decoy/intensity/label filters →
  * peptidoform normalization → broadcast left join against the (tiny) design
  * lookup → unmatched-run drop. Catalyst reproduces the reference's
  * hand-rolled column pruning and filter-before-join ordering; the design
  * lookup is broadcast so the only wide operation at 100 TB is the report
  * scan itself.
  */
object DiannToMsstats {

  private val log = LoggerFactory.getLogger(getClass)

  /** Run the conversion and return the MSstats rows (not yet written).
    *
    * The report ⋈ design join under the rows is cached, because the
    * unmatched-run diagnostic and the caller's write both read it. The
    * caller owns that cache and drops it once the rows are consumed (for
    * instance with `spark.catalog.clearCache()`); [[run]] drops exactly its
    * own join after the write.
    */
  def convert(report: DataFrame, design: DesignTables): DataFrame =
    convertCached(report, design)._1

  /** [[convert]]'s rows, plus the cached join they read. */
  private def convertCached(report: DataFrame, design: DesignTables): (DataFrame, DataFrame) = {
    val multiplexed = report.columns.contains("Channel") &&
      report.agg(countDistinct(col("Channel"))).head().getLong(0) > 1

    val noDecoys =
      if (report.columns.contains("Decoy")) report.filter(col("Decoy") =!= 1 || col("Decoy").isNull)
      else report

    val baseCols = Seq(
      col("`Protein.Names`").as("ProteinName"),
      col("`Modified.Sequence`").as("PeptideSequence"),
      col("`Precursor.Charge`").as("PrecursorCharge"),
      col("`Precursor.Quantity`").as("Intensity"),
      col("Run"))
    val projCols =
      if (multiplexed) baseCols :+ col("Channel").as("IsotopeLabelType") else baseCols
    val projected = noDecoys.select(projCols: _*)

    // pandas `df[df.Intensity != 0]` KEEPS NaN rows (NaN != 0 is True);
    // Spark's `=!= 0` would drop null — keep nulls to match the reference
    // (diann2msstats.py:73)
    val nonZero = projected.filter(
      col("Intensity").isNull || col("Intensity") =!= 0)

    // sanitize + AASequence-style normalization, '^' prefix preserved
    val normalized = nonZero.withColumn(
      "PeptideSequence",
      Peptides.normalizeSequence(Peptides.sanitizeSequence(col("PeptideSequence"))))
      .withColumn("FragmentIon", lit("NA"))
      .withColumn("ProductCharge", lit("0"))

    val (labeled: DataFrame, mergeKeys: Seq[String], fTableCols: Seq[String]) =
      if (multiplexed)
        (normalized
          .filter(col("IsotopeLabelType").isNotNull && trim(col("IsotopeLabelType")) =!= ""),
          Seq("Run", "IsotopeLabelType"),
          Seq("Fraction", "Sample", "run", "Label"))
      else
        (normalized.withColumn("IsotopeLabelType", lit("L")),
          Seq("Run"),
          Seq("Fraction", "Sample", "run"))

    val lookup = design.samples
      .select("Sample", "MSstats_Condition", "MSstats_BioReplicate")
      .join(design.files.select(fTableCols.map(col(_)): _*), "Sample")
      .withColumnRenamed("run", "Run")
      .withColumnRenamed("MSstats_BioReplicate", "BioReplicate")
      .withColumnRenamed("MSstats_Condition", "Condition")
      .withColumnRenamed("Label", "IsotopeLabelType")
      .drop("Sample")

    // many-to-one validation: the lookup side must be unique on the keys
    val dups = lookup.groupBy(mergeKeys.map(col): _*).count().filter(col("count") > 1)
    if (dups.limit(1).count() > 0)
      throw new IllegalArgumentException(
        s"Design lookup is not unique on ${mergeKeys.mkString(", ")} — " +
          "merge would not be many-to-one.")

    // cached: the unmatched-run diagnostic below and the caller's write
    // both consume `joined` — without this the full scan+join runs twice
    val joined = labeled.join(broadcast(lookup), mergeKeys, "left").cache()

    val unmatchedRuns =
      try joined.filter(col("BioReplicate").isNull)
        .select("Run").distinct().collect().map(_.getString(0))
      catch { case e: Throwable => joined.unpersist(blocking = true); throw e }
    if (unmatchedRuns.nonEmpty)
      log.warn(
        s"Run(s) in DIA-NN report have no match in experimental design: " +
          s"${unmatchedRuns.mkString(", ")}. These rows will be dropped. Check that Run " +
          "names (spectra file stems) match Spectra_Filepath in the design.")

    val rows = joined.filter(col("BioReplicate").isNotNull)
      .select(
        (Seq("ProteinName", "PeptideSequence", "PrecursorCharge", "Intensity", "Run",
          "IsotopeLabelType", "FragmentIon", "ProductCharge", "Fraction", "BioReplicate",
          "Condition").map(col)): _*)
    (rows, joined)
  }

  /** CLI-shaped entry: read, convert, write `{design-stem}_msstats_in.csv`. */
  def run(spark: SparkSession, reportPath: String, designPath: String,
          qvalueThreshold: Double, outDir: String = "."): String = {
    val report = ReportReader.read(spark, reportPath, qvalueThreshold)
    val design = DesignReader.read(spark, designPath)
    val (out, joined) = convertCached(report, design)
    val stemStr = {
      val name = new java.io.File(designPath).getName
      if (name.endsWith(".d.zip")) name.dropRight(6)
      else name.replaceAll("\\.[^.]*$", "")
    }
    val target = s"$outDir/${stemStr}_msstats_in.csv"
    try SingleFileSink.csv(out, target)
    finally joined.unpersist(blocking = true)
    log.info(s"MSstats input file is saved as $target")
    target
  }
}
