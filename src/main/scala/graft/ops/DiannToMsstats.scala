package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.slf4j.LoggerFactory

import graft.expressions.HashLookup
import graft.functions.Peptides
import graft.io.{DesignReader, DesignTables, ReportReader, SingleFileSink}

/** DIA-NN report → MSstats input (reference: diann2msstats.py:24-130).
  *
  * One declarative plan: pruned report scan → decoy/intensity/label filters →
  * peptidoform normalization → design lookup → unmatched-run drop. Catalyst
  * reproduces the reference's hand-rolled column pruning and
  * filter-before-join ordering.
  *
  * The design is a few rows per run, parsed on the driver, so the lookup is
  * resolved there too: the sample and file tables are collected (a
  * LocalRelation collect runs no job), joined on `Sample` and checked
  * many-to-one in Scala, and attached to the report rows as a
  * [[HashLookup]], one hash probe per row whatever the design's size. The
  * plan under the rows is one narrow scan with no join and no cache, so
  * [[run]] costs three Spark jobs: the report's parquet footer read, the
  * conversion (one task per report split) into a one-partition shuffle, and
  * the CSV write. The unmatched-run diagnostic rides on the conversion as
  * an [[Observation]].
  */
object DiannToMsstats {

  private val log = LoggerFactory.getLogger(getClass)

  private val outCols = Seq("ProteinName", "PeptideSequence", "PrecursorCharge",
    "Intensity", "Run", "IsotopeLabelType", "FragmentIon", "ProductCharge",
    "Fraction", "BioReplicate", "Condition")

  /** Run the conversion and return the MSstats rows (not yet written).
    *
    * Rows of runs the design does not name are dropped; nothing is cached,
    * so the caller owns no cleanup. The unmatched-run warning is logged by
    * [[run]], which observes those rows on its write.
    */
  def convert(report: DataFrame, design: DesignTables): DataFrame =
    matched(annotate(report, design))

  /** The rows the sink writes: those the design lookup matched. */
  private def matched(annotated: DataFrame): DataFrame =
    annotated.filter(col("BioReplicate").isNotNull).select(outCols.map(col): _*)

  /** The filtered, normalized report rows with the design's `Fraction`,
    * `BioReplicate` and `Condition` attached (all null where the lookup
    * has no match).
    */
  private def annotate(report: DataFrame, design: DesignTables): DataFrame = {
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

    val labeled =
      if (multiplexed)
        normalized
          .filter(col("IsotopeLabelType").isNotNull && trim(col("IsotopeLabelType")) =!= "")
      else normalized.withColumn("IsotopeLabelType", lit("L"))

    labeled.withColumn("_design", designLookup(design, multiplexed))
      .select("*", "_design.*").drop("_design")
  }

  /** The design row matching each report row, as a struct of `Fraction`,
    * `BioReplicate` and `Condition`; null where none matches.
    *
    * The lookup is keyed on `Run`, or on `(Run, IsotopeLabelType)` when
    * multiplexed, and must be many-to-one on that key. It is built on the
    * driver (the design is bounded by run count) and probed per row as a
    * [[HashLookup]]; a key with a null part never matches, as in an
    * equi-join.
    */
  private def designLookup(design: DesignTables, multiplexed: Boolean): Column = {
    val fileCols = Seq("Fraction", "Sample", "run") ++ (if (multiplexed) Seq("Label") else Nil)
    def strings(df: DataFrame, cols: Seq[String]): Seq[Seq[String]] =
      df.select(cols.map(col(_).cast("string")): _*).collect().toSeq
        .map(r => cols.indices.map(r.getString))

    val samples = strings(design.samples, Seq("Sample", "MSstats_Condition", "MSstats_BioReplicate"))
      .filter(_.head != null).groupBy(_.head)
    // files ⋈ samples on Sample, keyed on run (+ label)
    val entries = for {
      Seq(fraction, sample, run, label @ _*) <- strings(design.files, fileCols)
      Seq(_, condition, bioReplicate) <- samples.getOrElse(sample, Nil)
    } yield (run +: label, Seq(fraction, bioReplicate, condition))

    val keyCols = if (multiplexed) Seq("Run", "IsotopeLabelType") else Seq("Run")
    if (entries.groupBy(_._1).exists(_._2.size > 1))
      throw new IllegalArgumentException(
        s"Design lookup is not unique on ${keyCols.mkString(", ")} — " +
          "merge would not be many-to-one.")
    HashLookup(keyCols.map(col), Seq("Fraction", "BioReplicate", "Condition"), entries)
  }

  /** Write [[convert]]'s rows as one CSV at `target`, and return the
    * report's runs that the design does not name, sorted (a null `Run`
    * reads "null").
    *
    * The unmatched runs are gathered by the write's query itself, through
    * one [[Observation]] on the rows before the unmatched ones are dropped.
    * It is read only once the write has returned: a write that throws never
    * waits on it.
    */
  private[graft] def write(report: DataFrame, design: DesignTables, target: String): Seq[String] = {
    val unmatched = Observation("unmatched_runs")
    // collect_set skips nulls, so null runs (which never match) are
    // counted on their own
    val rows = annotate(report, design).observe(unmatched,
      collect_set(when(col("BioReplicate").isNull, col("Run"))).as("runs"),
      count(when(col("Run").isNull, 1)).as("null_runs"))
    // the shuffle keeps the conversion one task per report split; the
    // sink's coalesce(1) alone would run it all inside its one write task
    SingleFileSink.csv(matched(rows).repartition(1), target)
    val seen = unmatched.get
    seen("runs").asInstanceOf[collection.Seq[String]].toSeq.sorted ++
      (if (seen("null_runs").asInstanceOf[Long] > 0) Seq("null") else Nil)
  }

  /** CLI-shaped entry: read, convert, write `{design-stem}_msstats_in.csv`. */
  def run(spark: SparkSession, reportPath: String, designPath: String,
          qvalueThreshold: Double, outDir: String = "."): String = {
    val report = ReportReader.read(spark, reportPath, qvalueThreshold)
    val design = DesignReader.read(spark, designPath)
    val stemStr = {
      val name = new java.io.File(designPath).getName
      if (name.endsWith(".d.zip")) name.dropRight(6)
      else name.replaceAll("\\.[^.]*$", "")
    }
    val target = s"$outDir/${stemStr}_msstats_in.csv"
    val unmatchedRuns = write(report, design, target)
    if (unmatchedRuns.nonEmpty)
      log.warn(
        s"Run(s) in DIA-NN report have no match in experimental design: " +
          s"${unmatchedRuns.mkString(", ")}. These rows will be dropped. Check that Run " +
          "names (spectra file stems) match Spectra_Filepath in the design.")
    log.info(s"MSstats input file is saved as $target")
    target
  }
}
