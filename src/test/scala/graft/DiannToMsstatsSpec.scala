package graft

import java.nio.file.Files

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, RegExpReplace}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

import graft.expressions.NormalizePeptidoform
import graft.io.{DesignReader, ReportReader}
import graft.ops.DiannToMsstats

/** End-to-end diann2msstats over a synthesized DIA-NN report (the real
  * fixture is a stripped large blob — recipe in FIXTURES.md §2.1) and the
  * reference's own design fixtures.
  */
class DiannToMsstatsSpec extends SparkSpec {

  /** 8 rows: 6 keep-able, 1 above q-value, 1 zero intensity; one unmatched
    * run; one (SILAC) tag; one UniMod:35 and one UniMod:4 peptidoform.
    */
  private lazy val reportTsv: String = {
    val rows = Seq(
      "Run\tProtein.Names\tModified.Sequence\tPrecursor.Charge\tPrecursor.Quantity\tQ.Value\tDecoy",
      "RD139_Narrow_UPS1_0_1fmol_inj1\tP02768;ALBU_HUMAN\tAAC(UniMod:4)LLPK\t2\t1500.5\t0.001\t0",
      "RD139_Narrow_UPS1_0_1fmol_inj1\tP02768;ALBU_HUMAN\tPEPTM(UniMod:35)IDER\t3\t220.25\t0.0099\t0",
      "RD139_Narrow_UPS1_0_1fmol_inj2\tP00330;ADH1_YEAST\tLSEPK(SILAC)TIR\t2\t310.0\t0.005\t0",
      "RD139_Narrow_UPS1_0_25fmol_inj1\tP00330;ADH1_YEAST\tVLDALDSIK\t2\t95.75\t0.002\t0",
      "RD139_Narrow_UPS1_0_25fmol_inj2\tP06396;GELS_HUMAN\tAGALNSNDAFVLK\t2\t410.1\t0.0005\t0",
      "RD139_Narrow_UPS1_0_25fmol_inj2\tP06396;GELS_HUMAN\tQTQVSVLPEGGETPLFK\t3\t12.5\t0.0042\t1",
      "UNMATCHED_RUN_X\tP99999;FAKE\tPEPTIDEK\t2\t55.0\t0.001\t0",
      "RD139_Narrow_UPS1_0_1fmol_inj1\tP02768;ALBU_HUMAN\tHIGHQ\t2\t77.0\t0.5\t0",
      "RD139_Narrow_UPS1_0_1fmol_inj1\tP02768;ALBU_HUMAN\tZEROINT\t2\t0.0\t0.001\t0")
    val f = Files.createTempFile("diann_report", ".tsv")
    Files.writeString(f, rows.mkString("\n") + "\n")
    f.toString
  }

  test("report reader prunes, types, and q-value-filters (strict <)") {
    val r = ReportReader.read(spark, reportTsv, 0.01)
    assert(r.columns.toSet ===
      Set("Run", "Protein.Names", "Modified.Sequence", "Precursor.Charge",
        "Precursor.Quantity", "Q.Value", "Decoy"))
    // 9 data rows, 1 fails the strict q<0.01 (0.5) → 8
    assert(r.count() === 8)
    assert(r.schema("Q.Value").dataType.typeName === "double")
  }

  test("convert with legacy design: decoys, zeros, unmatched runs dropped") {
    val report = ReportReader.read(spark, reportTsv, 0.01)
    val design = DesignReader.read(spark, resource("designs/PXD026600.sdrf_openms_design.tsv"))
    val out = DiannToMsstats.convert(report, design).cache()

    assert(out.columns === Array("ProteinName", "PeptideSequence", "PrecursorCharge",
      "Intensity", "Run", "IsotopeLabelType", "FragmentIon", "ProductCharge",
      "Fraction", "BioReplicate", "Condition"))
    // 8 post-qvalue rows − 1 decoy − 1 zero-intensity − 1 unmatched run = 5
    assert(out.count() === 5)
    assert(out.filter(col("Run") === "UNMATCHED_RUN_X").count() === 0)
    // non-multiplexed → constant L label, literal NA/0 columns
    assert(out.select("IsotopeLabelType").distinct().head().getString(0) === "L")
    assert(out.select("FragmentIon").distinct().head().getString(0) === "NA")
    // sequence normalization applied
    val seqs = out.select("PeptideSequence").collect().map(_.getString(0)).toSet
    assert(seqs.contains("AAC(Carbamidomethyl)LLPK"))
    assert(seqs.contains("PEPTM(Oxidation)IDER"))
    assert(seqs.contains("LSEPKTIR")) // (SILAC) sanitized away
    // design join attached the right condition
    val cond = out.filter(col("Run") === "RD139_Narrow_UPS1_0_25fmol_inj2")
      .select("Condition").distinct().head().getString(0)
    assert(cond === "CT=Mixture;CN=UPS1;QY=0.25 fmol")
  }

  test("convert with unified design matches legacy results") {
    val report = ReportReader.read(spark, reportTsv, 0.01)
    val legacy = DiannToMsstats.convert(report,
      DesignReader.read(spark, resource("designs/PXD026600.sdrf_openms_design.tsv")))
    val unified = DiannToMsstats.convert(report,
      DesignReader.read(spark, resource("designs/PXD026600_diann_design.tsv")))
    assert(unified.count() === legacy.count())
    val l = legacy.select("Run", "PeptideSequence", "Condition", "BioReplicate")
      .collect().map(_.toString).sorted
    val u = unified.select("Run", "PeptideSequence", "Condition", "BioReplicate")
      .collect().map(_.toString).sorted
    assert(l === u)
  }

  test("parquet report branch with multiplex channels") {
    val tmp = Files.createTempDirectory("report-pq").resolve("report.parquet").toString
    import spark.implicits._
    Seq(
      // DIA-NN emits mapped channel codes (L/H); the design's SILAC labels
      // are mapped to the same codes by DesignReader
      ("RD139_Narrow_UPS1_0_1fmol_inj1", "P1;X", "PEPK", 2, 100.0, 0.001, 0, "L"),
      ("RD139_Narrow_UPS1_0_1fmol_inj1", "P1;X", "PEPR", 2, 110.0, 0.001, 0, "H"),
      ("RD139_Narrow_UPS1_0_1fmol_inj1", "P1;X", "PEPQ", 2, 120.0, 0.001, 0, " "),
      ("EXTRA", "P9;Z", "XXXK", 2, 50.0, 0.5, 0, "L"))
      .toDF("Run", "Protein.Names", "Modified.Sequence", "Precursor.Charge",
        "Precursor.Quantity", "Q.Value", "Decoy", "Channel")
      .coalesce(1).write.mode("overwrite").parquet(tmp)

    val r = ReportReader.read(spark, tmp, 0.01)
    assert(r.columns.contains("Channel"))
    assert(r.count() === 3)

    // multiplexed design: label column must align with report channels
    val designTsv = Files.createTempFile("mux_design", ".tsv")
    Files.writeString(designTsv,
      "Filename\tSample\tFraction\tCondition\tBioReplicate\tLabel\n" +
        "RD139_Narrow_UPS1_0_1fmol_inj1.raw\t1\t1\tA\t1\tSILAC light\n" +
        "RD139_Narrow_UPS1_0_1fmol_inj1.raw\t1\t1\tA\t1\tSILAC heavy\n")
    val design = DesignReader.read(spark, designTsv.toString)
    // SILAC labels are mapped to L/H in the design
    val labels = design.files.select("Label").collect().map(_.getString(0)).toSet
    assert(labels === Set("L", "H"))

    val out = DiannToMsstats.convert(r, design).cache()
    // blank-channel row dropped by the label filter; L and H rows join on
    // (Run, IsotopeLabelType)
    assert(out.count() === 2)
    assert(out.select("IsotopeLabelType").collect().map(_.getString(0)).toSet === Set("L", "H"))
    assert(out.select("BioReplicate").distinct().head().getString(0) === "1")
  }

  test("plan shape: PeptideSequence is one normalize kernel over at most one regexp_replace") {
    // guards against the per-table-entry regexp_replace chain creeping back;
    // the design side's trueStem regexes produce other columns. Earlier
    // cases cached convert results; drop them so this plan is built afresh.
    spark.catalog.clearCache()
    val out = DiannToMsstats.convert(ReportReader.read(spark, reportTsv, 0.01),
      DesignReader.read(spark, resource("designs/PXD026600.sdrf_openms_design.tsv")))
    val optimized = out.queryExecution.optimizedPlan
    // the join under the rows is cached: its plan sits in the InMemoryRelation
    val nodes: Seq[QueryPlan[_]] = optimized.collect { case p => p } ++
      optimized.collect { case m: InMemoryRelation => m.cacheBuilder.cachedPlan }
        .flatMap(AdaptivePlans.collect(_) { case p => p })
    val producers: Seq[Expression] = nodes.flatMap(_.expressions).flatMap(_.collect {
      case a: Alias if a.name == "PeptideSequence" && !a.child.isInstanceOf[Attribute] => a.child
    })
    assert(producers.size === 1, optimized)
    val e = producers.head
    assert(e.collect { case k: NormalizePeptidoform => k }.size === 1, e)
    assert(e.collect { case r: RegExpReplace => r }.size <= 1, e)
    spark.catalog.clearCache()
  }

  test("run releases the join it caches") {
    spark.catalog.clearCache()
    val outDir = Files.createTempDirectory("msstats-run").toString
    val target = DiannToMsstats.run(spark, reportTsv,
      resource("designs/PXD026600.sdrf_openms_design.tsv"), 0.01, outDir)
    assert(Files.size(java.nio.file.Paths.get(target)) > 0)
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}

/** Plan walks that descend into adaptive (AQE) plans. */
private object AdaptivePlans extends AdaptiveSparkPlanHelper
