package graft

import java.nio.file.Files

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, RegExpReplace}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

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
    // the walk also descends into any InMemoryRelation's cached plan, so a
    // cache under the rows cannot hide a second producer
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

  test("run leaves nothing cached") {
    spark.catalog.clearCache()
    val outDir = Files.createTempDirectory("msstats-run").toString
    val target = DiannToMsstats.run(spark, reportTsv,
      resource("designs/PXD026600.sdrf_openms_design.tsv"), 0.01, outDir)
    assert(Files.size(java.nio.file.Paths.get(target)) > 0)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  private def legacyDesign = resource("designs/PXD026600.sdrf_openms_design.tsv")

  /** The 8-row report as a parquet file, so [[DiannToMsstats.run]] reads it
    * through the parquet branch (whose footer read is one job). */
  private lazy val reportParquet: String = {
    val out = Files.createTempDirectory("diann-pq").resolve("report.parquet").toString
    spark.read.option("sep", "\t").option("header", true).csv(reportTsv)
      .coalesce(1).write.parquet(out)
    out
  }

  /** Run `body` with a job group set on this thread; return its result, the
    * number of Spark jobs of that group, and the plans of the queries it
    * ran to success.
    */
  private def counted[T](body: => T): (T, Int, Seq[SparkPlan]) = {
    val sc = spark.sparkContext
    val group = s"count-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val queries = new QueryExecutionListener {
      override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    spark.listenerManager.register(queries)
    sc.setJobGroup(group, "counted", interruptOnCancel = false)
    try {
      val r = body
      ListenerBusDrain(sc)
      (r, jobs.get, plans.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      spark.listenerManager.unregister(queries)
      sc.removeSparkListener(listener)
    }
  }

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = AdaptivePlans.collect(p) { case n => n }

  test("run is three Spark jobs: footer read, conversion, write, with no cache or join") {
    spark.catalog.clearCache()
    val outDir = Files.createTempDirectory("msstats-jobs").toString
    val report = reportParquet // staged outside the count
    val (target, jobs, plans) = counted {
      DiannToMsstats.run(spark, report, legacyDesign, 0.01, outDir)
    }
    // AQE runs the one-partition shuffle's map side as a job of its own
    assert(jobs === 3)
    assert(Files.readAllLines(java.nio.file.Paths.get(target)).size === 1 + 5)
    val written = plans.flatMap(planNodes)
    assert(written.exists(_.isInstanceOf[DataWritingCommandExec]), plans)
    assert(!written.exists(n => n.isInstanceOf[InMemoryTableScanExec] ||
      n.isInstanceOf[BaseJoinExec] || n.isInstanceOf[BroadcastExchangeExec]), plans)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("a report of several splits is converted one task per split, not in the write task") {
    val split = Files.createTempDirectory("diann-split").resolve("report.parquet").toString
    spark.read.option("sep", "\t").option("header", true).csv(reportTsv)
      .repartition(3).write.parquet(split) // three files: three input splits
    val widest = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        widest.accumulateAndGet(e.stageInfo.numTasks, math.max)
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val target =
      try DiannToMsstats.run(spark, split, legacyDesign, 0.01,
        Files.createTempDirectory("msstats-split").toString)
      finally {
        ListenerBusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
    assert(widest.get === 3)
    val single = DiannToMsstats.run(spark, reportParquet, legacyDesign, 0.01,
      Files.createTempDirectory("msstats-one").toString)
    def lines(f: String) = Files.readAllLines(java.nio.file.Paths.get(f)).asScala.toSeq
    assert(lines(target).head === lines(single).head)
    assert(lines(target).tail.sorted === lines(single).tail.sorted)
  }

  test("convert leaves no cache behind and its plan has no join") {
    spark.catalog.clearCache()
    val out = DiannToMsstats.convert(ReportReader.read(spark, reportParquet, 0.01),
      DesignReader.read(spark, legacyDesign))
    assert(out.count() === 5)
    val optimized = out.queryExecution.optimizedPlan
    assert(optimized.collect { case j: Join => j }.isEmpty, optimized)
    assert(optimized.collect { case m: InMemoryRelation => m }.isEmpty, optimized)
    assert(!planNodes(out.queryExecution.executedPlan).exists(_.isInstanceOf[BroadcastExchangeExec]))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("design lookup runs no job past reading the design, in either format") {
    val report = ReportReader.read(spark, reportTsv, 0.01)
    for (d <- Seq(legacyDesign, resource("designs/PXD026600_diann_design.tsv"))) {
      val design = DesignReader.read(spark, d)
      val (_, jobs, _) = counted(DiannToMsstats.convert(report, design))
      assert(jobs === 0, d)
    }
  }

  test("unmatched-run diagnostic names exactly the report runs the design lacks") {
    val target = Files.createTempDirectory("msstats-unmatched").resolve("out.csv").toString
    val unmatched = DiannToMsstats.write(ReportReader.read(spark, reportTsv, 0.01),
      DesignReader.read(spark, legacyDesign), target)
    assert(unmatched === Seq("UNMATCHED_RUN_X"))
  }

  test("a null Run is dropped and still listed as unmatched") {
    val f = Files.createTempFile("diann_null_run", ".tsv")
    Files.writeString(f, Seq(
      "Run\tProtein.Names\tModified.Sequence\tPrecursor.Charge\tPrecursor.Quantity\tQ.Value",
      "RD139_Narrow_UPS1_0_1fmol_inj1\tP1;X\tPEPK\t2\t100.0\t0.001",
      "\tP1;X\tPEPR\t2\t110.0\t0.001",
      "UNMATCHED_RUN_X\tP1;X\tPEPQ\t2\t120.0\t0.001").mkString("\n") + "\n")
    val report = ReportReader.read(spark, f.toString, 0.01)
    assert(report.filter(col("Run").isNull).count() === 1)
    val design = DesignReader.read(spark, legacyDesign)
    assert(DiannToMsstats.convert(report, design).select("Run").collect().map(_.getString(0))
      .toSeq === Seq("RD139_Narrow_UPS1_0_1fmol_inj1"))
    val target = Files.createTempDirectory("msstats-null").resolve("out.csv").toString
    assert(DiannToMsstats.write(report, design, target) === Seq("UNMATCHED_RUN_X", "null"))
  }

  test("a report with every row filtered out writes a header-only CSV") {
    val outDir = Files.createTempDirectory("msstats-empty").toString
    // q-value threshold 0: the strict filter keeps nothing
    val target = Await.result(Future(
      DiannToMsstats.run(spark, reportTsv, legacyDesign, 0.0, outDir))(ExecutionContext.global),
      Duration("180s"))
    assert(Files.readAllLines(java.nio.file.Paths.get(target)).asScala.toSeq === Seq(
      "ProteinName,PeptideSequence,PrecursorCharge,Intensity,Run,IsotopeLabelType," +
        "FragmentIon,ProductCharge,Fraction,BioReplicate,Condition"))
  }

  test("a write that throws never waits on the unmatched-run observation") {
    val broken = ReportReader.read(spark, reportTsv, 0.01)
      .withColumn("Modified.Sequence", raise_error(lit("broken report")).cast("string"))
    val target = Files.createTempDirectory("msstats-broken").resolve("out.csv").toString
    val attempt = Future(DiannToMsstats.write(broken,
      DesignReader.read(spark, legacyDesign), target))(ExecutionContext.global)
    Await.ready(attempt, Duration("180s"))
    assert(attempt.value.exists(_.isFailure), attempt.value)
    assert(!Files.exists(java.nio.file.Paths.get(target)))
  }

  test("duplicate legacy file rows for one run are not many-to-one") {
    val lines = Files.readAllLines(java.nio.file.Paths.get(legacyDesign)).asScala.toSeq
    val f = Files.createTempFile("dup_design", ".tsv")
    // the first file row again, under another fraction group
    Files.writeString(f, (lines.take(2) ++ Seq("9" + lines(1).dropWhile(_ != '\t')) ++
      lines.drop(2)).mkString("\n") + "\n")
    val e = intercept[IllegalArgumentException] {
      DiannToMsstats.convert(ReportReader.read(spark, reportTsv, 0.01),
        DesignReader.read(spark, f.toString))
    }
    assert(e.getMessage.contains("Design lookup is not unique on Run"), e.getMessage)
  }

  test("a multiplexed design is many-to-one on Run and IsotopeLabelType") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("report-mux").resolve("report.parquet").toString
    Seq(
      ("RD139_Narrow_UPS1_0_1fmol_inj1", "P1;X", "PEPK", 2, 100.0, 0.001, 0, "L"),
      ("RD139_Narrow_UPS1_0_1fmol_inj1", "P1;X", "PEPR", 2, 110.0, 0.001, 0, "H"))
      .toDF("Run", "Protein.Names", "Modified.Sequence", "Precursor.Charge",
        "Precursor.Quantity", "Q.Value", "Decoy", "Channel")
      .coalesce(1).write.parquet(tmp)
    val designTsv = Files.createTempFile("mux_dup_design", ".tsv")
    Files.writeString(designTsv,
      "Filename\tSample\tFraction\tCondition\tBioReplicate\tLabel\n" +
        "RD139_Narrow_UPS1_0_1fmol_inj1.raw\t1\t1\tA\t1\tSILAC light\n" +
        "RD139_Narrow_UPS1_0_1fmol_inj1.raw\t1\t2\tA\t1\tSILAC light\n" +
        "RD139_Narrow_UPS1_0_1fmol_inj1.raw\t1\t1\tA\t1\tSILAC heavy\n")
    val e = intercept[IllegalArgumentException] {
      DiannToMsstats.convert(ReportReader.read(spark, tmp, 0.01),
        DesignReader.read(spark, designTsv.toString))
    }
    assert(e.getMessage.contains("Design lookup is not unique on Run, IsotopeLabelType"),
      e.getMessage)
  }
}

/** Plan walks that descend into adaptive (AQE) plans. */
private object AdaptivePlans extends AdaptiveSparkPlanHelper
