package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Schemas

/** `mzmlstats`: per-spectrum statistics (+ MS2 peak table) from mzML files
  * (reference: mzml_statistics.py).
  *
  * Plan shape: mzml DSv2 scan → per-file window (the as-of parent-MS1
  * lookup, J6/W1) → per-row higher-order-function purity aggregation (A10) →
  * conditional row shaping (F13). The only shuffle is the per-file window:
  * the scan plans one input partition per file but reports no output
  * partitioning, so the plan hash-partitions every spectrum, peak arrays
  * included, on `file_name` (an `Exchange`) and sorts it again (a `Sort`)
  * before the window runs. Making the run the partition, so the window
  * needs neither, is ROADMAP item F.
  */
object MzmlStats {

  /** C13-C12 mass difference (isotope spacing), public physical constant. */
  private val IsoDiff = 1.0033548378

  /** S9 path resolution (mzml_statistics.py:412-448, `resolve_ms_path`):
    * an existing path is used verbatim; otherwise the parent directory is
    * globbed for `<stem>*` and candidates are kept when their extension is
    * `.mzml`/`.mzML` (the reference's suffix whitelist, case-insensitive
    * after `.lower()`). Exactly one candidate resolves; zero or more than
    * one raises `FileNotFoundException` — the reference's
    * `FileNotFoundError("No unique file found")`. Uses the Hadoop
    * FileSystem API so the same resolution works against HDFS/S3 paths on
    * a cluster, not just `java.io.File`.
    */
  def resolveMsPath(spark: SparkSession, msPath: String): String = {
    import org.apache.hadoop.fs.Path
    val p = new Path(msPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) return msPath
    val parent = Option(p.getParent).getOrElse(new Path("."))
    val name = p.getName
    val stem = { val i = name.lastIndexOf('.'); if (i > 0) name.substring(0, i) else name }
    val candidates = Option(fs.globStatus(new Path(parent, stem + "*")))
      .map(_.toSeq).getOrElse(Seq.empty)
      .map(_.getPath)
      .filter(_.getName.toLowerCase.endsWith(".mzml"))
    candidates match {
      case Seq(one) => one.toString
      case many =>
        if (many.size > 1)
          System.err.println(s"Multiple candidates found for $msPath: ${many.mkString(", ")}")
        throw new java.io.FileNotFoundException(s"No unique file found for $msPath")
    }
  }

  def readSpectra(spark: SparkSession, paths: Seq[String],
                  msLevels: Option[Seq[Int]] = None): DataFrame = {
    val reader = spark.read.format("graft.sources.mzml.MzmlDataSource")
    val withLevels = msLevels.fold(reader)(ls => reader.option("msLevels", ls.mkString(",")))
    withLevels.load(paths: _*)
  }

  /** quantms.io scan id: regex capture over nativeID with whole-id fallback
    * (openms.py:4-24).
    */
  def scanId(nativeId: Column): Column =
    coalesce(nullif(regexp_extract(nativeId, "(?:spectrum|scan)=(\\d+)", 1), lit("")), nativeId)

  /** Precursor purity (A10): OpenMS PrecursorPurity recipe
    * (mzml_statistics.py:264-268, README.md:59-66), 100 ppm tolerance.
    * Given the parent MS1 peak arrays and the precursor (mz, charge,
    * isolation window): total = Σ intensity of window peaks; target =
    * Σ intensity of window peaks within tolerance of an isotope position
    * `mz + k·Δ/charge`. Divergence from OpenMS (documented): every matching
    * peak counts, not just the closest per isotope — identical on centroided
    * data.
    */
  private def purity(parentMz: Column, parentInt: Column, precMz: Column,
                     precCharge: Column, isoLo: Column, isoHi: Column): (Column, Column) = {
    val lower = precMz - isoLo
    val upper = precMz + isoHi
    val charge = greatest(precCharge.cast("double"), lit(1.0))
    val step = lit(IsoDiff) / charge
    val zipped = zip_with(parentMz, parentInt, (m, i) => struct(m.as("m"), i.as("i")))
    val total = aggregate(
      zipped, lit(0.0),
      (acc, p) => acc + when(p.getField("m").between(lower, upper), p.getField("i")).otherwise(0.0))
    val target = aggregate(
      zipped, lit(0.0),
      (acc, p) => {
        val m = p.getField("m")
        val k = round((m - precMz) / step)
        val isoPos = precMz + k * step
        acc + when(
          m.between(lower, upper) && abs(m - isoPos) <= m * lit(100e-6),
          p.getField("i")).otherwise(0.0)
      })
    (target, total)
  }

  /** ms_info table (Schemas.msInfo + file_name for the multi-run engine).
    *
    * @param spectra output of [[readSpectra]] (levels 1+2 needed)
    */
  def msInfo(spectra: DataFrame): DataFrame = {
    val inLevels = spectra.filter(col("ms_level").isin(1, 2))

    // as-of parent MS1 (J6/W1): last preceding level-1 spectrum in file order
    val w = Window.partitionBy(col("file_name")).orderBy(col("spectrum_index"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val parent = last(
      when(col("ms_level") === 1,
        struct(col("rt").as("rt"), col("mz_array").as("mz"), col("intensity_array").as("int"))),
      ignoreNulls = true).over(w)

    val withParent = inLevels.withColumn("parent", parent)

    val isMs2 = col("ms_level") === 2 && col("num_precursors") > 0
    val hasParent = col("parent").isNotNull

    val (target, total) = purity(
      col("parent.mz"), col("parent.int"), col("precursor_mz"),
      col("precursor_charge"), col("iso_window_lower"), col("iso_window_upper"))

    val annotated = col("precursor_intensity")
    // annotated-or-purity, and 0 → null (mzml_statistics.py:173-191)
    val precIntensity = {
      val chosen = when(annotated.isNull || annotated === 0.0,
        when(hasParent, target)).otherwise(annotated)
      when(chosen === 0.0, lit(null).cast("double")).otherwise(chosen)
    }

    val basePeak = when(size(col("intensity_array")) > 0, array_max(col("intensity_array")))
    val summed = when(size(col("intensity_array")) > 0,
      graft.expressions.VectorExpressions.sum(col("intensity_array")))

    withParent.select(
      scanId(col("native_id")).as("scan"),
      col("ms_level"),
      size(col("mz_array")).cast("int").as("num_peaks"),
      basePeak.as("base_peak_intensity"),
      summed.as("summed_peak_intensities"),
      col("rt"),
      when(isMs2 && col("precursor_charge") =!= 0, col("precursor_charge"))
        .as("precursor_charge"),
      when(isMs2 && col("precursor_mz") =!= 0.0, col("precursor_mz")).as("precursor_mz"),
      when(isMs2 && hasParent, col("parent.rt")).as("precursor_rt"),
      when(isMs2, precIntensity).as("precursor_intensity"),
      when(isMs2 && hasParent, total).as("precursor_total_intensity"),
      col("acquisition_datetime"),
      col("file_name"))
  }

  /** ms2_info table: full peak vectors of MS2-with-precursor spectra. */
  def ms2Info(spectra: DataFrame): DataFrame =
    spectra
      .filter(col("ms_level") === 2 && col("num_precursors") > 0)
      .select(
        scanId(col("native_id")).as("scan"),
        col("ms_level"),
        col("mz_array"),
        col("intensity_array"),
        col("file_name"))

  /** CLI-shaped entry: one mzML file → `{stem}_ms_info.parquet`
    * (+ `{stem}_ms2_info.parquet`), gzip, single file each — the reference's
    * exact output contract.
    */
  def run(spark: SparkSession, msPath: String, ms2File: Boolean = false,
          outDir: Option[String] = None): Seq[String] = {
    require(msPath.toLowerCase.endsWith(".mzml"),
      s"Unsupported file type: $msPath. Only .mzML files are supported.")
    val stem = new java.io.File(msPath).getName.replaceAll("\\.[^.]*$", "")
    val dir = outDir.getOrElse(new java.io.File(msPath).getAbsoluteFile.getParent)
    val spectra = readSpectra(spark, Seq(msPath)).cache()
    try {
      val infoPath = s"$dir/${stem}_ms_info.parquet"
      writeSingleParquet(msInfo(spectra).drop("file_name"), infoPath, Schemas.msInfo)
      if (ms2File) {
        val ms2Path = s"$dir/${stem}_ms2_info.parquet"
        writeSingleParquet(ms2Info(spectra).drop("file_name"), ms2Path, Schemas.ms2Info)
        Seq(infoPath, ms2Path)
      } else Seq(infoPath)
    } finally { spectra.unpersist(); () }
  }

  /** Cluster-scale entry: MANY runs in one job, outputs written as
    * `file_name`-partitioned parquet datasets (`outDir/ms_info/`,
    * `outDir/ms2_info/`). One reference invocation = one file; this is that
    * loop turned into a single declarative plan — the scan parallelizes per
    * run, the window shuffles the spectra on `file_name` and re-sorts them
    * (see the object doc and ROADMAP item F), and the writer streams per
    * task. This layout (not the single-file contract) is the
    * 100 TB shape: partition pruning on file_name gives per-run access.
    */
  def runMany(spark: SparkSession, paths: Seq[String], outDir: String,
              ms2File: Boolean = false): Seq[String] = {
    val spectra = readSpectra(spark, paths)
    val infoPath = s"$outDir/ms_info"
    msInfo(spectra).write
      .partitionBy("file_name")
      .option("compression", "gzip")
      .mode("overwrite").parquet(infoPath)
    if (ms2File) {
      val ms2Path = s"$outDir/ms2_info"
      ms2Info(spectra).write
        .partitionBy("file_name")
        .option("compression", "gzip")
        .mode("overwrite").parquet(ms2Path)
      Seq(infoPath, ms2Path)
    } else Seq(infoPath)
  }

  /** Write a single gzip parquet FILE (not a directory) — the reference
    * contract (mzml_statistics.py:292-294). Keeps column order per schema.
    */
  private[ops] def writeSingleParquet(df: DataFrame, target: String,
                                      schema: org.apache.spark.sql.types.StructType): Unit =
    graft.io.SingleFileSink.parquetGzip(
      df.select(schema.fieldNames.toIndexedSeq.map(col(_)): _*), target)
}
