package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.mzml.MzmlFilesOffset

/** Edge cases surfaced in review: isolation-only precursors, directory
  * batch reads, offset JSON escaping, null tokens through SimHash.
  */
class SourceRobustnessSpec extends SparkSpec {

  test("truncated idXML fails the scan with a parse error, not a silent partial table") {
    // identification files are CORRUPT INPUT when truncated (unlike an
    // opaque media payload, which quarantines): the contract is a clear
    // task failure, never a silently shortened PSM table
    val dir = Files.createTempDirectory("idxml-trunc")
    val full = Files.readString(
      java.nio.file.Paths.get(graft.sources.idxml.IdXmlSynth.stagedRuns(1, 4, 2).head))
    val trunc = dir.resolve("trunc.idXML")
    Files.writeString(trunc, full.take(full.length / 2))
    val e = intercept[Exception] {
      graft.ops.PsmConvert.readIdXml(spark, Seq(trunc.toString)).count()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(m => m.contains("XML") || m.contains("ParseError")
      || m.contains("EOF") || m.toLowerCase.contains("end of input")
      || m.toLowerCase.contains("end of file")),
      chain(e).mkString(" | "))
  }

  test("isolation-only precursor (no selectedIon) yields null mz/charge, not 0.0") {
    val dir = Files.createTempDirectory("mzml-diaprec")
    val xml =
      s"""<?xml version="1.0" encoding="utf-8"?>
         |<mzML xmlns="http://psi.hupo.org/ms/mzml" version="1.1.0">
         |<run id="r" startTimeStamp="2024-03-01T10:15:30Z">
         |<spectrumList count="1">
         |<spectrum index="0" id="scan=1" defaultArrayLength="2">
         |<cvParam cvRef="MS" accession="MS:1000511" name="ms level" value="2"/>
         |<scanList count="1"><scan>
         |<cvParam cvRef="MS" accession="MS:1000016" name="scan start time" value="5.0" unitAccession="UO:0000010" unitName="second"/>
         |</scan></scanList>
         |<precursorList count="1"><precursor>
         |<isolationWindow>
         |<cvParam cvRef="MS" accession="MS:1000828" name="isolation window lower offset" value="2.0"/>
         |<cvParam cvRef="MS" accession="MS:1000829" name="isolation window upper offset" value="3.0"/>
         |</isolationWindow>
         |</precursor></precursorList>
         |<binaryDataArrayList count="2">
         |${MzmlFixtures.binaryArrayPublic(Array(100.0, 200.0), "mz")}
         |${MzmlFixtures.binaryArrayPublic(Array(10.0, 20.0), "intensity")}
         |</binaryDataArrayList>
         |</spectrum>
         |</spectrumList>
         |</run>
         |</mzML>""".stripMargin
    val f = dir.resolve("dia.mzML")
    Files.writeString(f, xml)

    val row = spark.read.format("graft.sources.mzml.MzmlDataSource")
      .option("path", f.toString).load()
      .select("num_precursors", "precursor_mz", "precursor_charge",
        "iso_window_lower", "iso_window_upper")
      .head()
    assert(row.getInt(0) === 1)
    assert(row.isNullAt(1), "precursor_mz must be null, not 0.0")
    assert(row.isNullAt(2), "precursor_charge must be null")
    assert(row.getDouble(3) === 2.0)
    assert(row.getDouble(4) === 3.0)
  }

  test("batch read of a directory path expands to its mzML files") {
    val dir = Files.createTempDirectory("mzml-batchdir")
    MzmlFixtures.standard(dir, "a.mzML")
    MzmlFixtures.standard(dir, "b.mzML")
    Files.writeString(dir.resolve("ignore.txt"), "not an mzml")
    val got = spark.read.format("graft.sources.mzml.MzmlDataSource")
      .option("path", dir.toString).load()
      .select(col("file_name")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(got === Set("a.mzML", "b.mzML"))
  }

  test("streaming offset JSON round-trips paths with quotes and commas") {
    val nasty = Seq("""/data/run,1.mzml""", """/odd/"quoted".mzml""", "/plain/x.mzml")
    val back = MzmlFilesOffset.fromJson(MzmlFilesOffset(nasty).json()).files
    assert(back.toSet === nasty.toSet)
  }

  test("simhash skips null tokens instead of NPE") {
    import spark.implicits._
    val df = Seq(Seq(Some("alpha"), None, Some("beta")), Seq(Some("alpha"), Some("beta")))
      .toDF("t")
      .select(graft.expressions.SimHash64(col("t")).as("h"))
      .collect().map(_.getLong(0))
    assert(df(0) === df(1), "null tokens must not affect the signature")
  }

  /** One-spectrum mzML whose intensity array declares `accession`. */
  private def encodedRun(accession: String): String = {
    val dir = Files.createTempDirectory("mzml-encoding")
    val intensity = MzmlFixtures.binaryArrayPublic(Array(10.0, 20.0), "intensity")
      .replace("MS:1000523", accession)
    val xml =
      s"""<?xml version="1.0" encoding="utf-8"?>
         |<mzML xmlns="http://psi.hupo.org/ms/mzml" version="1.1.0">
         |<run id="r">
         |<spectrumList count="1">
         |<spectrum index="0" id="scan=7" defaultArrayLength="2">
         |<cvParam cvRef="MS" accession="MS:1000511" name="ms level" value="1"/>
         |<binaryDataArrayList count="2">
         |${MzmlFixtures.binaryArrayPublic(Array(100.0, 200.0), "mz")}
         |$intensity
         |</binaryDataArrayList>
         |</spectrum>
         |</spectrumList>
         |</run>
         |</mzML>""".stripMargin
    val f = dir.resolve("encoded.mzML")
    Files.writeString(f, xml)
    f.toString
  }

  private def assertEncodingRejected(accession: String): Unit = {
    val path = encodedRun(accession)
    val e = intercept[Exception] {
      spark.read.format("graft.sources.mzml.MzmlDataSource")
        .option("path", path).load().select("intensity_array").collect()
    }
    def chain(t: Throwable): Seq[Throwable] = if (t == null) Nil else t +: chain(t.getCause)
    val cause = chain(e).collectFirst { case x: IllegalArgumentException => x }
    assert(cause.isDefined, chain(e).map(_.toString).mkString(" | "))
    val msg = cause.get.getMessage
    assert(msg.contains("encoded.mzML") && msg.contains("scan=7") && msg.contains(accession), msg)
  }

  test("numpress-encoded arrays fail loudly, naming file, spectrum and accession") {
    Seq("MS:1002312", "MS:1002313", "MS:1002314").foreach(assertEncodingRejected)
  }

  test("integer-encoded arrays fail loudly, naming file, spectrum and accession") {
    Seq("MS:1000519", "MS:1000522").foreach(assertEncodingRejected)
  }
}
