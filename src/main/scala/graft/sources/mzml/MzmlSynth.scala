package graft.sources.mzml

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files
import java.util.Base64
import java.util.zip.Deflater

/** Deterministic many-run mzML corpus for the bench path.
  *
  * MzmlManyFilesSpec proves the parallelism SHAPE (one DSv2 scan, one input
  * partition per file, no file mixing) at N=6 toy files; this synthesizer
  * gives that shape a wall-clock number: ~32 runs of zlib'd 64-bit spectra,
  * staged once and scanned by the `s1b_mzml_many_runs` bench/verify entry.
  * Content is purely arithmetic (no RNG), so every engine, run, and round
  * sees byte-identical files.
  */
object MzmlSynth {

  /** Stage (once) and return the paths of `n` synthetic runs: fixture
    * `mzml_runs` of [[graft.Fixtures]], keyed on the generator parameters.
    * Bump its version whenever `runXml` changes what it writes.
    */
  def stagedRuns(n: Int, spectraPerRun: Int, peaks: Int): Seq[String] = {
    val names = (1 to n).map(r => f"run$r%02d.mzML")
    val dir = graft.Fixtures.stage("mzml_runs", 1,
        graft.Fixtures.Params(n, spectraPerRun, peaks), names) { tmp =>
      Files.createDirectories(tmp)
      names.zipWithIndex.foreach { case (f, i) =>
        Files.writeString(tmp.resolve(f), runXml(i + 1, spectraPerRun, peaks))
      }
    }
    names.map(dir.resolve(_).toString)
  }

  /** The per-run (file_name, n_spectra, n_ms1, tic_units) table the
    * `s1b_mzml_many_runs` aggregation must produce, computed from the SAME
    * closed-form arithmetic that generates the peak arrays — no disk, no
    * parser. This is what lets the mzML query graduate from a rows-only
    * check to a full DuckDB oracle: the expected table is emitted as a
    * VALUES literal. Intensities are integers ≤ 97, so the double sums the
    * engine computes are exact and the long cast is engine-independent.
    */
  def expectedRunStats(n: Int, spectraPerRun: Int, peaks: Int): Seq[(String, Long, Long, Long)] =
    (1 to n).map { r =>
      var tic = 0L
      var i = 0
      while (i < spectraPerRun) {
        var k = 0
        while (k < peaks) { tic += (r + i + k) % 97 + 1; k += 1 }
        i += 1
      }
      (f"run$r%02d.mzML", spectraPerRun.toLong, ((spectraPerRun + 1) / 2).toLong, tic)
    }

  private def b64zlib(values: Array[Double]): String = {
    val buf = ByteBuffer.allocate(values.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    values.foreach(buf.putDouble)
    val d = new Deflater()
    d.setInput(buf.array()); d.finish()
    val out = new ByteArrayOutputStream()
    val tmp = new Array[Byte](8192)
    while (!d.finished()) out.write(tmp, 0, d.deflate(tmp))
    d.end()
    Base64.getEncoder.encodeToString(out.toByteArray)
  }

  private def binaryArray(values: Array[Double], kind: String): String = {
    val kindParam =
      if (kind == "mz") """<cvParam cvRef="MS" accession="MS:1000514" name="m/z array"/>"""
      else """<cvParam cvRef="MS" accession="MS:1000515" name="intensity array"/>"""
    s"""<binaryDataArray encodedLength="0"><cvParam cvRef="MS" accession="MS:1000523" name="64-bit float"/><cvParam cvRef="MS" accession="MS:1000574" name="zlib compression"/>$kindParam<binary>${b64zlib(values)}</binary></binaryDataArray>"""
  }

  /** One run: alternating MS1/MS2 spectra with arithmetic (integral-valued)
    * peak arrays — intensity sums stay exact in doubles, so downstream
    * integer-unit aggregation is engine-independent.
    */
  private def runXml(run: Int, spectra: Int, peaks: Int): String = {
    val body = (0 until spectra).map { i =>
      val msLevel = if (i % 2 == 0) 1 else 2
      val scan = i + 1
      val rt = 10.0 + i
      val mz = Array.tabulate(peaks)(k => 100.0 + k + (i % 7) * 0.25)
      val intensity = Array.tabulate(peaks)(k => ((run + i + k) % 97 + 1).toDouble)
      val precursor =
        if (msLevel == 1) ""
        else {
          val pmz = 100.0 + (i % 11)
          s"""<precursorList count="1"><precursor>
             |<isolationWindow>
             |<cvParam cvRef="MS" accession="MS:1000827" name="isolation window target m/z" value="$pmz"/>
             |<cvParam cvRef="MS" accession="MS:1000828" name="isolation window lower offset" value="1.0"/>
             |<cvParam cvRef="MS" accession="MS:1000829" name="isolation window upper offset" value="1.0"/>
             |</isolationWindow>
             |<selectedIonList count="1"><selectedIon>
             |<cvParam cvRef="MS" accession="MS:1000744" name="selected ion m/z" value="$pmz"/>
             |<cvParam cvRef="MS" accession="MS:1000041" name="charge state" value="2"/>
             |</selectedIon></selectedIonList>
             |<activation/>
             |</precursor></precursorList>""".stripMargin
        }
      s"""<spectrum index="$i" id="controllerType=0 controllerNumber=1 scan=$scan" defaultArrayLength="${mz.length}">
         |<cvParam cvRef="MS" accession="MS:1000511" name="ms level" value="$msLevel"/>
         |<scanList count="1"><scan>
         |<cvParam cvRef="MS" accession="MS:1000016" name="scan start time" value="$rt" unitAccession="UO:0000010" unitName="second"/>
         |</scan></scanList>
         |$precursor
         |<binaryDataArrayList count="2">
         |${binaryArray(mz, "mz")}
         |${binaryArray(intensity, "intensity")}
         |</binaryDataArrayList>
         |</spectrum>""".stripMargin
    }.mkString("\n")
    s"""<?xml version="1.0" encoding="utf-8"?>
       |<indexedmzML xmlns="http://psi.hupo.org/ms/mzml">
       |<mzML xmlns="http://psi.hupo.org/ms/mzml" version="1.1.0">
       |<run id="run$run" startTimeStamp="2024-03-01T10:15:30Z">
       |<spectrumList count="$spectra" defaultDataProcessingRef="dp">
       |$body
       |</spectrumList>
       |</run>
       |</mzML>
       |</indexedmzML>""".stripMargin
  }
}
