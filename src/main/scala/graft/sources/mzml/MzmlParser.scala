package graft.sources.mzml

import java.io.InputStream
import java.util.Base64
import java.util.zip.Inflater

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import scala.collection.mutable.ArrayBuffer

/** First precursor data of an MS2 spectrum (reference uses only the first:
  * mzml_statistics.py:169-172).
  */
case class MzmlPrecursor(
    mz: Double,
    charge: Int,
    intensity: Double,
    isoLowerOffset: Double,
    isoUpperOffset: Double,
    /** false for isolation-only precursors (no <selectedIon> — legal in
      * DIA mzML): mz/charge/intensity are then meaningless placeholders
      * and the reader emits null instead.
      */
    hasSelectedIon: Boolean = true)

/** One parsed spectrum. RT in seconds (minute-unit scan times converted, as
  * OpenMS getRT does).
  */
case class MzmlSpectrum(
    index: Int,
    nativeId: String,
    msLevel: Int,
    rt: Double,
    mzArray: Array[Double],
    intensityArray: Array[Double],
    precursors: List[MzmlPrecursor])

/** Streaming StAX parser for mzML (PSI standard, XML + base64/zlib-encoded
  * peak arrays). Hand-rolled: no Spark XML source ships in the offline jars,
  * and a pull parser keeps memory flat per spectrum — the unit of
  * parallelism is the file (reference: mzml_statistics.py:376-400 loads
  * whole files; we stream).
  *
  * CV accessions handled: ms level MS:1000511, scan start time MS:1000016
  * (minute/second units), selected ion m/z MS:1000744, charge MS:1000041,
  * peak intensity MS:1000042, isolation window offsets MS:1000828/829,
  * binary encodings MS:1000521/523 (32/64-bit float), MS:1000574/576
  * (zlib/none), array kinds MS:1000514/515 (m/z / intensity). An m/z or
  * intensity array in an encoding the decoder does not implement — numpress
  * MS:1002312/1002313/1002314 or integer MS:1000519/1000522 — fails with an
  * IllegalArgumentException naming `source`, the spectrum id and the
  * accession, instead of decoding as 64-bit floats.
  */
class MzmlParser(in: InputStream, source: String)
    extends Iterator[MzmlSpectrum] with AutoCloseable {

  private val factory = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_COALESCING, true)
    f
  }
  private val r: XMLStreamReader = factory.createXMLStreamReader(in)

  /** Run-level startTimeStamp, available once the <run> element is seen —
    * i.e. before the first spectrum (mzML puts spectrumList inside run).
    */
  var startTimeStamp: Option[String] = None

  private var nextSpec: MzmlSpectrum = _
  private var done = false
  private var specCount = 0

  private def attr(name: String): Option[String] = {
    var i = 0
    while (i < r.getAttributeCount) {
      if (r.getAttributeLocalName(i) == name) return Some(r.getAttributeValue(i))
      i += 1
    }
    None
  }

  /** Advance to the next <spectrum> and parse it fully. */
  private def advance(): Unit = {
    nextSpec = null
    while (nextSpec == null && r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "run" =>
              startTimeStamp = attr("startTimeStamp")
            case "spectrum" =>
              nextSpec = parseSpectrum()
            case _ =>
          }
        case _ =>
      }
    }
    if (nextSpec == null) done = true
  }

  private def parseSpectrum(): MzmlSpectrum = {
    val index = attr("index").map(_.toInt).getOrElse(specCount)
    val nativeId = attr("id").getOrElse("")
    specCount += 1

    var msLevel = 1
    var rt = 0.0
    var mz: Array[Double] = Array.emptyDoubleArray
    var inten: Array[Double] = Array.emptyDoubleArray
    val precursors = ArrayBuffer.empty[MzmlPrecursor]

    // per-binaryDataArray state
    var is64bit = true
    var isZlib = false
    var unsupported: String = null // accession of an encoding we cannot decode
    var arrayKind: String = ""
    var inScan = false
    var inPrecursor = false
    var inIsolation = false
    var inSelectedIon = false
    var sawSelectedIon = false
    var pMz, pIntensity, isoLo, isoHi = 0.0
    var pCharge = 0

    var depth = 1
    while (depth > 0 && r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          depth += 1
          r.getLocalName match {
            case "scan" => inScan = true
            case "precursor" =>
              inPrecursor = true; sawSelectedIon = false
              pMz = 0; pIntensity = 0; pCharge = 0; isoLo = 0; isoHi = 0
            case "isolationWindow" => inIsolation = true
            case "selectedIon" => inSelectedIon = true; sawSelectedIon = true
            case "binaryDataArray" =>
              is64bit = true; isZlib = false; unsupported = null; arrayKind = ""
            case "binary" =>
              // check the kind BEFORE decoding: extra arrays (ion mobility,
              // noise, charge — common in timsTOF/Sciex exports) skip the
              // base64+inflate cost entirely
              val txt = readText()
              depth -= 1 // readText consumed the END_ELEMENT of <binary>
              arrayKind match {
                case "mz" | "intensity" if unsupported != null =>
                  throw new IllegalArgumentException(
                    s"$source: spectrum '$nativeId' has a $arrayKind array in unsupported " +
                      s"binary encoding $unsupported (numpress and integer arrays are not decoded)")
                case "mz" => mz = decodeBinary(txt, is64bit, isZlib)
                case "intensity" => inten = decodeBinary(txt, is64bit, isZlib)
                case _ =>
              }
            case "cvParam" =>
              val acc = attr("accession").getOrElse("")
              val value = attr("value").getOrElse("")
              acc match {
                case "MS:1000511" => msLevel = value.toInt
                case "MS:1000016" if inScan =>
                  val unit = attr("unitAccession").orElse(attr("unitName")).getOrElse("")
                  val v = value.toDouble
                  rt = if (unit == "UO:0000031" || unit == "minute") v * 60.0 else v
                case "MS:1000744" if inSelectedIon => pMz = value.toDouble
                case "MS:1000041" if inSelectedIon => pCharge = value.toInt
                case "MS:1000042" if inSelectedIon => pIntensity = value.toDouble
                case "MS:1000828" if inIsolation => isoLo = value.toDouble
                case "MS:1000829" if inIsolation => isoHi = value.toDouble
                case "MS:1000521" => is64bit = false
                case "MS:1000523" => is64bit = true
                case "MS:1000574" => isZlib = true
                case "MS:1000576" => isZlib = false
                case "MS:1002312" | "MS:1002313" | "MS:1002314" | "MS:1000519" | "MS:1000522" =>
                  unsupported = acc
                case "MS:1000514" => arrayKind = "mz"
                case "MS:1000515" => arrayKind = "intensity"
                case _ =>
              }
            case _ =>
          }
        case XMLStreamConstants.END_ELEMENT =>
          depth -= 1
          r.getLocalName match {
            case "scan" => inScan = false
            case "isolationWindow" => inIsolation = false
            case "selectedIon" => inSelectedIon = false
            case "precursor" =>
              inPrecursor = false
              precursors += MzmlPrecursor(
                pMz, pCharge, pIntensity, isoLo, isoHi, sawSelectedIon)
            case _ =>
          }
        case _ =>
      }
    }
    MzmlSpectrum(index, nativeId, msLevel, rt, mz, inten, precursors.toList)
  }

  /** Text content of the current element (reader positioned at START). */
  private def readText(): String = {
    val sb = new StringBuilder
    var ev = r.next()
    while (ev != XMLStreamConstants.END_ELEMENT) {
      if (ev == XMLStreamConstants.CHARACTERS || ev == XMLStreamConstants.CDATA)
        sb.append(r.getText)
      ev = r.next()
    }
    sb.toString
  }

  private def decodeBinary(b64: String, is64bit: Boolean, isZlib: Boolean): Array[Double] = {
    val raw0 = Base64.getDecoder.decode(b64.replaceAll("\\s", ""))
    val raw = if (isZlib) inflate(raw0) else raw0
    val buf = java.nio.ByteBuffer.wrap(raw).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    if (is64bit) {
      val out = new Array[Double](raw.length / 8)
      var i = 0
      while (i < out.length) { out(i) = buf.getDouble(i * 8); i += 1 }
      out
    } else {
      val out = new Array[Double](raw.length / 4)
      var i = 0
      while (i < out.length) { out(i) = buf.getFloat(i * 4).toDouble; i += 1 }
      out
    }
  }

  private def inflate(data: Array[Byte]): Array[Byte] = {
    val inflater = new Inflater()
    inflater.setInput(data)
    val out = new java.io.ByteArrayOutputStream(data.length * 4)
    val buf = new Array[Byte](8192)
    while (!inflater.finished()) {
      val n = inflater.inflate(buf)
      if (n > 0) out.write(buf, 0, n)
      // Any zero-progress iteration of an unfinished stream is an error:
      // needsInput = truncated; otherwise (needsDictionary / corrupt) the
      // inflater would never progress and the loop would spin forever.
      else if (!inflater.finished())
        throw new IllegalArgumentException(
          if (inflater.needsInput()) "truncated zlib stream"
          else "unsupported or corrupt zlib stream")
    }
    inflater.end()
    out.toByteArray
  }

  override def hasNext: Boolean = {
    if (nextSpec == null && !done) advance()
    nextSpec != null
  }

  override def next(): MzmlSpectrum = {
    if (!hasNext) throw new NoSuchElementException
    val s = nextSpec
    nextSpec = null
    s
  }

  override def close(): Unit = { r.close(); in.close() }
}
