package graft.sources.mzml

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{
  MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 "mzml" source (SURVEY §2.1 S1).
  *
  * One InputPartition per mzML file: a file is a single XML document, so the
  * file is the unit of parallelism — a 1000-executor job reads 1000 runs
  * concurrently, which is exactly the reference's one-file-per-invocation
  * model turned data-parallel. Peak arrays stream through the StAX parser
  * with flat memory.
  *
  * Options:
  *  - `path` / `paths`: file path(s); `paths` may be a JSON array (Spark's
  *    multi-path load encoding) or comma-separated.
  *  - `msLevels`: comma-separated MS levels to keep — filter pushdown into
  *    the parse loop (the analog of PeakFileOptions.setMSLevels,
  *    ms1_feature_finder.py:51-52): skipped spectra never materialize rows.
  */
class MzmlDataSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = MzmlTable.schema
  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new MzmlTable(new CaseInsensitiveStringMap(properties))
  override def supportsExternalMetadata(): Boolean = false
}

object MzmlTable {
  /** First precursor flattened into columns (the reference reads only the
    * first: mzml_statistics.py:169-172); num_precursors preserves the
    * has-precursors distinction for the MS1-shaped MS2 branch.
    */
  val schema: StructType = StructType(Seq(
    StructField("file_name", StringType, nullable = false),
    StructField("spectrum_index", IntegerType, nullable = false),
    StructField("native_id", StringType, nullable = false),
    StructField("ms_level", IntegerType, nullable = false),
    StructField("rt", DoubleType, nullable = false),
    StructField("mz_array", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("intensity_array", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("num_precursors", IntegerType, nullable = false),
    StructField("precursor_mz", DoubleType),
    StructField("precursor_charge", IntegerType),
    StructField("precursor_intensity", DoubleType),
    StructField("iso_window_lower", DoubleType),
    StructField("iso_window_upper", DoubleType),
    StructField("acquisition_datetime", StringType),
  ))

  def resolvePaths(options: CaseInsensitiveStringMap): Seq[String] = {
    val raw = Option(options.get("paths")).orElse(Option(options.get("path"))).getOrElse(
      throw new IllegalArgumentException("mzml source requires a path"))
    val parts =
      if (raw.trim.startsWith("["))
        graft.sources.SourceEnv.decodeStrings(raw.trim) // Spark's JSON multi-path encoding
      else raw.split(",").toSeq.map(_.trim)
    parts.filter(_.nonEmpty)
  }
}

class MzmlTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String = s"mzml(${MzmlTable.resolvePaths(options).mkString(",")})"
  override def schema(): StructType = MzmlTable.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new MzmlScanBuilder(new CaseInsensitiveStringMap(
      (options.asScala ++ opts.asScala).asJava))
}

class MzmlScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {

  private var requiredSchema: StructType = MzmlTable.schema
  private var pushedMsLevels: Option[Set[Int]] =
    Option(options.get("msLevels")).map(_.split(",").map(_.trim.toInt).toSet)
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    this.requiredSchema = requiredSchema

  /** Push `ms_level IN/=` filters into the parse loop. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    import org.apache.spark.sql.sources.{EqualTo, In}
    val (accepted, rest) = filters.partition {
      case EqualTo("ms_level", v) => v.isInstanceOf[Number]
      case In("ms_level", vs) => vs.forall(_.isInstanceOf[Number])
      case _ => false
    }
    val levels = accepted.toList.flatMap {
      case EqualTo("ms_level", v: Number) => List(v.intValue)
      case In("ms_level", vs) => vs.toList.collect { case n: Number => n.intValue }
      case _ => Nil
    }.toSet
    if (levels.nonEmpty)
      pushedMsLevels = Some(pushedMsLevels.map(_.intersect(levels)).getOrElse(levels))
    pushed = accepted
    // keep them in the plan too (cheap), so correctness never depends on us
    rest ++ accepted
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new MzmlScan(
    MzmlTable.resolvePaths(options), requiredSchema, pushedMsLevels)
}

class MzmlScan(paths: Seq[String], required: StructType, msLevels: Option[Set[Int]])
    extends Scan with Batch {
  import graft.sources.SourceEnv
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new MzmlMicroBatchStream(paths, required, msLevels)
  // directory paths expand to their *.mzML files, same as the streaming
  // listing — a folder of runs works identically in batch and readStream
  override def planInputPartitions(): Array[InputPartition] =
    SourceEnv.expand(paths, ".mzml",
        org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
      .map(p => MzmlInputPartition(p): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new MzmlReaderFactory(required, msLevels, SourceEnv.hadoopConfMap())
  override def description(): String =
    s"mzml scan (${paths.length} paths, msLevels=${msLevels.getOrElse("all")})"
}

/** Offset = the sorted set of files already ingested. Self-describing and
  * replayable: a restart deserializes the committed offset from the
  * checkpoint and plans exactly the not-yet-seen files.
  */
case class MzmlFilesOffset(files: Seq[String]) extends Offset {
  override def json(): String = graft.sources.SourceEnv.encodeStrings(files.sorted)
}

object MzmlFilesOffset {
  def fromJson(json: String): MzmlFilesOffset =
    MzmlFilesOffset(graft.sources.SourceEnv.decodeStrings(json))
}

/** Watch-folder ingestion of instrument runs (§2.10's natural streaming
  * extension of the reference's one-file-per-invocation batch model): each
  * `path` that is a directory is listed per micro-batch and files not in
  * the start offset become one InputPartition each — the same
  * file-is-the-parallelism-unit contract as the batch scan, driven
  * incrementally. Works under any trigger; `Trigger.AvailableNow` drains
  * the current listing and stops (Spark wraps non-SupportsTriggerAvailableNow
  * streams automatically).
  */
class MzmlMicroBatchStream(
    roots: Seq[String], required: StructType, msLevels: Option[Set[Int]])
  extends MicroBatchStream with SupportsTriggerAvailableNow {

  import graft.sources.SourceEnv
  // captured driver-side at stream construction; readers rebuild from it
  private val confMap = SourceEnv.hadoopConfMap()

  private def listFiles(): Seq[String] =
    SourceEnv.expand(roots, ".mzml", SourceEnv.toConf(confMap))

  // AvailableNow contract: freeze the target listing at query start so the
  // run drains exactly the files present then, even across several batches
  private var frozen: Option[Seq[String]] = None
  override def prepareForTriggerAvailableNow(): Unit = { frozen = Some(listFiles()) }

  override def latestOffset(): Offset =
    MzmlFilesOffset(frozen.getOrElse(listFiles()))
  // Admission-control variant (SupportsTriggerAvailableNow extends it); we
  // ingest whole files, so read limits don't subdivide the listing. The
  // returned offset is the UNION of the committed start and the current
  // listing: offsets must be monotonic, and a file that flickers out of a
  // listing (eventual consistency, atomic replace) must not be forgotten
  // and re-ingested when it reappears.
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val seen = start.asInstanceOf[MzmlFilesOffset].files.toSet
    MzmlFilesOffset((seen ++ frozen.getOrElse(listFiles())).toSeq.sorted)
  }
  override def initialOffset(): Offset = MzmlFilesOffset(Nil)
  override def deserializeOffset(json: String): Offset = MzmlFilesOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val seen = start.asInstanceOf[MzmlFilesOffset].files.toSet
    end.asInstanceOf[MzmlFilesOffset].files
      .filterNot(seen)
      .map(p => MzmlInputPartition(p): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new MzmlReaderFactory(required, msLevels, confMap)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

case class MzmlInputPartition(path: String) extends InputPartition

class MzmlReaderFactory(
    required: StructType, msLevels: Option[Set[Int]], confMap: Map[String, String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new MzmlPartitionReader(
      partition.asInstanceOf[MzmlInputPartition].path, required, msLevels, confMap)
}

class MzmlPartitionReader(
    path: String, required: StructType, msLevels: Option[Set[Int]],
    confMap: Map[String, String])
    extends PartitionReader[InternalRow] {

  private val hPath = new Path(path)
  private val fs = hPath.getFileSystem(graft.sources.SourceEnv.toConf(confMap))
  private val parser = new MzmlParser(fs.open(hPath), path)
  private val fileName = UTF8String.fromString(hPath.getName)
  private var current: MzmlSpectrum = _

  // column ordinals of the pruned schema, -1 when pruned away
  private val ord: Map[String, Int] =
    MzmlTable.schema.fieldNames.map(n => n -> required.fieldNames.indexOf(n)).toMap

  override def next(): Boolean = {
    current = null
    while (current == null && parser.hasNext) {
      val s = parser.next()
      if (msLevels.forall(_.contains(s.msLevel))) current = s
    }
    current != null
  }

  override def get(): InternalRow = {
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(required.length)
    val s = current
    def set(name: String, v: Any): Unit = {
      val i = ord(name)
      if (i >= 0) row.update(i, v)
    }
    val p = s.precursors.headOption
    // isolation-only precursors (no <selectedIon>, legal in DIA mzML) have
    // no selected m/z/charge — emit null, not a fake 0.0
    val ion = p.filter(_.hasSelectedIon)
    set("file_name", fileName)
    set("spectrum_index", s.index)
    set("native_id", UTF8String.fromString(s.nativeId))
    set("ms_level", s.msLevel)
    set("rt", s.rt)
    set("mz_array", ArrayData.toArrayData(s.mzArray))
    set("intensity_array", ArrayData.toArrayData(s.intensityArray))
    set("num_precursors", s.precursors.length)
    set("precursor_mz", ion.map(x => java.lang.Double.valueOf(x.mz)).orNull)
    set("precursor_charge", ion.map(x => java.lang.Integer.valueOf(x.charge)).orNull)
    set("precursor_intensity", ion.map(x => java.lang.Double.valueOf(x.intensity)).orNull)
    set("iso_window_lower", p.map(x => java.lang.Double.valueOf(x.isoLowerOffset)).orNull)
    set("iso_window_upper", p.map(x => java.lang.Double.valueOf(x.isoUpperOffset)).orNull)
    set("acquisition_datetime",
      parser.startTimeStamp.map(UTF8String.fromString).orNull)
    row
  }

  override def close(): Unit = parser.close()
}
