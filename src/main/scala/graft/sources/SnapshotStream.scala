package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** STRUCTURED-STREAMING source over a snapshot dataset's TYPED change
  * feed (the Delta streaming-source analogue, completing the CDC
  * story the poll-style `SnapshotTail` started): `spark.readStream
  * .format("graft.sources.SnapshotStreamSource").option("root", …)`
  * delivers every `changeFeed` row — data columns plus
  * `_change_type` ∈ {insert, upsert, delete} and `_commit_version` —
  * with snapshot VERSIONS as the stream offsets, so Spark's own
  * offset log makes consumption exactly-once across restarts (no
  * foreachBatch plumbing, no side cursor: the checkpoint IS the
  * cursor).
  *
  * Planning is pure metadata: each micro-batch's offsets name a
  * version range, [[Snapshots.changeFileGroups]] resolves it to the
  * contributing files (new files for appends, bounded change sets for
  * merge/delete/update, nothing for layout/analyze), and ONE
  * InputPartition per file reads in the executors — I/O is O(changed
  * rows), never the standing corpus, the changesBetween economics on
  * the streaming surface. A data REWRITE fails the batch fast (the
  * feed's contract: rows were replaced with no change record —
  * restart the stream from a fresh checkpoint after a resync).
  *
  * The read schema pins at stream start (the stream-source contract):
  * files written before a later widening surface the missing columns
  * as null; columns added after the stream started don't surface
  * until restart. Primitive columns (integral, floating, string,
  * boolean, timestamp-micros, date), ARRAYs (standard 3-level LIST
  * encoding) and STRUCTs (nested fields resolved by name,
  * absent-as-null) are supported — r16 added the nested types so a
  * documents-shaped table (embedding arrays, typed metadata structs)
  * can stream its change feed; maps/decimals remain batch-only. A
  * physical-type mismatch against the pinned stream schema upcasts
  * the safe widenings (int32→long, float→double) and otherwise fails
  * with a clear column+types message rather than a cryptic task error.
  */
object SnapshotStream {

  /** The stream's read schema for `root`: the latest version's pinned
    * schema + the two change-feed columns.
    */
  def streamSchema(s: SparkSession, root: String): StructType = {
    val v = Snapshots.latestVersion(s, root)
    require(v >= 1, s"snapshot stream needs an existing dataset at $root")
    val m = Snapshots.readManifestData(s, root, v)
    val sc = m.schema.getOrElse(s.read.parquet(m.files: _*).schema)
    StructType(sc.fields :+
      StructField("_change_type", StringType, nullable = false) :+
      StructField("_commit_version", IntegerType, nullable = false))
  }

  /** readStream entry — the spec surface. */
  def readStream(s: SparkSession, root: String)
      : org.apache.spark.sql.DataFrame =
    s.readStream.format("graft.sources.SnapshotStreamSource")
      .option("root", root).load()
}

/** Stream offset: the highest consumed snapshot version. */
final case class SnapshotOffset(v: Int) extends Offset {
  override def json(): String = s"""{"version":$v}"""
}

class SnapshotStreamSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SnapshotStream.streamSchema(SparkSession.active, options.get("root"))
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new SnapshotStreamTable(properties.get("root"), schema)
}

class SnapshotStreamTable(root: String, tableSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"snapshot_stream($root)"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // ADMISSION CONTROL (the maxFilesPerTrigger analogue): bound each
    // micro-batch to this many snapshot VERSIONS — a stream started
    // against a long backlog must not fold the whole history into one
    // giant first batch. 0 = unbounded (the default).
    val maxV = Option(options.get("maxVersionsPerBatch"))
      .map(_.toInt).getOrElse(0)
    () => new SnapshotStreamScan(root, tableSchema, maxV)
  }
}

class SnapshotStreamScan(root: String, tableSchema: StructType,
    maxVersionsPerBatch: Int) extends Scan {
  override def readSchema(): StructType = tableSchema
  override def description(): String = s"SnapshotStream $root"
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new SnapshotMicroBatchStream(root, tableSchema, maxVersionsPerBatch)
}

class SnapshotMicroBatchStream(root: String, tableSchema: StructType,
    maxVersionsPerBatch: Int = 0)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {

  import org.apache.spark.sql.connector.read.streaming.ReadLimit

  /** Rate-limited offset advance: at most `maxVersionsPerBatch`
    * versions per micro-batch when configured (each version's work is
    * already bounded by its own commit delta, so versions are the
    * natural admission unit).
    */
  override def getDefaultReadLimit: ReadLimit =
    if (maxVersionsPerBatch > 0) ReadLimit.maxRows(maxVersionsPerBatch)
    else ReadLimit.allAvailable()

  /** Versions admitted by `limit` (0 = unbounded): honors the
    * ENGINE-SUPPLIED ReadLimit — Trigger.AvailableNow re-wraps the
    * default limit in a composite, and ignoring the argument would
    * silently drop any engine-side admission change (r16, ADVICE).
    * "Rows" are snapshot VERSIONS here, as getDefaultReadLimit reports.
    */
  private def limitVersions(l: ReadLimit): Int = l match {
    case r: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
      math.max(0, math.min(r.maxRows(), Int.MaxValue.toLong).toInt)
    case c: org.apache.spark.sql.connector.read.streaming.CompositeReadLimit =>
      val caps = c.getReadLimits.map(limitVersions).filter(_ > 0)
      if (caps.isEmpty) 0 else caps.min
    case _ => 0 // ReadAllAvailable / limits with no version meaning
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val latest = Snapshots.latestVersion(spark, root)
    val from = start.asInstanceOf[SnapshotOffset].v
    val cap = limitVersions(limit)
    val capped = if (cap > 0) math.min(latest, from + cap) else latest
    SnapshotOffset(capped)
  }

  override def reportLatestOffset(): Offset =
    SnapshotOffset(Snapshots.latestVersion(spark, root))

  private def spark = SparkSession.active

  /** Version 0 = deliver the full history: v1's create lands as the
    * bootstrap insert batch (the changeFeed-from-zero convention).
    */
  override def initialOffset(): Offset = SnapshotOffset(0)

  override def latestOffset(): Offset =
    SnapshotOffset(Snapshots.latestVersion(spark, root))

  override def deserializeOffset(json: String): Offset = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    SnapshotOffset(m.get("version").asInt)
  }

  override def commit(end: Offset): Unit = () // Spark's offset log IS the cursor

  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[SnapshotOffset].v
    val to = end.asInstanceOf[SnapshotOffset].v
    Snapshots.typedFiles(root, from, to,
        Snapshots.changeFileGroups(spark, root, from, to)).flatMap { g =>
      // per-version pinned schemas need no shipping: the reader
      // resolves the STREAM schema's fields against each file's own
      // footer by name (absent column = null), which is exactly the
      // batch path's metadata-only evolution (primitives + nested, r16)
      g.files.map(f => SnapshotChangePartition(f, g.changeType, g.version))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SnapshotChangeReaderFactory(tableSchema,
      org.apache.spark.GraftSparkBridge.serializableConf(
        spark.sparkContext.hadoopConfiguration))
}

final case class SnapshotChangePartition(path: String, kind: String,
    version: Int) extends InputPartition

class SnapshotChangeReaderFactory(tableSchema: StructType,
    serConf: AnyRef with java.io.Serializable)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new SnapshotChangeReader(
      partition.asInstanceOf[SnapshotChangePartition], tableSchema,
      org.apache.spark.GraftSparkBridge.confOf(serConf))
}

/** Reads ONE change-feed parquet file executor-side through the
  * parquet example Group API, converting columns to the stream schema
  * by NAME (a column the file predates reads as null — metadata-only
  * schema evolution, matching the batch read). Primitives are
  * physical-type-checked (safe widenings upcast); arrays and structs
  * convert recursively (r16).
  */
class SnapshotChangeReader(p: SnapshotChangePartition,
    tableSchema: StructType,
    conf: org.apache.hadoop.conf.Configuration)
    extends PartitionReader[InternalRow] {
  import org.apache.parquet.example.data.Group
  import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
  import org.apache.parquet.io.ColumnIOFactory

  private val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
    org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p.path), conf))
  private val fileSchema = reader.getFooter.getFileMetaData.getSchema
  private val columnIO = new ColumnIOFactory().getColumnIO(fileSchema)
  private val dataFields = tableSchema.fields
    .filterNot(f => f.name == "_change_type" || f.name == "_commit_version")
  private val present: Map[String, Int] = dataFields.iterator
    .map(_.name).filter(fileSchema.containsField)
    .map(n => n -> fileSchema.getFieldIndex(n)).toMap

  private var recordReader: org.apache.parquet.io.RecordReader[Group] = _
  private var rowsLeftInGroup = 0L
  private var row: InternalRow = _

  override def next(): Boolean = {
    while (rowsLeftInGroup == 0L) {
      val pages = reader.readNextRowGroup()
      if (pages == null) return false
      rowsLeftInGroup = pages.getRowCount
      recordReader = columnIO.getRecordReader(
        pages, new GroupRecordConverter(fileSchema))
    }
    val g = recordReader.read()
    rowsLeftInGroup -= 1
    row = convert(g)
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = reader.close()

  private def convert(g: Group): InternalRow = {
    val out = new Array[Any](tableSchema.length)
    var i = 0
    tableSchema.fields.foreach { f =>
      out(i) = f.name match {
        case "_change_type"    => UTF8String.fromString(p.kind)
        case "_commit_version" => p.version
        case n =>
          present.get(n) match {
            case Some(idx) if g.getFieldRepetitionCount(idx) > 0 =>
              value(g, idx, f.dataType, n)
            case _ => null // absent column or null value
          }
      }
      i += 1
    }
    new GenericInternalRow(out)
  }

  /** One field's Catalyst value, recursively: primitives check the
    * file's PHYSICAL type and upcast the safe widenings (int32→long,
    * float→double — a file written before a type widening must not hit
    * a cryptic executor ClassCastException, r16 ADVICE); arrays expect
    * Spark's standard 3-level LIST encoding; structs resolve nested
    * fields by NAME with absent-as-null, the same metadata-only
    * evolution as top level (r16 — nested types were batch-only
    * before).
    */
  private def value(g: Group, idx: Int, dt: DataType, name: String): Any = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    dt match {
      case st: StructType =>
        val sg = g.getGroup(idx, 0)
        val nested = sg.getType
        val out = new Array[Any](st.length)
        var j = 0
        st.fields.foreach { nf =>
          out(j) =
            if (!nested.containsField(nf.name)) null
            else {
              val ni = nested.getFieldIndex(nf.name)
              if (sg.getFieldRepetitionCount(ni) > 0)
                value(sg, ni, nf.dataType, s"$name.${nf.name}")
              else null
            }
          j += 1
        }
        new GenericInternalRow(out)
      case ArrayType(et, _) =>
        // 3-level LIST: optional group <name> (LIST) {
        //   repeated group list { <element> } }
        val lg = g.getGroup(idx, 0)
        require(lg.getType.getFieldCount == 1 &&
          !lg.getType.getType(0).isPrimitive,
          s"snapshot stream: column '$name' is not standard 3-level " +
            s"LIST-encoded parquet (${lg.getType})")
        val n = lg.getFieldRepetitionCount(0)
        val arr = new Array[Any](n)
        var k = 0
        while (k < n) {
          val eg = lg.getGroup(0, k)
          arr(k) =
            if (eg.getFieldRepetitionCount(0) > 0)
              value(eg, 0, et, s"$name[]")
            else null
          k += 1
        }
        new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
      case _ =>
        val pt = g.getType.getType(idx)
        require(pt.isPrimitive,
          s"snapshot stream: column '$name' expects ${dt.simpleString} " +
            s"but the file holds a group ($pt)")
        val phys = pt.asPrimitiveType().getPrimitiveTypeName
        def mismatch(): Nothing = throw new IllegalArgumentException(
          s"snapshot stream: column '$name' expects ${dt.simpleString} " +
            s"but the file's physical type is $phys")
        dt match {
          case LongType | TimestampType => phys match {
            case INT64 => g.getLong(idx, 0)
            case INT32 => g.getInteger(idx, 0).toLong // pre-widening file
            case _     => mismatch()
          }
          case IntegerType | DateType => phys match {
            case INT32 => g.getInteger(idx, 0)
            case _     => mismatch()
          }
          case DoubleType => phys match {
            case DOUBLE => g.getDouble(idx, 0)
            case FLOAT  => g.getFloat(idx, 0).toDouble // pre-widening file
            case _      => mismatch()
          }
          case FloatType => phys match {
            case FLOAT => g.getFloat(idx, 0)
            case _     => mismatch()
          }
          case BooleanType => phys match {
            case BOOLEAN => g.getBoolean(idx, 0)
            case _       => mismatch()
          }
          case StringType => phys match {
            case BINARY => UTF8String.fromString(g.getString(idx, 0))
            case _      => mismatch()
          }
          case other => throw new IllegalArgumentException(
            s"snapshot stream cannot read column '$name' of type " +
              s"${other.simpleString}")
        }
    }
  }
}
