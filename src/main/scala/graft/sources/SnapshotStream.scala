package graft.sources

import org.apache.spark.sql.{GraftSnapshotScan, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
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
  * until restart. Each file reads through Spark's own parquet reader
  * ([[GraftSnapshotScan.parquetReaderFactory]]) under that schema, so
  * every type a batch read supports streams — nested arrays, structs,
  * maps and decimals included; int32/float files widen to long/double,
  * and any other type mismatch fails the task (the default vectorized
  * reader names the column: `PARQUET_COLUMN_DATA_TYPE_MISMATCH`).
  */
object SnapshotStream {

  /** The stream's read schema for `root`: the latest version's pinned
    * schema + the two change-feed columns.
    */
  def streamSchema(s: SparkSession, root: String): StructType = {
    val v = Snapshots.latestVersion(s, root)
    require(v >= 1, s"snapshot stream needs an existing dataset at $root")
    StructType(Snapshots.schemaOf(root, v, Snapshots.readManifestData(s, root, v))
      .fields ++ ChangeColumns.fields)
  }

  /** The two change-feed columns, each file's partition values. */
  val ChangeColumns: StructType = StructType(Seq(
    StructField("_change_type", StringType, nullable = false),
    StructField("_commit_version", IntegerType, nullable = false)))

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
      // metadata only: `#len:` lines, one listing per change subdir
      val lens = Snapshots.readManifestData(spark, root, g.version).lens
      val values = InternalRow(UTF8String.fromString(g.changeType), g.version)
      Snapshots.fileStatuses(spark, root, g.files, lens).map(_ -> values)
    }.zipWithIndex.map { case ((st, values), i) =>
      GraftSnapshotScan.filePartition(i, st, values)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftSnapshotScan.parquetReaderFactory(spark,
      StructType(tableSchema.fields.dropRight(SnapshotStream.ChangeColumns.length)),
      SnapshotStream.ChangeColumns)
}
