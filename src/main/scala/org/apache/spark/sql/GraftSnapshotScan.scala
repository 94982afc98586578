package org.apache.spark.sql

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.{FileIndex, FilePartition,
  HadoopFsRelation, InMemoryFileIndex, LogicalRelation, PartitionDirectory,
  PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** PLANNER-INTEGRATED manifest pruning for the snapshot layer
  * (`execution.datasources` is `private[sql]` — the GraftColumnBridge
  * pattern): a [[FileIndex]] whose `listFiles` hands Catalyst's pushed
  * data filters to the snapshot manifest's stats/bloom prune, so an
  * ORDINARY `df.filter(...)` over a snapshot read plans only the
  * surviving files — no hand-built StatsPred surface. Correctness
  * never depends on the prune: the scan still evaluates the full
  * predicate over whatever files survive (FileSourceStrategy keeps
  * the filters), exactly the `readWhere` contract.
  *
  * `prune` receives the raw pushed-down expressions and returns the
  * surviving file paths (the graft side translates supported
  * comparison shapes and keeps everything on anything it cannot
  * reason about). `lastPlanned` records the most recent listing for
  * the spec's pruning assertion (the executed plan truncates paths
  * under AQE — the r10 inputFiles lesson).
  */
final class GraftSnapshotFileIndex(
    files: Seq[FileStatus],
    prune: Seq[Expression] => Seq[String],
    override val partitionSchema: StructType = StructType(Nil))
  extends FileIndex {

  @volatile var lastPlanned: Seq[String] = files.map(_.getPath.toString)

  override def rootPaths: Seq[Path] = files.map(_.getPath)

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val keep = prune(dataFilters).toSet
    val selected = files.filter(f => keep.contains(f.getPath.toString))
    lastPlanned = selected.map(_.getPath.toString)
    Seq(PartitionDirectory(InternalRow.empty, selected.toArray))
  }

  override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = files.map(_.getLen).sum
}

object GraftSnapshotScan {
  /** A DataFrame over `index`'s parquet files under `schema`, planned
    * through the standard file-source path (vectorized parquet reads,
    * whole-stage codegen) with the index's manifest prune in the loop.
    * Every field reads nullable, as `spark.read` plans a file relation.
    */
  def dataFrame(spark: SparkSession, index: FileIndex,
                schema: StructType): DataFrame = {
    val relation = HadoopFsRelation(
      location = index,
      partitionSchema = StructType(Nil),
      dataSchema = schema.asNullable,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(spark)
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LogicalRelation(relation, isStreaming = false))
  }

  /** Spark's DSv2 parquet reader (`ParquetPartitionReaderFactory`,
    * vectorized or row-based as the session decides) for the snapshot
    * change stream: each file reads under `dataSchema` by name — an
    * absent column reads null, int32/float files widen to long/double
    * — with `partitionSchema`'s constants from each file's
    * [[filePartition]] values appended. Built through `ParquetScan`, so
    * the reader gets the session's Hadoop conf with the same parquet
    * settings a batch read plans with; the scan lists no files.
    */
  def parquetReaderFactory(spark: SparkSession, dataSchema: StructType,
                           partitionSchema: StructType): PartitionReaderFactory =
    ParquetScan(spark,
      spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf(),
      new InMemoryFileIndex(spark, Nil, Map.empty, None),
      dataSchema, dataSchema, partitionSchema, Array.empty,
      CaseInsensitiveStringMap.empty()).createReaderFactory()

  /** One whole file as one input partition of a [[parquetReaderFactory]]
    * read, carrying its partition values.
    */
  def filePartition(index: Int, file: FileStatus, values: InternalRow): InputPartition =
    FilePartition(index, Array(PartitionedFile(values, SparkPath.fromFileStatus(file),
      0L, file.getLen, Array.empty[String], file.getModificationTime, file.getLen)))
}
