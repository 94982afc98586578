package org.apache.spark.sql

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation,
  LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

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
    * Every field reads nullable, as `spark.read` plans a file relation,
    * so this read and `Snapshots.read` of one version agree.
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
}
