package graft

import org.apache.spark.sql.{DataFrame, GraftSnapshotFileIndex}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import graft.sources.Snapshots
import scala.jdk.CollectionConverters._

/** Spec helpers over a standing index's roles — each a [[Snapshots]]
  * table under the index root.
  */
object IndexRoles {
  private def spark = SparkTestSession.spark

  /** A role's rows at its latest version. */
  def latest(root: String, role: String): DataFrame = {
    val r = s"$root/$role"
    Snapshots.read(spark, r, Snapshots.latestVersion(spark, r))
  }

  /** The ids in force in `tombstones/`, sorted. */
  def tombstoned(root: String, key: String): Seq[Long] =
    latest(root, "tombstones").select(key).collect().map(_.getLong(0)).sorted.toSeq

  /** Every part file under `role`'s `data/` dir — what the disk
    * holds, whichever versions reference it.
    */
  def partFiles(root: String, role: String): Seq[String] = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$root/$role/data"))
    try walk.iterator().asScala.map(_.toString)
      .filter(p => p.split('/').last.startsWith("part-")).toSeq
    finally walk.close()
  }

  /** Run `df`, then report (files planned, files held) of every
    * snapshot scan over `role` in it — the scan's file index records
    * the files its manifest prune kept (executed-plan leaf strings
    * truncate paths under AQE).
    */
  def planned(df: DataFrame, role: String): Seq[(Int, Int)] = {
    df.collect()
    fileIndexes(df).collect {
      case g if g.inputFiles.exists(_.contains(s"/$role/")) =>
        (g.lastPlanned.size, g.inputFiles.length)
    }.distinct
  }

  /** The file index of every snapshot scan in `df`'s plan. */
  def fileIndexes(df: DataFrame): Seq[GraftSnapshotFileIndex] =
    df.queryExecution.optimizedPlan.collectLeaves().collect {
      case l: LogicalRelation => l.relation
    }.collect {
      case h: HadoopFsRelation => h.location
    }.collect {
      case g: GraftSnapshotFileIndex => g
    }

  /** The file index of a one-scan snapshot read. */
  def fileIndex(df: DataFrame): GraftSnapshotFileIndex = fileIndexes(df).head

  /** Files planned over `role`'s latest version filtered to ONE shard
    * value — a one-shard-per-file layout plans exactly one.
    */
  def plannedForShard(root: String, role: String, shardCol: String,
                      value: Any): Seq[(Int, Int)] =
    planned(latest(root, role).filter(org.apache.spark.sql.functions.col(shardCol) === value), role)

  /** `planned` holds at least one scan, and every one planned strictly
    * fewer files than its version holds.
    */
  def prunes(df: DataFrame, role: String): Boolean = {
    val p = planned(df, role)
    p.nonEmpty && p.forall { case (kept, held) => kept < held }
  }
}
