package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Clustering

/** Streaming cluster-mix rebalancer — the live twin of
  * `operators.Clustering.clusterMix` (cap every embedding-space cell
  * at the uniform share). Each micro-batch pays ONE map-side
  * frozen-centroid assignment (the [[StreamingTopicMix]] contract),
  * its slim (vec_id, cell) rows append to a sink table, and the live
  * state is the per-cell counter [[Additive]] — O(cells), the "which
  * region is over-represented and what is today's cap" view that never
  * touches the sink.
  *
  * The keep-SET is a pure function of the assigned set, so
  * [[current]] computes it as a read-time view over the sink through
  * the SAME `Clustering.mixVerdict` tail the batch operator uses —
  * stream == batch over any split, and a vector's verdict may flip as
  * later batches move the cap. Snapshot persists the counters and the
  * frozen centroids (the sink is already durable).
  */
class StreamingClusterMix private (cents: Seq[(Int, Array[Float], Double)],
                                   sinkPath: String, counts: Additive)
    extends Serializable {

  def this(cents: Seq[(Int, Array[Float], Double)], sinkPath: String) =
    this(cents, sinkPath, new Additive("cell"))

  /** Merge one micro-batch of embeddings (vec_id, embedding, label). */
  def mergeBatch(s: SparkSession, batch: DataFrame): Unit = {
    val asg = Clustering.assignedCellsOf(batch, cents)
      .select(col("vec_id"), col("cell"))
    asg.write.mode("append").parquet(s"$sinkPath/assigned")
    counts.merge(asg.groupBy("cell").agg(count(lit(1)).as("cnt")))
  }

  /** Live per-cell counts (bounded metadata — no sink scan). */
  def cellCounts: Map[Int, Long] =
    counts.rows.map(r => r.getInt(0) -> r.getLong(1)).toMap

  /** Today's uniform-share cap, from the counters alone. */
  def capFromState: Long = {
    val c = cellCounts
    val cells = math.max(1, c.size).toLong
    (c.values.sum + cells - 1) / cells
  }

  /** The current keep-set — identical columns and values to the batch
    * operator over the same accumulated embeddings.
    */
  def current(s: SparkSession): DataFrame =
    Clustering.mixVerdict(s.read.parquet(s"$sinkPath/assigned"))

  /** Persist the counters and the frozen centroid set. */
  def snapshot(s: SparkSession, path: String): Unit = {
    counts.snapshot(s, s"$path/counts")
    StreamingTopicMix.saveCents(s, cents, s"$path/cents")
  }
}

object StreamingClusterMix {
  /** Rebuild a monitor from a [[StreamingClusterMix.snapshot]] (the
    * sink keeps its own path).
    */
  def restore(s: SparkSession, path: String, sinkPath: String): StreamingClusterMix =
    new StreamingClusterMix(StreamingTopicMix.loadCents(s, s"$path/cents"), sinkPath,
      Additive.restore(s, s"$path/counts", "cell"))
}
