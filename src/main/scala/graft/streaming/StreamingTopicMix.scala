package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Clustering

/** Streaming topic-mix monitor — the live twin of
  * `operators.Clustering.topicClusters` (the per-cluster health card:
  * size, cohesion, label purity): is the stream's embedding-space mix
  * drifting, within a batch of it happening.
  *
  * Centroids are FROZEN at construction (the PQ-index sidecar
  * contract: assignment against a frozen artifact is what makes
  * per-batch work O(batch) and the statistic additive — retraining
  * mid-stream would change cell identities). The per (cell, label)
  * (count, micro-cosine-sum) frame is integer and held in an
  * [[Additive]]; [[current]] hands it to the batch operator's value
  * stage, so stream == batch cell-exactly over any split.
  */
class StreamingTopicMix private (cents: Seq[(Int, Array[Float], Double)],
                                 counts: Additive) extends Serializable {

  def this(cents: Seq[(Int, Array[Float], Double)]) =
    this(cents, new Additive("cell", "label"))

  /** Merge one micro-batch of embeddings (vec_id, embedding, label). */
  def mergeBatch(s: SparkSession, batch: DataFrame): Unit =
    counts.merge(Clustering.topicGrouped(Clustering.assignedScoredOf(s, batch, cents)))

  /** Current topic profile — identical columns and values to the
    * batch operator over the same embeddings.
    */
  def current(s: SparkSession): DataFrame =
    Clustering.topicFromGrouped(counts.state(s))

  /** Persist the grouped statistic and the frozen centroid set. */
  def snapshot(s: SparkSession, path: String): Unit = {
    counts.snapshot(s, s"$path/counts")
    StreamingTopicMix.saveCents(s, cents, s"$path/cents")
  }
}

object StreamingTopicMix {
  /** Rebuild a monitor from a [[StreamingTopicMix.snapshot]]. */
  def restore(s: SparkSession, path: String): StreamingTopicMix =
    new StreamingTopicMix(loadCents(s, s"$path/cents"),
      Additive.restore(s, s"$path/counts", "cell", "label"))

  private[streaming] def saveCents(s: SparkSession,
      cents: Seq[(Int, Array[Float], Double)], path: String): Unit = {
    import s.implicits._
    cents.map(c => (c._1, c._2.toSeq, c._3)).toDF("cell", "ce", "cnrm")
      .write.mode("overwrite").parquet(path)
  }

  private[streaming] def loadCents(s: SparkSession,
      path: String): Seq[(Int, Array[Float], Double)] =
    s.read.parquet(path).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
      .toSeq.sortBy(_._1)
}
