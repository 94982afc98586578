package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.PqIndex
import graft.plans.CentroidOps

/** Streaming vector indexer — the live twin of the persisted IVF-PQ
  * index (`sources.PqIndex`, SURVEY #130), completing the live-ingest
  * story for all four standing indexes (vectors here, term
  * frequencies #189, positions #191, graph postings #204): an
  * embedding pipeline indexes vectors AS THEY ARRIVE. Each micro-batch pays exactly the batch
  * path's O(batch) `append` — encode against the FROZEN sidecar
  * codebook + centroid set (never retrained mid-stream, the artifact
  * contract that already makes batch append == full re-encode exact),
  * land one file per touched cell — so stream-built == batch-built is
  * STRUCTURAL, and `current` answers the standing query from the
  * artifact alone.
  *
  * Live state: per-CELL vector counters in an [[Additive]] — O(cells) bounded
  * metadata (the √n cell cap), the index-balance view a serving layer
  * watches for a hot cell (a skewed crawl slice concentrating in one
  * region ⇒ that cell's probe cost grows; the signal to re-shard or
  * retrain offline). Counter == artifact per-cell counts is
  * spec-asserted (catches a double-indexed batch, which search alone
  * cannot see). Snapshot persists the counters — the artifact is its
  * own durable state (the StreamingBm25Index convention).
  *
  * Counter scope: the reconciliation invariant (streamed + base ==
  * artifact) holds for an APPEND-ONLY stream — the twin's contract.
  * An out-of-band `PqIndex.delete` + re-adding batch triggers the
  * index's compact-on-overlap (physically removing previously counted
  * rows), after which the counters remain a correct INGEST-throughput
  * view but no longer reconcile; re-derive balance from the artifact's
  * per-cell counts (one bounded grouped count) in that regime.
  */
class StreamingPqIndex private (dir: String, root: String, counts: Additive)
    extends Serializable {

  def this(dir: String, root: String) = this(dir, root, new Additive("cell"))

  /** Index one micro-batch of normed vectors (vec_id, e, nrm). */
  def mergeBatch(s: SparkSession, batch: DataFrame): Unit = {
    PqIndex.append(s, root, batch)
    // one extra map-side assignment pass over the (small) batch for
    // the cell counters — the same frozen centroid set append encodes
    // against
    val cents = PqIndex.loadMeta(s, root)._2
    counts.merge(batch
      .select(CentroidOps.cell(col("e"), col("nrm"), cents).as("cell"))
      .groupBy("cell").agg(count(lit(1)).as("cnt")))
  }

  /** Live per-cell counts (bounded metadata — no artifact scan). */
  def cellCounts: Map[Int, Long] =
    counts.rows.map(r => r.getInt(0) -> r.getLong(1)).toMap

  /** The standing ANN query served from the artifact — identical to
    * `q_ann_pq_indexed` over the same accumulated vectors.
    */
  def current(s: SparkSession): DataFrame = PqIndex.searchRoot(s, dir, root)

  /** Persist the counters (the artifact carries its own sidecar). */
  def snapshot(s: SparkSession, path: String): Unit =
    counts.snapshot(s, s"$path/counts")
}

object StreamingPqIndex {
  /** Rebuild from a [[StreamingPqIndex.snapshot]] (the index keeps its
    * own root).
    */
  def restore(s: SparkSession, path: String, dir: String, root: String): StreamingPqIndex =
    new StreamingPqIndex(dir, root, Additive.restore(s, s"$path/counts", "cell"))
}
