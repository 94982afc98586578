package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.GraphAnn
import graft.sources.GraphIndex

/** Streaming graph-index ingester — the live twin of the persisted
  * graph-routed ANN index (`sources.GraphIndex`, SURVEY #204),
  * completing live ingest for all FOUR standing indexes (term
  * frequencies #189, positions #196, PQ codes #193, graph postings
  * here): a crawl pipeline that wires vectors→graph index on a stream
  * indexes them as they arrive. Each micro-batch pays exactly the
  * batch path's O(batch) `append` — closure-assign against the FROZEN
  * sidecar graph (never re-inserted or re-linked mid-stream; the same
  * frozen-artifact contract that already makes batch append ==
  * full-rebuild exact) — so stream-built == batch-built is STRUCTURAL,
  * and `current` answers the standing query from the artifact alone.
  *
  * Live state: per-SHARD posting counters in an [[Additive]] — O([[GraphIndex
  * .NodeShards]]) bounded metadata, the layout-balance view a serving
  * layer watches for a flooding shard (a skewed crawl slice
  * concentrating near one routing region ⇒ that shard's files and
  * probe cost grow; the signal to raise NodeShards or re-sample the
  * graph offline). Counter == artifact per-shard posting counts is
  * spec-asserted (catches a double-indexed batch, which search alone
  * cannot see). Snapshot persists the counters — the artifact is its
  * own durable state (the StreamingPqIndex convention).
  *
  * Counter scope: the reconciliation invariant (streamed + base ==
  * artifact) holds for an APPEND-ONLY stream — the twin's contract.
  * An out-of-band `GraphIndex.delete` + re-adding batch triggers the
  * index's compact-on-overlap (physically removing previously counted
  * rows), after which the counters remain a correct INGEST-throughput
  * view but no longer reconcile against the artifact; a serving layer
  * mixing deletes into the stream should re-derive balance from the
  * artifact's per-shard counts (one bounded grouped count).
  */
class StreamingGraphIndex private (dir: String, root: String, counts: Additive)
    extends Serializable {

  def this(dir: String, root: String) = this(dir, root, new Additive("nshard"))

  /** Index one micro-batch of normed vectors (vec_id, e, nrm). */
  def mergeBatch(s: SparkSession, batch: DataFrame): Unit = {
    GraphIndex.append(s, root, batch)
    // one extra map-side closure-assignment pass over the (small) batch
    // for the shard counters — the same frozen sidecar graph append
    // posts against, so counter rows == appended posting rows exactly
    val g = GraphIndex.sidecarGraph(s, root)
    counts.merge(GraphAnn.assignedFrame(batch, g)
      .select(pmod(col("node"),
        lit(GraphIndex.shardsFor(g.ids.length))).cast("int").as("nshard"))
      .groupBy("nshard").agg(count(lit(1)).as("cnt")))
  }

  /** Live per-shard posting counts (bounded metadata — no artifact scan). */
  def shardCounts: Map[Int, Long] =
    counts.rows.map(r => r.getInt(0) -> r.getLong(1)).toMap

  /** The standing ANN query served from the artifact — identical to
    * `q_ann_hnsw_indexed` over the same accumulated vectors.
    */
  def current(s: SparkSession): DataFrame = GraphIndex.searchRoot(s, dir, root)

  /** Persist the counters (the artifact carries its own sidecar). */
  def snapshot(s: SparkSession, path: String): Unit =
    counts.snapshot(s, s"$path/counts")
}

object StreamingGraphIndex {
  /** Rebuild from a [[StreamingGraphIndex.snapshot]] (the index keeps
    * its own root).
    */
  def restore(s: SparkSession, path: String, dir: String,
              root: String): StreamingGraphIndex =
    new StreamingGraphIndex(dir, root, Additive.restore(s, s"$path/counts", "nshard"))
}
