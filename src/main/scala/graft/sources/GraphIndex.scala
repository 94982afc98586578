package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.BooleanType
import graft.operators.{GraphAnn, Similarity}
import StandingIndex.Tree

/** Persisted graph-routed ANN index — the SPANN disk layout for the
  * graph family, completing the same artifact lifecycle the
  * quantization family has in [[PqIndex]] (build / append / delete /
  * compact / versioned reads): the closure posting table materializes
  * once, queries answer from the artifact alone, and the raw corpus
  * is never rejoined (the posting rows carry their vectors — rerank
  * is in-partition).
  *
  * Layout under the index root, one [[Snapshots]] table per role:
  *   postings/   (node, neighbor_id, e_c, n_c, nshard) with nshard =
  *               node mod [[shardsFor]](graph nodes), one shard per
  *               file — a query's beam-routed node set prunes to its
  *               SHARDS' files on the manifest stats at plan time
  *               (`node` itself stays a data column for the in-shard
  *               filter); an at-cap graph keeps 256 shards, so ONE
  *               routed query reads ≤ probes/shards ≈ 12% of the
  *               table. A batch reads the union of its queries'
  *               shards: the catalog's 10-query batch routes to every
  *               shard at the shipped SFs, so that entry scans the
  *               whole table there
  *   meta/       1-row sidecar: the NSW routing graph (node ids,
  *               vectors, norms, adjacency) — bounded metadata,
  *               ≤ 2 MB at the 8192-node cap
  *   tombstones/ (neighbor_id) — deleted vectors
  *
  * Build, append, delete, compact and versions are the one
  * [[StandingIndex]] lifecycle. Append encodes ONLY the arriving batch
  * against the FROZEN sidecar graph (never re-inserted/re-linked — the
  * PqIndex frozen-codebook contract), so append + search ==
  * full-rebuild search exactly (spec). Deletes tombstone all Rep
  * posting copies via one anti-join after shard pruning.
  */
object GraphIndex extends StandingIndex("graft_graphindex", "neighbor_id") {

  /** Posting shard-count CAP — bounds the files one commit writes. */
  val NodeShards = 256

  /** Artifact shard count, derived from the FROZEN routing graph's
    * node count: ~32 routing nodes per shard file, floored at 16,
    * capped at [[NodeShards]]. Append-stable and recomputable at read
    * time from the sidecar graph — no extra artifact metadata. Why
    * adaptive (guide §6 small-files): every shard is one file per
    * commit, each with its own write, footer harvest and open at scan
    * time, while the read-side pruning benefit scales with the posting
    * BYTES — a small graph's postings are small, so it takes fewer,
    * larger shards. Any graph at the 8192-node training cap (every
    * at-scale corpus) keeps the full 256 — the 100 TB pruning contract
    * is unchanged.
    */
  def shardsFor(nNodes: Int): Int =
    math.min(NodeShards, math.max(16, (nNodes + 31) / 32))

  type Meta = GraphAnn.Graph

  protected val trees = Seq(Tree("postings", sharded = true))

  protected def shards(g: Meta): (Int, Column) = (shardsFor(g.ids.length), col("nshard"))

  protected def batchKey: Column = col("vec_id").as("neighbor_id")

  /** The routing graph is ALWAYS the dir-keyed full-corpus sample
    * graph ([[GraphAnn.graph]] — the pqCodebook precedent), so a base
    * build and a full build share frozen routing and append == rebuild
    * holds structurally.
    */
  protected def buildMeta(s: SparkSession, dir: String): Meta =
    GraphAnn.graph(s, dir)

  protected def metaFrame(s: SparkSession, g: Meta): Option[DataFrame] = {
    import s.implicits._
    Some(Seq((g.ids.toSeq, g.vecs.map(_.toSeq).toSeq, g.norms.toSeq,
        g.nbrs.map(_.toSeq).toSeq))
      .toDF("node_ids", "node_vecs", "node_norms", "node_nbrs"))
  }

  protected def decodeMeta(meta: => DataFrame): Meta = {
    val r = meta.head()
    // nested array columns deserialize with MUTABLE inner ArraySeqs —
    // an immutable-Seq element type would ClassCastException at map
    GraphAnn.Graph(
      r.getSeq[Long](0).toArray,
      r.getSeq[scala.collection.Seq[Float]](1).map(_.toArray).toArray,
      r.getSeq[Double](2).toArray,
      r.getSeq[scala.collection.Seq[Int]](3).map(_.toArray).toArray)
  }

  /** Work-aware spread (rows × nodes): the closure assignment is the
    * build's dominant compute and a narrow layout serializes it. A
    * scoped build (real predicate) sizes the spread from the FILTERED
    * cardinality — one bounded count() on a one-time build; the full
    * build (pred = lit(true)) keeps the zero-job footer path.
    */
  protected def corpus(s: SparkSession, dir: String, pred: Column,
                       g: Meta): DataFrame = {
    val filtered = Similarity.normed(s, dir).filter(pred)
    val rowsOverride =
      if (isFullCorpus(pred)) None else Some(filtered.count())
    graft.Tables.embeddingsAssignSpread(s, filtered, dir, g.ids.length,
      rowsOverride)
  }

  /** Closure-assign a normed batch against the frozen graph; the shard
    * count is a pure function of that graph, so appends land in the
    * build's shard layout.
    */
  protected def frames(batch: DataFrame, g: Meta): Seq[DataFrame] =
    Seq(GraphAnn.assignedFrame(batch, g)
      .withColumn("nshard", pmod(col("node"), lit(shardsFor(g.ids.length))).cast("int")))

  /** True only for the literal `lit(true)` predicate of a full build. A
    * real predicate's text can read "true" too (a boolean column named
    * `true`), so this matches the expression, not its string.
    */
  private[graft] def isFullCorpus(pred: Column): Boolean =
    org.apache.spark.sql.GraftColumnBridge.converted(pred) match {
      case Literal(true, BooleanType) => true
      case _ => false
    }

  /** Sidecar graph, decoded once per root. */
  private[graft] def sidecarGraph(s: SparkSession, root: String): GraphAnn.Graph =
    meta(s, root)

  /** §2 catalog entry (`q_ann_hnsw_indexed`): materialize, then answer
    * the standard query batch FROM the artifact — routing from the
    * sidecar graph, candidates from the node-pruned posting files,
    * rerank in-partition. Cell-equal to `q_ann_hnsw_topk` by
    * construction (spec-asserted); recall driver-gated via
    * `ann_hnsw_indexed_recall5`.
    */
  def annHnswIndexed(s: SparkSession, dir: String): DataFrame =
    searchRoot(s, dir, materialize(s, dir))

  private[graft] def searchRoot(s: SparkSession, dir: String,
                                root: String): DataFrame =
    search(s, dir, read(s, root, None))

  /** Search the index AS OF version v (a [[commitVersion]]). */
  def searchAt(s: SparkSession, dir: String, root: String, v: Int): DataFrame =
    search(s, dir, read(s, root, Some(v)))

  private def search(s: SparkSession, dir: String, f: Frames): DataFrame = {
    val g = f.meta
    val qProbes = GraphAnn.probeFrame(s, dir, g)
    // union of every query's routed nodes, pushed as isin filters —
    // plan-time file pruning over the shard files' manifest stats
    val routed = qProbes.select("node").collect().map(_.getInt(0)).distinct
    val nShards = shardsFor(g.ids.length)
    val shards = routed.map(n => math.floorMod(n, nShards)).distinct
    GraphAnn.rerank(qProbes, f.live(f("postings")
      .filter(col("nshard").isin(shards.toIndexedSeq: _*))
      .filter(col("node").isin(routed.toIndexedSeq: _*))))
  }
}
