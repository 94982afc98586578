package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.BooleanType
import graft.operators.{GraphAnn, Similarity}

/** Persisted graph-routed ANN index — the SPANN disk layout for the
  * graph family, completing the same artifact lifecycle the
  * quantization family has in [[PqIndex]] (build / append / delete /
  * compact / versioned reads): the closure posting table materializes
  * once, queries answer from the artifact alone, and the raw corpus
  * is never rejoined (the posting rows carry their vectors — rerank
  * is in-partition).
  *
  * Layout under the index root:
  *   postings/   parquet (node, neighbor_id, e_c, n_c), written
  *               `partitionBy("nshard")` with nshard = node mod
  *               [[shardsFor]](graph nodes) — a query's beam-routed
  *               node set prunes to its SHARDS' files at the scan
  *               (PartitionFilters; `node` itself stays a data column
  *               for the in-shard filter). Sharding bounds the
  *               directory fan-out regardless of node count:
  *               one-dir-per-node measured 20 s of 2000-directory
  *               write overhead at sf0.1 where the sharded layout
  *               costs ~1-3 s; the shard count itself scales with the
  *               graph (see [[shardsFor]]) so a small corpus's tiny
  *               posting set doesn't pay 256 dir creates, while any
  *               at-cap graph keeps 256 and a routed query reads
  *               ≤ probes/shards ≈ 12% of the table
  *   meta/       1-row parquet sidecar: the NSW routing graph (node
  *               ids, vectors, norms, adjacency) — bounded metadata,
  *               ≤ 2 MB at the 8192-node cap
  *   tombstones/ optional delete sidecar (neighbor_id)
  *
  * Append encodes ONLY the arriving batch against the FROZEN sidecar
  * graph (never re-inserted/re-linked — the PqIndex frozen-codebook
  * contract), so append + search == full-rebuild search exactly
  * (spec). Deletes tombstone all Rep posting copies via one anti-join
  * after bucket pruning; compact physically reclaims. commitVersion /
  * searchAt pin the artifact per [[IndexVersions]].
  */
object GraphIndex {

  /** Posting shard-count CAP — bounds partition-directory fan-out. */
  val NodeShards = 256

  /** Artifact shard count, derived from the FROZEN routing graph's
    * node count: ~32 routing nodes per shard dir, floored at 16,
    * capped at [[NodeShards]]. Append-stable and recomputable at read
    * time from the sidecar graph — no extra artifact metadata. Why
    * adaptive (r17, guide §6 small-files): each shard dir costs
    * ~10 ms to create+commit on this FS (OPTIMIZATION_r17.md §3: 256
    * dirs = 3.2-3.7 s vs 64 dirs = 1.3 s for the same sf0.1 posting
    * set, whose 256-way files are ~20 KB each), while the read-side
    * pruning benefit scales with the posting BYTES — a small graph's
    * postings are small, so it takes fewer, larger shards. Any graph
    * at the 8192-node training cap (every at-scale corpus) keeps the
    * full 256 — the 100 TB pruning contract is unchanged.
    */
  def shardsFor(nNodes: Int): Int =
    math.min(NodeShards, math.max(16, (nNodes + 31) / 32))

  def indexRoot(s: SparkSession, dir: String): String =
    ScopedFixture.root(s, "graft_graphindex", dir)

  def materialize(s: SparkSession, dir: String): String =
    materializeWhere(s, dir, lit(true), indexRoot(s, dir))

  /** Build over a corpus predicate — the spec's base-plus-append
    * handle. The routing graph is ALWAYS the dir-keyed full-corpus
    * sample graph ([[GraphAnn.graph]] — the pqCodebook precedent), so
    * a base build and a full build share frozen routing and
    * append == rebuild holds structurally.
    */
  private[graft] def materializeWhere(s: SparkSession, dir: String,
                                      pred: org.apache.spark.sql.Column,
                                      root: String): String = {
    FixtureCleanup.onExit(root)
    if (ScopedFixture.isComplete(root)) return root
    val g = GraphAnn.graph(s, dir)
    // work-aware spread (rows × nodes): the closure assignment is the
    // build's dominant compute and a narrow layout serializes it.
    // A scoped build (real predicate) sizes the spread from the
    // FILTERED cardinality — one bounded count() on a one-time build
    // (the isComplete guard above); the full build (pred = lit(true))
    // keeps the zero-job footer path.
    val filtered = Similarity.normed(s, dir).filter(pred)
    val rowsOverride =
      if (isFullCorpus(pred)) None else Some(filtered.count())
    writePostings(
      GraphAnn.assignedFrame(
        graft.Tables.embeddingsAssignSpread(s, filtered, dir, g.ids.length,
          rowsOverride), g),
      root, "overwrite", shardsFor(g.ids.length))
    import s.implicits._
    Seq((g.ids.toSeq, g.vecs.map(_.toSeq).toSeq, g.norms.toSeq,
        g.nbrs.map(_.toSeq).toSeq))
      .toDF("node_ids", "node_vecs", "node_norms", "node_nbrs")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/meta")
    ScopedFixture.markComplete(root)
    root
  }

  /** True only for the literal `lit(true)` predicate of a full build. A
    * real predicate's text can read "true" too (a boolean column named
    * `true`), so this matches the expression, not its string.
    */
  private[graft] def isFullCorpus(pred: org.apache.spark.sql.Column): Boolean =
    org.apache.spark.sql.GraftColumnBridge.converted(pred) match {
      case Literal(true, BooleanType) => true
      case _ => false
    }

  private def writePostings(assigned: DataFrame, root: String,
                            mode: String, shards: Int): Unit = {
    val s = assigned.sparkSession
    val sharded = assigned
      .withColumn("nshard", pmod(col("node"), lit(shards)).cast("int"))
    if (assigned.isEmpty) {
      // the PqIndex empty-layout convention: zero-row partitionBy
      // writes emit no files and brick the next read's schema
      // inference — write one schema-bearing empty file, unpartitioned
      if (mode == "overwrite")
        sharded.coalesce(1).write.mode(mode).parquet(s"$root/postings")
    } else {
      if (mode == "append")
        PqIndex.clearUnpartitionedEmpty(s, s"$root/postings")
      sharded.repartition(col("nshard"))
        .write.mode(mode).partitionBy("nshard").parquet(s"$root/postings")
    }
    s.catalog.refreshByPath(s"$root/postings")
  }

  /** Incremental append: closure-assign ONLY the arriving normed
    * batch against the frozen sidecar graph — O(batch), the standing
    * postings untouched. Re-appending a previously deleted id
    * resurrects it (FAISS `remove_ids` + `add`): on tombstone overlap
    * the index compacts first — physical reclaim — so the fresh
    * postings never coexist with the suppressed old copies.
    */
  def append(s: SparkSession, root: String, batchNormed: DataFrame): Unit = {
    // roll forward a crash-interrupted compaction FIRST (an append onto
    // a mid-swap-crashed tree would recreate it with batch-only rows)
    IndexMaintenance.recoverAll(s, root, Seq("postings"))
    if (IndexMaintenance.tombstonesOverlap(s, root, "neighbor_id",
        batchNormed.select(col("vec_id").as("neighbor_id"))))
      compact(s, root)
    // the artifact's shard count is a pure function of its FROZEN
    // sidecar graph, so append lands in the same shard layout
    val g = sidecarGraph(s, root)
    writePostings(GraphAnn.assignedFrame(batchNormed, g),
      root, "append", shardsFor(g.ids.length))
  }

  /** Tombstone delete (all Rep posting copies drop via the anti-join). */
  def delete(s: SparkSession, root: String, ids: Seq[Long]): Unit =
    IndexMaintenance.deleteIds(s, root, "neighbor_id", ids)

  private def tombstones(s: SparkSession, root: String): Option[DataFrame] =
    IndexMaintenance.tombstones(s, root)

  /** Physically reclaim tombstoned postings, node directories kept.
    * Crash-atomic replace via [[IndexMaintenance.swap]].
    */
  def compact(s: SparkSession, root: String): Unit = {
    IndexMaintenance.compactTree(s, root, "postings", "neighbor_id", Some("nshard"))
    IndexMaintenance.clearTombstoneSidecar(s, root)
  }

  /** Sidecar graph, memoized per root (pure function of the artifact). */
  private[graft] def sidecarGraph(s: SparkSession, root: String): GraphAnn.Graph =
    graft.plans.Memo.value(s, root, "graphIndex.sidecar")(graphFrom(s.read.parquet(s"$root/meta")))

  private def graphFrom(meta: DataFrame): GraphAnn.Graph = {
    val r = meta.head()
    // nested array columns deserialize with MUTABLE inner ArraySeqs —
    // an immutable-Seq element type would ClassCastException at map
    GraphAnn.Graph(
      r.getSeq[Long](0).toArray,
      r.getSeq[scala.collection.Seq[Float]](1).map(_.toArray).toArray,
      r.getSeq[Double](2).toArray,
      r.getSeq[scala.collection.Seq[Int]](3).map(_.toArray).toArray)
  }

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
                                root: String): DataFrame = {
    // roll any crash-interrupted compaction swap forward before planning
    IndexMaintenance.recover(s, s"$root/postings", s"$root/postings_compacting")
    searchFrames(s, dir, sidecarGraph(s, root),
      s.read.parquet(s"$root/postings"), tombstones(s, root))
  }

  // ---- versioned reads ----------------------------------------------------

  /** Snapshot the index state (postings + graph sidecar + tombstones)
    * as the next version; [[searchAt]] reproduces its neighbor sets
    * through later appends, deletes, AND compacts (replaced trees are
    * retained while versions pin them — [[IndexMaintenance.retire]]);
    * only an explicit [[IndexVersions.expire]] bounds time travel.
    */
  def commitVersion(s: SparkSession, root: String): Int =
    IndexVersions.commit(s, root, Seq("postings", "meta", "tombstones"))

  def searchAt(s: SparkSession, dir: String, root: String, v: Int): DataFrame = {
    val meta = IndexVersions.readAt(s, root, v, "meta").getOrElse(
      throw new IllegalStateException(s"version $v of $root has no sidecar"))
    val post = IndexVersions.readAt(s, root, v, "postings").getOrElse(
      throw new IllegalStateException(s"version $v of $root has no postings"))
    searchFrames(s, dir, graphFrom(meta), post,
      IndexVersions.readAt(s, root, v, "tombstones"))
  }

  private def searchFrames(s: SparkSession, dir: String, g: GraphAnn.Graph,
                           postingsAll: DataFrame,
                           tomb: Option[DataFrame]): DataFrame = {
    val qProbes = GraphAnn.probeFrame(s, dir, g)
    // union of every query's routed nodes, pushed as an isin partition
    // filter — plan-time file pruning over the node directories
    val routed = qProbes.select("node").collect().map(_.getInt(0)).distinct
    val nShards = shardsFor(g.ids.length)
    val shards = routed.map(n => math.floorMod(n, nShards)).distinct
    val pruned = postingsAll
      .filter(col("nshard").isin(shards.toIndexedSeq: _*))
      .filter(col("node").isin(routed.toIndexedSeq: _*))
    val live = tomb.fold(pruned)(t =>
      pruned.join(t.select("neighbor_id").distinct(), Seq("neighbor_id"), "left_anti"))
    GraphAnn.rerank(qProbes, live)
  }
}
