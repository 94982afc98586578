package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.{ArrayOps, CentroidOps, Memo}

/** Graph-based ANN (`q_ann_hnsw_topk`) — the OTHER production index
  * family beside quantization (HNSW is the pgvector/Qdrant default),
  * re-expressed in the shape that actually distributes: the SPANN /
  * DiskANN split. A navigable-small-world graph lives DRIVER-LOCAL
  * over the bounded node set (the same ≤ [[Similarity.TrainSampleCap]]
  * deterministic sample every trainer uses — ≤ 2 MB of vectors +
  * ≤ 64 KB of edges), queries navigate it with greedy beam search
  * (O(ef·M·d) per query — the log-ish routing that replaces a brute
  * scan over the node set, which at production node counts — SPANN
  * runs millions of postings centers — no scan survives), and the
  * CORPUS side is a bucket-pruned exact rerank: every vector is
  * assigned map-side to its nearest graph node (one codegen'd argmin
  * in the scan projection, the IVF-assignment economics) and a query
  * reads only its [[ProbeNodes]] routed buckets (≈ probe-fraction ×
  * corpus — file-prunable exactly like the PqIndex cell layout if
  * persisted).
  *
  * Why not literal HNSW end-to-end: the insert-one-vector-at-a-time
  * graph over the FULL corpus is inherently sequential and
  * pointer-chasing — the part that does not distribute — while the
  * recall-critical structure (a navigable graph over routing points +
  * exhaustive verification inside routed buckets) splits exactly as
  * SPANN showed. At shipped SFs (n ≤ cap) every vector is its own
  * node, so the graph IS the corpus and the measured recall is the
  * pure graph-navigation number; from sf1 up the buckets take over —
  * both regimes exercised.
  *
  * Rows-only entry (a greedy graph walk has no sane SQL twin);
  * recall@5 vs the in-catalog exact baseline is driver-gated through
  * `q_recall_report` (gate `ann_hnsw_recall5`) with the threshold
  * recorded in GATES_r16.json at all three shipped SFs.
  */
object GraphAnn {

  /** Neighbors kept per node (each side of the bidirectional insert). */
  val M = 8
  /** Degree cap after which a node's edge list is pruned to its best. */
  val MaxDegree = 2 * M
  /** Beam width while inserting (build quality). */
  val EfBuild = 32
  /** Beam width at query time. */
  val EfSearch = 128
  /** Graph nodes whose corpus buckets each query scans. */
  val ProbeNodes = 32
  /** Closure replication: each corpus vector posts to its [[Rep]]
    * nearest nodes (SPANN's multi-cluster closure). Single assignment
    * caps sf1 recall at 68 REGARDLESS of graph quality — the r11 sweep
    * (SURVEY.md §6) showed the loss is bucket-boundary geometry, not
    * routing: a true neighbor's single home bucket need not be
    * among the query's routed nodes. rep=8 measures 90 at sf1 where
    * rep=1 measures 46 at identical probes; the price is an 8×
    * posting-row table (SPANN's documented trade), still map-side.
    */
  val Rep = 8

  /** Driver-local graph: node i holds the sample's i-th (vec_id, vec,
    * norm) in vec_id order, plus its adjacency list (indices).
    */
  final case class Graph(ids: Array[Long], vecs: Array[Array[Float]],
                         norms: Array[Double], nbrs: Array[Array[Int]])

  private def cos(g: Graph, i: Int, q: Array[Float], qn: Double): Double = {
    val v = g.vecs(i)
    var s = 0.0
    var j = 0
    while (j < v.length) { s += v(j).toDouble * q(j).toDouble; j += 1 }
    val d = g.norms(i) * qn
    if (d > 0) s / d else 0.0
  }

  /** Greedy best-first beam search from node 0 (deterministic: total
    * order (score desc, index asc) everywhere). Returns up to `ef`
    * node indices, best first. `limitOpt` bounds the searched prefix —
    * the build path inserts node i against nodes < i WITHOUT copying
    * the prefix arrays (a per-insert copy made the 8192-node build
    * quadratic in allocations: measured 38.8 s at sf1, ~1 s after).
    */
  private[graft] def beamSearch(g: Graph, q: Array[Float], qn: Double,
                                ef: Int, limitOpt: Int = -1): Array[Int] =
    beamSearchAdj(g, g.nbrs(_), q, qn, ef,
      if (limitOpt < 0) g.ids.length else limitOpt)

  private def beamSearchAdj(g: Graph, adj: Int => scala.collection.Seq[Int],
                            q: Array[Float], qn: Double, ef: Int,
                            limit: Int): Array[Int] = {
    if (limit == 0) return Array.empty
    // (score, idx) max-first ordering with index tie-break
    val byBest = Ordering.by[(Double, Int), (Double, Int)](t => (t._1, -t._2))
    val cand = scala.collection.mutable.PriorityQueue.empty[(Double, Int)](byBest)
    val res = scala.collection.mutable.PriorityQueue.empty[(Double, Int)](byBest.reverse)
    val visited = new java.util.BitSet(limit)
    val s0 = cos(g, 0, q, qn)
    visited.set(0)
    cand.enqueue((s0, 0))
    res.enqueue((s0, 0))
    while (cand.nonEmpty) {
      val (cs, c) = cand.dequeue()
      if (res.size >= ef && byBest.lt((cs, c), res.head)) {
        cand.clear() // every remaining candidate is worse — done
      } else {
        val ns = adj(c)
        var k = 0
        while (k < ns.length) {
          val nb = ns(k)
          if (nb < limit && !visited.get(nb)) {
            visited.set(nb)
            val sc = cos(g, nb, q, qn)
            if (res.size < ef || byBest.gt((sc, nb), res.head)) {
              cand.enqueue((sc, nb))
              res.enqueue((sc, nb))
              if (res.size > ef) res.dequeue()
            }
          }
          k += 1
        }
      }
    }
    res.dequeueAll.toArray.reverse.map((t: (Double, Int)) => t._2)
  }

  /** Incremental NSW build over the node set in vec_id order: each new
    * node beam-searches the graph so far for its [[M]] nearest, links
    * bidirectionally, and any node past [[MaxDegree]] prunes to its
    * best edges — the plain-NSW construction (HNSW's layers add log
    * routing on top; at ≤ 8192 nodes one layer with entry 0 measures
    * at full recall, see GATES_r16.json).
    */
  private[graft] def buildGraph(ids: Array[Long], vecs: Array[Array[Float]],
                                norms: Array[Double]): Graph = {
    val n = ids.length
    val adj = Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[Int])
    def pairCos(a: Int, b: Int): Double = {
      var s = 0.0
      var j = 0
      while (j < vecs(a).length) { s += vecs(a)(j).toDouble * vecs(b)(j).toDouble; j += 1 }
      val d = norms(a) * norms(b)
      if (d > 0) s / d else 0.0
    }
    def pruneTo(i: Int, keep: Int): Unit = {
      if (adj(i).length > keep) {
        val kept = adj(i).toArray
          .map(j => (pairCos(i, j), j))
          .sortBy { case (s, j) => (-s, j) }
          .take(keep).map(_._2)
        adj(i).clear()
        adj(i) ++= kept.sorted
      }
    }
    // the full Graph view is safe here: beamSearchAdj bounds itself to
    // indices < i (the inserted prefix) and reads adjacency through the
    // LIVE buffers — no per-insert prefix copies (the former take()
    // copies made the 8192-node build quadratic in allocations)
    val view = Graph(ids, vecs, norms, Array.empty)
    var i = 1
    while (i < n) {
      val found = beamSearchAdj(view, adj(_), vecs(i), norms(i), EfBuild, i).take(M)
      found.foreach { j =>
        adj(i) += j
        adj(j) += i
        pruneTo(j, MaxDegree)
      }
      i += 1
    }
    Graph(ids, vecs, norms, adj.map(_.sorted.toArray))
  }

  /** Memoized per table dir (the [[Similarity.pqCodebook]] contract). */
  private[graft] def graph(s: SparkSession, dir: String): Graph =
    Memo.value(s, dir, "graphAnn.graph")(buildFromSample(s, dir,
      Similarity.TrainSampleCap))

  private def buildFromSample(s: SparkSession, dir: String,
                              cap: Long): Graph = {
    val rows = Similarity.trainingSample(Similarity.normed(s, dir), cap)
      .select(col("vec_id"), col("e"), col("nrm")).collect()
      .sortBy(_.getLong(0))
    buildGraph(rows.map(_.getLong(0)),
      rows.map(_.getSeq[Float](1).toArray), rows.map(_.getDouble(2)))
  }

  /** Bucketed-regime gate seam (the KnnEvalCap pattern): a routing
    * graph over a DELIBERATELY small node sample, so every shipped SF
    * corpus EXCEEDS the node count and runs the SPANN closure path —
    * multi-vector buckets, [[Rep]]-way posting, dedupe-before-rank —
    * that the production cap ([[Similarity.TrainSampleCap]]) only
    * reaches from sf1 up. Below this cap the hash gate exercised pure
    * graph NAVIGATION only (every vector its own node), leaving the
    * regime that actually runs at 100 TB without a shipped-SF
    * CORRECTNESS row; `ann_hnsw_bucketed_recall5` closes that hole.
    */
  val BucketedNodeCap = 64L
  /** Probes for the bucketed gate: 8 of 64 buckets — the production
    * probe FRACTION (⅛, vs [[ProbeNodes]]=32 which would scan half the
    * buckets and saturate the gate), so the measured recall reflects
    * routed-bucket geometry + closure, not near-exhaustive scanning.
    */
  val BucketedProbeNodes = 8

  private[graft] def bucketedGraph(s: SparkSession, dir: String): Graph =
    Memo.value(s, dir, "graphAnn.bucketedGraph")(buildFromSample(s, dir,
      BucketedNodeCap))

  /** The closure-regime search gated by `ann_hnsw_bucketed_recall5`:
    * identical operator shape to [[annHnswTopK]], small routing graph
    * — each bucket holds ≈ n/[[BucketedNodeCap]] corpus vectors before
    * the Rep-way closure, so routed-bucket geometry (not navigation)
    * dominates recall, exactly as at production scale.
    */
  private[graft] def annHnswBucketedTopK(s: SparkSession, dir: String): DataFrame = {
    val g = bucketedGraph(s, dir)
    rerank(probeFrame(s, dir, g, BucketedProbeNodes),
      assignedFrame(assignInput(s, dir, g), g))
  }

  /** The corpus side of a closure assignment, spread by WORK (rows ×
    * node count — the r16 work-aware rule; see
    * [[graft.Tables.embeddingsAssignSpread]]): below the node cap every
    * vector is its own routing node, so the per-row cost is n cent-dots
    * and a narrow layout serializes a quadratic pass onto one task
    * (q_ann_hnsw_indexed measured 11.6 s wall ≈ cpu at sf0.1).
    */
  private def assignInput(s: SparkSession, dir: String,
                          g: Graph): DataFrame =
    graft.Tables.embeddingsAssignSpread(s, Similarity.normed(s, dir), dir,
      g.ids.length)

  private def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    ArrayOps.dotF(a, b)

  /** §2.5 — graph-routed ANN: driver-local beam search picks each
    * query's [[ProbeNodes]] routing nodes (no brute node scan), the
    * corpus is bucket-assigned map-side (codegen argmin, zero
    * shuffle), and the candidate join is a broadcast equi-join on the
    * routed bucket id with an exact rerank — the ivfSearch tail over
    * graph-routed probes.
    */
  def annHnswTopK(s: SparkSession, dir: String): DataFrame = {
    val g = graph(s, dir)
    rerank(probeFrame(s, dir, g), assignedFrame(assignInput(s, dir, g), g))
  }

  /** Driver-local routing for the bounded query batch: beam search per
    * query, top [[ProbeNodes]] node ids as that query's probe rows —
    * (q_id, e_q, n_q, node), a local frame of queries × probes rows.
    */
  private[graft] def probeFrame(s: SparkSession, dir: String, g: Graph,
                                probes: Int = ProbeNodes): DataFrame = {
    import s.implicits._
    val qRows = Similarity.normed(s, dir)
      .filter(col("vec_id") < Similarity.NumQueries)
      .select(col("vec_id"), col("e"), col("nrm")).collect()
      .sortBy(_.getLong(0))
    val probeRows = qRows.flatMap { r =>
      val q = r.getSeq[Float](1).toArray
      val qn = r.getDouble(2)
      beamSearch(g, q, qn, EfSearch).take(probes)
        .map(idx => (r.getLong(0), q.toSeq, qn, idx))
    }.toSeq
    probeRows
      .toDF("q_id", "e_q", "n_q", "node")
      .select(col("q_id"), col("e_q").cast("array<float>").as("e_q"),
        col("n_q"), col("node"))
  }

  /** Closure assignment over a normed frame: each vector posts to its
    * [[Rep]] nearest nodes (map-side top-k argmin, still zero shuffle;
    * the posting table is Rep × corpus rows — the SPANN trade). The
    * posting row CARRIES the raw vector, so rerank never joins back to
    * the corpus.
    *
    * The bucket key is the node's dense GRAPH INDEX (0..n-1), never a
    * truncated vec_id: a `.toLong.toInt` key collides silently for
    * vec_ids equal mod 2³² — exactly the ids a 100 TB corpus has —
    * merging two unrelated buckets. Indices are collision-free by
    * construction and bounded by the node cap; the Long vec_ids stay
    * intact on the posting rows as `neighbor_id`.
    */
  private[graft] def assignedFrame(normed: DataFrame, g: Graph): DataFrame = {
    val nodeCents: Seq[(Int, Array[Float], Double)] =
      g.ids.indices.map(i => (i, g.vecs(i), g.norms(i)))
    normed.select(col("vec_id").as("neighbor_id"),
      col("e").as("e_c"), col("nrm").as("n_c"),
      explode(CentroidOps.nearest(col("e"), col("nrm"), nodeCents, Rep)).as("node"))
  }

  /** The candidate join + exact rerank tail shared by the in-memory
    * path and the persisted [[graft.sources.GraphIndex]].
    */
  private[graft] def rerank(qProbes: DataFrame,
                            assigned: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos_sim").desc, col("neighbor_id"))
    broadcast(qProbes).join(assigned, Seq("node"))
      .filter(col("q_id") =!= col("neighbor_id"))
      // a neighbor reached through several overlapping buckets ranks once
      .dropDuplicates("q_id", "neighbor_id")
      .withColumn("cos_sim",
        round(dot(col("e_q"), col("e_c")) / (col("n_q") * col("n_c")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= Similarity.TopK)
      .select("q_id", "rank", "neighbor_id", "cos_sim")
      .orderBy("q_id", "rank")
  }
}
