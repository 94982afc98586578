package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components by alternating large-star /
  * small-star contraction (Kiveris et al., "Connected Components in
  * MapReduce and Beyond", SoCC '14) — the round-efficient replacement
  * for iterative min-label propagation.
  *
  * Why not propagation: min-label propagation advances the component
  * minimum ONE HOP per round, so a chain-shaped component of diameter d
  * costs d full join+agg jobs — and near-duplicate clusters at crawl
  * scale are exactly the chain-shaped case (A≈B≈C≈… transitive
  * near-dup runs). Star contraction instead rewires every node past its
  * neighborhood minimum each round, collapsing components in
  * O(log² n) rounds INDEPENDENT of diameter; each round is the same
  * join+agg shape propagation pays per hop.
  *
  * Operators (edges kept canonical, u > v, no self-loops):
  *  - large-star: per node a with neighborhood Γ(a), connect every
  *    STRICTLY LARGER neighbor to m = min(Γ(a) ∪ {a});
  *  - small-star: per canonical head u, connect u and all its (smaller)
  *    neighbors to their minimum.
  * Both preserve connectivity and never move a node below its component
  * minimum; the fixpoint is a star forest rooted at each component's
  * minimum — so the final labels equal propagation's exactly
  * (cluster_id = min doc_id in the component), just in fewer rounds.
  *
  * Every round localCheckpoints: the per-round plan stays O(1) and the
  * star-forest convergence probe reads materialized results. The frames
  * are pair-graph-sized — the candidate-pair output of the dedup
  * family, orders of magnitude below corpus size.
  */
object Components {

  /** (doc_id, cluster_id) for every node of the undirected pair graph;
    * cluster_id = min doc_id of the node's component.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    run(pairs, aCol, bCol)._1

  /** Implementation with the round count exposed for specs (the
    * planted-long-chain round bound). Local fast path reports
    * rounds = -1 (the spec's distributed-round bound is about the
    * contraction, which did not run).
    *
    * `localEdgeCap` bounds the driver-local union-find fast path (r16
    * opt): a verified near-dup / linkage pair graph is SPARSE (orders
    * of magnitude below corpus size), and below this many canonical
    * edges the O(log² n) star-contraction rounds are pure job-latency
    * — each round is 2 shuffled jobs + a checkpoint + 2 convergence
    * probes (q_entity_clusters measured 6.5 s wall at 1.5 cpu-s at
    * sf0.1, nearly all of it round scheduling). 65,536 edges collect
    * to ~1 MB, the documented driver-bounded class; the labels are
    * IDENTICAL by construction (cluster_id = component-min id, exactly
    * this function's contract — ComponentsSpec proves equality on the
    * same graphs). Above the cap the distributed contraction runs
    * unchanged. Specs pass 0 to exercise the distributed path on
    * small fixtures.
    */
  private[graft] def run(pairs: DataFrame, aCol: String, bCol: String,
                         localEdgeCap: Long = 65536L): (DataFrame, Int) = {
    val raw = pairs.select(col(aCol).as("a"), col(bCol).as("b"))
    val nodes = raw.select(col("a").as("doc_id"))
      .union(raw.select(col("b").as("doc_id"))).distinct().localCheckpoint()
    var e = raw
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint()
    // count() on the just-materialized checkpoint is metadata-cheap;
    // the caps guarantee the collects below are driver-bounded. BOTH
    // counts gate: self-pairs (u == v) are filtered out of `e` but
    // their endpoints stay in `nodes`, so an all-reflexive corpus has
    // e.count() == 0 with a corpus-sized node set (r16 ADVICE). The
    // fast path also requires INTEGRAL ids — localLabels folds through
    // Long, which would truncate fractional ids (silently merging
    // distinct nodes) and ClassCastException on strings; the
    // distributed contraction handles any orderable type.
    val integralIds = nodes.schema("doc_id").dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    if (integralIds && e.count() <= localEdgeCap &&
        nodes.count() <= 2 * localEdgeCap)
      return (localLabels(nodes, e), -1)
    var rounds = 0
    // Terminate on the star-forest PROPERTY itself (every head has
    // exactly one edge; no head is also a tail), not on set equality of
    // consecutive rounds: the property is the thing the labels read off,
    // so the check cannot accept a non-star fixpoint, and on a star
    // forest both operators are the identity. Two metadata-cheap jobs
    // per round on the pair-graph frame.
    while (!isStarForest(e)) {
      e = smallStar(largeStar(e)).localCheckpoint()
      rounds += 1
    }
    // fixpoint = star forest: every non-root has exactly one edge, to
    // its component minimum; roots label themselves
    val labels = nodes
      .join(e.select(col("u").as("doc_id"), col("v").as("cluster_id")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .localCheckpoint()
    (labels, rounds)
  }

  /** A canonical edge set is a star forest iff each head points to
    * exactly one root and no root is itself a head. Connectivity is
    * preserved by both operators, so a star forest necessarily has one
    * star per original component, rooted (canonical u > v) at the
    * component minimum.
    */
  /** Driver-local union-find over a bounded canonical edge set: path-
    * halving find + union-by-min, then every root label is the true
    * component minimum (union keeps the smaller id as root), matching
    * the distributed fixpoint exactly. Types survive round-trip: the
    * label frame reuses the node column's own values.
    */
  private def localLabels(nodes: DataFrame, e: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    val dt = nodes.schema("doc_id").dataType
    def asLong(r: org.apache.spark.sql.Row, i: Int): Long =
      r.get(i).asInstanceOf[Number].longValue
    val nodeIds = nodes.collect().map(asLong(_, 0))
    val parent = new java.util.HashMap[Long, Long](nodeIds.length * 2)
    nodeIds.foreach(n => parent.put(n, n))
    def find(x0: Long): Long = {
      var x = x0
      while (parent.get(x) != x) {
        parent.put(x, parent.get(parent.get(x)))
        x = parent.get(x)
      }
      x
    }
    e.collect().foreach { r =>
      val (ru, rv) = (find(asLong(r, 0)), find(asLong(r, 1)))
      if (ru != rv) {
        if (ru < rv) parent.put(rv, ru) else parent.put(ru, rv)
      }
    }
    import spark.implicits._
    nodeIds.toSeq.map(n => (n, find(n))).toDF("doc_id", "cluster_id")
      .select(col("doc_id").cast(dt).as("doc_id"),
        col("cluster_id").cast(dt).as("cluster_id"))
  }

  private def isStarForest(e: DataFrame): Boolean =
    e.groupBy("u").agg(count(lit(1)).as("c")).filter(col("c") > 1).isEmpty &&
      e.select(col("u").as("n")).intersect(e.select(col("v").as("n"))).isEmpty

  /** Connect each node's strictly larger neighbors to its neighborhood
    * minimum. Output stays canonical: emitted (b, m) has b > a ≥ m.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("u").as("a"), col("v").as("b"))
      .union(e.select(col("v").as("a"), col("u").as("b")))
    val mins = sym.groupBy("a").agg(min("b").as("minb"))
      .select(col("a"), least(col("a"), col("minb")).as("m"))
    sym.join(mins, "a")
      .filter(col("b") > col("a"))
      .select(col("b").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Connect each canonical head and its (smaller) neighbors to their
    * minimum; re-canonicalize since two small neighbors are unordered.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy("u").agg(min("v").as("m"))
    e.join(mins, "u")
      .select(explode(array(
        struct(col("v").as("x"), col("m").as("y")),
        struct(col("u").as("x"), col("m").as("y")))).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
      .filter(col("x") =!= col("y"))
      .select(greatest(col("x"), col("y")).as("u"), least(col("x"), col("y")).as("v"))
      .distinct()
  }
}
