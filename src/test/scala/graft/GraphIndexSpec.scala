package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.GraphIndex
import graft.operators.Similarity

/** Persisted graph-routed index (`q_ann_hnsw_indexed`): artifact
  * lifecycle parity with the PqIndex contract — indexed == in-memory,
  * append == rebuild under the frozen sidecar graph, tombstone +
  * compact, versioned reads, node-pruned artifact-only scans.
  */
class GraphIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.Sf

  test("indexed search == the in-memory graph path; serves node-pruned from the artifact") {
    val fromIndex = GraphIndex.annHnswIndexed(spark, sf)
    val direct = graft.operators.GraphAnn.annHnswTopK(spark, sf)
    assert(fromIndex.collect().toSeq === direct.collect().toSeq,
      "the posting artifact reproduces the in-memory rerank cell-for-cell")
    // the routed shards' filter reaches the scan: it plans one file per
    // routed shard (here the 10 queries' routed nodes hit every shard)
    val root = GraphIndex.indexRoot(spark, sf)
    val g = GraphIndex.sidecarGraph(spark, root)
    val nShards = GraphIndex.shardsFor(g.ids.length)
    def shardsOf(probes: org.apache.spark.sql.DataFrame) =
      probes.select("node").collect().map(r => math.floorMod(r.getInt(0), nShards)).distinct
    val probes = graft.operators.GraphAnn.probeFrame(spark, sf, g)
    assert(IndexRoles.planned(fromIndex, "postings").map(_._1) ===
      Seq(shardsOf(probes).length), "the search plans exactly its routed shards' files")
    // and prunes strictly once the routed set misses a shard: the same
    // filter shape over the posting tree, one routed shard
    val one = IndexRoles.plannedForShard(root, "postings", "nshard", shardsOf(probes).head)
    assert(one.map(_._1) === Seq(1) && one.forall(_._2 > 1),
      s"one routed shard of $nShards should plan its one posting file: $one")
    val files = fromIndex.inputFiles
    assert(files.nonEmpty && files.forall(_.contains("graft_graphindex")),
      "the query path reads only the posting artifact (vectors ride the postings)")
  }

  test("only the literal lit(true) build takes the zero-job sizing path") {
    assert(GraphIndex.isFullCorpus(lit(true)), "full build: footer-sized spread")
    // a real predicate sizes from its filtered count — including one
    // whose text reads "true" (a boolean column named `true`)
    for (pred <- Seq(col("true"), lit(false), pmod(col("vec_id"), lit(7)) =!= 0))
      assert(!GraphIndex.isFullCorpus(pred), s"$pred must count the filtered rows")
  }

  test("append == full rebuild under the frozen sidecar graph; delete + compact reclaim") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_gibase").toString
    val full = java.nio.file.Files.createTempDirectory("graft_gifull").toString
    GraphIndex.materializeWhere(spark, sf, pmod(col("vec_id"), lit(7)) =!= 0, base)
    GraphIndex.materializeWhere(spark, sf, lit(true), full)
    GraphIndex.append(spark, base,
      Similarity.normed(spark, sf).filter(pmod(col("vec_id"), lit(7)) === 0))
    def run(root: String) = GraphIndex.searchRoot(spark, sf, root).collect().toSeq
    val wantFull = run(full)
    assert(run(base) === wantFull,
      "append + search == full re-build search (frozen routing graph)")
    // delete every 7th vector; reference = an index built without them
    val rest = java.nio.file.Files.createTempDirectory("graft_girest").toString
    GraphIndex.materializeWhere(spark, sf, pmod(col("vec_id"), lit(7)) =!= 0, rest)
    val delIds = Similarity.normed(spark, sf)
      .filter(pmod(col("vec_id"), lit(7)) === 0)
      .select("vec_id").as[Long].collect().toSeq
    GraphIndex.delete(spark, base, delIds)
    val want = run(rest)
    assert(run(base) === want,
      "tombstones drop every Rep posting copy at search time")
    GraphIndex.compact(spark, base)
    assert(IndexRoles.tombstoned(base, "neighbor_id").isEmpty,
      "compaction clears the tombstones")
    assert(run(base) === want, "search identical after the physical reclaim")
  }

  test("streaming graph indexer == batch index over any split, counters == artifact shards, incl. restore") {
    val nrm = Similarity.normed(spark, sf)
    def slice(r: Int) = nrm.filter(pmod(col("vec_id"), lit(3)) === r)
    val root = java.nio.file.Files.createTempDirectory("graft_gistream").toString
    val full = java.nio.file.Files.createTempDirectory("graft_gifull2").toString
    // base index over slice 0 (the sidecar freezes the routing graph),
    // then the twin ingests the remaining slices as micro-batches
    GraphIndex.materializeWhere(spark, sf, pmod(col("vec_id"), lit(3)) === 0, root)
    val twin = new graft.streaming.StreamingGraphIndex(sf, root)
    twin.mergeBatch(spark, slice(1))
    // mid-stream counters cover the STREAMED postings only (Rep copies
    // per vector); snapshot + restore continues them
    assert(twin.shardCounts.values.sum ===
      slice(1).count() * graft.operators.GraphAnn.Rep)
    val snap = java.nio.file.Files.createTempDirectory("graft_gisnap").toString
    twin.snapshot(spark, snap)
    val resumed = graft.streaming.StreamingGraphIndex.restore(spark, snap, sf, root)
    resumed.mergeBatch(spark, slice(2))
    GraphIndex.materializeWhere(spark, sf, lit(true), full)
    assert(resumed.current(spark).collect().toSeq ===
      GraphIndex.searchRoot(spark, sf, full).collect().toSeq,
      "stream-built index answers the standing query == a batch full build")
    // streamed counters + base-build postings == the artifact's per-shard counts
    val artifact = IndexRoles.latest(root, "postings")
      .groupBy("nshard").agg(count(lit(1)).as("cnt")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val base = IndexRoles.latest(full, "postings")
      .join(slice(0).select(col("vec_id").as("neighbor_id")), "neighbor_id")
      .groupBy("nshard").agg(count(lit(1)).as("cnt")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val streamed = resumed.shardCounts
    artifact.foreach { case (sh, n) =>
      assert(streamed.getOrElse(sh, 0L) + base.getOrElse(sh, 0L) === n,
        s"shard $sh: streamed + base counters must equal the artifact")
    }
  }

  test("versioned reads pin the posting/tombstone state") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_giv").toString
    GraphIndex.materializeWhere(spark, sf, lit(true), root)
    val v1 = GraphIndex.commitVersion(spark, root)
    val wantV1 = GraphIndex.searchRoot(spark, sf, root).collect().toSeq
    val victim = wantV1.head.getAs[Long]("neighbor_id")
    GraphIndex.delete(spark, root, Seq(victim))
    val v2 = GraphIndex.commitVersion(spark, root)
    assert(GraphIndex.searchAt(spark, sf, root, v1).collect().toSeq === wantV1,
      "a pinned run's neighbor sets must not move under a later delete")
    assert(!GraphIndex.searchAt(spark, sf, root, v2).collect()
      .exists(_.getAs[Long]("neighbor_id") == victim),
      "the delete is visible at v2")
  }
}
