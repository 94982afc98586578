package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.plans.{CentroidOps, PqOps}
import StandingIndex.Tree

/** Persisted IVF-PQ index (the FAISS `write_index`/`read_index` analogue,
  * Spark-native): the one-time encode pass materializes the corpus as an
  * encoded, CELL-CLUSTERED table, and queries run against that
  * artifact alone — the raw vectors are touched only by the bounded
  * exact-rerank join. This operationalizes the claim the in-memory PQ
  * operators document ("in production the encoded table is materialized
  * once"): after `materialize`, a search session never re-trains and
  * never re-encodes.
  *
  * Layout under the index root, one [[Snapshots]] table per role:
  *   codes/          (neighbor_id, cell, codes int[m], rnorm), one IVF
  *                   cell per file, so a probe set prunes to its cells'
  *                   FILES on the manifest stats at plan time (no data
  *                   read outside the probed cells; at 100 TB this is
  *                   the difference between reading
  *                   probe-fraction×corpus and corpus); a batch
  *                   reads the union of its queries' cells, and the
  *                   catalog's 10-query batch probes every cell at
  *                   the shipped SFs
  *   meta/           1-row sidecar: PQ codebook + IVF centroid set
  *                   (bounded metadata, ~40 KB)
  *   tombstones/     (neighbor_id) — deleted vectors
  *
  * The probed cell list is computed driver-side from the (bounded) query
  * batch and pushed as an `isin` literal — a JOIN on cell would compute
  * the same rows but could not prune files at plan time.
  *
  * Build, append, delete, compact and versions are the one
  * [[StandingIndex]] lifecycle. Append encodes the arriving vectors
  * with the FROZEN codebook and centroid set read back from the
  * sidecar — never retrained, so existing codes stay byte-identical
  * and the appended ones equal what a full re-encode would produce —
  * into the same cell shards (O(batch); the daily-batch shape,
  * the incremental half of the ANN story next to
  * `q_dedup_incremental`). Each append lands one file per touched
  * cell; [[compact]] merges them when open/footer cost starts to
  * dominate, and physically drops tombstoned codes.
  */
object PqIndex extends StandingIndex("graft_pqindex", "neighbor_id") {

  /** The frozen sidecar: (PQ codebook, IVF centroid set). */
  type Meta = (Array[Float], Seq[(Int, Array[Float], Double)])

  protected val trees = Seq(Tree("codes", sharded = true))

  /** One shard per centroid: a cell's shard id is its centroid's
    * position in the frozen set.
    */
  protected def shards(m: Meta): (Int, Column) = {
    val ids = m._2.map(_._1)
    (ids.size, (array_position(typedLit(ids), col("cell")) - 1).cast("int"))
  }

  protected def batchKey: Column = col("vec_id").as("neighbor_id")

  /** Train once (memoized per corpus dir). */
  protected def buildMeta(s: SparkSession, dir: String): Meta =
    (Similarity.pqCodebook(s, dir), Similarity.seededCentroids(s, dir))

  protected def metaFrame(s: SparkSession, m: Meta): Option[DataFrame] = {
    import s.implicits._
    val (cb, cents) = m
    Some(Seq((cb.toSeq, cents.map(_._1), cents.map(_._2.toSeq), cents.map(_._3)))
      .toDF("cb", "cent_ids", "cent_vecs", "cent_norms"))
  }

  protected def decodeMeta(meta: => DataFrame): Meta = {
    val r = meta.head()
    val cb = r.getSeq[Float](0).toArray
    val ids = r.getSeq[Int](1)
    val vecs = r.getSeq[Seq[Float]](2)
    val norms = r.getSeq[Double](3)
    (cb, ids.indices.map(i => (ids(i), vecs(i).toArray, norms(i))))
  }

  protected def corpus(s: SparkSession, dir: String, pred: Column,
                       m: Meta): DataFrame =
    Similarity.normed(s, dir).filter(pred)

  /** The encode projection of a normed batch (vec_id, e, nrm): cells
    * assigned and codes encoded map-side against the frozen codebook
    * and centroids, so identical inputs produce identical (cell,
    * codes, rnorm) rows — which is exactly why append + search equals
    * full re-encode search.
    */
  protected def frames(batch: DataFrame, m: Meta): Seq[DataFrame] = {
    val (cb, cents) = m
    Seq(batch
      .select(col("vec_id").as("neighbor_id"),
        CentroidOps.cell(col("e"), col("nrm"), cents).as("cell"),
        PqOps.encode(col("e"), cb, Similarity.PqM, Similarity.PqK, Similarity.PqDsub).as("codes"))
      .withColumn("rnorm",
        PqOps.reconNorm(col("codes"), cb, Similarity.PqM, Similarity.PqK, Similarity.PqDsub)))
  }

  /** Read the metadata sidecar back: (codebook, centroid set). */
  private[graft] def loadMeta(s: SparkSession, root: String): Meta = meta(s, root)

  /** §2 catalog entry (`q_ann_pq_indexed`): materialize the index, then
    * answer the standard query batch FROM the persisted artifact —
    * training and corpus encode are absent from the query path by
    * construction (the sidecar, not the memo, supplies the codebook).
    * Identical output to `q_ann_ivfpq_topk` (shared search tail; the
    * equality is spec-asserted), so its quality is covered by the same
    * recall measurements.
    */
  def annPqIndexed(s: SparkSession, dir: String): DataFrame =
    searchRoot(s, dir, materialize(s, dir))

  /** Search the index AS OF version v: the code scan plans over
    * exactly v's pinned files (cell pruning through the manifest
    * stats) against the build's one sidecar, and v's tombstone set
    * applies — so a pinned training run's neighbor sets never move
    * under it.
    */
  def searchAt(s: SparkSession, dir: String, root: String, v: Int): DataFrame =
    search(s, dir, read(s, root, Some(v)))

  /** Search an arbitrary index root (the spec's handle for querying a
    * base-plus-appends index against a full one).
    */
  private[graft] def searchRoot(s: SparkSession, dir: String, root: String): DataFrame =
    search(s, dir, read(s, root, None))

  private def search(s: SparkSession, dir: String, f: Frames): DataFrame = {
    val (cb, cents) = f.meta
    val probes = math.max(Similarity.IvfNProbe,
      math.ceil(cents.size * Similarity.IvfProbeFraction).toInt)
    val n = Similarity.normed(s, dir)
    // the query batch is bounded by construction: compute the probe
    // rows ONCE, collect them, and re-plan as a local relation — the
    // driver both extracts the probed cell set (for file pruning)
    // and feeds the broadcast join from the same collected rows, so the
    // embeddings scan + centroid scoring never runs twice
    val qPlan = n.filter(col("vec_id") < Similarity.NumQueries)
      .select(col("vec_id").as("q_id"), col("e").as("e_q"), col("nrm").as("n_q"),
        explode(CentroidOps.nearest(col("e"), col("nrm"), cents, probes)).as("cell"))
    val probeRows = qPlan.collect()
    val qProbes = s.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), qPlan.schema)
    val probedCells = probeRows.map(_.getAs[Int]("cell")).distinct
    // tombstones drop AFTER cell pruning: AQE picks a broadcast
    // anti-join while the set stays small, and compact is the pressure
    // valve that returns the index to tombstone-free scans
    val encoded = f.live(f("codes").filter(col("cell").isin(probedCells.toIndexedSeq: _*)))
    Similarity.ivfPqSearch(encoded, qProbes,
      n.select(col("vec_id").as("neighbor_id"), col("e").as("e_c"), col("nrm").as("n_c")), cb)
  }
}
