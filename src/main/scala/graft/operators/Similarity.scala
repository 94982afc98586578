package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.plans.{ArrayOps, CentroidOps, Memo, PqOps}

/** Similarity search over the embeddings corpus (SURVEY §2.5) and
  * embedding-cosine near-dup (§2.4 #28).
  *
  * The exact/brute variants broadcast the (small) query set — fact side
  * never shuffles; they double as correctness oracles. The LSH and IVF
  * variants are the 100 TB scale path: candidate generation is an
  * equi-join on bucket/cell keys, exact rerank only on candidates.
  *
  * Dot products use `zip_with` + `aggregate` (sequential fold → engine-
  * portable, same value the DuckDB oracle computes via `list_reduce`).
  */
object Similarity {

  val CosineDupT = 0.4
  val TopK = 5
  val NumQueries = 10

  /** Embeddings kept as float arrays (no cast pass) + precomputed L2
    * norm; dot products via the codegen'd FloatArrayDot expression —
    * identical sequential double accumulation to the HOF fold (oracle
    * parity bit-exact), ~30x faster.
    */
  private[graft] def normed(s: SparkSession, dir: String): DataFrame =
    Tables.embeddingsSpread(s, dir)
      .select(col("vec_id"), col("embedding").as("e"))
      .withColumn("nrm", sqrt(ArrayOps.dotF(col("e"), col("e"))))

  /** Lloyd-round training input cap: quantizer quality depends on the
    * data DISTRIBUTION, not the corpus size, so training passes are
    * bounded to a deterministic hash-sample of ≤ this many vectors —
    * at 10⁹ vectors a Lloyd round costs the same as at 10⁴ (the full
    * corpus is only ever touched by the one ENCODE/assign pass, which
    * is map-side and unavoidable). The bound sits above the shipped
    * correctness SFs (≤ 2000 vectors) so their recall measurements are
    * untouched, and engages from sf1 (20k vectors) up — exercised by
    * the sf1 sweep, not just declared.
    */
  val TrainSampleCap = 8192L

  /** Deterministic, partitioning-independent training sample: the
    * stride filter (keep vec_id where xxhash64 mod stride == 0) thins
    * the scan map-side to ~cap EXPECTED rows, then an ordered take by
    * (hash, vec_id) makes the ≤ cap bound STRICT — the expected count
    * alone can overshoot the cap by chance when n isn't a multiple of
    * the stride. The take is a per-partition heap over the ≤ ~2·cap
    * filtered rows (TakeOrdered), not a global sort, and the (hash,
    * id) order is a property of the values, so the same set survives
    * under any partitioning.
    */
  private[graft] def trainingSample(df: DataFrame,
      cap: Long = TrainSampleCap): DataFrame = {
    val n = df.count()
    if (n <= cap) df
    else {
      val stride = math.ceil(n.toDouble / cap).toLong
      df.filter(pmod(xxhash64(col("vec_id")), lit(stride)) === 0)
        .orderBy(xxhash64(col("vec_id")), col("vec_id"))
        .limit(cap.toInt)
    }
  }

  private def dot(a: Column, b: Column): Column = ArrayOps.dotF(a, b)

  /** Tile count for the blocked all-pairs join: each side shuffles
    * ~(B+1)·n rows (replication ∝ B), and the join fans out into
    * B(B+1)/2 independent dense tiles of (n/B)² pairs each — size B so
    * tiles keep every core busy while the replication stays modest.
    */
  val DupBlocks = 16

  /** §2.4 #28 — embedding-cosine near-dup: all pairs with cosine ≥ τ,
    * exact, as a TILED BLOCK EQUI-JOIN: rows are hashed into B blocks,
    * a broadcast (tile, blk_a, blk_b) table replicates each side onto
    * its tiles, and the pair join is a plain shuffle equi-join on the
    * tile id — B(B+1)/2 embarrassingly-parallel dense tiles, no
    * BroadcastNestedLoopJoin, no single-task bottleneck, memory bounded
    * by (n/B)·dim per task. Exact all-pairs at τ=0.4 is inherently
    * Θ(n²) compute: at that threshold sign-LSH collides qualifying
    * pairs with probability only 1−θ/π ≈ 0.63 per plane, so any
    * candidate-complete banding scheme generates MORE pairs than brute
    * force — bucketed-LSH pruning only wins at high τ (the MinHash-LSH
    * path in Dedup covers that regime). This operator distributes the
    * unavoidable quadratic work instead of pretending to prune it.
    */
  /** Tiled all-pairs frame over a (vec_id, e, nrm[, carry…]) base:
    * every unordered pair of rows appears EXACTLY once (off-diagonal
    * tiles see it once, possibly as (hi, lo); diagonal tiles see both
    * orientations and keep the ascending one — the filter encodes
    * both facts), as a plain shuffle equi-join on the tile id. Shared
    * by [[embeddingDup]] and [[knnLabelAcc]] so the exactly-once
    * pairing invariant lives in ONE place. `carry` columns ride along
    * as `<name>_a`/`<name>_b`.
    */
  private def tiledPairs(base: DataFrame, carry: Seq[String]): DataFrame = {
    import base.sparkSession.implicits._
    val B = DupBlocks
    val tiles = (for { i <- 0 until B; j <- i until B } yield (i * B + j, i, j))
      .toDF("tile", "t_blk_a", "t_blk_b")
    // pin the tile exchanges (the coocPairs convention): the sides are
    // SMALL IN BYTES (vectors × tile replicas), so AQE's byte-sized
    // advisory would legally coalesce the pair join to one task — but
    // the join FANS OUT quadratically (every in-tile pair gets a
    // 64-dim dot product + both-orientation explode above it), so
    // per-task cost scales with pairs, not input bytes (sf0.1
    // measured q_knn_label_acc at wall ≈ cpu ≈ 4.5 s on one core;
    // pinned, the same work rides every core)
    val n = base.sparkSession.sessionState.conf.numShufflePartitions
    def side(sfx: String, blkCol: String) =
      base.select(Seq(col("vec_id").as(s"vec_$sfx"), col("e").as(s"e_$sfx"),
          col("nrm").as(s"n_$sfx")) ++
        carry.map(c => col(c).as(s"${c}_$sfx")) :+
        pmod(col("vec_id"), lit(B)).cast("int").as(blkCol): _*)
        .join(broadcast(tiles), blkCol)
        .drop("t_blk_a", "t_blk_b")
        .repartition(n, col("tile"))
    side("a", "t_blk_a").join(side("b", "t_blk_b"), Seq("tile"))
      .filter(pmod(col("vec_a"), lit(B)) < pmod(col("vec_b"), lit(B)) ||
        col("vec_a") < col("vec_b"))
  }

  def embeddingDup(s: SparkSession, dir: String): DataFrame =
    tiledPairs(normed(s, dir), Nil)
      .withColumn("cos_sim", round(dot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b")), 6))
      .filter(col("cos_sim") >= CosineDupT)
      .select(least(col("vec_a"), col("vec_b")).as("vec_a"),
        greatest(col("vec_a"), col("vec_b")).as("vec_b"), col("cos_sim"))
      .orderBy("vec_a", "vec_b")

  /** 1-NN leave-one-out label accuracy (`q_knn_label_acc`): for every
    * vector, the label of its nearest neighbor (cosine, self excluded)
    * compared to its own, aggregated per label — the standard
    * embedding-quality audit run BEFORE trusting the space for
    * semantic dedup or clustering-based selection (a label family
    * whose members' neighbors are mostly other families means the
    * space does not separate it; SemDeDup-style pruning there removes
    * the wrong documents).
    *
    * Distributed shape: the SAME tiled block equi-join as
    * [[embeddingDup]] (each unordered pair computed once, dense tiles,
    * no nested loop) — exact LOO 1-NN is inherently Θ(n²), this
    * distributes it; each pair row then feeds BOTH endpoints' argmax
    * (a union of the two orientations, map-side), the per-vector
    * argmax is one max(struct) aggregate (rounded cosine desc, lowest
    * neighbor id tie-break — deterministic cross-engine), and the
    * verdict aggregates into a label-cardinality frame. At production
    * scale the audit runs on a bounded evaluation sample — ENFORCED,
    * not just declared: above [[KnnEvalCap]] vectors the audit runs on
    * the deterministic [[trainingSample]] stride sample (the quality
    * estimate needs the distribution, not the corpus — the
    * TrainSampleCap argument), so pair work is capped at
    * KnnEvalCap²/2 regardless of corpus size. The shipped SFs sit
    * under the cap, so their audits stay full-exact and the oracle is
    * unchanged; KnnEvalSpec proves capped == exact-on-the-sample above
    * the cap and identity below it.
    */
  def knnLabelAcc(s: SparkSession, dir: String): DataFrame =
    knnLabelAccCapped(s, dir, KnnEvalCap)

  /** Evaluation-sample bound for the LOO 1-NN audit: above this many
    * vectors, [[knnLabelAcc]] audits the deterministic stride sample
    * instead of the full corpus. Same bound class as
    * [[TrainSampleCap]] — at 10⁹ vectors the audit costs the same as
    * at 8192 — and above all shipped correctness SFs so their results
    * are the full exact audit.
    */
  val KnnEvalCap: Long = TrainSampleCap

  private[graft] def knnLabelAccCapped(s: SparkSession, dir: String,
      cap: Long): DataFrame = {
    val base = trainingSample(
      Tables.embeddingsSpread(s, dir)
        .select(col("vec_id"), col("embedding").as("e"), col("label"))
        .withColumn("nrm", sqrt(ArrayOps.dotF(col("e"), col("e")))),
      cap)
    val pairs = tiledPairs(base, Seq("label"))
      .withColumn("cos_sim",
        round(dot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b")), 6))
      .select(col("vec_a"), col("label_a").as("lab_a"),
        col("vec_b"), col("label_b").as("lab_b"), col("cos_sim"))
    // both orientations from ONE pass over the pair rows (a union of
    // two selects re-runs the tile join and every dot product twice —
    // the explode is map-side on the already-scored rows)
    val oriented = pairs
      .select(explode(array(
        struct(col("vec_a").as("vid"), col("lab_a").as("lab"),
          col("vec_b").as("nb"), col("lab_b").as("nb_lab"), col("cos_sim")),
        struct(col("vec_b").as("vid"), col("lab_b").as("lab"),
          col("vec_a").as("nb"), col("lab_a").as("nb_lab"), col("cos_sim"))))
        .as("o"))
      .select(col("o.vid"), col("o.lab"), col("o.nb"), col("o.nb_lab"),
        col("o.cos_sim"))
    val nn = oriented.groupBy("vid", "lab")
      .agg(max(struct(col("cos_sim"), (-col("nb")).as("neg_nb"),
        col("nb_lab").as("nb_lab"))).as("best"))
      .select(col("vid"), col("lab"), col("best.nb_lab").as("nn_lab"))
    nn.groupBy(col("lab").as("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("nn_lab") === col("lab"), 1L).otherwise(0L)).as("n_correct"))
      .select(col("label"), col("n_vecs"), col("n_correct"),
        (floor(col("n_correct").cast("double") / col("n_vecs") * lit(1e4) +
          lit(0.5)) / 1e4).as("acc"))
      .orderBy("label")
  }

  /** §2.4 semantic dedup (the SemDeDup shape, Abbas et al. 2023):
    * cluster the embedding space, then prune near-duplicates WITHIN
    * each cluster only — the clustering restricts the quadratic pair
    * search to same-cluster candidates. Cells are the deterministic
    * seeded centroids the IVF family uses (stride-capped at ~√n, so
    * cluster size ~√n and the within-cell self-join does Θ(n^1.5) pair
    * work instead of Θ(n²) — the SemDeDup economics); assignment is the
    * zero-shuffle codegen'd argmin. A vector is dropped when a
    * same-cell vector with a SMALLER id is within τ (deterministic
    * keep-lowest-id rule — the parallel-safe analogue of SemDeDup's
    * sequential keep-first sweep; pairs straddling a cell boundary are
    * missed by design, the approximation the clustering buys speed
    * with). Output: every vector with its cell and keep/drop verdict.
    */
  def semanticDedup(s: SparkSession, dir: String): DataFrame = {
    val cents = seededCentroids(s, dir)
    val assigned = normed(s, dir).select(col("vec_id"), col("e"), col("nrm"),
      CentroidOps.cell(col("e"), col("nrm"), cents).as("cell"))
    val a = assigned.select(col("cell"), col("vec_id").as("vec_a"),
      col("e").as("e_a"), col("nrm").as("n_a"))
    val b = assigned.select(col("cell"), col("vec_id").as("vec_b"),
      col("e").as("e_b"), col("nrm").as("n_b"))
    val removed = a.join(b, Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .filter(round(dot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b")), 6) >= CosineDupT)
      .select(col("vec_b").as("vec_id")).distinct()
    assigned.select("vec_id", "cell")
      .join(removed.withColumn("rm", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("rm").isNull.as("keep"))
      .orderBy("vec_id")
  }

  /** §2.5 #29 — brute-force cosine top-k: query set (vec_id < NumQueries)
    * broadcast against the corpus; rank on rounded cosine with vec_id
    * tie-break (deterministic across engines).
    */
  def annBruteTopK(s: SparkSession, dir: String): DataFrame = {
    val q = normed(s, dir).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("e").as("e_q"), col("nrm").as("n_q"))
    val c = normed(s, dir)
      .select(col("vec_id").as("neighbor_id"), col("e").as("e_c"), col("nrm").as("n_c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos_sim").desc, col("neighbor_id"))
    broadcast(q).join(c, col("q_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", round(dot(col("e_q"), col("e_c")) / (col("n_q") * col("n_c")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select("q_id", "rank", "neighbor_id", "cos_sim")
      .orderBy("q_id", "rank")
  }

  /** §2.5 — attribute-filtered search, brute baseline: top-k among
    * corpus vectors sharing the query's label — the WHERE clause of
    * vector search (same-language retrieval, per-tenant search,
    * FAISS `IDSelector` / pgvector `WHERE` class). The label equality
    * makes this join a broadcast HASH join on the attribute (tighter
    * than unfiltered brute's nested loop); exact over the filtered
    * candidate set, and the full-oracle baseline the filtered-IVF
    * scale path is measured against.
    */
  def annFilteredTopK(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Tables.embeddingsSpread(s, dir)
      .select(col("vec_id"), col("embedding").as("e"), col("label"))
      .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
    val q = base.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("e").as("e_q"),
        col("nrm").as("n_q"), col("label"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos_sim").desc, col("neighbor_id"))
    broadcast(q)
      .join(base.select(col("vec_id").as("neighbor_id"), col("e").as("e_c"),
          col("nrm").as("n_c"), col("label")), Seq("label"))
      .filter(col("q_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", round(dot(col("e_q"), col("e_c")) / (col("n_q") * col("n_c")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select("q_id", "label", "rank", "neighbor_id", "cos_sim")
      .orderBy("q_id", "rank")
  }

  /** §2.5 — hard-negative mining (`q_hard_negatives`): per query
    * vector, the top-k most-similar corpus vectors with a DIFFERENT
    * label — the contrastive-training data-prep staple (triplet /
    * InfoNCE negatives that are close in embedding space but cross the
    * label boundary). The exact complement of [[annFilteredTopK]]'s
    * same-label WHERE: the label INEQUALITY keeps this a broadcast
    * nested-loop over the bounded query set (the brute shape — a hash
    * join can't carry `<>`), still one corpus scan with no fact-side
    * shuffle; at 100 TB the same candidate-generation economics as
    * brute top-k apply (and an IVF-probed variant would compose exactly
    * like [[annIvfFilteredTopK]] with the predicate flipped).
    */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Tables.embeddingsSpread(s, dir)
      .select(col("vec_id"), col("embedding").as("e"), col("label"))
      .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
    val q = base.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("e").as("e_q"),
        col("nrm").as("n_q"), col("label"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos_sim").desc, col("neighbor_id"))
    broadcast(q)
      .join(base.select(col("vec_id").as("neighbor_id"), col("e").as("e_c"),
          col("nrm").as("n_c"), col("label").as("nb_label")),
        col("label") =!= col("nb_label"))
      .withColumn("cos_sim", round(dot(col("e_q"), col("e_c")) / (col("n_q") * col("n_c")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select("q_id", "label", "rank", "neighbor_id", "nb_label", "cos_sim")
      .orderBy("q_id", "rank")
  }

  /** §2.5 — IVF-probed hard negatives: the scale path of
    * [[hardNegatives]], composed exactly as its scaladoc promises —
    * [[annIvfFilteredTopK]]'s probe shape with the label predicate
    * FLIPPED after cell pruning. The candidate join is a plain
    * broadcast equi-join on the probed cell id (the label INEQUALITY
    * rides as a post-join filter — it cannot be a hash key, but it no
    * longer forces a nested loop over the whole corpus either); the
    * probed-fraction economics are identical to IVF search, and recall
    * vs the full-oracle brute [[hardNegatives]] is measured by the
    * spec AND gated per-round by [[RecallReport]].
    */
  def hardNegativesIvf(s: SparkSession, dir: String): DataFrame = {
    val cents = seededCentroids(s, dir)
    val base = graft.Tables.embeddingsSpread(s, dir)
      .select(col("vec_id"), col("embedding").as("e"), col("label"))
      .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
    // SPANN closure (r16): see [[IvfClosureRep]] — the label
    // INEQUALITY thins the pool exactly like the equality filter does
    val assigned = base.select(col("vec_id").as("neighbor_id"),
      col("e").as("e_c"), col("nrm").as("n_c"), col("label").as("nb_label"),
      explode(CentroidOps.nearest(col("e"), col("nrm"), cents,
        math.min(IvfClosureRep, cents.size))).as("cell"))
    val probes = math.max(IvfNProbe, math.ceil(cents.size * IvfProbeFraction).toInt)
    val qProbes = base.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("e").as("e_q"),
        col("nrm").as("n_q"), col("label"),
        explode(CentroidOps.nearest(col("e"), col("nrm"), cents, probes)).as("cell"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos_sim").desc, col("neighbor_id"))
    broadcast(qProbes).join(assigned, Seq("cell"))
      .filter(col("label") =!= col("nb_label"))
      // dedupe the closure's duplicate (q, neighbor) candidates
      .select("q_id", "label", "e_q", "n_q", "neighbor_id", "nb_label",
        "e_c", "n_c")
      .dropDuplicates("q_id", "neighbor_id")
      .withColumn("cos_sim", round(dot(col("e_q"), col("e_c")) / (col("n_q") * col("n_c")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select("q_id", "label", "rank", "neighbor_id", "nb_label", "cos_sim")
      .orderBy("q_id", "rank")
  }

  // ---- scale paths (deterministic, rows-only checked) -------------------

  val LshPlanes = 6
  val LshTables = 6
  val Dim = 64

  /** Deterministic pseudo-random hyperplanes (fixed integer recurrence —
    * reproducible across runs/engines without RNG state). One
    * contiguous pool; table t uses planes [t·LshPlanes, (t+1)·LshPlanes).
    */
  private[operators] val planes: Array[Array[Float]] =
    Array.tabulate(LshTables * LshPlanes, Dim) { (j, i) =>
      ((((j * Dim + i + 1) * 2654435761L & 0x7fffffffL) % 2001L - 1000L) / 1000.0).toFloat
    }

  /** Sign-bit LSH signature for an embedding column under table t's planes. */
  private def lshSig(e: Column, t: Int): Column =
    (0 until LshPlanes).map { j =>
      when(dot(e, lit(planes(t * LshPlanes + j))) > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** §2.5 #30 — LSH-bucketed ANN with OR-amplification: L independent
    * hash tables of b sign planes each (candidate if ANY table
    * collides), plus 1-bit multiprobe per table (b+1 probes). Per-table
    * recall for a neighbor at collision prob p is P(hamming ≤ 1) =
    * p^b + b·p^(b-1)(1−p); OR over L tables amplifies 1−(1−r)^L — the
    * single-table version measured recall@5 0.26 on these
    * near-orthogonal vectors, L=6 lifts it to ~0.8 at 6× corpus index
    * replication (the standard memory-for-recall LSH trade). The
    * candidate join stays a pure equi-join on (table, signature) —
    * O(candidates) shuffle at any scale.
    */
  def annLshTopK(s: SparkSession, dir: String): DataFrame =
    annLshTopKParams(s, dir, LshTables, multiprobe = true)

  /** Parameterized form for the recall sweep harness (tools.RecallSweep):
    * `tables` ≤ LshTables selects a prefix of the plane pool;
    * `multiprobe` toggles the 1-bit flips.
    */
  private[graft] def annLshTopKParams(s: SparkSession, dir: String,
                                      tables: Int, multiprobe: Boolean): DataFrame = {
    require(tables >= 1 && tables <= LshTables)
    val n = normed(s, dir)
    val corpus = n.select(col("vec_id").as("neighbor_id"), col("e").as("e_c"), col("nrm").as("n_c"),
      posexplode(array((0 until tables).map(t => lshSig(col("e"), t)): _*))
        .as(Seq("c_tbl", "sig")))
    val q0 = n.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("e").as("e_q"), col("nrm").as("n_q"),
        posexplode(array((0 until tables).map(t => lshSig(col("e"), t)): _*))
          .as(Seq("tbl", "qsig")))
    val probes =
      if (multiprobe)
        (0 until LshPlanes).map(j => col("qsig").bitwiseXOR(lit(1 << j))) :+ col("qsig")
      else Seq(col("qsig"))
    val q = q0.select(col("q_id"), col("e_q"), col("n_q"), col("tbl"),
      explode(array(probes: _*)).as("probe"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos_sim").desc, col("neighbor_id"))
    broadcast(q).join(corpus,
        col("tbl") === col("c_tbl") && col("probe") === col("sig") &&
          col("q_id") =!= col("neighbor_id"))
      .select(col("q_id"), col("e_q"), col("n_q"), col("neighbor_id"), col("e_c"), col("n_c"))
      .dropDuplicates("q_id", "neighbor_id")  // pairs colliding in several tables rerank once
      .withColumn("cos_sim", round(dot(col("e_q"), col("e_c")) / (col("n_q") * col("n_c")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select("q_id", "rank", "neighbor_id", "cos_sim")
      .orderBy("q_id", "rank")
  }

  /** Seed stride floor: cells = n/IvfCentroidMod until ⌈√n⌉ overtakes
    * it (see [[seededCentroids]]), which caps both the centroid matrix
    * and the average cell size at O(√n).
    */
  val IvfCentroidMod = 100
  val IvfNProbe = 3
  /** IVF recall tracks the probed corpus FRACTION (nProbe / cells), so
    * a fixed probe count degrades as the cell count grows. Probing
    * max(IvfNProbe, ⌈fraction·cells⌉) keeps recall roughly
    * scale-invariant; the cell count is known on the driver (the
    * centroid set is bounded metadata).
    */
  val IvfProbeFraction = 0.3

  /** SPANN-closure replication for the FILTERED IVF family (r16): each
    * corpus vector posts to its [[IvfClosureRep]] nearest cells instead
    * of one. The filtered paths lose candidates to cell-boundary
    * geometry exactly as the graph buckets did — a true neighbor's
    * single home cell need not be probed, and the label filter then
    * thins an already-lossy pool (ann_ivf_filtered_recall5 measured 48
    * at sf0.1, hard_negatives_ivf 64). GraphAnn's identical closure
    * (Rep=8) took bucket recall 46→90 at unchanged probes; the price is
    * an 8× posting-row table, still map-side (no extra shuffle — the
    * explode rides the scan), plus a candidates-sized dedup before
    * ranking (overlapping cells deliver duplicate (q, neighbor) pairs).
    * The UNfiltered ivfSearch keeps single assignment: its probe
    * fraction alone holds its gate, and closure would 8× every query's
    * candidate pool for nothing.
    */
  val IvfClosureRep = 8

  /** Driver-local centroid seed set: (id, vector, norm), ids ascending.
    * The seed stride is max(IvfCentroidMod, ⌈√n⌉), so the cell count is
    * n/IvfCentroidMod at small corpora (unchanged vs the windowed
    * implementation — recall numbers carry over exactly) but caps at
    * ~√n as the corpus grows: at 10⁹ vectors that is ~31,623 cells ×
    * 64 dims × 4 B ≈ 8 MB of centroid matrix — bounded METADATA (the
    * same class of collect as the PQ codebook), not data movement.
    */
  /** Memoized per table dir (the [[pqCodebook]] contract: a pure
    * function of the dir, so one count + one collect per session per
    * corpus instead of two jobs per CONSUMER — the seeded set now has
    * seven consumers across the IVF/SemDeDup/cluster-curation family,
    * and at production scale each saved count() is a corpus scan).
    */
  private[graft] def seededCentroids(s: SparkSession, dir: String): Seq[(Int, Array[Float], Double)] =
    Memo.value(s, dir, "similarity.seededCentroids") {
      val n = normed(s, dir)
      val total = n.count()
      val stride = math.max(IvfCentroidMod.toLong, math.round(math.sqrt(total.toDouble)))
      n.filter(col("vec_id") % stride === (3L % stride))
        .orderBy("vec_id")
        .select(col("vec_id"), col("e"), col("nrm"))
        .collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray, r.getDouble(2)))
        .toSeq
    }

  /** Corpus→cell assignment as a ZERO-SHUFFLE map: the codegen'd
    * argmin expression scores every centroid inside the scan projection
    * (identical arithmetic and tie-break to the former broadcast-join +
    * row_number window, which shuffled the full n×cells expansion —
    * Θ(n·√n) rows at the capped cell count, 10¹³⁺ at billion scale).
    */
  private[graft] def ivfAssigned(s: SparkSession, dir: String,
                                 cents: Seq[(Int, Array[Float], Double)]): DataFrame =
    normed(s, dir).select(col("vec_id").as("neighbor_id"), col("e").as("e_c"),
      col("nrm").as("n_c"), CentroidOps.cell(col("e"), col("nrm"), cents).as("cell"))

  /** Shared IVF probe + exact rerank over an assigned corpus: queries
    * expand to their probed cells map-side (same expression, top-k
    * form), the candidate join is an equi-join on the cell id, and only
    * candidates are reranked.
    */
  private def ivfSearch(s: SparkSession, dir: String,
                        cents: Seq[(Int, Array[Float], Double)], nProbe: Int): DataFrame = {
    val n = normed(s, dir)
    val assigned = ivfAssigned(s, dir, cents)
    // recall tracks the probed corpus FRACTION, so the probe count
    // scales with the (driver-local, bounded) cell count
    val probes = math.max(nProbe, math.ceil(cents.size * IvfProbeFraction).toInt)
    val qProbes = n.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("e").as("e_q"), col("nrm").as("n_q"),
        explode(CentroidOps.nearest(col("e"), col("nrm"), cents, probes)).as("cell"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos_sim").desc, col("neighbor_id"))
    broadcast(qProbes).join(assigned, Seq("cell"))
      .filter(col("q_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", round(dot(col("e_q"), col("e_c")) / (col("n_q") * col("n_c")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select("q_id", "rank", "neighbor_id", "cos_sim")
      .orderBy("q_id", "rank")
  }

  /** §2.5 #31 — IVF-style ANN: deterministic seed centroids, vectors
    * assigned to their nearest cell map-side (codegen argmin over the
    * driver-local centroid matrix — no shuffle, no window); queries
    * probe the nProbe nearest cells and rerank exactly. The candidate
    * join is an equi-join on cell id.
    */
  def annIvfTopK(s: SparkSession, dir: String): DataFrame =
    annIvfTopKParams(s, dir, IvfNProbe)

  /** Parameterized form for the recall sweep harness. */
  private[graft] def annIvfTopKParams(s: SparkSession, dir: String, nProbe: Int): DataFrame =
    ivfSearch(s, dir, seededCentroids(s, dir), nProbe)

  /** §2.5 — attribute-filtered IVF (the scale path of
    * [[annFilteredTopK]]): probe cells as usual, keep only
    * label-matching candidates (the candidate join becomes an
    * equi-join on (cell, label)), exact rerank. This is POST-filtered
    * IVF — the standard production compromise (FAISS searches then
    * drops non-matching ids): a very selective filter thins the
    * probed candidate pool, so recall vs the filtered brute degrades
    * with selectivity rather than with corpus size; the spec measures
    * it against [[annFilteredTopK]] on the shipped corpus. Same scale
    * shape as IVF: zero-shuffle assignment, broadcast probe set,
    * candidates bounded by probed-cell ∩ label membership.
    */
  def annIvfFilteredTopK(s: SparkSession, dir: String): DataFrame = {
    val cents = seededCentroids(s, dir)
    val base = graft.Tables.embeddingsSpread(s, dir)
      .select(col("vec_id"), col("embedding").as("e"), col("label"))
      .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
    // SPANN closure (r16): post each vector to its IvfClosureRep
    // nearest cells — single assignment capped recall at 48 (sf0.1)
    // on boundary geometry alone; see [[IvfClosureRep]]
    val assigned = base.select(col("vec_id").as("neighbor_id"),
      col("e").as("e_c"), col("nrm").as("n_c"), col("label"),
      explode(CentroidOps.nearest(col("e"), col("nrm"), cents,
        math.min(IvfClosureRep, cents.size))).as("cell"))
    val probes = math.max(IvfNProbe, math.ceil(cents.size * IvfProbeFraction).toInt)
    val qProbes = base.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("e").as("e_q"),
        col("nrm").as("n_q"), col("label"),
        explode(CentroidOps.nearest(col("e"), col("nrm"), cents, probes)).as("cell"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos_sim").desc, col("neighbor_id"))
    broadcast(qProbes).join(assigned, Seq("cell", "label"))
      .filter(col("q_id") =!= col("neighbor_id"))
      // overlapping closure cells deliver duplicate (q, neighbor)
      // candidates — dedupe the bounded pool before ranking
      .select("q_id", "label", "e_q", "n_q", "neighbor_id", "e_c", "n_c")
      .dropDuplicates("q_id", "neighbor_id")
      .withColumn("cos_sim", round(dot(col("e_q"), col("e_c")) / (col("n_q") * col("n_c")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select("q_id", "label", "rank", "neighbor_id", "cos_sim")
      .orderBy("q_id", "rank")
  }

  val KMeansIters = 2

  /** Lloyd-iteration centroid learning: assignment is a zero-shuffle
    * map (codegen argmin over the driver-local centroid matrix — the
    * former broadcast-join + window shuffled n×cells rows per
    * iteration); the only shuffle per round is the per-cell mean, and
    * only the centroid matrix itself — O(cells × dim) bounded metadata,
    * not data — is collected between iterations. Seeded from the same
    * deterministic stride as the static IVF.
    */
  private[operators] def learnedCentroids(s: SparkSession, dir: String): Seq[(Int, Array[Float])] = {
    // Lloyd rounds see only the bounded training sample, collected once
    // (shared memo with the PQ codebook) and iterated DRIVER-LOCAL —
    // same rationale as trainPqLocal: each round is a few ms of
    // arithmetic over ≤ 8192 vectors, where the former distributed form
    // paid one job of scheduling overhead per round. Assignment
    // reproduces CentroidOps.cell: score = sequential-fold dot (unit
    // norms), best score desc, centroid id asc on ties; cells that
    // capture no sample vectors drop out (as the former groupBy did).
    // The final corpus-wide assignment (in ivfSearch) stays map-side.
    val sample = trainSampleLocal(s, dir)
    // dim from the data, not the shipped-corpus constant — the fuzz
    // specs train on planted low-dim corpora
    val dim = sample.headOption.map(_.length).getOrElse(Dim)
    var cents: Seq[(Int, Array[Float])] = seededCentroids(s, dir).map(c => (c._1, c._2))
    for (_ <- 1 to KMeansIters) {
      val byId = cents.sortBy(_._1)
      val sums = Array.fill(byId.size)(new Array[Double](dim))
      val cnts = new Array[Long](byId.size)
      for (v <- sample) {
        var best = 0
        var bestScore = Double.NegativeInfinity
        for (ci <- byId.indices) {
          val cv = byId(ci)._2
          var dp = 0.0
          var j = 0
          while (j < dim) { dp += v(j).toDouble * cv(j).toDouble; j += 1 }
          if (dp > bestScore) { bestScore = dp; best = ci }
        }
        var j = 0
        while (j < dim) { sums(best)(j) += v(j).toDouble; j += 1 }
        cnts(best) += 1
      }
      val means = byId.indices.filter(cnts(_) > 0).map { ci =>
        (byId(ci)._1, Array.tabulate(dim)(j => (sums(ci)(j) / cnts(ci)).toFloat))
      }
      if (means.nonEmpty) cents = means
    }
    cents
  }

  /** Learned centroid set WITH norms, memoized per table dir (same
    * per-dir determinism contract as [[seededCentroids]]): the Lloyd
    * training is driver-local ms, but the set now has several consumers
    * (learned IVF, the cluster-curation family, the recall gate) and
    * each retrain would re-collect the sample's count. Norms use the
    * same sequential double accumulation as FloatArrayDot — scores
    * match the former DataFrame-side sqrt(dotF(c,c)) bit-for-bit.
    */
  private[graft] def learnedCentroidsWithNorms(s: SparkSession, dir: String)
      : Seq[(Int, Array[Float], Double)] =
    Memo.value(s, dir, "similarity.learnedCentroids") {
      learnedCentroids(s, dir).map { case (id, v) =>
        var ss = 0.0
        var j = 0
        while (j < v.length) { ss += v(j).toDouble * v(j).toDouble; j += 1 }
        (id, v, math.sqrt(ss))
      }
    }

  /** §2.5 #31b — IVF with LEARNED centroids (k-means-lite): same probe
    * and rerank shape as the seeded variant, but cells reflect the data
    * distribution — better recall at the same probe budget.
    */
  def annIvfLearnedTopK(s: SparkSession, dir: String): DataFrame =
    ivfSearch(s, dir, learnedCentroidsWithNorms(s, dir), IvfNProbe)

  val PqM = 8          // subspaces
  /** 256 centroids per subspace = an 8-BIT code that fills the byte
    * exactly (round 6; K=128 left a bit on the table at identical
    * storage). OPQ rotation was evaluated and rejected for THIS corpus:
    * the synthetic embeddings are near-isotropic (covariance eigens
    * 0.028→0.0065, mean off-diagonal correlation 0.035), so there is
    * no subspace imbalance for a learned rotation to fix — on real
    * text embeddings (strongly anisotropic) a driver-local OPQ on the
    * bounded sample is the next lever, same train() shape.
    */
  val PqK = 256        // centroids per subspace — full 8-bit codes
  val PqDsub = Dim / PqM
  val PqLloydIters = 6
  /** Exact-rerank candidate pool per query: the rerank join reads only
    * `queries × PqRerank` raw vectors, so a larger pool is nearly free
    * next to the code scan (at 100 TB the code scan is fixed; the pool
    * only widens a candidate-sized join). Round-6 sweep
    * (tools.RecallSweep at sf1): K=256 + rerank 320 → recall@5 0.98
    * (plain PQ) / 0.96 (IVF-PQ), vs 0.80/0.82 at the round-5
    * K=128/rerank-160 point; code bytes unchanged at 8.
    */
  val PqRerank = 320

  /** Collected training sample, memoized per table dir (vec_id order,
    * deterministic): one collect serves the PQ codebook AND the learned
    * IVF centroids. Bounded by TrainSampleCap × Dim floats (≤ 2 MB).
    */
  private[graft] def trainSampleLocal(s: SparkSession, dir: String): Array[Array[Float]] =
    Memo.value(s, dir, "similarity.trainSample") {
      trainingSample(normed(s, dir)).orderBy("vec_id")
        .select("e").collect().map(_.getSeq[Float](0).toArray)
    }

  /** Product-quantization codebooks. The cluster's share of the work is
    * exactly the bounded-sample selection (`trainingSample`, ≤ 8192
    * vectors regardless of corpus size); the Lloyd rounds themselves
    * run DRIVER-LOCAL on the collected sample (≤ 2 MB — metadata
    * scale, the FAISS `train()` shape): at any corpus size the rounds
    * are a few ms of arithmetic, where the former one-job-per-round
    * distributed form paid fixed scheduling overhead per iteration to
    * aggregate the same ≤ 8192 rows. Seeds are the first PqK sample
    * vectors (== vec_id < PqK at every shipped SF, where the sample is
    * the whole corpus); empty cells keep their previous centroid.
    *
    * Memoized: the codebook is a pure function of the table dir
    * (deterministic sample, seeds, and iteration order), so one
    * training per session serves every query over that dir — the PQ
    * and IVF-PQ entries (and repeat invocations) share it instead of
    * each re-running the Lloyd rounds.
    */
  private[graft] def pqCodebook(s: SparkSession, dir: String): Array[Float] =
    Memo.value(s, dir, "similarity.pqCodebook")(trainPqLocal(trainSampleLocal(s, dir)))

  /** OPQ-NP refinement rounds after the eigen-allocation init (each is
    * one Lloyd training + one Procrustes solve on the bounded sample —
    * driver-local ms).
    */
  val OpqNpIters = 4

  /** (rotation, codebook) memo — same per-dir determinism contract as
    * [[pqCodebook]]; one training serves every OPQ query over the dir.
    */
  private[graft] def opqTrained(s: SparkSession, dir: String): (Array[Double], Array[Float]) =
    Memo.value(s, dir, "similarity.opq") {
      Opq.train(trainSampleLocal(s, dir), PqM, PqK, PqDsub, trainPqLocal, OpqNpIters)
    }

  /** Driver-local Lloyd rounds; assignment semantics identical to
    * PqEncode (argmin-L2 per subspace, ties to the lower code).
    */
  private[graft] def trainPqLocal(sample: Array[Array[Float]]): Array[Float] = {
    val cb = new Array[Float](PqM * PqK * PqDsub)
    val seeds = sample.take(PqK)
    for (mi <- 0 until PqM; ki <- seeds.indices; d <- 0 until PqDsub)
      cb(((mi * PqK) + ki) * PqDsub + d) = seeds(ki)(mi * PqDsub + d)
    for (_ <- 1 to PqLloydIters) {
      val sums = new Array[Double](PqM * PqK * PqDsub)
      val cnts = new Array[Long](PqM * PqK)
      for (v <- sample; mi <- 0 until PqM) {
        var best = 0
        var bestD = Double.MaxValue
        var ki = 0
        while (ki < PqK) {
          val base = ((mi * PqK) + ki) * PqDsub
          var d2 = 0.0
          var d = 0
          while (d < PqDsub) {
            // double-precision difference — identical arithmetic to
            // PqEncode.nullSafeEval, so training assigns exactly the
            // code the encoder will
            val diff = v(mi * PqDsub + d).toDouble - cb(base + d)
            d2 += diff * diff
            d += 1
          }
          if (d2 < bestD) { bestD = d2; best = ki }
          ki += 1
        }
        val b = ((mi * PqK) + best) * PqDsub
        var d = 0
        while (d < PqDsub) { sums(b + d) += v(mi * PqDsub + d); d += 1 }
        cnts((mi * PqK) + best) += 1
      }
      for (mi <- 0 until PqM; ki <- 0 until PqK) {
        val c = cnts((mi * PqK) + ki)
        if (c > 0) {
          val b = ((mi * PqK) + ki) * PqDsub
          var d = 0
          while (d < PqDsub) { cb(b + d) = (sums(b + d) / c).toFloat; d += 1 }
        }
      }
    }
    cb
  }

  /** §2.5 #31c — PQ ANN with exact rerank (FAISS IndexPQ shape): the
    * corpus is scanned as 8 int codes + 1 reconstructed norm instead of
    * 64 floats (32× less data read — at 100 TB the scan IS the cost;
    * in production the encoded table is materialized once and queries
    * never touch the raw vectors). Candidates ranked by asymmetric
    * inner product (full-precision query × reconstructed corpus) via
    * the bounded-heap TopK operator, then the top `PqRerank` per query
    * are reranked with exact cosine against the raw vectors — a
    * candidate-sized join, not a corpus-sized one.
    */
  def annPqTopK(s: SparkSession, dir: String): DataFrame =
    annPqTopKParams(s, dir, PqRerank)

  /** Parameterized form for the recall sweep harness. */
  private[graft] def annPqTopKParams(s: SparkSession, dir: String, rerank: Int): DataFrame =
    pqScanTopK(s, dir, pqCodebook(s, dir), rot = None, rerank)

  /** §2.5 #31e — OPQ ANN: PQ behind a learned orthogonal pre-rotation
    * (Ge et al. 2013; [[Opq]]). Identical code bytes and plan shape to
    * plain PQ — the rotation is ONE extra codegen'd matvec inside the
    * same scan projection — but on an anisotropic corpus the balanced
    * subspace spectrum multiplies effective codebook capacity. Measured
    * (RecallSweep `opq`): on the gen_sf.py --aniso corpus (20k vectors,
    * spectrum exp(-d/8) — the real-text-embedding shape) recall@5 at
    * rerank=10 is 0.24 (PQ) vs 0.92 (OPQ), and OPQ saturates at 1.00
    * from rerank=20 where plain PQ needs the full 320 pool; driver-
    * local training MSE on the same spectrum drops 0.182 → 0.013
    * (spec-asserted). On the shipped near-isotropic sf0.1 corpus the
    * two are equal at the operating point (rerank≥160 both 1.00), with
    * a mild small-pool edge for OPQ (0.50 → 0.62 at rerank=10) from
    * the cluster structure's own anisotropy.
    */
  def annOpqTopK(s: SparkSession, dir: String): DataFrame =
    annOpqTopKParams(s, dir, PqRerank)

  private[graft] def annOpqTopKParams(s: SparkSession, dir: String, rerank: Int): DataFrame = {
    val (r, cb) = opqTrained(s, dir)
    pqScanTopK(s, dir, cb, rot = Some(r), rerank)
  }

  /** Shared PQ/OPQ scan-score-rerank: encode the corpus (optionally
    * pre-rotated — OPQ), ADC-score against the broadcast query set,
    * bounded-heap top-`rerank`, exact cosine rerank on RAW vectors (the
    * rotation is orthogonal, so exact rerank needs no rotation at all).
    */
  private def pqScanTopK(s: SparkSession, dir: String, cb: Array[Float],
      rot: Option[Array[Double]], rerank: Int): DataFrame = {
    def rv(c: Column): Column = rot.map(PqOps.rotate(c, _, Dim)).getOrElse(c)
    val n = normed(s, dir)
    val enc = n.select(col("vec_id").as("neighbor_id"),
        PqOps.encode(rv(col("e")), cb, PqM, PqK, PqDsub).as("codes"))
      .withColumn("rnorm", PqOps.reconNorm(col("codes"), cb, PqM, PqK, PqDsub))
    val q = n.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("e").as("e_q"), col("nrm").as("n_q"),
        // ADC table built once per query row (see ivfPqSearch) — from
        // the ROTATED query when OPQ is on (scores live in rotated space)
        PqOps.adcTable(rv(col("e")), cb, PqM, PqK, PqDsub).as("adct"))
    val approx = broadcast(q).join(enc, col("q_id") =!= col("neighbor_id"))
      .withColumn("ascore",
        PqOps.adcLookup(col("adct"), col("codes"), PqM, PqK) /
          (col("n_q") * col("rnorm")))
    val cand = graft.plans.TopK.perKey(approx, Seq("q_id"),
      Seq(("ascore", false), ("neighbor_id", true)), rerank)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos_sim").desc, col("neighbor_id"))
    cand.join(n.select(col("vec_id").as("neighbor_id"),
        col("e").as("e_c"), col("nrm").as("n_c")), "neighbor_id")
      .withColumn("cos_sim", round(dot(col("e_q"), col("e_c")) / (col("n_q") * col("n_c")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select("q_id", "rank", "neighbor_id", "cos_sim")
      .orderBy("q_id", "rank")
  }

  /** §2.5 #31d — IVF-PQ: the composed billion-scale index (FAISS
    * IVFPQ shape). Plain PQ still scans every code; here the corpus is
    * partitioned into IVF cells AND stored compressed, so a query
    * touches only its probed cells' code lists: candidate volume =
    * probe-fraction × corpus, each candidate read as 8 codes + 1 norm.
    * Cell assignment and probing reuse the seeded-IVF machinery
    * (broadcast centroid set, fraction-scaled probe count); scoring is
    * the asymmetric PQ inner product; exact rerank touches only
    * queries × PqRerank raw vectors.
    */
  def annIvfPqTopK(s: SparkSession, dir: String): DataFrame = {
    val cb = pqCodebook(s, dir)
    val n = normed(s, dir)
    val cents = seededCentroids(s, dir)
    // encoded, cell-partitioned store: what production persists — cell
    // id AND codes both computed map-side in the scan projection
    val assigned = n
      .select(col("vec_id").as("neighbor_id"),
        CentroidOps.cell(col("e"), col("nrm"), cents).as("cell"),
        PqOps.encode(col("e"), cb, PqM, PqK, PqDsub).as("codes"))
      .withColumn("rnorm", PqOps.reconNorm(col("codes"), cb, PqM, PqK, PqDsub))
    val probes = math.max(IvfNProbe, math.ceil(cents.size * IvfProbeFraction).toInt)
    val qProbes = n.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("e").as("e_q"), col("nrm").as("n_q"),
        explode(CentroidOps.nearest(col("e"), col("nrm"), cents, probes)).as("cell"))
    ivfPqSearch(assigned, qProbes,
      n.select(col("vec_id").as("neighbor_id"), col("e").as("e_c"), col("nrm").as("n_c")), cb)
  }

  /** The IVF-PQ probe/score/rerank tail over an encoded cell-partitioned
    * store `(neighbor_id, cell, codes, rnorm)` — shared by the in-memory
    * path above and the PERSISTED index path (sources.PqIndex), so the
    * two produce identical rankings by construction.
    */
  private[graft] def ivfPqSearch(encoded: DataFrame, qProbes: DataFrame,
      raw: DataFrame, cb: Array[Float]): DataFrame = {
    // ADC split (FAISS shape): the m×k dot table builds ONCE per query
    // row on the broadcast side; per candidate the score is m array
    // lookups, not m×dsub multiplies — the candidate stream is the
    // probed corpus, so that factor is the scan-side win
    val approx = broadcast(qProbes
        .withColumn("adct", PqOps.adcTable(col("e_q"), cb, PqM, PqK, PqDsub)))
      .join(encoded, Seq("cell"))
      .filter(col("q_id") =!= col("neighbor_id"))
      .withColumn("ascore",
        PqOps.adcLookup(col("adct"), col("codes"), PqM, PqK) /
          (col("n_q") * col("rnorm")))
    val cand = graft.plans.TopK.perKey(approx, Seq("q_id"),
      Seq(("ascore", false), ("neighbor_id", true)), PqRerank)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos_sim").desc, col("neighbor_id"))
    cand.join(raw, "neighbor_id")
      .withColumn("cos_sim", round(dot(col("e_q"), col("e_c")) / (col("n_q") * col("n_c")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select("q_id", "rank", "neighbor_id", "cos_sim")
      .orderBy("q_id", "rank")
  }

  // ---- scalar quantization (SQ8) ---------------------------------------

  /** Exact-rerank pool for the SQ8 path. SQ8's surrogate is far closer
    * to the true dot than PQ's 8-byte reconstruction (64 per-dim codes
    * vs 8 subspace codes), so a much smaller pool reaches the same
    * recall — and unlike every other variant the pool's CONTENT is
    * oracle-reproducible, so its size only moves recall, not parity.
    */
  val SqRerank = 64

  /** Per-dim (scales, fixed-point weights) memo — same per-dir
    * determinism contract as [[pqCodebook]]. Training is one max-|x|
    * pass over the bounded driver-local sample: scale[d] = max|x_d|/127
    * (symmetric signed SQ8), w[d] = floor(scale[d]²·1e12 + 0.5) — the
    * integer weight [[graft.plans.SqDotW]] scores with.
    */
  private[graft] def sqTrained(s: SparkSession, dir: String): (Array[Double], Array[Long]) =
    Memo.value(s, dir, "similarity.sq") {
      val sample = trainSampleLocal(s, dir)
      val scales = Array.tabulate(Dim) { d =>
        var m = 0.0
        for (v <- sample) { val a = math.abs(v(d).toDouble); if (a > m) m = a }
        m / 127.0
      }
      val w = scales.map(sc => math.floor(sc * sc * 1e12 + 0.5).toLong)
      (scales, w)
    }

  /** §2.5 — SQ8 ANN with exact rerank (`q_ann_sq_topk`), the catalog's
    * first FULL-ORACLE accelerated search path: the corpus is scanned
    * as 64 signed bytes per vector (4× less than raw floats — the scan
    * IS the cost at 100 TB), candidates ranked by the all-integer
    * fixed-point dot `Σ codeQ·codeC·w` (exact, associative,
    * partitioning-independent — and DuckDB-reproducible, unlike the
    * float surrogates of LSH/IVF/PQ), the top [[SqRerank]] per query
    * reranked with exact cosine against raw vectors. Both stages cut on
    * integer keys (iscore, then rank), so the DuckDB oracle matches
    * cell-exactly while the sample cap keeps training O(1) in corpus
    * size (oracle valid while corpus ≤ [[TrainSampleCap]] — every
    * shipped correctness SF; sf1 via the fold slice, the
    * learned-centroid precedent).
    */
  def annSqTopK(s: SparkSession, dir: String): DataFrame = {
    val (scales, w) = sqTrained(s, dir)
    val n = normed(s, dir)
    val enc = n.select(col("vec_id").as("neighbor_id"),
      graft.plans.SqOps.encode(col("e"), scales).as("codes"))
    val q = n.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("e").as("e_q"), col("nrm").as("n_q"),
        graft.plans.SqOps.encode(col("e"), scales).as("qcodes"))
    val approx = broadcast(q).join(enc, col("q_id") =!= col("neighbor_id"))
      .withColumn("iscore", graft.plans.SqOps.dotW(col("qcodes"), col("codes"), w))
    val cand = graft.plans.TopK.perKey(approx, Seq("q_id"),
      Seq(("iscore", false), ("neighbor_id", true)), SqRerank)
    val wnd = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos_sim").desc, col("neighbor_id"))
    cand.join(n.select(col("vec_id").as("neighbor_id"),
        col("e").as("e_c"), col("nrm").as("n_c")), "neighbor_id")
      .withColumn("cos_sim", round(dot(col("e_q"), col("e_c")) / (col("n_q") * col("n_c")), 6))
      .withColumn("rank", row_number().over(wnd))
      .filter(col("rank") <= TopK)
      .select("q_id", "rank", "neighbor_id", "cos_sim")
      .orderBy("q_id", "rank")
  }

  // ---- binary quantization (BQ) -----------------------------------------

  /** Exact-rerank pool for the sign-bit path. One bit per dim is the
    * coarsest quantizer in the family (64 bits vs SQ8's 512), so the
    * surrogate needs a deeper pool than [[SqRerank]] to reach the same
    * recall — still a bounded integer cut, so pool size only moves
    * recall, never parity. The pool must scale with the corpus (the
    * live-nprobe precedent): Hamming buckets hold Θ(n) vectors each —
    * a FIXED pool is a shrinking fraction of one bucket, so recall
    * decays with n (measured: 82 at 5k vectors, 64 at 20k with a flat
    * 256). [[bqPool]] keeps it a ≥1/16 corpus fraction, floored at
    * this constant; the oracle applies the same formula via a scalar
    * count subquery.
    */
  val BqRerank = 256

  /** Rerank-pool size for an n-vector corpus: max([[BqRerank]], n/16). */
  private[graft] def bqPool(n: Long): Long = math.max(BqRerank.toLong, n / 16)

  /** Sign-bit words: dims `lo..lo+31` (1-based) folded high-to-low as
    * `acc*2 + (e[d] > 0)` into one BIGINT — pure integer construction
    * (≤ 2³², no sign-bit hazards), identical in DuckDB's list_reduce.
    */
  private def bqWord(e: Column, lo: Int): Column =
    aggregate(
      transform(sequence(lit(lo), lit(lo + 31)),
        i => when(element_at(e, i).cast("double") > lit(0.0), lit(1L))
          .otherwise(lit(0L))),
      lit(0L), (acc, x) => acc * lit(2L) + x)

  /** Encoded signature table (neighbor_id, w1, w2) — exposed for the
    * spec's local-reference word check.
    */
  private[graft] def annBqTopKEncoded(s: SparkSession, dir: String): DataFrame =
    normed(s, dir).select(col("vec_id").as("neighbor_id"),
      bqWord(col("e"), 1).as("w1"), bqWord(col("e"), 33).as("w2"))

  /** §2.5 — binary-quantized ANN with exact rerank (`q_ann_bq_topk`),
    * the FAISS `IndexBinaryFlat` / Qdrant binary-quantization shape:
    * each vector compresses to its 64 SIGN bits (two 32-bit words —
    * 16× less scan than raw floats, the most aggressive
    * scan-acceleration in the catalog), candidates ranked by Hamming
    * similarity `Dim − popcount(q ⊕ c)` — an all-integer surrogate
    * (xor + bit_count in both engines), so like SQ8 the candidate cut
    * is oracle-expressible — then the top [[BqRerank]] reranked with
    * exact cosine. Unlike every trained variant there are NO learned
    * parameters: the oracle is valid at ANY corpus size (no
    * [[TrainSampleCap]] caveat), and the encode pass is map-side
    * stateless — at 100 TB the signature table is the only full scan
    * and it is 16 bytes/vector.
    */
  def annBqTopK(s: SparkSession, dir: String): DataFrame = {
    val n = normed(s, dir)
    val pool = bqPool(n.count()).toInt
    val enc = n.select(col("vec_id").as("neighbor_id"),
      bqWord(col("e"), 1).as("w1"), bqWord(col("e"), 33).as("w2"))
    val q = n.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("e").as("e_q"), col("nrm").as("n_q"),
        bqWord(col("e"), 1).as("q1"), bqWord(col("e"), 33).as("q2"))
    val approx = broadcast(q).join(enc, col("q_id") =!= col("neighbor_id"))
      .withColumn("matches", lit(Dim.toLong)
        - bit_count(col("q1").bitwiseXOR(col("w1"))).cast("long")
        - bit_count(col("q2").bitwiseXOR(col("w2"))).cast("long"))
    val cand = graft.plans.TopK.perKey(approx, Seq("q_id"),
      Seq(("matches", false), ("neighbor_id", true)), pool)
    val wnd = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos_sim").desc, col("neighbor_id"))
    cand.join(n.select(col("vec_id").as("neighbor_id"),
        col("e").as("e_c"), col("nrm").as("n_c")), "neighbor_id")
      .withColumn("cos_sim", round(dot(col("e_q"), col("e_c")) / (col("n_q") * col("n_c")), 6))
      .withColumn("rank", row_number().over(wnd))
      .filter(col("rank") <= TopK)
      .select("q_id", "rank", "neighbor_id", "cos_sim")
      .orderBy("q_id", "rank")
  }

  // ---- oracle SQL -------------------------------------------------------

  /** Sequential-fold dot product / norm in DuckDB (list_reduce ≡ Spark's
    * aggregate fold — same order, bit-identical doubles).
    */
  private[operators] def sqlDot(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(generate_series(1, $Dim), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (acc, x) -> acc + x)"

  private val sqlNormed: String =
    s"""WITH n AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${sqlDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings)""".stripMargin

  val sqlEmbeddingDup: String =
    s"""$sqlNormed
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  round(${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6) AS cos_sim
       |FROM n a JOIN n b ON a.vec_id < b.vec_id
       |WHERE round(${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6) >= $CosineDupT
       |ORDER BY vec_a, vec_b""".stripMargin

  /** DuckDB twin of [[annFilteredTopK]] — the brute oracle with the
    * label-equality WHERE pushed into the candidate join.
    */
  val sqlAnnFilteredTopK: String =
    s"""WITH n AS (
       |  SELECT vec_id, embedding, label,
       |    sqrt(${sqlDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS q_id, q.label, c.vec_id AS neighbor_id,
       |    round(${sqlDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm), 6) AS cos_sim
       |  FROM n q JOIN n c ON q.vec_id < $NumQueries AND q.vec_id <> c.vec_id
       |    AND q.label = c.label),
       |ranked AS (
       |  SELECT q_id, label, neighbor_id, cos_sim,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT q_id, label, rank, neighbor_id, cos_sim FROM ranked
       |WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin

  /** DuckDB twin of [[hardNegatives]] — the brute oracle with the
    * label-INEQUALITY predicate (the `vec_id <> vec_id` guard is
    * subsumed: a vector shares its own label).
    */
  val sqlHardNegatives: String =
    s"""WITH n AS (
       |  SELECT vec_id, embedding, label,
       |    sqrt(${sqlDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS q_id, q.label, c.vec_id AS neighbor_id,
       |    c.label AS nb_label,
       |    round(${sqlDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm), 6) AS cos_sim
       |  FROM n q JOIN n c ON q.vec_id < $NumQueries AND q.label <> c.label),
       |ranked AS (
       |  SELECT q_id, label, neighbor_id, nb_label, cos_sim,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT q_id, label, rank, neighbor_id, nb_label, cos_sim FROM ranked
       |WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin

  /** DuckDB twin of [[knnLabelAcc]]: the row_number argmax (cos desc,
    * neighbor id asc) reproduces the max(struct(cos, -nb)) fold; both
    * engines compare the 6-dp ROUNDED cosine, so equal-score ties
    * resolve identically.
    */
  val sqlKnnLabelAcc: String =
    s"""WITH n AS (
       |  SELECT vec_id, embedding, label,
       |    sqrt(${sqlDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |sc AS (
       |  SELECT a.vec_id AS vid, a.label AS lab, b.vec_id AS nb, b.label AS nb_lab,
       |    round(${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6) AS cos_sim
       |  FROM n a JOIN n b ON a.vec_id <> b.vec_id),
       |nn AS (
       |  SELECT vid, lab, nb_lab FROM (
       |    SELECT vid, lab, nb_lab,
       |      row_number() OVER (PARTITION BY vid
       |        ORDER BY cos_sim DESC, nb) AS rn
       |    FROM sc) WHERE rn = 1)
       |SELECT lab AS label, CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(sum(CASE WHEN nb_lab = lab THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       |  floor(CAST(sum(CASE WHEN nb_lab = lab THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*) * 1e4 + 0.5) / 1e4 AS acc
       |FROM nn GROUP BY 1 ORDER BY label""".stripMargin

  /** DuckDB twin of [[annSqTopK]] — reproduces the TRAINING (per-dim
    * max-|x| over the corpus, == the sample at every shipped SF), the
    * ENCODE (the same floor-shift clamp, spelled identically), the
    * integer surrogate scoring (BIGINT exact — the `w[i]` fixed-point
    * weights make the candidate cut engine-independent), and the exact
    * cosine rerank. The only cross-engine doubles are max/abs/÷ (exact
    * or single-op IEEE) and the rerank fold (the established
    * bit-identical contract).
    */
  val sqlAnnSqTopK: String =
    s"""WITH st AS (
       |  SELECT i, max(abs(CAST(embedding[i] AS DOUBLE))) / 127.0 AS sc
       |  FROM embeddings CROSS JOIN generate_series(1, $Dim) AS g(i)
       |  GROUP BY i),
       |sl AS (
       |  SELECT list(sc ORDER BY i) AS s,
       |         list(CAST(floor(sc * sc * 1e12 + 0.5) AS BIGINT) ORDER BY i) AS w
       |  FROM st),
       |enc AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${sqlDot("embedding", "embedding")}) AS nrm,
       |    list_transform(generate_series(1, $Dim), i ->
       |      CAST(CASE WHEN s[i] = 0 THEN 0 ELSE
       |        greatest(-127, least(127,
       |          floor(CAST(embedding[i] AS DOUBLE) / s[i] + 0.5)))
       |      END AS BIGINT)) AS c
       |  FROM embeddings, sl),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
       |    q.embedding AS qe, q.nrm AS qn, c.embedding AS ce, c.nrm AS cn,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(generate_series(1, $Dim),
       |        i -> q.c[i] * c.c[i] * w[i])), (acc, x) -> acc + x) AS iscore
       |  FROM enc q JOIN enc c ON q.vec_id < $NumQueries AND q.vec_id <> c.vec_id
       |  CROSS JOIN sl),
       |cand AS (
       |  SELECT q_id, neighbor_id, qe, qn, ce, cn FROM (
       |    SELECT q_id, neighbor_id, qe, qn, ce, cn,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY iscore DESC, neighbor_id) AS crn
       |    FROM scored) WHERE crn <= $SqRerank),
       |rer AS (
       |  SELECT q_id, neighbor_id,
       |    round(${sqlDot("qe", "ce")} / (qn * cn), 6) AS cos_sim
       |  FROM cand),
       |ranked AS (
       |  SELECT q_id, neighbor_id, cos_sim,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM rer)
       |SELECT q_id, rank, neighbor_id, cos_sim FROM ranked
       |WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin

  /** DuckDB twin of [[annBqTopK]] — the sign-bit words rebuild with the
    * same high-to-low `acc*2 + bit` integer fold, the Hamming surrogate
    * is `xor` + `bit_count` (BIGINT-exact in both engines), and the
    * candidate cut + rerank ride integer keys throughout. No trained
    * parameters ⇒ the oracle is corpus-size-independent.
    */
  val sqlAnnBqTopK: String = {
    def word(lo: Int): String =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(generate_series($lo, ${lo + 31}), " +
        s"i -> CAST(CASE WHEN CAST(embedding[i] AS DOUBLE) > 0 THEN 1 ELSE 0 END AS BIGINT))), " +
        s"(acc, x) -> acc * 2 + x)"
    s"""WITH enc AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${sqlDot("embedding", "embedding")}) AS nrm,
       |    ${word(1)} AS w1,
       |    ${word(33)} AS w2
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
       |    q.embedding AS qe, q.nrm AS qn, c.embedding AS ce, c.nrm AS cn,
       |    CAST($Dim AS BIGINT) - bit_count(xor(q.w1, c.w1))
       |      - bit_count(xor(q.w2, c.w2)) AS matches
       |  FROM enc q JOIN enc c ON q.vec_id < $NumQueries AND q.vec_id <> c.vec_id),
       |cand AS (
       |  SELECT q_id, neighbor_id, qe, qn, ce, cn FROM (
       |    SELECT q_id, neighbor_id, qe, qn, ce, cn,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY matches DESC, neighbor_id) AS crn
       |    FROM scored)
       |  WHERE crn <= (SELECT greatest(CAST($BqRerank AS BIGINT),
       |    CAST(count(*) AS BIGINT) // 16) FROM embeddings)),
       |rer AS (
       |  SELECT q_id, neighbor_id,
       |    round(${sqlDot("qe", "ce")} / (qn * cn), 6) AS cos_sim
       |  FROM cand),
       |ranked AS (
       |  SELECT q_id, neighbor_id, cos_sim,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM rer)
       |SELECT q_id, rank, neighbor_id, cos_sim FROM ranked
       |WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin
  }

  val sqlAnnBruteTopK: String =
    s"""$sqlNormed,
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
       |    round(${sqlDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm), 6) AS cos_sim
       |  FROM n q JOIN n c ON q.vec_id < $NumQueries AND q.vec_id <> c.vec_id),
       |ranked AS (
       |  SELECT q_id, neighbor_id, cos_sim,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT q_id, rank, neighbor_id, cos_sim FROM ranked
       |WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin

  /** DuckDB twin of [[semanticDedup]]. The stride/centroid selection
    * mirrors seededCentroids (max(IvfCentroidMod, round(√n)) — Scala
    * math.round and DuckDB round agree on positives), and the argmin
    * assignment compares UNROUNDED scores: both engines compute the
    * identical sequential-fold dot, so the doubles — and therefore the
    * argmin — are bit-identical; `ORDER BY score DESC, cid` reproduces
    * NearestCentroids' strict-improvement insertion (lowest id wins
    * ties).
    */
  val sqlSemanticDedup: String =
    s"""$sqlNormed,
       |str AS (SELECT greatest($IvfCentroidMod,
       |          CAST(round(sqrt(CAST(count(*) AS DOUBLE)), 0) AS BIGINT)) AS stride FROM n),
       |c AS (SELECT vec_id AS cid, embedding AS ce, nrm AS cnrm FROM n, str
       |      WHERE vec_id % stride = 3 % stride),
       |asg AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT n.vec_id, CAST(c.cid AS INTEGER) AS cell,
       |      row_number() OVER (PARTITION BY n.vec_id
       |        ORDER BY ${sqlDot("n.embedding", "c.ce")} / (n.nrm * c.cnrm) DESC, c.cid) AS rn
       |    FROM n CROSS JOIN c) WHERE rn = 1),
       |rm AS (
       |  SELECT DISTINCT y.vec_id
       |  FROM asg x JOIN asg y ON x.cell = y.cell AND x.vec_id < y.vec_id
       |  JOIN n nx ON nx.vec_id = x.vec_id JOIN n ny ON ny.vec_id = y.vec_id
       |  WHERE round(${sqlDot("nx.embedding", "ny.embedding")} / (nx.nrm * ny.nrm), 6)
       |    >= $CosineDupT)
       |SELECT a.vec_id, a.cell, rm.vec_id IS NULL AS keep
       |FROM asg a LEFT JOIN rm ON rm.vec_id = a.vec_id
       |ORDER BY a.vec_id""".stripMargin
}
