package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._
import graft.plans.ArrayOps

/** Deduplication operators for the documents corpus (SURVEY §2.4).
  *
  * Candidate generation is always an equi-join on derived bucket keys
  * (shared shingle / minhash band / simhash byte-band) — shuffles are
  * O(candidates), never a blind O(n²) cross join, which is the property
  * that survives a 100 TB corpus. Verification then computes the exact
  * metric on the candidate pairs only.
  *
  * Every hash is engine-portable (see TextFunctions.charFoldHash), and
  * the DuckDB oracle SQL is *generated from the same constants* below —
  * single source of truth, bit-identical signatures in both engines.
  */
object Dedup {

  val P: Long = HashP
  val ShingleN = 3

  /** MinHash: k=16 universal-hash permutations in 4 bands × 4 rows. */
  val MinhashA: Seq[Long] = Seq(
    1203114533L, 1150766481L, 666131619L, 1627628529L,
    425962821L, 1042741207L, 1619913143L, 878525955L,
    783681013L, 1312723743L, 481799389L, 1225406611L,
    563783579L, 1634257343L, 985663049L, 1723734179L)
  val MinhashB: Seq[Long] = Seq(
    554564755L, 1024061403L, 130537167L, 415977677L,
    843255995L, 1769823757L, 480062011L, 1422707987L,
    1661763179L, 279103603L, 1595419415L, 767131861L,
    1871831303L, 141955041L, 1077173999L, 663399859L)
  val Bands = 4
  val R = 4
  val MinhashJaccardT = 0.5

  val JaccardT = 0.6
  val SimhashBits = 64
  val SimhashBands = 4
  val SimhashBandBits = 16
  val HammingMax = 3
  /** Remix constants for the high 32 simhash bits. A single remix mod
    * p ≈ 2^30 would leave its bits 30-31 constant (p < 2^32), so the
    * high half is built from TWO independent 16-bit remixes instead:
    * bits 32-47 vote from the low 16 bits of h2 = (a2·h+b2) mod p and
    * bits 48-63 from the low 16 bits of h3 = (a3·h+b3) mod p — every
    * 16-bit band now carries 16 effective bits (a full 65,536 buckets).
    * a·p stays well under 2^63, so the arithmetic is overflow-free in
    * both engines.
    */
  val SimhashA2 = 1103515245L
  val SimhashB2 = 12345L
  val SimhashA3 = 214013L
  val SimhashB3 = 2531011L

  /** §2.4 #24 — exact dedup: content-hash groups with representative =
    * min doc_id (one shuffle on the hash key; map-side partial agg).
    */
  def exact(s: SparkSession, dir: String): DataFrame =
    Tables.documentsSpread(s, dir)
      .groupBy(md5(col("text").cast("binary")).as("content_md5"))
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("rep_id"))
      .orderBy("content_md5")

  /** Documents with their distinct shingle-hash sets (shared scan shape
    * for the jaccard and minhash paths). Persisted MEMORY_AND_DISK: the
    * frame feeds 4-5 plan branches (candidate join x/y, hot-shingle df,
    * set sizes, minhash sigs) and the shingle computation is the
    * dominant per-row cost — caching the derived frame (same row count
    * as the input, hash arrays instead of text) trades bounded storage
    * for recomputing it per branch.
    *
    * Lifecycle: a [[graft.plans.Memo.shared]] frame — held across the
    * dedup query family within a session, released with
    * [[graft.plans.Memo.release]] (Verify/Bench do so after their loop).
    */
  private def shingled(s: SparkSession, dir: String): DataFrame =
    graft.plans.Memo.shared(s, dir, "dedup.shingled") {
      Tables.documentsSpread(s, dir)
        .select(col("doc_id"), shingleHashes(col("text"), ShingleN).as("sh"))
        .filter(size(col("sh")) > 0)
    }

  /** Materialize the session-persisted dedup pair pipeline (shingle
    * frame, co-occurrence verify, MinHash + n-gram verified pairs) so
    * Bench can attribute the shared build to a `shared_` pseudo-entry
    * instead of whichever consumer query happens to run first.
    */
  private[graft] def warmSharedCaches(s: SparkSession, dir: String): Unit = {
    minhashPairs(s, dir).count()
    ngramPairs(s, dir).count()
  }

  private def jaccard(interCol: Column, na: Column, nb: Column): Column =
    interCol.cast("double") / (na + nb - interCol)

  /** §2.4 #25 — n-gram Jaccard near-dup: candidates = pairs sharing ≥1
    * shingle (exact-complete for J ≥ τ > 0), verified on the distinct
    * shingle sets. Shuffle key = shingle hash.
    */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    ngramPairs(s, dir).orderBy("doc_a", "doc_b")

  /** Session-persisted verified n-gram Jaccard pair frame (unordered) —
    * consumed by `q_dedup_ngram_jaccard` AND the cluster contraction
    * (`q_dedup_clusters` reads the edge list repeatedly across rounds);
    * the co-occurrence verify is the most expensive dedup stage and
    * must not re-run per consumer (the minhashPairs rationale). Sparse
    * output, the post-shuffle-small persist class.
    */
  private[graft] def ngramPairs(s: SparkSession, dir: String): DataFrame =
    graft.plans.Memo.shared(s, dir, "dedup.ngramPairs") {
      jaccardAtLeast(shingled(s, dir), coocCached(s, dir), JaccardT)
    }

  /** Stop-shingle cap: a shingle present in more than this many
    * documents ("of the data", boilerplate headers) contributes
    * Θ(df²) rows to the co-occurrence join while carrying no
    * discriminative signal — the classic quadratic hot bucket at
    * corpus scale. Shingles above the cap are dropped from candidate
    * generation AND intersection evidence (the standard stop-shingle
    * filter; ubiquitous shingles shouldn't vouch for similarity).
    * 1000 ≫ the max observed df at every test SF (25 at sf0.1), so the
    * answer is unchanged at test scale; the DuckDB oracle applies the
    * same cap from this constant.
    */
  val MaxShingleDf = 1000L

  /** The stop-shingle set: hashes in more than `maxDf` of `docs`' sets.
    * It is the tail above the cap — tiny, so AQE broadcasts it and an
    * anti-join against it rides the explode it filters.
    */
  private def hotShingles(docs: DataFrame, maxDf: Long): DataFrame =
    docs.select(explode(col("sh")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("h")

  /** Exploded (doc_id, shingle-hash) postings without the
    * [[hotShingles]].
    */
  private def cappedPostings(docs: DataFrame, maxDf: Long): DataFrame =
    docs.select(col("doc_id"), explode(col("sh")).as("h"))
      .join(hotShingles(docs, maxDf), Seq("h"), "left_anti")

  /** (doc_a, doc_b, inter) for every unordered pair sharing ≥1 uncapped
    * shingle — |A ∩ B| as a count over the capped postings equi-join, no
    * pair-array materialization, pure shuffle/agg (the shape that
    * survives 100 TB). Pairs sharing zero shingles have J = 0 and can
    * never clear a positive threshold, so the inner join is lossless.
    */
  private def coocPairs(docs: DataFrame, maxDf: Long): DataFrame = {
    // Pin the postings exchange to the configured shuffle parallelism
    // (explicit numPartitions disables AQE coalescing for this
    // exchange): the postings are SMALL IN BYTES, so AQE's byte-sized
    // advisory target would legally coalesce them to one partition —
    // but this join FANS OUT ~df× per row and partial-aggregates a
    // pair-key hash map, so per-task cost scales with pairs, not input
    // bytes. Measured at sf1 (4.3M postings ≈ 70 MB): AQE coalesced to
    // a single task that burned 10+ CPU-minutes on ~35M joined rows;
    // pinned at 32 the same work rides 32 tasks. Both self-join sides
    // read the ONE pinned exchange (ReusedExchange, co-partitioned).
    val n = docs.sparkSession.sessionState.conf.numShufflePartitions
    val ex = cappedPostings(docs, maxDf).repartition(n, col("h"))
    ex.as("x").join(ex.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
  }

  /** Session-persisted co-occurrence frame at the standard cap — the
    * all-pairs postings self-join, computed once for its two all-pairs
    * consumers (the n-gram verify and containment). Candidate-pair-sized
    * (bounded by Σ df² over capped shingles — the stop-shingle cap is
    * what makes this a persistable size at all). The LSH paths never
    * read it: they verify their candidates in place
    * ([[verifyCandidates]]).
    */
  private def coocCached(s: SparkSession, dir: String): DataFrame =
    graft.plans.Memo.shared(s, dir, "dedup.cooc") {
      coocPairs(shingled(s, dir), MaxShingleDf)
    }

  /** (doc_a, doc_b, …) pairs with each side's full set size as
    * sz_a / sz_b (sizes count capped shingles too, as in the oracle).
    */
  private def withSizes(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val sizes = docs.select(col("doc_id"), size(col("sh")).as("sz"))
    pairs
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
  }

  /** The shared verify tail: (doc_a, doc_b, inter) → the pairs at
    * Jaccard ≥ `threshold` against `docs`' set sizes, with the rounded
    * Jaccard.
    */
  private def jaccardAtLeast(docs: DataFrame, pairs: DataFrame, threshold: Double): DataFrame =
    withSizes(docs, pairs)
      .withColumn("jaccard", round(jaccard(col("inter"), col("sz_a"), col("sz_b")), 4))
      .filter(jaccard(col("inter"), col("sz_a"), col("sz_b")) >= threshold)
      .select("doc_a", "doc_b", "jaccard")

  /** Every pair sharing ≥1 shingle below `maxDf`, verified at
    * `threshold` from the co-occurrence counts.
    */
  private[graft] def verifyByCooccurrence(docs: DataFrame, threshold: Double,
                                          maxDf: Long = MaxShingleDf): DataFrame =
    jaccardAtLeast(docs, coocPairs(docs, maxDf), threshold).orderBy("doc_a", "doc_b")

  /** Verify candidate pairs in place (filter-and-refine): each pair of
    * the distinct (doc_a, doc_b) frame `cand` fetches its two shingle
    * sets (two doc_id equi-joins) and counts
    * |capped(sh_a) ∩ capped(sh_b)| — the explode of `array_intersect`
    * minus the [[hotShingles]] — so the work is O(candidates), never the
    * all-pairs co-occurrence frame. The count equals the co-occurrence
    * join's `inter` for the same pair, and a candidate sharing no
    * uncapped shingle drops (as it does from that inner join).
    */
  private[graft] def verifyCandidates(docs: DataFrame, cand: DataFrame, threshold: Double,
                                      maxDf: Long = MaxShingleDf): DataFrame = {
    val side = (p: String) => docs.select(col("doc_id").as(s"doc_$p"), col("sh").as(s"sh_$p"))
    val inter = cand.join(side("a"), "doc_a").join(side("b"), "doc_b")
      .select(col("doc_a"), col("doc_b"), explode(array_intersect(col("sh_a"), col("sh_b"))).as("h"))
      .join(hotShingles(docs, maxDf), Seq("h"), "left_anti")
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    jaccardAtLeast(docs, inter, threshold)
  }

  /** §2.4 #26 — MinHash+LSH near-dup: k minhashes → b bands → band-bucket
    * equi-join → exact-Jaccard verification of candidates.
    */
  /** (doc_id, band_id, key) LSH band buckets: one fused pass over each
    * shingle set (codegen'd MinHashSig) instead of k separate
    * array_min(transform(...)) HOF evaluations, bands concatenated into
    * string bucket keys.
    */
  private def bandedSigs(docs: DataFrame): DataFrame = {
    val sigs = docs.withColumn("mh", ArrayOps.minhashSig(col("sh"), MinhashA, MinhashB, P))
    val bandKeys = (0 until Bands).map { bi =>
      concat_ws(":", (bi * R until bi * R + R).map(j => col("mh").getItem(j)): _*)
    }
    sigs.select(col("doc_id"), posexplode(array(bandKeys: _*)).as(Seq("band_id", "key")))
  }

  /** Default `hotBucketCap` / `sampleMod` of [[saltedBandSelfJoin]]. */
  private val HotBucketCap = 256L
  private val HotSampleMod = 16L

  /** Skew-bounded band-bucket self-join: candidate pairs
    * (doc_a < doc_b) from `banded` (doc_id, band_id, <key>, [payload])
    * with hot buckets enumerated as a salt TRIANGLE, in ONE exchange.
    *
    * A bucket of m > cap docs splits into S = ⌈m̂/cap⌉ deterministic
    * salt slices (`pmod(hash(doc_id), S)`, m̂ the sampled estimate);
    * each unordered slice pair (i ≤ j) meets in its own join cell
    * keyed (band, key, i, j), so the m² inherent pair work rides
    * S(S+1)/2 cells of bounded pairs instead of the one task owning
    * the key. Cold buckets take S = 1, whose only cell (0, 0) IS the
    * plain bucket pairing — no hot/cold plan branch. AQE's skew
    * splitter cannot deliver this: OptimizeSkewedJoin only splits
    * ENSURE_REQUIREMENTS shuffles and detects skew by partition
    * BYTES, while a hot bucket is tiny-input / quadratic-output.
    *
    * Plan shape — GROUP-AND-ENUMERATE, deliberately not a self-join:
    * each row explodes its cell copies (as x the cells (salt,
    * j ≥ salt), as y the cells (i < salt, salt), derived
    * arithmetically from ONE exploded index — no lambda HOFs), the
    * cells aggregate each role into a bounded array behind ONE pinned
    * exchange, and two codegen'd explodes enumerate the x × y cross
    * product. A self-join formulation re-evaluates the whole upstream
    * signature pass per side: ReuseExchange cannot dedupe aliased
    * subtrees that contain the hot-detection AGGREGATE (the r7
    * landmine — measured here as simhash at 6× cpu / 4 scans), and at
    * small stats estimates Catalyst even broadcasts the corpus×bands
    * frame. With the single-lineage shape the signature pass runs
    * once, plus the 1-in-`sampleMod` detection pass.
    *
    * The DIAGONAL cell (salt, salt) needs both roles of the same
    * slice, but shipping an x-copy AND a y-copy per row doubled the
    * exchange for cold buckets — the overwhelmingly common case,
    * where nslice = 1 and the diagonal is the only cell (measured
    * ~10% of shared_dedup_pairs, r16). Instead each row ships exactly
    * `nslice` copies (x-role for cells (salt, j ≥ salt), y-role for
    * (i < salt, salt)) and the enumeration reads the diagonal cell's
    * y-side from its OWN x-array — a cold row crosses the pinned
    * exchange once, like the plain join it degenerates to.
    *
    * The emitted pair set is EXACTLY the plain bucket self-join's: in
    * a cell i < j the x-array (slice i) and y-array (slice j) are
    * disjoint, so every cross pair emits once (ordered via
    * least/greatest, payloads swapped alongside); i == j enumerates
    * xs × xs under the doc_x < doc_y guard; a pair's two salt slices
    * (u, v) meet in exactly the one cell (min(u,v), max(u,v)). The
    * per-cell arrays are bounded by the salt geometry (≈ cap rows per
    * role), so the collect_list state is bounded by construction —
    * the exchange is pinned (see coocPairs) because the enumeration
    * fans out quadratically from byte-tiny grouped input.
    *
    * `hotBucketCap` is the docs per (band, key) bucket above which the
    * band self-join salts. Uniform-hash buckets hold a handful of docs
    * at any corpus size (65,536+ key values per band), so the cap only
    * engages on a genuinely hot key — a template flood or mirror set
    * collapsing a visible corpus fraction into ONE band signature,
    * where the plain self-join computes the bucket's Θ(m²) pair fan-out
    * in the single task owning the key. 256² pairs per task cell is
    * comfortably inside a task's budget. The skew spec lowers it to
    * engage the salted path on a small planted fixture.
    *
    * Hot-bucket detection samples 1 doc in `sampleMod` (deterministic
    * `pmod(hash(doc_id), mod) === 0`), so the sizes pass costs ~1/mod
    * of a signature evaluation — the first salted-join cut measured
    * the EXACT sizes agg as a full extra upstream pass (simhash paid
    * a whole tokenHashes+simhash64 corpus scan just to count
    * buckets). Estimated size = mod × sampled count; a bucket is
    * treated hot at estimate > cap/2 (the halved bar absorbs sample
    * noise — a marginal bucket gets nslice 1-2, which the unified
    * triangle handles as the plain join, so a false positive costs
    * one duplicate row copy and a false negative is only possible for
    * buckets near the cap, never for the runaway key the salt
    * exists for). Correctness never depends on WHICH buckets are
    * flagged: the triangle emits the identical pair set at any
    * nslice. Specs pass 1 for exact, deterministic engagement.
    */
  private[graft] def saltedBandSelfJoin(s: SparkSession, banded0: DataFrame,
                                        keyCol: String,
                                        payload: Option[String],
                                        hotBucketCap: Long = HotBucketCap,
                                        sampleMod: Long = HotSampleMod): DataFrame = {
    val nPart = s.sessionState.conf.numShufflePartitions
    val pay = payload.toSeq
    val sampled =
      if (sampleMod <= 1L) banded0
      else banded0.filter(pmod(hash(col("doc_id")), lit(sampleMod)) === 0)
    val hotKeys = sampled.groupBy("band_id", keyCol)
      .agg((count(lit(1)) * sampleMod).as("est"))
      .filter(col("est") > hotBucketCap / 2)
    val sized = banded0.join(broadcast(hotKeys), Seq("band_id", keyCol), "left")
      .withColumn("nslice", greatest(lit(1L),
        ceil(coalesce(col("est"), lit(0L)).cast("double") /
          lit(hotBucketCap.toDouble))).cast("int"))
      .withColumn("salt", pmod(hash(col("doc_id")), col("nslice")))
    // one exploded index k ∈ [0, nslice−1] covers both roles:
    // k < nslice−salt ⇒ x-copy in cell (salt, salt+k) (k = 0 is the
    // diagonal — no separate y-copy; the enumeration reads the
    // diagonal's y-side from xs); else y-copy in cell
    // (k−(nslice−salt), salt), i ∈ [0, salt−1]. Both ranges ascend by
    // construction (salt < nslice) — the descending-sequence trap
    // can't fire, and nslice ≥ 1 keeps the sequence non-empty.
    val nx = col("nslice") - col("salt") // x-copies per row
    val isX = col("k") < nx
    val rowStruct = struct(col("doc_id").as("d") +: pay.map(col): _*)
    val cells = sized
      .select(Seq(col("band_id"), col(keyCol), col("doc_id"), col("nslice"),
        col("salt")) ++ pay.map(col) :+
        explode(sequence(lit(0), col("nslice") - 1)).as("k"): _*)
      .select(col("band_id"), col(keyCol),
        when(isX, col("salt")).otherwise(col("k") - nx).as("ci"),
        when(isX, col("salt") + col("k")).otherwise(col("salt")).as("cj"),
        when(isX, rowStruct).as("xr"), when(!isX, rowStruct).as("yr"))
      .repartition(nPart, col("band_id"), col(keyCol), col("ci"), col("cj"))
      .groupBy(col("band_id"), col(keyCol), col("ci"), col("cj"))
      .agg(collect_list(col("xr")).as("xs"), collect_list(col("yr")).as("ys"))
    val xd = col("xe.d")
    val yd = col("ye.d")
    cells
      .select(col("ci"), col("cj"),
        when(col("ci") === col("cj"), col("xs")).otherwise(col("ys")).as("ys"),
        explode(col("xs")).as("xe"))
      .select(col("ci"), col("cj"), col("xe"), explode(col("ys")).as("ye"))
      .filter(when(col("ci") === col("cj"), xd < yd).otherwise(xd =!= yd))
      .select(Seq(least(xd, yd).as("doc_a"), greatest(xd, yd).as("doc_b")) ++
        pay.flatMap { p =>
          Seq(when(xd < yd, col(s"xe.$p")).otherwise(col(s"ye.$p")).as(s"${p}_a"),
            when(xd < yd, col(s"ye.$p")).otherwise(col(s"xe.$p")).as(s"${p}_b"))
        }: _*)
  }

  /** `hotBucketCap`/`sampleMod` are [[saltedBandSelfJoin]]'s; the pair
    * frame is memoized per (session, dir, caps).
    */
  def minhashLsh(s: SparkSession, dir: String, hotBucketCap: Long = HotBucketCap,
                 sampleMod: Long = HotSampleMod): DataFrame =
    minhashPairs(s, dir, hotBucketCap, sampleMod).orderBy("doc_a", "doc_b")

  /** Session-persisted verified minhash pair frame (unordered): the
    * band join + candidate verify ([[verifyCandidates]]: each candidate's
    * capped intersection from its own two shingle sets, never the
    * all-pairs co-occurrence frame) is shuffled work that must not
    * re-run across the queries that consume the pair list
    * (`q_dedup_minhash`, `q_dup_matrix` — measured 18 CPU-s of
    * re-verification without the persist). The frame is SPARSE (near-
    * dup pairs only) — post-shuffle small, the kl_drift persist class.
    * Both caps are in the frame name: a frame built with other caps is
    * never served in its place.
    */
  private def minhashPairs(s: SparkSession, dir: String, hotBucketCap: Long = HotBucketCap,
                           sampleMod: Long = HotSampleMod): DataFrame =
    graft.plans.Memo.shared(s, dir,
        s"dedup.minhashPairs.cap$hotBucketCap.mod$sampleMod") {
      val docs = shingled(s, dir)
      // skew-bounded band-bucket self-join (r16): the pinned exchange +
      // salt triangle for hot keys live in [[saltedBandSelfJoin]]
      val cand = saltedBandSelfJoin(s, bandedSigs(docs), "key", None, hotBucketCap, sampleMod)
        .distinct()
      verifyCandidates(docs, cand, MinhashJaccardT)
    }

  /** Cross-source duplication matrix (`q_dup_matrix`): the verified
    * MinHash near-dup pairs rolled up to (source, source) counts —
    * mirror-site and syndication detection (a hot off-diagonal cell
    * means two "different" sources are republishing each other; a hot
    * diagonal cell is a template-heavy source), and the table a
    * curation pass reads to decide which source pair deserves a
    * cross-source dedup sweep.
    *
    * Shape: the pair list rides the session-persisted shingle cache
    * (the q_dedup_minhash machinery end-to-end — band join, capped
    * candidate verify); attributing sources is two doc_id
    * equi-joins of the SPARSE pair frame against the column-pruned
    * documents scan, left to AQE (pair volume grows with the corpus
    * dup rate — force-broadcast is unbounded; the tf⋈df precedent),
    * then a dim²-bounded rollup.
    */
  def dupMatrix(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.documentsSpread(s, dir).select(col("doc_id"), col("source"))
    minhashPairs(s, dir).select("doc_a", "doc_b")
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")), Seq("doc_b"))
      .select(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_a", "source_b")
  }

  val ContainT = 0.8

  /** §2.1b — near-superset detection via shingle CONTAINMENT
    * C(inner → outer) = |inner ∩ outer| / |inner|: the asymmetric
    * metric that catches quote inclusion and boilerplate-wrapped copies,
    * which symmetric Jaccard misses whenever the container is much
    * larger. Same distributed shape as the Jaccard path — candidate
    * pairs from the capped co-occurrence join, one intersection count
    * per pair, then BOTH orientations emitted and thresholded (a pair
    * can qualify in one direction only).
    */
  def containment(s: SparkSession, dir: String): DataFrame =
    withSizes(shingled(s, dir), coocCached(s, dir))
      .select(explode(array(
        struct(col("doc_a").as("doc_inner"), col("doc_b").as("doc_outer"),
          (col("inter").cast("double") / col("sz_a")).as("c")),
        struct(col("doc_b").as("doc_inner"), col("doc_a").as("doc_outer"),
          (col("inter").cast("double") / col("sz_b")).as("c")))).as("o"))
      .select(col("o.doc_inner").as("doc_inner"), col("o.doc_outer").as("doc_outer"),
        col("o.c").as("c"))
      .filter(col("c") >= ContainT)
      .withColumn("containment", round(col("c"), 4))
      .select("doc_inner", "doc_outer", "containment")
      .orderBy("doc_inner", "doc_outer")

  /** Batch side of the incremental dedup split: doc_id ≡ 0 (mod 10)
    * stands in for "the arriving batch"; the rest is the standing
    * corpus.
    */
  /** Coprime with the generator's planted-duplicate offsets (multiples
    * of 10 at every SF): with a mod-10 batch both members of a planted
    * pair always share residue and the batch⋈corpus slice is vacuously
    * empty; mod 7 makes pairs straddle the boundary at all SFs.
    */
  val IncrementalBatchMod = 7L

  /** §2.1b — INCREMENTAL near-dup detection: the production dedup shape.
    * A full corpus self-join is a one-time backfill; day-to-day, a new
    * batch arrives and only batch×corpus (plus batch×batch, covered by
    * the standard path on the batch alone) candidates matter — the
    * candidate join is banded-batch ⋈ banded-corpus, never
    * corpus ⋈ corpus, so daily cost is O(batch × collision rate)
    * regardless of how large the standing corpus has grown. Verification
    * is the minhash candidate verify ([[verifyCandidates]]) on the
    * (doc_new, doc_corpus) candidates alone — O(batch × collision rate)
    * too, no batch×corpus postings join.
    */
  def incremental(s: SparkSession, dir: String): DataFrame = {
    val docs = shingled(s, dir)
    val isBatch = (c: Column) => pmod(c, lit(IncrementalBatchMod)) === 0
    val nPart = s.sessionState.conf.numShufflePartitions
    // pinned exchange (see coocPairs): the band fan-out join reads one
    // explicit-N shuffle; the batch/corpus filters preserve the
    // partitioning, so the join is co-partitioned with no extra
    // exchange and AQE cannot coalesce the fan-out to one task
    val banded = bandedSigs(docs).repartition(nPart, col("band_id"), col("key"))
    val cand = banded.filter(isBatch(col("doc_id"))).as("x")
      .join(banded.filter(!isBatch(col("doc_id"))).as("y"),
        col("x.band_id") === col("y.band_id") && col("x.key") === col("y.key"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    verifyCandidates(docs, cand, MinhashJaccardT)
      .select(col("doc_a").as("doc_new"), col("doc_b").as("doc_corpus"), col("jaccard"))
      .orderBy("doc_new", "doc_corpus")
  }

  /** §2.4 #27 — SimHash near-dup: 64-bit signature from token hashes
    * (with multiplicity), 4×16-bit pigeonhole bands (complete for
    * hamming ≤ 3), `bit_count(xor)` verification. 16-bit bands give
    * 65,536 buckets per band, so the band self-join is Θ(n²/65536)
    * candidate pairs — the 32-bit/8-bit-band version capped at 256
    * buckets, a quadratic hot spot at corpus scale. `hotBucketCap` and
    * `sampleMod` are [[saltedBandSelfJoin]]'s.
    */
  def simhash(s: SparkSession, dir: String, hotBucketCap: Long = HotBucketCap,
              sampleMod: Long = HotSampleMod): DataFrame = {
    val docs = Tables.documentsSpread(s, dir)
      .select(col("doc_id"), tokenHashes(col("text")).as("th"))
      .filter(size(col("th")) > 0)
    val sigs = docs.select(col("doc_id"),
      ArrayOps.simhash64(col("th"), SimhashA2, SimhashB2, SimhashA3, SimhashB3, P).as("sim"))
    val banded = sigs.select(col("doc_id"), col("sim"),
      posexplode(array((0 until SimhashBands).map(k =>
        shiftright(col("sim"), SimhashBandBits * k)
          .bitwiseAND(lit((1L << SimhashBandBits) - 1))): _*)).as(Seq("band_id", "byte")))
    // skew-bounded band self-join (r16): pinned exchange + hot-key salt
    // triangle (an identical-doc flood collapses into ONE byte bucket
    // exactly like a minhash band key) — see [[saltedBandSelfJoin]];
    // the sim payload rides the pair, swapped alongside least/greatest
    saltedBandSelfJoin(s, banded, "byte", Some("sim"), hotBucketCap, sampleMod)
      .distinct()
      .withColumn("hamming", expr("bit_count(sim_a ^ sim_b)").cast("int"))
      .filter(col("hamming") <= HammingMax)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  /** Span-dedup gram size: 5-token grams, matching the decontamination
    * gram — the smallest span worth locating.
    */
  val SpanGramN = 5

  /** A gram is "duplicated" when it occurs at least this many times in
    * the whole corpus (across documents or repeated within one — both
    * are verbatim repetition a span-level dedup pass would cut).
    */
  val SpanMinCount = 2L

  /** §2.4 span-level dedup (the suffix-array substring-dedup shape of
    * "Deduplicating Training Data Makes Language Models Better",
    * Lee et al. 2022, re-expressed relationally): find every MAXIMAL
    * token span covered by corpus-duplicated 5-grams. Doc-level dedup
    * misses boilerplate embedded in otherwise-unique pages; this
    * locates the duplicated region itself, so a cleaning pass can cut
    * the span and keep the document.
    *
    * Shape: positional gram hashes are a map-side codegen'd expression
    * (WordShingleHashesPos) riding the scan; the corpus-frequency gate
    * is a partial-combined count aggregate (the exchange carries
    * per-partition combined counts — vocabulary-sized, skew-FREE by
    * construction) followed by a semi-join of the postings against the
    * duplicated-gram set; island-merging the surviving positions is a
    * per-doc window. Θ(tokens) rows total — the distributed analogue
    * of the suffix array's global sort.
    *
    * Why agg+semi-join and not one count-over-hash window (which would
    * save the small counts exchange): a boilerplate gram at corpus
    * scale ("all rights reserved …" × 10⁹) sends its ENTIRE postings
    * list to a single window partition, and AQE cannot split a window —
    * a guaranteed straggler. The same hot key inside a shuffled
    * semi-join is 1:1 (each position matches at most one build row) and
    * OptimizeSkewedJoin splits the oversized stream-side partition
    * (LeftSemi is split-safe). The gram fold is computed twice (once
    * per branch); that is deliberate — persisting a corpus-sized
    * positions frame at 100 TB would trade cheap codegen'd CPU for
    * storage pressure. (SpanSkewSpec plants the hot gram and pins the
    * skew-free counts exchange + splittable join shape.)
    */
  def spanDedup(s: SparkSession, dir: String): DataFrame =
    spans(s, dir).orderBy("doc_id", "span_start")

  /** The [[spanDedup]] spans, unsorted — what [[spanScrub]] cuts. */
  private def spans(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pos = Tables.documentsSpread(s, dir)
      .select(col("doc_id"),
        posexplode(ArrayOps.wordShingleHashesPos(tokens(col("text")), SpanGramN, P))
          .as(Seq("pos", "h")))
    val dup = pos.groupBy("h").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= SpanMinCount).select("h")
    val hits = pos.join(dup, Seq("h"), "left_semi").select("doc_id", "pos")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    hits
      .withColumn("prev_end",
        max(col("pos") + lit(SpanGramN)).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("prev_end").isNull || col("pos") > col("prev_end"), 1L).otherwise(0L))
      .withColumn("island", sum("brk").over(w))
      .groupBy("doc_id", "island")
      .agg(min("pos").cast("int").as("span_start"),
        (max("pos") + lit(SpanGramN)).cast("int").as("span_end"),
        count(lit(1)).as("dup_grams"))
      .select("doc_id", "span_start", "span_end", "dup_grams")
  }

  /** Span-level SCRUB (`q_span_scrub`): [[spanDedup]] locates the
    * corpus-duplicated spans; this CUTS them — per affected document,
    * the token stream with every duplicated span removed (the
    * cleaning ACTION of substring dedup: the page survives with its
    * unique content instead of being dropped whole). Output: affected
    * docs only, original/kept token counts + the scrubbed stream.
    *
    * Scale shape: the span frame is sparse (hits only) and aggregates
    * per doc into a bounded list (disjoint islands); the join back to
    * the documents scan is left to AQE — the tf⋈df argument: span
    * lists grow with the corpus, so force-broadcast is unbounded. The
    * cut itself is a map-side indexed `filter` HOF against the
    * per-doc span list — no second corpus shuffle.
    */
  def spanScrub(s: SparkSession, dir: String): DataFrame = {
    val perDoc = spans(s, dir)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    val toks = tokens(col("text"))
    val kept = filter(toks, (_, i) =>
      !exists(col("spans"), sp => i >= sp("span_start") && i < sp("span_end")))
    Tables.documentsSpread(s, dir)
      .join(perDoc, Seq("doc_id"))
      .select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(kept).cast("long").as("n_kept"),
        array_join(kept, " ").as("scrubbed"))
      .orderBy("doc_id")
  }

  // ---- oracle SQL generation (same constants as above) ------------------

  /** DuckDB charFoldHash of a string expression. */
  private def sqlCharFold(e: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($e, ''), c -> CAST(ascii(c) AS BIGINT))), " +
      s"(a, c) -> (a * 31 + c) % $P)"

  /** Shared WITH-prefix: documents → distinct shingle-hash sets. */
  private val sqlShingled: String =
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
       |  FROM documents),
       |sgl AS (
       |  SELECT doc_id,
       |    CASE WHEN len(t) >= $ShingleN
       |      THEN list_distinct(list_transform(generate_series(1, len(t) - ${ShingleN - 1}),
       |             i -> array_to_string(t[i:i + ${ShingleN - 1}], ' ')))
       |      ELSE [] END AS shs
       |  FROM toks),
       |docs AS (
       |  SELECT doc_id, list_distinct(list_transform(shs, s -> ${sqlCharFold("s")})) AS sh
       |  FROM sgl WHERE len(shs) > 0)""".stripMargin

  /** Shared capped-explode CTEs (mirrors the Spark paths' stop-shingle
    * filter, [[hotShingles]]: capped shingles leave candidate generation and
    * intersection evidence; set SIZES stay full).
    */
  private val sqlCappedEx: String =
    s"""exa AS (SELECT doc_id, unnest(sh) AS h FROM docs),
       |hot AS (SELECT h FROM (SELECT h, count(*) AS c FROM exa GROUP BY 1)
       |        WHERE c > $MaxShingleDf),
       |ex AS (SELECT exa.doc_id, exa.h FROM exa ANTI JOIN hot USING (h)),
       |docsc AS (SELECT doc_id, list(h) AS shc FROM ex GROUP BY 1)""".stripMargin

  val sqlNgramJaccard: String =
    s"""$sqlShingled,
       |$sqlCappedEx,
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM ex x JOIN ex y ON x.h = y.h AND x.doc_id < y.doc_id),
       |verified AS (
       |  SELECT doc_a, doc_b,
       |    len(list_intersect(ca.shc, cb.shc)) AS inter, len(a.sh) AS la, len(b.sh) AS lb
       |  FROM cand JOIN docsc ca ON ca.doc_id = doc_a JOIN docsc cb ON cb.doc_id = doc_b
       |       JOIN docs a ON a.doc_id = doc_a JOIN docs b ON b.doc_id = doc_b)
       |SELECT doc_a, doc_b,
       |  round(CAST(inter AS DOUBLE) / (la + lb - inter), 4) AS jaccard
       |FROM verified
       |WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= $JaccardT
       |ORDER BY doc_a, doc_b""".stripMargin

  /** DuckDB twin of the fused MinHashSig expression. */
  private val sqlMhList: String = MinhashA.zip(MinhashB).map { case (a, b) =>
    s"list_min(list_transform(sh, h -> ($a * h + $b) % $P))"
  }.mkString("[", ", ", "]")

  /** Shared CTE chain producing the VERIFIED minhash-band pairs —
    * reused verbatim by [[sqlMinhashLsh]] and [[sqlDupMatrix]] so the
    * two oracles cannot drift.
    */
  private def sqlMinhashVerifiedCtes: String = {
    val mh = sqlMhList
    s"""$sqlShingled,
       |$sqlCappedEx,
       |sigs AS (SELECT doc_id, sh, $mh AS mh FROM docs),
       |banded AS (
       |  SELECT doc_id, i AS band_id,
       |    array_to_string(mh[(i - 1) * $R + 1:(i - 1) * $R + $R], ':') AS key
       |  FROM sigs, unnest(generate_series(1, $Bands)) AS t(i)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM banded x JOIN banded y
       |    ON x.band_id = y.band_id AND x.key = y.key AND x.doc_id < y.doc_id),
       |verified AS (
       |  SELECT doc_a, doc_b,
       |    len(list_intersect(ca.shc, cb.shc)) AS inter, len(a.sh) AS la, len(b.sh) AS lb
       |  FROM cand JOIN docsc ca ON ca.doc_id = doc_a JOIN docsc cb ON cb.doc_id = doc_b
       |       JOIN docs a ON a.doc_id = doc_a JOIN docs b ON b.doc_id = doc_b)""".stripMargin
  }

  val sqlMinhashLsh: String =
    s"""$sqlMinhashVerifiedCtes
       |SELECT doc_a, doc_b,
       |  round(CAST(inter AS DOUBLE) / (la + lb - inter), 4) AS jaccard
       |FROM verified
       |WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= $MinhashJaccardT
       |ORDER BY doc_a, doc_b""".stripMargin

  /** DuckDB twin of [[dupMatrix]]. */
  val sqlDupMatrix: String =
    s"""$sqlMinhashVerifiedCtes,
       |p AS (SELECT doc_a, doc_b FROM verified
       |      WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= $MinhashJaccardT),
       |m AS (SELECT least(sa.source, sb.source) AS source_a,
       |             greatest(sa.source, sb.source) AS source_b
       |      FROM p JOIN documents sa ON sa.doc_id = p.doc_a
       |             JOIN documents sb ON sb.doc_id = p.doc_b)
       |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
       |FROM m GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin

  val sqlContainment: String =
    s"""$sqlShingled,
       |$sqlCappedEx,
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM ex x JOIN ex y ON x.h = y.h AND x.doc_id < y.doc_id),
       |verified AS (
       |  SELECT doc_a, doc_b,
       |    len(list_intersect(ca.shc, cb.shc)) AS inter, len(a.sh) AS la, len(b.sh) AS lb
       |  FROM cand JOIN docsc ca ON ca.doc_id = doc_a JOIN docsc cb ON cb.doc_id = doc_b
       |       JOIN docs a ON a.doc_id = doc_a JOIN docs b ON b.doc_id = doc_b),
       |oriented AS (
       |  SELECT doc_a AS doc_inner, doc_b AS doc_outer,
       |    CAST(inter AS DOUBLE) / la AS c FROM verified
       |  UNION ALL
       |  SELECT doc_b, doc_a, CAST(inter AS DOUBLE) / lb FROM verified)
       |SELECT doc_inner, doc_outer, round(c, 4) AS containment
       |FROM oriented WHERE c >= $ContainT
       |ORDER BY doc_inner, doc_outer""".stripMargin

  val sqlIncremental: String =
    s"""$sqlShingled,
       |$sqlCappedEx,
       |sigs AS (SELECT doc_id, sh, $sqlMhList AS mh FROM docs),
       |banded AS (
       |  SELECT doc_id, i AS band_id,
       |    array_to_string(mh[(i - 1) * $R + 1:(i - 1) * $R + $R], ':') AS key
       |  FROM sigs, unnest(generate_series(1, $Bands)) AS t(i)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_new, y.doc_id AS doc_corpus
       |  FROM banded x JOIN banded y
       |    ON x.band_id = y.band_id AND x.key = y.key
       |   AND x.doc_id % $IncrementalBatchMod = 0
       |   AND y.doc_id % $IncrementalBatchMod <> 0),
       |verified AS (
       |  SELECT doc_new, doc_corpus,
       |    len(list_intersect(cn.shc, cc.shc)) AS inter, len(a.sh) AS la, len(b.sh) AS lb
       |  FROM cand JOIN docsc cn ON cn.doc_id = doc_new JOIN docsc cc ON cc.doc_id = doc_corpus
       |       JOIN docs a ON a.doc_id = doc_new JOIN docs b ON b.doc_id = doc_corpus)
       |SELECT doc_new, doc_corpus,
       |  round(CAST(inter AS DOUBLE) / (la + lb - inter), 4) AS jaccard
       |FROM verified
       |WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= $MinhashJaccardT
       |ORDER BY doc_new, doc_corpus""".stripMargin

  val sqlSimhash: String = {
    // low 32 bits vote from the token hash; bits 32-47 from the low 16
    // bits of remix h2 = (a2*h+b2) mod p; bits 48-63 from remix
    // h3 = (a3*h+b3) mod p. Bit weights are emitted as literals so the
    // j=63 term needs no engine-specific shift-overflow semantics
    val simExpr = (0 until SimhashBits).map { j =>
      val bitOf = if (j < 32) s"((h >> $j) & 1)"
        else if (j < 48) s"(((($SimhashA2 * h + $SimhashB2) % $P) >> ${j - 32}) & 1)"
        else s"(((($SimhashA3 * h + $SimhashB3) % $P) >> ${j - 48}) & 1)"
      s"(CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(th, h -> $bitOf * 2 - 1)), (a, x) -> a + x) > 0 " +
        s"THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)"
    }.mkString(" + ")
    val bandMask = (1L << SimhashBandBits) - 1
    s"""WITH docs AS (
       |  SELECT doc_id,
       |    list_transform(regexp_extract_all(lower(text), '[a-z0-9]+'),
       |                   s -> ${sqlCharFold("s")}) AS th
       |  FROM documents),
       |sigs AS (
       |  SELECT doc_id, $simExpr AS sim FROM docs WHERE len(th) > 0),
       |banded AS (
       |  SELECT doc_id, sim, k AS band_id,
       |    (sim >> ($SimhashBandBits * k)) & $bandMask AS byte
       |  FROM sigs, unnest(generate_series(0, ${SimhashBands - 1})) AS t(k)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    x.sim AS sim_a, y.sim AS sim_b
       |  FROM banded x JOIN banded y
       |    ON x.band_id = y.band_id AND x.byte = y.byte AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS INTEGER) AS hamming
       |FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= $HammingMax
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Shared span-island CTE chain: documents → positional gram
    * hashes → corpus-frequency gate → merged islands (`grp`).
    */
  private val sqlSpanIslands: String =
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
       |  FROM documents),
       |pos AS (
       |  SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
       |    ${sqlCharFold(s"array_to_string(t[i:i + ${SpanGramN - 1}], ' ')")} AS h
       |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - ${SpanGramN - 1})) AS i
       |        FROM toks WHERE len(t) >= $SpanGramN)),
       |hits AS (
       |  SELECT doc_id, pos FROM (
       |    SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS cnt FROM pos)
       |  WHERE cnt >= $SpanMinCount),
       |isl AS (
       |  SELECT doc_id, pos,
       |    max(pos + $SpanGramN) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
       |  FROM hits),
       |grp AS (
       |  SELECT doc_id, pos,
       |    sum(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM isl)""".stripMargin

  val sqlSpanDedup: String =
    sqlSpanIslands +
      s"""
       |SELECT doc_id, CAST(min(pos) AS INTEGER) AS span_start,
       |  CAST(max(pos) + $SpanGramN AS INTEGER) AS span_end,
       |  CAST(count(*) AS BIGINT) AS dup_grams
       |FROM grp GROUP BY doc_id, island
       |ORDER BY doc_id, span_start""".stripMargin

  /** DuckDB oracle for [[spanScrub]]: the same islands, then an
    * anti-range filter of each affected doc's 0-based token positions
    * and an order-preserving re-aggregation.
    */
  val sqlSpanScrub: String =
    sqlSpanIslands +
      s""",
       |spn AS (
       |  SELECT doc_id, min(pos) AS s, max(pos) + $SpanGramN AS e
       |  FROM grp GROUP BY doc_id, island),
       |aff AS (
       |  SELECT DISTINCT spn.doc_id, len(t) AS n FROM spn
       |  JOIN toks ON toks.doc_id = spn.doc_id),
       |tp AS (
       |  SELECT doc_id, t[i] AS tok, i - 1 AS p
       |  FROM (SELECT toks.doc_id, t, unnest(generate_series(1, len(t))) AS i
       |        FROM toks JOIN aff ON toks.doc_id = aff.doc_id)),
       |kept AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       |    array_to_string(list(tok ORDER BY p), ' ') AS scrubbed
       |  FROM tp
       |  WHERE NOT EXISTS (SELECT 1 FROM spn
       |    WHERE spn.doc_id = tp.doc_id AND tp.p >= spn.s AND tp.p < spn.e)
       |  GROUP BY doc_id)
       |SELECT aff.doc_id, CAST(aff.n AS BIGINT) AS n_tokens,
       |  CAST(coalesce(kept.n_kept, 0) AS BIGINT) AS n_kept,
       |  coalesce(kept.scrubbed, '') AS scrubbed
       |FROM aff LEFT JOIN kept ON aff.doc_id = kept.doc_id
       |ORDER BY aff.doc_id""".stripMargin
}
