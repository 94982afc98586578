package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._

/** Learned data-selection filters (round 8): the model-based half of a
  * corpus quality pipeline. The heuristic gates (quality score, Gopher,
  * repetition) are map-side formulas; production pipelines put a LEARNED
  * filter behind them — a classifier trained to recognize curated text
  * (the CCNet / LLaMA "Wikipedia-referenced vs random crawl" recipe) and
  * importance weights that resample the crawl toward a target
  * distribution (DSIR, Xie et al. 2023). Both are pure
  * aggregation+join shapes, so unlike gradient-trained models they get
  * FULL DuckDB oracles — the training computation itself is
  * cell-exactly verified, not just the scoring pass.
  *
  *   - [[nbTrain]]   multinomial Naive-Bayes token log-likelihood-ratio
  *                   table (train fold, Laplace smoothing),
  *   - [[nbScore]]   per-document classifier score over the WHOLE
  *                   corpus (the filtering pass),
  *   - [[nbEval]]    held-out confusion summary (the calibration
  *                   check before trusting the filter),
  *   - [[dsirWeights]] hashed-ngram importance log-weights
  *                   (unigram+bigram features in a fixed bucket space).
  *
  * Labels come from a curated-source allowlist ([[CuratedSources]]) —
  * the operator's analog of the contamination eval-set parameter: real
  * pipelines get this from metadata (is the page linked from a curated
  * corpus?), the engine only needs SOME deterministic label column.
  *
  * Reference provenance: alsyefs/notion backend/generate_reports.py
  * classifies tasks into report sections by rule; this family is the
  * corpus-scale learned counterpart of that labeling step.
  *
  * Scale shapes (100 TB honesty):
  *   - NB training is ONE corpus pass into a vocabulary-sized
  *     (token, c_cur, c_web) aggregate, map-side combined; the frame is
  *     session-persisted (four queries derive from it — the kl_drift
  *     ReuseExchange lesson).
  *     Totals are a 3-number aggregate collect (metadata class).
  *   - NB scoring joins the token stream to the vocab table (AQE picks
  *     broadcast when it fits — the tf⋈df precedent) and reduces per
  *     doc with partial aggregation: the shuffle is O(docs), not
  *     O(tokens).
  *   - DSIR's feature table is bounded by [[DsirBuckets]] BY
  *     CONSTRUCTION, so it collects to the driver (the centroid-matrix
  *     class) and scoring is a map-side broadcast join — the corpus is
  *     never shuffled except the O(docs) per-doc reduce.
  *
  * Cross-engine determinism: per-token/per-bucket log-ratios are
  * computed from exact integer counts in identical double arithmetic
  * (`ln` reproducibility — the q_lm_score precedent) and then snapped
  * to INTEGER MICRO-NATS (`floor(x·1e6 + 0.5)` as BIGINT). Every
  * downstream sum and the >0 class decision run on those integers —
  * exact, associative, partitioning-independent, and immune to the
  * DECIMAL-width cap that bars adding two DECIMAL(38,18) in DuckDB.
  * Magnitudes are safe by construction: |llr_u| ≤ ~5e7 micro-nats, so
  * even a 10⁹-token document sums within 2^63.
  */
object Classifier {

  /** Curated-source allowlist: the positive class. A fixed parameter of
    * the operator (metadata-supplied in a real pipeline), NOT learned.
    */
  val CuratedSources: Seq[String] = Seq("src0", "src4", "src8", "src12", "src16")

  /** Train fold = split-hash bucket < this (same portable doc_id hash
    * as q_data_split, so folds are consistent across the catalog);
    * the rest is the held-out calibration fold.
    */
  val TrainPermille = 900

  /** DSIR hashed-feature space size (unigrams and bigrams share it). */
  val DsirBuckets = 8192L

  /** Log-ratio grid: micro-nats (1e-6). */
  private val Dp6 = 1e6
  private val Dp4 = 1e4

  /** Snap a double log-ratio to BIGINT micro-nats. */
  private def u6(c: Column): Column = floor(c * lit(Dp6) + lit(0.5)).cast("long")
  private def u6d(x: Double): Long = math.floor(x * Dp6 + 0.5).toLong

  /** Micro-nat BIGINT sum → 4-dp double (identical association in the
    * oracles: `floor(CAST(su AS DOUBLE)/1e6*1e4 + 0.5)/1e4`).
    */
  private def score4(su: Column): Column =
    floor(su.cast("double") / lit(Dp6) * lit(Dp4) + lit(0.5)) / Dp4

  private def splitBucket: Column =
    pmod(col("doc_id") * lit(ExtendedAnalytics.SplitHashA), lit(2147483648L)) % 1000

  private def isCurated: Column =
    when(col("source").isin(CuratedSources: _*), 1).otherwise(0)

  /** Vocabulary-sized (t, c_cur, c_web) training counts, session-
    * persisted: nbTrain/nbScore/nbEval (and the totals collect) all
    * derive from this one corpus aggregate, a
    * [[graft.plans.Memo.shared]] frame (the sourceTokenCounts pattern).
    */
  private def nbCounts(s: SparkSession, dir: String): DataFrame =
    graft.plans.Memo.shared(s, dir, "classifier.nbCounts") {
      trainCountsFromDocs(Tables.documentsSpread(s, dir))
    }

  /** Counting stage from any (doc_id, source, text) frame. Counts are
    * additive, so per-batch frames summed in a
    * [[graft.streaming.Additive]] and handed to [[modelTable]] give the
    * batch model EXACTLY after any prefix of batches (ClassifierSpec).
    */
  private[graft] def trainCountsFromDocs(docs: DataFrame): DataFrame =
    docs
      .filter(splitBucket < TrainPermille)
      .select(isCurated.as("cur"), explode(tokens(col("text"))).as("t"))
      .groupBy("t")
      .agg(sum(col("cur").cast("long")).as("c_cur"),
        sum(lit(1L) - col("cur")).as("c_web"))

  /** Per-batch train-fold doc tally (n_cur, n_docs) — the prior's
    * additive sufficient statistic (a keyless
    * [[graft.streaming.Additive]] sums it across batches).
    */
  private[graft] def trainDocTallyFrame(docs: DataFrame): DataFrame =
    docs.filter(splitBucket < TrainPermille)
      .agg(coalesce(sum(isCurated.cast("long")), lit(0L)).as("n_cur"),
        count(lit(1)).as("n_docs"))

  /** Value stage: (t, c_cur, c_web) counts + totals → the model table
    * with micro-nat log-ratios.
    */
  private[graft] def modelFromCounts(counts: DataFrame,
      tc: Long, tw: Long, v: Long): DataFrame =
    counts.select(col("t"), col("c_cur"), col("c_web"), llrU(tc, tw, v).as("llr_u"))

  /** Scoring stage: docs × model table (+ prior) → the q_nb_score
    * frame; scoring under summed per-batch counts == the batch operator
    * exactly.
    */
  private[graft] def scoreStage(docs: DataFrame, model: DataFrame,
      priorU: Long): DataFrame = {
    val hits = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .join(model.select("t", "llr_u"), "t")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit"), sum(col("llr_u")).as("sx"))
    val totalU = coalesce(col("sx"), lit(0L)) + lit(priorU)
    docs
      .select(col("doc_id"),
        when(splitBucket < TrainPermille, "train").otherwise("holdout").as("fold"),
        size(tokens(col("text"))).cast("long").as("n_tok"),
        isCurated.as("is_cur"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("fold"), col("n_tok"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"), col("is_cur"),
        when(totalU > 0L, 1).otherwise(0).as("pred_cur"),
        score4(totalU).as("nb_score"))
  }

  /** Materialize the session-persisted classifier frames (NB counts,
    * scored corpus, DSIR score frame) for Bench's `shared_` attribution.
    */
  private[graft] def warmModelCache(s: SparkSession, dir: String): Unit = {
    nbCounts(s, dir).count()
    scoredFrame(s, dir).count()
    dsirFrame(s, dir).count()
  }

  /** (totCur, totWeb, vocab) from a counts frame — a 3-number driver
    * collect (metadata-bounded by definition).
    */
  private[graft] def totalsOf(counts: DataFrame): (Long, Long, Long) = {
    val r = counts.agg(sum("c_cur"), sum("c_web"), count(lit(1))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private def nbTotals(s: SparkSession, dir: String): (Long, Long, Long) =
    totalsOf(nbCounts(s, dir))

  /** Per-token Laplace-smoothed log-likelihood ratio in micro-nats. */
  private def llrU(totCur: Long, totWeb: Long, v: Long): Column =
    u6(log((col("c_cur") + lit(1L)).cast("double") / lit((totCur + v).toDouble)) -
       log((col("c_web") + lit(1L)).cast("double") / lit((totWeb + v).toDouble)))

  // ---------------------------------------------------------------------
  // q_nb_train — the model table
  // ---------------------------------------------------------------------

  /** NB model table (`q_nb_train`): per train-fold token, the class
    * counts and the smoothed log-likelihood ratio
    * `ln p(t|curated) − ln p(t|web)` (nats, 6 dp). Vocabulary-sized
    * output (corpus-scale: take the unordered form).
    */
  def nbTrain(s: SparkSession, dir: String): DataFrame =
    modelTable(nbCounts(s, dir)).orderBy("t")

  /** The `q_nb_train` columns from a (t, c_cur, c_web) counts frame. */
  private[graft] def modelTable(counts: DataFrame): DataFrame = {
    val (tc, tw, v) = totalsOf(counts)
    modelFromCounts(counts, tc, tw, v)
      .select(col("t"), col("c_cur"), col("c_web"),
        (col("llr_u").cast("double") / lit(Dp6)).as("llr"))
  }

  // ---------------------------------------------------------------------
  // q_nb_score — score every document
  // ---------------------------------------------------------------------

  /** Class-prior log-odds over train docs in micro-nats (driver-side:
    * two counts → one double → one long).
    */
  private def nbPriorU(s: SparkSession, dir: String): Long = {
    val r = trainDocTallyFrame(Tables.documentsSpread(s, dir)).head()
    priorUOf(r.getLong(0), r.getLong(1))
  }

  /** Prior from the (curated, total) doc tally. */
  private[graft] def priorUOf(nCur: Long, nDocs: Long): Long =
    u6d(math.log((nCur + 1).toDouble / (nDocs - nCur + 1).toDouble))

  /** Per-document NB score (`q_nb_score`): prior log-odds plus the sum
    * of token log-ratios with multiplicity, over the WHOLE corpus (the
    * filtering pass scores everything; `fold` marks which rows were
    * trained on). `pred_cur` compares the exact micro-nat integer sum
    * against 0 — the decision can never flip on a rounding boundary.
    */
  def nbScore(s: SparkSession, dir: String): DataFrame =
    scoredFrame(s, dir).orderBy("doc_id")

  /** Session-persisted per-doc score frame — q_nb_score, q_nb_eval and
    * q_nb_auc all reduce over it (the AUC alone takes two actions:
    * min/max then bins), and the scoring pass carries the corpus-wide
    * token⋈model join + doc reduce that must not re-run per consumer
    * (the lmScoreFrame precedent: narrow O(docs) frame, post-shuffle).
    * Its build runs the totals collect and the prior tally once.
    */
  private def scoredFrame(s: SparkSession, dir: String): DataFrame =
    graft.plans.Memo.shared(s, dir, "classifier.scored") {
      val (tc, tw, v) = nbTotals(s, dir)
      scoreStage(Tables.documentsSpread(s, dir),
        modelFromCounts(nbCounts(s, dir), tc, tw, v), nbPriorU(s, dir))
    }

  // ---------------------------------------------------------------------
  // q_nb_eval — held-out confusion summary
  // ---------------------------------------------------------------------

  /** Held-out calibration (`q_nb_eval`): per true class, how often the
    * classifier says "curated" on the fold it never saw — the check a
    * pipeline runs before trusting the filter. Derives from the same
    * persisted counts; output is class-cardinality (≤2 rows).
    */
  def nbEval(s: SparkSession, dir: String): DataFrame =
    scoredFrame(s, dir)
      .filter(col("fold") === "holdout")
      .groupBy("is_cur")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("pred_cur").cast("long")).as("n_pred_cur"))
      .select(col("is_cur"), col("n_docs"), col("n_pred_cur"),
        (floor(col("n_pred_cur").cast("double") / col("n_docs") * lit(Dp4)
          + lit(0.5)) / Dp4).as("pred_rate"))
      .orderBy("is_cur")

  // ---------------------------------------------------------------------
  // q_nb_auc — held-out ranking quality (binned ROC-AUC)
  // ---------------------------------------------------------------------

  /** Threshold bins for the AUC statistic (1001 = the MLlib
    * BinaryClassificationMetrics numBins shape — a FIXED grid keeps
    * the per-bin frame bounded by construction at any corpus size,
    * where exact AUC's rank pass is a global sort over the holdout).
    */
  val AucBins = 1000

  /** Held-out ranking quality (`q_nb_auc`): binned ROC-AUC of the NB
    * score against the curated label on the fold the model never saw —
    * the threshold-free companion to `q_nb_eval`'s confusion summary
    * (a filter is USED at a tuned threshold; AUC says whether any
    * good threshold exists).
    *
    * Distributed shape: score min/max are one 2-number aggregate
    * (broadcast scalars); bin assignment is map-side; the per-bin
    * (neg, pos) frame is ≤ [[AucBins]]+1 rows BY CONSTRUCTION, so the
    * cumulative-negative pass runs driver-side over the collected bins
    * (the skew_report idiom — no unpartitioned window, no global
    * sort). Tie handling is Mann-Whitney: within-bin pairs count ½,
    * carried as INTEGER doubled-numerator arithmetic (2·C_neg + g per
    * bin), so the statistic is exact for the binned scores and the
    * final division is one correct-rounded double op — identical in
    * the oracle.
    */
  def nbAuc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hold = scoredFrame(s, dir)
      .filter(col("fold") === "holdout")
      .select(col("is_cur"), col("nb_score"))
    val mm = hold.agg(min("nb_score").as("lo"), max("nb_score").as("hi")).head()
    // empty holdout (possible only on a degenerate corpus whose ids all
    // hash into the train permille): no ranking information — 0.5 on
    // both sides, matching the oracle's coalesce
    if (mm.isNullAt(0))
      return Seq((0L, 0L, 0.5)).toDF("n_pos", "n_neg", "auc")
    val (lo, hi) = (mm.getDouble(0), mm.getDouble(1))
    val bin =
      if (hi == lo) lit(0L)
      else least(floor((col("nb_score") - lit(lo)) / lit(hi - lo) * lit(AucBins))
        .cast("long"), lit(AucBins.toLong))
    val bins = hold.groupBy(bin.as("bin"))
      .agg(sum(when(col("is_cur") === 1, 1L).otherwise(0L)).as("p"),
        sum(when(col("is_cur") === 1, 0L).otherwise(1L)).as("g"))
      .collect() // ≤ AucBins+1 rows by construction
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    var cneg = 0L
    var numer2 = 0L
    bins.foreach { case (_, p, g) => numer2 += p * (2L * cneg + g); cneg += g }
    val nPos = bins.map(_._2).sum
    val nNeg = bins.map(_._3).sum
    // a one-class holdout carries no ranking information: 0.5, the
    // same convention as the empty case (oracle CASE mirrors it)
    val auc =
      if (nPos == 0 || nNeg == 0) 0.5
      else numer2.toDouble / (2.0 * nPos * nNeg)
    Seq((nPos, nNeg, math.floor(auc * Dp4 + 0.5) / Dp4))
      .toDF("n_pos", "n_neg", "auc")
  }

  def nbAucOracleSql: String =
    s"""WITH $nbSqlCtes,
       |hold AS (
       |  SELECT b.is_cur,
       |    floor(CAST(coalesce(h.sx, 0) + p.p6 AS DOUBLE) / 1e6 * 1e4 + 0.5) / 1e4
       |      AS nb_score
       |  FROM base b LEFT JOIN hit h USING (doc_id), pri p
       |  WHERE b.b >= $TrainPermille),
       |mm AS (SELECT min(nb_score) AS lo, max(nb_score) AS hi FROM hold),
       |bins AS (
       |  SELECT CASE WHEN hi = lo THEN 0
       |    ELSE least(CAST(floor((nb_score - lo) / (hi - lo) * $AucBins)
       |      AS BIGINT), $AucBins) END AS bin,
       |    CAST(sum(is_cur) AS BIGINT) AS p,
       |    CAST(sum(1 - is_cur) AS BIGINT) AS g
       |  FROM hold, mm GROUP BY 1),
       |cum AS (
       |  SELECT p, g, CAST(coalesce(sum(g) OVER (ORDER BY bin
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS cneg
       |  FROM bins),
       |agg AS (
       |  SELECT CAST(coalesce(sum(p * (2 * cneg + g)), 0) AS BIGINT) AS numer2,
       |    CAST(coalesce(sum(p), 0) AS BIGINT) AS n_pos,
       |    CAST(coalesce(sum(g), 0) AS BIGINT) AS n_neg
       |  FROM cum)
       |SELECT n_pos, n_neg,
       |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN 0.5 ELSE
       |    floor(CAST(numer2 AS DOUBLE) / (2.0 * n_pos * n_neg) * 1e4 + 0.5) / 1e4
       |  END AS auc
       |FROM agg""".stripMargin

  // ---------------------------------------------------------------------
  // q_filter_cascade — cheap gate before the expensive model
  // ---------------------------------------------------------------------

  /** Heuristic-gate threshold for the cascade: quality is 4-dp
    * quantized by construction, so the compare is boundary-safe.
    */
  val CascadeQualityMin = 0.5

  /** Filter cascade (`q_filter_cascade`): the production idiom of
    * running the MAP-SIDE heuristic gate first so the learned model
    * only ever sees survivors — at 100 TB the classifier's token-join
    * probe stream shrinks by the gate's rejection rate before any
    * shuffle happens (the gate rides the scan; `.explain` shows the
    * filter under the explode). Output: surviving docs with both
    * signals, so downstream selection can weigh them jointly.
    */
  def filterCascade(s: SparkSession, dir: String): DataFrame = {
    val (tc, tw, v) = nbTotals(s, dir)
    val model = modelFromCounts(nbCounts(s, dir), tc, tw, v)
    val priorU = nbPriorU(s, dir)
    val base = Tables.documentsSpread(s, dir)
      .select(col("doc_id"), qualityScore(col("text")).as("quality"), col("text"))
      .filter(col("quality") >= lit(CascadeQualityMin))
    val hits = base
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .join(model.select("t", "llr_u"), "t")
      .groupBy("doc_id")
      .agg(sum(col("llr_u")).as("sx"))
    val totalU = coalesce(col("sx"), lit(0L)) + lit(priorU)
    base.select(col("doc_id"), col("quality"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("quality"),
        score4(totalU).as("nb_score"),
        when(totalU > 0L, 1).otherwise(0).as("pred_cur"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------------
  // q_dsir_weights — hashed-ngram importance weights
  // ---------------------------------------------------------------------

  /** Per-document hashed unigram+bigram feature ids in the
    * [[DsirBuckets]] space, with multiplicity. Bigram hash combines the
    * portable token hashes as `(h1·131 + h2) mod p` (the fingerprint
    * fold) before bucketing, so the oracle reproduces it bit-exactly.
    */
  /** `hs` MUST be a bound attribute (a projected `tokenHashes` column),
    * never the expression tree itself: `element_at` inside the bigram
    * lambda evaluates its array argument per index, so an embedded
    * tokenHashes expression re-derives the whole hash array for every
    * bigram — quadratic per document (measured 13.7 s at sf0.1 vs
    * 1 s with the projection).
    */
  private def featuresOf(hs: Column): Column = {
    val uni = transform(hs, h => h % lit(DsirBuckets))
    // guard: Spark sequence(1, size-1) DESCENDS when size < 2 (it is
    // not empty like DuckDB generate_series) and would index hs[0]
    val big = when(size(hs) >= 2,
      transform(sequence(lit(1), size(hs) - 1),
        i => ((element_at(hs, i) * lit(131L) + element_at(hs, i + 1)) % lit(HashP))
          % lit(DsirBuckets)))
      .otherwise(array().cast("array<long>"))
    concat(uni, big)
  }

  /** DSIR importance log-weights (`q_dsir_weights`, Xie et al. 2023):
    * per document, `Σ_f c_f · [ln p_target(f) − ln p_raw(f)]` over
    * hashed n-gram features — target = curated train docs, raw = the
    * whole train pool (so weights are conservative: the target is part
    * of the pool). A real selection step resamples by these weights;
    * `logw_per_feat` is the length-normalized variant for rankers that
    * must not favor long documents.
    *
    * The (f, c_t, c_r) table is ≤[[DsirBuckets]] rows BY CONSTRUCTION —
    * it collects to the driver (bounded like a centroid matrix), the
    * smoothed micro-nat ratios become a broadcast-joined local frame,
    * and unseen buckets fall back to the pure-smoothing ratio `lw0`.
    */
  /** Per-batch bucket-bounded training counts (≤ [[DsirBuckets]] rows,
    * driver-safe): (f, c_t, c_r). ADDITIVE across batches: summed in a
    * [[graft.streaming.Additive]] (O(DsirBuckets) regardless of stream
    * length) and handed to [[dsirScoreFrame]], they weight documents
    * exactly like the batch operator (ClassifierSpec).
    */
  private[graft] def dsirCountFrame(docs: DataFrame): DataFrame =
    docs.filter(splitBucket < TrainPermille)
      .select(col("source"), tokenHashes(col("text")).as("hs"))
      .select(col("source"), explode(featuresOf(col("hs"))).as("f"))
      .groupBy("f")
      .agg(sum(isCurated.cast("long")).as("c_t"), count(lit(1)).as("c_r"))

  private def dsirTrainCounts(docs: DataFrame): Array[(Long, Long, Long)] =
    dsirCountFrame(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // sorted: the local frame built from it is deterministic
      // (collect order is free)
      .sortBy(_._1)

  /** Value + scoring stage from a (f, c_t, c_r) counts table. */
  private[graft] def dsirScoreFrame(s: SparkSession, docs: DataFrame,
      cnt: Seq[(Long, Long, Long)]): DataFrame = {
    val tt = cnt.iterator.map(_._2).sum
    val tr = cnt.iterator.map(_._3).sum
    val denT = (tt + DsirBuckets).toDouble
    val denR = (tr + DsirBuckets).toDouble
    val lw0U = u6d(math.log(1.0 / denT) - math.log(1.0 / denR))
    import s.implicits._
    val lwDf = cnt.map { case (f, ct, cr) =>
      (f, u6d(math.log((ct + 1).toDouble / denT) - math.log((cr + 1).toDouble / denR)))
    }.toDF("f", "w_u")
    val occ = docs.select(col("doc_id"), tokenHashes(col("text")).as("hs"))
      .select(col("doc_id"), explode(featuresOf(col("hs"))).as("f"))
    val agg = occ.join(broadcast(lwDf), Seq("f"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feat"),
        sum(coalesce(col("w_u"), lit(lw0U))).as("sx"))
    val su = coalesce(col("sx"), lit(0L))
    docs.select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_feat"), lit(0L)).as("n_feat"),
        score4(su).as("dsir_logw"),
        (floor(su.cast("double") / lit(Dp6)
          / greatest(coalesce(col("n_feat"), lit(0L)), lit(1L))
          * lit(Dp4) + lit(0.5)) / Dp4).as("logw_per_feat"))
  }

  /** Session-persisted per-doc weights frame (narrow, O(docs) — the
    * lmScoreFrame class): q_dsir_weights reads it once, q_dsir_select
    * reads it twice (threshold aggregate + filter). Its build runs the
    * corpus-scanning training-count collect once.
    */
  private def dsirFrame(s: SparkSession, dir: String): DataFrame =
    graft.plans.Memo.shared(s, dir, "classifier.dsir") {
      val docs = Tables.documentsSpread(s, dir)
      dsirScoreFrame(s, docs, dsirTrainCounts(docs).toSeq)
    }

  def dsirWeights(s: SparkSession, dir: String): DataFrame =
    dsirFrame(s, dir).orderBy("doc_id")

  // ---------------------------------------------------------------------
  // q_dsir_select — the resampling step
  // ---------------------------------------------------------------------

  /** DSIR selection (`q_dsir_select`): resample the corpus toward the
    * target distribution by keeping every document whose
    * length-normalized importance weight clears the corpus median —
    * the selection step the weights exist for (Xie et al. 2023 sample
    * by importance; the deterministic threshold form is the
    * engine-portable equivalent, the q_ppl_buckets shape).
    *
    * Scale shape: the threshold is ONE bounded `percentile` aggregate
    * over the persisted weights frame, broadcast back as a literal; the
    * keep pass is a map-side compare on the same persisted frame — no
    * rank window, no global sort (an `ntile` over the corpus would
    * serialize through one task). Threshold snapped to the weights'
    * 4-dp grid so both engines' interpolation agrees (the ppl_buckets
    * boundary lesson).
    */
  def dsirSelect(s: SparkSession, dir: String): DataFrame = {
    val w = dsirFrame(s, dir)
    val thr = w.agg(
      expr(s"percentile(logw_per_feat, cast(1 as double)/2)")).head().getDouble(0)
    // snap at the HALF grid (2e4): logw_per_feat is 4-dp quantized, so
    // an even-count median interpolates to k or k+0.5 grid units —
    // thr*2e4 is an exact INTEGER either way and the +0.5 floor sits a
    // full half-unit from any boundary, where a 1e4 snap puts the
    // k+0.5 case exactly ON the boundary and a 1-ulp percentile/
    // quantile_cont difference flips the selected set (the ppl_buckets
    // lesson, applied at the source). Selected set unchanged: values
    // on the 1e-4 grid compare identically against k/1e4 and (2k)/2e4.
    val tSnap = math.floor(thr * (Dp4 * 2) + 0.5) / (Dp4 * 2)
    w.filter(col("logw_per_feat") >= lit(tSnap))
      .select(col("doc_id"), col("n_feat"), col("dsir_logw"), col("logw_per_feat"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------------
  // DuckDB oracles (constants interpolated from the definitions above —
  // one source of truth, the MinHash-constants pattern)
  // ---------------------------------------------------------------------

  private def curatedSqlList: String =
    CuratedSources.map(s => s"'$s'").mkString("(", ", ", ")")

  /** Shared CTEs: labeled+bucketed docs, train token counts, totals,
    * the micro-nat model table, doc priors, and the per-doc hit sums.
    * `private[graft]`: SparkEntry composes them with its quality CTEs
    * for the cascade oracle (CTE names are disjoint by construction).
    */
  private[graft] def nbSqlCtes: String =
    s"""base AS (
       |  SELECT doc_id, source,
       |    ((doc_id * ${ExtendedAnalytics.SplitHashA}) % 2147483648) % 1000 AS b,
       |    CASE WHEN source IN $curatedSqlList THEN 1 ELSE 0 END AS is_cur,
       |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
       |  FROM documents),
       |tr AS (SELECT is_cur, unnest(toks) AS t FROM base WHERE b < $TrainPermille),
       |cnt AS (SELECT t, CAST(sum(is_cur) AS BIGINT) AS c_cur,
       |               CAST(sum(1 - is_cur) AS BIGINT) AS c_web
       |        FROM tr GROUP BY t),
       |tot AS (SELECT CAST(sum(c_cur) AS BIGINT) AS tc,
       |               CAST(sum(c_web) AS BIGINT) AS tw,
       |               CAST(count(*) AS BIGINT) AS v
       |        FROM cnt),
       |mdl AS (SELECT t, c_cur, c_web,
       |          CAST(floor((ln(CAST(c_cur + 1 AS DOUBLE) / (tc + v)) -
       |                      ln(CAST(c_web + 1 AS DOUBLE) / (tw + v))) * 1e6 + 0.5)
       |               AS BIGINT) AS llr_u
       |        FROM cnt, tot),
       |nd AS (SELECT CAST(sum(is_cur) AS BIGINT) AS nc,
       |              CAST(count(*) - sum(is_cur) AS BIGINT) AS nw
       |       FROM base WHERE b < $TrainPermille),
       |pri AS (SELECT CAST(floor(ln(CAST(nc + 1 AS DOUBLE) / (nw + 1)) * 1e6 + 0.5)
       |                AS BIGINT) AS p6 FROM nd),
       |occ AS (SELECT doc_id, unnest(toks) AS t FROM base),
       |hit AS (SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_hit,
       |               CAST(sum(m.llr_u) AS BIGINT) AS sx
       |        FROM occ o JOIN mdl m USING (t) GROUP BY o.doc_id)""".stripMargin

  def nbTrainOracleSql: String =
    s"""WITH $nbSqlCtes
       |SELECT t, c_cur, c_web, CAST(llr_u AS DOUBLE) / 1e6 AS llr
       |FROM mdl ORDER BY t""".stripMargin

  def nbScoreOracleSql: String =
    s"""WITH $nbSqlCtes
       |SELECT b.doc_id,
       |  CASE WHEN b.b < $TrainPermille THEN 'train' ELSE 'holdout' END AS fold,
       |  CAST(len(b.toks) AS BIGINT) AS n_tok,
       |  coalesce(h.n_hit, 0) AS n_hit,
       |  b.is_cur,
       |  CASE WHEN coalesce(h.sx, 0) + p.p6 > 0 THEN 1 ELSE 0 END AS pred_cur,
       |  floor(CAST(coalesce(h.sx, 0) + p.p6 AS DOUBLE) / 1e6 * 1e4 + 0.5) / 1e4
       |    AS nb_score
       |FROM base b LEFT JOIN hit h USING (doc_id), pri p
       |ORDER BY doc_id""".stripMargin

  def nbEvalOracleSql: String =
    s"""WITH $nbSqlCtes
       |SELECT b.is_cur,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN coalesce(h.sx, 0) + p.p6 > 0 THEN 1 ELSE 0 END)
       |       AS BIGINT) AS n_pred_cur,
       |  floor(CAST(sum(CASE WHEN coalesce(h.sx, 0) + p.p6 > 0 THEN 1 ELSE 0 END)
       |       AS DOUBLE) / count(*) * 1e4 + 0.5) / 1e4 AS pred_rate
       |FROM base b LEFT JOIN hit h USING (doc_id), pri p
       |WHERE b.b >= $TrainPermille
       |GROUP BY b.is_cur ORDER BY is_cur""".stripMargin

  def dsirWeightsOracleSql: String =
    s"""WITH $dsirSqlCtes
       |SELECT doc_id, n_feat, dsir_logw, logw_per_feat
       |FROM w ORDER BY doc_id""".stripMargin

  def dsirSelectOracleSql: String =
    s"""WITH $dsirSqlCtes,
       |thr AS (SELECT floor(quantile_cont(logw_per_feat, CAST(1 AS DOUBLE)/2)
       |              * 2e4 + 0.5) / 2e4 AS t FROM w)
       |SELECT doc_id, n_feat, dsir_logw, logw_per_feat
       |FROM w, thr WHERE logw_per_feat >= t
       |ORDER BY doc_id""".stripMargin

  /** Shared DSIR CTE chain ending in the per-doc weights frame `w`. */
  private def dsirSqlCtes: String =
    s"""base AS (
       |  SELECT doc_id, source,
       |    ((doc_id * ${ExtendedAnalytics.SplitHashA}) % 2147483648) % 1000 AS b,
       |    list_transform(regexp_extract_all(lower(text), '[a-z0-9]+'),
       |      s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
       |             list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT))),
       |           (a, c) -> (a * 31 + c) % $HashP)) AS hs
       |  FROM documents),
       |feat AS (
       |  SELECT doc_id, b, source,
       |    list_concat(
       |      list_transform(hs, h -> h % $DsirBuckets),
       |      list_transform(generate_series(1, len(hs) - 1),
       |        i -> ((hs[i] * 131 + hs[i+1]) % $HashP) % $DsirBuckets)) AS fs
       |  FROM base),
       |occ AS (SELECT doc_id, b, source, unnest(fs) AS f FROM feat),
       |cnt AS (SELECT f,
       |          CAST(sum(CASE WHEN source IN $curatedSqlList THEN 1 ELSE 0 END)
       |               AS BIGINT) AS c_t,
       |          CAST(count(*) AS BIGINT) AS c_r
       |        FROM occ WHERE b < $TrainPermille GROUP BY f),
       |tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS tt,
       |               CAST(sum(c_r) AS BIGINT) AS tr FROM cnt),
       |lw AS (SELECT f, CAST(floor((ln(CAST(c_t + 1 AS DOUBLE) / (tt + $DsirBuckets)) -
       |                             ln(CAST(c_r + 1 AS DOUBLE) / (tr + $DsirBuckets)))
       |                      * 1e6 + 0.5) AS BIGINT) AS w_u
       |       FROM cnt, tot),
       |lw0 AS (SELECT CAST(floor((ln(CAST(1 AS DOUBLE) / (tt + $DsirBuckets)) -
       |                           ln(CAST(1 AS DOUBLE) / (tr + $DsirBuckets)))
       |                    * 1e6 + 0.5) AS BIGINT) AS w0 FROM tot),
       |agg AS (SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_feat,
       |               CAST(sum(coalesce(l.w_u, z.w0)) AS BIGINT) AS sx
       |        FROM occ o LEFT JOIN lw l USING (f), lw0 z GROUP BY o.doc_id),
       |w AS (SELECT f2.doc_id, coalesce(a.n_feat, 0) AS n_feat,
       |  floor(CAST(coalesce(a.sx, 0) AS DOUBLE) / 1e6 * 1e4 + 0.5) / 1e4 AS dsir_logw,
       |  floor(CAST(coalesce(a.sx, 0) AS DOUBLE) / 1e6
       |        / greatest(coalesce(a.n_feat, 0), 1) * 1e4 + 0.5) / 1e4 AS logw_per_feat
       |  FROM feat f2 LEFT JOIN agg a USING (doc_id))""".stripMargin
}
