package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._

/** Corpus-curation operators (round 7): the data-selection half of a
  * pretraining pipeline — what to TRAIN ON once cleaning and dedup have
  * decided what is usable. Four staples:
  *
  *   - [[tokenBudget]]    greedy best-quality-first selection under a
  *                        corpus token budget (the "data-constrained
  *                        scaling" selection step),
  *   - [[pplBuckets]]     CCNet-style head/middle/tail perplexity
  *                        terciles per language (Wenzek et al. 2019),
  *   - [[sourceSim]]      pairwise corpus-level Jaccard similarity
  *                        between sources estimated from per-source
  *                        MinHash signatures (mergeable sketch union),
  *   - [[klDrift]]        per-source unigram-distribution KL divergence
  *                        from the corpus distribution (the curation
  *                        drift monitor).
  *
  * Mirrors the reference's analytics intent (alsyefs/notion
  * backend/generate_reports.py aggregates per-category distributions);
  * the statistics here are the corpus-scale equivalents.
  */
object CorpusCuration {

  // ---------------------------------------------------------------------
  // q_token_budget — greedy selection under a token budget
  // ---------------------------------------------------------------------

  /** Keep the best docs covering 1/TokenBudgetDen of corpus tokens. */
  val TokenBudgetDen = 2L
  /** quality is k/10⁴ by construction (qualityScore's floor rounding),
    * so this scale recovers the integer bucket id exactly.
    */
  val BudgetQScale = 10000.0

  /** Greedy token-budget selection (`q_token_budget`): rank documents
    * by quality (desc, doc_id tiebreak), keep the prefix whose
    * cumulative token count fits the budget — the selection step of a
    * data-constrained pretraining run ("we can afford N tokens; take
    * the best N").
    *
    * The global cumulative sum over the quality ordering is a
    * distributed TWO-PHASE prefix sum, same machinery as
    * ExtendedAnalytics.packOn: documents bucket by their integer
    * quality id (≤ 10,001 buckets — quality is 4-dp quantized by
    * construction), phase one is a cumsum window partitioned BY
    * bucket (high cardinality, parallel), phase two broadcast-joins
    * each bucket's running start offset from a driver-bounded
    * bucket-totals collect. No unpartitioned window anywhere; one
    * key-partitioned shuffle + the totals agg.
    */
  def tokenBudget(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documentsSpread(s, dir)
      .select(col("doc_id"),
        qualityScore(col("text")).as("quality"),
        size(tokens(col("text"))).cast("long").as("ntok"))
      .withColumn("qb", floor(col("quality") * BudgetQScale + lit(0.5)).cast("long"))
    val w = Window.partitionBy("qb").orderBy("doc_id")
    val local = d.withColumn("lend", sum("ntok").over(w))
    // bucket totals: ≤10,001 rows of metadata — the packOn driver-state
    // class; selection order is quality DESC, so the exclusive prefix
    // runs from the highest bucket down
    val totals = d.groupBy("qb").agg(sum("ntok").as("btot"))
      .orderBy(col("qb").desc).collect().map(r => (r.getLong(0), r.getLong(1)))
    val running = totals.map(_._2).scanLeft(0L)(_ + _)
    val budget = totals.map(_._2).sum / TokenBudgetDen
    import s.implicits._
    val offDf = totals.map(_._1).zip(running).toSeq.toDF("qb", "boff")
    local.join(broadcast(offDf), "qb")
      .withColumn("cum_tokens", col("boff") + col("lend"))
      .filter(col("cum_tokens") <= lit(budget))
      .select(col("doc_id"), col("quality"), col("ntok"), col("cum_tokens"))
      .orderBy(col("quality").desc, col("doc_id"))
  }

  // ---------------------------------------------------------------------
  // q_ppl_buckets — CCNet head/middle/tail perplexity terciles
  // ---------------------------------------------------------------------

  /** CCNet-style perplexity bucketing (`q_ppl_buckets`): per language,
    * split documents into head/middle/tail terciles of the bigram-LM
    * score (lower = more LM-probable = head) — the public CCNet recipe
    * keeps head+middle and drops or down-weights tail.
    *
    * Distributed shape: the LM scores come from the session-persisted
    * [[TextAnalysis.lmScoreFrame]] (built once, reused by q_lm_score);
    * the tercile THRESHOLDS are a per-lang `percentile` aggregate — a
    * lang-cardinality frame, broadcast back — and the bucket assignment
    * is a map-side compare. No low-cardinality window (an `ntile(3)
    * over (partition by lang)` would serialize each language through
    * one task at 100 TB — the threshold-join shape is the scale-safe
    * equivalent).
    *
    * Cross-engine determinism: Spark `percentile` and DuckDB
    * `quantile_cont` both use the R-7 rank `(n-1)p` + linear
    * interpolation on identical 4-dp-quantized doubles; an interpolated
    * threshold is either an exact data value (integer rank) or lies
    * strictly between two distinct quantized values, so the `<=`
    * comparisons agree even under last-ulp drift.
    */
  def pplBuckets(s: SparkSession, dir: String): DataFrame = {
    val lm = TextAnalysis.lmScoreFrame(s, dir)
    val thr = lm.groupBy("lang")
      // CAST(1 AS DOUBLE)/3 in BOTH engines: a bare 1.0/3 literal is
      // DECIMAL division in either SQL dialect (6-digit truncation,
      // engine-dependent scale) — IEEE double division is bit-identical
      .agg(expr("percentile(lm_score, array(cast(1 as double)/3, cast(2 as double)/3))").as("t"))
      // snap thresholds to the 4-dp score grid: Spark `percentile` and
      // DuckDB `quantile_cont` interpolate with last-ulp differences,
      // and a doc whose score EQUALS a threshold flips buckets across
      // engines (hit at sf0.1). Tercile positions have fractional part
      // ∈ {0, 1/3, 2/3} — never .5 — so the floor-shift snap is itself
      // ulp-robust, and scores are 4-dp quantized so `<=` against the
      // snapped threshold is exact in both engines.
      .select(col("lang"),
        (floor(element_at(col("t"), 1) * 1e4 + lit(0.5)) / 1e4).as("t1"),
        (floor(element_at(col("t"), 2) * 1e4 + lit(0.5)) / 1e4).as("t2"))
    lm.join(broadcast(thr), "lang")
      .withColumn("bucket",
        when(col("lm_score") <= col("t1"), lit("head"))
          .when(col("lm_score") <= col("t2"), lit("middle"))
          .otherwise(lit("tail")))
      .select(col("doc_id"), col("lang"), col("lm_score"), col("bucket"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------------
  // q_source_sim — pairwise source similarity from MinHash sketch union
  // ---------------------------------------------------------------------

  /** Pairwise source-level Jaccard similarity (`q_source_sim`),
    * estimated from per-source MinHash signatures: each source's
    * signature component i is min over ALL its shingle hashes of
    * (aᵢ·h+bᵢ) mod p — i.e. the MinHash of the UNION of its documents'
    * shingle sets, computed as a plain min aggregate (MinHash is a
    * mergeable sketch; groupBy-min IS the distributed sketch union,
    * map-side combined, one shuffle). The estimate for a source pair is
    * the fraction of equal components — the standard corpus-overlap
    * triage before any pairwise document comparison (which source
    * scraped which other source).
    *
    * The pairwise stage joins the SIGNATURE frame with itself — one
    * row per source (a bounded catalog dimension, like the nation/
    * region dims), so the quadratic pair count is dim-sized and the
    * join broadcasts; the corpus-sized work is the single sketch pass.
    * Constants are Dedup's MinHash family (one source of truth — same
    * k=16 permutations, same shingle width, same modulus).
    */
  /** Cardinality contract / gate for the source-pair family. At or
    * below this many sources the pairwise stage runs LOCALLY on the
    * collected signature frame — exact all-pairs, the catalog-dimension
    * regime the shipped testdata lives in (20 sources). ABOVE it the
    * quadratic pair count stops being dim-sized (10⁵-10⁶ web domains →
    * 10¹⁰-10¹² pairs): [[sourceSim]] switches to the fully distributed
    * LSH band join (candidate pairs sharing ≥1 of the 4 MinHash bands —
    * the Dedup.minhashLsh machinery at source granularity) and
    * [[sourceOverlap]] df-caps its postings (the stop-shingle
    * precedent), so neither collects nor fans out quadratically.
    */
  val SourcePairLocalMax = 256L

  def sourceSim(s: SparkSession, dir: String): DataFrame = {
    import Dedup.MinhashA
    // the corpus-sized sketch pass runs ONCE into the shared signature
    // frame — |sources|×16 longs — because BOTH the cardinality probe and
    // the pairwise stage read it, and exchange reuse across
    // differently-aliased self-join subtrees is not guaranteed
    // (measured: it did not fire)
    val sig = sourceSig(s, dir)
    if (sig.count() <= SourcePairLocalMax) {
      // exact all-pairs on the driver-bounded collected frame
      val sigRows = sig.collect()
        .map(r => (r.getString(0),
          Seq.tabulate(MinhashA.size)(i => r.getLong(i + 1))))
      import s.implicits._
      val local = sigRows.toSeq.toDF("source", "sig")
      val a = local.select(col("source").as("source_a"), col("sig").as("sa"))
      val b = local.select(col("source").as("source_b"), col("sig").as("sb"))
      pairSims(a.join(broadcast(b), col("source_a") < col("source_b")))
    } else sourceSimBanded(sig)
  }

  /** High-cardinality path: candidate source pairs from the LSH band
    * equi-join over the distributed signature frame (same 4×4 banding
    * as Dedup.minhashLsh — a pair surfaces iff one band's 4 components
    * all match, i.e. est. Jaccard is in the band curve's recall
    * regime), then exact signature agreement per candidate. Emitted
    * pairs carry EXACTLY the values the all-pairs path would give
    * them; pairs sharing no band (low similarity — the triage
    * non-answers) are absent instead of materializing the quadratic
    * frame. The band exchange is pinned (AQE's byte-based coalesce
    * must not serialize the Θ(bucket²) fan-out — the coocPairs
    * lesson).
    */
  private def sourceSimBanded(sig: DataFrame): DataFrame = {
    import Dedup.{Bands, R, MinhashA}
    val sigArr = sig.select(col("source"),
      array(MinhashA.indices.map(i => col(s"m$i")): _*).as("sig"))
    val bandKeys = (0 until Bands).map { bi =>
      concat_ws(":", (bi * R until bi * R + R).map(j => col(s"m$j")): _*)
    }
    val n = sig.sparkSession.sessionState.conf.numShufflePartitions
    val banded = sig
      .select(col("source"), posexplode(array(bandKeys: _*)).as(Seq("band_id", "key")))
      .repartition(n, col("band_id"), col("key"))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band_id") === col("y.band_id") && col("x.key") === col("y.key") &&
          col("x.source") < col("y.source"))
      .select(col("x.source").as("source_a"), col("y.source").as("source_b"))
      .distinct()
    pairSims(cand
      .join(sigArr.select(col("source").as("source_a"), col("sig").as("sa")), "source_a")
      .join(sigArr.select(col("source").as("source_b"), col("sig").as("sb")), "source_b"))
  }

  /** Shared value stage: component agreement count + Jaccard estimate
    * from a (source_a, source_b, sa, sb) pair frame — both the local
    * all-pairs and the banded candidate frame land here, so the two
    * paths are value-identical by construction.
    */
  private def pairSims(pairs: DataFrame): DataFrame = {
    import Dedup.MinhashA
    pairs
      .withColumn("n_match",
        aggregate(zip_with(col("sa"), col("sb"),
            (x, y) => when(x === y, lit(1L)).otherwise(lit(0L))),
          lit(0L), (acc, x) => acc + x))
      .withColumn("est_jaccard",
        round(col("n_match").cast("double") / MinhashA.size, 4))
      .select(col("source_a"), col("source_b"), col("n_match"), col("est_jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** Session-persisted per-source MinHash signature frame (m0..m15):
    * min over all the source's shingle hashes of (aᵢ·h+bᵢ) mod p — the
    * distributed sketch union as one map-side-combined aggregate.
    * Bounded at |sources|×16 longs.
    */
  private def sourceSig(s: SparkSession, dir: String): DataFrame =
    graft.plans.Memo.shared(s, dir, "curation.sourceSig") {
      import Dedup.{MinhashA, MinhashB, ShingleN}
      val ex = Tables.documentsSpread(s, dir)
        .select(col("source"), explode(shingleHashes(col("text"), ShingleN)).as("h"))
      val mins = MinhashA.zip(MinhashB).zipWithIndex.map { case ((a, b), i) =>
        min(pmod(lit(a) * col("h") + lit(b), lit(HashP))).as(s"m$i")
      }
      ex.groupBy("source").agg(mins.head, mins.tail: _*)
    }

  /** DuckDB twin of [[sourceSim]] — same shingle fold, same MinHash
    * constants (generated from Dedup's, one source of truth).
    */
  def sourceSimOracleSql: String = {
    import Dedup.{MinhashA, MinhashB, ShingleN}
    val minExprs = MinhashA.zip(MinhashB).zipWithIndex.map { case ((a, b), i) =>
      s"min(($a * h + $b) % $HashP) AS m$i"
    }.mkString(", ")
    val matchExpr = MinhashA.indices
      .map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH toks AS (
       |  SELECT source, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
       |  FROM documents),
       |sgl AS (
       |  SELECT source, unnest(list_transform(
       |      generate_series(1, len(t) - ${ShingleN - 1}),
       |      i -> array_to_string(t[i:i + ${ShingleN - 1}], ' '))) AS g
       |  FROM toks WHERE len(t) >= $ShingleN),
       |ex AS (
       |  SELECT source, list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(string_split(g, ''), c -> CAST(ascii(c) AS BIGINT))),
       |    (x, c) -> (x * 31 + c) % $HashP) AS h
       |  FROM sgl),
       |sig AS (SELECT source, $minExprs FROM ex GROUP BY source)
       |SELECT a.source AS source_a, b.source AS source_b,
       |  CAST($matchExpr AS BIGINT) AS n_match,
       |  round(CAST($matchExpr AS DOUBLE) / ${MinhashA.size}, 4) AS est_jaccard
       |FROM sig a JOIN sig b ON a.source < b.source
       |ORDER BY source_a, source_b""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q_pack_efficiency — padding waste vs packing across sequence lengths
  // ---------------------------------------------------------------------

  /** Candidate training-sequence lengths. */
  val PackCandidateLens: Seq[Int] = Seq(128, 256, 512, 1024)

  /** Sequence-length planning table (`q_pack_efficiency`): for each
    * candidate length L, the cost of PADDED per-document batching
    * (each doc rounded up to ⌈ntok/L⌉ sequences) vs concat-packing
    * (⌈Σntok/L⌉ sequences, zero padding except the final tail) — the
    * table a pipeline reads before fixing its sequence length (pad
    * waste grows with L, truncation-free packing does not). One
    * column-pruned scan; the per-L fan-out is a 4-element explode on
    * the aggregate side; everything after the first agg is 4 rows.
    */
  def packEfficiency(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documentsSpread(s, dir)
      .select(size(tokens(col("text"))).cast("long").as("ntok"))
      .filter(col("ntok") > 0)
    val perL = d.select(explode(typedLit(PackCandidateLens)).as("seq_len"), col("ntok"))
      .groupBy("seq_len")
      .agg(count(lit(1)).as("n_docs"),
        sum("ntok").as("total_tokens"),
        sum(expr("(ntok + seq_len - 1) div seq_len")).as("padded_seqs"))
    perL
      .withColumn("packed_seqs",
        expr("(total_tokens + seq_len - 1) div seq_len"))
      .withColumn("pad_waste",
        r4c(lit(1.0) - col("total_tokens").cast("double") /
          (col("padded_seqs") * col("seq_len"))))
      .select(col("seq_len").cast("int").as("seq_len"), col("n_docs"),
        col("total_tokens"), col("padded_seqs"), col("packed_seqs"),
        col("pad_waste"))
      .orderBy("seq_len")
  }

  def packEfficiencyOracleSql: String =
    s"""WITH d AS (
       |  SELECT CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
       |           AS ntok
       |  FROM documents
       |  WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) > 0),
       |perl AS (
       |  SELECT CAST(l AS INTEGER) AS seq_len,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(ntok) AS BIGINT) AS total_tokens,
       |    CAST(sum((ntok + l - 1) // l) AS BIGINT) AS padded_seqs
       |  FROM d, unnest(${PackCandidateLens.mkString("[", ", ", "]")}) AS t(l)
       |  GROUP BY 1)
       |SELECT seq_len, n_docs, total_tokens, padded_seqs,
       |  (total_tokens + seq_len - 1) // seq_len AS packed_seqs,
       |  floor((1.0 - CAST(total_tokens AS DOUBLE) / (padded_seqs * seq_len))
       |        * 10000.0 + 0.5) / 10000.0 AS pad_waste
       |FROM perl ORDER BY seq_len""".stripMargin

  // ---------------------------------------------------------------------
  // q_vocab_coverage — OOV rate at candidate vocabulary sizes
  // ---------------------------------------------------------------------

  /** Candidate word-vocabulary sizes. */
  val VocabCandidates: Seq[Int] = Seq(10, 20, 30)

  /** Vocabulary-size planning table (`q_vocab_coverage`): for each
    * candidate size k, the fraction of corpus TOKEN OCCURRENCES covered
    * by the k most frequent words (ties broken by word) — the OOV-rate
    * curve read before fixing a tokenizer's vocabulary budget.
    *
    * Shape: token counts DERIVE from the session-persisted
    * (source, token) frame (zero extra corpus pass — the kl_drift
    * cache); each k's covered mass is a bounded TakeOrdered (top-k by
    * count desc, word) collected and summed on the driver — k is a
    * constant, so driver state is O(max k), the ANN-probe-set class.
    */
  def vocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val tt = sourceTokenCounts(s, dir)
      .groupBy("t").agg(sum("c_st").as("c"))
    val total = tt.agg(sum("c")).head().getLong(0)
    val topMax = tt.orderBy(col("c").desc, col("t"))
      .limit(VocabCandidates.max).collect().map(_.getLong(1))
    import s.implicits._
    VocabCandidates.map { k =>
      val covered = topMax.take(k).sum
      (k, covered, total,
        math.floor(covered.toDouble / total * 10000.0 + 0.5) / 10000.0)
    }.toDF("vocab_k", "covered", "total_tokens", "coverage")
      .orderBy("vocab_k")
  }

  def vocabCoverageOracleSql: String = {
    val ks = VocabCandidates.mkString("[", ", ", "]")
    s"""WITH tok AS (
       |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
       |  FROM documents),
       |tt AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM tt),
       |rk AS (SELECT c, row_number() OVER (ORDER BY c DESC, t) AS r FROM tt)
       |SELECT CAST(k AS INTEGER) AS vocab_k,
       |  CAST(sum(CASE WHEN r <= k THEN c ELSE 0 END) AS BIGINT) AS covered,
       |  max(total) AS total_tokens,
       |  floor(CAST(sum(CASE WHEN r <= k THEN c ELSE 0 END) AS DOUBLE)
       |        / max(total) * 10000.0 + 0.5) / 10000.0 AS coverage
       |FROM rk, tot, unnest($ks) AS u(k)
       |GROUP BY k ORDER BY vocab_k""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q_embed_drift — per-cluster mean-embedding drift from the corpus
  // ---------------------------------------------------------------------

  /** Embedding-space drift (`q_embed_drift`): per cluster label, the
    * cosine similarity of the cluster's MEAN embedding to the corpus
    * mean — the embedding-space companion to [[klDrift]]'s token-space
    * monitor (a cluster whose centroid swings away from the corpus
    * center is new content, collapse, or a labeling fault; the same
    * statistic over ingest batches watches embedding-model drift).
    *
    * Distributed + deterministic shape: ONE pass explodes vectors to
    * (label, dim, value) and sums per (label, dim) in DECIMAL(38,18)
    * — exact ⇒ associative ⇒ partitioning-independent (the kl_drift
    * rule); corpus sums DERIVE from label sums (exact decimals add
    * associatively — no second pass); means and the 64-term cosine
    * accumulate the same way (per-dim double products, decimal sum),
    * so no collect-and-fold anywhere and every stage is a plain
    * partial-combined aggregate. All frames after the first aggregate
    * are (labels × dims)-sized.
    */
  /** Additive grouped stage — the sufficient statistic for the drift
    * card (and, summed per batch in a [[graft.streaming.Additive]],
    * the live monitor's state): per (label, dim) the EXACT
    * decimal coordinate sum + member count. Decimal adds are exact ⇒
    * associative ⇒ batching/partitioning-independent (the r7 float-sum
    * convention), which is what makes the stream == batch.
    */
  private[graft] def embedGrouped(emb: DataFrame): DataFrame =
    emb.select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg(sum(col("v").cast("decimal(38,18)")).as("sx"), count(lit(1)).as("n"))

  /** Value stage over the grouped statistic: per-label mean vector vs
    * the corpus mean vector, as a rounded cosine.
    */
  private[graft] def embedDriftFromSums(sums: DataFrame): DataFrame = {
    val corpus = sums.groupBy("dim").agg(sum("sx").as("cx"), sum("n").as("cn"))
    val m = sums.join(corpus, "dim")
      .withColumn("ma", col("sx").cast("double") / col("n"))
      .withColumn("mc", col("cx").cast("double") / col("cn"))
    m.groupBy("label")
      .agg(max("n").as("n_vectors"),
        sum((col("ma") * col("mc")).cast("decimal(38,18)")).as("dot"),
        sum((col("ma") * col("ma")).cast("decimal(38,18)")).as("aa"),
        sum((col("mc") * col("mc")).cast("decimal(38,18)")).as("cc"))
      .select(col("label"), col("n_vectors"),
        (floor(col("dot").cast("double") /
          (sqrt(col("aa").cast("double")) * sqrt(col("cc").cast("double")))
          * KlDp + lit(0.5)) / KlDp).as("cos_to_corpus"))
      .orderBy("label")
  }

  def embedDrift(s: SparkSession, dir: String): DataFrame =
    embedDriftFromSums(embedGrouped(Tables.embeddingsSpread(s, dir)))

  def embedDriftOracleSql: String =
    s"""WITH ex AS (
       |  SELECT label, i AS dim, embedding[i] AS v
       |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)),
       |sums AS (
       |  SELECT label, dim, sum(CAST(v AS DECIMAL(38,18))) AS sx,
       |         CAST(count(*) AS BIGINT) AS n
       |  FROM ex GROUP BY 1, 2),
       |corpus AS (
       |  SELECT dim, sum(sx) AS cx, CAST(sum(n) AS BIGINT) AS cn
       |  FROM sums GROUP BY 1),
       |m AS (
       |  SELECT label, n,
       |         CAST(sx AS DOUBLE) / n AS ma, CAST(cx AS DOUBLE) / cn AS mc
       |  FROM sums JOIN corpus USING (dim))
       |SELECT label, CAST(max(n) AS BIGINT) AS n_vectors,
       |  floor(CAST(sum(CAST(ma * mc AS DECIMAL(38,18))) AS DOUBLE)
       |    / (sqrt(CAST(sum(CAST(ma * ma AS DECIMAL(38,18))) AS DOUBLE))
       |       * sqrt(CAST(sum(CAST(mc * mc AS DECIMAL(38,18))) AS DOUBLE)))
       |    * 1e6 + 0.5) / 1e6 AS cos_to_corpus
       |FROM m GROUP BY label ORDER BY label""".stripMargin

  // ---------------------------------------------------------------------
  // q_term_search — conjunctive term search over the corpus
  // ---------------------------------------------------------------------

  /** Fixed conjunctive query terms (generator-vocabulary words). */
  val SearchTerms: Seq[String] = Seq("spark", "window", "merge")

  /** Conjunctive term search (`q_term_search`): documents containing
    * ALL query terms, with per-term occurrence counts — the ad-hoc
    * search staple. The Spark-honest shape for a one-off query is a
    * MAP-ONLY scan filter (`array_intersect` against the literal term
    * set — no index, no shuffle, embarrassingly parallel); a standing
    * search workload would build the postings table once (the
    * vocab_topk explode shape) and semi-join per query — noted, not
    * built, because the catalog's one-off semantics don't amortize an
    * index.
    */
  def termSearch(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val counts = SearchTerms.zipWithIndex.map { case (t, i) =>
      size(filter(toks, x => x === lit(t))).cast("long").as(s"n_${t}")
    }
    Tables.documentsSpread(s, dir)
      .select(col("doc_id") +: counts: _*)
      .filter(SearchTerms.map(t => col(s"n_${t}") > 0).reduce(_ && _))
      .orderBy("doc_id")
  }

  def termSearchOracleSql: String = {
    val cols = SearchTerms.map(t =>
      s"CAST(len(list_filter(toks, x -> x = '$t')) AS BIGINT) AS n_$t").mkString(", ")
    val preds = SearchTerms.map(t => s"n_$t > 0").mkString(" AND ")
    s"""WITH tk AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
       |  FROM documents)
       |SELECT * FROM (SELECT doc_id, $cols FROM tk)
       |WHERE $preds
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q_rate_anomaly — hourly event-rate z-score vs trailing day
  // ---------------------------------------------------------------------

  /** Trailing window width (hours) and anomaly threshold. */
  val AnomalyTrailHours = 24
  val AnomalyMinTrail = 12

  /** Event-rate anomaly detection (`q_rate_anomaly`): per hour, the
    * z-score of the event count against the trailing 24 h mean/stddev —
    * the ops-dashboard staple (traffic spike / outage detection). Hours
    * with |z| ≥ 2 flag as anomalies; hours with under half a day of
    * trailing history emit NULL z (insufficient baseline).
    *
    * Scale + determinism: the window runs over the HOURLY AGGREGATE
    * (calendar-bounded input — the moving-average precedent), and all
    * window arithmetic is on INTEGER counts (sum, sum of squares), so
    * both engines compute identical exact sums regardless of their
    * window-aggregation tree shape; the float work (mean, variance,
    * z) happens per output row in pinned association order with the
    * shared floor-shift rounding.
    */
  /** Bucket span (hours) for the two-phase trailing window; the 24 h
    * trail needs only a 24-hour overlap copied across boundaries.
    */
  val AnomalyBucketHours = 1024L

  def rateAnomaly(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("n"))
      // floor(x/3600) — not cast-truncation — so a pre-1970 (negative
      // epoch) hour lands in the same bucket as DuckDB's `//` floor
      // division. hr is hour-truncated in UTC, so x is a multiple of
      // 3600 and the double division is exact.
      .withColumn("hr_no",
        floor(unix_timestamp(col("hr")).cast("double") / 3600.0).cast("long"))
      // two-phase trailing window (the movingAvg helper-copy shape):
      // hours bucket into 1024 h ranges, the last 24 h of each bucket
      // are copied into the next so every hour's [h-24, h-1] trail is
      // complete inside its bucket, and the window partitions by
      // bucket — a decades-long event history no longer single-tasks
      .withColumn("bkt",
        floor(col("hr_no") / lit(AnomalyBucketHours.toDouble)).cast("long"))
    val helpers = hourly
      .filter(col("hr_no") >=
        (col("bkt") + 1) * AnomalyBucketHours - AnomalyTrailHours)
      .withColumn("bkt", col("bkt") + 1).withColumn("_helper", lit(true))
    val w = Window.partitionBy("bkt").orderBy("hr_no")
      .rangeBetween(-AnomalyTrailHours.toLong, -1L)
    val stats = hourly.withColumn("_helper", lit(false)).unionByName(helpers)
      .withColumn("t_cnt", count(lit(1)).over(w))
      .withColumn("t_sum", sum("n").over(w))
      .withColumn("t_sq", sum(col("n") * col("n")).over(w))
      .filter(!col("_helper"))
    val mean = col("t_sum").cast("double") / col("t_cnt")
    val varPop = col("t_sq").cast("double") / col("t_cnt") - mean * mean
    val z = (col("n").cast("double") - mean) /
      sqrt(greatest(varPop, lit(1e-12)))
    stats
      .withColumn("z", when(col("t_cnt") >= AnomalyMinTrail,
        floor(z * lit(100.0) + lit(0.5)) / 100.0).otherwise(lit(null))
        .cast("double"))
      .withColumn("anomaly", coalesce(abs(col("z")) >= 2.0, lit(false)))
      .select(date_format(col("hr"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("n"), col("z"), col("anomaly"))
      .orderBy("hour")
  }

  def rateAnomalyOracleSql: String =
    s"""WITH hourly AS (
       |  SELECT date_trunc('hour', ts) AS hr, CAST(count(*) AS BIGINT) AS n
       |  FROM events GROUP BY 1),
       |hx AS (SELECT hr, n, CAST(epoch(CAST(hr AS TIMESTAMP)) // 3600 AS BIGINT) AS hr_no
       |       FROM hourly),
       |st AS (
       |  SELECT hr, n,
       |    CAST(count(*) OVER w AS BIGINT) AS t_cnt,
       |    CAST(sum(n) OVER w AS BIGINT) AS t_sum,
       |    CAST(sum(n * n) OVER w AS BIGINT) AS t_sq
       |  FROM hx
       |  WINDOW w AS (ORDER BY hr_no RANGE BETWEEN $AnomalyTrailHours PRECEDING
       |               AND 1 PRECEDING))
       |SELECT strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour, n,
       |  CASE WHEN t_cnt >= $AnomalyMinTrail THEN
       |    floor((CAST(n AS DOUBLE) - CAST(t_sum AS DOUBLE) / t_cnt)
       |      / sqrt(greatest(CAST(t_sq AS DOUBLE) / t_cnt
       |             - (CAST(t_sum AS DOUBLE) / t_cnt) * (CAST(t_sum AS DOUBLE) / t_cnt),
       |             1e-12)) * 100.0 + 0.5) / 100.0
       |  ELSE NULL END AS z,
       |  coalesce(abs(CASE WHEN t_cnt >= $AnomalyMinTrail THEN
       |    floor((CAST(n AS DOUBLE) - CAST(t_sum AS DOUBLE) / t_cnt)
       |      / sqrt(greatest(CAST(t_sq AS DOUBLE) / t_cnt
       |             - (CAST(t_sum AS DOUBLE) / t_cnt) * (CAST(t_sum AS DOUBLE) / t_cnt),
       |             1e-12)) * 100.0 + 0.5) / 100.0
       |  ELSE NULL END) >= 2.0, false) AS anomaly
       |FROM st ORDER BY hour""".stripMargin

  // ---------------------------------------------------------------------
  // q_novelty — per-doc fraction of n-grams first seen earlier
  // ---------------------------------------------------------------------

  /** Novelty gram width (the decontamination family's 5-gram unit). */
  val NoveltyShingleN = 5

  /** Per-document novelty (`q_novelty`): the fraction of a document's
    * distinct 5-grams NOT already present in any earlier document
    * (doc_id order = ingest order) — the memorization-risk / data-
    * freshness curve a curation pass watches as a crawl ages: novelty
    * decaying toward 0 means new data is re-crawl, not new content.
    *
    * Distributed shape: gram first-occurrence is one gram-keyed
    * `min(doc_id)` aggregate (map-side combined, gram-vocabulary
    * sized); the per-doc verdict joins the gram stream back against
    * that frame (AQE — the first-occurrence table grows with the gram
    * vocabulary, force-broadcast is unbounded; the tf⋈df precedent)
    * and reduces per doc. The gram stream is RECOMPUTED for the probe
    * side rather than persisted: it is map-only explode work riding a
    * column-pruned scan — two cheap scans beat materializing a
    * corpus-gram-sized frame (the opposite call from the kl_drift
    * aggregate, which is post-shuffle and small).
    */
  def novelty(s: SparkSession, dir: String): DataFrame = {
    def grams = Tables.documentsSpread(s, dir)
      .select(col("doc_id"),
        explode(shingleHashes(col("text"), NoveltyShingleN)).as("h"))
    val first = grams.groupBy("h").agg(min("doc_id").as("first_id"))
    grams.join(first, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_id") < col("doc_id"), 1L).otherwise(0L)).as("n_seen"))
      .select(col("doc_id"), col("n_grams"), col("n_seen"),
        r4c(lit(1.0) - col("n_seen").cast("double") / col("n_grams")).as("novelty"))
      .orderBy("doc_id")
  }

  def noveltyOracleSql: String = {
    val n = NoveltyShingleN
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(string_split(g, ''), c -> CAST(ascii(c) AS BIGINT))),
       |    (a, c) -> (a * 31 + c) % $HashP) AS h
       |  FROM (SELECT doc_id, unnest(list_distinct(list_transform(
       |          generate_series(1, len(t) - ${n - 1}),
       |          i -> array_to_string(t[i:i + ${n - 1}], ' ')))) AS g
       |        FROM toks WHERE len(t) >= $n)),
       |fst AS (SELECT h, min(doc_id) AS first_id FROM sh GROUP BY h)
       |SELECT s.doc_id,
       |  CAST(count(*) AS BIGINT) AS n_grams,
       |  CAST(sum(CASE WHEN f.first_id < s.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_seen,
       |  floor((1.0 - CAST(sum(CASE WHEN f.first_id < s.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
       |         / count(*)) * 10000.0 + 0.5) / 10000.0 AS novelty
       |FROM sh s JOIN fst f USING (h)
       |GROUP BY s.doc_id ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q_lang_mismatch — per-source declared-vs-predicted language audit
  // ---------------------------------------------------------------------

  /** Per-source language-label audit (`q_lang_mismatch`): of each
    * source's documents where the n-gram language-ID heuristic is
    * confident (not `unknown`), how many disagree with the declared
    * `lang` column — the metadata-trust monitor (a source whose labels
    * stop matching its content is mislabeled upstream or changed
    * content type). Map-only scoring riding one scan into a dim-sized
    * aggregate; the rate denominator carries the ANSI `/0` guard
    * (`greatest(n,1)`) mirrored in the oracle.
    */
  def langMismatch(s: SparkSession, dir: String): DataFrame =
    langMismatchRates(langMismatchCounts(Tables.documentsSpread(s, dir)))

  /** Per-source additive counters from a (source, lang, text) frame —
    * summed across batches in a [[graft.streaming.Additive]], they feed
    * [[langMismatchRates]] exactly like the batch frame
    * (CorpusCurationSpec).
    */
  private[graft] def langMismatchCounts(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), col("lang").as("declared"),
        langId(col("text")).as("pred"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pred") =!= lit("unknown"), 1L).otherwise(0L)).as("n_confident"),
        sum(when(col("pred") =!= lit("unknown") && col("pred") =!= col("declared"), 1L)
          .otherwise(0L)).as("n_mismatch"))

  /** Rate stage over the counters. */
  private[graft] def langMismatchRates(counts: DataFrame): DataFrame =
    counts
      .select(col("source"), col("n_docs"), col("n_confident"), col("n_mismatch"),
        r4c(col("n_mismatch").cast("double") / greatest(col("n_confident"), lit(1L)))
          .as("mismatch_rate"))
      .orderBy("source")

  // ---------------------------------------------------------------------
  // q_kl_drift — per-source unigram KL divergence from the corpus
  // ---------------------------------------------------------------------

  /** KL rounding — floor-shift at 6 dp (log arithmetic; the decimal
    * sum below is exact, so only the final double rounding matters).
    */
  val KlDp = 1e6

  /** Per-source unigram-distribution drift (`q_kl_drift`):
    * KL(P_source ‖ P_corpus) over token unigram distributions — the
    * standing curation monitor for "this crawl slice stopped looking
    * like the corpus" (vocabulary shift, language drift, template
    * floods). Per source: token count, distinct-token count, KL in
    * nats.
    *
    * Distributed shape: ONE corpus pass (explode → (source, token)
    * counts, map-side combined); the token totals, per-source totals
    * and the corpus total all DERIVE from that frame — never a second
    * pass. The per-token contribution joins are vocabulary-sized (AQE
    * picks broadcast when the vocab fits) and dim-sized respectively.
    *
    * Cross-engine determinism: each contribution is identical double
    * arithmetic (`ln` is reproducible across both engines — the
    * q_lm_score precedent); the per-source SUM is over
    * DECIMAL(38,18)-cast contributions, which is exact and therefore
    * ASSOCIATIVE — no collect-and-fold needed for determinism, the
    * aggregation stays a plain partial-combined agg at any scale
    * (unlike a float sum, whose value depends on partitioning).
    */
  def klDrift(s: SparkSession, dir: String): DataFrame =
    klFromCounts(sourceTokenCounts(s, dir))

  /** Value stage from a (source, t, c_st) count frame
    * ([[sourceTokenCountsOf]]): counts are additive and the decimal
    * contribution sum is exact hence associative, so the frame summed
    * per batch in a [[graft.streaming.Additive]] gives the batch rows
    * EXACTLY after any prefix of batches (CorpusCurationSpec).
    */
  private[graft] def klFromCounts(st: DataFrame): DataFrame = {
    val tt = st.groupBy("t").agg(sum("c_st").as("c_t"))
    val ns = st.groupBy("source")
      .agg(sum("c_st").as("n_tokens"), count(lit(1)).as("n_distinct"))
    val tot = tt.agg(sum("c_t").as("n"))
    val contrib = (col("c_st").cast("double") / col("n_tokens")) *
      log((col("c_st").cast("double") * col("n")) /
        (col("n_tokens").cast("double") * col("c_t")))
    st.join(ns, "source")
      .join(tt, "t")
      .crossJoin(broadcast(tot))
      .groupBy("source", "n_tokens", "n_distinct")
      .agg(sum(contrib.cast("decimal(38,18)")).as("klx"))
      .select(col("source"), col("n_tokens"), col("n_distinct"),
        (floor(col("klx").cast("double") * KlDp + lit(0.5)) / KlDp).as("kl"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------------
  // q_quality_calibration — do the two quality signals agree?
  // ---------------------------------------------------------------------

  /** Quality-vs-perplexity calibration curve (`q_quality_calibration`):
    * mean bigram-LM score per heuristic-quality decile — the standing
    * check that a cheap map-side filter and an expensive model-based
    * filter rank documents the same way (a flat or inverted curve means
    * one of the gates is miscalibrated for this corpus; every filtered
    * pretraining run does this comparison before trusting a cheap gate).
    *
    * Shape: the LM side is the session-persisted [[TextAnalysis
    * .lmScoreFrame]] (narrow, built once); quality is map-side column
    * arithmetic riding a documents scan; combining two per-doc signals
    * is one doc_id equi-join (corpus-sized on both sides — the honest
    * unavoidable shuffle, left to AQE) into an 11-bucket aggregate.
    * The per-bucket mean uses the q_kl_drift DECIMAL(38,18) sum —
    * exact, associative, partitioning-independent.
    */
  def qualityCalibration(s: SparkSession, dir: String): DataFrame = {
    val lm = TextAnalysis.lmScoreFrame(s, dir).select("doc_id", "lm_score")
    val q = Tables.documentsSpread(s, dir)
      .select(col("doc_id"), qualityScore(col("text")).as("quality"))
    lm.join(q, "doc_id")
      .withColumn("qbucket", floor(col("quality") * lit(10.0)).cast("long"))
      .groupBy("qbucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("lm_score").cast("decimal(38,18)")).as("sx"))
      .select(col("qbucket"), col("n_docs"),
        (floor(col("sx").cast("double") / col("n_docs") * KlDp + lit(0.5)) / KlDp)
          .as("mean_lm"))
      .orderBy("qbucket")
  }

  // ---------------------------------------------------------------------
  // q_source_overlap — exact source-pair Jaccard / containment
  // ---------------------------------------------------------------------

  /** Shared floor-shift rounding (set-ratio rationals can land on .5). */
  private def r4c(c: Column): Column = floor(c * lit(10000.0) + lit(0.5)) / 10000.0

  /** Exact source-pair overlap (`q_source_overlap`): Jaccard AND both
    * containment orientations over each source's DISTINCT shingle set —
    * the exact companion to [[sourceSim]]'s MinHash estimate (the spec
    * checks the estimate against this within the k=16 sampling bound).
    * Containment is the mirror-detection signal proper: a small source
    * fully contained in a big one has low Jaccard but containment ≈ 1.
    *
    * Distributed shape: the postings co-occurrence pattern (Dedup's
    * candidate generator) lifted to source granularity — distinct
    * (source, shingle) postings, per-shingle source pairs, one
    * map-side-combined pair count. Per-shingle fan-out is bounded by
    * C(|sources|, 2) in the catalog-dimension regime (≤
    * [[SourcePairLocalMax]] sources — the shipped data's 20, where the
    * quadratic term is dim-sized and the answer is EXACT over all
    * shingles); above the gate the postings are df-capped at
    * [[SourceOverlapMaxDf]] so the fan-out is C(cap, 2) per shingle
    * regardless of source cardinality, and the reported overlap is
    * exact over the discriminative-shingle universe.
    */
  /** Stop-shingle df cap for the high-cardinality overlap path:
    * shingles present in MORE sources than this are dropped before the
    * pair join (the Dedup.MaxShingleDf precedent at source
    * granularity), bounding the per-shingle fan-out at C(cap, 2)
    * instead of C(|sources|, 2). Above the [[SourcePairLocalMax]] gate
    * the operator therefore reports overlap over the DISCRIMINATIVE
    * shingle universe (source-df ≤ cap) — sizes and intersections both
    * restricted, so jaccard/containment stay a coherent exact measure
    * of that universe; ubiquitous boilerplate shingles carry no
    * pair-specific signal and are exactly what a 10⁶-domain crawl
    * must not fan out on.
    */
  val SourceOverlapMaxDf = 256L

  /** Session-persisted full overlap output: BOTH the catalog query and
    * the PageRank edge set consume the pair join's result, and the
    * pair fan-out + grouped count is the expensive part (≈30 cpu-s at
    * sf0.1) — one materialization serves both (the shingle-cache
    * economics). C(sources, 2)-bounded rows, the sanctioned persist
    * class. The build's nSources probe (a driver count picking the
    * df-cap branch) runs once per (session, dir).
    */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame =
    graft.plans.Memo.shared(s, dir, "curation.sourceOverlap") {
      val postAll = postings(s, dir)
      val nSources = postAll.select("source").distinct().count()
      val post =
        if (nSources <= SourcePairLocalMax) postAll
        else {
          // df-capped postings, exchange pinned on h: the pair join fans
          // out per-shingle and AQE's byte-sized coalesce must not
          // serialize it (the coocPairs lesson)
          val hot = postAll.groupBy("h").agg(count(lit(1)).as("df"))
            .filter(col("df") > SourceOverlapMaxDf).select("h")
          postAll.join(hot, Seq("h"), "left_anti")
            .repartition(s.sessionState.conf.numShufflePartitions, col("h"))
        }
      val sz = post.groupBy("source").agg(count(lit(1)).as("n"))
      val inter = post.select(col("source").as("source_a"), col("h"))
        .join(post.select(col("source").as("source_b"), col("h")), "h")
        .filter(col("source_a") < col("source_b"))
        .groupBy("source_a", "source_b").agg(count(lit(1)).as("inter"))
      inter
        .join(broadcast(sz.select(col("source").as("source_a"), col("n").as("na"))), "source_a")
        .join(broadcast(sz.select(col("source").as("source_b"), col("n").as("nb"))), "source_b")
        .select(col("source_a"), col("source_b"), col("inter"),
          r4c(col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jaccard"),
          r4c(col("inter").cast("double") / col("na")).as("cont_a"),
          r4c(col("inter").cast("double") / col("nb")).as("cont_b"))
        .orderBy("source_a", "source_b")
    }

  /** Distinct (source, shingle-hash) postings, session-persisted: the
    * overlap operator reads this frame THREE times (both self-join
    * sides + the size aggregate), and exchange reuse across
    * differently-aliased subtrees is not guaranteed — without the
    * persist each reference re-runs the corpus explode+distinct
    * (measured as duplicate scans in the final adaptive plan). The
    * frame is the distinct postings set — bounded by corpus vocabulary
    * × source count, the same class Dedup persists its shingle frame
    * in.
    */
  private def postings(s: SparkSession, dir: String): DataFrame =
    graft.plans.Memo.shared(s, dir, "curation.postings") {
      import Dedup.ShingleN
      Tables.documentsSpread(s, dir)
        .select(col("source"), explode(shingleHashes(col("text"), ShingleN)).as("h"))
        .distinct()
    }

  def sourceOverlapOracleSql: String = {
    import Dedup.ShingleN
    s"""WITH toks AS (
       |  SELECT source, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
       |  FROM documents),
       |sgl AS (
       |  SELECT source, unnest(list_transform(
       |      generate_series(1, len(t) - ${ShingleN - 1}),
       |      i -> array_to_string(t[i:i + ${ShingleN - 1}], ' '))) AS g
       |  FROM toks WHERE len(t) >= $ShingleN),
       |post AS (
       |  SELECT DISTINCT source, list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(string_split(g, ''), c -> CAST(ascii(c) AS BIGINT))),
       |    (x, c) -> (x * 31 + c) % $HashP) AS h
       |  FROM sgl),
       |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM post GROUP BY 1),
       |iv AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |         CAST(count(*) AS BIGINT) AS inter
       |  FROM post a JOIN post b ON a.h = b.h AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT source_a, source_b, inter,
       |  floor(CAST(inter AS DOUBLE) / (za.n + zb.n - inter) * 10000.0 + 0.5) / 10000.0 AS jaccard,
       |  floor(CAST(inter AS DOUBLE) / za.n * 10000.0 + 0.5) / 10000.0 AS cont_a,
       |  floor(CAST(inter AS DOUBLE) / zb.n * 10000.0 + 0.5) / 10000.0 AS cont_b
       |FROM iv JOIN sz za ON za.source = iv.source_a
       |        JOIN sz zb ON zb.source = iv.source_b
       |ORDER BY source_a, source_b""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q_source_rank — PageRank over the content-sharing source graph
  // ---------------------------------------------------------------------

  /** Damping / teleport constants (the Brin/Page values — written as
    * separate LITERALS, never derived as `1 - 0.85`: the subtraction
    * lands one ulp off the double nearest to 0.15, and the oracle
    * parses `0.15` directly).
    */
  val PrDamping = 0.85
  val PrJump = 0.15
  val PrIters = 8

  /** Cross-source overlap pairs as the PageRank edge set — a slim
    * projection of the SESSION-PERSISTED [[sourceOverlap]] result (one
    * pair join serves the catalog query and all 8 power-iteration
    * rounds; the kl_drift 8-scan lesson).
    */
  private def prPairs(s: SparkSession, dir: String): DataFrame =
    sourceOverlap(s, dir).select("source_a", "source_b", "inter")

  /** `q_source_rank`: weighted PageRank over the content-sharing
    * source graph — nodes are sources, symmetric edges weighted by the
    * [[sourceOverlap]] shared-discriminative-shingle counts. The
    * host-authority staple of crawl curation (who ORIGINATES content
    * vs who mirrors it): a source central to the sharing graph is a
    * syndication hub, and its rank is the standard prior for
    * quality-weighting or demoting its documents.
    *
    * Distributed shape: [[PrIters]] fixed power-iteration rounds, each
    * one equi-join of the persisted edge frame against the previous
    * rank vector plus one grouped sum — at web scale (10⁶⁺ hosts) both
    * sides stay distributed and each round is one shuffle keyed by
    * source; here the graph is catalog-dimension-sized and the rounds
    * are metadata work. Mass from sources with no out-edges is
    * dropped (the sink-loss convention — deterministic, and isolated
    * sources hold exactly the teleport mass), noted rather than
    * redistributed so the oracle stays a pure unrolled expression.
    *
    * Determinism: each edge contribution `r·w/wout` is a bit-identical
    * double in both engines (single-op IEEE chain over identical
    * inputs); per-target sums cast every term to DECIMAL(38,18) and
    * sum decimals — exact ⇒ associative ⇒ partitioning-independent
    * (the r7 float-sum convention) — and the final SELECTION key is
    * the integer `pr_micro = floor(pr·1e9 + 0.5)`. The oracle unrolls
    * all [[PrIters]] rounds in SQL with the generated overlap oracle
    * as its edge subquery (one source of truth).
    */
  /** `localPrEdgeCap` bounds the driver-local PageRank fast path (r17,
    * the Components/Bpe bounded-local pattern): the source graph is
    * dim²-bounded (sources, not documents), and below this many
    * symmetric edges the 8 checkpointed power-iteration rounds are
    * pure job latency (~8 sequential localCheckpoint jobs for
    * metadata-sized work — q_source_rank measured 3.7-5.8 s wall at
    * sf0.1). The local rounds reproduce the distributed arithmetic
    * BIT-IDENTICALLY: the same shortest-representation double →
    * DECIMAL(38,18) HALF_UP cast Spark's Cast performs, exact decimal
    * partial sums (associative, so fold order is free), and the same
    * double chain for the damping step — OperatorsSpec pins local ==
    * distributed. At web scale (10⁶⁺ hosts) the edge set exceeds the
    * cap and the distributed rounds run unchanged. Specs pass 0.
    */
  def sourceRank(s: SparkSession, dir: String, localPrEdgeCap: Long = 65536L): DataFrame = {
    val pairs = prPairs(s, dir)
    val nodesAll = Tables.documentsSpread(s, dir).select(col("source")).distinct()
    // the pair frame is session-persisted and dim²-bounded; one cheap
    // count gates the edge collect, and the node collect is bounded by
    // a limit probe (a corpus can have many sources but few overlaps —
    // the Components reflexive-pair lesson)
    if (localPrEdgeCap > 0 && pairs.count() * 2 <= localPrEdgeCap) {
      val nodeRows = nodesAll.limit(localPrEdgeCap.toInt + 1).collect()
      if (nodeRows.length <= localPrEdgeCap) {
        val pr = localSourceRank(s, nodeRows.map(_.getString(0)),
          pairs.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))))
        import s.implicits._
        return pr.toSeq.toDF("source", "pr")
          .select(col("source"),
            floor(col("pr") * lit(1e9) + lit(0.5)).cast("long").as("pr_micro"))
          .withColumn("pr", col("pr_micro").cast("double") / lit(1e9))
          .orderBy(col("pr_micro").desc, col("source"))
      }
    }
    // the loop references edges/outw/nodes EVERY round and chains r
    // round-over-round: without per-round localCheckpoints the final
    // plan embeds 8 nested rounds (re-running outw's agg and the
    // corpus-distinct nodes scan per round, and paying Catalyst +
    // codegen on a growing tree — measured 70 cpu-s at sf0.1 for what
    // is metadata-sized work). The Components convention: checkpoint
    // the loop-invariant frames once and the rank vector per round —
    // every round then executes one join+agg over O(edges) rows with
    // an O(1) plan. Values are unchanged: the decimal sums are exact
    // and materialization does not reorder anything else.
    val edges = pairs.select(col("source_a").as("esrc"),
        col("source_b").as("edst"), col("inter").as("w"))
      .unionByName(pairs.select(col("source_b").as("esrc"),
        col("source_a").as("edst"), col("inter").as("w")))
      .localCheckpoint()
    val outw = edges.groupBy("esrc").agg(sum("w").as("wout")).localCheckpoint()
    val nodes = Tables.documentsSpread(s, dir).select(col("source")).distinct()
      .localCheckpoint()
    val n = nodes.count()
    var r = nodes.select(col("source"), (lit(1.0) / n).as("pr"))
    for (_ <- 1 to PrIters) {
      val contrib = edges
        .join(outw, Seq("esrc"))
        .join(r.select(col("source").as("esrc"), col("pr")), Seq("esrc"))
        .select(col("edst").as("source"),
          (col("pr") * col("w").cast("double") / col("wout").cast("double"))
            .cast("decimal(38,18)").as("c"))
        .groupBy("source").agg(sum("c").as("cs"))
      r = nodes.join(contrib, Seq("source"), "left")
        .select(col("source"),
          (lit(PrJump) / n +
            lit(PrDamping) * coalesce(col("cs").cast("double"), lit(0.0))).as("pr"))
        .localCheckpoint()
    }
    r.select(col("source"),
        floor(col("pr") * lit(1e9) + lit(0.5)).cast("long").as("pr_micro"))
      .withColumn("pr", col("pr_micro").cast("double") / lit(1e9))
      .orderBy(col("pr_micro").desc, col("source"))
  }

  /** Driver-local power iteration, arithmetic-identical to the
    * distributed loop: per-edge contribution `pr · w / wout` is one
    * IEEE double chain (mul then div, the expression's own
    * associativity); each term is cast to DECIMAL(38,18) exactly as
    * Spark's Cast does (shortest-repr BigDecimal of the double,
    * HALF_UP to scale 18 — `java.math.BigDecimal.valueOf` + setScale);
    * per-target sums add decimals (exact ⇒ order-free); the damping
    * step is the same double expression with the decimal converted
    * back via BigDecimal.doubleValue (= Spark Decimal.toDouble).
    */
  private[graft] def localSourceRank(s: SparkSession, nodes: Array[String],
      pairs: Array[(String, String, Long)]): Array[(String, Double)] = {
    import java.math.{BigDecimal => JBD, RoundingMode}
    // pairs and nodes come from the same documents, so every endpoint
    // is a node; the distributed rounds would drop a stray edge in the
    // rank-vector join, so fail loudly instead of diverging from them
    val known = nodes.toSet
    val stray = pairs.iterator.flatMap { case (a, b, _) => Iterator(a, b) }
      .filterNot(known).take(3).toSeq
    require(stray.isEmpty,
      s"source rank: edge endpoints not in the node set: ${stray.mkString(", ")}")
    val edges = pairs.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
    val wout = new java.util.HashMap[String, Long]()
    edges.foreach { case (src, _, w) =>
      wout.merge(src, w, (x, y) => x + y) }
    val n = nodes.length
    var r = nodes.map(src => src -> (1.0 / n)).toMap
    for (_ <- 1 to PrIters) {
      val cs = new java.util.HashMap[String, JBD]()
      edges.foreach { case (src, dst, w) =>
        val term = JBD.valueOf(r(src) * w.toDouble / wout.get(src).toDouble)
          .setScale(18, RoundingMode.HALF_UP)
        cs.merge(dst, term, (x, y) => x.add(y))
      }
      r = nodes.map { src =>
        val c = cs.get(src)
        src -> (PrJump / n + PrDamping * (if (c == null) 0.0 else c.doubleValue))
      }.toMap
    }
    nodes.map(src => src -> r(src))
  }

  /** DuckDB twin of [[sourceRank]]: the generated overlap oracle as
    * the edge subquery, then all [[PrIters]] rounds unrolled as CTEs
    * r0..r[[PrIters]] with the identical arithmetic (decimal-exact
    * contribution sums, literal damping constants).
    */
  def sourceRankOracleSql: String = {
    def round(i: Int): String =
      s"""r$i AS (
         |  SELECT nodes.source,
         |    (CAST($PrJump AS DOUBLE) / n) + CAST($PrDamping AS DOUBLE)
         |      * COALESCE(CAST(cs AS DOUBLE), CAST(0 AS DOUBLE)) AS pr
         |  FROM nodes CROSS JOIN nn LEFT JOIN (
         |    SELECT edst AS source,
         |      sum(CAST(pr * CAST(w AS DOUBLE) / CAST(wout AS DOUBLE)
         |        AS DECIMAL(38,18))) AS cs
         |    FROM edges JOIN outw USING (esrc)
         |    JOIN r${i - 1} ON r${i - 1}.source = edges.esrc
         |    GROUP BY 1) c ON c.source = nodes.source)""".stripMargin
    s"""WITH ov AS (SELECT source_a, source_b, inter FROM ($sourceOverlapOracleSql) o),
       |edges AS (
       |  SELECT source_a AS esrc, source_b AS edst, inter AS w FROM ov
       |  UNION ALL
       |  SELECT source_b AS esrc, source_a AS edst, inter AS w FROM ov),
       |outw AS (SELECT esrc, CAST(sum(w) AS BIGINT) AS wout FROM edges GROUP BY 1),
       |nodes AS (SELECT DISTINCT source FROM documents),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
       |r0 AS (SELECT source, CAST(1 AS DOUBLE) / n AS pr FROM nodes CROSS JOIN nn),
       |${(1 to PrIters).map(round).mkString(",\n")}
       |SELECT source,
       |  CAST(floor(pr * 1e9 + 0.5) AS BIGINT) AS pr_micro,
       |  CAST(CAST(floor(pr * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9 AS pr
       |FROM r$PrIters ORDER BY pr_micro DESC, source""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q_epoch_shuffle — deterministic per-epoch training order
  // ---------------------------------------------------------------------

  /** Per-epoch multiplicative permutation constants (odd, < p). */
  val EpochMults: Seq[Long] = Seq(1203114533L, 781532189L, 1429676689L)
  /** Contiguous hash ranges for the two-phase global rank. */
  val EpochRankBuckets = 1024L

  /** Deterministic multi-epoch training order (`q_epoch_shuffle`): for
    * each epoch e, every document's position in that epoch's data
    * order — the reproducible shuffle a training loader replays
    * (epoch orders must differ from each other, be engine- and
    * partitioning-independent, and never need an RNG). Epoch e orders
    * docs by `(doc_id · A_e) mod p` — A_e invertible mod the prime p,
    * so each epoch is a distinct exact permutation (keys collide only
    * beyond 10⁹ ids; doc_id tiebreak keeps the order total).
    *
    * The per-epoch global position is the same TWO-PHASE rank as the
    * packing/token-budget prefix sums, keyed by contiguous HASH ranges:
    * phase-1 `row_number` within (epoch, range) — 1024 ranges/epoch,
    * parallel, hash keys are uniform so ranges balance — phase-2
    * broadcast offsets from an (epoch, range)-count collect (≤ 3·1024
    * rows of driver metadata). No unpartitioned window.
    */
  def epochShuffle(s: SparkSession, dir: String): DataFrame = {
    val bw = (HashP + EpochRankBuckets - 1) / EpochRankBuckets // ceil → ids < HashP
    // epoch fan-out as ONE scan + posexplode (a per-epoch union would
    // read the corpus once per epoch per pass)
    val epochs = Tables.documentsSpread(s, dir)
      .select(col("doc_id"), posexplode(array(
        EpochMults.map(a => pmod(col("doc_id") * lit(a), lit(HashP))): _*))
        .as(Seq("epoch", "h")))
      .withColumn("rng", expr(s"h div $bw"))
    val w = Window.partitionBy("epoch", "rng").orderBy("h", "doc_id")
    val local = epochs.withColumn("rn", row_number().over(w).cast("long"))
    val totals = epochs.groupBy("epoch", "rng").agg(count(lit(1)).as("c"))
      .orderBy("epoch", "rng").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    // exclusive prefix per epoch over its ranges (driver metadata)
    val offs = totals.groupBy(_._1).toSeq.flatMap { case (e, rows) =>
      val sorted = rows.sortBy(_._2)
      sorted.map(_._3).scanLeft(0L)(_ + _).zip(sorted).map {
        case (off, (_, rng, _)) => (e, rng, off)
      }
    }
    import s.implicits._
    val offDf = offs.toDF("epoch", "rng", "off")
    local.join(broadcast(offDf), Seq("epoch", "rng"))
      .select(col("epoch"), (col("off") + col("rn")).as("pos"), col("doc_id"))
      .orderBy("epoch", "pos")
  }

  def epochShuffleOracleSql: String = {
    val cases = EpochMults.zipWithIndex
      .map { case (a, e) => s"WHEN $e THEN (doc_id * $a) % $HashP" }
      .mkString(" ")
    s"""WITH ep AS (
       |  SELECT CAST(e AS INTEGER) AS epoch, doc_id,
       |    CASE CAST(e AS INTEGER) $cases END AS h
       |  FROM documents, unnest(generate_series(0, ${EpochMults.size - 1})) AS u(e))
       |SELECT epoch, CAST(row_number() OVER
       |    (PARTITION BY epoch ORDER BY h, doc_id) AS BIGINT) AS pos,
       |  doc_id
       |FROM ep ORDER BY epoch, pos""".stripMargin
  }

  /** (source, token) counts, session-persisted: four frames derive
    * from this one aggregate (token totals, per-source totals, corpus
    * total, and the contribution join's probe side) — without the
    * persist each derivation physically re-runs the corpus explode
    * (measured: 8 scans in the final adaptive plan, ReuseExchange did
    * not fire across the differing partial-agg outputs). The persisted
    * frame is vocabulary × sources sized — post-aggregation, orders
    * smaller than the corpus.
    */
  private def sourceTokenCounts(s: SparkSession, dir: String): DataFrame =
    graft.plans.Memo.shared(s, dir, "curation.sourceTokenCounts") {
      sourceTokenCountsOf(Tables.documentsSpread(s, dir))
    }

  /** (source, t, c_st) counts from a (source, text) frame — additive
    * across any doc-level split, so per-batch frames summed in a
    * [[graft.streaming.Additive]] feed [[klFromCounts]] and
    * [[zipfFromCounts]] exactly like the batch frame.
    */
  private[graft] def sourceTokenCountsOf(docs: DataFrame): DataFrame =
    docs.select(col("source"), explode(tokens(col("text"))).as("t"))
      .groupBy("source", "t").agg(count(lit(1)).as("c_st"))

  /** Materialize the session-persisted curation frames (postings,
    * source signatures, (source, token) counts, bigram counts) for
    * Bench's `shared_` attribution.
    */
  private[graft] def warmCurationCache(s: SparkSession, dir: String): Unit = {
    postings(s, dir).count()
    sourceOverlap(s, dir).count()
    sourceSig(s, dir).count()
    sourceTokenCounts(s, dir).count()
    bigramCounts(s, dir).count()
  }

  /** The per-label KL-vs-mixture oracle over ANY labeled
    * `(source, text)` relation — ONE template shared by `q_kl_drift`
    * (labels = real sources) and the snapshot drift twin (labels =
    * version slices), so the decimal-sum / floor-shift conventions
    * cannot drift between them. `outCol` names the label column in the
    * output.
    */
  def klOracleOver(labeledRelation: String, outCol: String): String =
    s"""WITH lab AS ($labeledRelation),
       |tok AS (
       |  SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
       |  FROM lab),
       |st AS (SELECT source, t, CAST(count(*) AS BIGINT) AS c_st
       |       FROM tok GROUP BY 1, 2),
       |tt AS (SELECT t, CAST(sum(c_st) AS BIGINT) AS c_t FROM st GROUP BY 1),
       |ns AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_tokens,
       |              CAST(count(*) AS BIGINT) AS n_distinct
       |       FROM st GROUP BY 1),
       |tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS n FROM tt)
       |SELECT st.source AS $outCol, n_tokens, n_distinct,
       |  floor(CAST(sum(CAST(
       |      (CAST(c_st AS DOUBLE) / n_tokens) *
       |      ln((CAST(c_st AS DOUBLE) * n) / (CAST(n_tokens AS DOUBLE) * c_t))
       |    AS DECIMAL(38,18))) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS kl
       |FROM st JOIN ns USING (source) JOIN tt USING (t), tot
       |GROUP BY st.source, n_tokens, n_distinct
       |ORDER BY 1""".stripMargin

  def klDriftOracleSql: String =
    klOracleOver("SELECT source, text FROM documents", "source")

  // ---------------------------------------------------------------------
  // q_corpus_card — per-source dataset datasheet
  // ---------------------------------------------------------------------

  /** Per-source dataset card (`q_corpus_card`): the datasheet row every
    * published corpus ships — per source: document count, exact-dup
    * count (by content hash), token volume, mean quality, the share
    * clearing the pipeline's quality gate, the dominant predicted
    * language, and the share the language-ID cannot call. One place to
    * read before mixing a source into a training run.
    *
    * Distributed shape: ONE map-only scan computes every per-doc
    * measure (hash, token count, quality, lang-ID riding the scan);
    * everything downstream is dim-sized — a per-source aggregate (the
    * dup count as count−countDistinct(md5) inside the same agg) plus a
    * (source, lang) count frame for the dominant-language argmax.
    * The argmax uses the zero-padded string composite (DuckDB `max_by`
    * takes no struct key), tie-break = lexicographically largest
    * language at equal counts — identical in both engines.
    */
  def corpusCard(s: SparkSession, dir: String): DataFrame =
    cardFromGrouped(cardGrouped(Tables.documentsSpread(s, dir)))

  /** Per-(source, content-hash) reduced stats — the ADDITIVE sufficient
    * statistic for [[corpusCard]]: every card column derives from
    * these rows, and merging two corpora's grouped frames is
    * component-wise addition per key in a [[graft.streaming.Additive]]
    * (decimal quality sums are exact, so associative;
    * CorpusCurationSpec pins stream == batch). `pred`/`ntok` ride the
    * group because identical text (same md5) has identical per-doc
    * measures; the quality sum stays an aggregate so the merge is
    * uniform addition.
    */
  private[graft] def cardGrouped(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), md5(col("text").cast("binary")).as("h"),
        size(tokens(col("text"))).cast("long").as("ntok"),
        qualityScore(col("text")).as("q"),
        langId(col("text")).as("pred"))
      .groupBy("source", "h", "pred")
      .agg(count(lit(1)).as("n"),
        sum(col("ntok")).as("ntok"),
        // decimal-sum the grid doubles (exact ⇒ associative ⇒ engine-
        // and partitioning-independent — the kl_drift arithmetic)
        sum(col("q").cast("decimal(38,18)")).as("qdec"),
        sum(when(col("q") >= TextAnalysis.PipelineQualityMin, 1L).otherwise(0L)).as("ok"),
        sum(when(col("pred") === "unknown", 1L).otherwise(0L)).as("unk"))

  /** Approximate-dup grouped stage — the HLL swap the exact card's
    * Scaladoc documents: state keyed by (source, pred) ONLY (O(sources
    * × languages), not O(distinct docs)), with exact-duplicate
    * counting carried by a per-group DataSketches HLL sketch of the
    * content hash instead of the hash itself. Every other card column
    * is the same additive counter as [[cardGrouped]]; sketches are
    * mergeable (union), so the statistic stays additive across
    * batches. Below ~2^lgK distinct values the sketch sits in
    * sparse/set mode and the estimate is EXACT — the approximation
    * only engages at the corpus sizes that motivate the swap.
    */
  private[graft] def cardGroupedApprox(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), md5(col("text").cast("binary")).as("h"),
        size(tokens(col("text"))).cast("long").as("ntok"),
        qualityScore(col("text")).as("q"),
        langId(col("text")).as("pred"))
      .groupBy("source", "pred")
      .agg(count(lit(1)).as("n"),
        sum(col("ntok")).as("ntok"),
        sum(col("q").cast("decimal(38,18)")).as("qdec"),
        sum(when(col("q") >= TextAnalysis.PipelineQualityMin, 1L).otherwise(0L)).as("ok"),
        sum(when(col("pred") === "unknown", 1L).otherwise(0L)).as("unk"),
        hll_sketch_agg(col("h")).as("hsk"))

  /** Value stage for the approximate card: same formulas as
    * [[cardFromGrouped]], with `n_exact_dups` = n_docs − the HLL
    * distinct estimate handed in per source (already merged across
    * batches and languages by the caller).
    */
  private[graft] def cardFromApproxGrouped(g: DataFrame, est: DataFrame): DataFrame = {
    val base = g.groupBy("source").agg(
      sum(col("n")).as("n_docs"),
      sum(col("ntok")).as("n_tokens"),
      r4c(sum(col("qdec")).cast("double") /
        greatest(sum(col("n")), lit(1L))).as("avg_quality"),
      r4c(sum(col("ok")).cast("double") /
        greatest(sum(col("n")), lit(1L))).as("quality_ok_rate"),
      r4c(sum(col("unk")).cast("double") /
        greatest(sum(col("n")), lit(1L))).as("lang_unknown_rate"))
    val topLang = g.groupBy("source", "pred").agg(sum(col("n")).as("c"))
      .groupBy("source")
      .agg(substring(max(concat(lpad(col("c").cast("string"), 10, "0"), col("pred"))),
        11, 64).as("top_lang"))
    base.join(topLang, "source").join(est, "source")
      .select(col("source"), col("n_docs"),
        (col("n_docs") - col("n_distinct")).as("n_exact_dups"), col("n_tokens"),
        col("avg_quality"), col("quality_ok_rate"), col("top_lang"),
        col("lang_unknown_rate"))
      .orderBy("source")
  }

  /** The card's value stage over a [[cardGrouped]] frame (batch-built
    * or summed per batch): distinct-hash counting becomes a row count, every
    * other column a sum — identical values to the pre-refactor direct
    * aggregation because decimal addition is associative and `pred` is
    * functionally dependent on the hash.
    */
  private[graft] def cardFromGrouped(g: DataFrame): DataFrame = {
    val base = g.groupBy("source").agg(
      sum(col("n")).as("n_docs"),
      (sum(col("n")) - count(lit(1))).as("n_exact_dups"),
      sum(col("ntok")).as("n_tokens"),
      r4c(sum(col("qdec")).cast("double") /
        greatest(sum(col("n")), lit(1L))).as("avg_quality"),
      r4c(sum(col("ok")).cast("double") /
        greatest(sum(col("n")), lit(1L))).as("quality_ok_rate"),
      r4c(sum(col("unk")).cast("double") /
        greatest(sum(col("n")), lit(1L))).as("lang_unknown_rate"))
    val topLang = g.groupBy("source", "pred").agg(sum(col("n")).as("c"))
      .groupBy("source")
      .agg(substring(max(concat(lpad(col("c").cast("string"), 10, "0"), col("pred"))),
        11, 64).as("top_lang"))
    base.join(topLang, "source")
      .select(col("source"), col("n_docs"), col("n_exact_dups"), col("n_tokens"),
        col("avg_quality"), col("quality_ok_rate"), col("top_lang"),
        col("lang_unknown_rate"))
      .orderBy("source")
  }

  def corpusCardOracleSql: String =
    ("""WITH cc0 AS (
       |  SELECT source, text, md5(text) AS h,
       |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
       |    CAST(len(regexp_extract_all(text, '[!-/:-@\[-`{-~]')) AS DOUBLE) AS punct
       |  FROM documents),
       |cc1 AS (
       |  SELECT source, h, CAST(len(toks) AS BIGINT) AS ntok,
       |    CAST(length(text) AS DOUBLE) AS nchars, punct,
       |    CAST(len(toks) AS DOUBLE) AS nwords,
       |    CAST(len(list_intersect(toks,
       |      ['the','a','of','and','to','in','is','it'])) AS DOUBLE) AS stops,
       |    len(list_intersect(toks, ['the','a','of','and','to','in','is','it'])) AS s_en,
       |    len(list_intersect(toks, ['der','die','das','und','ist','nicht','ein'])) AS s_de,
       |    len(list_intersect(toks, ['el','la','los','de','que','es','un'])) AS s_es
       |  FROM cc0),
       |per AS (
       |  SELECT source, h, ntok,
       |    floor((
       |        0.4 * least(nwords / 100.0, 1.0)
       |      + 0.3 * (1.0 - CASE WHEN nchars > 0 THEN punct / nchars ELSE 0.0 END)
       |      + 0.2 * (CASE WHEN nwords > 0 THEN stops / nwords ELSE 0.0 END)
       |      + 0.1 * least((CASE WHEN nwords > 0 THEN nchars / nwords ELSE 0.0 END) / 10.0, 1.0)
       |      ) * 10000.0 + 0.5) / 10000.0 AS q,
       |    CASE WHEN s_en = 0 AND s_de = 0 AND s_es = 0 THEN 'unknown'
       |         WHEN s_en >= s_de AND s_en >= s_es THEN 'en'
       |         WHEN s_de >= s_es THEN 'de'
       |         ELSE 'es' END AS pred
       |  FROM cc1),
       |base AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(count(*) - count(DISTINCT h) AS BIGINT) AS n_exact_dups,
       |    CAST(sum(ntok) AS BIGINT) AS n_tokens,
       |    floor(CAST(sum(CAST(q AS DECIMAL(38,18))) AS DOUBLE)
       |      / greatest(count(*), 1) * 1e4 + 0.5) / 1e4 AS avg_quality,
       |    floor(CAST(sum(CASE WHEN q >= """ + TextAnalysis.PipelineQualityMin +
      """ THEN 1 ELSE 0 END) AS DOUBLE)
       |      / greatest(count(*), 1) * 1e4 + 0.5) / 1e4 AS quality_ok_rate,
       |    floor(CAST(sum(CASE WHEN pred = 'unknown' THEN 1 ELSE 0 END) AS DOUBLE)
       |      / greatest(count(*), 1) * 1e4 + 0.5) / 1e4 AS lang_unknown_rate
       |  FROM per GROUP BY 1),
       |lc AS (SELECT source, pred, CAST(count(*) AS BIGINT) AS c FROM per GROUP BY 1, 2),
       |tl AS (SELECT source,
       |         substr(max(lpad(CAST(c AS VARCHAR), 10, '0') || pred), 11) AS top_lang
       |       FROM lc GROUP BY 1)
       |SELECT base.source, n_docs, n_exact_dups, n_tokens, avg_quality,
       |  quality_ok_rate, top_lang, lang_unknown_rate
       |FROM base JOIN tl USING (source) ORDER BY source""").stripMargin

  // ---------------------------------------------------------------------
  // q_weighted_sample — Efraimidis-Spirakis quality-weighted selection
  // ---------------------------------------------------------------------

  /** Sample size, hash constants, and the weight floor (quality is
    * 4-dp quantized; the floor keeps the exponent finite on an
    * all-zero-quality doc).
    */
  val WSampleK = 100
  val WSampleP = 1000000007L
  val WSampleA = 2654435761L
  val WSampleMinW = 0.0001

  /** Quality-weighted sample without replacement (`q_weighted_sample`):
    * the Efraimidis-Spirakis A-Res scheme (2006) — per doc a
    * deterministic uniform u from the portable hash, key = ln(u)/w
    * with w = quality, keep the K largest keys. P(doc in sample)
    * rises with quality, no doc repeats, and — unlike the Bernoulli
    * gate `q_quality_sample` — the output size is EXACTLY K: the form
    * a fixed annotation or eval budget needs ("pick the best-biased
    * 100 docs, spend exactly 100 labels").
    *
    * Distributed shape: key computation is map-only riding the scan
    * (overflow-safe reduced multiplicative hash — the writeSharded
    * lesson); top-K is orderBy+limit (per-partition heap + driver
    * merge, never a global sort); rank assembles driver-side over the
    * K collected rows (bounded by construction — the skew_report
    * idiom).
    *
    * Cross-engine determinism: u = (h+1)/p is one exact-rounded
    * division of exact integers, `ln` is reproducible (the unigram
    * micro-nat precedent — Viterbi DECISIONS ride the same trust),
    * and the key is floor-quantized to INTEGER micro-nats, so the
    * top-K cut compares integers — no ulp-boundary selection flips
    * (the ppl_buckets threshold lesson applied at the source).
    */
  def weightedSample(s: SparkSession, dir: String): DataFrame = {
    val h = pmod(pmod(col("doc_id"), lit(WSampleP)) * lit(WSampleA), lit(WSampleP))
    val u = (h + lit(1L)).cast("double") / lit(WSampleP.toDouble)
    val w = greatest(qualityScore(col("text")), lit(WSampleMinW))
    val top = Tables.documentsSpread(s, dir)
      .select(col("doc_id"), qualityScore(col("text")).as("quality"),
        floor(log(u) / w * lit(1e6)).cast("long").as("key_micro"))
      .orderBy(col("key_micro").desc, col("doc_id"))
      .limit(WSampleK)
      .collect() // ≤ K rows by construction
    import s.implicits._
    top.zipWithIndex
      .map { case (r, i) => (i + 1, r.getLong(0), r.getDouble(1), r.getLong(2)) }
      .toSeq.toDF("rank", "doc_id", "quality", "key_micro")
      .orderBy("rank")
  }

  // ---------------------------------------------------------------------
  // q_zipf_fit — per-source Zipf slope over the token rank-frequency curve
  // ---------------------------------------------------------------------

  /** Ranks entering the per-source log-log regression. */
  val ZipfTopR = 100

  /** Per-source Zipf fit (`q_zipf_fit`): OLS slope of ln(freq) against
    * ln(rank) over each source's top-[[ZipfTopR]] tokens — natural text
    * sits near −1 (Zipf's law); a source drifting toward 0 (flat — ID
    * floods, tables) or strongly steeper (template floods repeating a
    * tiny vocabulary) has stopped being prose. The standing
    * distributional-health monitor next to [[klDrift]].
    *
    * Distributed shape: rides the session-persisted (source, token)
    * count frame — NO new corpus pass; the per-source rank is a
    * row_number window partitioned by source over that
    * vocabulary-bounded frame (never corpus-sized; the q_topk_per_key
    * idiom), and the regression sums are one dim-sized aggregate.
    *
    * Cross-engine determinism: rank is integer (ties broken by token
    * string), `ln` of identical doubles is 1-ulp reproducible (the
    * q_lm_score precedent), and the regression sums are
    * DECIMAL(38,18)-cast — exact hence associative, so the aggregate
    * stays partial-combined at any partitioning (the q_kl_drift
    * pattern). The closed-form slope then runs on per-source scalars.
    */
  def zipfFit(s: SparkSession, dir: String): DataFrame =
    zipfFromCounts(sourceTokenCounts(s, dir))

  /** Value stage from a (source, t, c_st) count frame — the same
    * frame [[klFromCounts]] reads, so one summed
    * [[graft.streaming.Additive]] state serves both views (KL watches
    * the marginals' divergence, this watches their shape;
    * DistributionSpec pins stream == batch).
    */
  private[graft] def zipfFromCounts(st: DataFrame): DataFrame = {
    val byRank = Window.partitionBy("source")
      .orderBy(col("c_st").desc, col("t"))
    val top = st
      .withColumn("r", row_number().over(byRank))
      .filter(col("r") <= ZipfTopR)
      .select(col("source"),
        log(col("r").cast("double")).as("x"),
        log(col("c_st").cast("double")).as("y"))
    top.groupBy("source")
      .agg(count(lit(1)).as("n_ranks"),
        sum(col("x").cast("decimal(38,18)")).as("sx"),
        sum(col("y").cast("decimal(38,18)")).as("sy"),
        sum((col("x") * col("y")).cast("decimal(38,18)")).as("sxy"),
        sum((col("x") * col("x")).cast("decimal(38,18)")).as("sxx"))
      .select(col("source"), col("n_ranks"), {
        // a single-rank source (one distinct token) has x ≡ 0, so the
        // variance denominator is EXACTLY 0 — no slope exists; emit
        // NULL on both sides rather than a 0/0 NaN (the r5 guard rule;
        // with ≥2 ranks the x values are distinct and the denominator
        // is genuinely positive)
        val den = col("n_ranks").cast("double") * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double")
        val num = col("n_ranks").cast("double") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")
        when(den =!= 0.0, floor(num / den * KlDp + lit(0.5)) / KlDp)
          .as("zipf_slope")
      })
      .orderBy("source")
  }

  def zipfFitOracleSql: String =
    s"""WITH tok AS (
       |  SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
       |  FROM documents),
       |st AS (SELECT source, t, CAST(count(*) AS BIGINT) AS c_st
       |       FROM tok GROUP BY 1, 2),
       |rk AS (SELECT source, c_st,
       |         CAST(row_number() OVER (PARTITION BY source
       |           ORDER BY c_st DESC, t) AS INTEGER) AS r
       |       FROM st),
       |xy AS (SELECT source, ln(CAST(r AS DOUBLE)) AS x,
       |              ln(CAST(c_st AS DOUBLE)) AS y
       |       FROM rk WHERE r <= $ZipfTopR),
       |agg AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_ranks,
       |    CAST(sum(CAST(x AS DECIMAL(38,18))) AS DOUBLE) AS sx,
       |    CAST(sum(CAST(y AS DECIMAL(38,18))) AS DOUBLE) AS sy,
       |    CAST(sum(CAST(x * y AS DECIMAL(38,18))) AS DOUBLE) AS sxy,
       |    CAST(sum(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS sxx
       |  FROM xy GROUP BY 1)
       |SELECT source, n_ranks,
       |  CASE WHEN CAST(n_ranks AS DOUBLE) * sxx - sx * sx <> 0 THEN
       |    floor((CAST(n_ranks AS DOUBLE) * sxy - sx * sy)
       |      / (CAST(n_ranks AS DOUBLE) * sxx - sx * sx) * 1e6 + 0.5) / 1e6
       |  ELSE NULL END AS zipf_slope
       |FROM agg ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // q_bigram_entropy — per-source conditional next-token entropy
  // ---------------------------------------------------------------------

  /** Per-source bigram conditional entropy (`q_bigram_entropy`):
    * H(next | cur) = −Σ p(w1,w2)·ln p(w2|w1) over each source's token
    * bigrams, in nats — the formulaic-text monitor: template floods
    * repeat the same continuations and collapse the conditional
    * entropy while leaving unigram stats (and so [[klDrift]]) nearly
    * untouched. Complements [[zipfFit]]: one watches the marginal
    * distribution, this watches the transitions.
    *
    * Distributed shape: ONE corpus pass builds the (source, w1, w2)
    * count frame (map-side combined into a source×bigram-vocabulary
    * frame); the history totals c(w1·) and the per-source bigram
    * totals both DERIVE from it — never a second pass. The
    * contribution join is vocabulary-sized (AQE picks broadcast when
    * it fits), and the per-source sum is DECIMAL(38,18)-exact hence
    * associative (the q_kl_drift determinism argument verbatim:
    * identical doubles → identical decimals → partitioning-independent
    * aggregate).
    */
  def bigramEntropy(s: SparkSession, dir: String): DataFrame =
    bigramEntropyFromCounts(bigramCounts(s, dir))

  /** Session-persisted (source, w1, w2) counts for `dir` — the value
    * stage references the frame THREE times (history totals, source
    * totals, contribution join) and ReuseExchange does not dedupe
    * re-referenced aggregate subtrees (the kl_drift lesson: measured
    * 3 corpus explode+count scans without the persist, 1 with). The
    * frame is post-shuffle and source×bigram-vocabulary-sized.
    */
  private def bigramCounts(s: SparkSession, dir: String): DataFrame =
    graft.plans.Memo.shared(s, dir, "curation.bigramCounts") {
      bigramPairCounts(Tables.documentsSpread(s, dir))
    }

  /** Per-batch (source, w1, w2) bigram counts from a (source, text)
    * frame — the additive sufficient statistic (documents arrive whole,
    * so pair extraction is map-only per row and the counts sum across
    * any doc-level split); summed per batch in a
    * [[graft.streaming.Additive]] (DistributionSpec pins stream ==
    * batch).
    */
  private[graft] def bigramPairCounts(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("source"), tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 2)
    toks.select(col("source"), explode(
        transform(sequence(lit(0), size(col("ts")) - 2),
          i => struct(element_at(col("ts"), i + 1).as("w1"),
            element_at(col("ts"), i + 2).as("w2")))).as("pr"))
      .select(col("source"), col("pr.w1").as("w1"), col("pr.w2").as("w2"))
      .groupBy("source", "w1", "w2").agg(count(lit(1)).as("c12"))
  }

  /** Value stage from a (source, w1, w2, c12) count frame — the exact
    * DECIMAL(38,18) contribution sum makes stream == batch EXACT over
    * any doc-level split (the klFromCounts argument verbatim).
    */
  private[graft] def bigramEntropyFromCounts(c12: DataFrame): DataFrame = {
    val c1 = c12.groupBy("source", "w1").agg(sum("c12").as("c1"))
    val ns = c12.groupBy("source").agg(sum("c12").as("n_bigrams"),
      count(lit(1)).as("n_pairs"))
    val contrib = (col("c12").cast("double") / col("n_bigrams")) *
      log(col("c12").cast("double") / col("c1"))
    c12.join(c1, Seq("source", "w1"))
      .join(ns, Seq("source"))
      .groupBy("source", "n_bigrams", "n_pairs")
      .agg(sum(contrib.cast("decimal(38,18)")).as("hx"))
      .select(col("source"), col("n_bigrams"), col("n_pairs"),
        (floor(-col("hx").cast("double") * KlDp + lit(0.5)) / KlDp)
          .as("cond_entropy"))
      .orderBy("source")
  }

  def bigramEntropyOracleSql: String =
    """WITH toks AS (
      |  SELECT source, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      |  FROM documents WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) >= 2),
      |pairs AS (
      |  SELECT source, t[i] AS w1, t[i + 1] AS w2
      |  FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)),
      |c12 AS (SELECT source, w1, w2, CAST(count(*) AS BIGINT) AS c12
      |        FROM pairs GROUP BY 1, 2, 3),
      |c1 AS (SELECT source, w1, CAST(sum(c12) AS BIGINT) AS c1
      |       FROM c12 GROUP BY 1, 2),
      |ns AS (SELECT source, CAST(sum(c12) AS BIGINT) AS n_bigrams,
      |              CAST(count(*) AS BIGINT) AS n_pairs
      |       FROM c12 GROUP BY 1)
      |SELECT c12.source, n_bigrams, n_pairs,
      |  floor(-CAST(sum(CAST(
      |      (CAST(c12 AS DOUBLE) / n_bigrams) *
      |      ln(CAST(c12 AS DOUBLE) / c1)
      |    AS DECIMAL(38,18))) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS cond_entropy
      |FROM c12 JOIN c1 USING (source, w1) JOIN ns USING (source)
      |GROUP BY c12.source, n_bigrams, n_pairs
      |ORDER BY source""".stripMargin
}
