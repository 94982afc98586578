package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions

/** Unigram-LM tokenizer (`q_unigram_vocab` / `q_unigram_encode` /
  * `q_unigram_refit`) — the OTHER production tokenizer family (Kudo
  * 2018, the SentencePiece unigram model) beside BPE: score subword
  * pieces by a unigram language model and segment each word with the
  * Viterbi-optimal (max-likelihood) piece sequence.
  *
  * This is the deterministic single-iteration form: the seed vocabulary
  * is the top-[[SeedSize]] substrings (length ≤ [[MaxPieceLen]]) by
  * occurrence frequency plus ALL single characters (so every word is
  * segmentable), piece costs are −ln(freq/total) quantized to INTEGER
  * micro-nats, and `q_unigram_refit` emits the Viterbi piece counts —
  * the E-step statistic a full EM loop would iterate on. Quantizing the
  * costs (the micro-unit lesson: integer compare can never flip on a
  * float ulp) makes every Viterbi DECISION — not just value —
  * bit-identical between Spark and the DuckDB oracle, whose generated
  * SQL unrolls the same DP over [[MaxWordChars]] positions.
  *
  * == Viterbi contract (both engines) ==
  * best(0)=0; best(k) = min over L=1..min(4,k), piece=w[k−L+1..k] ∈ V of
  * best(k−L) + cost(piece); ties prefer the LONGER piece. Words longer
  * than [[MaxWordChars]] (never in the shipped corpora; the contract
  * cap that bounds the oracle's unroll) segment as ⌈len/MaxPieceLen⌉
  * opaque pieces and are excluded from the refit counts.
  *
  * == Distributed shape ==
  * The only corpus-sized operations are the word count (one map-side-
  * combined shuffle) and the encode join (broadcast word→pieces onto
  * the exploded doc-word frame — the tf⋈df shape). Candidate pieces,
  * the seed vocabulary, and the DP all live on the DISTINCT-WORD frame
  * — vocabulary-bounded (Heaps' law), the BPE-learner contract — with
  * the ≤([[SeedSize]]+alphabet) vocab as driver/closure state. The DP
  * itself is per-row imperative logic over ≤16 chars (typed map on the
  * word frame, the misraGries per-partition class).
  */
object Unigram {

  val MaxPieceLen = 4
  val SeedSize = 48
  val MaxWordChars = 16
  val RefitTopK = 40
  /** Micro-nat quantization of piece costs. */
  val CostScale = 1e6

  /** Distinct words with counts (the BPE w0 frame). */
  private def wordCounts(s: SparkSession, dir: String): DataFrame =
    Tables.documentsSpread(s, dir)
      .select(explode(TextFunctions.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))

  /** Run the memoized unigram-LM build now (vocab + segmentation
    * frame, materialized inside) for Bench's `shared_` attribution.
    */
  private[graft] def warmModelCache(s: SparkSession, dir: String): Unit =
    model(s, dir)

  /** Session-scoped memo per (session, dir): the BOUNDED vocab rows
    * (driver state, ≤ SeedSize + alphabet) and the DISTRIBUTED
    * word-segmentation frame (word, cnt, pieces) — vocabulary-scale,
    * so it must NOT be collected: it is a [[graft.plans.Memo.shared]]
    * frame (the shingle-cache pattern, released by
    * [[graft.plans.Memo.release]]).
    */
  private def model(s: SparkSession, dir: String)
      : (Seq[(String, Long, Long)], DataFrame) =
    graft.plans.Memo.value(s, dir, "unigram.model") {
      val wc = wordCounts(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // candidate substrings (length 1..MaxPieceLen, every occurrence,
      // weighted by word count) — a vocab-bounded explode, never a
      // corpus-sized one
      // NB Spark `sequence(1, 0)` yields the DESCENDING [1, 0], not an
      // empty array (DuckDB generate_series is empty) — words shorter
      // than l must take the explicit empty branch
      val cand = wc.select(
        explode(expr(
          s"flatten(transform(sequence(1, $MaxPieceLen), " +
            "l -> CASE WHEN length(w) >= l THEN " +
            "transform(sequence(1, length(w) - l + 1), i -> substring(w, i, l)) " +
            "ELSE cast(array() as array<string>) END))")).as("piece"),
        col("cnt"))
        .groupBy("piece").agg(sum("cnt").as("freq"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val seed = cand.orderBy(col("freq").desc, col("piece")).limit(SeedSize)
      val chars = cand.filter(length(col("piece")) === 1)
      val vocab0 = seed.union(chars).groupBy("piece").agg(max("freq").as("freq"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        .sortBy { case (p, f) => (-f, p) }
      cand.unpersist(blocking = false)
      val total = vocab0.map(_._2).sum.toDouble
      val vocab = vocab0.map { case (p, f) =>
        (p, f, math.floor(-math.log(f.toDouble / total) * CostScale + 0.5).toLong)
      }
      val costs = vocab.map { case (p, _, c) => p -> c }.toMap
      // Viterbi per DISTINCT word: a typed map over the vocab-bounded
      // word frame with the ≤84-entry cost table in the closure
      import s.implicits._
      val seg = graft.plans.Memo.shared(s, dir, "unigram.segmentation") {
        wc.as[(String, Long)].map { case (w, cnt) =>
          (w, cnt, segmentWord(w, costs))
        }.toDF("w", "cnt", "pieces")
      }
      seg.count() // materialize before dropping the word-count cache
      wc.unpersist(blocking = false)
      (vocab, seg)
    }

  /** The Viterbi DP (shared with the spec's local reference): returns
    * the piece sequence, or an EMPTY sequence for over-length words
    * (contract: ⌈len/MaxPieceLen⌉ opaque pieces, excluded from refit).
    */
  private[graft] def segmentWord(w: String, costs: Map[String, Long]): Seq[String] = {
    val n = w.length
    if (n == 0) return Seq.empty
    if (n > MaxWordChars) return Seq.empty
    val Big = Long.MaxValue / 4
    val best = Array.fill(n + 1)(Big); best(0) = 0L
    val bp = Array.fill(n + 1)(0)
    for (k <- 1 to n) {
      // L descending start is irrelevant: strict < keeps the first
      // (longest) L on ties because we iterate L = max..1
      for (l <- math.min(MaxPieceLen, k) to 1 by -1) {
        costs.get(w.substring(k - l, k)) match {
          case Some(c) if best(k - l) != Big && best(k - l) + c < best(k) =>
            best(k) = best(k - l) + c; bp(k) = l
          case _ => ()
        }
      }
    }
    var pos = n
    val out = scala.collection.mutable.ListBuffer.empty[String]
    while (pos > 0) { val l = bp(pos); out.prepend(w.substring(pos - l, pos)); pos -= l }
    out.toSeq
  }

  /** The learned piece vocabulary with frequencies and integer
    * micro-nat costs.
    */
  def unigramVocab(s: SparkSession, dir: String): DataFrame = {
    val (vocab, _) = model(s, dir)
    import s.implicits._
    vocab.toDF("piece", "freq", "cost_unat")
      .orderBy(col("freq").desc, col("piece"))
  }

  /** Per-document encode stats under the unigram model: word count,
    * Viterbi piece count, fertility (pieces per word, 4-dp grid).
    */
  def unigramEncode(s: SparkSession, dir: String): DataFrame = {
    val (_, seg) = model(s, dir)
    val perWord = seg.select(col("w"),
      when(size(col("pieces")) > 0, size(col("pieces")).cast("long"))
        .otherwise(ceil(length(col("w")).cast("double") / MaxPieceLen).cast("long"))
        .as("np"))
    val dw = Tables.documentsSpread(s, dir)
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("w"))
      .join(broadcast(perWord), "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("np").as("n_pieces"))
    Tables.documentsSpread(s, dir).select(col("doc_id"))
      .join(dw, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"))
      .withColumn("fertility",
        floor(col("n_pieces").cast("double") / greatest(col("n_words"), lit(1L))
          * 1e4 + lit(0.5)) / 1e4)
      .orderBy("doc_id")
  }

  /** Viterbi piece counts over the corpus — the EM E-step statistic
    * (what a full unigram-LM training loop would renormalize on).
    */
  def unigramRefit(s: SparkSession, dir: String): DataFrame = {
    val (_, seg) = model(s, dir)
    seg.select(explode(col("pieces")).as("piece"), col("cnt"))
      .groupBy("piece").agg(sum("cnt").as("seg_count"))
      .orderBy(col("seg_count").desc, col("piece"))
      .limit(RefitTopK)
  }

  // ---------------------------------------------------------------------
  // generated DuckDB oracle (the BPE unrolled-rounds pattern)
  // ---------------------------------------------------------------------

  /** Shared oracle prefix: word counts → candidates → vocab with
    * integer micro-nat costs.
    */
  private def vocabCtes: String =
    s"""WITH toks AS (
       |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
       |  FROM documents),
       |uw0 AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
       |ucand AS (
       |  SELECT substr(w, i, l) AS piece, CAST(sum(cnt) AS BIGINT) AS freq
       |  FROM uw0,
       |       unnest(generate_series(1, $MaxPieceLen)) AS ll(l),
       |       unnest(generate_series(1, length(w) - l + 1)) AS ii(i)
       |  GROUP BY 1),
       |useed AS (SELECT piece, freq FROM ucand
       |          ORDER BY freq DESC, piece LIMIT $SeedSize),
       |uvocab0 AS (
       |  SELECT piece, max(freq) AS freq FROM (
       |    SELECT * FROM useed
       |    UNION ALL SELECT piece, freq FROM ucand WHERE length(piece) = 1)
       |  GROUP BY 1),
       |utot AS (SELECT CAST(sum(freq) AS DOUBLE) AS t FROM uvocab0),
       |uvocab AS (
       |  SELECT piece, freq,
       |    CAST(floor(-ln(CAST(freq AS DOUBLE) / t) * 1e6 + 0.5) AS BIGINT)
       |      AS cost
       |  FROM uvocab0, utot)""".stripMargin

  /** Unrolled Viterbi over the distinct-word frame: d0..d16 build the
    * best/backptr lists, r0..r16 walk the backptrs into the piece
    * list. Only words with length ≤ [[MaxWordChars]] enter the DP;
    * over-length words take the ⌈len/4⌉ contract path at the end.
    */
  private def viterbiCtes: String = {
    val big = "4611686018427387904" // 2^62: unreachable cost sentinel
    val sb = new StringBuilder
    sb ++=
      s""",
         |d0 AS (
         |  SELECT w, cnt, length(w) AS len,
         |         [CAST(0 AS BIGINT)] AS best, [0] AS bp
         |  FROM uw0 WHERE length(w) <= $MaxWordChars)""".stripMargin
    for (k <- 1 to MaxWordChars) {
      // candidate value for piece length l ending at position k:
      // best[k-l] (list index k-l+1) + vocab cost of substr(w, k-l+1, l)
      def cand(l: Int): String =
        if (l > k) big
        else s"CASE WHEN len >= $k AND v$l.cost IS NOT NULL " +
          s"AND best[${k - l + 1}] < $big THEN best[${k - l + 1}] + v$l.cost " +
          s"ELSE $big END"
      val joins = (1 to math.min(MaxPieceLen, k)).map { l =>
        s"LEFT JOIN uvocab v$l ON len >= $k AND v$l.piece = substr(w, ${k - l + 1}, $l)"
      }.mkString("\n  ")
      sb ++=
        s""",
           |e$k AS (
           |  SELECT w, cnt, len, best, bp,
           |    ${cand(1)} AS c1, ${cand(2)} AS c2,
           |    ${cand(3)} AS c3, ${cand(4)} AS c4
           |  FROM d${k - 1}
           |  $joins),
           |d$k AS (
           |  SELECT w, cnt, len,
           |    list_append(best, least(c1, c2, c3, c4)) AS best,
           |    list_append(bp, CASE
           |      WHEN c4 = least(c1, c2, c3, c4) AND c4 < $big THEN 4
           |      WHEN c3 = least(c1, c2, c3, c4) AND c3 < $big THEN 3
           |      WHEN c2 = least(c1, c2, c3, c4) AND c2 < $big THEN 2
           |      WHEN c1 < $big THEN 1 ELSE 0 END) AS bp
           |  FROM e$k)""".stripMargin
    }
    // backptr walk: bp[pos+1] is the chosen length at position pos
    sb ++=
      s""",
         |r0 AS (
         |  SELECT w, cnt, len, bp, len AS pos,
         |         CAST([] AS VARCHAR[]) AS pieces
         |  FROM d$MaxWordChars)""".stripMargin
    for (k <- 1 to MaxWordChars) {
      sb ++=
        s""",
           |r$k AS (
           |  SELECT w, cnt, len, bp,
           |    CASE WHEN pos > 0 THEN pos - bp[pos + 1] ELSE pos END AS pos,
           |    CASE WHEN pos > 0 THEN
           |      list_prepend(substr(w, pos - bp[pos + 1] + 1, bp[pos + 1]), pieces)
           |    ELSE pieces END AS pieces
           |  FROM r${k - 1})""".stripMargin
    }
    sb ++=
      s""",
         |useg AS (
         |  SELECT w, cnt, pieces, CAST(len(pieces) AS BIGINT) AS np
         |  FROM r$MaxWordChars
         |  UNION ALL
         |  SELECT w, cnt, CAST([] AS VARCHAR[]) AS pieces,
         |         CAST((length(w) + ${MaxPieceLen - 1}) // $MaxPieceLen AS BIGINT) AS np
         |  FROM uw0 WHERE length(w) > $MaxWordChars)""".stripMargin
    sb.result()
  }

  def unigramVocabOracleSql: String =
    vocabCtes +
      "\nSELECT piece, freq, cost AS cost_unat FROM uvocab ORDER BY freq DESC, piece"

  def unigramEncodeOracleSql: String =
    vocabCtes + viterbiCtes +
      s""",
         |udw AS (
         |  SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |         CAST(sum(s.np) AS BIGINT) AS n_pieces
         |  FROM (SELECT doc_id,
         |          unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
         |        FROM documents) d
         |  JOIN useg s USING (w) GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(n_words, 0) AS n_words,
         |  coalesce(n_pieces, 0) AS n_pieces,
         |  floor(CAST(coalesce(n_pieces, 0) AS DOUBLE)
         |    / greatest(coalesce(n_words, 0), 1) * 1e4 + 0.5) / 1e4 AS fertility
         |FROM documents d LEFT JOIN udw USING (doc_id)
         |ORDER BY doc_id""".stripMargin

  def unigramRefitOracleSql: String =
    vocabCtes + viterbiCtes +
      s"""
         |SELECT piece, CAST(sum(cnt) AS BIGINT) AS seg_count
         |FROM (SELECT unnest(pieces) AS piece, cnt FROM useg)
         |GROUP BY 1 ORDER BY seg_count DESC, piece LIMIT $RefitTopK""".stripMargin
}
