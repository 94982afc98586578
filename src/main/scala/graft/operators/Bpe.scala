package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions

/** Distributed BPE vocabulary learning (`q_bpe_merges` /
  * `q_bpe_vocab`) — the tokenizer-TRAINING step of an LLM data
  * pipeline (Sennrich et al. 2016), complementing the catalog's
  * tokenizer-APPLICATION queries (q_token_count, q_pack_sequences,
  * q_chunk_docs): learn the first [[BpeRounds]] merge rules from
  * corpus word frequencies, and the subword vocabulary they induce.
  *
  * Algorithm per round: count adjacent symbol pairs weighted by word
  * frequency, take the globally most frequent pair (ties broken by
  * (lhs, rhs) — deterministic cross-engine), merge every
  * left-to-right non-overlapping occurrence in every word.
  *
  * == The cross-engine merge representation ==
  * Each word is a string of space-WRAPPED symbols — every symbol
  * carries its own leading and trailing space, so `"cat"` is
  * `" c  a  t "` (adjacent symbols are separated by exactly two
  * spaces). Under this representation, plain string `replace` of
  * `" a  b "` with `" ab "` is EXACTLY the BPE greedy merge:
  *   - a match can only align on symbol boundaries (symbols are
  *     alnum-only, so the pattern's spaces can't land inside one);
  *   - each match consumes only the matched pair's own wrapper
  *     spaces, so the next adjacent pair is still matchable
  *     (`" a  b  a  b "` merges both pairs in one pass) while runs
  *     stay greedily non-overlapping (`" a  a  a "` → `" aa  a "`);
  *   - both Spark's `StringReplace` and DuckDB's `replace` scan
  *     left-to-right non-overlapping, so the oracle reproduces the
  *     merge bit-exactly (BpeSpec checks an independent plain-Scala
  *     symbol-list reference).
  *
  * == Distributed shape ==
  * The ONLY corpus-sized operation is the initial word count (one
  * map-side-combined shuffle, the q_vocab_topk shape). All
  * [[BpeRounds]] rounds operate on the persisted VOCABULARY frame:
  * pair explode (≈ avg word length × vocab rows, map-side-combined
  * agg) + a 1-row TakeOrdered collect + one map-side `replace`
  * projection. Driver state is one (pair, count) row per round — the
  * Lloyd-training class; at 100 TB the vocab frame is ~10⁸ rows
  * regardless of corpus size, and rounds never touch the documents
  * table again.
  */
object Bpe {

  /** Merge rounds learned (= q_bpe_merges output rows). */
  val BpeRounds = 10

  /** Subword-vocabulary rows emitted by q_bpe_vocab. */
  val VocabTopK = 30

  private val SymSep = "  " // between wrapped symbols

  /** Learned merges + induced top-[[VocabTopK]] vocabulary, memoized.
    * One learner run computes both: the vocab aggregation is one more
    * pass over the still-persisted vocabulary frame (or the collected
    * word array on the bounded local path).
    *
    * The memo is a [[graft.plans.Memo.value]] per (session, dir): both
    * halves are BOUNDED driver state ([[BpeRounds]] merge tuples +
    * [[VocabTopK]] vocab rows), so caching them is the Lloyd-training
    * memoization class — without it, each of the three BPE queries
    * re-pays the corpus word-count shuffle and the thirty vocab-frame
    * rounds. Deterministic, so caching cannot change any result;
    * released by [[graft.plans.Memo.release]] (Verify/Bench call it
    * after their loops).
    */
  private def learned(s: SparkSession, dir: String)
      : (Seq[(Int, String, String, String, Long)], Seq[(String, Long)]) =
    graft.plans.Memo.value(s, dir, "bpe.learned")(learn(wordCounts(s, dir)))

  /** One learner run over a (rep, n) vocabulary frame.
    *
    * `localVocabCap` is the distinct-word bound for the driver-local
    * fast path (r16 opt): the [[BpeRounds]] rounds operate on the VOCABULARY frame
    * (one (rep, n) row per distinct word), and each distributed round
    * costs an explode-agg shuffle plus a 1-row TakeOrdered collect —
    * ~0.4 s of job latency per round at any small scale
    * (shared_bpe_learner measured 5.5 s at sf0.1 for ~0.3 s of actual
    * arithmetic). Below this many distinct words the vocab collects
    * (≤ ~10 MB) and the rounds run driver-local with BIT-IDENTICAL
    * semantics: integer pair counts, (c desc, lhs, rhs) argmax over
    * ASCII-only symbols (Java and UTF8 string order agree on ASCII),
    * and `String.replace` = Spark `StringReplace` = left-to-right
    * non-overlapping literal scan (the documented cross-engine merge
    * representation; BpeSpec asserts local == distributed). Above the
    * cap — a real crawl's 10⁸-word vocabulary — the distributed rounds
    * run unchanged. Specs pass 0 to force the distributed rounds.
    */
  private[graft] def learn(words0: DataFrame, localVocabCap: Long = 131072L)
      : (Seq[(Int, String, String, String, Long)], Seq[(String, Long)]) = {
    val words = words0.persist()
    try {
      if (words.count() <= localVocabCap)
        learnLocal(words.collect().map(r => (r.getString(0), r.getLong(1))))
      else {
        val (merges, fin) = learnDistributed(words)
        val vocab = fin
          .select(explode(split(trim(col("rep")), SymSep)).as("subword"), col("n"))
          .groupBy("subword").agg(sum(col("n")).as("freq"))
          .orderBy(col("freq").desc, col("subword"))
          .limit(VocabTopK)
          .collect()
          .map(r => (r.getString(0), r.getLong(1)))
          .toSeq
        (merges, vocab)
      }
    } finally { words.unpersist(); () }
  }

  /** The driver-local rounds over a collected (rep, n) vocabulary —
    * the same algorithm as [[learnDistributed]] statement for
    * statement; see [[learn]] for why equality holds.
    */
  private[graft] def learnLocal(words0: Array[(String, Long)])
      : (Seq[(Int, String, String, String, Long)], Seq[(String, Long)]) = {
    var cur = words0
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var k = 0
    var exhausted = false
    while (k < BpeRounds && !exhausted) {
      val counts = new java.util.HashMap[(String, String), Long]()
      cur.foreach { case (rep, n) =>
        val syms = rep.trim.split(SymSep)
        var i = 0
        while (i < syms.length - 1) {
          counts.merge((syms(i), syms(i + 1)), n, (a, b) => a + b)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        var best: ((String, String), Long) = null
        counts.forEach { (p, c) =>
          if (best == null || c > best._2 ||
            (c == best._2 && (p._1 < best._1._1 ||
              (p._1 == best._1._1 && p._2 < best._1._2)))) best = (p, c)
        }
        val ((a, b), c) = best
        k += 1
        merges += ((k, a, b, a + b, c))
        cur = cur.map { case (rep, n) =>
          (rep.replace(s" $a$SymSep$b ", s" $a$b "), n)
        }
      }
    }
    val freq = new java.util.HashMap[String, Long]()
    cur.foreach { case (rep, n) =>
      rep.trim.split(SymSep).foreach(sw => freq.merge(sw, n, (a, b) => a + b))
    }
    val vocab = scala.jdk.CollectionConverters.MapHasAsScala(freq).asScala.toSeq
      .sortBy { case (sw, f) => (-f, sw) }.take(VocabTopK)
    (merges.result(), vocab)
  }

  /** Materialize the shared encode frame now, for Bench's `shared_`
    * attribution (the encode/persisted/fertility entries then ride the
    * persisted copy).
    */
  private[graft] def warmEncodeCache(s: SparkSession, dir: String): Unit =
    encodeFrame(s, dir).count()

  /** Run the memoized learner now, for Bench's `shared_` attribution
    * (the four BPE queries then ride the memo).
    */
  private[graft] def warmLearnedCache(s: SparkSession, dir: String): Unit =
    learned(s, dir)

  /** The corpus word-count vocabulary as wrapped-symbol reps — the one
    * corpus-sized pass of the learner (one map-side-combined shuffle).
    */
  private[graft] def wordCounts(s: SparkSession, dir: String): DataFrame =
    Tables.documentsSpread(s, dir)
      .select(explode(TextFunctions.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(
        concat(lit(" "), array_join(split(col("w"), ""), SymSep), lit(" ")).as("rep"),
        col("n"))

  /** Run the distributed rounds over the (already persisted) vocab
    * frame: the merge list plus the final (rep, n) frame.
    */
  private def learnDistributed(words: DataFrame)
      : (Seq[(Int, String, String, String, Long)], DataFrame) = {
    var cur = words.select(col("rep"), col("n"))
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var k = 0
    var exhausted = false
    while (k < BpeRounds && !exhausted) {
      val syms = split(trim(col("rep")), SymSep)
      // project syms to a bound column before indexing: element_at in
      // the pair lambda re-evaluates an embedded split per index (the
      // q_dsir_weights quadratic-lambda lesson; symbols per word are
      // short, so here it is a constant-factor waste, not asymptotic)
      val top = cur
        .filter(size(syms) >= 2)
        .select(syms.as("syms"), col("n"))
        .select(
          explode(transform(sequence(lit(1), size(col("syms")) - 1), i =>
            struct(element_at(col("syms"), i).as("a"),
              element_at(col("syms"), i + 1).as("b"))))
            .as("p"),
          col("n"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("n")).as("c"))
        .orderBy(col("c").desc, col("a"), col("b"))
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        k += 1
        merges += ((k, a, b, a + b, c))
        cur = cur.withColumn("rep",
          replace(col("rep"), lit(s" $a$SymSep$b "), lit(s" $a$b ")))
      }
    }
    (merges.result(), cur)
  }

  /** Learned merges: (merge_rank, lhs, rhs, merged, freq) ordered by
    * rank. `freq` is the weighted pair count at the time of the merge.
    */
  def bpeMerges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    learned(s, dir)._1
      .toDF("merge_rank", "lhs", "rhs", "merged", "freq").orderBy("merge_rank")
  }

  /** The subword vocabulary the learned merges induce: top
    * [[VocabTopK]] subwords by weighted frequency (occurrences ×
    * word count) after applying all merges, ties by subword. The
    * vocab aggregation is one more vocab-frame pass; the bounded
    * result is collected before the persisted base is released, so
    * the returned frame replays no corpus work.
    */
  def bpeVocab(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    learned(s, dir)._2
      .toDF("subword", "freq").orderBy(col("freq").desc, col("subword"))
  }

  /** Tokenizer APPLICATION of the learned merges: per document, the
    * word / alnum-char / BPE-token counts under the learned
    * vocabulary — the compression measurement every tokenizer
    * training loop ends with. The whole document is encoded as ONE
    * wrapped-symbol string with a non-alnum `|` boundary symbol
    * between words: merge patterns are alnum-only, so no merge can
    * cross a boundary, and one `replace` chain per document costs the
    * same scan as per-word encoding with none of the per-word
    * expression overhead. Distributed shape: the learner's word-count
    * shuffle, then a MAP-ONLY encode pass over the documents scan
    * (the merge list is driver state, [[BpeRounds]] rows).
    */
  def bpeEncode(s: SparkSession, dir: String): DataFrame =
    encodeFrame(s, dir).drop("lang").orderBy("doc_id")

  /** Per-doc encode columns with the declared language carried (free —
    * rides the same scan); shared by [[bpeEncode]] and [[bpeFertility]].
    */
  private def encodeFrame(s: SparkSession, dir: String): DataFrame =
    encodeFrameCached(s, dir, learned(s, dir)._1)

  /** Strong digest of a merge list — the shared encode frame's name
    * component.
    * `Seq.hashCode` (32-bit) could collide a corrupted artifact reload
    * with the learner's merges and silently share one frame, defeating
    * the keys-separately-and-hash-fails detection; MD5 over the full
    * serialized list cannot.
    */
  private def mergeDigest(
      merges: Seq[(Int, String, String, String, Long)]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    merges.foreach { case (i, a, b, ab, c) =>
      md.update(s"$i $a $b $ab $c\n".getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** The SHARED encode frame over `dir`'s documents (the most
    * expensive map pass in the bench — at sf1 `q_bpe_encode` and
    * `q_bpe_persisted` each paid ~19 s for cell-identical output):
    * session-persisted narrow 5-column output, with a CONDITIONAL
    * spread — a single-row-group parquet (the shipped sf1 documents
    * file) plans ONE scan task and serializes the 200-replace chain
    * (parquet tasks cannot split inside a row group, so
    * maxPartitionBytes is powerless); only when the layout holds fewer
    * ROW GROUPS than half the cores does one round-robin shuffle buy
    * full parallelism — a real multi-file corpus already plans ≥
    * cores row groups and must NEVER pay a corpus-wide shuffle for a
    * map-only pass (spec-pinned). Values are per-row, so results are
    * layout-independent and the terminal sorts pin the order.
    *
    * Named by the MERGE LIST's digest, which keeps the artifact
    * contract honest: `q_bpe_persisted` shares the frame exactly when
    * its LOADED merges equal the learner's; a corrupted reload names a
    * separate frame, computes separately, and hash-fails its oracle.
    * Release goes through [[graft.plans.Memo.release]], which unpersists
    * the held frame without running the learner.
    */
  private[graft] def encodeFrameCached(s: SparkSession, dir: String,
      merges: Seq[(Int, String, String, String, Long)]): DataFrame =
    graft.plans.Memo.shared(s, dir, s"bpe.encode.${mergeDigest(merges)}") {
      // r16: the spread decision moved to Tables.documentsSpread and
      // counts parquet ROW GROUPS from footers — the prior
      // getNumPartitions probe saw Spark's empty byte-range splits
      // over a single-row-group file and never fired at sf1.
      encodeFrameWith(Tables.documentsSpread(s, dir), merges)
    }

  /** The encode pass against an EXPLICIT merge list and documents frame
    * — the seam the persisted-tokenizer artifact
    * (`sources.TokenizerArtifact`) re-enters through: merges loaded
    * back from parquet encode any corpus without touching the learner
    * (train once, apply to every future batch). Map-only: the merge
    * list is driver state, the chain rides the scan.
    *
    * PLAIN MAP CHAIN — no persist, no driver probe: this is the seam
    * arbitrary frames (including streaming micro-batches) encode
    * through. The dir-scoped batch entries ride [[encodeFrameCached]]
    * instead.
    */
  private[graft] def encodeFrameWith(docs: DataFrame,
      merges: Seq[(Int, String, String, String, Long)]): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    val docRep = concat(
      lit(" "),
      array_join(transform(toks, w => array_join(split(w, ""), SymSep)),
        s"$SymSep|$SymSep"),
      lit(" "))
    val rep = merges.foldLeft(docRep) { case (r, (_, a, b, _, _)) =>
      replace(r, lit(s" $a$SymSep$b "), lit(s" $a$b "))
    }
    docs
      .select(
        col("doc_id"), col("lang"),
        size(toks).cast("long").as("n_words"),
        length(array_join(toks, "")).cast("long").as("n_chars"),
        when(size(toks) === 0, lit(0L))
          .otherwise((size(split(trim(rep), SymSep)) - (size(toks) - 1)).cast("long"))
          .as("n_bpe"))
  }

  /** Tokenizer fertility by language (`q_bpe_fertility`): BPE tokens
    * per word under the learned vocabulary, per declared language —
    * the standard multilingual-tokenizer evaluation (a language whose
    * fertility is far above the corpus mean is being fragmented to
    * characters: its vocabulary share is too small). One map-only
    * encode pass (the memoized learner's merges are driver state)
    * into a lang-cardinality aggregate; integer sums, pinned-order
    * ratio, ANSI /0 guard mirrored in the oracle.
    */
  def bpeFertility(s: SparkSession, dir: String): DataFrame =
    encodeFrame(s, dir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("n_words"), sum("n_bpe").as("n_bpe"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_bpe"),
        (floor(col("n_bpe").cast("double") / greatest(col("n_words"), lit(1L))
          * lit(10000.0) + lit(0.5)) / 10000.0).as("fertility"))
      .orderBy("lang")

  /** Shared oracle prefix: word count + [[BpeRounds]] unrolled rounds
    * (pair count → deterministic argmax → wrapped-string replace),
    * generated from the same constants as the Scala learner.
    */
  private def oraclePrefix: String = {
    val sb = new StringBuilder
    sb ++=
      s"""WITH toks AS (
         |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
         |  FROM documents
         |), w0 AS (
         |  SELECT ' ' || array_to_string(string_split(w, ''), '$SymSep') || ' ' AS rep,
         |         count(*) AS n
         |  FROM toks GROUP BY 1
         |)""".stripMargin
    for (k <- 1 to BpeRounds) {
      sb ++=
        s""", p$k AS (
           |  SELECT pr[1] AS a, pr[2] AS b, sum(n) AS c FROM (
           |    SELECT unnest(list_transform(generate_series(1, len(s) - 1),
           |                                 i -> [s[i], s[i + 1]])) AS pr, n
           |    FROM (SELECT string_split(trim(rep), '$SymSep') AS s, n FROM w${k - 1})
           |    WHERE len(s) >= 2
           |  ) GROUP BY 1, 2
           |), m$k AS (
           |  SELECT a, b, c FROM p$k ORDER BY c DESC, a, b LIMIT 1
           |), w$k AS (
           |  SELECT replace(rep, ' ' || m.a || '$SymSep' || m.b || ' ',
           |                 ' ' || m.a || m.b || ' ') AS rep, n
           |  FROM w${k - 1}, m$k m
           |)""".stripMargin
    }
    sb.result()
  }

  /** DuckDB oracle for [[bpeMerges]]. */
  def bpeOracleSql: String = {
    oraclePrefix + "\nSELECT * FROM (\n" +
      (1 to BpeRounds).map { k =>
        s"""  SELECT $k AS merge_rank, a AS lhs, b AS rhs, a || b AS merged,
           |         CAST(c AS BIGINT) AS freq FROM m$k""".stripMargin
      }.mkString("\n  UNION ALL\n") +
      "\n) ORDER BY merge_rank"
  }

  /** DuckDB oracle for [[bpeVocab]]: explode the final frame's
    * symbols, weight by word count, top [[VocabTopK]].
    */
  def bpeVocabOracleSql: String = {
    oraclePrefix +
      s"""
         |SELECT sub AS subword, CAST(sum(n) AS BIGINT) AS freq FROM (
         |  SELECT unnest(string_split(trim(rep), '$SymSep')) AS sub, n
         |  FROM w$BpeRounds
         |) GROUP BY 1 ORDER BY freq DESC, subword LIMIT $VocabTopK""".stripMargin
  }

  /** DuckDB oracle for [[bpeEncode]]: the same whole-document
    * boundary-symbol encoding, the ten learned merges cross-joined in
    * from the unrolled rounds' one-row m-CTEs (scalar-broadcast
    * class, like the tfidf N join).
    */
  def bpeEncodeOracleSql: String =
    encodeOracleCtes +
      s"""
         |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
         |       CAST(n_chars AS BIGINT) AS n_chars,
         |       CAST(CASE WHEN n_words = 0 THEN 0
         |            ELSE len(string_split(trim(rep), '$SymSep')) - (n_words - 1)
         |            END AS BIGINT) AS n_bpe
         |FROM enc ORDER BY doc_id""".stripMargin

  /** DuckDB oracle for [[bpeFertility]]: the shared encode CTEs into a
    * per-language aggregate (HUGEINT sums cast back, /0 guard).
    */
  def bpeFertilityOracleSql: String =
    encodeOracleCtes +
      s"""
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_words) AS BIGINT) AS n_words,
         |       CAST(sum(CASE WHEN n_words = 0 THEN 0
         |            ELSE len(string_split(trim(rep), '$SymSep')) - (n_words - 1)
         |            END) AS BIGINT) AS n_bpe,
         |       floor(CAST(sum(CASE WHEN n_words = 0 THEN 0
         |            ELSE len(string_split(trim(rep), '$SymSep')) - (n_words - 1)
         |            END) AS DOUBLE)
         |         / greatest(CAST(sum(n_words) AS BIGINT), 1)
         |         * 10000.0 + 0.5) / 10000.0 AS fertility
         |FROM enc GROUP BY lang ORDER BY lang""".stripMargin

  /** Shared whole-document encode CTEs (lang carried) — single source
    * for the encode and fertility oracles.
    */
  private def encodeOracleCtes: String = {
    val chained = (1 to BpeRounds).foldLeft("rep") { (e, k) =>
      s"replace($e, ' ' || g$k.a || '$SymSep' || g$k.b || ' ', ' ' || g$k.a || g$k.b || ' ')"
    }
    oraclePrefix +
      s"""
         |, base AS (
         |  SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
         |  FROM documents
         |), brep AS (
         |  SELECT doc_id, lang, len(tk) AS n_words,
         |         length(array_to_string(tk, '')) AS n_chars,
         |         ' ' || array_to_string(list_transform(tk,
         |             w -> array_to_string(string_split(w, ''), '$SymSep')),
         |           '$SymSep|$SymSep') || ' ' AS rep
         |  FROM base
         |), enc AS (
         |  SELECT doc_id, lang, n_words, n_chars, $chained AS rep
         |  FROM brep, ${(1 to BpeRounds).map(k => s"m$k g$k").mkString(", ")}
         |)""".stripMargin
  }
}
