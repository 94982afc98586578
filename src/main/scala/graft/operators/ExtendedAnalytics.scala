package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._

/** Extended composed analytics (SURVEY §2.1b): join-type coverage,
  * multi-dimensional aggregates, deterministic sampling, corpus
  * statistics, and window analytics — the remaining query surface a user
  * of the reference's report pipeline plus a training-data pipeline
  * expects. All composed from built-ins; every query has a DuckDB
  * oracle.
  */
object ExtendedAnalytics {

  /** Anti join: parents with no children (generate_reports.py "childless
    * parent" exclusion, clean_task_list mask). Broadcast-anti at scale:
    * the aggregated key set is bounded.
    */
  def customersWithoutOrders(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")

  val SemiPeriodStart = "1997-01-01"

  /** Semi join: customers active in a period (EXISTS shape). */
  def activeCustomers(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit(SemiPeriodStart).cast("timestamp"))
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** Rollup over (status, priority): report subtotal tables in one pass
    * (map-side partial agg per grouping set). Subtotal rows surface as
    * 'ALL' (null-free output keeps engine sort semantics identical).
    */
  def rollupStatusPriority(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .rollup(col("o_orderstatus").as("status"), col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total_price"))
      .select(coalesce(col("status"), lit("ALL")).as("status"),
        coalesce(col("priority"), lit("ALL")).as("priority"),
        col("n"), col("total_price"))
      .orderBy("status", "priority")

  /** Pivot: status × priority count matrix (the reference's report
    * sections as a cross-tab). Fixed pivot values → no extra
    * value-discovery pass.
    */
  def pivotStatusPriority(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority").as("priority"))
      .pivot(col("o_orderstatus"), Seq("O", "F", "P"))
      .agg(count(lit(1)))
      .select(col("priority"), col("O").as("n_open"), col("F").as("n_finished"),
        col("P").as("n_pending"))
      .orderBy("priority")

  /** Per-language sampling rates (percent) for the stratified sample. */
  val SampleRates: Seq[(String, Int)] =
    Seq("en" -> 30, "de" -> 80, "es" -> 80, "fr" -> 80, "zh" -> 50)

  /** Deterministic hash-based stratified sampling — the training-data
    * rebalancing op (downsample dominant languages). Keep iff
    * `(doc_id * 2654435761) mod 2^31 mod 100 < rate(lang)`: portable
    * integer arithmetic, reproducible on any engine, no RNG state; scales
    * as a pure map-side filter.
    */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(col("doc_id") * lit(2654435761L), lit(2147483648L)) % 100
    val rate = SampleRates.foldLeft(lit(0)) { case (acc, (l, r)) =>
      when(col("lang") === l, r).otherwise(acc)
    }
    Tables.documentsSpread(s, dir)
      .filter(bucket < rate)
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** Split permille thresholds: 98% train / 1% val / 1% test. */
  val SplitTrainPermille = 980
  val SplitValPermille = 990

  /** Multiplier for the split hash — a different odd constant than the
    * stratified sample's, so split and sample membership stay
    * decorrelated.
    */
  val SplitHashA = 2246822519L

  /** Deterministic train/val/test split (`q_data_split`): every
    * training pipeline's last step before writing shards — assign each
    * document a split by a portable doc_id hash (98/1/1 permille).
    * Hash assignment is replayable on any engine and stable under
    * corpus growth: a document's split never changes when other
    * documents arrive, which row-position or RNG-draw splits cannot
    * guarantee. Scale shape: pure MAP-SIDE projection, no shuffle.
    */
  def dataSplit(s: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(col("doc_id") * lit(SplitHashA), lit(2147483648L)) % 1000
    Tables.documentsSpread(s, dir)
      .select(col("doc_id"), col("lang"),
        when(bucket < SplitTrainPermille, "train")
          .when(bucket < SplitValPermille, "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  def dataSplitOracleSql: String =
    s"""SELECT doc_id, lang,
       |  CASE WHEN b < $SplitTrainPermille THEN 'train'
       |       WHEN b < $SplitValPermille THEN 'val'
       |       ELSE 'test' END AS split
       |FROM (SELECT doc_id, lang,
       |        ((doc_id * $SplitHashA) % 2147483648) % 1000 AS b
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin

  /** Target corpus mixture for [[domainMix]] — en-heavy with the two
    * mid-size languages, dropping the rest (zh/fr): the shape of a
    * real pretraining-mixture spec.
    */
  val MixTargets: Seq[(String, Double)] =
    Seq("en" -> 0.5, "de" -> 0.3, "es" -> 0.2)

  /** Domain mixing (`q_domain_mix`): resample the corpus to a TARGET
    * language distribution — the data-mixture operator every LLM
    * pretraining pipeline runs. The output is the largest subset with
    * exactly the target shares (up to per-mille threshold granularity):
    * feasible size S = min_g n_g/f_g, per-group keep fraction
    * S·f_g/n_g, membership decided by the same portable doc_id hash as
    * the stratified sample (deterministic, replayable, engine-portable
    * — a seeded RNG is neither).
    *
    * Scale shape: ONE column-pruned aggregate scan computes the group
    * counts (lang-cardinality frame), the thresholds broadcast back,
    * and the corpus pass is a MAP-SIDE hash filter — no corpus shuffle
    * at any size. Double arithmetic is written in the same association
    * order in both engines (((S·f)/n)·1000) so the floor'd per-mille
    * thresholds match bit-for-bit.
    */
  def domainMix(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documentsSpread(s, dir)
    val fCol = MixTargets.foldLeft(lit(null).cast("double")) {
      case (acc, (l, f)) => when(col("lang") === l, lit(f)).otherwise(acc)
    }
    val counts = d.select(col("lang")).withColumn("f", fCol)
      .filter(col("f").isNotNull)
      .groupBy("lang", "f").agg(count(lit(1)).as("ng"))
    val smax = counts.agg(min(col("ng").cast("double") / col("f")).as("smax"))
    val thr = counts.crossJoin(broadcast(smax))
      .select(col("lang"),
        floor(col("smax") * col("f") / col("ng").cast("double") * lit(1000))
          .cast("long").as("thr"))
    val bucket = pmod(col("doc_id") * lit(2654435761L), lit(2147483648L)) % 1000
    d.join(broadcast(thr), Seq("lang"))
      .filter(bucket < col("thr"))
      .select("doc_id", "lang")
      .orderBy("doc_id")
  }

  def domainMixOracleSql: String = {
    val targets = MixTargets.map { case (l, f) =>
      s"SELECT '$l' AS lang, CAST($f AS DOUBLE) AS f" }.mkString(" UNION ALL ")
    s"""WITH t AS ($targets),
       |n AS (SELECT d.lang, f, count(*) AS ng
       |      FROM documents d JOIN t ON d.lang = t.lang GROUP BY d.lang, f),
       |s AS (SELECT min(CAST(ng AS DOUBLE) / f) AS smax FROM n),
       |thr AS (SELECT lang,
       |          CAST(floor(smax * f / CAST(ng AS DOUBLE) * 1000) AS BIGINT) AS thr
       |        FROM n CROSS JOIN s)
       |SELECT d.doc_id, d.lang FROM documents d JOIN thr ON d.lang = thr.lang
       |WHERE (d.doc_id * 2654435761) % 2147483648 % 1000 < thr
       |ORDER BY d.doc_id""".stripMargin
  }

  /** With-replacement mixture (`q_domain_mix_up`): resample to the
    * target shares at the ORIGINAL corpus size, so scarce domains
    * UPSAMPLE by repetition — the "epochs per domain" knob real
    * mixtures use alongside downsampling. Per group the repetition
    * rate r_g = f_g·N / n_g splits into ⌊r_g⌋ whole epochs for every
    * doc plus one fractional epoch gated by the portable doc_id hash;
    * output rows carry a `copy` index. Plan shape identical to
    * [[domainMix]] (aggregate scan → broadcast thresholds → map-side),
    * with the repetition as a map-side `posexplode(array_repeat)` —
    * fan-out happens AT the consumer, nothing shuffles r_g× data.
    */
  def domainMixUpsample(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documentsSpread(s, dir)
    val fCol = MixTargets.foldLeft(lit(null).cast("double")) {
      case (acc, (l, f)) => when(col("lang") === l, lit(f)).otherwise(acc)
    }
    val counts = d.select(col("lang")).withColumn("f", fCol)
      .filter(col("f").isNotNull)
      .groupBy("lang", "f").agg(count(lit(1)).as("ng"))
    val tot = counts.agg(sum("ng").cast("double").as("ntot"))
    val rate = col("ntot") * col("f") / col("ng").cast("double")
    val thr = counts.crossJoin(broadcast(tot))
      .select(col("lang"),
        floor(rate).cast("long").as("base"),
        floor((rate - floor(rate)) * lit(1000)).cast("long").as("fracthr"))
    val bucket = pmod(col("doc_id") * lit(2654435761L), lit(2147483648L)) % 1000
    d.join(broadcast(thr), Seq("lang"))
      .withColumn("copies",
        (col("base") + when(bucket < col("fracthr"), 1).otherwise(0)).cast("int"))
      .select(col("doc_id"), col("lang"),
        posexplode(array_repeat(lit(1), col("copies"))).as(Seq("copy", "_one")))
      .select(col("doc_id"), col("lang"), col("copy").cast("int").as("copy"))
      .orderBy("doc_id", "copy")
  }

  def domainMixUpsampleOracleSql: String = {
    val targets = MixTargets.map { case (l, f) =>
      s"SELECT '$l' AS lang, CAST($f AS DOUBLE) AS f" }.mkString(" UNION ALL ")
    s"""WITH t AS ($targets),
       |n AS (SELECT d.lang, f, count(*) AS ng
       |      FROM documents d JOIN t ON d.lang = t.lang GROUP BY d.lang, f),
       |s AS (SELECT CAST(sum(ng) AS DOUBLE) AS ntot FROM n),
       |thr AS (SELECT lang,
       |          CAST(floor(ntot * f / CAST(ng AS DOUBLE)) AS BIGINT) AS base,
       |          CAST(floor((ntot * f / CAST(ng AS DOUBLE)
       |            - floor(ntot * f / CAST(ng AS DOUBLE))) * 1000) AS BIGINT) AS fracthr
       |        FROM n CROSS JOIN s)
       |SELECT doc_id, lang, CAST(gs - 1 AS INTEGER) AS copy
       |FROM (SELECT d.doc_id, d.lang,
       |        base + CASE WHEN (d.doc_id * 2654435761) % 2147483648 % 1000 < fracthr
       |                    THEN 1 ELSE 0 END AS n_copies
       |      FROM documents d JOIN thr ON d.lang = thr.lang) x,
       |     unnest(generate_series(1, n_copies)) AS u(gs)
       |ORDER BY doc_id, copy""".stripMargin
  }

  /** Temperature exponent for [[domainMixAlpha]] (α = 0.5 — the
    * multilingual-pretraining smoothing that lifts scarce languages
    * without letting any single one dominate).
    */
  val MixAlphaMilli = 1000 // weight quantum: w_g = floor(n_g^α · 1000)

  /** Temperature-smoothed mixture (`q_domain_mix_alpha`): target shares
    * DERIVED from the corpus itself as f_g ∝ n_g^α (α=0.5) — the
    * exponent-smoothing every multilingual pretraining mix uses (XLM-R
    * style) instead of a hand-written target table. Sampling is
    * with-replacement at corpus size, so the dominant language
    * downsamples and scarce ones upsample by repetition epochs, same
    * row contract as [[domainMixUpsample]] (`copy` index).
    *
    * Cross-engine float determinism: the smoothed weight is quantized
    * to an INTEGER w_g = ⌊√n_g·1000⌋ (sqrt is IEEE correctly-rounded in
    * both engines; a non-square n keeps √n·1000 far from integers, a
    * square computes exactly), so Σw and Σn are exact integer sums and
    * the rate r_g = ((w_g/W)·N)/n_g is three float ops in pinned
    * association order. Plan shape: one column-pruned aggregate scan →
    * lang-cardinality thresholds broadcast back → map-side hash gate +
    * posexplode repetition; zero corpus shuffle.
    */
  def domainMixAlpha(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documentsSpread(s, dir)
    val counts = d.groupBy("lang").agg(count(lit(1)).as("ng"))
      .withColumn("wg",
        floor(sqrt(col("ng").cast("double")) * lit(MixAlphaMilli)).cast("long"))
    val tot = counts.agg(sum("wg").as("wtot"), sum("ng").as("ntot"))
    val rate = col("wg").cast("double") / col("wtot").cast("double") *
      col("ntot").cast("double") / col("ng").cast("double")
    val thr = counts.crossJoin(broadcast(tot))
      .select(col("lang"),
        floor(rate).cast("long").as("base"),
        floor((rate - floor(rate)) * lit(1000)).cast("long").as("fracthr"))
    val bucket = pmod(col("doc_id") * lit(2654435761L), lit(2147483648L)) % 1000
    d.join(broadcast(thr), Seq("lang"))
      .withColumn("copies",
        (col("base") + when(bucket < col("fracthr"), 1).otherwise(0)).cast("int"))
      .select(col("doc_id"), col("lang"),
        posexplode(array_repeat(lit(1), col("copies"))).as(Seq("copy", "_one")))
      .select(col("doc_id"), col("lang"), col("copy").cast("int").as("copy"))
      .orderBy("doc_id", "copy")
  }

  def domainMixAlphaOracleSql: String =
    s"""WITH n AS (SELECT lang, count(*) AS ng FROM documents GROUP BY lang),
       |w AS (SELECT lang, ng,
       |        CAST(floor(sqrt(CAST(ng AS DOUBLE)) * $MixAlphaMilli) AS BIGINT) AS wg
       |      FROM n),
       |s AS (SELECT CAST(sum(wg) AS BIGINT) AS wtot,
       |             CAST(sum(ng) AS BIGINT) AS ntot FROM w),
       |thr AS (SELECT lang,
       |          CAST(floor(CAST(wg AS DOUBLE) / CAST(wtot AS DOUBLE)
       |            * CAST(ntot AS DOUBLE) / CAST(ng AS DOUBLE)) AS BIGINT) AS base,
       |          CAST(floor((CAST(wg AS DOUBLE) / CAST(wtot AS DOUBLE)
       |              * CAST(ntot AS DOUBLE) / CAST(ng AS DOUBLE)
       |            - floor(CAST(wg AS DOUBLE) / CAST(wtot AS DOUBLE)
       |              * CAST(ntot AS DOUBLE) / CAST(ng AS DOUBLE))) * 1000) AS BIGINT) AS fracthr
       |        FROM w CROSS JOIN s)
       |SELECT doc_id, lang, CAST(gs - 1 AS INTEGER) AS copy
       |FROM (SELECT d.doc_id, d.lang,
       |        base + CASE WHEN (d.doc_id * 2654435761) % 2147483648 % 1000 < fracthr
       |                    THEN 1 ELSE 0 END AS n_copies
       |      FROM documents d JOIN thr ON d.lang = thr.lang) x,
       |     unnest(generate_series(1, n_copies)) AS u(gs)
       |ORDER BY doc_id, copy""".stripMargin

  /** Training-sequence token length for [[packSequences]]. */
  val PackSeqLen = 512L

  /** Bucket width (docs per bucket) for the packing prefix sum. Fixed
    * width — not a width derived from max(doc_id) — so the bucket
    * totals are ONE action over the input instead of two (max, then
    * totals), which matters when the input is an expensive subtree
    * (the composed corpus pipeline re-executes its gates once per
    * action). Driver state = (maxId/width) 16 B rows: ~24 MB at 10¹¹
    * docs — the zipWithIndex per-partition-counts class of collect,
    * and each phase-one window sorts at most `width` rows.
    */
  val PackBucketWidth = 65536L

  /** Concat-and-chunk sequence packing (`q_pack_sequences`) — the
    * GPT-style pretraining step that concatenates the tokenized corpus
    * in doc_id order and slices it into fixed-length training
    * sequences. Output: one row per (document, sequence) it lands in,
    * with the document's token sub-range [tok_from, tok_to) and its
    * offset inside the sequence — exactly what a loader needs to
    * assemble sequence tensors without materializing the concatenation.
    *
    * The global token offset is a distributed TWO-PHASE prefix sum (no
    * unpartitioned window anywhere): docs bucket by contiguous id range
    * (PackBucketWidth docs per bucket), phase one is a cumsum window
    * partitioned BY bucket, phase two broadcast-joins each bucket's
    * running start offset (bucket totals are a driver-bounded
    * metadata collect — see PackBucketWidth). The chunk fan-out is a
    * map-side sequence/explode. One key-partitioned shuffle,
    * O(buckets) driver state, two passes over the input (totals, then
    * the windowed chunk map).
    */
  def packSequences(s: SparkSession, dir: String): DataFrame =
    packOn(s,
      Tables.documentsSpread(s, dir)
        .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("ntok")))
      .orderBy("doc_id", "seq_id")

  /** Packing core over any (doc_id, ntok) frame, unsorted — the
    * composed corpus pipeline packs its SURVIVORS through the same
    * machinery.
    */
  private[graft] def packOn(s: SparkSession, d0: DataFrame): DataFrame = {
    val d = d0.filter(col("ntok") > 0)
      .withColumn("bucket", expr(s"doc_id div $PackBucketWidth"))
    val w = Window.partitionBy("bucket").orderBy("doc_id")
    val local = d.withColumn("lend", sum("ntok").over(w))
    // running start offset per bucket from the collected totals (ONE
    // action, partial-combined agg — no window in this pass) — buckets
    // are contiguous id ranges, so boff + lend == the global inclusive
    // cumsum
    val totals = d.groupBy("bucket").agg(sum("ntok").as("btot"))
      .orderBy("bucket").collect().map(r => (r.getLong(0), r.getLong(1)))
    val running = totals.map(_._2).scanLeft(0L)(_ + _) // exclusive prefix
    val offs = totals.map(_._1).zip(running).toSeq
    import s.implicits._
    val offDf = offs.toDF("bucket", "boff")
    local.join(broadcast(offDf), "bucket")
      .withColumn("gstart", col("boff") + col("lend") - col("ntok"))
      .withColumn("first_seq", expr(s"gstart div $PackSeqLen"))
      .withColumn("last_seq", expr(s"(gstart + ntok - 1) div $PackSeqLen"))
      .select(col("doc_id"), col("ntok"), col("gstart"),
        explode(sequence(col("first_seq"), col("last_seq"))).as("seq_id"))
      .select(col("doc_id"), col("seq_id"),
        greatest(lit(0L), col("gstart") - col("seq_id") * lit(PackSeqLen))
          .cast("int").as("seq_off"),
        greatest(lit(0L), col("seq_id") * lit(PackSeqLen) - col("gstart"))
          .cast("int").as("tok_from"),
        least(col("ntok"), (col("seq_id") + 1) * lit(PackSeqLen) - col("gstart"))
          .cast("int").as("tok_to"))
  }

  def packSequencesOracleSql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS ntok
       |  FROM documents
       |  WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) >= 1),
       |c AS (SELECT doc_id, ntok,
       |        CAST(sum(ntok) OVER (ORDER BY doc_id) AS BIGINT) - ntok AS gstart
       |      FROM d),
       |x AS (SELECT doc_id, ntok, gstart,
       |        gstart // $PackSeqLen AS first_seq,
       |        (gstart + ntok - 1) // $PackSeqLen AS last_seq FROM c)
       |SELECT doc_id, CAST(sq AS BIGINT) AS seq_id,
       |  CAST(greatest(0, gstart - sq * $PackSeqLen) AS INTEGER) AS seq_off,
       |  CAST(greatest(0, sq * $PackSeqLen - gstart) AS INTEGER) AS tok_from,
       |  CAST(least(ntok, (sq + 1) * $PackSeqLen - gstart) AS INTEGER) AS tok_to
       |FROM x, unnest(generate_series(first_seq, last_seq)) AS u(sq)
       |ORDER BY doc_id, seq_id""".stripMargin

  val KeyedSampleK = 20
  val KeyedSampleA = 1203114533L

  /** Deterministic per-key sample: k documents per language chosen by
    * portable-hash order — the reproducible "20 random docs per stratum"
    * eval/debugging staple (a seeded RNG would not replay across
    * engines or partitionings; a hash order does). Expressed as
    * Filter(row_number ≤ k, Window) so the WindowTopKRewrite optimizer
    * rule lowers it to the two-phase bounded-heap operator — O(keys·k)
    * state, map-side partial heaps, no per-partition sort even when one
    * language dominates the corpus.
    */
  def keyedSample(s: SparkSession, dir: String): DataFrame = {
    val hashed = Tables.documentsSpread(s, dir)
      .select(col("doc_id"), col("lang"),
        pmod(col("doc_id") * lit(KeyedSampleA), lit(HashP)).as("hkey"))
    // the TopK.perKey operator (not a window): bounded heaps on both
    // sides of one exchange, so a language holding 60% of a 100 TB
    // corpus costs O(k) memory instead of a partition-wide sort
    graft.plans.TopK.perKey(hashed, Seq("lang"),
        Seq(("hkey", true), ("doc_id", true)), KeyedSampleK)
      .select("lang", "doc_id", "hkey")
      .orderBy("lang", "hkey", "doc_id")
  }

  val VocabTopK = 20

  /** Corpus vocabulary stats: document frequency per token, top-k.
    * Explode-then-count is the canonical one-shuffle corpus stat; at
    * 100 TB the groupBy key is the token (bounded vocabulary) with
    * map-side combine.
    */
  def vocabTopK(s: SparkSession, dir: String): DataFrame =
    Tables.documentsSpread(s, dir)
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("token"))
      .limit(VocabTopK)

  /** Word-3-gram document frequency, top-k (n-gram corpus statistics).
    * Shingle strings come from the codegen'd WordShingleStrings (one
    * fused loop) rather than the interpreted transform/slice/concat_ws
    * HOF chain — same values, ~2× the query.
    */
  def ngramFreqTopK(s: SparkSession, dir: String): DataFrame =
    Tables.documentsSpread(s, dir)
      .select(col("doc_id"),
        explode(graft.plans.ArrayOps.wordShingleStrings(tokens(col("text")), 3)).as("ngram"))
      .groupBy("ngram")
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("ngram"))
      .limit(VocabTopK)

  /** Running per-customer order total (window analytics; one shuffle on
    * the partition key, sort within partitions).
    */
  def runningTotal(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        round(sum("o_totalprice").over(w), 2).as("running_total"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Week-over-week completion change (velocity + lag — the reference's
    * weekly chart as a delta series).
    *
    * Two-phase lag, no unpartitioned window: phase 1 lags WITHIN each
    * year (partitioned window over the weekly aggregate); phase 2
    * supplies each year's first week with the LAST week of the nearest
    * earlier non-empty year via a per-year-last collect (≤ one row per
    * year — driver-bounded metadata) broadcast back. Lag semantics are
    * "previous PRESENT row", which survives arbitrary gaps — a
    * calendar self-join on week-1 would not. A decade-spanning order
    * history therefore never funnels through one task.
    */
  def weekOverWeek(s: SparkSession, dir: String): DataFrame = {
    val weekly = Tables.orders(s, dir)
      .filter(col("o_orderstatus") === "F")
      .groupBy(date_format(date_trunc("week", col("o_orderdate")), "yyyy-MM-dd").as("week"))
      .agg(count(lit(1)).as("n"))
      .withColumn("yr", substring(col("week"), 1, 4))
    val withLag = weekly.withColumn("prev_in_yr",
      lag("n", 1).over(Window.partitionBy("yr").orderBy("week")))
    // ISO-week truncation can place a year's first days in the prior
    // year's last ISO week, but "yr" here only BUCKETS the series —
    // any contiguous grouping of the sorted week strings works
    val lasts = weekly.groupBy("yr")
      .agg(max(struct(col("week"), col("n"))).as("last"))
      .select(col("yr"), col("last.n").as("last_n"))
      .collect().sortBy(_.getString(0))
    val prevPairs = lasts.sliding(2).collect {
      case Array(p, c) => (c.getString(0), p.getLong(1))
    }.toSeq
    import s.implicits._
    val prevDf = broadcast(prevPairs.toDF("yr", "prev_yr_last_n"))
    withLag.join(prevDf, Seq("yr"), "left")
      .select(col("week"), col("n"),
        coalesce(col("n") - coalesce(col("prev_in_yr"), col("prev_yr_last_n")),
          lit(0L)).as("wow_change"))
      .orderBy("week")
  }

  /** Funnel stage order: first signup, then first click AFTER it, then
    * first purchase after that — strict event-time sequence.
    */
  val FunnelStages = Seq("signup", "click", "purchase")

  /** Funnel analysis (`q_funnel`): how many users complete each stage
    * of signup → click → purchase IN ORDER (each stage's event must
    * follow the user's previous stage's first qualifying event) — the
    * product-analytics staple for conversion measurement.
    *
    * Distributed shape: ONE scan + ONE user-keyed exchange. The three
    * stage times are chained whole-partition window minimums over the
    * same partitioning (t2's predicate reads t1's column, so they
    * stack as Window nodes on one exchange — no join, no re-scan; a
    * naive stage-per-pass formulation scans the event log once per
    * stage). The per-user reduction then rides the same partitioning
    * exchange-free, and only the 3-row summary is re-shuffled.
    */
  def funnel(s: SparkSession, dir: String): DataFrame =
    funnelStaged(Tables.events(s, dir), FunnelStages)

  /** N-stage generalization (round 6; the 3-stage `q_funnel` is the
    * oracle-checked instance): the chained-window construction folds
    * over any stage list — stage i+1's predicate reads stage i's
    * column, so all N minimums still stack on the SAME user exchange.
    * FunnelSpec runs a 5-stage funnel on planted in/out-of-order users.
    */
  def funnelStaged(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val base = events
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val staged = stages.zipWithIndex.foldLeft(base) { case (df, (st, i)) =>
      val qualifies =
        if (i == 0) col("event_type") === st
        else col("event_type") === st && col("us") > col(s"t$i")
      df.withColumn(s"t${i + 1}", min(when(qualifies, col("us"))).over(w))
    }
    val tCols = stages.indices.map(i => s"t${i + 1}")
    val perUser = staged.groupBy("user_id")
      .agg(first(tCols.head).as(tCols.head),
        tCols.tail.map(c => first(c).as(c)): _*)
    val counted = perUser.agg(count(col(tCols.head)).as("s1"),
      tCols.tail.zipWithIndex.map { case (c, i) => count(col(c)).as(s"s${i + 2}") }: _*)
    val stackArgs = stages.zipWithIndex
      .map { case (st, i) => s"${i + 1}, '$st', s${i + 1}" }.mkString(", ")
    counted.select(expr(
      s"stack(${stages.length}, $stackArgs) AS (stage_no, stage, users)"))
      .orderBy("stage_no")
  }

  /** Cohort retention (`q_retention`): users bucketed by first-seen
    * week (cohort), counted as retained in each later week they were
    * active — the (cohort, week-offset) retention matrix behind every
    * engagement dashboard.
    *
    * Shape: ONE scan — map-side-combined distinct on (user, week),
    * the cohort week as a whole-partition window min over user (no
    * self-join, no second scan), then the (cohort, offset) count.
    */
  def retention(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    Tables.events(s, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("week"))
      .distinct()
      .withColumn("cohort_week", min("week").over(w))
      .select(col("cohort_week"),
        (datediff(col("week"), col("cohort_week")) / 7).cast("int").as("week_offset"),
        col("user_id"))
      .groupBy("cohort_week", "week_offset")
      // rows are the DISTINCT (user, week) set and offset is injective
      // in week per user, so each user appears once per group — plain
      // count (map-side combine) equals countDistinct without the
      // extra partial-distinct aggregation
      .agg(count(lit(1)).as("users"))
      // week as a string — raw DATE dtypes convert differently into the
      // parity compare (repo precedent: q_weekly_velocity et al.)
      .select(date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort_week"),
        col("week_offset"), col("users"))
      .orderBy("cohort_week", "week_offset")
  }

  /** SCD2 effective-interval construction (`q_scd2`): the change-log →
    * versioned-dimension build every warehouse runs — each event opens
    * a validity interval for its state, closed by the user's next event
    * (open-ended NULL for the current state). The keep-last dedup
    * (`q_dedup_keep_last`) is the SCD1 half; this is the SCD2 half.
    * Shape: one hash exchange + per-key sort (row_number + lead ride
    * the same window) — the standard distributed versioning pass.
    */
  def scd2Intervals(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .select(col("user_id"),
        row_number().over(w).as("version"),
        col("event_type").as("state"),
        // stringified (micros) — raw TIMESTAMP dtypes land as
        // datetime64[us] vs [ns] across engines in the parity compare;
        // repo precedent: q_retention / q_weekly_velocity
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("valid_from"),
        date_format(lead(col("ts"), 1).over(w),
          "yyyy-MM-dd HH:mm:ss.SSSSSS").as("valid_to"))
      .orderBy("user_id", "version")
  }

  /** Interval-join bucket width (1 h in µs): the probe row explodes to
    * the TWO buckets its lookback window can touch; the build side is
    * bucketed once — each qualifying pair meets in exactly one bucket.
    */
  val IntervalUs: Long = 3600L * 1000000L

  /** Interval (range) join (`q_interval_join`): for each error event,
    * count + sum the same user's event values in the preceding hour —
    * the error-context window. Spark has no native range join; the
    * naive form is a BroadcastNestedLoopJoin (quadratic per user).
    * Scalable shape: BUCKETIZED range join — both sides key on
    * (user, ⌊ts/width⌋), the probe explodes to its 2 covering buckets,
    * and the range predicate is an exact filter AFTER a plain shuffle
    * equi-join. One shuffle, O(pairs-in-bucket) compute, no nested
    * loop; the standard interval-join shape at any scale (width tuned
    * to the window so each probe touches ≤ 2 buckets).
    */
  def errorContext(s: SparkSession, dir: String): DataFrame =
    errorContextOn(Tables.events(s, dir))

  /** `salts` > 1 enables the hot-entity path (SURVEY §5, same family as
    * [[Skew.saltedJoin]]): a celebrity user with an extreme per-window
    * event rate concentrates one (user, bucket) key on one reducer —
    * salting spreads the PRIOR side over `salts` sub-keys and
    * replicates each probe across them, so every (error, prior) pair
    * still meets exactly once and the result is identical (spec:
    * IntervalSkewSpec, planted celebrity, measured reducer shares).
    * The salt hashes the prior row's own columns — deterministic,
    * replay-stable.
    */
  def errorContextOn(eventsIn: DataFrame, salts: Int = 1): DataFrame = {
    val ev = eventsIn.withColumn("us", unix_micros(col("ts")))
    val bkt = (col("us") / IntervalUs).cast("long")
    val errs0 = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("us"),
        explode(array(bkt - 1, bkt)).as("bkt"))
    val prior0 = ev.select(col("user_id"), col("us").as("p_us"), col("value"),
      bkt.as("bkt"))
    val (errs, prior, keys) =
      if (salts <= 1) (errs0, prior0, Seq("user_id", "bkt"))
      else (
        errs0.withColumn("_salt", explode(array((0 until salts).map(lit): _*))),
        prior0.withColumn("_salt", pmod(hash(col("p_us"), col("value")), lit(salts))),
        Seq("user_id", "bkt", "_salt"))
    // left join: errors with an empty lookback window still report 0
    errs.join(prior, keys, "left")
      .withColumn("hit",
        col("p_us") >= col("us") - IntervalUs && col("p_us") < col("us"))
      .groupBy("event_id", "user_id")
      .agg(count(when(col("hit"), lit(1))).as("n_prior"),
        // values are 2-decimal money (sum-then-round is engine-stable)
        round(coalesce(sum(when(col("hit"), col("value"))), lit(0.0)), 2)
          .as("prior_value"))
      .orderBy("event_id")
  }

  /** As-of join (custom whole-operator, graft.plans.AsOfJoin): for each
    * purchase event, the latest error event at-or-before it by the same
    * user — the classic "state as of event time" enrichment. One
    * hash exchange + sort per side, O(1)-state streaming merge.
    */
  def purchasesWithLastError(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id").as("e_user"), col("ts").as("e_ts"))
    graft.plans.AsOf.join(purchases, errors, "user_id", "e_user", "ts", "e_ts",
        rightTieBreak = Some("error_id"))
      .select(col("purchase_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
        col("error_id"),
        date_format(col("e_ts"), "yyyy-MM-dd HH:mm:ss").as("error_ts"))
      .orderBy("purchase_id")
  }

  /** Report goals with the reference's conditional narrowing
    * (generate_reports.py:448-466): list every open item when there are
    * ≤ 15, otherwise only due-soon or high-priority ones. The count
    * gate is a scalar aggregate cross-joined in (one extra reduction,
    * no second scan of the filtered side at scale thanks to reuse).
    */
  val GoalsCutoff = "1998-01-15"

  def reportGoals(s: SparkSession, dir: String): DataFrame = {
    val open = Tables.orders(s, dir).filter(col("o_orderstatus") === "O")
    val total = open.agg(count(lit(1)).as("_total"))
    open.crossJoin(broadcast(total))
      .filter(col("_total") <= 15 ||
        col("o_orderdate") <= lit(GoalsCutoff).cast("timestamp") ||
        TaskAnalytics.prioScore(col("o_orderpriority")) <= 1)
      .select(col("o_orderkey"),
        TaskAnalytics.prioScore(col("o_orderpriority")).as("prio_score"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
      .orderBy("o_orderkey")
  }

  /** Bucket span (days) for the two-phase moving-average window; the
    * 7-day frame needs only a 6-day overlap copied across boundaries.
    */
  val MaBucketDays = 512

  /** 7-day moving average of daily completions (RANGE window frame over
    * day numbers — time-based frames, not row counts).
    *
    * Two-phase, no unpartitioned window: days bucket into
    * [[MaBucketDays]]-day ranges; rows in the last 6 days of a bucket
    * are COPIED into the next bucket (flagged helpers), the range
    * window then runs partitioned by bucket — every day's [d-6, d]
    * frame is complete inside its bucket — and helper rows are dropped
    * after contributing. ~1% row duplication buys a window that scales
    * with history length instead of single-tasking it.
    */
  def movingAvg(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .filter(col("o_orderstatus") === "F")
      .groupBy(datediff(col("o_orderdate"), lit("1995-01-01").cast("timestamp")).as("day_no"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n"))
      // floor division (day_no is negative before the epoch date);
      // |day_no| ≪ 2^52 so the double division is exact
      .withColumn("bkt",
        floor(col("day_no") / lit(MaBucketDays.toDouble)).cast("long"))
    val helpers = daily
      .filter(col("day_no") >= (col("bkt") + 1) * MaBucketDays - 6)
      .withColumn("bkt", col("bkt") + 1).withColumn("_helper", lit(true))
    val w = Window.partitionBy("bkt").orderBy("day_no").rangeBetween(-6, 0)
    daily.withColumn("_helper", lit(false)).unionByName(helpers)
      .withColumn("ma7", round(avg("n").over(w), 4))
      .filter(!col("_helper"))
      .select(col("day"), col("n"), col("ma7"))
      .orderBy("day")
  }

  /** Decile summary of order values: two-pass quantile bucketing —
    * pass 1 computes the 9 interior percentile boundaries (one
    * aggregate, rounded half-up to cents so both engines bucket
    * identically), pass 2 assigns each row a decile by comparing
    * against the broadcast boundary row, map-side. No global
    * single-partition window (`ntile` over an unpartitioned ORDER BY
    * moves the whole table through one task — a scale-killer); at an
    * unbounded scale the exact `percentile` swaps for
    * `approx_percentile` with no other change (approxStats covers that
    * sketch path).
    */
  def valueDeciles(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    // ONE percentile aggregate for all 9 boundaries (the array form
    // shares a single buffer; nine scalar calls would each sort)
    val bounds = o
      .agg(expr("percentile(o_totalprice, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))").as("bs"))
      .select((1 to 9).map(i =>
        expr(s"floor(element_at(bs, $i) * 100 + 0.5) / 100").as(s"b$i")): _*)
    val decile = (1 to 9).map(i => when(col("o_totalprice") > col(s"b$i"), 1).otherwise(0))
      .foldLeft(lit(1): org.apache.spark.sql.Column)(_ + _).cast("int")
    o.select("o_totalprice").crossJoin(broadcast(bounds))
      .withColumn("decile", decile)
      .groupBy("decile")
      .agg(count(lit(1)).as("n"),
        round(min("o_totalprice"), 2).as("min_price"),
        round(max("o_totalprice"), 2).as("max_price"))
      .orderBy("decile")
  }

  /** Group-wise top-k via the custom bounded-heap operator
    * (plans.TopKPerKey): top-3 orders per customer by value. Same
    * result as the window row_number pattern without the per-partition
    * sort.
    */
  def topOrdersPerCustomer(s: SparkSession, dir: String): DataFrame =
    graft.plans.TopK.perKey(
        Tables.orders(s, dir).select("o_custkey", "o_orderkey", "o_totalprice"),
        Seq("o_custkey"), Seq(("o_totalprice", false), ("o_orderkey", true)), 3)
      .select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("total_price"))
      .orderBy("o_custkey", "o_orderkey")

  /** Cube over (status, priority): all grouping sets in one pass
    * (the rollup's big sibling — per-dimension marginals included).
    */
  def cubeStatusPriority(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .cube(col("o_orderstatus").as("status"), col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n"))
      .select(coalesce(col("status"), lit("ALL")).as("status"),
        coalesce(col("priority"), lit("ALL")).as("priority"), col("n"))
      .orderBy("status", "priority")

  /** Argmax aggregate: each customer's most expensive order via max_by
    * over a composite zero-padded string key — lexicographic string
    * order equals (price cents, orderkey) numeric order at any
    * magnitude, so the tie-break is deterministic without the integer
    * composite's overflow/aliasing hazard (price·1e6 + key collides
    * once orderkey ≥ 1e6, i.e. TPC-H sf ≥ 1).
    */
  def argmaxOrder(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(max_by(col("o_orderkey"),
          concat(lpad(round(col("o_totalprice") * 100).cast("long").cast("string"), 15, "0"),
            lpad(col("o_orderkey").cast("string"), 15, "0")))
        .as("best_orderkey"),
        round(max("o_totalprice"), 2).as("best_price"))
      .orderBy("o_custkey")

  /** String-function breadth (edit distance, casing, padding, reversal
    * — the text-wrangling surface a report pipeline leans on).
    */
  def stringFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.documentsSpread(s, dir)
      .select(col("doc_id"),
        levenshtein(substring(col("text"), 1, 15), lit("spark shuffle")).as("lev"),
        reverse(substring(col("text"), 1, 8)).as("rev8"),
        lpad(col("doc_id").cast("string"), 6, "0").as("padded"),
        upper(substring(col("text"), 1, 10)).as("up10"))
      .orderBy("doc_id")

  /** Date-function breadth (calendar decomposition + arithmetic).
    * dow normalized to DuckDB's 0=Sunday convention (Spark's dayofweek
    * is 1=Sunday).
    */
  def dateFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        quarter(col("o_orderdate")).as("q"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        dayofyear(col("o_orderdate")).as("doy"),
        (dayofweek(col("o_orderdate")) - 1).as("dow"),
        weekofyear(col("o_orderdate")).as("woy"),
        date_format(date_add(col("o_orderdate"), 30), "yyyy-MM-dd").as("plus30"),
        date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"))
      .orderBy("o_orderkey")

  /** Set-operation coverage: customer activity overlap between two
    * years (EXCEPT/INTERSECT semantics). Computed as ONE scan — year
    * membership flags per customer, then conditional counts — instead of
    * three `except`/`intersect` driver actions (which re-scan the fact
    * table up to six times and pay three job round-trips). The
    * DataFrame `except`/`intersect` operators themselves are covered by
    * OperatorsSpec, which asserts they agree with this fused form.
    */
  def setOps(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("o_custkey"),
        (col("o_orderdate") < lit("1997-01-01").cast("timestamp")).as("in96"))
      .groupBy("o_custkey")
      .agg(max(when(col("in96"), 1).otherwise(0)).as("a"),
        max(when(!col("in96"), 1).otherwise(0)).as("b"))
      .agg(count(when(col("a") === 1 && col("b") === 0, 1)).as("only_1996"),
        count(when(col("a") === 0 && col("b") === 1, 1)).as("only_1997"),
        count(when(col("a") === 1 && col("b") === 1, 1)).as("both_years"))

  /** Typed-Aggregator weighted mean (functions.WeightedMean): weighted
    * average price per return flag, weights = quantities. Exercises the
    * Dataset-typed aggregation path end-to-end (mergeable buffer,
    * map-side partials).
    */
  def weightedMeanPrice(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // groupByKey directly on the projected tuple: the key extractor is
    // the only object-serde boundary (AppendColumns over the scan), so
    // whole-stage codegen survives up to the typed aggregate — the
    // previous extra `.map` re-encoded every row first (2.5x slower)
    Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_extendedprice"), col("l_quantity"))
      .as[(String, Double, Double)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(graft.functions.WeightedMean.toColumn.name("wmean"))
      .toDF("l_returnflag", "wmean")
      .select(col("l_returnflag"), round(col("wmean"), 4).as("wmean"))
      .orderBy("l_returnflag")
  }

  /** Expected schema for the health check (one deliberately absent
    * column — the reference reports MISSING entries the same way,
    * fetch_pages.py:479-535 check_schema_health).
    */
  val HealthColumns: Seq[String] =
    Seq("o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice", "o_comment_missing")

  /** Schema health report (check_schema_health): per expected column —
    * present?, null count, distinct count. ONE aggregation scan computes
    * every present column's null/distinct pair (multi-distinct plans as
    * a single Expand + aggregate), then a `stack` unpivot reshapes the
    * single row into the per-column report; absent columns are constant
    * rows — no data scan at all for those.
    */
  def schemaHealth(s: SparkSession, dir: String): DataFrame = {
    val df = Tables.orders(s, dir)
    val actual = df.columns.toSet
    val present = HealthColumns.filter(actual.contains)
    val absent = HealthColumns.filterNot(actual.contains)
    val aggs = present.flatMap { c =>
      Seq(count(when(col(c).isNull, 1)).as(s"nn_$c"),
        countDistinct(col(c)).as(s"nd_$c"))
    }
    val stackArgs = present.map(c => s"'$c', true, nn_$c, nd_$c") ++
      absent.map(c => s"'$c', false, CAST(0 AS BIGINT), CAST(0 AS BIGINT)")
    df.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${HealthColumns.size}, ${stackArgs.mkString(", ")}) " +
        "AS (col_name, present, n_nulls, n_distinct)")
      .orderBy("col_name")
  }

  /** Sketch-based statistics (the 100 TB path for distinct counts and
    * quantiles) — PORTABLE since r13, so the entry is hash-checked
    * instead of bounds-gated (the q_heavy_hitters graduation recipe,
    * closing the r12 verdict's item 5; Spark-internal HLL++/KLL
    * hashing was the last engine-specific sketch in the catalog):
    *
    *  - distinct users per event type via a KMV bottom-k sketch over
    *    an engine-neutral affine hash ([[Sketches.KmvK]]): a bounded
    *    per-partition pass keeps the k smallest distinct hashes per
    *    group (fixed memory, O(k·partitions) shuffle — the Misra-Gries
    *    shape), the merge ranks the survivors, and the estimate is
    *    pure integer arithmetic ((K−1)·P div h_(K), exact below K);
    *  - approximate median via an integer-grid histogram over the
    *    2-decimal money grid ([[Sketches.MedianCellCents]] cells,
    *    merge = cell-wise adds): the cell containing the lower median,
    *    answered at its midpoint (error ≤ half a cell).
    *
    * Both sketches are grouped integer counts/ranks the DuckDB oracle
    * rebuilds bit-identically; the recall-report relerr gates keep
    * bounding the ESTIMATES against exact answers on top of the hash
    * parity (accuracy and portability gated independently).
    */
  def approxStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val S = Sketches
    val p = graft.functions.TextFunctions.HashP
    val ev = Tables.events(s, dir).select(col("event_type"),
      pmod(pmod(col("user_id"), lit(p)) * lit(S.KmvA) + lit(S.KmvB), lit(p))
        .as("h"),
      floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
    // KMV: bounded partition-local bottom-k of distinct hashes, then
    // an exact global bottom-k over the O(k·partitions) survivors
    // (capture only the Int — a captured module-val reference makes
    // the closure drag the whole non-serializable object along)
    val kmvK = S.KmvK
    val survivors = ev.select(col("event_type"), col("h"))
      .as[(String, Long)]
      .mapPartitions(it => Sketches.bottomK(it, kmvK))
      .toDF("event_type", "h").distinct()
    val users = survivors
      .withColumn("rn",
        row_number().over(Window.partitionBy("event_type").orderBy("h")))
      .filter(col("rn") <= S.KmvK)
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"),
        max(when(col("rn") === S.KmvK, col("h"))).as("hk"))
      .select(col("event_type"),
        when(col("cnt") < S.KmvK, col("cnt"))
          .otherwise(expr(s"${S.KmvK - 1}L * ${p}L div greatest(hk, 1L)"))
          .cast("long").as("approx_users"))
    // median: grouped integer histogram + windowed cumulative count
    val hist = ev
      .groupBy(col("event_type"),
        expr(s"cents div ${S.MedianCellCents}L").as("bucket"))
      .agg(count(lit(1)).as("c"))
    val cum = hist
      .withColumn("cum",
        sum(col("c")).over(Window.partitionBy("event_type").orderBy("bucket")))
      .withColumn("n", sum(col("c")).over(Window.partitionBy("event_type")))
    val med = cum.filter(col("cum") >= expr("(n + 1L) div 2L"))
      .groupBy("event_type")
      .agg(min(col("bucket")).as("mb"), max(col("n")).as("n"))
      .select(col("event_type"),
        ((col("mb") * S.MedianCellCents + S.MedianCellCents / 2).cast("double")
          / 100.0).as("approx_median_value"),
        col("n"))
    users.join(med, Seq("event_type"))
      .select(col("event_type"), col("approx_users"),
        col("approx_median_value"), col("n"))
      .orderBy("event_type")
  }

  /** DuckDB twin: the identical KMV rank + histogram cells, generated
    * from the same constants.
    */
  def approxStatsOracleSql: String = {
    val S = Sketches
    val p = graft.functions.TextFunctions.HashP
    val k = S.KmvK
    val cw = S.MedianCellCents
    s"""WITH ev AS (
       |  SELECT event_type,
       |    ((user_id % $p) * ${S.KmvA} + ${S.KmvB}) % $p AS h,
       |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
       |  FROM events),
       |dh AS (SELECT DISTINCT event_type, h FROM ev),
       |rk AS (SELECT event_type, h,
       |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
       |  FROM dh),
       |users AS (
       |  SELECT event_type,
       |    CAST(CASE WHEN count(*) < $k THEN count(*)
       |      -- BIGINT cast up front: DuckDB folds bare ${k - 1} * $p
       |      -- as INT32×INT32 and overflows (hit at sf1, where the
       |      -- estimator branch first engages)
       |      ELSE CAST(${k - 1} AS BIGINT) * $p //
       |        greatest(max(CASE WHEN rn = $k THEN h END), 1) END
       |      AS BIGINT) AS approx_users
       |  FROM rk WHERE rn <= $k GROUP BY 1),
       |hist AS (
       |  SELECT event_type, cents // $cw AS bucket, count(*) AS c
       |  FROM ev GROUP BY 1, 2),
       |cum AS (
       |  SELECT event_type, bucket,
       |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY bucket)
       |      AS BIGINT) AS cum,
       |    CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
       |  FROM hist),
       |med AS (
       |  SELECT event_type, min(bucket) AS mb, max(n) AS n
       |  FROM cum WHERE cum >= (n + 1) // 2 GROUP BY 1)
       |SELECT u.event_type, u.approx_users,
       |  CAST(m.mb * $cw + ${cw / 2} AS DOUBLE) / 100 AS approx_median_value,
       |  m.n
       |FROM users u JOIN med m USING (event_type)
       |ORDER BY event_type""".stripMargin
  }

  /** Per-language document length statistics with exact median
    * (percentile with linear interpolation — matches DuckDB
    * quantile_cont). Exact percentile is a per-group sort; fine for
    * bounded group counts, approx_percentile is the unbounded-key path.
    */
  def lengthStats(s: SparkSession, dir: String): DataFrame =
    Tables.documentsSpread(s, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"),
        round(avg("n_chars"), 4).as("avg_chars"),
        round(expr("percentile(n_chars, 0.5)"), 4).as("median_chars"))
      .orderBy("lang")

  /** Log₂-bucketed document-length histogram (`q_length_histogram`):
    * the corpus length profile as power-of-two buckets [2^b, 2^(b+1)) —
    * the chart read when fixing chunk/sequence lengths or hunting
    * truncation cliffs. Bucket index is computed INTEGER-exactly as
    * `length(bin(n)) - 1` (floor(log₂) without float log, which
    * disagrees between engines on exact powers of two); zero-length
    * docs clamp into bucket 0 via `greatest(n, 1)`.
    *
    * Map-only bucket assignment rides the scan into a ≤64-row
    * aggregate, collected ONCE; shares assemble driver-side (the
    * skew_report idiom — a broadcast-total cross join would re-run
    * the corpus scan for the build side).
    */
  def lengthHistogram(s: SparkSession, dir: String): DataFrame = {
    val b = Tables.documentsSpread(s, dir)
      .select((length(bin(greatest(col("n_chars"), lit(1L)))) - 1).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_docs"))
      .collect() // ≤ 64 rows by construction
      .map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1)
    val total = b.map(_._2).sum
    import s.implicits._
    b.map { case (bk, n) =>
      (bk, 1L << bk, (1L << (bk + 1)) - 1, n,
        math.floor(n.toDouble / total * 1e4 + 0.5) / 1e4)
    }.toSeq.toDF("bucket", "lo_chars", "hi_chars", "n_docs", "share")
      .orderBy("bucket")
  }

  def lengthHistogramOracleSql: String =
    """WITH b AS (
       |  SELECT CAST(length(bin(greatest(n_chars, 1))) - 1 AS INTEGER) AS bucket,
       |         CAST(count(*) AS BIGINT) AS n_docs
       |  FROM documents GROUP BY 1),
       |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM b)
       |SELECT bucket, CAST(1 AS BIGINT) << bucket AS lo_chars,
       |  (CAST(1 AS BIGINT) << (bucket + 1)) - 1 AS hi_chars, n_docs,
       |  floor(CAST(n_docs AS DOUBLE) / total * 1e4 + 0.5) / 1e4 AS share
       |FROM b, t ORDER BY bucket""".stripMargin

  /** Heavy keys reported by [[skewReport]]. */
  val SkewTopK = 20

  /** Join-key skew diagnostic (`q_skew_report`): the per-key frequency
    * profile of the events join key — the table a pipeline owner reads
    * BEFORE a 100 TB join to decide whether salting / AQE skew handling
    * is needed. Per heavy key: rank, count, share of all rows,
    * cumulative share, and the multiple of the mean per-key count.
    *
    * Distributed shape: one map-side-combined count per key, a TopK
    * (orderBy+limit = per-partition heap + merge, NOT a global sort)
    * over the O(keys) frame, one 2-number total/keys aggregate. Rank
    * and cumulative share assemble driver-side over the K collected
    * rows — bounded by construction, no unpartitioned window.
    */
  def skewReport(s: SparkSession, dir: String): DataFrame =
    skewFromCounts(s, skewCounts(Tables.events(s, dir)))

  /** Per-key (user_id, cnt) counts — the ADDITIVE sufficient statistic:
    * summed per batch in a [[graft.streaming.Additive]], they feed
    * [[skewFromCounts]] exactly like the batch frame
    * (CorpusCurationSpec pins stream == batch).
    */
  private[graft] def skewCounts(events: DataFrame): DataFrame =
    events.groupBy("user_id").agg(count(lit(1)).as("cnt"))

  /** The skew report's value stage over a (user_id, cnt) frame: totals,
    * top-K and every share column derive from the per-key counts.
    */
  private[graft] def skewFromCounts(s: SparkSession, kc: DataFrame): DataFrame = {
    val t = kc.agg(sum("cnt"), count(lit(1))).head()
    val (total, keys) = (t.getLong(0), t.getLong(1))
    val top = kc.orderBy(col("cnt").desc, col("user_id")).limit(SkewTopK)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def grid(x: Double): Double = math.floor(x * 1e4 + 0.5) / 1e4
    var cum = 0L
    val rows = top.zipWithIndex.map { case ((uid, cnt), i) =>
      cum += cnt
      (i + 1, uid, cnt, grid(cnt.toDouble / total),
        grid(cum.toDouble / total), grid(cnt.toDouble * keys / total))
    }
    import s.implicits._
    rows.toSeq.toDF("rank", "user_id", "cnt", "share", "cum_share", "x_mean")
      .orderBy("rank")
  }

  def skewReportOracleSql: String =
    s"""WITH kc AS (
       |  SELECT user_id, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1),
       |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
       |             CAST(count(*) AS BIGINT) AS keys FROM kc),
       |top AS (
       |  SELECT user_id, cnt,
       |    CAST(row_number() OVER (ORDER BY cnt DESC, user_id) AS INTEGER) AS rank
       |  FROM kc ORDER BY cnt DESC, user_id LIMIT $SkewTopK)
       |SELECT rank, user_id, cnt,
       |  floor(CAST(cnt AS DOUBLE) / total * 1e4 + 0.5) / 1e4 AS share,
       |  floor(CAST(sum(cnt) OVER (ORDER BY rank) AS DOUBLE) / total * 1e4 + 0.5)
       |    / 1e4 AS cum_share,
       |  floor(CAST(cnt AS DOUBLE) * keys / total * 1e4 + 0.5) / 1e4 AS x_mean
       |FROM top, t ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------------
  // q_event_transitions — first-order Markov transition matrix
  // ---------------------------------------------------------------------

  /** Event-type transition matrix (`q_event_transitions`): for every
    * ordered pair of event types, how often a user's event of type A is
    * immediately followed by one of type B, and the row-normalized
    * transition probability P(next=B | cur=A) — the first-order Markov
    * model behind funnel discovery, bot detection (degenerate
    * self-loops), and UX path analysis.
    *
    * Distributed shape: the successor pairing is one `lag` window
    * partitioned by user_id (user-keyed — parallel, never global), the
    * pair counts are a map-side-combined aggregate into a |types|²
    * frame, and the row totals DERIVE from that frame (dim-sized, no
    * second corpus pass; broadcast back). Deterministic ordering inside
    * a user: (ts, event_id) — the sessionize tiebreak. The denominator
    * is > 0 by construction (every pair row contributes to its own
    * row total), so no ANSI /0 guard is needed.
    */
  def eventTransitions(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val pairs = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag("event_type", 1).over(byUser))
      .filter(col("prev_type").isNotNull)
      .select(col("prev_type"), col("event_type").as("next_type"))
    transitionRates(pairs)
  }

  /** Value stage from a (prev_type, next_type) pair stream — shared
    * verbatim with [[graft.streaming.StreamingTransitions]], whose
    * emitted pair rows are the same stream, so stream == batch exactly.
    * ONE corpus pass (the map-side-combined pair count); the
    * \|types\|²-bounded count frame collects and the row totals +
    * probabilities assemble driver-side — a derived-totals join would
    * re-run the window+aggregate per reference (the ReuseExchange
    * landmine, measured on kl_drift).
    */
  private[graft] def transitionRates(pairs: DataFrame): DataFrame = {
    val counted = pairs.groupBy("prev_type", "next_type")
      .agg(count(lit(1)).as("n"))
      .collect() // ≤ |event types|² rows by construction
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val totals = counted.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum }
    val rows = counted.map { case (a, b, n) =>
      val nf = totals(a)
      (a, b, n, nf, math.floor(n.toDouble / nf * 1e4 + 0.5) / 1e4)
    }.sortBy(r => (r._1, r._2))
    import pairs.sparkSession.implicits._
    rows.toSeq.toDF("prev_type", "next_type", "n", "n_from", "p")
      .orderBy("prev_type", "next_type")
  }

  /** Paths returned by the path-mining rollup. */
  val PathTopK = 20

  /** Top event paths (`q_event_paths`): the most frequent 3-step
    * event-type sequences across users — the path-mining companion to
    * [[eventTransitions]] (the transition matrix is memoryless; the
    * trigram table surfaces multi-step habits a first-order model
    * flattens, e.g. view→add→buy vs view→add→abandon).
    *
    * Distributed shape: two `lag`s over the SAME user-keyed window
    * (one window spec → one shuffle, both lags evaluate in one
    * WindowExec pass), map-side-combined path counts (bounded by
    * |types|³), top-k via orderBy+limit — TakeOrdered's per-partition
    * heap + driver merge, never a global sort (the skew_report idiom).
    */
  def eventPaths(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val top = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("p1", lag("event_type", 1).over(byUser))
      .withColumn("p2", lag("event_type", 2).over(byUser))
      .filter(col("p2").isNotNull)
      .select(concat_ws(">", col("p2"), col("p1"), col("event_type")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(PathTopK)
      .collect() // ≤ PathTopK rows by construction — bounded metadata
    import s.implicits._
    top.zipWithIndex
      .map { case (r, i) => (i + 1, r.getString(0), r.getLong(1)) }
      .toSeq.toDF("rank", "path", "n")
      .orderBy("rank")
  }

  def eventPathsOracleSql: String =
    s"""WITH seq AS (
       |  SELECT event_type,
       |    lag(event_type, 1) OVER w AS p1,
       |    lag(event_type, 2) OVER w AS p2
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |pc AS (
       |  SELECT p2 || '>' || p1 || '>' || event_type AS path,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM seq WHERE p2 IS NOT NULL GROUP BY 1)
       |SELECT CAST(row_number() OVER (ORDER BY n DESC, path) AS INTEGER) AS rank,
       |  path, n
       |FROM pc ORDER BY n DESC, path LIMIT $PathTopK""".stripMargin

  def eventTransitionsOracleSql: String =
    """WITH seq AS (
      |  SELECT event_type AS next_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS prev_type
      |  FROM events),
      |pc AS (
      |  SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
      |  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS n_from
      |        FROM pc GROUP BY 1)
      |SELECT pc.prev_type, next_type, n, n_from,
      |  floor(CAST(n AS DOUBLE) / n_from * 1e4 + 0.5) / 1e4 AS p
      |FROM pc JOIN tot USING (prev_type)
      |ORDER BY prev_type, next_type""".stripMargin
}
