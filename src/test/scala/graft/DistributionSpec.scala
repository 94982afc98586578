package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{CorpusCuration, ExtendedAnalytics}

/** Round-8 distributional-health monitors: per-source Zipf slope,
  * per-source bigram conditional entropy, and the event-type Markov
  * transition matrix.
  */
class DistributionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.Sf

  // -------------------------------------------------------------------
  // q_zipf_fit
  // -------------------------------------------------------------------

  test("zipf fit: exact power-law counts give slope -1, uniform counts 0") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_zipf").toString
    // counts 12, 6, 4, 3 at ranks 1..4 = 12/r exactly, so
    // y = ln 12 - ln r is affine in x = ln r -> OLS slope exactly -1
    val zipfText = (Seq.fill(12)("aa") ++ Seq.fill(6)("bb") ++
      Seq.fill(4)("cc") ++ Seq.fill(3)("dd")).mkString(" ")
    // four tokens, three occurrences each -> y constant -> slope 0
    val flatText = Seq("pp", "qq", "rr", "ss").flatMap(Seq.fill(3)(_)).mkString(" ")
    Seq(
      (1L, zipfText, "en", "srcZ", zipfText.length.toLong),
      (2L, flatText, "en", "srcF", flatText.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = CorpusCuration.zipfFit(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(("srcZ")) === ((4L, -1.0)), "exact 1/r counts fit slope -1")
    assert(got(("srcF")) === ((4L, 0.0)), "uniform counts fit slope 0")
  }

  test("zipf fit on the corpus: 20 sources, negative slopes, capped ranks") {
    val rows = CorpusCuration.zipfFit(spark, sf).collect()
    assert(rows.length === 20)
    assert(rows.forall { r =>
      val s = r.getDouble(2); !s.isNaN && !s.isInfinite && s < 0.0
    }, "rank-frequency curves slope downward on every source")
    assert(rows.forall(_.getLong(1) <= CorpusCuration.ZipfTopR))
  }

  test("zipf fit rides the shared (source, token) frame — no second corpus scan") {
    val p = CorpusCuration.zipfFit(spark, sf)
      .queryExecution.executedPlan.toString
    // the persisted sourceTokenCounts frame serves the scan; the only
    // window runs over that vocabulary-bounded frame, keyed by source
    assert(p.contains("InMemoryTableScan"),
      s"session-persisted count frame serves the plan:\n$p")
    val wlines = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(wlines.forall(_.contains("source")), "rank window keyed by source")
  }

  // -------------------------------------------------------------------
  // q_bigram_entropy
  // -------------------------------------------------------------------

  test("bigram entropy: deterministic continuations 0, fair branch ln 2") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bent").toString
    // srcD: every history has exactly one continuation -> H = 0
    val det = "a b a b a b"
    // srcB: 'a' continues to b or c with equal mass -> H = ln 2
    Seq(
      (1L, det, "en", "srcD", det.length.toLong),
      (2L, "a b", "en", "srcB", 3L),
      (3L, "a c", "en", "srcB", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = CorpusCuration.bigramEntropy(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(got(("srcD"))._2 === 0.0, "deterministic transitions carry no entropy")
    assert(got(("srcB"))._1 === 2L)
    assert(math.abs(got(("srcB"))._2 - math.log(2.0)) < 1e-6,
      s"fair binary branch is ln 2: ${got(("srcB"))._2}")
  }

  test("bigram entropy references the persisted count frame, never re-explodes") {
    val p = CorpusCuration.bigramEntropy(spark, sf)
      .queryExecution.executedPlan.toString
    // the value stage references (source, w1, w2) counts three times
    // (history totals, source totals, contribution join); without the
    // session persist each reference re-ran the corpus explode+count
    // (measured: 3 scans). All three must hit the cache.
    assert(p.linesIterator.count(_.contains("InMemoryTableScan")) === 3,
      s"three cached references, one materialization:\n$p")
  }

  test("bigram entropy on the corpus: 20 sources, finite, non-negative") {
    val rows = CorpusCuration.bigramEntropy(spark, sf).collect()
    assert(rows.length === 20)
    assert(rows.forall { r =>
      val h = r.getDouble(3); !h.isNaN && !h.isInfinite && h >= 0.0
    })
    // conditional entropy is bounded by the marginal: H(next|cur) <= ln V
    val v = Tables.documents(spark, sf)
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("t"))
      .agg(countDistinct("t")).head().getLong(0)
    assert(rows.forall(_.getDouble(3) <= math.log(v.toDouble) + 1e-9))
  }

  // -------------------------------------------------------------------
  // q_event_transitions
  // -------------------------------------------------------------------

  test("event transitions: successor counts and row-normalized probabilities") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-05-01 00:00:00").getTime
    def t(m: Int) = new java.sql.Timestamp(base + m * 60000L)
    // user 1: A B A   user 2: B A  ->  (A,B)=1 of A-total 1; (B,A)=2 of 2
    val rows = Seq(
      (1L, t(0), 1L, "A", 1.0, "{}"),
      (2L, t(1), 1L, "B", 1.0, "{}"),
      (3L, t(2), 1L, "A", 1.0, "{}"),
      (4L, t(0), 2L, "B", 1.0, "{}"),
      (5L, t(1), 2L, "A", 1.0, "{}"))
    val dir = java.nio.file.Files.createTempDirectory("graft_trans").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = ExtendedAnalytics.eventTransitions(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got(("A", "B")) === ((1L, 1L, 1.0)))
    assert(got(("B", "A")) === ((2L, 2L, 1.0)))
    assert(got.size === 2, "no cross-user phantom transitions")
  }

  test("event transitions on the corpus: probabilities normalize per row") {
    val rows = ExtendedAnalytics.eventTransitions(spark, sf).collect()
    assert(rows.nonEmpty)
    val byPrev = rows.groupBy(_.getString(0))
    for ((prev, rs) <- byPrev) {
      assert(rs.map(_.getLong(2)).sum === rs.head.getLong(3),
        s"$prev: pair counts sum to the row total")
      val pSum = rs.map(_.getDouble(4)).sum
      // each p is rounded half-up at 4 dp, so the row sum sits within
      // half an ulp-of-grid per cell of exactly 1
      assert(math.abs(pSum - 1.0) <= rs.length * 5e-5 + 1e-9,
        s"$prev: row-normalized ($pSum)")
    }
    // transition count conservation: one pair per non-first event
    val nEvents = Tables.events(spark, sf).count()
    val nUsers = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(rows.map(_.getLong(2)).sum === nEvents - nUsers)
  }

  // -------------------------------------------------------------------
  // q_knn_label_acc
  // -------------------------------------------------------------------

  test("knn label acc: separated clusters score 1.0, a planted traitor drops its label") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_knn").toString
    def v(xs: Double*) = xs.map(_.toFloat)
    Seq(
      (0L, v(1, 0, 0.01, 0), 0),
      (1L, v(1, 0, 0, 0.01), 0),
      (2L, v(1, 0, 0.005, 0.005), 0),
      // the traitor: labeled 0, but sits in cluster 1's cone — its NN
      // is a label-1 vector, while the tight label-1 trio stays mutual
      (3L, v(0, 0.95, 0.3, 0), 0),
      (4L, v(0, 1, 0.01, 0), 1),
      (5L, v(0, 1, 0, 0.01), 1),
      (6L, v(0, 1, 0.005, 0.005), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = operators.Similarity.knnLabelAcc(spark, dir).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(0) === ((4L, 3L, 0.75)), "traitor misclassified, trio correct")
    assert(got(1) === ((3L, 3L, 1.0)), "tight cluster unaffected by the traitor")
  }

  test("knn label acc on the corpus: totals reconcile, tiled plan has no nested loop") {
    val df = operators.Similarity.knnLabelAcc(spark, sf)
    val rows = df.collect()
    val n = Tables.embeddings(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum === n, "every vector audited exactly once")
    assert(rows.forall { r => val a = r.getDouble(3); a >= 0.0 && a <= 1.0 })
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the pair generation is the tiled equi-join, not a nested loop:\n$p")
  }

  test("knn label acc eval cap: identity below, exact-on-the-sample above") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_knncap").toString
    // 300 vectors in three 4-d cluster cones, deterministic jitter
    val rows = (0L until 300L).map { i =>
      val c = (i % 3).toInt
      val j = (i * 37 % 101).toFloat / 1000f
      val e = Array.tabulate(4)(d =>
        (if (d == c) 1f else 0f) + (if (d == 3) j else 0f))
      (i, e, c)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def key(r: org.apache.spark.sql.Row) =
      (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    // below the cap: the capped audit IS the exact audit (the shipped
    // SFs' oracle rows cannot change)
    val exact = operators.Similarity.knnLabelAccCapped(spark, dir, 10000L)
      .collect().map(key).toSeq
    assert(operators.Similarity.knnLabelAcc(spark, dir).collect().map(key).toSeq
      === exact, "default cap (8192) > 300 vectors -> the audit is exact")
    // above the cap: the audit == the full exact audit run on EXACTLY
    // the deterministic stride sample (same ids, same rows)
    val capped = operators.Similarity.knnLabelAccCapped(spark, dir, 100L)
      .collect().map(key).toSeq
    assert(capped.map(_._2).sum <= 100L, "audit size bounded by the cap")
    val sampleIds = operators.Similarity.trainingSample(
        spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id"), 100L)
      .as[Long].collect().toSet
    val dir2 = java.nio.file.Files.createTempDirectory("graft_knncap2").toString
    rows.filter(r => sampleIds.contains(r._1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir2/embeddings.parquet")
    val onSample = operators.Similarity.knnLabelAcc(spark, dir2)
      .collect().map(key).toSeq
    assert(capped === onSample,
      "capped audit must equal the exact audit over the stride sample")
  }

  // -------------------------------------------------------------------
  // q_cluster_reps
  // -------------------------------------------------------------------

  test("cluster reps: one rep per cluster, the best member, counts reconcile") {
    val clusters = operators.TextAnalysis.dedupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val qual = operators.TextAnalysis.quality(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val reps = operators.TextAnalysis.clusterReps(spark, sf).collect()
    assert(reps.map(_.getLong(0)).toSet === clusters.map(_._2).toSet,
      "exactly the clusters the contraction found")
    val byCluster = clusters.groupBy(_._2)
    reps.foreach { r =>
      val (cid, n, rep, rq, dropped) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4))
      val members = byCluster(cid).map(_._1)
      assert(members.length.toLong === n && dropped === n - 1)
      assert(members.contains(rep))
      // the rep is the (quality desc, doc_id asc) argmax over members
      val want = members.map(d => (-qual(d), d)).min._2
      assert(rep === want, s"cluster $cid rep")
      assert(rq === qual(rep))
    }
  }

  // -------------------------------------------------------------------
  // q_nb_auc
  // -------------------------------------------------------------------

  test("nb auc: separable vocabulary scores 1.0; corpus value equals a local recount") {
    import spark.implicits._
    // perfectly separable: curated sources speak one vocabulary, web
    // sources another — the holdout ranking must be perfect
    val dir = java.nio.file.Files.createTempDirectory("graft_auc").toString
    val docs = (1L to 300L).map { i =>
      val cur = i % 2 == 0
      val src = if (cur) "src0" else "src1" // src0 ∈ CuratedSources
      val text = if (cur) "alpha beta gamma alpha beta" else "delta eps zeta delta eps"
      (i, text, "en", src, text.length.toLong)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val sep = operators.Classifier.nbAuc(spark, dir).head()
    assert(sep.getLong(0) > 0 && sep.getLong(1) > 0, "holdout holds both classes")
    assert(sep.getDouble(2) === 1.0, s"separable vocab ranks perfectly: $sep")

    // corpus: recompute the binned statistic locally from the score frame
    val hold = graft.plans.Unordered.form(operators.Classifier.nbScore(spark, sf))
      .filter(col("fold") === "holdout").select("is_cur", "nb_score").collect()
      .map(r => (r.getInt(0) == 1, r.getDouble(1)))
    val (lo, hi) = (hold.map(_._2).min, hold.map(_._2).max)
    def bin(s: Double): Long =
      if (hi == lo) 0L
      else math.min(math.floor((s - lo) / (hi - lo) * operators.Classifier.AucBins).toLong,
        operators.Classifier.AucBins.toLong)
    val byBin = hold.groupBy(h => bin(h._2)).toSeq.sortBy(_._1)
      .map { case (b, hs) => (b, hs.count(_._1).toLong, hs.count(!_._1).toLong) }
    var cneg = 0L; var numer2 = 0L
    byBin.foreach { case (_, p, g) => numer2 += p * (2L * cneg + g); cneg += g }
    val np = byBin.map(_._2).sum; val ng = byBin.map(_._3).sum
    val want = math.floor(numer2.toDouble / (2.0 * np * ng) * 1e4 + 0.5) / 1e4
    val got = operators.Classifier.nbAuc(spark, sf).head()
    assert((got.getLong(0), got.getLong(1), got.getDouble(2)) === ((np, ng, want)))
  }

  // -------------------------------------------------------------------
  // q_weighted_sample
  // -------------------------------------------------------------------

  test("weighted sample: exactly K rows, keys ordered, quality-biased") {
    val rows = CorpusCuration.weightedSample(spark, sf).collect()
    assert(rows.length === CorpusCuration.WSampleK, "fixed-size sample")
    assert(rows.map(_.getLong(1)).distinct.length === rows.length, "no replacement")
    val keys = rows.map(_.getLong(3))
    assert(keys.zip(keys.tail).forall { case (a, b) => a >= b },
      "ranked by descending E-S key")
    // selection bias: the sample's mean quality beats the corpus mean
    // (keys = ln(u)/w are stochastically larger for larger w)
    val corpusMean = operators.TextAnalysis.quality(spark, sf)
      .agg(avg("quality")).head().getDouble(0)
    val sampleMean = rows.map(_.getDouble(2)).sum / rows.length
    assert(sampleMean > corpusMean,
      s"quality-weighted: sample $sampleMean vs corpus $corpusMean")
  }

  // -------------------------------------------------------------------
  // q_event_paths
  // -------------------------------------------------------------------

  test("event paths: trigram mining respects user boundaries and ranks deterministically") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-06-01 00:00:00").getTime
    def t(m: Int) = new java.sql.Timestamp(base + m * 60000L)
    // user 1: A B C B C   -> paths A>B>C, B>C>B, C>B>C
    // user 2: A B C       -> A>B>C   (no cross-user D>A>B phantom)
    // user 3: D           -> too short, contributes nothing
    val rows = Seq(
      (1L, t(0), 1L, "A", 1.0, "{}"), (2L, t(1), 1L, "B", 1.0, "{}"),
      (3L, t(2), 1L, "C", 1.0, "{}"), (4L, t(3), 1L, "B", 1.0, "{}"),
      (5L, t(4), 1L, "C", 1.0, "{}"),
      (6L, t(0), 2L, "A", 1.0, "{}"), (7L, t(1), 2L, "B", 1.0, "{}"),
      (8L, t(2), 2L, "C", 1.0, "{}"),
      (9L, t(0), 3L, "D", 1.0, "{}"))
    val dir = java.nio.file.Files.createTempDirectory("graft_paths").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = operators.ExtendedAnalytics.eventPaths(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq === Seq((1, "A>B>C", 2L), (2, "B>C>B", 1L), (3, "C>B>C", 1L)))
  }

  test("event paths on the corpus: bounded output, counts conserve") {
    val rows = operators.ExtendedAnalytics.eventPaths(spark, sf).collect()
    assert(rows.length <= operators.ExtendedAnalytics.PathTopK && rows.nonEmpty)
    assert(rows.map(_.getInt(0)).toSeq === (1 to rows.length))
    // ranks follow (n desc, path asc)
    val sorted = rows.sortBy(r => (-r.getLong(2), r.getString(1)))
    assert(sorted.map(_.getInt(0)).toSeq === rows.map(_.getInt(0)).toSeq)
  }

  // -------------------------------------------------------------------
  // q_dup_matrix
  // -------------------------------------------------------------------

  test("dup matrix: rollup conserves the pair count and orients source pairs") {
    val pairs = operators.Dedup.minhashLsh(spark, sf).collect()
    val m = operators.Dedup.dupMatrix(spark, sf).collect()
    assert(m.map(_.getLong(2)).sum === pairs.length,
      "every verified near-dup pair lands in exactly one matrix cell")
    assert(m.forall(r => r.getString(0) <= r.getString(1)),
      "cells are canonically oriented (source_a <= source_b)")
    // cross-check one cell against a local recount
    val srcOf = Tables.documents(spark, sf).select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = pairs.map { r =>
      val (a, b) = (srcOf(r.getLong(0)), srcOf(r.getLong(1)))
      (if (a <= b) (a, b) else (b, a))
    }.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val got = m.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === want, "matrix equals the local rollup of the pair list")
  }

  // -------------------------------------------------------------------
  // streaming transitions twin
  // -------------------------------------------------------------------

  test("streaming transitions equal the batch matrix over a batched ordered stream") {
    import spark.implicits._
    import graft.streaming.{Ev, StreamingTransitions}
    implicit val sqlCtx = spark.sqlContext
    def evts(minute: Long, id: Long, uid: Long, tpe: String) =
      Ev(id, new java.sql.Timestamp(1700000000000L + minute * 60000L), uid, tpe, 1.0)
    // three micro-batches, event-time ordered per user; user 2's chain
    // STRADDLES the batch boundary — the pair (B,A) must come from
    // carried state, not within-batch pairing
    val b1 = Seq(evts(0, 1, 1, "A"), evts(1, 2, 1, "B"), evts(0, 4, 2, "B"))
    val b2 = Seq(evts(2, 3, 1, "A"), evts(5, 5, 2, "A"))
    val b3 = Seq(evts(9, 6, 2, "A"))
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Ev]
    val q = StreamingTransitions.transitionPairs(mem.toDS())
      .writeStream.format("memory").queryName("trans_out")
      .outputMode("append").start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      mem.addData(b3: _*); q.processAllAvailable()
      val streamed = StreamingTransitions.ratesOf(spark.table("trans_out"))
        .collect().map(_.toString).toSeq
      // the same events as a batch table through the batch operator
      val dir = java.nio.file.Files.createTempDirectory("graft_strans").toString
      (b1 ++ b2 ++ b3).map(e => (e.event_id, e.ts, e.user_id, e.event_type, e.value, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val batch = operators.ExtendedAnalytics.eventTransitions(spark, dir)
        .collect().map(_.toString).toSeq
      assert(streamed === batch,
        "carried last-event state reproduces the batch lag pairing exactly")
    } finally q.stop()
  }

  // -------------------------------------------------------------------
  // streaming twins: zipf view on the KL state, bigram-entropy monitor
  // -------------------------------------------------------------------

  test("streaming zipf view equals the batch operator over any split") {
    val docs = Tables.documents(spark, sf)
    val counts = new graft.streaming.Additive("source", "t")
    for (r <- 0 until 3)
      counts.merge(CorpusCuration.sourceTokenCountsOf(
        docs.filter(pmod(col("doc_id"), lit(3)) === r).select("source", "text")))
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getDouble(2))
    assert(CorpusCuration.zipfFromCounts(counts.state(spark)).collect().map(key).toSeq ===
      CorpusCuration.zipfFit(spark, sf).collect().map(key).toSeq,
      "one merged (source, token) state serves both the KL and Zipf views")
  }

  test("streaming bigram entropy equals batch over any split; snapshot/restore exact") {
    val docs = Tables.documents(spark, sf)
    def slice(r: Int) =
      docs.filter(pmod(col("doc_id"), lit(3)) === r).select("source", "text")
    import graft.streaming.Additive
    val keys = Seq("source", "w1", "w2")
    val live = new Additive(keys: _*)
    live.merge(CorpusCuration.bigramPairCounts(slice(0)))
    live.merge(CorpusCuration.bigramPairCounts(slice(1)))
    val snap = java.nio.file.Files.createTempDirectory("graft_besnap").toString
    live.snapshot(spark, snap)
    val resumed = Additive.restore(spark, snap, keys: _*)
    resumed.merge(CorpusCuration.bigramPairCounts(slice(2)))
    live.merge(CorpusCuration.bigramPairCounts(slice(2)))
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    def current(a: Additive) =
      CorpusCuration.bigramEntropyFromCounts(a.state(spark)).collect().map(key).toSeq
    val want = CorpusCuration.bigramEntropy(spark, sf).collect().map(key).toSeq
    assert(current(live) === want,
      "merged (source, w1, w2) counts reproduce batch entropy exactly")
    assert(current(resumed) === want,
      "restore + remaining batches == uninterrupted monitor == batch")
  }
}
