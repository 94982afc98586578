package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.CorpusCuration
import graft.streaming.Additive

/** Round-7 corpus-curation operators: token-budget selection, CCNet
  * perplexity terciles, source-similarity sketch, KL drift monitor.
  */
class CorpusCurationSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.Sf

  // -------------------------------------------------------------------
  // q_token_budget
  // -------------------------------------------------------------------

  test("token budget keeps the maximal greedy quality prefix within budget") {
    val sel = CorpusCuration.tokenBudget(spark, sf).collect()
    val all = operators.TextAnalysis.quality(spark, sf)
      .join(operators.TextAnalysis.tokenCount(spark, sf), "doc_id")
      .select(col("doc_id"), col("quality"),
        col("ws_tokens")) // only for count sanity; ordering below uses own frame
    val total = Tables.documents(spark, sf)
      .select(size(graft.functions.TextFunctions.tokens(col("text"))).cast("long"))
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().sum
    val budget = total / CorpusCuration.TokenBudgetDen
    val cum = sel.map(_.getLong(3))
    assert(cum.forall(_ <= budget), "every selected doc fits the budget")
    // rows arrive quality DESC, doc_id ASC; cum_tokens must be the
    // running inclusive sum of ntok in exactly that order
    val ntoks = sel.map(_.getLong(2))
    val expectCum = ntoks.scanLeft(0L)(_ + _).drop(1)
    assert(cum.sameElements(expectCum), "cum_tokens is the prefix sum in selection order")
    // greedy maximality: one more doc would overflow (unless everything fit)
    if (sel.length < all.count())
      assert(cum.isEmpty || cum.last <= budget)
    assert(sel.nonEmpty)
  }

  test("token budget plan has no unpartitioned window") {
    val p = CorpusCuration.tokenBudget(spark, sf)
      .queryExecution.executedPlan.toString
    // the cumsum window must be partitioned by the quality bucket —
    // an empty partition spec would be the single-task global sort
    val wlines = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(wlines.nonEmpty, "two-phase cumsum window present")
    assert(wlines.forall(_.contains("qb")), s"window partitioned by qb:\n$p")
  }

  // -------------------------------------------------------------------
  // q_ppl_buckets
  // -------------------------------------------------------------------

  test("ppl buckets: per-lang terciles are near-thirds and ordered") {
    val b = CorpusCuration.pplBuckets(spark, sf)
    val counts = b.groupBy("lang", "bucket").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val langs = counts.keys.map(_._1).toSet
    for (l <- langs) {
      val h = counts.getOrElse((l, "head"), 0L)
      val m = counts.getOrElse((l, "middle"), 0L)
      val t = counts.getOrElse((l, "tail"), 0L)
      val n = h + m + t
      assert(h > 0 && m > 0 && t > 0, s"$l: all buckets populated")
      // quantile thresholds put ~n/3 in each bucket (ties can shift a few)
      assert(math.abs(h - n / 3.0) <= n * 0.15 + 2, s"$l head $h of $n")
      assert(math.abs(t - n / 3.0) <= n * 0.15 + 2, s"$l tail $t of $n")
    }
    // head docs score strictly below tail docs within a language
    val rows = b.collect().map(r => (r.getString(1), r.getDouble(2), r.getString(3)))
    for (l <- langs) {
      val heads = rows.collect { case (`l`, s, "head") => s }
      val tails = rows.collect { case (`l`, s, "tail") => s }
      assert(heads.max <= tails.min, s"$l: head scores <= tail scores")
    }
  }

  test("ppl buckets plan assigns via broadcast threshold join, not a per-lang window") {
    val p = CorpusCuration.pplBuckets(spark, sf)
      .queryExecution.executedPlan.toString
    // an ntile()/rank() formulation would serialize each language
    // through one task — the scale-safe shape is agg + broadcast join
    assert(!p.contains("WindowExec"), "no window in the bucket assignment")
    assert(p.contains("BroadcastHashJoin"), "threshold frame broadcasts")
  }

  // -------------------------------------------------------------------
  // q_source_sim
  // -------------------------------------------------------------------

  test("source sim: identical sources estimate 1.0, disjoint estimate 0.0") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ssim").toString
    val words = (0 until 40).map(i => s"alpha$i").mkString(" ")
    val other = (0 until 40).map(i => s"omega$i").mkString(" ")
    Seq(
      (1L, words, "en", "srcA", words.length.toLong),
      (2L, words, "en", "srcB", words.length.toLong),
      (3L, other, "en", "srcC", other.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = CorpusCuration.sourceSim(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(got(("srcA", "srcB")) === 1.0, "identical shingle sets match on every component")
    assert(got(("srcA", "srcC")) === 0.0, "disjoint vocab shares no component")
    assert(got(("srcB", "srcC")) === 0.0)
  }

  test("source sim emits every source pair exactly once") {
    val rows = CorpusCuration.sourceSim(spark, sf).collect()
    val nSrc = Tables.documents(spark, sf).select("source").distinct().count()
    assert(rows.length === nSrc * (nSrc - 1) / 2)
    assert(rows.forall { r =>
      val e = r.getDouble(3); e >= 0.0 && e <= 1.0 && r.getString(0) < r.getString(1)
    })
  }

  // -------------------------------------------------------------------
  // q_kl_drift
  // -------------------------------------------------------------------

  test("kl drift: identical distributions give exactly 0, drifted source > 0") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kl").toString
    val common = "one two three four five"
    Seq(
      (1L, common, "en", "srcA", common.length.toLong),
      (2L, common, "en", "srcB", common.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val same = CorpusCuration.klDrift(spark, dir).collect()
    // every per-token ratio is exactly 1 → ln 1 = 0 → decimal sum 0
    assert(same.forall(_.getDouble(3) === 0.0))

    // fresh dir: Tables memoizes the resolved relation per (session,
    // path), so rewriting the same path would serve the stale frame
    val dir2 = java.nio.file.Files.createTempDirectory("graft_kl2").toString
    val drifted = "zzz zzz zzz zzz zzz"
    Seq(
      (1L, common, "en", "srcA", common.length.toLong),
      (2L, common, "en", "srcB", common.length.toLong),
      (3L, drifted, "en", "srcD", drifted.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    val kl = CorpusCuration.klDrift(spark, dir2).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(kl("srcD") > kl("srcA"), "the template-flood source drifts hardest")
    assert(kl("srcD") > 1.0, "disjoint unigram mass is far from the corpus")
  }

  test("kl drift on the corpus: 20 sources, all finite and non-negative") {
    val rows = CorpusCuration.klDrift(spark, sf).collect()
    assert(rows.length === 20)
    assert(rows.forall { r =>
      val k = r.getDouble(3); !k.isNaN && !k.isInfinite && k >= 0.0
    })
  }

  // -------------------------------------------------------------------
  // q_quality_calibration
  // -------------------------------------------------------------------

  test("quality calibration: buckets partition the scored docs, means are exact") {
    val cal = CorpusCuration.qualityCalibration(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
    assert(cal.map(_._1).distinct.length === cal.length, "one row per decile")
    assert(cal.forall { case (b, _) => b >= 0 && b <= 10 })
    // doc coverage: every doc with an LM score lands in exactly one bucket
    val scored = operators.TextAnalysis.lmScore(spark, sf).count()
    assert(cal.map(_._2._1).sum === scored)
    // cross-check one bucket's mean against a direct computation
    val (b0, (n0, m0)) = cal.head
    val direct = operators.TextAnalysis.lmScore(spark, sf)
      .join(operators.TextAnalysis.quality(spark, sf), "doc_id")
      .filter(floor(col("quality") * 10.0).cast("long") === b0)
      .agg(count(lit(1)), sum("lm_score")).head()
    assert(direct.getLong(0) === n0)
    val want = math.floor(direct.getDouble(1) / n0 * 1e6 + 0.5) / 1e6
    assert(math.abs(m0 - want) < 2e-6, s"bucket $b0 mean $m0 vs $want")
  }

  // -------------------------------------------------------------------
  // q_source_overlap + cross-validation of the MinHash estimate
  // -------------------------------------------------------------------

  test("source overlap is exact and bounds the MinHash estimate's error") {
    val exact = CorpusCuration.sourceOverlap(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    val est = CorpusCuration.sourceSim(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(exact.keySet.subsetOf(est.keySet), "every overlapping pair has an estimate")
    // k=16 MinHash: per-pair std ≤ 1/(2√16) = 0.125; allow 3σ per pair
    // and a tight mean bound across the 190 pairs
    val errs = est.map { case (p, e) => math.abs(e - exact.getOrElse(p, 0.0)) }
    assert(errs.max <= 0.38, s"worst pair error ${errs.max}")
    assert(errs.sum / errs.size <= 0.12, s"mean error ${errs.sum / errs.size}")
  }

  test("source overlap containment: identical sources contain each other fully") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sov").toString
    val words = (0 until 40).map(i => s"beta$i").mkString(" ")
    val half = (0 until 21).map(i => s"beta$i").mkString(" ") // prefix shingles ⊂ full
    Seq(
      (1L, words, "en", "srcA", words.length.toLong),
      (2L, words, "en", "srcB", words.length.toLong),
      (3L, half, "en", "srcC", half.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = CorpusCuration.sourceOverlap(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    val (jAB, _, _) = got(("srcA", "srcB"))
    assert(jAB === 1.0)
    val (jAC, contA, contC) = got(("srcA", "srcC"))
    assert(jAC < 1.0 && contC === 1.0, "srcC's shingles all inside srcA")
    assert(contA === jAC, "asymmetry: srcA only partially covered")
  }

  // -------------------------------------------------------------------
  // q_source_rank — PageRank over the content-sharing source graph
  // -------------------------------------------------------------------

  test("source pagerank matches an exact local reference and conserves mass") {
    import CorpusCuration.{PrDamping, PrIters, PrJump}
    // local reference: same edges, same arithmetic (double contribution
    // chain, BigDecimal(38,18)-exact sums — the operator's decimal agg)
    val pairs = CorpusCuration.sourceOverlap(spark, sf)
      .select("source_a", "source_b", "inter").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val edges = pairs.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
    val outw = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    val nodes = Tables.documents(spark, sf).select("source").distinct()
      .collect().map(_.getString(0)).sorted
    val n = nodes.length
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to PrIters) {
      val sums = scala.collection.mutable.HashMap.empty[String, BigDecimal]
      for ((src, dst, w) <- edges) {
        val c = r(src) * w.toDouble / outw(src).toDouble
        val cd = BigDecimal(c).setScale(18, BigDecimal.RoundingMode.HALF_UP)
        sums(dst) = sums.getOrElse(dst, BigDecimal(0)) + cd
      }
      r = nodes.map(s =>
        s -> (PrJump / n + PrDamping * sums.getOrElse(s, BigDecimal(0)).toDouble)).toMap
    }
    val want = nodes.map(s => s -> math.floor(r(s) * 1e9 + 0.5).toLong).toMap
    val got = CorpusCuration.sourceRank(spark, sf).collect()
      .map(row => row.getString(0) -> row.getLong(1)).toMap
    assert(got === want, "distributed ranks must equal the exact local fold")
    // every source connected (the shipped graph is) → mass conserved:
    // Σ pr = 1 up to the per-source half-ulp of the micro rounding
    assert(math.abs(got.values.sum - 1e9) <= n, s"mass drifted: ${got.values.sum}")
    // the display double is exactly the micro value
    CorpusCuration.sourceRank(spark, sf).collect().foreach { row =>
      assert(row.getDouble(2) === row.getLong(1).toDouble / 1e9)
    }
    // the r17 driver-local fast path (default cap, taken above) must
    // equal the distributed checkpointed rounds bit-for-bit
    val distRows = CorpusCuration.sourceRank(spark, sf, localPrEdgeCap = 0L)
      .collect().map(_.toSeq).toSeq
    val localRows = CorpusCuration.sourceRank(spark, sf).collect().map(_.toSeq).toSeq
    assert(distRows === localRows, "local pagerank == distributed rounds")
    // an edge endpoint outside the node set fails with a message, not
    // a bare NoSuchElementException from the rank lookup
    val e = intercept[IllegalArgumentException](CorpusCuration.localSourceRank(
      spark, Array("a", "b"), Array(("a", "b", 1L), ("b", "zz", 2L))))
    assert(e.getMessage.contains("not in the node set: zz"), e.getMessage)
  }

  test("source pagerank ranks a planted syndication hub first") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_prank").toString
    // hub shares a distinct 12-word run with each spoke; spokes share
    // nothing with each other (distinct vocabularies)
    def run(tag: String) = (0 until 12).map(i => s"$tag$i").mkString(" ")
    val docs = Seq(
      (1L, s"${run("pa")} ${run("pb")} ${run("pc")}", "hub"),
      (2L, s"${run("pa")} ${run("qa")}", "spokeA"),
      (3L, s"${run("pb")} ${run("qb")}", "spokeB"),
      (4L, s"${run("pc")} ${run("qc")}", "spokeC"),
      (5L, run("zz"), "loner"))
    docs.map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val ranked = CorpusCuration.sourceRank(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(ranked.head._1 === "hub", s"hub should rank first: ${ranked.toSeq}")
    // the isolated source holds exactly the teleport mass (sink-loss
    // convention: it receives nothing and its own mass drains)
    val loner = ranked.find(_._1 == "loner").get._2
    assert(loner === math.floor(CorpusCuration.PrJump / 5 * 1e9 + 0.5).toLong)
    graft.plans.Memo.release(spark, dir)
  }

  // -------------------------------------------------------------------
  // q_epoch_shuffle
  // -------------------------------------------------------------------

  test("epoch shuffle: each epoch is a complete permutation, orders differ") {
    val rows: Seq[(Int, Long, Long)] = CorpusCuration.epochShuffle(spark, sf)
      .collect().toSeq.map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val n = Tables.documents(spark, sf).count()
    val byEpoch = rows.groupBy(_._1)
    assert(byEpoch.keySet === CorpusCuration.EpochMults.indices.toSet)
    for ((e, rs) <- byEpoch) {
      assert(rs.length === n, s"epoch $e covers the corpus")
      assert(rs.map(_._2).sorted === (1L to n).toSeq,
        s"epoch $e positions are 1..$n exactly once")
      assert(rs.map(_._3).distinct.length === n, s"epoch $e permutes all docs")
    }
    // different epochs produce genuinely different orders
    val o0 = byEpoch(0).sortBy(_._2).map(_._3).toSeq
    val o1 = byEpoch(1).sortBy(_._2).map(_._3).toSeq
    assert(o0 !== o1, "epoch orders differ")
    assert(o0.zip(o1).count { case (a, b) => a == b } < n / 10,
      "orders are not near-identical")
  }

  test("epoch shuffle plan: rank windows are hash-range-partitioned") {
    val p = CorpusCuration.epochShuffle(spark, sf)
      .queryExecution.executedPlan.toString
    val wlines = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(wlines.nonEmpty && wlines.forall(_.contains("rng")),
      s"two-phase rank windows keyed by hash range:\n${wlines.mkString("\n")}")
  }

  // -------------------------------------------------------------------
  // q_novelty + q_lang_mismatch
  // -------------------------------------------------------------------

  test("novelty: an exact copy of an earlier doc scores 0, fresh text scores 1") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_nov").toString
    val a = (0 until 20).map(i => s"nova$i").mkString(" ")
    val fresh = (0 until 20).map(i => s"ultra$i").mkString(" ")
    val mixed = ((0 until 8).map(i => s"nova$i") ++ // head overlaps doc 1's grams
      (0 until 12).map(i => s"mixx$i")).mkString(" ")
    Seq((1L, a, "en", "s", 1L), (2L, a, "en", "s", 1L),
      (3L, fresh, "en", "s", 1L), (4L, mixed, "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val nov = CorpusCuration.novelty(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(nov(1L) === 1.0, "first occurrence is fully novel")
    assert(nov(2L) === 0.0, "verbatim re-crawl is fully seen")
    assert(nov(3L) === 1.0)
    assert(nov(4L) > 0.0 && nov(4L) < 1.0, "partial overlap in between")
  }

  test("lang mismatch: planted mislabeled docs are counted, unknowns are not") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_lmm").toString
    val en = "the cat is in the house and it is warm"
    val de = "der hund ist nicht ein problem und das ist gut"
    val unk = "zz yy xx ww vv uu tt ss"
    Seq(
      (1L, en, "en", "good", 1L),  // label matches
      (2L, de, "de", "good", 1L),  // label matches
      (3L, en, "de", "bad", 1L),   // mislabeled
      (4L, de, "en", "bad", 1L),   // mislabeled
      (5L, unk, "en", "bad", 1L))  // no evidence → not confident
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = CorpusCuration.langMismatch(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toMap
    assert(got("good") === ((2L, 2L, 0L, 0.0)))
    assert(got("bad") === ((3L, 2L, 2L, 1.0)), "unknown doc excluded from the rate")
  }

  // -------------------------------------------------------------------
  // q_pack_efficiency + q_vocab_coverage
  // -------------------------------------------------------------------

  test("pack efficiency: packing never loses to padding, waste grows with L") {
    val rows = CorpusCuration.packEfficiency(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(rows.map(_._1).toSeq === CorpusCuration.PackCandidateLens)
    for ((l, padded, packed, waste) <- rows) {
      assert(packed <= padded, s"L=$l: packing cannot need more sequences")
      assert(waste >= 0.0 && waste < 1.0)
    }
    // per-doc padding waste is monotone in L on any fixed corpus
    assert(rows.map(_._4).toSeq === rows.map(_._4).toSeq.sorted,
      "pad waste non-decreasing in sequence length")
  }

  test("vocab coverage: monotone in k and equal to a direct top-k sum") {
    val rows = CorpusCuration.vocabCoverage(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq === CorpusCuration.VocabCandidates)
    assert(rows.map(_._2).toSeq === rows.map(_._2).toSeq.sorted, "covered mass monotone")
    assert(rows.forall { case (_, cov, tot, c) => cov <= tot && c <= 1.0 && c > 0.0 })
    // direct recomputation of the largest k
    val toks = Tables.documents(spark, sf)
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("t"))
      .groupBy("t").count().collect().map(r => r.getString(0) -> r.getLong(1))
    val kMax = CorpusCuration.VocabCandidates.max
    val want = toks.sortBy { case (t, c) => (-c, t) }.take(kMax).map(_._2).sum
    assert(rows.last._2 === want)
  }

  // -------------------------------------------------------------------
  // q_embed_drift
  // -------------------------------------------------------------------

  test("embed drift matches a plain-Scala per-label centroid cosine") {
    val got = CorpusCuration.embedDrift(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val vecs = Tables.embeddings(spark, sf)
      .select("label", "embedding").collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).map(_.toDouble))
    val dims = vecs.head._2.length
    def mean(vs: Seq[Seq[Double]]): Array[Double] = {
      val m = new Array[Double](dims)
      vs.foreach(v => (0 until dims).foreach(i => m(i) += v(i)))
      m.map(_ / vs.size)
    }
    val corpusMean = mean(vecs.map(_._2).toSeq)
    for ((label, (n, cos)) <- got) {
      val mine = vecs.filter(_._1 == label).map(_._2).toSeq
      assert(mine.size.toLong === n)
      val lm = mean(mine)
      val dot = (0 until dims).map(i => lm(i) * corpusMean(i)).sum
      val want = dot / (math.sqrt(lm.map(x => x * x).sum) *
        math.sqrt(corpusMean.map(x => x * x).sum))
      assert(math.abs(cos - want) < 1e-4, s"label $label: $cos vs $want")
      assert(cos >= -1.0 && cos <= 1.0000001)
    }
    assert(got.size === 10)
  }

  // -------------------------------------------------------------------
  // q_term_search + q_rate_anomaly
  // -------------------------------------------------------------------

  test("term search: conjunctive membership with per-term counts, map-only plan") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ts").toString
    val all3 = "spark spark window merge other words here"
    val two = "spark window no third term"
    Seq((1L, all3, "en", "s", 1L), (2L, two, "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = CorpusCuration.termSearch(spark, dir).collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(1L), "only the doc with all terms")
    assert(got.head.getLong(1) === 2L, "spark occurs twice")
    // unordered form adds no KEYED exchange (map-only gate riding the
    // scan; the shipped single-row-group corpus triggers the r16
    // round-robin narrow-layout spread, which is not a key shuffle)
    val p = graft.plans.Unordered.form(CorpusCuration.termSearch(spark, SparkTestSession.Sf))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning") &&
      !p.contains("Exchange rangepartitioning"),
      s"term search must not key-shuffle:\n$p")
  }

  test("rate anomaly: planted spike flags, warmup hours have null z") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    // 48 steady hours of 10 events, then one 100-event spike hour
    val rows = (0 until 48).flatMap { h =>
      (0 until 10).map(i => (h * 10L + i, new java.sql.Timestamp(
        base + h * 3600000L + i * 1000L), 1L, "view", 1.0, "{}"))
    } ++ (0 until 100).map(i => (9000L + i, new java.sql.Timestamp(
      base + 48 * 3600000L + i * 1000L), 1L, "view", 1.0, "{}"))
    val dir = java.nio.file.Files.createTempDirectory("graft_anom").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = CorpusCuration.rateAnomaly(spark, dir).collect()
      .map(r => r.getString(0) -> (Option(r.get(2)).map(_ => r.getDouble(2)),
        r.getBoolean(3))).toMap
    assert(got.size === 49)
    // first hours lack the 12-hour baseline → null z, not flagged
    assert(got("2024-03-01 00:00:00")._1.isEmpty)
    assert(!got("2024-03-01 00:00:00")._2)
    // steady mid-run hour: z == 0 (variance floored, count == mean)
    assert(got("2024-03-01 20:00:00")._1.contains(0.0))
    // the spike hour is a flagged anomaly with a huge z
    val (zSpike, flagged) = got("2024-03-03 00:00:00")
    assert(flagged && zSpike.exists(_ > 2.0), s"spike hour: $zSpike")
  }

  // -------------------------------------------------------------------
  // streaming twin: mergeable per-source MinHash signatures
  // -------------------------------------------------------------------

  test("streaming rate anomaly equals the batch operator over any split; pruning is safe") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    val rows = (0 until 48).flatMap { h =>
      (0 until 10).map(i => (h * 10L + i, new java.sql.Timestamp(
        base + h * 3600000L + i * 1000L), 1L, "view", 1.0, "{}"))
    } ++ (0 until 100).map(i => (9000L + i, new java.sql.Timestamp(
      base + 48 * 3600000L + i * 1000L), 1L, "view", 1.0, "{}"))
    val dir = java.nio.file.Files.createTempDirectory("graft_sanom").toString
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    df.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val twin = new graft.streaming.StreamingRateAnomaly
    for (r <- 0 until 3) // arbitrary micro-batches, hours split across them
      twin.mergeBatch(df.filter(pmod(col("event_id"), lit(3)) === r))
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), Option(r.get(2)).map(_ => r.getDouble(2)),
        r.getBoolean(3))
    val got = twin.current(spark).collect().map(key).sortBy(_._1).toSeq
    val want = operators.CorpusCuration.rateAnomaly(spark, dir)
      .collect().map(key).sortBy(_._1).toSeq
    assert(got === want, "merged per-batch counts reproduce the batch anomaly table")
    // pruning hours older than any future trailing window keeps the tail intact
    twin.pruneBefore((base / 1000L) / 3600L + 24)
    val pruned = twin.current(spark).collect().map(key)
      .map(k => k._1 -> k).toMap
    val tail = want.filter(_._1 >= "2024-03-02 00:00:00")
    // hours ≥ base+48h-24h still have their FULL trailing window in state;
    // the spike hour's verdict must survive the prune
    assert(pruned("2024-03-03 00:00:00") === want.find(_._1 == "2024-03-03 00:00:00").get)
    assert(tail.nonEmpty)
    // hours MISSING inside a trail (its 24 h window holds fewer hours
    // than it spans), uneven counts, a 30 h gap that empties the trail,
    // and a spike after it
    val gapHours = (0 until 40).filter(h => h % 5 != 2 && h % 7 != 3) ++
      (70 until 100).filter(_ % 4 != 1)
    val gapRows = gapHours.flatMap { h =>
      val n = if (h == 98) 60 else 3 + (h * 7) % 11
      (0 until n).map(i => (h * 100L + i, new java.sql.Timestamp(
        base + h * 3600000L + i * 1000L), 1L, "view", 1.0, "{}"))
    }
    val gapDir = java.nio.file.Files.createTempDirectory("graft_sanomgap").toString
    val gapDf = gapRows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    gapDf.write.mode("overwrite").parquet(s"$gapDir/events.parquet")
    val gapTwin = new graft.streaming.StreamingRateAnomaly
    for (r <- 0 until 2)
      gapTwin.mergeBatch(gapDf.filter(pmod(col("event_id"), lit(2)) === r))
    val gapGot = gapTwin.current(spark).collect().map(key).sortBy(_._1).toSeq
    val gapWant = operators.CorpusCuration.rateAnomaly(spark, gapDir)
      .collect().map(key).sortBy(_._1).toSeq
    assert(gapWant.count(_._3.isDefined) > 10 && gapWant.exists(_._4),
      "the gapped input scores hours and flags its spike")
    assert(gapGot === gapWant, "a trail with missing hours matches the batch operator")
  }

  test("streaming source-sim signatures equal the batch operator's over any split") {
    val docs = Tables.documents(spark, sf).select("source", "text", "doc_id")
    val twin = new graft.streaming.StreamingSourceSim
    // three arbitrary micro-batches by doc_id residue
    for (r <- 0 until 3)
      twin.mergeBatch(docs.filter(pmod(col("doc_id"), lit(3)) === r)
        .select("source", "text"))
    val got = twin.current
    val want = {
      import graft.operators.Dedup
      val ex = docs.select(col("source"),
        explode(graft.functions.TextFunctions.shingleHashes(
          col("text"), Dedup.ShingleN)).as("h"))
      val mins = Dedup.MinhashA.zip(Dedup.MinhashB).zipWithIndex.map {
        case ((a, b), i) =>
          min(pmod(lit(a) * col("h") + lit(b),
            lit(graft.functions.TextFunctions.HashP))).as(s"m$i")
      }
      ex.groupBy("source").agg(mins.head, mins.tail: _*).collect()
        .map(r => r.getString(0) ->
          Seq.tabulate(Dedup.MinhashA.size)(i => r.getLong(i + 1))).toMap
    }
    assert(got === want, "merged per-batch mins == full-history signature")
  }

  test("streaming KL drift equals the batch operator over any split") {
    val docs = Tables.documents(spark, sf)
    val counts = new Additive("source", "t")
    for (r <- 0 until 3) // arbitrary micro-batches by doc_id residue
      counts.merge(CorpusCuration.sourceTokenCountsOf(
        docs.filter(pmod(col("doc_id"), lit(3)) === r).select("source", "text")))
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val got = CorpusCuration.klFromCounts(counts.state(spark)).collect().map(key).toSeq
    val want = CorpusCuration.klDrift(spark, sf).collect().map(key).toSeq
    assert(got === want, "merged (source, token) counts reproduce batch KL exactly")
  }

  test("streaming embed drift equals the batch operator over any split, incl. restore") {
    val emb = Tables.embeddings(spark, sf)
    def slice(r: Int) = emb.filter(pmod(col("vec_id"), lit(3)) === r)
    def merge(a: Additive, r: Int) = a.merge(CorpusCuration.embedGrouped(slice(r)))
    val twin = new Additive("label", "dim")
    merge(twin, 0); merge(twin, 1)
    val snap = java.nio.file.Files.createTempDirectory("graft_driftsnap").toString
    twin.snapshot(spark, snap)
    val resumed = Additive.restore(spark, snap, "label", "dim")
    merge(resumed, 2); merge(twin, 2)
    def key(r: org.apache.spark.sql.Row) =
      (r.getInt(0), r.getLong(1), r.getDouble(2))
    def current(a: Additive) =
      CorpusCuration.embedDriftFromSums(a.state(spark)).collect().map(key).toSeq
    val want = CorpusCuration.embedDrift(spark, sf).collect().map(key).toSeq
    assert(current(twin) === want,
      "merged decimal coordinate sums reproduce the batch drift card exactly")
    assert(current(resumed) === want,
      "restore + remaining batches == uninterrupted monitor == batch")
  }

  test("streaming corpus card equals the batch operator over any split, incl. restore") {
    val docs = Tables.documents(spark, sf).select("source", "text", "doc_id")
    def slice(r: Int) =
      docs.filter(pmod(col("doc_id"), lit(3)) === r).select("source", "text")
    val keys = Seq("source", "h", "pred")
    def merge(a: Additive, r: Int) = a.merge(CorpusCuration.cardGrouped(slice(r)))
    val twin = new Additive(keys: _*)
    merge(twin, 0); merge(twin, 1)
    // snapshot mid-stream; the restored monitor sees only the rest
    val snap = java.nio.file.Files.createTempDirectory("graft_cardsnap").toString
    twin.snapshot(spark, snap)
    val resumed = Additive.restore(spark, snap, keys: _*)
    merge(resumed, 2); merge(twin, 2)
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getString(6), r.getDouble(7))
    def current(a: Additive) =
      CorpusCuration.cardFromGrouped(a.state(spark)).collect().map(key).toSeq
    val want = operators.CorpusCuration.corpusCard(spark, sf).collect().map(key).toSeq
    assert(current(twin) === want,
      "merged grouped stats reproduce the batch card exactly")
    assert(current(resumed) === want,
      "restore + remaining batches == uninterrupted monitor == batch")
  }

  test("approx corpus card: bounded state, exact card while HLL stays sparse, incl. restore") {
    val docs = Tables.documents(spark, sf).select("source", "text", "doc_id")
    def slice(r: Int) =
      docs.filter(pmod(col("doc_id"), lit(3)) === r).select("source", "text")
    val twin = new graft.streaming.StreamingCorpusCardApprox
    twin.mergeBatch(slice(0)); twin.mergeBatch(slice(1))
    val snap = java.nio.file.Files.createTempDirectory("graft_cardapx").toString
    twin.snapshot(spark, snap)
    val resumed = graft.streaming.StreamingCorpusCardApprox.restore(spark, snap)
    resumed.mergeBatch(slice(2))
    twin.mergeBatch(slice(2))
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getString(6), r.getDouble(7))
    // shipped-SF distinct docs per source sit far below the 2^12
    // sketch's sparse/set capacity, so the HLL estimate — and hence
    // the WHOLE card including n_exact_dups — is exact here; at the
    // corpus sizes that motivate the swap only the dup column takes
    // HLL's ~1.6% relative error
    val want = operators.CorpusCuration.corpusCard(spark, sf).collect().map(key).toSeq
    assert(twin.current(spark).collect().map(key).toSeq === want,
      "bounded-state card equals the exact card under sparse-mode HLL")
    assert(resumed.current(spark).collect().map(key).toSeq === want,
      "restore + remaining batches == uninterrupted monitor == batch")
    // the state bound that motivates the twin: rows scale with
    // (sources × languages), never with documents
    val nSources = docs.select("source").distinct().count()
    val stateRows = spark.read.parquet(s"$snap/sketches").count()
    assert(stateRows <= nSources * 4,
      s"state must be O(sources × languages), got $stateRows rows")
  }

  test("approx card HLL path: dense-mode estimate error stays inside the lgK=12 bound") {
    // 60k distinct docs in one source — far past sparse capacity, so
    // this measures the actual approximation the twin ships at scale
    import spark.implicits._
    val docs = spark.range(60000)
      .select(lit("big").as("source"),
        concat(lit("doc body number "), col("id")).as("text"))
    val twin = new graft.streaming.StreamingCorpusCardApprox
    // two batches with an overlapping half: true distinct = 60k,
    // true docs = 90k — merge must union, not double-count
    twin.mergeBatch(docs.filter(col("text") rlike ".*"))
    twin.mergeBatch(docs.limit(30000))
    val row = twin.current(spark).collect().head
    val nDocs = row.getLong(1); val dups = row.getLong(2)
    assert(nDocs === 90000L)
    val estDistinct = nDocs - dups
    val relErr = math.abs(estDistinct - 60000.0) / 60000.0
    info(f"hll distinct estimate $estDistinct (rel err $relErr%.4f)")
    assert(relErr < 0.03, s"lgK=12 HLL error out of bound: $relErr")
  }

  test("streaming skew report equals the batch operator over any split, incl. restore") {
    val events = Tables.events(spark, sf)
    def slice(r: Int) = events.filter(pmod(col("event_id"), lit(3)) === r)
    import operators.ExtendedAnalytics
    def merge(a: Additive, r: Int) = a.merge(ExtendedAnalytics.skewCounts(slice(r)))
    val twin = new Additive("user_id")
    merge(twin, 0); merge(twin, 1)
    val snap = java.nio.file.Files.createTempDirectory("graft_skewsnap").toString
    twin.snapshot(spark, snap)
    val resumed = Additive.restore(spark, snap, "user_id")
    merge(resumed, 2); merge(twin, 2)
    def key(r: org.apache.spark.sql.Row) =
      (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))
    def current(a: Additive) =
      ExtendedAnalytics.skewFromCounts(spark, a.state(spark)).collect().map(key).toSeq
    val want = ExtendedAnalytics.skewReport(spark, sf).collect().map(key).toSeq
    assert(current(twin) === want,
      "merged per-key counts reproduce the batch skew report exactly")
    assert(current(resumed) === want,
      "restore + remaining batches == uninterrupted monitor == batch")
  }

  test("KL monitor snapshot/restore: resumed run equals uninterrupted run exactly") {
    val docs = Tables.documents(spark, sf)
    def slice(r: Int) =
      docs.filter(pmod(col("doc_id"), lit(3)) === r).select("source", "text")
    def merge(a: Additive, r: Int) = a.merge(CorpusCuration.sourceTokenCountsOf(slice(r)))
    val live = new Additive("source", "t")
    merge(live, 0); merge(live, 1)
    val snap = java.nio.file.Files.createTempDirectory("graft_klsnap").toString
    live.snapshot(spark, snap)
    // the restored monitor sees only the remaining batch
    val resumed = Additive.restore(spark, snap, "source", "t")
    merge(resumed, 2); merge(live, 2)
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    def current(a: Additive) =
      CorpusCuration.klFromCounts(a.state(spark)).collect().map(key).toSeq
    assert(current(resumed) === current(live),
      "restore + remaining batches == uninterrupted monitor")
    assert(current(resumed) ===
      CorpusCuration.klDrift(spark, sf).collect().map(key).toSeq,
      "and both equal the batch operator")
  }

  test("rate monitor snapshot/restore keeps counts AND the prune boundary") {
    val ev = Tables.events(spark, sf)
    val live = new graft.streaming.StreamingRateAnomaly
    live.mergeBatch(ev.filter(pmod(col("event_id"), lit(2)) === 0))
    // prune to an early boundary so the fringe-withholding logic is
    // live state that must survive the snapshot
    val firstHour = live.current(spark)
      .agg(org.apache.spark.sql.functions.min("hour")).head().getString(0)
    val firstNo = java.time.LocalDateTime.parse(firstHour.replace(' ', 'T'))
      .toEpochSecond(java.time.ZoneOffset.UTC) / 3600L
    live.pruneBefore(firstNo + 2)
    val snap = java.nio.file.Files.createTempDirectory("graft_ratesnap").toString
    live.snapshot(spark, snap)
    val resumed = graft.streaming.StreamingRateAnomaly.restore(spark, snap)
    resumed.mergeBatch(ev.filter(pmod(col("event_id"), lit(2)) === 1))
    live.mergeBatch(ev.filter(pmod(col("event_id"), lit(2)) === 1))
    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getLong(1),
      Option(r.get(2)).map(_.asInstanceOf[Double]), r.getBoolean(3))
    assert(resumed.current(spark).collect().map(key).toSeq ===
      live.current(spark).collect().map(key).toSeq,
      "restored boundary must withhold the same post-prune fringe")
  }

  test("rate monitor restore reads meta by name and rejects legacy pruned_to") {
    import spark.implicits._
    val ev = Tables.events(spark, sf)
    val live = new graft.streaming.StreamingRateAnomaly
    live.mergeBatch(ev.filter(pmod(col("event_id"), lit(2)) === 0))
    val snap = java.nio.file.Files.createTempDirectory("graft_ratev1").toString
    live.snapshot(spark, snap)
    val firstNo = spark.read.parquet(s"$snap/counts")
      .agg(org.apache.spark.sql.functions.min("hr_no")).head().getLong(0)
    live.pruneBefore(firstNo + 2)
    live.snapshot(spark, snap)
    val d = spark.read.parquet(s"$snap/meta").head().getAs[Long]("dropped_max")
    assert(d >= firstNo, "the prune dropped an hour")
    // forge snapshots over the same counts: a pre-r9 one whose meta
    // column is `pruned_to` (the exclusive boundary), and a current one
    // whose `dropped_max` sits behind another column
    def forge(meta: org.apache.spark.sql.DataFrame): String = {
      val root = java.nio.file.Files.createTempDirectory("graft_ratev").toString
      spark.read.parquet(s"$snap/counts")
        .write.mode("overwrite").parquet(s"$root/counts")
      meta.write.mode("overwrite").parquet(s"$root/meta")
      root
    }
    val legacy = forge(Seq(d + 1L).toDF("pruned_to"))
    val err = intercept[IllegalStateException] {
      graft.streaming.StreamingRateAnomaly.restore(spark, legacy)
    }
    assert(err.getMessage.contains(legacy) && err.getMessage.contains("dropped_max"),
      err.getMessage)
    val byName = graft.streaming.StreamingRateAnomaly
      .restore(spark, forge(Seq((7L, d)).toDF("other", "dropped_max")))
    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getLong(1),
      Option(r.get(2)).map(_.asInstanceOf[Double]), r.getBoolean(3))
    val want = live.current(spark).collect().map(key).toSeq
    assert(want.size < spark.read.parquet(s"$snap/counts").count(),
      "the restored gate withholds the post-prune fringe")
    assert(byName.current(spark).collect().map(key).toSeq === want,
      "dropped_max is read by name, not by position")
  }

  test("streaming lang mismatch equals the batch operator over any split") {
    val docs = Tables.documents(spark, sf)
    val counts = new Additive("source")
    for (r <- 0 until 3)
      counts.merge(CorpusCuration.langMismatchCounts(
        docs.filter(pmod(col("doc_id"), lit(3)) === r).select("source", "lang", "text")))
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
    val got = CorpusCuration.langMismatchRates(counts.state(spark)).collect().map(key).toSeq
    val want = CorpusCuration.langMismatch(spark, sf).collect().map(key).toSeq
    assert(got === want, "summed per-source counters reproduce the batch audit exactly")
  }

  // -------------------------------------------------------------------
  // high-source-cardinality regime: banded sim, df-capped overlap
  // -------------------------------------------------------------------

  /** Test-side signature computation (the streaming-twin pattern):
    * source → 16 MinHash components, collected.
    */
  private def collectedSigs(docs: org.apache.spark.sql.DataFrame)
      : Map[String, Seq[Long]] = {
    import graft.operators.Dedup
    val ex = docs.select(col("source"),
      explode(graft.functions.TextFunctions.shingleHashes(
        col("text"), Dedup.ShingleN)).as("h"))
    val mins = Dedup.MinhashA.zip(Dedup.MinhashB).zipWithIndex.map {
      case ((a, b), i) =>
        min(pmod(lit(a) * col("h") + lit(b),
          lit(graft.functions.TextFunctions.HashP))).as(s"m$i")
    }
    ex.groupBy("source").agg(mins.head, mins.tail: _*).collect()
      .map(r => r.getString(0) ->
        Seq.tabulate(Dedup.MinhashA.size)(i => r.getLong(i + 1))).toMap
  }

  test("source sim at 10k sources: banded path == band-match pairs with exact values, no local pairwise") {
    import spark.implicits._
    import graft.operators.Dedup
    assert(10000 > CorpusCuration.SourcePairLocalMax)
    // 2000 families × 5 sources; members 0-2 share the family text
    // verbatim (signature-identical → every band matches), members 3-4
    // append extra tokens (supersets — partial component agreement)
    val rows = (0 until 10000).map { i =>
      val fam = i / 5
      val base = (0 until 12).map(j => s"f${fam}w$j").mkString(" ")
      val text = (i % 5) match {
        case 3 => base + s" x${i}a x${i}b x${i}c"
        case 4 => base + s" y${i}a y${i}b y${i}c y${i}d"
        case _ => base
      }
      (i.toLong, text, "en", f"s$i%05d", text.length.toLong)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_bigsrc").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val out = CorpusCuration.sourceSim(spark, dir)
    // the banded plan must be fully distributed: a collected signature
    // frame would surface as a LocalTableScan / LocalRelation leaf
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("LocalTableScan"),
      "banded path must not collect the signature frame")
    val got = out.collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap

    // expected: exactly the pairs sharing ≥1 of the 4 bands, with the
    // values the exact all-pairs path would emit — derived from the
    // collected signatures via bucket grouping (never naive 10k²)
    val sigs = collectedSigs(spark.read.parquet(s"$dir/documents.parquet"))
    val buckets = scala.collection.mutable.HashMap
      .empty[(Int, Seq[Long]), List[String]]
    for ((src, sig) <- sigs; bi <- 0 until Dedup.Bands) {
      val key = (bi, sig.slice(bi * Dedup.R, bi * Dedup.R + Dedup.R))
      buckets.update(key, src :: buckets.getOrElse(key, Nil))
    }
    val expectPairs = buckets.valuesIterator.flatMap { ss =>
      val sorted = ss.sorted
      for (a <- sorted.iterator; b <- sorted.iterator if a < b) yield (a, b)
    }.toSet
    val expect = expectPairs.iterator.map { case (a, b) =>
      val nMatch = sigs(a).zip(sigs(b)).count { case (x, y) => x == y }.toLong
      (a, b) -> (nMatch,
        BigDecimal(nMatch.toDouble / Dedup.MinhashA.size)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toMap
    assert(got.keySet === expect.keySet,
      "candidates are exactly the band-sharing pairs")
    assert(got === expect, "banded values equal the exact path's")
    // the signature-identical family triples are all found at 1.0
    val fullMatches = got.filter(_._2._1 == Dedup.MinhashA.size.toLong)
    assert(fullMatches.size >= 2000 * 3,
      s"family triples surface as exact matches, got ${fullMatches.size}")
    graft.plans.Memo.release(spark, dir)
  }

  test("source overlap above the gate: df-capped, exact over the discriminative universe") {
    import spark.implicits._
    import graft.operators.Dedup
    val nSrc = 300 // > SourcePairLocalMax = 256, < hot df cap trigger at 300 > 256
    assert(nSrc > CorpusCuration.SourcePairLocalMax &&
      nSrc > CorpusCuration.SourceOverlapMaxDf)
    // every source shares a hot boilerplate phrase (df = 300 > cap →
    // dropped); sources 2i and 2i+1 share a pair-unique phrase (df = 2
    // → kept); plus per-source unique tokens
    val rows = (0 until nSrc).map { i =>
      val p = i / 2
      val text = "hota hotb hotc hotd hote " +
        s"p${p}a p${p}b p${p}c p${p}d " + s"u${i}a u${i}b u${i}c"
      (i.toLong, text, "en", f"s$i%05d", text.length.toLong)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_capovl").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val got = CorpusCuration.sourceOverlap(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap

    // local reference: postings → df → capped universe → pairwise
    val post = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source"),
        explode(graft.functions.TextFunctions.shingleHashes(
          col("text"), Dedup.ShingleN)).as("h"))
      .distinct().collect().map(r => (r.getString(0), r.getLong(1)))
    val df = post.groupBy(_._2).map { case (h, ps) => h -> ps.length }
    val kept = post.filter(p => df(p._2) <= CorpusCuration.SourceOverlapMaxDf)
    val bySrc = kept.groupBy(_._1).map { case (s0, ps) => s0 -> ps.map(_._2).toSet }
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val expect = (for {
      a <- bySrc.keys; b <- bySrc.keys if a < b
      inter = (bySrc(a) & bySrc(b)).size.toLong if inter > 0
    } yield {
      val (na, nb) = (bySrc(a).size.toLong, bySrc(b).size.toLong)
      (a, b) -> (inter, r4(inter.toDouble / (na + nb - inter)),
        r4(inter.toDouble / na), r4(inter.toDouble / nb))
    }).toMap
    assert(expect.nonEmpty && expect.size == nSrc / 2,
      s"planted pair phrases survive the cap: ${expect.size}")
    assert(got === expect,
      "capped operator == exact overlap restricted to df≤cap shingles")
    graft.plans.Memo.release(spark, dir)
  }
}
