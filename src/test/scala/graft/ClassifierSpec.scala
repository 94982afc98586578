package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Classifier

/** Learned data-selection filters: NB classifier + DSIR weights.
  *
  * The shipped documents table draws from a fixed 31-word pool, so the
  * separability checks here run on a synthetic fixture with a genuinely
  * split vocabulary; the strongest checks are FULL equality against a
  * tiny plain-Scala reference implementation (every column, every row),
  * which proves the distributed plan computes the published formulas —
  * independent of the DuckDB oracle that proves the same thing again at
  * the driver's gate.
  */
class ClassifierSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val P = graft.functions.TextFunctions.HashP
  private val A = graft.operators.ExtendedAnalytics.SplitHashA
  private val B = Classifier.DsirBuckets

  private def tok(t: String): Vector[String] =
    "[a-z0-9]+".r.findAllIn(t.toLowerCase).toVector
  private def bucket(id: Long): Long = ((id * A) % 2147483648L) % 1000
  private def u6(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong
  private def s4(su: Long): Double = math.floor(su / 1e6 * 1e4 + 0.5) / 1e4

  /** Separable fixture: curated sources write archival words, web
    * sources write spam words, everyone shares filler. 40 docs so both
    * folds are populated on the split hash.
    */
  private lazy val fixture: (String, Vector[(Long, String, String)]) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_nb").toString
    val curWords = Vector("codex", "scroll", "archive", "treatise")
    val webWords = Vector("clickbait", "spam", "banner", "popup")
    val shared = Vector("the", "of", "data")
    val bulk = (1L to 40L).toVector.map { id =>
      val cur = id % 4 == 0 // src0 is on the curated allowlist
      val pool = (if (cur) curWords else webWords) ++ shared
      // deterministic, repetitive text with per-doc variation
      val words = (0 until 12).map(i => pool(((id + i) % pool.size).toInt))
      (id, words.mkString(" "), if (cur) "src0" else "srcZ")
    }
    // edge docs exercise the guard paths: empty token stream (left-join
    // fallbacks, prior-only score, zero features), a single token (the
    // bigram size<2 guard on BOTH engines), and punctuation-only text
    val docs = bulk ++ Vector(
      (41L, "", "srcZ"),
      (42L, "codex", "src0"),
      (43L, "?!... --- !!!", "srcZ"))
    docs.map { case (id, text, src) => (id, text, "en", src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    (dir, docs)
  }

  // ----- plain-Scala reference NB ------------------------------------

  private def refNb(docs: Vector[(Long, String, String)]) = {
    val cur = Classifier.CuratedSources.toSet
    val train = docs.filter(d => bucket(d._1) < Classifier.TrainPermille)
    val counts = scala.collection.mutable.Map.empty[String, (Long, Long)]
    for ((id, text, src) <- train; t <- tok(text)) {
      val (c, w) = counts.getOrElse(t, (0L, 0L))
      counts(t) = if (cur(src)) (c + 1, w) else (c, w + 1)
    }
    val tc = counts.valuesIterator.map(_._1).sum
    val tw = counts.valuesIterator.map(_._2).sum
    val v = counts.size.toLong
    val llr = counts.map { case (t, (c, w)) =>
      t -> u6(math.log((c + 1).toDouble / (tc + v)) -
              math.log((w + 1).toDouble / (tw + v)))
    }.toMap
    val nc = train.count(d => cur(d._3)).toLong
    val nw = train.size - nc
    val prior = u6(math.log((nc + 1).toDouble / (nw + 1).toDouble))
    (counts.toMap, llr, prior)
  }

  test("nb train equals the plain-Scala reference on every row") {
    val (dir, docs) = fixture
    val (counts, llr, _) = refNb(docs)
    val got = Classifier.nbTrain(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got.keySet === counts.keySet)
    for ((t, (c, w)) <- counts) {
      assert(got(t)._1 === c, s"c_cur($t)")
      assert(got(t)._2 === w, s"c_web($t)")
      assert(got(t)._3 === llr(t).toDouble / 1e6, s"llr($t)")
    }
    // separability: curated-only vocabulary scores positive, web-only negative
    assert(llr("codex") > 0 && llr("scroll") > 0)
    assert(llr("spam") < 0 && llr("popup") < 0)
    graft.plans.Memo.release(spark, dir)
  }

  test("nb score + eval equal the reference; holdout separable corpus classifies cleanly") {
    val (dir, docs) = fixture
    val (_, llr, prior) = refNb(docs)
    val cur = Classifier.CuratedSources.toSet
    val exp = docs.map { case (id, text, src) =>
      val ts = tok(text)
      val hits = ts.flatMap(llr.get)
      val su = hits.sum + prior
      (id, (if (bucket(id) < Classifier.TrainPermille) "train" else "holdout",
        ts.size.toLong, hits.size.toLong, if (cur(src)) 1 else 0,
        if (su > 0) 1 else 0, s4(su)))
    }.toMap
    val got = Classifier.nbScore(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3),
        r.getInt(4), r.getInt(5), r.getDouble(6))).toMap
    assert(got.keySet === exp.keySet)
    for ((id, e) <- exp) assert(got(id) === e, s"doc $id")
    // both folds populated, and on this separable corpus the holdout
    // predictions match the true labels exactly
    val holdout = exp.values.filter(_._1 == "holdout")
    assert(holdout.nonEmpty && exp.values.exists(_._1 == "train"))
    assert(holdout.forall(e => e._4 === e._5), "holdout misclassification")

    val eval = Classifier.nbEval(spark, dir).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    for ((isCur, rows) <- holdout.groupBy(_._4)) {
      val n = rows.size.toLong
      val np = rows.count(_._5 == 1).toLong
      assert(eval(isCur) === ((n, np, math.floor(np.toDouble / n * 1e4 + 0.5) / 1e4)))
    }
    graft.plans.Memo.release(spark, dir)
  }

  // ----- plain-Scala reference DSIR ----------------------------------

  private def hash(s: String): Long =
    s.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % P)

  private def feats(text: String): Vector[Long] = {
    val hs = tok(text).map(hash)
    val uni = hs.map(_ % B)
    val big =
      if (hs.size >= 2) hs.sliding(2).map(p => ((p(0) * 131 + p(1)) % P) % B).toVector
      else Vector.empty[Long]
    uni ++ big
  }

  test("dsir weights equal the plain-Scala reference and rank curated docs first") {
    val (dir, docs) = fixture
    val cur = Classifier.CuratedSources.toSet
    val train = docs.filter(d => bucket(d._1) < Classifier.TrainPermille)
    val cnt = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    for ((_, text, src) <- train; f <- feats(text)) {
      val (t, r) = cnt.getOrElse(f, (0L, 0L))
      cnt(f) = (if (cur(src)) t + 1 else t, r + 1)
    }
    val tt = cnt.valuesIterator.map(_._1).sum
    val tr = cnt.valuesIterator.map(_._2).sum
    val denT = (tt + B).toDouble; val denR = (tr + B).toDouble
    val lw0 = u6(math.log(1.0 / denT) - math.log(1.0 / denR))
    val lw = cnt.map { case (f, (t, r)) =>
      f -> u6(math.log((t + 1).toDouble / denT) - math.log((r + 1).toDouble / denR))
    }.toMap
    val exp = docs.map { case (id, text, _) =>
      val fs = feats(text)
      val su = fs.map(f => lw.getOrElse(f, lw0)).sum
      val nf = fs.size.toLong
      (id, (nf, s4(su),
        math.floor(su / 1e6 / math.max(nf, 1L) * 1e4 + 0.5) / 1e4))
    }.toMap
    val got = Classifier.dsirWeights(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got.keySet === exp.keySet)
    for ((id, e) <- exp) assert(got(id) === e, s"doc $id")
    // ranking: every curated doc outweighs every web doc per-feature —
    // among docs that HAVE features (a feature-less doc sums to exactly
    // 0, which is "uninformative", not "web-like")
    val byCur = docs.filter(d => exp(d._1)._1 > 0).groupBy(d => cur(d._3)).view
      .mapValues(_.map(d => exp(d._1)._3)).toMap
    assert(byCur(true).min > byCur(false).max,
      "curated docs must carry higher per-feature importance")
  }

  test("streaming NB model: incremental training + live scoring equal batch over any split") {
    import org.apache.spark.sql.functions._
    val (dir, _) = fixture
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // token counts keyed by t; the (n_cur, n_docs) prior tally is keyless
    val counts = new graft.streaming.Additive("t")
    val tally = new graft.streaming.Additive()
    for (r <- 0 until 3) { // arbitrary micro-batches by doc_id residue
      val batch = docs.filter(pmod(col("doc_id"), lit(3)) === r)
      counts.merge(Classifier.trainCountsFromDocs(batch))
      tally.merge(Classifier.trainDocTallyFrame(batch))
    }
    def mkey(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val state = counts.state(spark)
    val gotModel = Classifier.modelTable(state).collect().map(mkey).sortBy(_._1).toSeq
    val wantModel = Classifier.nbTrain(spark, dir).collect().map(mkey).toSeq
    assert(gotModel === wantModel,
      "merged token counts reproduce the batch model exactly")
    def skey(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getInt(4), r.getInt(5), r.getDouble(6))
    val (tc, tw, v) = Classifier.totalsOf(state)
    val prior = tally.rows.head
    val live = Classifier.scoreStage(docs, Classifier.modelFromCounts(state, tc, tw, v),
      Classifier.priorUOf(prior.getAs[Long]("n_cur"), prior.getAs[Long]("n_docs")))
    val gotScores = live.collect().map(skey).sortBy(_._1).toSeq
    val wantScores = Classifier.nbScore(spark, dir).collect().map(skey).toSeq
    assert(gotScores === wantScores,
      "live scoring under the merged model == the batch scoring pass")
    graft.plans.Memo.release(spark, dir)
  }

  test("dsir select keeps exactly the docs at or above the snapped median weight") {
    val (dir, docs) = fixture
    val perFeat = Classifier.dsirWeights(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // R-7 median over the 4-dp weights, snapped to the grid like the op
    val s = perFeat.values.toSeq.sorted
    val r = (s.size - 1) * 0.5
    val lo = s(r.toInt); val hi = s(math.ceil(r).toInt)
    val tSnap = math.floor((lo + (r - r.toInt) * (hi - lo)) * 1e4 + 0.5) / 1e4
    val expect = perFeat.filter(_._2 >= tSnap).keySet
    val got = Classifier.dsirSelect(spark, dir).collect().map(_.getLong(0)).toSet
    assert(got === expect)
    // the separable fixture: every curated doc clears the median
    val cur = Classifier.CuratedSources.toSet
    assert(docs.filter(d => cur(d._3)).map(_._1).forall(got),
      "curated docs must survive the resampling step")
    graft.plans.Memo.release(spark, dir)
  }

  test("streaming DSIR: merged bucket counts weight batches exactly like the batch operator") {
    import org.apache.spark.sql.functions._
    val (dir, _) = fixture
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val counts = new graft.streaming.Additive("f")
    for (r <- 0 until 3)
      counts.merge(Classifier.dsirCountFrame(docs.filter(pmod(col("doc_id"), lit(3)) === r)))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
    val cnt = counts.rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val got = Classifier.dsirScoreFrame(spark, docs, cnt).collect().map(key).sortBy(_._1).toSeq
    val want = Classifier.dsirWeights(spark, dir).collect().map(key).toSeq
    assert(got === want, "merged feature table reproduces batch weights exactly")
  }

  test("filter cascade == quality-gated rows of nb score, and the gate precedes the token join") {
    import org.apache.spark.sql.functions._
    val (dir, _) = fixture
    val quality = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        graft.functions.TextFunctions.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val scores = Classifier.nbScore(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getInt(5), r.getDouble(6))).toMap
    val expect = quality.filter(_._2 >= Classifier.CascadeQualityMin)
      .map { case (id, q) => id -> (q, scores(id)._2, scores(id)._1) }
    val got = Classifier.filterCascade(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getInt(3))).toMap
    assert(got === expect, "cascade output == gate ∘ score")
    // plan shape: the quality filter sits below the token explode, so
    // the model join's probe stream is already pruned
    val plan = graft.plans.Unordered.form(Classifier.filterCascade(spark, dir))
      .queryExecution.optimizedPlan.toString
    val genIdx = plan.indexOf("Generate explode")
    val filtIdx = plan.indexOf("Filter", genIdx)
    assert(genIdx >= 0 && filtIdx > genIdx,
      s"quality gate must evaluate under the explode:\n$plan")
    graft.plans.Memo.release(spark, dir)
  }

  test("dsir scoring joins a broadcast-bounded feature table") {
    val (dir, _) = fixture
    val plan = graft.plans.Unordered.form(Classifier.dsirWeights(spark, dir))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"feature table should broadcast (bounded by DsirBuckets):\n$plan")
  }
}
