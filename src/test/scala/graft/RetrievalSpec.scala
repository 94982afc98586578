package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Retrieval

/** BM25 ranked search (`q_bm25_rank`): local-reference scoring on a
  * planted corpus plus the plan-shape contract (map-only scoring, the
  * only exchanges are the single-row stats agg and the global top-k).
  */
class RetrievalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Plain-Scala BM25 mirror of the operator's double arithmetic (same
    * op order ⇒ identical doubles ⇒ identical micro-units).
    */
  private def refMicro(tf: Long, df: Long, n: Long, dl: Long, avgdl: Double): Long = {
    if (tf == 0L) 0L
    else {
      val idf = math.log(1.0 + (n.toDouble - df.toDouble + 0.5) / (df.toDouble + 0.5))
      val tfn = tf.toDouble * (Retrieval.Bm25K1 + 1.0) /
        (tf.toDouble + Retrieval.Bm25K1 *
          (1.0 - Retrieval.Bm25B + Retrieval.Bm25B * dl.toDouble / avgdl))
      math.floor(idf * tfn * 1e6 + 0.5).toLong
    }
  }

  test("bm25: scores match a local reference, ranks cut on the integer key") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25").toString
    // term set is (spark, window, merge); doc 4 has none → excluded
    val docs = Seq(
      (1L, "spark spark window merge tail tail tail tail", "en", "s", 1L),
      (2L, "spark window other words fill fill", "en", "s", 1L),
      (3L, "merge merge merge merge short", "en", "s", 1L),
      (4L, "nothing relevant at all here", "en", "s", 1L),
      (5L, "spark", "en", "s", 1L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val toks = docs.map { case (id, t, _, _, _) => id -> t.split(" ").toSeq }.toMap
    val n = docs.size.toLong
    val avgdl = toks.values.map(_.size).sum.toDouble / n
    val terms = Retrieval.Bm25Terms
    def tf(id: Long, t: String) = toks(id).count(_ == t).toLong
    val dfs = terms.map(t => t -> toks.count { case (_, ts) => ts.contains(t) }.toLong).toMap
    val expected = toks.keys.map { id =>
      id -> terms.map(t => refMicro(tf(id, t), dfs(t), n, toks(id).size.toLong, avgdl)).sum
    }.filter(_._2 > 0).toSeq.sortBy { case (id, m) => (-m, id) }

    val got = Retrieval.bm25Rank(spark, dir).collect()
    assert(got.map(_.getAs[Long]("doc_id")).toSeq === expected.map(_._1),
      "ranking order matches the local reference")
    assert(got.map(_.getAs[Long]("score_micro")).toSeq === expected.map(_._2),
      "micro scores are bit-identical to the local double mirror")
    // doc 4 (no query terms) must not appear
    assert(!got.exists(_.getAs[Long]("doc_id") == 4L))
  }

  test("bm25: top-k truncates at Bm25TopK on the shipped corpus, plan is scan+topk") {
    val df = Retrieval.bm25Rank(spark, SparkTestSession.Sf)
    val rows = df.collect()
    assert(rows.length <= Retrieval.Bm25TopK)
    assert(rows.nonEmpty, "the generator vocabulary guarantees hits")
    // monotone non-increasing scores with doc_id tiebreak
    val keys = rows.map(r => (-r.getAs[Long]("score_micro"), r.getAs[Long]("doc_id")))
    assert(keys.sameElements(keys.sorted), "rows arrive in (score desc, id) order")
    // plan: per-doc scoring is map-only — no doc-keyed shuffle join; the
    // corpus meets only the broadcast scalar row and the global top-k
    val p = graft.plans.Unordered.form(Retrieval.bm25Rank(spark, SparkTestSession.Sf))
      .queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"), s"bm25 must not shuffle-join:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must be TakeOrdered, not global sort:\n$p")
  }

  test("hybrid RRF fuses the two lists exactly, including single-list docs") {
    import org.apache.spark.sql.functions._
    val sf = SparkTestSession.Sf
    // local reference: rebuild both rank lists from the catalog
    // operators' own outputs, fuse with integer division, compare
    val lex = Retrieval.bm25Rank(spark, sf).select("doc_id").collect()
      .map(_.getLong(0)).zipWithIndex.map { case (d, i) => d -> (i + 1) }.toMap
    val dense = operators.Similarity.normed(spark, sf)
    val q = dense.filter(col("vec_id") === Retrieval.RrfQueryVec).collect().head
    val (qe, qn) = (q.getSeq[Float](1).toArray, q.getDouble(2))
    val denseRanks = dense.filter(col("vec_id") =!= Retrieval.RrfQueryVec).collect()
      .map { r =>
        val e = r.getSeq[Float](1).toArray
        var s = 0.0
        for (i <- e.indices) s += qe(i).toDouble * e(i).toDouble
        // rounded cosine ordering with id tie-break — HALF_UP like the
        // operator's round() (cosines can be negative: builder-notes rule)
        val cos = BigDecimal(s / (qn * r.getDouble(2)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (r.getLong(0), cos)
      }
      .sortBy { case (id, cos) => (-cos, id) }
      .take(Retrieval.RrfPool).zipWithIndex
      .map { case ((d, _), i) => d -> (i + 1) }.toMap
    def contrib(r: Option[Int]): Long =
      r.map(x => 1000000000L / (Retrieval.RrfK + x)).getOrElse(0L)
    val want = (lex.keySet ++ denseRanks.keySet).toSeq
      .map(d => (d, lex.getOrElse(d, 0), denseRanks.getOrElse(d, 0),
        contrib(lex.get(d)) + contrib(denseRanks.get(d))))
      .sortBy { case (d, _, _, m) => (-m, d) }
      .take(Retrieval.RrfTopK)
    val got = Retrieval.hybridRrf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSeq
    assert(got === want, "fusion must match the local reference")
    // asymmetric coverage is exercised, not just tolerated: at least
    // one fused row must come from a single list
    assert(got.exists { case (_, l, d, _) => l == 0 || d == 0 },
      "expected at least one single-list doc in the fused top-k")
    assert(got.size === Retrieval.RrfTopK)
  }

  test("persisted postings index reproduces the map-only ranking and prunes shards") {
    val sf = SparkTestSession.Sf
    val fromIndex = graft.sources.Bm25Index.bm25Indexed(spark, sf)
    val direct = Retrieval.bm25Rank(spark, sf)
    assert(fromIndex.collect().toSeq === direct.collect().toSeq,
      "indexed ranking must be cell-equal to the corpus rescan")
    // the query-term shard set prunes the postings scan's files at
    // plan time — a ranked lookup reads its shards' files, not the
    // whole corpus-token-sized postings table (the AQE wrapper
    // truncates location paths in toString, so path checks go through
    // inputFiles)
    assert(IndexRoles.prunes(fromIndex, "postings"),
      "query terms should prune postings shard files")
    // and the corpus text is never re-read on the query path
    val files = fromIndex.inputFiles
    assert(files.exists(_.contains("postings")) && files.exists(_.contains("doclens")),
      "query path must read the postings + doclens artifact")
    assert(!files.exists(_.contains("documents.parquet")),
      "the indexed path must serve entirely from the artifact")
  }

  test("postings append == full rebuild (stats derive from the artifact at query time)") {
    import org.apache.spark.sql.functions._
    import graft.sources.Bm25Index
    val sf = SparkTestSession.Sf
    val base = java.nio.file.Files.createTempDirectory("graft_bm25base").toString
    val full = java.nio.file.Files.createTempDirectory("graft_bm25full").toString
    Bm25Index.materializeWhere(spark, sf, pmod(col("doc_id"), lit(7)) =!= 0, base)
    Bm25Index.materializeWhere(spark, sf, lit(true), full)
    Bm25Index.append(spark, base,
      Tables.documents(spark, sf).filter(pmod(col("doc_id"), lit(7)) === 0))
    assert(Bm25Index.searchRoot(spark, base).collect().toSeq ===
      Bm25Index.searchRoot(spark, full).collect().toSeq,
      "append + query == full-rebuild query (df/N/avgdl re-derive per query)")
  }

  test("postings delete tombstones at query time; compact physically reclaims") {
    import org.apache.spark.sql.functions._
    import graft.sources.Bm25Index
    import spark.implicits._
    val sf = SparkTestSession.Sf
    val base = java.nio.file.Files.createTempDirectory("graft_bm25del").toString
    val rest = java.nio.file.Files.createTempDirectory("graft_bm25rest").toString
    Bm25Index.materializeWhere(spark, sf, lit(true), base)
    Bm25Index.materializeWhere(spark, sf, pmod(col("doc_id"), lit(7)) =!= 0, rest)
    val delIds = Tables.documents(spark, sf)
      .filter(pmod(col("doc_id"), lit(7)) === 0)
      .select("doc_id").as[Long].collect().toSeq
    Bm25Index.delete(spark, base, delIds)
    def run(root: String) = Bm25Index.searchRoot(spark, root).collect().toSeq
    val want = run(rest)
    assert(run(base) === want,
      "delete + query == rebuild without the deleted docs (stats follow the live set)")
    Bm25Index.delete(spark, base, delIds.take(3)) // idempotent re-delete
    assert(run(base) === want)
    Bm25Index.compact(spark, base)
    assert(IndexRoles.tombstoned(base, "doc_id").isEmpty,
      "compaction clears the tombstones")
    // no index version pins anything, so no file on disk — whichever
    // version it belonged to — may still hold a deleted id
    for (role <- Seq("postings", "doclens")) {
      val files = IndexRoles.partFiles(base, role)
      assert(files.nonEmpty, s"fixture: $role holds files")
      assert(spark.read.parquet(files: _*).filter(col("doc_id").isin(delIds: _*))
        .count() === 0L, s"a $role file on disk still holds a deleted id after compact")
    }
    assert(run(base) === want, "query identical after the reclaim")
  }

  test("an EMPTY postings build stays readable and grows by append") {
    import org.apache.spark.sql.{Column, DataFrame, Row}
    import org.apache.spark.sql.functions._
    import graft.sources.{Bm25Index, GraphIndex, PhraseIndex, PqIndex}
    import graft.operators.Similarity
    val sf = SparkTestSession.Sf
    val docs = Tables.documents(spark, sf)
    val vecs = Similarity.normed(spark, sf)
    // (name, build, append, search, corpus) for each standing index
    val indexes: Seq[(String, (Column, String) => String,
        (String, DataFrame) => Unit, String => Seq[Row], DataFrame)] = Seq(
      ("bm25", Bm25Index.materializeWhere(spark, sf, _, _), Bm25Index.append(spark, _, _),
        r => Bm25Index.searchRoot(spark, r).collect().toSeq, docs),
      ("phrase", PhraseIndex.materializeWhere(spark, sf, _, _), PhraseIndex.append(spark, _, _),
        r => PhraseIndex.searchRoot(spark, r).collect().toSeq, docs),
      ("pq", PqIndex.materializeWhere(spark, sf, _, _), PqIndex.append(spark, _, _),
        r => PqIndex.searchRoot(spark, sf, r).collect().toSeq, vecs),
      ("graph", GraphIndex.materializeWhere(spark, sf, _, _), GraphIndex.append(spark, _, _),
        r => GraphIndex.searchRoot(spark, sf, r).collect().toSeq, vecs))
    for ((name, build, append, search, corpus) <- indexes) {
      val empty = java.nio.file.Files.createTempDirectory(s"graft_${name}empty").toString
      val full = java.nio.file.Files.createTempDirectory(s"graft_${name}full2").toString
      // zero-row build: schema-bearing empty artifact, empty result
      build(lit(false), empty)
      assert(search(empty).isEmpty,
        s"$name: searching the empty index returns nothing, not a schema error")
      // an empty batch (an empty stream trigger) leaves it readable
      append(empty, corpus.limit(0))
      assert(search(empty).isEmpty, s"$name: an empty append keeps the index readable")
      // appending the whole corpus onto the empty build == a full build
      append(empty, corpus)
      build(lit(true), full)
      assert(search(empty) === search(full), s"$name: empty build + append == fresh full build")
    }
  }

  test("phrase search: counts match a local overlapping-occurrence reference") {
    import org.apache.spark.sql.functions._
    val sf = SparkTestSession.Sf
    val got = graft.operators.Retrieval.phraseSearch(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // local reference: overlapping adjacent-token occurrences
    val phrase = graft.operators.Retrieval.PhraseTerms
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
    val want = docs.flatMap { r =>
      val toks = "[a-z0-9]+".r.findAllIn(r.getString(1).toLowerCase).toArray
      val c = (0 to toks.length - phrase.length).count(i =>
        phrase.indices.forall(k => toks(i + k) == phrase(k)))
      if (c > 0) Some(r.getLong(0) -> c.toLong) else None
    }.toMap
    assert(want.nonEmpty, "the standing phrase must occur in the shipped corpus")
    got.foreach { case (d, tf) =>
      assert(want(d) === tf, s"phrase tf mismatch for doc $d")
    }
    // the top-k is the highest-scoring subset of the true match set
    assert(got.keySet.subsetOf(want.keySet))
  }

  test("positional index == map-only phrase scorer; append == full rebuild") {
    import org.apache.spark.sql.functions._
    import graft.sources.PhraseIndex
    val sf = SparkTestSession.Sf
    val indexed = PhraseIndex.phraseIndexed(spark, sf)
    assert(indexed.collect().toSeq ===
      graft.operators.Retrieval.phraseSearch(spark, sf).collect().toSeq,
      "the positional merge reproduces the map-only position enumeration")
    // serves-from-the-artifact: the indexed path's scan reads only
    // files under the graft_phraseindex root (the r10 convention —
    // value-equality alone can't detect a path that re-reads the
    // corpus text)
    val files = indexed.inputFiles
    assert(files.nonEmpty && files.forall(_.contains("graft_phraseindex")),
      s"indexed phrase path must read only the postings/doclens artifact, got:\n${files.mkString("\n")}")
    val base = java.nio.file.Files.createTempDirectory("graft_phrbase").toString
    val full = java.nio.file.Files.createTempDirectory("graft_phrfull").toString
    PhraseIndex.materializeWhere(spark, sf, pmod(col("doc_id"), lit(5)) =!= 0, base)
    PhraseIndex.materializeWhere(spark, sf, lit(true), full)
    PhraseIndex.append(spark, base,
      Tables.documents(spark, sf).filter(pmod(col("doc_id"), lit(5)) === 0))
    assert(PhraseIndex.searchRoot(spark, base).collect().toSeq ===
      PhraseIndex.searchRoot(spark, full).collect().toSeq,
      "append + query == full-rebuild query (stats re-derive per query)")
  }

  test("streaming positional indexer == batch phrase index over any split, incl. restore") {
    import org.apache.spark.sql.functions._
    import graft.sources.PhraseIndex
    val sf = SparkTestSession.Sf
    val docs = Tables.documents(spark, sf)
    def slice(r: Int) = docs.filter(pmod(col("doc_id"), lit(3)) === r)
    val root = java.nio.file.Files.createTempDirectory("graft_phrstream").toString
    val full = java.nio.file.Files.createTempDirectory("graft_phrfull2").toString
    val twin = new graft.streaming.StreamingPhraseIndex(root)
    twin.mergeBatch(spark, slice(0))
    // empty triggers are routine in streaming: the counter agg over zero
    // rows yields NULL sums — must no-op, not NPE
    val statsBeforeEmpty = twin.currentStats
    twin.mergeBatch(spark, docs.filter(lit(false)))
    assert(twin.currentStats === statsBeforeEmpty, "empty batch is a no-op")
    twin.mergeBatch(spark, slice(1))
    val snap = java.nio.file.Files.createTempDirectory("graft_phrsnap").toString
    twin.snapshot(spark, snap)
    val resumed = graft.streaming.StreamingPhraseIndex.restore(spark, snap, root)
    resumed.mergeBatch(spark, slice(2))
    PhraseIndex.materializeWhere(spark, sf, lit(true), full)
    assert(resumed.current(spark).collect().toSeq ===
      PhraseIndex.searchRoot(spark, full).collect().toSeq,
      "stream-built positional index answers the phrase == a batch full build")
    // counters == artifact-derived stats (the double-indexed-batch guard)
    val (n, avgdl, occ) = resumed.currentStats
    val dl = IndexRoles.latest(root, "doclens")
      .agg(count(lit(1)), sum(col("dl"))).head()
    assert(n === dl.getLong(0) && avgdl === dl.getLong(1).toDouble / dl.getLong(0))
    val wantOcc = IndexRoles.latest(root, "postings")
      .filter(col("term").isin(graft.operators.Retrieval.PhraseTerms: _*))
      .groupBy("term").agg(count(lit(1)).as("c")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    graft.operators.Retrieval.PhraseTerms.foreach { t =>
      assert(occ.getOrElse(t, 0L) === wantOcc.getOrElse(t, 0L),
        s"occurrence counter for '$t' == artifact postings rows")
    }
  }

  test("streaming indexer == batch index over any split, counters == artifact stats, incl. restore") {
    import org.apache.spark.sql.functions._
    import graft.sources.Bm25Index
    val sf = SparkTestSession.Sf
    val docs = Tables.documents(spark, sf)
    def slice(r: Int) = docs.filter(pmod(col("doc_id"), lit(3)) === r)
    val root = java.nio.file.Files.createTempDirectory("graft_bm25stream").toString
    val full = java.nio.file.Files.createTempDirectory("graft_bm25full3").toString
    val twin = new graft.streaming.StreamingBm25Index(root)
    twin.mergeBatch(spark, slice(0))
    val statsBeforeEmpty = twin.currentStats
    twin.mergeBatch(spark, docs.filter(lit(false)))
    assert(twin.currentStats === statsBeforeEmpty, "empty batch is a no-op")
    twin.mergeBatch(spark, slice(1))
    val snap = java.nio.file.Files.createTempDirectory("graft_bm25snap").toString
    twin.snapshot(spark, snap)
    val resumed = graft.streaming.StreamingBm25Index.restore(spark, snap, root)
    resumed.mergeBatch(spark, slice(2))
    Bm25Index.materializeWhere(spark, sf, lit(true), full)
    assert(resumed.current(spark).collect().toSeq ===
      Bm25Index.searchRoot(spark, full).collect().toSeq,
      "stream-built index answers the standing query == a batch full build")
    // live counters == the stats the query path re-derives from the
    // artifact (guards double-indexing a batch, which search can't see)
    val (n, avgdl, df) = resumed.currentStats
    val dl = IndexRoles.latest(root, "doclens")
      .agg(count(lit(1)), sum(col("dl"))).head()
    assert(n === dl.getLong(0), "doc counter == artifact doc count")
    assert(avgdl === dl.getLong(1).toDouble / dl.getLong(0),
      "avgdl derives from the same integer sums")
    val wantDf = IndexRoles.latest(root, "postings")
      .filter(col("term").isin(graft.operators.Retrieval.Bm25Terms: _*))
      .groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    graft.operators.Retrieval.Bm25Terms.foreach { t =>
      assert(df.getOrElse(t, 0L) === wantDf.getOrElse(t, 0L),
        s"df counter for '$t' == artifact-derived df")
    }
  }
}
