package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.tokens
import graft.operators.Retrieval
import StandingIndex.Tree

/** Persisted BM25 postings index — the standing-search half of
  * [[graft.operators.Retrieval.bm25Rank]] (whose map-only shape is
  * right for one-off queries: it re-tokenizes the corpus per query).
  * A pipeline that answers MANY ranked lookups (decontamination
  * audits, eval-neighbor checks, ad-hoc search) materializes the
  * inverted index once and serves every query from the artifact —
  * the Lucene economics, following the [[PqIndex]] lifecycle
  * (build once, append batches, query from the artifact; reference
  * intent: alsyefs/notion backend/analyze_pages.py keyword filters as
  * a standing service rather than a rescan).
  *
  * Layout under the index root ([[TextIndex]]), one [[Snapshots]]
  * table per role:
  *   postings/   (term, doc_id, tf, tshard), one shard per file
  *   doclens/    (doc_id, dl) — the slim per-doc length table
  *   tombstones/ (doc_id) — deleted docs, anti-joined at query time
  *
  * Query path (`q_bm25_indexed`): shard-pruned postings restricted to
  * the query terms → per-doc tf pivot (only docs containing ≥ 1 term
  * — exactly the score_micro > 0 support) ⋈ doclens, scored by the
  * SAME [[Retrieval.termMicro]] expression tree over stats derived
  * from the artifact (N, avgdl from doclens; df per term from the
  * pruned postings) — integer-for-integer the inputs bm25Rank derives
  * from the raw corpus, so the two entries are cell-equal by
  * construction and SHARE one oracle (the q_bpe_persisted precedent).
  *
  * Build, append, delete, compact and versions are the one
  * [[StandingIndex]] lifecycle: append tokenizes ONLY the arriving
  * batch — O(batch), the standing corpus untouched — and append +
  * query == full-rebuild query exactly; spec-asserted.
  */
object Bm25Index extends TextIndex("graft_bm25index") {

  /** The postings rows: one per (term, doc) with its frequency. */
  protected def postings(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"), explode(col("t")).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))

  /** §2 catalog entry (`q_bm25_indexed`): materialize, then rank the
    * standing query FROM the artifact alone — the corpus text is never
    * re-read on the query path.
    */
  def bm25Indexed(s: SparkSession, dir: String): DataFrame =
    searchRoot(s, materialize(s, dir))

  /** Rank the standing query against the index AS OF version v (a
    * [[commitVersion]]): each role scans at its pinned version (shard
    * pruning intact through the manifest stats), stats re-derive from
    * v's frames — so `searchAt(v)` == a fresh build over v's corpus,
    * spec- and oracle-asserted.
    */
  def searchAt(s: SparkSession, root: String, v: Int): DataFrame =
    search(s, read(s, root, Some(v)))

  /** `q_bm25_versioned` (§2): the time-travel ranking — the artifact
    * holds v1 = the doc_id%3≠2 slice and v2 = the full corpus; the
    * query ranks AT v1 while v2 exists, and the oracle recomputes the
    * ranking from the v1 predicate alone — a versioned index read is
    * hash-checked against the corpus state it pinned.
    */
  def bm25Versioned(s: SparkSession, dir: String): DataFrame = {
    val root = ScopedFixture.root(s, "graft_bm25ver", dir)
    FixtureCleanup.onExit(root)
    if (!ScopedFixture.isComplete(root)) {
      build(s, dir, pmod(col("doc_id"), lit(3)) =!= 2, root)
      commitVersion(s, root) // v1 = the slice
      append(s, root, graft.Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(3)) === 2))
      commitVersion(s, root) // v2 = the full corpus
      ScopedFixture.markComplete(root)
    }
    searchAt(s, root, 1)
  }

  val bm25VersionedOracleSql: String =
    Retrieval.bm25RankOracleSqlWhere("doc_id % 3 <> 2")

  /** Rank [[Retrieval.Bm25Terms]] against an arbitrary index root
    * (the spec's handle for base-plus-append vs full-rebuild).
    */
  private[graft] def searchRoot(s: SparkSession, root: String): DataFrame =
    search(s, read(s, root, None))

  private def search(s: SparkSession, f: Frames): DataFrame = {
    val terms = Retrieval.Bm25Terms
    // tombstones drop AFTER shard pruning (postings) and against the
    // slim lengths table — stats then derive from the LIVE set only
    val qp = f.live(f("postings")
      .filter(col("tshard").isin(shardsOf(s, terms): _*))
      .filter(col("term").isin(terms: _*)))
    val doclens = f.live(f("doclens"))
    // artifact-derived corpus stats: N and avgdl from the slim lengths
    // table, df per term from the pruned postings — all integers (and
    // one integer-ratio double) identical to what bm25Rank aggregates
    // from the raw corpus, collected as bounded metadata
    val (nDocs, avgdl) = lengthStats(doclens)
    val dfByTerm = qp.groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    import s.implicits._
    val stats = Seq(1).toDF("one").select(
      lit(nDocs).as("n_docs") +: lit(avgdl).as("avgdl") +:
        terms.map(t => lit(dfByTerm.getOrElse(t, 0L)).as(s"df_$t")): _*)
    val tfAggs = terms.map(t =>
      sum(when(col("term") === t, col("tf")).otherwise(0L)).as(s"tf_$t"))
    val perDoc = qp
      .groupBy("doc_id")
      .agg(tfAggs.head, tfAggs.tail: _*)
      .join(doclens, "doc_id")
    Retrieval.scoreAndTop(perDoc, stats)
  }
}

/** What the two text indexes ([[Bm25Index]], [[PhraseIndex]]) share:
  * documents keyed by `doc_id`, a `postings/` tree sharded by
  * `tshard` = hash(term) mod [[Shards]] (a literal term set prunes to
  * its shards' FILES at the scan — at 100 TB the postings table is
  * corpus-token-sized and a query must not read it all), the slim
  * `doclens/` (doc_id, dl) table behind N and avgdl, and no sidecar.
  * Stats derive from the artifact at query time, so append == full
  * rebuild exactly (no frozen df snapshot to invalidate).
  */
abstract class TextIndex(family: String) extends StandingIndex(family, "doc_id") {

  /** Postings shard count: bounds the files per commit while letting
    * a ≤ few-term query prune to ≤ that many shard files.
    */
  val Shards = 32

  type Meta = Unit

  protected val trees = Seq(Tree("postings", sharded = true), Tree("doclens"))

  protected def shards(m: Unit): (Int, Column) = (Shards, col("tshard"))

  protected def batchKey: Column = col("doc_id")

  protected def buildMeta(s: SparkSession, dir: String): Unit = ()

  protected def metaFrame(s: SparkSession, m: Unit): Option[DataFrame] = None

  protected def decodeMeta(meta: => DataFrame): Unit = ()

  protected def corpus(s: SparkSession, dir: String, pred: Column,
                       m: Unit): DataFrame =
    graft.Tables.documents(s, dir).filter(pred)

  /** The postings rows (with a `term` column) of tokenized docs
    * (doc_id, t).
    */
  protected def postings(toks: DataFrame): DataFrame

  protected def frames(batch: DataFrame, m: Unit): Seq[DataFrame] = {
    val toks = batch.select(col("doc_id"), tokens(col("text")).as("t"))
    Seq(postings(toks).withColumn("tshard", tshard(col("term"))),
      toks.select(col("doc_id"), size(col("t")).cast("long").as("dl")))
  }

  private def tshard(term: Column): Column =
    pmod(xxhash64(term), lit(Shards.toLong)).cast("int")

  /** The shards of a literal term set, computed driver-side and pushed
    * as an isin filter (plan-time file pruning on the manifest stats).
    */
  protected def shardsOf(s: SparkSession, terms: Seq[String]): Seq[Int] = {
    import s.implicits._
    terms.toDF("term").select(tshard(col("term")))
      .collect().map(_.getInt(0)).distinct.toSeq
  }

  /** (N, avgdl) of a live doclens frame, collected as bounded
    * metadata. An empty index has a NULL sum(dl): its ranking is empty
    * anyway, and 0.0 keeps the literal construction total.
    */
  protected def lengthStats(doclens: DataFrame): (Long, Double) = {
    val r = doclens.agg(count(lit(1)).as("n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("a")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1))
  }
}
