package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Retrieval

/** Persisted POSITIONAL postings index — the phrase-query half of the
  * standing-search story ([[Bm25Index]] carries term frequencies,
  * which cannot answer adjacency): Lucene's positional postings, the
  * structure behind `PhraseQuery`. A decontamination service running
  * many exact-quote lookups must not re-tokenize the corpus per quote
  * — it joins the quote's terms' postings on (doc_id, adjacent
  * positions).
  *
  * Layout under the index root ([[TextIndex]]), one [[Snapshots]]
  * table per role:
  *   postings/   (term, doc_id, pos, tshard) — one row per token
  *               OCCURRENCE (corpus-token-sized; positions are what
  *               buy adjacency), one shard per file
  *   doclens/    (doc_id, dl) — the stats table
  *   tombstones/ (doc_id) — deleted docs, anti-joined at query time
  *
  * Query path (`q_phrase_indexed`): shard-pruned postings restricted
  * to the phrase terms → self-join on doc_id with `pos_(k) = pos_0 +
  * k` (the classic positional merge — each term contributes its
  * occurrence list, adjacency is an equi-join on shifted position) →
  * per-doc phrase tf; N/avgdl from doclens and phrase-df from the
  * match set, scored by the SAME [[Retrieval.termMicro]] tree — so
  * indexed == map-only [[Retrieval.phraseSearch]] cell-for-cell and
  * the two entries SHARE one oracle (the q_bm25_indexed precedent).
  *
  * Build, append, delete, compact and versions are the one
  * [[StandingIndex]] lifecycle: append tokenizes only the arriving
  * docs, and stats re-derive from the artifact at query time, so
  * append == full rebuild exactly.
  */
object PhraseIndex extends TextIndex("graft_phraseindex") {

  /** The postings rows: one per token OCCURRENCE. Positions are
    * 1-based — the same index space the map-only scorer's
    * sequence(1, ...) enumerates and the oracle's
    * generate_series(1, ...) probes.
    */
  protected def postings(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"), posexplode(col("t")).as(Seq("p0", "term")))
      .select(col("term"), col("doc_id"), (col("p0") + 1).cast("long").as("pos"))

  /** §2 catalog entry (`q_phrase_indexed`): materialize, then answer
    * the standing phrase from the artifact alone.
    */
  def phraseIndexed(s: SparkSession, dir: String): DataFrame =
    searchRoot(s, materialize(s, dir))

  /** The standing phrase ranked against the index AS OF version v —
    * each role scans at its pinned version (shard pruning through the
    * manifest stats), stats re-derive from v's frames.
    */
  def searchAt(s: SparkSession, root: String, v: Int): DataFrame =
    search(s, read(s, root, Some(v)))

  private[graft] def searchRoot(s: SparkSession, root: String): DataFrame =
    search(s, read(s, root, None))

  private def search(s: SparkSession, f: Frames): DataFrame = {
    val doclens = f.live(f("doclens"))
    val terms = Retrieval.PhraseTerms
    // tombstones drop AFTER shard pruning — the anti-join touches only
    // the phrase terms' shard files
    val post = f.live(f("postings")
      .filter(col("tshard").isin(shardsOf(s, terms): _*))
      .filter(col("term").isin(terms: _*)))
    // positional merge: term k's occurrences must sit at pos_0 + k —
    // chained equi-joins on (doc_id, shifted pos), each join consumes
    // one term's pruned occurrence list
    val first = post.filter(col("term") === terms.head)
      .select(col("doc_id"), col("pos"))
    val matches = terms.zipWithIndex.tail.foldLeft(first) {
      case (acc, (w, k)) =>
        acc.join(post.filter(col("term") === w)
            .select(col("doc_id"), (col("pos") - k).as("pos")),
          Seq("doc_id", "pos"))
    }
    val perMatch = matches.groupBy("doc_id")
      .agg(count(lit(1)).as("tf_phrase"))
    val (nDocs, avgdl) = lengthStats(doclens)
    val dfPhrase = perMatch.count()
    import s.implicits._
    val stats = Seq(1).toDF("one").select(
      lit(nDocs).as("n_docs"), lit(avgdl).as("avgdl"),
      lit(dfPhrase).as("df_phrase"))
    perMatch.join(doclens, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("score_micro", Retrieval.termMicro("phrase"))
      .filter(col("score_micro") > 0)
      .select(col("doc_id"), col("tf_phrase"), col("score_micro"),
        (col("score_micro") / lit(1e6)).as("score"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(Retrieval.PhraseTopK)
  }
}
