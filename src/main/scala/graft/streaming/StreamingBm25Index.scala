package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Retrieval
import graft.sources.Bm25Index
import graft.functions.TextFunctions.tokens

/** Streaming BM25 indexer — the live twin of the persisted postings
  * index (`sources.Bm25Index`): each micro-batch pays the batch path's
  * O(batch) `append`, and `searchRoot` derives df/N/avgdl from the
  * artifact at query time, so stream-built == batch-built is
  * structural. A keyless [[Additive]] holds the index-health counters
  * (n_docs, Σdl, df per standing query term); [[currentStats]] equals
  * what the query path re-derives from the artifact (spec-asserted —
  * the guard against a batch indexed twice). Snapshot persists the
  * counters; the artifact is its own durable state.
  */
class StreamingBm25Index private (root: String, counters: Additive)
    extends Serializable {

  def this(root: String) = this(root, new Additive())

  /** Index one micro-batch of documents (doc_id, text, ...). */
  def mergeBatch(s: SparkSession, batch: DataFrame): Unit = {
    Bm25Index.append(s, root, batch)
    // one extra map-only pass over the (small) batch for the counters:
    // per-doc length and standing-term membership
    counters.merge(StreamingBm25Index.tally(batch, Retrieval.Bm25Terms,
      t => sum(when(array_contains(col("t"), t), 1L).otherwise(0L))))
  }

  /** Live (n_docs, avgdl, df per standing term) — bounded metadata,
    * no artifact scan; equals the stats the query path re-derives.
    */
  def currentStats: (Long, Double, Map[String, Long]) =
    StreamingBm25Index.stats(counters, Retrieval.Bm25Terms)

  /** The standing query served from the artifact — identical columns
    * and values to `q_bm25_indexed` over the same accumulated docs.
    */
  def current(s: SparkSession): DataFrame = Bm25Index.searchRoot(s, root)

  /** Persist the counters (the artifact is already durable). */
  def snapshot(s: SparkSession, path: String): Unit =
    counters.snapshot(s, s"$path/counts")
}

object StreamingBm25Index {
  /** Rebuild from a [[StreamingBm25Index.snapshot]] (the index keeps
    * its own root).
    */
  def restore(s: SparkSession, path: String, root: String): StreamingBm25Index =
    new StreamingBm25Index(root, Additive.restore(s, s"$path/counts"))

  /** Keyless per-batch counter row: (n, dl, one column per term). */
  private[streaming] def tally(batch: DataFrame, terms: Seq[String],
      perTerm: String => Column): DataFrame =
    batch.select(tokens(col("text")).as("t"))
      .select(count(lit(1)).as("n") +: sum(size(col("t")).cast("long")).as("dl") +:
        terms.zipWithIndex.map { case (t, i) => perTerm(t).cast("long").as(s"term$i") }: _*)

  /** (n_docs, avgdl, per-term total) from a [[tally]] state. */
  private[streaming] def stats(counters: Additive,
      terms: Seq[String]): (Long, Double, Map[String, Long]) = {
    val r = counters.rows.headOption
    def at(i: Int) = r.fold(0L)(_.getLong(i))
    val n = at(0)
    (n, if (n == 0) 0.0 else at(1).toDouble / n,
      terms.zipWithIndex.map { case (t, i) => t -> at(i + 2) }.toMap)
  }
}
