package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Retrieval
import graft.sources.PhraseIndex

/** Streaming positional indexer — the live twin of the positional
  * postings index (`sources.PhraseIndex`), built like
  * [[StreamingBm25Index]]: the batch path's O(batch) `append` per
  * micro-batch, plus a keyless [[Additive]] of (n_docs, Σdl,
  * occurrences per phrase term) that equals the artifact's own counts.
  */
class StreamingPhraseIndex private (root: String, counters: Additive)
    extends Serializable {

  def this(root: String) = this(root, new Additive())

  /** Index one micro-batch of documents (doc_id, text, ...). */
  def mergeBatch(s: SparkSession, batch: DataFrame): Unit = {
    PhraseIndex.append(s, root, batch)
    counters.merge(StreamingBm25Index.tally(batch, Retrieval.PhraseTerms,
      t => sum(size(filter(col("t"), x => x === lit(t))))))
  }

  /** Live (n_docs, avgdl, per-phrase-term occurrence totals). */
  def currentStats: (Long, Double, Map[String, Long]) =
    StreamingBm25Index.stats(counters, Retrieval.PhraseTerms)

  /** The standing phrase served from the artifact — identical to
    * `q_phrase_indexed` over the same accumulated docs.
    */
  def current(s: SparkSession): DataFrame = PhraseIndex.searchRoot(s, root)

  /** Persist the counters (the artifact is durable). */
  def snapshot(s: SparkSession, path: String): Unit =
    counters.snapshot(s, s"$path/counts")
}

object StreamingPhraseIndex {
  def restore(s: SparkSession, path: String, root: String): StreamingPhraseIndex =
    new StreamingPhraseIndex(root, Additive.restore(s, s"$path/counts"))
}
