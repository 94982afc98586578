package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.shingleHashes
import graft.operators.TextAnalysis

/** Streaming benchmark-contamination monitor — the live twin of
  * `operators.TextAnalysis.contamination`/`contaminationScore`: an
  * eval-set quote leaking into the training stream is caught as the
  * document arrives. The eval shingle set is FROZEN at construction,
  * so each document's verdict is independent of every other and
  * per-batch emissions are final: each micro-batch pays one map-side
  * `array_intersect` against the frozen literal (the batch scorer's
  * form below `ContaminationLiteralMax`), flagged rows append to a
  * sink, and a keyless [[Additive]] holds (docs seen, docs flagged).
  * `currentFlags`/`currentScores` read the sink through the batch
  * operators' column tail, so stream == batch over any split.
  */
class StreamingContamination private (evalHashes: Array[Long], sinkPath: String,
                                      tally: Additive) extends Serializable {

  def this(evalHashes: Array[Long], sinkPath: String) =
    this(evalHashes, sinkPath, new Additive())

  /** Score one micro-batch of corpus documents (doc_id, text, ...). */
  def mergeBatch(s: SparkSession, batch: DataFrame): Unit = {
    val sh = shingleHashes(col("text"), TextAnalysis.ContaminationShingleN)
    val scored = batch.select(col("doc_id"),
        size(sh).cast("long").as("n_shingles"),
        size(array_intersect(sh, typedLit(evalHashes))).cast("long").as("n_hit"))
      .localCheckpoint()
    scored.filter(col("n_hit") > 0).write.mode("append").parquet(s"$sinkPath/flagged")
    tally.merge(scored.agg(count(lit(1)).as("seen"),
      sum(when(col("n_hit") > 0, 1L).otherwise(0L)).as("flagged")))
  }

  /** Live (docs seen, docs flagged) — the leak-rate counters. */
  def counts: (Long, Long) =
    tally.rows.headOption.fold((0L, 0L))(r => (r.getLong(0), r.getLong(1)))

  /** Contaminated doc ids — identical to the batch `contamination`
    * output over the accumulated documents.
    */
  def currentFlags(s: SparkSession): DataFrame =
    s.read.parquet(s"$sinkPath/flagged")
      .select("doc_id").distinct().orderBy("doc_id")

  /** Per-doc contamination scores — identical columns and values to
    * the batch `contaminationScore` tail (the same floor-shift).
    */
  def currentScores(s: SparkSession): DataFrame =
    s.read.parquet(s"$sinkPath/flagged")
      .withColumn("overlap",
        floor(col("n_hit") * lit(10000.0) / col("n_shingles") + lit(0.5)) / 10000.0)
      .orderBy("doc_id")

  /** Persist the counters and the frozen eval set. */
  def snapshot(s: SparkSession, path: String): Unit = {
    tally.snapshot(s, s"$path/counts")
    import s.implicits._
    evalHashes.toSeq.toDF("h")
      .write.mode("overwrite").parquet(s"$path/eval")
  }
}

object StreamingContamination {
  /** Build a monitor with the eval set frozen from the batch
    * operator's held-out slice of `dir`.
    */
  def forDir(s: SparkSession, dir: String, sinkPath: String): StreamingContamination = {
    val hashes = graft.Tables.documents(s, dir)
      .filter(col("doc_id") < TextAnalysis.ContaminationEvalDocs)
      .select(explode(shingleHashes(col("text"),
        TextAnalysis.ContaminationShingleN)).as("h"))
      .distinct().collect().map(_.getLong(0)).sorted
    new StreamingContamination(hashes, sinkPath)
  }

  /** Rebuild from a [[StreamingContamination.snapshot]]. */
  def restore(s: SparkSession, path: String, sinkPath: String): StreamingContamination =
    new StreamingContamination(
      s.read.parquet(s"$path/eval").collect().map(_.getLong(0)).sorted,
      sinkPath, Additive.restore(s, s"$path/counts"))
}
