package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.datasketches.hll.{HllSketch, Union}
import graft.operators.CorpusCuration

/** Bounded-state streaming corpus card — the live twin of
  * `operators.CorpusCuration.corpusCard` that trades ONLY the dup
  * column for bounded state. Exact dup counting needs the content-hash
  * set, O(distinct docs); here an [[Additive]] holds exact per (source,
  * language) counters and one DataSketches HLL sketch per group (merged
  * by UNION, associative) estimates distinct docs — O(sources ×
  * languages × sketch). Below ~2^lgK distinct docs per group the sketch
  * is in sparse/set mode and the whole card is exact; beyond it the dup
  * column carries HLL's ~1.6% (lgK=12) relative error. The per-batch
  * grouped agg is checkpointed so the counters and sketches read it once.
  */
class StreamingCorpusCardApprox private (counts: Additive) extends Serializable {

  def this() = this(new Additive("source", "pred"))

  // (source, pred) -> serialized HLL sketch of content hashes
  private val sketches =
    scala.collection.mutable.HashMap.empty[(String, String), Array[Byte]]

  private def unionBytes(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val u = new Union(StreamingCorpusCardApprox.LgK)
    u.update(HllSketch.heapify(a))
    u.update(HllSketch.heapify(b))
    u.getResult.toCompactByteArray
  }

  /** Merge one micro-batch of documents ((source, text) columns). */
  def mergeBatch(docs: DataFrame): Unit = {
    val g = CorpusCuration.cardGroupedApprox(docs).localCheckpoint()
    counts.merge(g.drop("hsk"))
    val batch = g.select("source", "pred", "hsk").collect()
    this.synchronized {
      batch.foreach { r =>
        val k = (r.getString(0), r.getString(1))
        val sk = r.getAs[Array[Byte]](2)
        sketches.update(k,
          sketches.get(k).map(unionBytes(_, sk)).getOrElse(sk))
      }
    }
  }

  /** Per-source distinct-doc estimates: union the per-language
    * sketches (hash sets are disjoint across languages only by
    * accident — union is correct either way), round to the nearest
    * count.
    */
  private def estimates: Seq[(String, Long)] = this.synchronized {
    sketches.toSeq.groupBy(_._1._1).map { case (src, ss) =>
      val u = new Union(StreamingCorpusCardApprox.LgK)
      ss.foreach { case (_, b) => u.update(HllSketch.heapify(b)) }
      (src, math.round(u.getResult.getEstimate))
    }.toSeq
  }

  /** Current card — identical columns to the batch card; every value
    * except `n_exact_dups` is exact, and that one is exact too while
    * the per-source sketch is still in sparse/set mode.
    */
  def current(s: SparkSession): DataFrame = {
    import s.implicits._
    CorpusCuration.cardFromApproxGrouped(counts.state(s),
      estimates.toDF("source", "n_distinct"))
  }

  /** Persist counters + sketches — the exact (bounded) sufficient
    * statistic, so restore + remaining batches == an uninterrupted
    * run (sketch union is associative).
    */
  def snapshot(s: SparkSession, path: String): Unit = {
    counts.snapshot(s, s"$path/counts")
    import s.implicits._
    this.synchronized {
      sketches.toSeq.map { case ((src, pred), b) => (src, pred, b) }
    }.toDF("source", "pred", "hsk")
      .write.mode("overwrite").parquet(s"$path/sketches")
  }
}

object StreamingCorpusCardApprox {
  /** Spark's `hll_sketch_agg` default lgConfigK — the union target
    * must not downgrade the per-batch sketches' precision.
    */
  val LgK = 12

  /** Rebuild a monitor from a [[StreamingCorpusCardApprox.snapshot]]. */
  def restore(s: SparkSession, path: String): StreamingCorpusCardApprox = {
    val m = new StreamingCorpusCardApprox(
      Additive.restore(s, s"$path/counts", "source", "pred"))
    s.read.parquet(s"$path/sketches").collect().foreach { r =>
      m.sketches.update((r.getString(0), r.getString(1)), r.getAs[Array[Byte]](2))
    }
    m
  }
}
