package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.functions.TextFunctions._
import graft.operators.Dedup
import graft.plans.ArrayOps

case class BandedDoc(bucket: String, doc_id: Long, sh: Array[Long])
case class BucketState(docs: List[(Long, Array[Long])])
case class NearDupPair(doc_a: Long, doc_b: Long, jaccard: Double)

/** Streaming MinHash-LSH near-duplicate detection (SURVEY §7 round-2):
  * documents stream in, are banded by their minhash signatures, and each
  * band bucket keeps a bounded window of recent members as state — a new
  * arrival is exact-Jaccard-verified against its bucket mates and
  * duplicate pairs are emitted immediately.
  *
  * State is bounded: `MaxBucketDocs` members per bucket (oldest evicted
  * first — near-dups usually arrive near each other in crawl order),
  * so total state ≈ buckets × M × shingle-set size regardless of stream
  * length. The batch twin (operators.Dedup.minhashLsh) is the
  * exact-verified reference up to its stop-shingle cap: the stream counts
  * every shared shingle, while the batch drops shingles in more than
  * `Dedup.MaxShingleDf` documents from the intersection, so the two agree
  * only where no candidate pair shares such a shingle (true at every
  * shipped SF, whose max df is 25). The stream also trades the eviction
  * horizon for unboundedness.
  */
object StreamingDedup {

  val MaxBucketDocs = 32

  /** Documents (doc_id, text) → banded stream keyed by (band, signature
    * bucket), carrying the distinct shingle-hash set for verification.
    */
  def banded(docs: DataFrame): Dataset[BandedDoc] = {
    import docs.sparkSession.implicits._
    val sh = shingleHashes(col("text"), Dedup.ShingleN)
    val sigs = docs
      .select(col("doc_id"), sh.as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("mh", ArrayOps.minhashSig(col("sh"), Dedup.MinhashA, Dedup.MinhashB, Dedup.P))
    val bandKeys = (0 until Dedup.Bands).map { bi =>
      concat_ws(":", (lit(bi) +:
        (bi * Dedup.R until bi * Dedup.R + Dedup.R).map(j => col("mh").getItem(j))): _*)
    }
    sigs.select(col("doc_id"), col("sh"), explode(array(bandKeys: _*)).as("bucket"))
      .select(col("bucket"), col("doc_id"), col("sh"))
      .as[BandedDoc]
  }

  /** Stateful bucket matcher: emits each verified near-dup pair once per
    * bucket (global emission may repeat a pair across bands — dedupe
    * downstream if exact-once pairs are required, as the batch twin's
    * `distinct()` does).
    */
  def nearDupPairs(bandedDocs: Dataset[BandedDoc],
                   threshold: Double = Dedup.MinhashJaccardT): Dataset[NearDupPair] = {
    import bandedDocs.sparkSession.implicits._
    bandedDocs
      .groupByKey(_.bucket)
      .flatMapGroupsWithState[BucketState, NearDupPair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, it: Iterator[BandedDoc], state: GroupState[BucketState]) =>
          var members = state.getOption.map(_.docs).getOrElse(Nil)
          val out = Seq.newBuilder[NearDupPair]
          it.toSeq.sortBy(_.doc_id).foreach { d =>
            val dSet = d.sh.toSet
            members.foreach { case (otherId, otherSh) =>
              if (otherId != d.doc_id) {
                val inter = otherSh.count(dSet.contains)
                val j = inter.toDouble / (otherSh.length + d.sh.length - inter)
                if (j >= threshold)
                  out += NearDupPair(math.min(otherId, d.doc_id),
                    math.max(otherId, d.doc_id),
                    math.floor(j * 10000 + 0.5) / 10000)
              }
            }
            members = ((d.doc_id, d.sh) :: members).take(MaxBucketDocs)
          }
          state.update(BucketState(members))
          out.result().iterator
      }
  }
}
