package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** Skew evidence for the dedup band-join family (SURVEY §7 round-2
  * item 1): a real crawl has hot band keys — a template flood or
  * mirror set collapses a visible corpus fraction into ONE band
  * signature, and the plain bucket self-join then computes that
  * bucket's Θ(m²) pair fan-out in the single task owning the key
  * (AQE can't rescue it: the exchange is pinned/user-REPARTITION and
  * byte-based skew detection misses a tiny-input quadratic-output
  * bucket). `saltedBandSelfJoin` enumerates hot buckets as a salt
  * triangle instead; these specs pin (a) EXACT pair-set preservation
  * incl. payload swap, (b) the bounded-task property via
  * per-enumeration-partition pair counts on a planted hot key, (c)
  * the end-to-end wiring through minhash and simhash on a
  * 20%-identical corpus, and (d) the 1-in-16 sampled detection
  * flagging a runaway bucket.
  */
class DedupSkewSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Local reference: every unordered pair within each (band, key)
    * bucket — the plain self-join's contract.
    */
  private def refPairs(rows: Seq[(Long, Int, String)]): Set[(Long, Long)] =
    rows.groupBy(r => (r._2, r._3)).valuesIterator.flatMap { b =>
      val ids = b.map(_._1)
      for (a <- ids; c <- ids if a < c) yield (a, c)
    }.toSet

  test("salt triangle emits exactly the plain join's pair set (hot + cold mix)") {
    import spark.implicits._
    // one hot bucket (100 docs on band 0 key "H"), two cold buckets,
    // plus a doc in BOTH a hot and a cold bucket (cross-membership)
    val rows = (0L until 100L).map(i => (i, 0, "H")) ++
      Seq((200L, 1, "c1"), (201L, 1, "c1"), (202L, 1, "c1"),
        (300L, 0, "c2"), (301L, 0, "c2"), (5L, 1, "c1"))
    val banded = rows.toDF("doc_id", "band_id", "key")
    // sampleMod 1 = exact sizes: deterministic engagement
    val got = Dedup.saltedBandSelfJoin(spark, banded, "key", None,
        hotBucketCap = 8L, sampleMod = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.size === got.distinct.size,
      "salt cells must not deliver duplicate pairs")
    assert(got.toSet === refPairs(rows))
  }

  test("payload columns swap alongside least/greatest ordering") {
    import spark.implicits._
    // payload = doc_id * 10 so the expected payload of each side is
    // derivable from the pair itself; hot bucket forces salted cells
    // where the x/y orientation is salt-dependent
    val rows = (0L until 30L).map(i => (i, 0, "H", i * 10))
    val banded = rows.toDF("doc_id", "band_id", "key", "pay")
    val got = Dedup.saltedBandSelfJoin(spark, banded, "key", Some("pay"),
        hotBucketCap = 5L, sampleMod = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length === 30 * 29 / 2)
    assert(got.forall { case (a, b, pa, pb) => pa === a * 10 && pb === b * 10 },
      "payload must follow its doc through the least/greatest swap")
  }

  test("planted hot key: salted max task output is a fraction of the plain join's") {
    import spark.implicits._
    // 20% of a 500-doc corpus in ONE band bucket -> 4950 pairs; the
    // plain join emits them all from the single task owning the key,
    // the salted triangle spreads them over S(S+1)/2 cells
    val rows = (0L until 100L).map(i => (i, 0, "H")) ++
      (100L until 500L).map(i => (i, 0, s"u$i"))
    val banded = rows.toDF("doc_id", "band_id", "key")

    // pairs produced per JOIN task, read off the frame itself: tag each
    // pair with its producing partition before any further shuffle (a
    // listener's max-task shuffle-write would also see the map-side
    // explode/repartition writes, which are data-linear and not the
    // quadratic stage under test)
    def measure(cap: Long): Long =
      Dedup.saltedBandSelfJoin(spark, banded, "key", None, hotBucketCap = cap, sampleMod = 1L)
        .withColumn("pid", spark_partition_id())
        .groupBy("pid").count().agg(max("count"))
        .collect()(0).getLong(0)
    val plainMax = measure(1000000L) // cap never engages: plain join
    val saltedMax = measure(8L)      // S = 13 slices, 91 cells
    // ideal = every join partition carries an equal share of the 4950
    // hot pairs (the cold keys are all singletons — zero pairs); the
    // test session runs 4 shuffle partitions, so plain concentrates
    // 100% in one task while salted should sit near total/nPart
    val nPart = spark.sessionState.conf.numShufflePartitions
    val ideal = 4950.0 / nPart
    info(s"max per-task pair records: plain=$plainMax salted=$saltedMax " +
      s"(nPart=$nPart, ideal=$ideal)")
    assert(plainMax >= 4950L,
      "the plain join must concentrate the hot bucket in one task (else the fixture is broken)")
    assert(saltedMax <= (2.0 * ideal).toLong,
      s"salting must spread the hot bucket near-evenly: salted=$saltedMax vs ideal=$ideal")
  }

  test("end-to-end: minhash and simhash pair outputs unchanged when the cap engages") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_skew").toString
    // 40 identical docs (every band bucket of theirs is hot) + 160
    // unique docs with disjoint vocabulary
    val hotText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = (0 until 40).map(i => (i.toLong, hotText)) ++
      (40 until 200).map(i =>
        (i.toLong, s"u$i w${i * 3} w${i * 3 + 1} w${i * 3 + 2} q$i r$i s$i"))
    docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    try {
      val mhPlainDf = Dedup.minhashLsh(spark, dir, hotBucketCap = 1000000L, sampleMod = 1L)
      val mhPlain = pairSet(mhPlainDf)
      val shPlain = pairSet(Dedup.simhash(spark, dir, hotBucketCap = 1000000L, sampleMod = 1L))
      val mhSaltedDf = Dedup.minhashLsh(spark, dir, hotBucketCap = 8L, sampleMod = 1L)
      // the caps key the memoized pair frame: the salted call builds its
      // own frame instead of being served the plain one
      assert(!mhSaltedDf.queryExecution.analyzed
        .sameResult(mhPlainDf.queryExecution.analyzed),
        "a different cap must not be served the frame built with the first caps")
      val mhSalted = pairSet(mhSaltedDf)
      val shSalted = pairSet(Dedup.simhash(spark, dir, hotBucketCap = 8L, sampleMod = 1L))
      // the 40 identical docs must all pair up (J = 1, hamming = 0) —
      // proves the hot path produced them, not just the cold one
      val expectHot = (for (a <- 0L until 40L; b <- (a + 1) until 40L)
        yield (a, b)).toSet
      assert(expectHot.subsetOf(mhSalted), "identical-doc pairs missing from salted minhash")
      assert(expectHot.subsetOf(shSalted), "identical-doc pairs missing from salted simhash")
      assert(mhSalted === mhPlain, "minhash pair set changed under salting")
      assert(shSalted === shPlain, "simhash pair set changed under salting")
    } finally graft.plans.Memo.release(spark, dir)
  }

  test("sampled detection flags a runaway bucket and still bounds the spread") {
    import spark.implicits._
    // production-shaped detection: 1-in-16 sampling must flag a
    // 2000-doc bucket (est ≈ 2000 ≫ cap/2) and the triangle must
    // spread its ~2M pairs; pair-set equality is hash-independent so
    // only the spread needs asserting here (equality is pinned above)
    val rows = (0L until 2000L).map(i => (i, 0, "H")) ++
      (2000L until 2400L).map(i => (i, 0, s"u$i"))
    val banded = rows.toDF("doc_id", "band_id", "key")
    val dist = Dedup.saltedBandSelfJoin(spark, banded, "key", None,
        hotBucketCap = 64L, sampleMod = 16L)
      .withColumn("pid", spark_partition_id())
      .groupBy("pid").count().collect().map(_.getLong(1))
    val total = 2000L * 1999L / 2
    assert(dist.sum === total, "pair count must be exactly the bucket's choose-2")
    val nPart = spark.sessionState.conf.numShufflePartitions
    val ideal = total.toDouble / nPart
    info(s"sampled-detection spread: max=${dist.max} ideal=$ideal over ${dist.length} partitions")
    assert(dist.max <= (2.0 * ideal).toLong,
      s"sampled detection must still spread the bucket: max=${dist.max} vs ideal=$ideal")
  }
}
