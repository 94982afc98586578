package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{Bm25Index, IndexVersions, PhraseIndex, PqIndex, Snapshots}
import graft.operators.Similarity

/** Versioned index reads (SURVEY §2 #198): an index is an artifact
  * too — a training run that pins corpus version v must pin the index
  * state that matches it. `searchAt(v)` must reproduce the ranking as
  * of v through later appends and deletes: the append==rebuild
  * property, time-indexed.
  */
class IndexVersionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.Sf

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def norm(p: String) =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  test("bm25: searchAt(v) == a fresh build of v's corpus state, through append and delete") {
    val root = tmp("graft_bm25v")
    val v1only = tmp("graft_bm25v1")
    val docs = Tables.documents(spark, sf)
    Bm25Index.materializeWhere(spark, sf, pmod(col("doc_id"), lit(3)) =!= 2, root)
    val v1 = Bm25Index.commitVersion(spark, root)
    Bm25Index.append(spark, root, docs.filter(pmod(col("doc_id"), lit(3)) === 2))
    val v2 = Bm25Index.commitVersion(spark, root)
    // the time-indexed append==rebuild property
    Bm25Index.materializeWhere(spark, sf, pmod(col("doc_id"), lit(3)) =!= 2, v1only)
    assert(Bm25Index.searchAt(spark, root, v1).collect().toSeq ===
      Bm25Index.searchRoot(spark, v1only).collect().toSeq,
      "query at v1 after the append == query on the v1-only build")
    val wantV2 = Bm25Index.searchRoot(spark, root).collect().toSeq
    assert(Bm25Index.searchAt(spark, root, v2).collect().toSeq === wantV2,
      "query at v2 == the live view (no tombstones yet)")
    // a later delete lands in v3; v2 stays pinned pre-delete
    val victim = wantV2.head.getLong(0)
    Bm25Index.delete(spark, root, Seq(victim))
    val v3 = Bm25Index.commitVersion(spark, root)
    assert(Bm25Index.searchAt(spark, root, v2).collect().toSeq === wantV2,
      "v2's ranking must not move under the later delete")
    assert(Bm25Index.searchAt(spark, root, v3).collect().toSeq ===
      Bm25Index.searchRoot(spark, root).collect().toSeq,
      "v3 == the live tombstoned view")
    assert(!Bm25Index.searchAt(spark, root, v3).collect()
      .exists(_.getLong(0) == victim), "the delete is visible at v3")
    // artifact-served, version-scoped: the pinned scan reads only the
    // files of the role versions v1 pins
    val pins = IndexVersions.pins(spark, root, v1)
    val used = Bm25Index.searchAt(spark, root, v1).inputFiles.map(norm).toSet
    val manifest = Seq("postings", "doclens").flatMap(r =>
      Snapshots.readManifest(spark, s"$root/$r", pins(r))).map(norm).toSet
    assert(used.nonEmpty && used.subsetOf(manifest),
      "the pinned query must plan over v1's manifest files alone")
    // shard pruning survives the pin: the term filter's shard set
    // prunes the pinned postings version's files on its manifest stats
    assert(IndexRoles.prunes(Bm25Index.searchAt(spark, root, v1), "postings"),
      "query terms should prune the pinned version's postings shards")
  }

  test("phrase: searchAt(v) == a fresh build of v's corpus state") {
    val root = tmp("graft_phrv")
    val v1only = tmp("graft_phrv1")
    val docs = Tables.documents(spark, sf)
    PhraseIndex.materializeWhere(spark, sf, pmod(col("doc_id"), lit(5)) =!= 0, root)
    val v1 = PhraseIndex.commitVersion(spark, root)
    PhraseIndex.append(spark, root, docs.filter(pmod(col("doc_id"), lit(5)) === 0))
    val v2 = PhraseIndex.commitVersion(spark, root)
    PhraseIndex.materializeWhere(spark, sf, pmod(col("doc_id"), lit(5)) =!= 0, v1only)
    assert(PhraseIndex.searchAt(spark, root, v1).collect().toSeq ===
      PhraseIndex.searchRoot(spark, v1only).collect().toSeq,
      "phrase query at v1 after the append == the v1-only build")
    val wantV2 = PhraseIndex.searchRoot(spark, root).collect().toSeq
    assert(PhraseIndex.searchAt(spark, root, v2).collect().toSeq === wantV2)
    // r12: the phrase index gained the delete verb — a later tombstone
    // lands in v3, v2 stays pinned pre-delete (the Bm25 contract)
    val victim = wantV2.head.getLong(0)
    PhraseIndex.delete(spark, root, Seq(victim))
    val v3 = PhraseIndex.commitVersion(spark, root)
    assert(PhraseIndex.searchAt(spark, root, v2).collect().toSeq === wantV2,
      "v2's phrase ranking must not move under the later delete")
    assert(!PhraseIndex.searchAt(spark, root, v3).collect()
      .exists(_.getLong(0) == victim), "the delete is visible at v3")
    assert(PhraseIndex.searchAt(spark, root, v3).collect().toSeq ===
      PhraseIndex.searchRoot(spark, root).collect().toSeq,
      "v3 == the live tombstoned view")
  }

  test("bm25: pinned versions survive compact; expire reclaims the replaced files") {
    // append() implicitly compacts when the batch overlaps tombstones,
    // rewriting postings+doclens and the tombstones. Each role is a
    // Snapshots table, so the compaction commits NEW role versions and
    // the files earlier index versions pin stay readable; expire() is
    // the only thing that reclaims them.
    val root = tmp("graft_bm25ret")
    val docs = Tables.documents(spark, sf)
    Bm25Index.materializeWhere(spark, sf, pmod(col("doc_id"), lit(3)) =!= 2, root)
    val v1 = Bm25Index.commitVersion(spark, root)
    val wantV1 = Bm25Index.searchAt(spark, root, v1).collect().toSeq
    val victim = wantV1.head.getLong(0)
    Bm25Index.delete(spark, root, Seq(victim))
    val v2 = Bm25Index.commitVersion(spark, root)
    val wantV2 = Bm25Index.searchAt(spark, root, v2).collect().toSeq
    assert(!wantV2.exists(_.getLong(0) == victim), "fixture: delete visible at v2")
    def files(v: Int) = {
      val pins = IndexVersions.pins(spark, root, v)
      pins.toSeq.flatMap { case (r, pv) => Snapshots.readManifest(spark, s"$root/$r", pv) }.toSet
    }
    val pinnedBefore = files(v1) ++ files(v2)
    // re-add the victim: overlaps the tombstone set -> append compacts
    Bm25Index.append(spark, root, docs.filter(col("doc_id") === victim))
    // the pins: v1's ranking (pre-delete) and v2's (post-delete) both
    // reproduce exactly from the role versions they pin
    assert(Bm25Index.searchAt(spark, root, v1).collect().toSeq === wantV1,
      "v1's pinned ranking must survive the implicit compact")
    assert(Bm25Index.searchAt(spark, root, v2).collect().toSeq === wantV2,
      "v2 must still see its tombstoned view")
    // the live view sees the victim resurrected (FAISS remove+add)
    val v3 = Bm25Index.commitVersion(spark, root)
    val live = Bm25Index.searchRoot(spark, root).collect().toSeq
    assert(Bm25Index.searchAt(spark, root, v3).collect().toSeq === live)
    val replaced = pinnedBefore -- files(v3)
    assert(replaced.nonEmpty, "fixture: the compaction replaced pinned files")
    // expire everything below v3: v1/v2 fail fast, the files only they
    // read are reclaimed, v3 is untouched
    IndexVersions.expire(spark, root, retainMin = v3)
    intercept[IllegalArgumentException] {
      Bm25Index.searchAt(spark, root, v1)
    }
    val left = replaced.filter(f => new java.io.File(new java.net.URI(f)).exists)
    assert(left.isEmpty, s"expire must reclaim the replaced files, ${left.size} left")
    assert(Bm25Index.searchAt(spark, root, v3).collect().toSeq === live,
      "the surviving version is untouched by expire")
  }

  test("pq: searchAt(v) pins codes+sidecar+tombstones; deletes stay version-scoped") {
    import spark.implicits._
    val root = tmp("graft_pqv")
    PqIndex.materializeWhere(spark, sf, pmod(col("vec_id"), lit(7)) =!= 0, root)
    val v1 = PqIndex.commitVersion(spark, root)
    PqIndex.append(spark, root,
      Similarity.normed(spark, sf).filter(pmod(col("vec_id"), lit(7)) === 0))
    val v2 = PqIndex.commitVersion(spark, root)
    val v1onlyWant = {
      val r = tmp("graft_pqv1")
      PqIndex.materializeWhere(spark, sf, pmod(col("vec_id"), lit(7)) =!= 0, r)
      PqIndex.searchRoot(spark, sf, r).collect().toSeq
    }
    assert(PqIndex.searchAt(spark, sf, root, v1).collect().toSeq === v1onlyWant,
      "neighbors at v1 after the append == the v1-only build")
    val wantV2 = PqIndex.searchRoot(spark, sf, root).collect().toSeq
    assert(PqIndex.searchAt(spark, sf, root, v2).collect().toSeq === wantV2)
    // tombstone a returned neighbor; v2 pinned pre-delete, v3 sees it
    val victim = wantV2.map(_.getAs[Long]("neighbor_id")).head
    PqIndex.delete(spark, root, Seq(victim))
    val v3 = PqIndex.commitVersion(spark, root)
    assert(PqIndex.searchAt(spark, sf, root, v2).collect().toSeq === wantV2,
      "a pinned run's neighbor sets must not move under a later delete")
    assert(!PqIndex.searchAt(spark, sf, root, v3).collect()
      .exists(_.getAs[Long]("neighbor_id") == victim),
      "the delete is visible at v3")
  }
}
