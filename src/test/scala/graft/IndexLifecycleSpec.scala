package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{Bm25Index, GraphIndex, PhraseIndex, PqIndex, Snapshots}
import graft.operators.Similarity

/** Standing-index lifecycle safety. Every role under an index root is
  * a Snapshots table, so the manifest claim is the only commit point:
  *   - a compaction crashed at ANY claim (each tree's, then the
  *     tombstones') leaves an index the read path serves unchanged —
  *     the ids stay tombstoned until the last claim drops them;
  *   - a delete that lands while a compaction runs stays deleted;
  *   - re-adding a deleted id resurrects it with no duplicate rows
  *     (FAISS `remove_ids` + `add` semantics: tombstone overlap
  *     triggers a physical compact before the fresh append).
  */
class IndexLifecycleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.Sf

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Arm the commit seam to throw at the k-th claim, then disarm. */
  private def crashAt(k: Int): Unit = {
    var n = 0
    Snapshots.commitHook = () => {
      n += 1
      if (n == k) {
        Snapshots.commitHook = () => ()
        throw new RuntimeException(s"injected crash at claim $k")
      }
    }
  }

  /** For each claim k of a compaction: tombstone fresh `victims`, crash
    * the compaction at claim k, and check that search serves the same
    * live set, that a follow-up compact converges to it, and that the
    * converged compact clears the tombstones.
    */
  private def crashEveryClaim(name: String, claims: Int, root: String, key: String,
                              victims: => Seq[Long], delete: Seq[Long] => Unit,
                              search: => Seq[Row], compact: => Unit): Unit =
    for (k <- 1 to claims) {
      val ids = victims
      delete(ids)
      val want = search
      crashAt(k)
      try intercept[RuntimeException](compact)
      finally Snapshots.commitHook = () => ()
      assert(search === want, s"$name: search must survive a crash at claim $k")
      compact
      assert(search === want, s"$name: a follow-up compact converges after claim $k")
      assert(IndexRoles.tombstoned(root, key).isEmpty,
        s"$name: the converged compact clears the tombstones")
    }

  private def docsMod(m: Int, r: Int) =
    Tables.documents(spark, sf).filter(pmod(col("doc_id"), lit(m)) === r)

  test("bm25 compaction survives a crash at every claim") {
    val root = tmp("graft_bm25crash")
    Bm25Index.materializeWhere(spark, sf, lit(true), root)
    def search = Bm25Index.searchRoot(spark, root).collect().toSeq
    // claims: postings, doclens, tombstones
    crashEveryClaim("bm25", 3, root, "doc_id", search.map(_.getLong(0)).take(2),
      Bm25Index.delete(spark, root, _), search, Bm25Index.compact(spark, root))
  }

  test("pq and graph and phrase compaction survive a crash at every claim") {
    locally {
      val root = tmp("graft_pqcrash")
      PqIndex.materializeWhere(spark, sf, lit(true), root)
      def search = PqIndex.searchRoot(spark, sf, root).collect().toSeq
      crashEveryClaim("pq", 2, root, "neighbor_id",
        search.map(_.getAs[Long]("neighbor_id")).take(1),
        PqIndex.delete(spark, root, _), search, PqIndex.compact(spark, root))
    }
    locally {
      val root = tmp("graft_gicrash")
      GraphIndex.materializeWhere(spark, sf, lit(true), root)
      def search = GraphIndex.searchRoot(spark, sf, root).collect().toSeq
      crashEveryClaim("graph", 2, root, "neighbor_id",
        search.map(_.getAs[Long]("neighbor_id")).take(1),
        GraphIndex.delete(spark, root, _), search, GraphIndex.compact(spark, root))
    }
    locally {
      val root = tmp("graft_phrcrash")
      PhraseIndex.materializeWhere(spark, sf, lit(true), root)
      def search = PhraseIndex.searchRoot(spark, root).collect().toSeq
      crashEveryClaim("phrase", 3, root, "doc_id", search.map(_.getLong(0)).take(1),
        PhraseIndex.delete(spark, root, _), search, PhraseIndex.compact(spark, root))
    }
  }

  test("append after a crashed compaction serves the fresh-build ranking") {
    // the first post-crash operation is an append, not a read: the
    // trees the crashed compaction already claimed dropped the victims,
    // the tombstones still hold them, and the append lands on both
    val root = tmp("graft_bm25crashapp")
    val ref = tmp("graft_bm25crashref")
    Bm25Index.materializeWhere(spark, sf, pmod(col("doc_id"), lit(5)) =!= 0, root)
    val victims = Bm25Index.searchRoot(spark, root)
      .collect().map(_.getLong(0)).take(2).toSeq
    Bm25Index.delete(spark, root, victims)
    crashAt(2) // postings claimed, doclens not
    try intercept[RuntimeException] { Bm25Index.compact(spark, root) }
    finally Snapshots.commitHook = () => ()
    Bm25Index.append(spark, root, docsMod(5, 0))
    // reference: a fresh build over (full minus victims)
    Bm25Index.materializeWhere(spark, sf,
      !col("doc_id").isin(victims: _*), ref)
    assert(Bm25Index.searchRoot(spark, root).collect().toSeq ===
      Bm25Index.searchRoot(spark, ref).collect().toSeq,
      "an append onto a crashed compaction ranks as the fresh build")
  }

  test("a delete that lands at any claim of a compaction stays deleted") {
    // the compaction reads the tombstones once and drops exactly those
    // ids — from each tree, then from the tombstones through the commit
    // loop — so a delete committed in between stays in force
    val root = tmp("graft_bm25race")
    Bm25Index.materializeWhere(spark, sf, lit(true), root)
    def ranked = Bm25Index.searchRoot(spark, root).collect().map(_.getLong(0)).toSeq
    for (k <- 1 to 3) {
      val r = ranked
      Bm25Index.delete(spark, root, Seq(r.head))
      val late = r(1)
      var n = 0
      Snapshots.commitHook = () => {
        n += 1
        if (n == k) {
          Snapshots.commitHook = () => ()
          Bm25Index.delete(spark, root, Seq(late))
        }
      }
      try Bm25Index.compact(spark, root)
      finally Snapshots.commitHook = () => ()
      assert(n >= k, s"the compaction must reach claim $k")
      assert(!ranked.contains(late), s"the id deleted at claim $k must stay deleted")
      assert(IndexRoles.tombstoned(root, "doc_id") === Seq(late),
        "the compaction drops exactly the ids it reclaimed from the tombstones")
    }
  }

  test("delete then re-append resurrects the id with no duplicates — all four indexes") {
    import spark.implicits._
    // bm25
    locally {
      val root = tmp("graft_bm25readd")
      Bm25Index.materializeWhere(spark, sf, lit(true), root)
      val original = Bm25Index.searchRoot(spark, root).collect().toSeq
      val victim = original.head.getLong(0)
      Bm25Index.delete(spark, root, Seq(victim))
      assert(!Bm25Index.searchRoot(spark, root).collect()
        .exists(_.getLong(0) == victim))
      Bm25Index.append(spark, root,
        Tables.documents(spark, sf).filter(col("doc_id") === victim))
      assert(Bm25Index.searchRoot(spark, root).collect().toSeq === original,
        "bm25: re-added doc must rank exactly as before the delete")
    }
    // phrase
    locally {
      val root = tmp("graft_phrreadd")
      PhraseIndex.materializeWhere(spark, sf, lit(true), root)
      val original = PhraseIndex.searchRoot(spark, root).collect().toSeq
      val victim = original.head.getLong(0)
      PhraseIndex.delete(spark, root, Seq(victim))
      assert(!PhraseIndex.searchRoot(spark, root).collect()
        .exists(_.getLong(0) == victim))
      PhraseIndex.append(spark, root,
        Tables.documents(spark, sf).filter(col("doc_id") === victim))
      assert(PhraseIndex.searchRoot(spark, root).collect().toSeq === original,
        "phrase: re-added doc must rank exactly as before the delete")
    }
    // pq
    locally {
      val root = tmp("graft_pqreadd")
      PqIndex.materializeWhere(spark, sf, lit(true), root)
      val original = PqIndex.searchRoot(spark, sf, root).collect().toSeq
      val victim = original.map(_.getAs[Long]("neighbor_id")).head
      PqIndex.delete(spark, root, Seq(victim))
      assert(!PqIndex.searchRoot(spark, sf, root).collect()
        .exists(_.getAs[Long]("neighbor_id") == victim))
      PqIndex.append(spark, root,
        Similarity.normed(spark, sf).filter(col("vec_id") === victim))
      assert(PqIndex.searchRoot(spark, sf, root).collect().toSeq === original,
        "pq: re-added vector must score exactly as before the delete")
    }
    // graph
    locally {
      val root = tmp("graft_gireadd")
      GraphIndex.materializeWhere(spark, sf, lit(true), root)
      val original = GraphIndex.searchRoot(spark, sf, root).collect().toSeq
      val victim = original.map(_.getAs[Long]("neighbor_id")).head
      GraphIndex.delete(spark, root, Seq(victim))
      assert(!GraphIndex.searchRoot(spark, sf, root).collect()
        .exists(_.getAs[Long]("neighbor_id") == victim))
      GraphIndex.append(spark, root,
        Similarity.normed(spark, sf).filter(col("vec_id") === victim))
      assert(GraphIndex.searchRoot(spark, sf, root).collect().toSeq === original,
        "graph: re-added vector must score exactly as before the delete")
    }
  }
}

/** Snapshots maintenance safety (round-12 ADVICE items): expire's
  * vacuum must not eat a concurrent append's in-flight files, and
  * appendTxn's exactly-once probe must survive compaction + expiry.
  */
class SnapshotsMaintenanceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.Sf

  private def ids(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq

  test("expire's vacuum spares a young uncommitted append (grace window)") {
    val root = java.nio.file.Files.createTempDirectory("graft_snapgrace").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "source")
    Snapshots.create(spark, root, docs.limit(10))
    // simulate an append that has durably written its data but not yet
    // committed its manifest — the racing-appender window
    val orphan = s"$root/data/binflight"
    docs.limit(5).coalesce(1).write.parquet(orphan)
    Snapshots.expire(spark, root, retainMin = 1)
    assert(new java.io.File(orphan).exists,
      "default grace: an in-flight append's files must survive the vacuum")
    Thread.sleep(20)
    Snapshots.expire(spark, root, retainMin = 1, orphanGraceMs = 0L)
    assert(!new java.io.File(orphan).exists,
      "an aged orphan (crashed half-write) is reclaimed once past the grace")
  }

  test("data skipping: manifest stats prune exactly the provably-dead files, never results") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    import Snapshots.StatsPred._
    val root = java.nio.file.Files.createTempDirectory("graft_snapskip").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "source")
    val ranged = docs.repartitionByRange(8, col("doc_id"))
    Snapshots.create(spark, root, ranged)
    // a second commit so pruning spans append-carried stats too
    Snapshots.append(spark, root,
      docs.withColumn("doc_id", col("doc_id") + lit(Snapshots.MergeInsertOffset))
        .repartitionByRange(4, col("doc_id")))
    val v = Snapshots.latestVersion(spark, root)
    val all = Snapshots.read(spark, root, v)
    val cut = Snapshots.MergeInsertOffset // keeps exactly the appended half
    val preds = Seq(GtEq("doc_id", cut))
    val pruned = Snapshots.readWhere(spark, root, v, preds)
    // results identical to the unpruned filtered read
    assert(ids(pruned) === ids(all.filter(col("doc_id") >= cut)),
      "skipping must never change results")
    // the scan plans over a strict subset of the version's files...
    val planned = pruned.inputFiles.toSet
    val full = all.inputFiles.toSet
    assert(planned.nonEmpty && planned.subsetOf(full) && planned.size < full.size,
      s"stats must prune files: planned ${planned.size} of ${full.size}")
    // ...and every file it dropped is PROVABLY dead for the predicate
    val dropped = full -- planned
    assert(dropped.nonEmpty)
    val deadRows = spark.read.parquet(dropped.toSeq: _*)
      .filter(col("doc_id") >= cut).count()
    assert(deadRows === 0, "a pruned file must contain no qualifying rows")
    // string stats prune too (source is ASCII): an impossible literal
    // prunes everything, and the result is still exact (empty)
    val none = Snapshots.readWhere(spark, root, v, Seq(Gt("source", "zzzz")))
    assert(none.count() === 0 && none.inputFiles.isEmpty,
      "an out-of-range string predicate prunes every file")
    // a column with no usable stats never prunes — and the filter
    // still applies, so results stay exact
    import spark.implicits._
    val boolRoot = java.nio.file.Files.createTempDirectory("graft_snapbool").toString
    Snapshots.create(spark, boolRoot,
      Seq((1L, true), (2L, false)).toDF("k", "flag"))
    val flagged = Snapshots.readWhere(spark, boolRoot, 1, Seq(Eq("flag", true)))
    assert(flagged.count() === 1, "no-stats columns filter exactly, prune nothing")
    // conjunctions intersect: a narrow doc_id band prunes down to the
    // band's files and returns exactly the band
    val bandLo = Snapshots.MergeInsertOffset + 10
    val band = Snapshots.readWhere(spark, root, v,
      Seq(GtEq("doc_id", bandLo), LtEq("doc_id", bandLo + 100)))
    assert(ids(band) === ids(all.filter(
      col("doc_id") >= bandLo && col("doc_id") <= bandLo + 100)))
    assert(band.inputFiles.length <= planned.size)
  }

  test("versioned merge: keep-last upsert, batch beats standing on ties, concurrent merges both land") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val root = java.nio.file.Files.createTempDirectory("graft_snapmrg").toString
    // deterministic slice (limit() may pick different rows per action);
    // modulus coprime to the %3 update classes below
    val docs = Tables.documents(spark, sf).select("doc_id", "source")
      .filter(col("doc_id") % 4 === 0).withColumn("rev", lit(1L))
    Snapshots.create(spark, root, docs)
    val baseIds = ids(Snapshots.read(spark, root, 1))
    // tie case: same key, same rev — the BATCH row must win (its
    // source marker replaces the standing one)
    val tieKey = baseIds.head
    val tie = docs.filter(col("doc_id") === tieKey)
      .withColumn("source", lit("tie_winner"))
    val v2 = Snapshots.merge(spark, root, tie, Seq("doc_id"), "rev")
    val afterTie = Snapshots.read(spark, root, v2)
    assert(afterTie.filter(col("doc_id") === tieKey)
      .select("source").head().getString(0) === "tie_winner",
      "at equal orderCol the batch row replaces the standing row")
    assert(ids(afterTie) === baseIds, "a tie update neither inserts nor drops")
    // the merge is a DATA rewrite: incremental readers fail fast at it
    intercept[IllegalArgumentException] {
      Snapshots.changesBetween(spark, root, 1, v2)
    }
    // concurrent merges on DISJOINT key sets: the loser recomputes on
    // the winner's output, so both updates land
    val updA = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      .withColumn("rev", lit(2L)).withColumn("source", lit("merge_a"))
    val updB = docs.filter(pmod(col("doc_id"), lit(3)) === 1)
      .withColumn("rev", lit(2L)).withColumn("source", lit("merge_b"))
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val fa = Future(Snapshots.merge(spark, root, updA, Seq("doc_id"), "rev"))
    val fb = Future(Snapshots.merge(spark, root, updB, Seq("doc_id"), "rev"))
    val (va, vb) = (Await.result(fa, 5.minutes), Await.result(fb, 5.minutes))
    assert(Set(va, vb) === Set(v2 + 1, v2 + 2),
      "each concurrent merge claims exactly one version")
    val fin = Snapshots.read(spark, root, math.max(va, vb))
    assert(ids(fin) === baseIds, "disjoint-key updates preserve the key set")
    val bySrc = fin.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("merge_a") === baseIds.count(_ % 3 == 0),
      "every merge_a update survives the race")
    assert(bySrc("merge_b") === baseIds.count(_ % 3 == 1),
      "every merge_b update survives the race")
    // inserts: a re-keyed batch adds rows without touching the rest
    val ins = docs.filter(col("doc_id").isin(baseIds.take(5): _*))
      .withColumn("doc_id", col("doc_id") + lit(Snapshots.MergeInsertOffset))
      .withColumn("rev", lit(3L))
    val v5 = Snapshots.merge(spark, root, ins, Seq("doc_id"), "rev")
    assert(Snapshots.read(spark, root, v5).count() === baseIds.size + 5)
  }

  test("cluster: a layout re-cluster makes stats pruning selective; CDC polls through it") {
    import org.apache.spark.sql.functions.{col, lit}
    import Snapshots.StatsPred._
    val root = java.nio.file.Files.createTempDirectory("graft_snapclu").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "source")
    // ingest arrives UNCLUSTERED (hash-partitioned): every file spans
    // the whole doc_id range, so a range predicate prunes nothing
    Snapshots.create(spark, root, docs.repartition(8, col("source")))
    val cut = docs.agg(org.apache.spark.sql.functions.max(col("doc_id")))
      .head().getLong(0) * 3 / 4
    val preds = Seq(GtEq("doc_id", cut))
    val v1 = Snapshots.latestVersion(spark, root)
    val before = Snapshots.readWhere(spark, root, v1, preds)
    val wantIds = ids(Snapshots.read(spark, root, v1).filter(col("doc_id") >= cut))
    assert(ids(before) === wantIds)
    assert(before.inputFiles.length === Snapshots.read(spark, root, v1).inputFiles.length,
      "unclustered: every file overlaps the predicate range — nothing prunes")
    // one cluster() commit makes the same predicate prune most files
    val v2 = Snapshots.cluster(spark, root, Seq("doc_id"), partitions = 8)
    val after = Snapshots.readWhere(spark, root, v2, preds)
    assert(ids(after) === wantIds, "clustering must never change results")
    val full = Snapshots.read(spark, root, v2).inputFiles.length
    assert(after.inputFiles.length < full,
      s"clustered: the range predicate must prune (${after.inputFiles.length} of $full)")
    // pure layout: the incremental consumer polls through with nothing
    assert(Snapshots.changesBetween(spark, root, v1, v2).count() === 0,
      "cluster is dataChange=false — an empty delta, never a resync")
  }

  test("merge change feed: upsert consumers poll through a merge on the bounded change set") {
    import org.apache.spark.sql.functions.{col, lit}
    val root = java.nio.file.Files.createTempDirectory("graft_snapcdf").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "source")
      .withColumn("rev", lit(1L))
    val base = docs.filter(col("doc_id") % 4 === 0)
    Snapshots.create(spark, root, base)                        // v1
    Snapshots.append(spark, root, docs.filter(col("doc_id") % 4 === 1)) // v2
    val upd = docs.filter(col("doc_id") % 8 === 0)
      .withColumn("rev", lit(2L)).withColumn("source", lit("upd"))
    val ins = docs.filter(col("doc_id") % 4 === 2)
      .withColumn("doc_id", col("doc_id") + lit(Snapshots.MergeInsertOffset))
      .withColumn("rev", lit(2L))
    val v3 = Snapshots.merge(spark, root, upd.unionByName(ins),
      Seq("doc_id"), "rev")                                    // v3 (merge)
    Snapshots.append(spark, root, docs.filter(col("doc_id") % 4 === 3)) // v4
    // the merge step's delta is exactly the touched keys' post-image,
    // and its scan reads ONLY change files — zero corpus I/O
    val mergeDelta = Snapshots.changesBetween(spark, root, 2, v3, upserts = true)
    assert(ids(mergeDelta) === ids(upd.select("doc_id").union(ins.select("doc_id"))),
      "the merge delta is the post-image of exactly the batch's keys")
    assert(mergeDelta.inputFiles.nonEmpty &&
      mergeDelta.inputFiles.forall(_.contains("/changes/")),
      "the upsert delta plans over change files only, never the corpus")
    // an upsert tail folds the whole feed (keyed keep-last on the
    // merge's own order column) into exactly the latest state
    val tail = new Snapshots.SnapshotTail(root, upserts = true)
    val Some((feed, v4)) = tail.poll(spark)
    import org.apache.spark.sql.expressions.Window
    val folded = feed.withColumn("rn",
        org.apache.spark.sql.functions.row_number().over(
          Window.partitionBy("doc_id").orderBy(col("rev").desc)))
      .filter(col("rn") === 1).drop("rn")
    val want = Snapshots.read(spark, root, v4)
    assert(folded.exceptAll(want).isEmpty && want.exceptAll(folded).isEmpty,
      "keyed keep-last over the upsert feed reproduces the latest state")
    // an append-only consumer still fails fast at the merge
    intercept[IllegalArgumentException] {
      Snapshots.changesBetween(spark, root, 2, v3)
    }
    // expire reclaims the change files once no live manifest holds them
    Thread.sleep(25) // ms-resolution modTime vs the zero grace window
    Snapshots.expire(spark, root, retainMin = v3 + 1, orphanGraceMs = 0L)
    val f = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val changesLeft = {
      val p = new org.apache.hadoop.fs.Path(s"$root/changes")
      if (!f.exists(p)) 0 else f.listStatus(p).length
    }
    assert(changesLeft === 0,
      "expired merges' change files are vacuumed with their manifests")
  }

  test("appendTxn replay stays a no-op across compact + expire") {
    val root = java.nio.file.Files.createTempDirectory("graft_snaptxn2").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "source")
    val sliceA = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val sliceB = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    Snapshots.create(spark, root, sliceA)
    val v2 = Snapshots.appendTxn(spark, root, 7L, sliceB)
    val txnFiles = Snapshots.read(spark, root, v2).inputFiles.toSet --
      Snapshots.read(spark, root, 1).inputFiles
    val want = ids(docs)
    // maintenance: compact rewrites the rows into fresh dirs, expire
    // drops the manifests that referenced txn 7's files and reclaims
    // them — the exact sequence that defeated a path-substring probe
    val v3 = Snapshots.compact(spark, root, partitions = 2)
    Thread.sleep(20)
    Snapshots.expire(spark, root, retainMin = v3, orphanGraceMs = 0L)
    assert(txnFiles.nonEmpty && txnFiles.forall(f =>
        !new java.io.File(new java.net.URI(f)).exists),
      "precondition: the txn's data files are physically gone after maintenance")
    // a delayed stream-restart replay of batch 7 must still be a no-op
    val latest = Snapshots.appendTxn(spark, root, 7L, sliceB)
    assert(latest === v3, "the replayed txn must not claim a new version")
    assert(ids(Snapshots.read(spark, root, latest)) === want,
      "the replayed txn must not duplicate its rows")
  }

  test("appendTxn past the manifest memo opens O(1) manifests per batch; a replay stays a no-op") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_snaptxnopen").toString
    def row(i: Long) = Seq((i, "s")).toDF("doc_id", "source")
    Snapshots.create(spark, root, row(0L))
    // more versions than the 64-entry manifest memo holds
    (1L to 70L).foreach(i => Snapshots.appendTxn(spark, root, i, row(i)))
    val latest = Snapshots.latestVersion(spark, root)
    assert(latest === 71)
    val before = Snapshots.manifestOpens.get()
    val v = Snapshots.appendTxn(spark, root, 71L, row(71L))
    val opened = Snapshots.manifestOpens.get() - before
    assert(v === latest + 1)
    assert(opened <= 2,
      s"a new txn resolves the latest manifest only, not the lineage ($opened opens)")
    val b2 = Snapshots.manifestOpens.get()
    assert(Snapshots.appendTxn(spark, root, 35L, row(35L)) === v,
      "a replayed txn claims no version")
    assert(Snapshots.manifestOpens.get() - b2 <= 2,
      "a replay probes the latest manifest only")
    assert(ids(Snapshots.read(spark, root, v)) === (0L to 71L),
      "every txn landed exactly once")
  }

  test("latestVersion lists the manifests O(1) times per commit: a hint plus forward probes") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_snaphint").toString
    def row(i: Long) = Seq((i, "s")).toDF("doc_id", "source")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val hint = new org.apache.hadoop.fs.Path(s"$root/manifests/_latest")
    def setHint(text: String): Unit = {
      val out = fs.create(hint, true)
      try out.write(text.getBytes("UTF-8")) finally out.close()
    }
    def listings(f: => Any): Long = {
      val before = Snapshots.manifestListings.get()
      f
      Snapshots.manifestListings.get() - before
    }
    Snapshots.create(spark, root, row(0L))
    // every commit attempt, txn probe and latest read rides the hint
    assert(listings((1L to 70L).foreach(i => Snapshots.appendTxn(spark, root, i, row(i)))) === 0,
      "70 commits over a growing lineage list the manifests dir zero times")
    assert(Snapshots.latestVersion(spark, root) === 71)
    // an older hint (a racing writer's) costs forward probes only
    setHint("3")
    assert(listings(assert(Snapshots.latestVersion(spark, root) === 71)) === 0)
    // an absent, unreadable or too-new hint falls back to one listing
    for (bad <- Seq(None, Some("garbage"), Some("99"))) {
      bad.fold(fs.delete(hint, false))(t => { setHint(t); true })
      assert(listings(assert(Snapshots.latestVersion(spark, root) === 71)) === 1,
        s"hint $bad: one listing, the right answer")
    }
    // a commit on the bad hint lists once per latest read before its
    // claim, and the claim rewrites the hint
    assert(listings(Snapshots.appendTxn(spark, root, 71L, row(71L))) <= 2)
    assert(listings(assert(Snapshots.latestVersion(spark, root) === 72)) === 0)
    assert(ids(Snapshots.read(spark, root, 72)) === (0L to 71L))
  }

  test("an appendTxn replay racing its in-flight original commits the batch once, no file lost") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val root = java.nio.file.Files.createTempDirectory("graft_snaptxnrace").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "source")
    val sliceA = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val sliceB = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    Snapshots.create(spark, root, sliceA)
    val originalAtHook, replayAtHook, originalDone = new CountDownLatch(1)
    def await(l: CountDownLatch, what: String): Unit =
      assert(l.await(120, TimeUnit.SECONDS), s"timed out waiting for $what")
    @volatile var original: Thread = null
    // the original has written its files and waits between attempt and
    // claim; the replay then writes its own files and reaches the same
    // window; the original claims first and the replay loses the race
    Snapshots.commitHook = () =>
      if (Thread.currentThread eq original) {
        originalAtHook.countDown()
        await(replayAtHook, "the replay")
      } else {
        replayAtHook.countDown()
        await(originalDone, "the original's claim")
      }
    def run(f: => Int) = scala.concurrent.Future(f)(scala.concurrent.ExecutionContext.global)
    try {
      val first = run { original = Thread.currentThread; Snapshots.appendTxn(spark, root, 7L, sliceB) }
      await(originalAtHook, "the original")
      val replay = run(Snapshots.appendTxn(spark, root, 7L, sliceB))
      val vOriginal = scala.concurrent.Await.result(first, scala.concurrent.duration.Duration(300, "s"))
      originalDone.countDown()
      val vReplay = scala.concurrent.Await.result(replay, scala.concurrent.duration.Duration(300, "s"))
      assert(vOriginal === 2 && vReplay === 2,
        "the replay loses the claim and becomes a no-op on the original's version")
    } finally {
      Snapshots.commitHook = () => ()
      originalDone.countDown()
    }
    assert(Snapshots.latestVersion(spark, root) === 2)
    assert(ids(Snapshots.read(spark, root, 2)) === ids(docs),
      "the batch lands exactly once and every file the manifest names exists")
  }

  test("timestamp travel resolves the version committed at or before the instant") {
    val root = java.nio.file.Files.createTempDirectory("graft_snapts").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "source")
    assert(Snapshots.versionAsOf(spark, root, System.currentTimeMillis()) === 0)
    Snapshots.create(spark, root, docs.filter(pmod(col("doc_id"), lit(2)) === 0))
    Thread.sleep(15) // manifest mtimes are ms-resolution
    val betweenCommits = System.currentTimeMillis()
    Thread.sleep(15)
    Snapshots.append(spark, root, docs.filter(pmod(col("doc_id"), lit(2)) === 1))
    assert(Snapshots.versionAsOf(spark, root, betweenCommits) === 1,
      "an instant between the commits resolves to v1")
    assert(ids(Snapshots.readAsOf(spark, root, betweenCommits)) ===
      ids(docs.filter(pmod(col("doc_id"), lit(2)) === 0)),
      "the tuesday-night run's view reproduces without a recorded version")
    assert(Snapshots.versionAsOf(spark, root, System.currentTimeMillis()) === 2)
    intercept[IllegalArgumentException] {
      Snapshots.readAsOf(spark, root, 0L) // before the dataset existed
    }
  }

  test("changesBetween streams exactly the appended rows; rewrite boundaries fail fast") {
    val root = java.nio.file.Files.createTempDirectory("graft_snapcdc").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "source")
    def slice(r: Int) = docs.filter(pmod(col("doc_id"), lit(3)) === r)
    Snapshots.create(spark, root, slice(0))               // v1
    Snapshots.append(spark, root, slice(1))               // v2
    Snapshots.append(spark, root, slice(2))               // v3
    assert(ids(Snapshots.changesBetween(spark, root, 1, 3)) ===
      ids(slice(1).union(slice(2))),
      "the 1→3 delta is exactly the two appended batches")
    assert(ids(Snapshots.changesBetween(spark, root, 2, 3)) === ids(slice(2)))
    assert(Snapshots.changesBetween(spark, root, 3, 3).count() === 0)
    assert(ids(Snapshots.changesBetween(spark, root, 0, 1)) === ids(slice(0)),
      "from version 0 the delta is the full first version")
    // incremental reads never rescan the standing corpus: the delta
    // scan's files are disjoint from the from-version's
    val v2Files = Snapshots.read(spark, root, 2).inputFiles.toSet
    val delta = Snapshots.changesBetween(spark, root, 2, 3).inputFiles.toSet
    assert(delta.nonEmpty && delta.intersect(v2Files).isEmpty)
    // a compact is a PURE-LAYOUT commit (dataChange=false): same rows,
    // fresh files — the delta walks straight through it as EMPTY
    // instead of failing into a corpus resync (the r12-verdict ask:
    // at 100 TB routine compaction must not force every downstream
    // consumer to re-read the corpus)
    val v4 = Snapshots.compact(spark, root, partitions = 1)
    assert(Snapshots.changesBetween(spark, root, 3, v4).count() === 0,
      "a layout rewrite contributes an empty delta, not a failure")
    // ...and an append BEYOND the compact still surfaces exactly its
    // own rows when the range spans the layout boundary
    Snapshots.append(spark, root, slice(0))               // v5
    assert(ids(Snapshots.changesBetween(spark, root, 3, v4 + 1)) ===
      ids(slice(0)),
      "a range spanning the compact delivers only the post-compact append")
    // a DATA rewrite replaces rows — file identity stops meaning row
    // identity, so the range fails fast instead of returning garbage
    val kept = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val v6 = Snapshots.rewrite(spark, root, kept)
    intercept[IllegalArgumentException] {
      Snapshots.changesBetween(spark, root, v4 + 1, v6)
    }
    // ranges AFTER the rewrite work again
    Snapshots.append(spark, root, slice(1))               // v7
    assert(ids(Snapshots.changesBetween(spark, root, v6, v6 + 1)) ===
      ids(slice(1)))
  }

  test("SnapshotTail delivers each version range once across restarts; rewrite surfaces for resync") {
    val root = java.nio.file.Files.createTempDirectory("graft_snaptail").toString
    val cur = java.nio.file.Files.createTempDirectory("graft_snapcur").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "source")
    def slice(r: Int) = docs.filter(pmod(col("doc_id"), lit(3)) === r)
    val tail = new Snapshots.SnapshotTail(root)
    assert(tail.poll(spark).isEmpty, "nothing committed yet")
    Snapshots.create(spark, root, slice(0))
    Snapshots.append(spark, root, slice(1))
    // first poll: both versions' rows, cursor unmoved until commit
    val Some((d1, v1)) = tail.poll(spark)
    assert(ids(d1) === ids(slice(0).union(slice(1))) && v1 === 2)
    assert(tail.position === 0, "poll must not advance (two-phase)")
    tail.commit(v1)
    tail.saveCursor(spark, cur)
    assert(tail.poll(spark).isEmpty, "committed range never re-delivers")
    // consumer restart: the persisted cursor resumes mid-stream
    Snapshots.append(spark, root, slice(2))
    val resumed = Snapshots.SnapshotTail.restore(spark, cur, root)
    val Some((d2, v2)) = resumed.poll(spark)
    assert(ids(d2) === ids(slice(2)) && v2 === 3,
      "the restored tail delivers only the unprocessed range")
    resumed.commit(v2)
    // the tail polls STRAIGHT THROUGH a compact: the layout commit is
    // an empty delta (append → compact → append must deliver exactly
    // the two appends' rows, never a resync — the r12-verdict ask)
    Snapshots.compact(spark, root, partitions = 1)        // v4
    Snapshots.append(spark, root, slice(0))               // v5
    val Some((d3, v5)) = resumed.poll(spark)
    assert(ids(d3) === ids(slice(0)) && v5 === 5,
      "polling across a compact delivers only the appended rows")
    resumed.commit(v5)
    // a DATA rewrite boundary surfaces (fail-fast) and resync recovers
    // — two-phase like poll: the cursor advances only on commit, so a
    // crash mid-resync re-reads on restart instead of skipping
    val kept = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    Snapshots.rewrite(spark, root, kept)                  // v6
    intercept[IllegalArgumentException] { resumed.poll(spark).foreach(_._1.count()) }
    val (full, v6) = resumed.resync(spark)
    assert(ids(full) === ids(kept) && v6 === 6)
    assert(resumed.position === 5, "resync must not advance before commit")
    resumed.commit(v6)
    assert(resumed.poll(spark).isEmpty)
  }

  test("schema evolution: a widening append is metadata-only; pinned versions keep their schema") {
    import org.apache.spark.sql.functions.lit
    val root = java.nio.file.Files.createTempDirectory("graft_snapschema").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "source")
    val sliceA = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val sliceB = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      .withColumn("quality", (col("doc_id") % 7).cast("double"))
    Snapshots.create(spark, root, sliceA)
    Snapshots.append(spark, root, sliceB) // widens: + quality
    // v1 keeps its 2-column schema (a pinned training run's frame
    // never grows columns under it)
    assert(Snapshots.read(spark, root, 1).columns.toSeq ===
      Seq("doc_id", "source"))
    // v2 = the union schema; rows from the pre-quality files read null
    val v2 = Snapshots.read(spark, root, 2)
    assert(v2.columns.toSeq === Seq("doc_id", "source", "quality"))
    assert(v2.filter(col("quality").isNull).count() === sliceA.count(),
      "old files read the new column as null")
    assert(v2.filter(col("quality").isNotNull).count() === sliceB.count())
    // compaction carries the evolved schema through the rewrite
    val v3 = Snapshots.compact(spark, root, partitions = 1)
    assert(Snapshots.read(spark, root, v3).columns.toSeq ===
      Seq("doc_id", "source", "quality"))
    assert(Snapshots.read(spark, root, v3).count() === docs.count())
    // a type change on an existing column is rejected, not coerced
    intercept[IllegalArgumentException] {
      Snapshots.append(spark, root,
        sliceA.withColumn("quality", lit("high")))
    }
    // nullability may only tighten: null-free array elements append
    // under a nullable-element pin, nullable ones never under a
    // null-free pin (the pin would claim them non-null)
    val strict = sliceA.select(col("doc_id"), array(lit(1L)).as("xs"))
    val loose = sliceA.select(col("doc_id"), array(lit(null).cast("long")).as("xs"))
    val strictRoot = java.nio.file.Files.createTempDirectory("graft_snapnn").toString
    Snapshots.create(spark, strictRoot, strict)
    intercept[IllegalArgumentException] { Snapshots.append(spark, strictRoot, loose) }
    val looseRoot = java.nio.file.Files.createTempDirectory("graft_snapnull").toString
    Snapshots.create(spark, looseRoot, loose)
    assert(Snapshots.append(spark, looseRoot, strict) === 2)
  }

  test("read pins one all-nullable schema after create, compact and append") {
    import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StructField, StructType}
    val root = java.nio.file.Files.createTempDirectory("graft_snapnullread").toString
    val frame = Tables.documents(spark, sf).select(col("doc_id"), array(lit(1), lit(2)).as("xs"))
    val xs = frame.schema("xs")
    assert(!xs.nullable && xs.dataType === ArrayType(IntegerType, containsNull = false))
    // every field reads nullable, as a file relation plans it, whatever
    // the written frame declared
    val nullable = StructType(Seq(StructField("doc_id", LongType),
      StructField("xs", ArrayType(IntegerType, containsNull = true))))
    val v1 = Snapshots.create(spark, root, frame)
    assert(Snapshots.read(spark, root, v1).schema === nullable)
    val v2 = Snapshots.compact(spark, root)
    assert(Snapshots.read(spark, root, v2).schema === nullable)
    // a batch stricter than the pin appends, and the pin stays
    val v3 = Snapshots.append(spark, root, frame)
    assert(Snapshots.read(spark, root, v3).schema === nullable)
  }

  test("contiguous txn ids range-compress to one manifest tag line") {
    val root = java.nio.file.Files.createTempDirectory("graft_snaptxn3").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "source").limit(3)
    Snapshots.create(spark, root, docs)
    // a streaming sink's batchIds are contiguous — the carried tag set
    // must stay O(1) lines, not one line per batch (O(N²) cumulative
    // manifest bytes over a stream's life otherwise)
    (0L to 9L).foreach(i => Snapshots.appendTxn(spark, root, i, docs))
    val latest = Snapshots.latestVersion(spark, root)
    val manifest = scala.io.Source.fromFile(
      s"$root/manifests/v$latest.txt", "UTF-8").getLines().toList
    val tagLines = manifest.filter(_.startsWith("#txn:"))
    assert(tagLines === List("#txn:0-9"),
      s"contiguous ids must compress to one range tag, got $tagLines")
    // replay of any id in the range is still a no-op
    assert(Snapshots.appendTxn(spark, root, 4L, docs) === latest)
    assert(Snapshots.latestVersion(spark, root) === latest)
    // a non-contiguous id opens a second range
    Snapshots.appendTxn(spark, root, 20L, docs)
    val tags2 = scala.io.Source.fromFile(
      s"$root/manifests/v${Snapshots.latestVersion(spark, root)}.txt", "UTF-8")
      .getLines().filter(_.startsWith("#txn:")).toList
    assert(tags2 === List("#txn:0-9", "#txn:20"), s"got $tags2")
  }

  test("delete: copy-on-write rewrites only stat-overlapping files; null-pred rows stay") {
    import org.apache.spark.sql.functions.{col, lit, pmod, max => smax}
    import Snapshots.StatsPred._
    val root = java.nio.file.Files.createTempDirectory("graft_snapdel1").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "source")
    Snapshots.create(spark, root, docs.repartitionByRange(8, col("doc_id")))
    val v1Files = Snapshots.read(spark, root, 1).inputFiles.toSet
    val mx = docs.agg(smax(col("doc_id"))).head().getLong(0)
    val (lo, hi) = (mx / 4, mx / 2)
    val v2 = Snapshots.delete(spark, root,
      Seq(GtEq("doc_id", lo), Lt("doc_id", hi)))
    val after = Snapshots.read(spark, root, v2)
    assert(ids(after) ===
      ids(docs.filter(col("doc_id") < lo || col("doc_id") >= hi)),
      "exactly the matching rows are gone")
    // the scale property: files whose stat range cannot overlap the
    // cut carry forward BY PATH — a corpus-wide rewrite would break this
    val v2Files = after.inputFiles.toSet
    val carried = (v1Files & v2Files).size
    assert(carried >= 5 && v2Files.size < v1Files.size + 3,
      s"range-disjoint files must carry by path (carried $carried of " +
        s"${v1Files.size}; v2 has ${v2Files.size})")
    assert(ids(Snapshots.read(spark, root, 1)) === ids(docs),
      "the pinned pre-delete version is untouched")
    // retractions cannot ride a row feed: both consumer modes fail fast
    intercept[IllegalArgumentException] {
      Snapshots.changesBetween(spark, root, 1, v2)
    }
    intercept[IllegalArgumentException] {
      Snapshots.changesBetween(spark, root, 1, v2, upserts = true)
    }
    // a delete whose stats prove zero matches is a NO-OP: no new
    // version, no consumer-visible retraction boundary
    val noop = Snapshots.delete(spark, root,
      Seq(GtEq("doc_id", 900000000L)))
    assert(noop === v2 && Snapshots.latestVersion(spark, root) === v2,
      "a provably-empty delete must not commit")
    // SQL DELETE WHERE semantics: a NULL predicate keeps the row
    val root2 = java.nio.file.Files.createTempDirectory("graft_snapdel2").toString
    import spark.implicits._
    val withNull = Seq((1L, java.lang.Long.valueOf(10L)),
      (2L, null.asInstanceOf[java.lang.Long]),
      (3L, java.lang.Long.valueOf(30L)))
      .toDF("id", "v")
    Snapshots.create(spark, root2, withNull)
    val dv = Snapshots.delete(spark, root2, Seq(Lt("v", 20L)))
    assert(Snapshots.read(spark, root2, dv).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(2L, 3L),
      "rows where the predicate is NULL are kept, only TRUE rows deleted")
    // a stats FALSE POSITIVE (range covers the literal, no row matches)
    // rewrites candidates but deletes nothing — the empty change set
    // makes the commit row-preserving and consumers pass through it
    val root3 = java.nio.file.Files.createTempDirectory("graft_snapdel3").toString
    Snapshots.create(spark, root3,
      Seq((1L, "a"), (3L, "b")).toDF("id", "s").coalesce(1))
    val fpv = Snapshots.delete(spark, root3, Seq(Eq("id", 2L)))
    assert(fpv === 2, "the false-positive delete rewrote its candidate")
    assert(Snapshots.read(spark, root3, fpv).count() === 2)
    assert(Snapshots.changesBetween(spark, root3, 1, fpv).count() === 0,
      "an empty change set means rows were preserved — no fail-fast")
  }

  test("typed change feed folds back to read(latest) across append/merge/compact/delete") {
    import org.apache.spark.sql.functions.{col, lit}
    val root = java.nio.file.Files.createTempDirectory("graft_snapfeed").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "source")
      .withColumn("rev", lit(1L))
    Snapshots.create(spark, root,
      docs.filter(col("doc_id") % 4 === 0)
        .repartitionByRange(4, col("doc_id")))                         // v1
    Snapshots.append(spark, root, docs.filter(col("doc_id") % 4 === 1)) // v2
    val upd = docs.filter(col("doc_id") % 8 === 0)
      .withColumn("rev", lit(2L)).withColumn("source", lit("upd"))
    val v3 = Snapshots.merge(spark, root, upd, Seq("doc_id"), "rev")    // v3
    val v4 = Snapshots.compact(spark, root, partitions = 2)             // v4 layout
    val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
    val v5 = Snapshots.delete(spark, root,
      Seq(Snapshots.StatsPred.GtEq("doc_id", mx / 2)))                  // v5
    val feed = Snapshots.changeFeed(spark, root, 0, v5)
    assert(feed.columns.takeRight(2).toSeq ===
      Seq("_change_type", "_commit_version"))
    val kinds = feed.groupBy("_commit_version", "_change_type").count()
      .collect().map(r => r.getInt(0) -> r.getString(1)).sorted.toSeq
    assert(kinds === Seq(1 -> "insert", 2 -> "insert", 3 -> "upsert",
      5 -> "delete"), s"got $kinds — layout commits contribute nothing")
    // FOLD: latest change per key wins; a final delete drops the key
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy(col("_commit_version").desc)
    val folded = feed.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("_change_type") =!= "delete")
      .drop("rn", "_change_type", "_commit_version")
    val want = Snapshots.read(spark, root, v5)
    assert(folded.exceptAll(want).isEmpty && want.exceptAll(folded).isEmpty,
      "replaying the typed feed reproduces the latest state exactly")
    // the feed plans over new files + change sets only — never the
    // compacted corpus files (v4's layout rewrite is invisible to it)
    val v4Files = Snapshots.read(spark, root, v4).inputFiles.toSet
    assert(feed.inputFiles.forall(f => !v4Files.contains(f)),
      "a layout commit's files never enter the feed")
    // the typed tail is the only consumer mode that survives the
    // delete: poll fails fast, pollTyped delivers the feed
    val tail = new Snapshots.SnapshotTail(root)
    intercept[IllegalArgumentException] { tail.poll(spark) }
    val Some((typed, tv)) = tail.pollTyped(spark)
    assert(tv === v5)
    assert(typed.filter(col("_change_type") === "delete").count() ===
      feed.filter(col("_change_type") === "delete").count())
    tail.commit(tv)
    assert(tail.pollTyped(spark).isEmpty, "a committed tail is drained")
    // a data rewrite has no change record: the feed fails fast there
    val v6 = Snapshots.rewrite(spark, root,
      Snapshots.read(spark, root, v5).filter(col("doc_id") % 8 === 0))
    intercept[IllegalArgumentException] {
      Snapshots.changeFeed(spark, root, 0, v6)
    }
    intercept[IllegalArgumentException] {
      new Snapshots.SnapshotTail(root, startAfter = v5).pollTyped(spark)
    }
  }

  test("clusterZ: the Morton layout lets EITHER dimension prune; range clustering only its leading one") {
    import org.apache.spark.sql.functions.{col, lit, length => slen}
    import Snapshots.StatsPred._
    val root = java.nio.file.Files.createTempDirectory("graft_snapz").toString
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"),
        slen(col("text")).cast("long").as("tlen"))
    // ingest-ordered (hash by source): nothing prunes on either dim
    Snapshots.create(spark, root, docs.repartition(8, col("source")))
    val v1 = Snapshots.latestVersion(spark, root)
    val cutId = docs.agg(max(col("doc_id"))).head().getLong(0) * 3 / 4
    val cutLen = docs.agg(max(col("tlen"))).head().getLong(0) * 3 / 4
    val pId = Seq(GtEq("doc_id", cutId))
    val pLen = Seq(GtEq("tlen", cutLen))
    val wantId = ids(Snapshots.read(spark, root, v1).filter(col("doc_id") >= cutId))
    val wantLen = ids(Snapshots.read(spark, root, v1).filter(col("tlen") >= cutLen))
    // single-column range clustering: the leading column prunes, the
    // other still touches every file — the gap clusterZ closes
    val vr = Snapshots.cluster(spark, root, Seq("doc_id"), partitions = 16)
    val fullR = Snapshots.read(spark, root, vr).inputFiles.length
    assert(Snapshots.readWhere(spark, root, vr, pId).inputFiles.length < fullR)
    assert(Snapshots.readWhere(spark, root, vr, pLen).inputFiles.length === fullR,
      "range clustering cannot prune the non-leading dimension")
    val vz = Snapshots.clusterZ(spark, root, "doc_id", "tlen", partitions = 16)
    val full = Snapshots.read(spark, root, vz).inputFiles.length
    val prunedId = Snapshots.readWhere(spark, root, vz, pId)
    val prunedLen = Snapshots.readWhere(spark, root, vz, pLen)
    assert(ids(prunedId) === wantId, "z-layout must never change results")
    assert(ids(prunedLen) === wantLen, "z-layout must never change results")
    assert(prunedId.inputFiles.length < full,
      s"doc_id prunes on the z-layout (${prunedId.inputFiles.length} of $full)")
    assert(prunedLen.inputFiles.length < full,
      s"tlen prunes on the z-layout (${prunedLen.inputFiles.length} of $full)")
    // pure layout: pinned readers untouched, CDC polls through empty
    assert(ids(Snapshots.read(spark, root, v1)) === ids(docs))
    assert(Snapshots.changesBetween(spark, root, vr, vz).count() === 0,
      "clusterZ is dataChange=false — an empty delta, never a resync")
  }

  test("bloom skipping: a point lookup on a layout-uncorrelated column prunes only after analyzeBloom") {
    import org.apache.spark.sql.functions.{col, lit}
    import Snapshots.StatsPred._
    val root = java.nio.file.Files.createTempDirectory("graft_snapblm").toString
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("source"),
      graft.functions.TextFunctions.docFingerprint(col("text")).as("fp"))
    Snapshots.create(spark, root, docs.repartitionByRange(8, col("doc_id")))
    val v1 = Snapshots.latestVersion(spark, root)
    val full = Snapshots.read(spark, root, v1).inputFiles.length
    val fpVals = Snapshots.read(spark, root, v1).select("fp").collect()
      .map(_.getLong(0)).toSet
    val target = fpVals.head
    val want = ids(Snapshots.read(spark, root, v1).filter(col("fp") === target))
    // fp is uncorrelated with the doc_id layout: min/max cannot prune
    val pre = Snapshots.readWhere(spark, root, v1, Seq(Eq("fp", target)))
    assert(ids(pre) === want)
    assert(pre.inputFiles.length === full,
      "every file spans the fp range — stats alone prune nothing")
    // one metadata-only analyze commit makes the same lookup surgical
    val v2 = Snapshots.analyzeBloom(spark, root, Seq("fp"))
    val post = Snapshots.readWhere(spark, root, v2, Seq(Eq("fp", target)))
    assert(ids(post) === want, "bloom skipping must never change results")
    assert(post.inputFiles.length < full,
      s"the bloom prunes the point lookup (${post.inputFiles.length} of $full)")
    // a provably-absent value prunes everything (no false negatives
    // exist by construction; absence is the one thing a bloom decides)
    val absent = Iterator.from(12345).map(_.toLong).find(!fpVals.contains(_)).get
    val none = Snapshots.readWhere(spark, root, v2, Seq(Eq("fp", absent)))
    assert(none.count() === 0)
    assert(none.inputFiles.length < full, "an absent value prunes files")
    // metadata-only: same file set, empty CDC delta, pinned v1 intact
    assert(Snapshots.read(spark, root, v2).inputFiles.toSet ===
      Snapshots.read(spark, root, v1).inputFiles.toSet)
    assert(Snapshots.changesBetween(spark, root, v1, v2).count() === 0,
      "analyze is metadata-only — consumers poll through it")
    // blooms carry across appends: an unbloomed new file whose fp
    // RANGE straddles the probe (min/max can't prune it either) joins
    // the plan; every bloomed standing file keeps pruning
    import spark.implicits._
    Snapshots.append(spark, root,
      Seq((888888881L, "x", absent - 1000L), (888888882L, "x", absent + 1000L))
        .toDF("doc_id", "source", "fp").coalesce(1))
    val v3 = Snapshots.latestVersion(spark, root)
    val carried = Snapshots.readWhere(spark, root, v3, Seq(Eq("fp", absent)))
    assert(carried.inputFiles.length === none.inputFiles.length + 1,
      "old blooms keep pruning; the unbloomed straddling file is kept")
    // a CROSS-TYPE literal must never probe the wrong hash family: a
    // numeric-string Eq over the long-bloomed column keeps every file
    // (SQL's cast-and-compare could match rows the char fold would
    // wrongly exclude)
    val crossType = Snapshots.readWhere(spark, root, v2,
      Seq(Eq("fp", target.toString)))
    assert(crossType.inputFiles.length === full,
      "a type-mismatched literal disables the bloom, never misprunes")
    // string blooms: distinct per-file keys prune to one file
    val root2 = java.nio.file.Files.createTempDirectory("graft_snapblm2").toString
    val keyed = (0L until 64L).map(i => (i, s"key$i")).toDF("id", "k")
    Snapshots.create(spark, root2, keyed.repartitionByRange(8, col("id")))
    Snapshots.analyzeBloom(spark, root2, Seq("k"))
    val one = Snapshots.readWhere(spark, root2,
      Snapshots.latestVersion(spark, root2), Seq(Eq("k", "key37")))
    assert(one.collect().map(_.getLong(0)).toSeq === Seq(37L))
    assert(one.inputFiles.length === 1,
      "a string point lookup plans exactly the one containing file")
  }

  test("restore rolls back to a version zero-copy; shallow clone forks a dataset without copying data") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val root = java.nio.file.Files.createTempDirectory("graft_snaprst").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "source")
    Snapshots.create(spark, root, docs.filter(pmod(col("doc_id"), lit(2)) === 0))
    Snapshots.append(spark, root, docs.filter(pmod(col("doc_id"), lit(2)) === 1))
    val goodIds = ids(Snapshots.read(spark, root, 2))
    val goodFiles = Snapshots.read(spark, root, 2).inputFiles.toSet
    // a bad curation drop lands as v3; RESTORE brings v2's state back
    // as v4 with zero data I/O — the manifest references v2's files
    Snapshots.rewrite(spark, root,
      Snapshots.read(spark, root, 2).filter(col("doc_id") % 7 === 0))
    val v4 = Snapshots.restore(spark, root, 2)
    assert(v4 === 4)
    val restored = Snapshots.read(spark, root, v4)
    assert(ids(restored) === goodIds, "restore reproduces the version's rows")
    assert(restored.inputFiles.toSet === goodFiles,
      "restore is zero-copy — it references the restored version's own files")
    assert(ids(Snapshots.read(spark, root, 3)) === goodIds.filter(_ % 7 == 0),
      "the rolled-back version stays readable for forensics")
    assert(Snapshots.restore(spark, root, v4) === v4, "restoring latest is a no-op")
    // restore is a rewrite: incremental consumers resync across it
    intercept[IllegalArgumentException] {
      Snapshots.changesBetween(spark, root, 2, v4)
    }
    // stats survive the restore (carried from the restored manifest)
    val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
    val pruned = Snapshots.readWhere(spark, root, v4,
      Seq(Snapshots.StatsPred.GtEq("doc_id", mx + 1)))
    assert(pruned.count() === 0)
    // shallow clone: a new root over the same files, zero copy
    val clone = java.nio.file.Files.createTempDirectory("graft_snapcln").toString
    Snapshots.shallowClone(spark, root, v4, clone)
    assert(ids(Snapshots.read(spark, clone, 1)) === goodIds)
    assert(Snapshots.read(spark, clone, 1).inputFiles.toSet === goodFiles,
      "the clone references the source's files — nothing copied")
    // the clone evolves independently of the source
    Snapshots.append(spark, clone, docs.limit(0)
      .select(col("doc_id") + lit(123456789L) as "doc_id", col("source")))
    Snapshots.delete(spark, clone, Seq(Snapshots.StatsPred.Lt("doc_id", mx / 2)))
    assert(ids(Snapshots.read(spark, root, v4)) === goodIds,
      "clone mutations never touch the source")
    intercept[IllegalArgumentException] {
      Snapshots.shallowClone(spark, root, v4, clone) // target exists
    }
  }

  test("analyzeBloom is incremental: re-analyze after an append scans only the new files") {
    import org.apache.spark.sql.functions.col
    import Snapshots.StatsPred._
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_snapblm3").toString
    val keyed = (0L until 64L).map(i => (i, s"key$i")).toDF("id", "k")
    Snapshots.create(spark, root, keyed.repartitionByRange(8, col("id")))
    val v2 = Snapshots.analyzeBloom(spark, root, Seq("k"))
    // fully covered: a re-analyze is a commit-free no-op
    assert(Snapshots.analyzeBloom(spark, root, Seq("k")) === v2)
    assert(Snapshots.latestVersion(spark, root) === v2,
      "nothing missing - no new version")
    // append, then re-analyze: only the new file needs a bloom, and
    // the point lookup is surgical again afterwards
    Snapshots.append(spark, root,
      Seq((100L, "key100"), (101L, "key101")).toDF("id", "k").coalesce(1))
    val v4 = Snapshots.analyzeBloom(spark, root, Seq("k"))
    val one = Snapshots.readWhere(spark, root, v4, Seq(Eq("k", "key100")))
    assert(one.collect().map(_.getLong(0)).toSeq === Seq(100L))
    assert(one.inputFiles.length === 1,
      "the appended file's fresh bloom prunes the lookup to one file")
    val old = Snapshots.readWhere(spark, root, v4, Seq(Eq("k", "key37")))
    assert(old.inputFiles.length === 1, "standing blooms still serve")
    // an ALL-NULL column converges: the scan records an all-zero bloom
    // (Eq never matches null, so pruning everything is exact) instead
    // of leaving the file "missing" and rescanning forever
    val root2 = java.nio.file.Files.createTempDirectory("graft_snapblm4").toString
    val nulls = Seq((1L, null.asInstanceOf[String]), (2L, null.asInstanceOf[String]))
      .toDF("id", "k").coalesce(1)
    Snapshots.create(spark, root2, nulls)
    val bv = Snapshots.analyzeBloom(spark, root2, Seq("k"))
    assert(Snapshots.analyzeBloom(spark, root2, Seq("k")) === bv)
    assert(Snapshots.latestVersion(spark, root2) === bv,
      "an all-null column is covered after one analyze — no rescan loop")
    val noneHit = Snapshots.readWhere(spark, root2, bv, Seq(Eq("k", "anything")))
    assert(noneHit.count() === 0 && noneHit.inputFiles.length === 0,
      "the all-zero bloom prunes the all-null file on any literal")
  }

  test("bloom geometry scales with file size: a 100k-distinct-value file still prunes") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    import Snapshots.StatsPred._
    val root = java.nio.file.Files.createTempDirectory("graft_snapblmbig").toString
    // one BIG file of 10⁵ distinct fingerprints (the production file
    // size at which the old FIXED 4096-bit pool saturated to all-ones
    // and pruned nothing) + one small file holding the probe target
    val big = spark.range(0L, 100000L)
      .select((col("id") * lit(2654435761L)).as("fp"), lit("big").as("src"))
      .coalesce(1)
    val small = Seq((1234567890123L, "small")).toDF("fp", "src").coalesce(1)
    Snapshots.create(spark, root, big)
    Snapshots.append(spark, root, small)
    val v = Snapshots.analyzeBloom(spark, root, Seq("fp"))
    val hit = Snapshots.readWhere(spark, root, v, Seq(Eq("fp", 1234567890123L)))
    assert(hit.count() === 1,
      "bloom skipping never changes results")
    assert(hit.inputFiles.length === 1,
      "the row-count-sized bloom over 10⁵ distinct values still " +
        "excludes the big file — a saturated fixed pool would have kept it")
    // and a value present only in the big file keeps serving exactly
    val sample = Snapshots.readWhere(spark, root, v,
      Seq(Eq("fp", 2654435761L * 777L)))
    assert(sample.count() === 1 && sample.inputFiles.length === 1)
  }

  test("CDC mirror: exactly-once fold of the typed feed tracks the source through every verb") {
    import org.apache.spark.sql.functions.{col, lit}
    val src = java.nio.file.Files.createTempDirectory("graft_mirsrc").toString
    val dst = java.nio.file.Files.createTempDirectory("graft_mirdst").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "source")
      .withColumn("rev", lit(1L))
    def mirrorEquals(): Unit = {
      val m = Snapshots.read(spark, dst, Snapshots.latestVersion(spark, dst))
      val w = Snapshots.read(spark, src, Snapshots.latestVersion(spark, src))
      assert(m.exceptAll(w).isEmpty && w.exceptAll(m).isEmpty,
        "the mirror must equal the source's latest state")
    }
    Snapshots.create(spark, src,
      docs.filter(col("doc_id") % 4 === 0).repartitionByRange(4, col("doc_id")))
    Snapshots.mirrorSync(spark, src, dst, Seq("doc_id")); mirrorEquals()
    Snapshots.append(spark, src, docs.filter(col("doc_id") % 4 === 1))
    Snapshots.mirrorSync(spark, src, dst, Seq("doc_id")); mirrorEquals()
    val upd = docs.filter(col("doc_id") % 8 === 0)
      .withColumn("rev", lit(2L)).withColumn("source", lit("upd"))
    Snapshots.merge(spark, src, upd, Seq("doc_id"), "rev")
    Snapshots.mirrorSync(spark, src, dst, Seq("doc_id")); mirrorEquals()
    val preCompactFiles = Snapshots.read(spark, dst,
      Snapshots.latestVersion(spark, dst)).inputFiles.toSet
    Snapshots.compact(spark, src, partitions = 2)
    Snapshots.mirrorSync(spark, src, dst, Seq("doc_id")); mirrorEquals()
    assert(Snapshots.read(spark, dst,
      Snapshots.latestVersion(spark, dst)).inputFiles.toSet === preCompactFiles,
      "a change-free pending range fast-forwards the cursor without rewriting the mirror")
    val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
    Snapshots.delete(spark, src, Seq(Snapshots.StatsPred.GtEq("doc_id", mx / 2)))
    val dv = Snapshots.mirrorSync(spark, src, dst, Seq("doc_id")); mirrorEquals()
    // replay: an already-consumed source version is a no-op
    assert(Snapshots.mirrorSync(spark, src, dst, Seq("doc_id")) === dv)
    assert(Snapshots.latestVersion(spark, dst) === dv,
      "a replayed sync must not claim a new mirror version")
    // raced syncs of one pending range: the loser RECOMPUTES on the new
    // mirror state, observes the consumed cursor, and no-ops — a blind
    // re-commit would publish a stale fold above the winner's version
    Snapshots.append(spark, src, docs.filter(col("doc_id") % 4 === 2))
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val r1 = Future(Snapshots.mirrorSync(spark, src, dst, Seq("doc_id")))
    val r2 = Future(Snapshots.mirrorSync(spark, src, dst, Seq("doc_id")))
    val (m1, m2) = (Await.result(r1, 5.minutes), Await.result(r2, 5.minutes))
    assert(m1 === dv + 1 && m2 === dv + 1,
      "both racers land on the single post-sync mirror version")
    assert(Snapshots.latestVersion(spark, dst) === dv + 1,
      "exactly one racer commits; the loser no-ops after recompute")
    mirrorEquals()
    // a true data rewrite on the source propagates the fail-fast;
    // mirrorResync is the sanctioned re-anchor — and incremental
    // syncs resume cleanly past the boundary afterwards
    Snapshots.rewrite(spark, src,
      Snapshots.read(spark, src, Snapshots.latestVersion(spark, src))
        .filter(col("doc_id") % 8 === 0))
    intercept[IllegalArgumentException] {
      Snapshots.mirrorSync(spark, src, dst, Seq("doc_id"))
    }
    Snapshots.mirrorResync(spark, src, dst); mirrorEquals()
    Snapshots.append(spark, src, docs.filter(col("doc_id") % 4 === 3))
    Snapshots.mirrorSync(spark, src, dst, Seq("doc_id")); mirrorEquals()
  }

  test("chained mirrors: a second-tier mirror tails the first through appends and merges") {
    import org.apache.spark.sql.functions.{col, lit}
    val src = java.nio.file.Files.createTempDirectory("graft_mir2src").toString
    val m1 = java.nio.file.Files.createTempDirectory("graft_mir2a").toString
    val m2 = java.nio.file.Files.createTempDirectory("graft_mir2b").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "source")
      .withColumn("rev", lit(1L))
    def tierEquals(): Unit = {
      val a = Snapshots.read(spark, m1, Snapshots.latestVersion(spark, m1))
      val b = Snapshots.read(spark, m2, Snapshots.latestVersion(spark, m2))
      val w = Snapshots.read(spark, src, Snapshots.latestVersion(spark, src))
      assert(a.exceptAll(w).isEmpty && w.exceptAll(a).isEmpty)
      assert(b.exceptAll(w).isEmpty && w.exceptAll(b).isEmpty,
        "both mirror tiers must equal the source's latest state")
    }
    Snapshots.create(spark, src, docs.filter(col("doc_id") % 3 === 0))
    Snapshots.mirrorSync(spark, src, m1, Seq("doc_id"))
    // the bootstrap commits as `append`: tier 2 can bootstrap off it
    Snapshots.mirrorSync(spark, m1, m2, Seq("doc_id")); tierEquals()
    // an append then a merge on the SOURCE: tier 1 folds them as
    // tailable `merge` commits, so tier 2 keeps syncing incrementally
    Snapshots.append(spark, src, docs.filter(col("doc_id") % 3 === 1))
    Snapshots.mirrorSync(spark, src, m1, Seq("doc_id"))
    Snapshots.mirrorSync(spark, m1, m2, Seq("doc_id")); tierEquals()
    val upd = docs.filter(col("doc_id") % 6 === 0)
      .withColumn("rev", lit(2L)).withColumn("source", lit("upd"))
    Snapshots.merge(spark, src, upd, Seq("doc_id"), "rev")
    Snapshots.mirrorSync(spark, src, m1, Seq("doc_id"))
    Snapshots.mirrorSync(spark, m1, m2, Seq("doc_id")); tierEquals()
    // a DELETE on the source: tier 1 folds it but must commit a
    // `rewrite` (a retraction has no post-image) — tier 2 fail-fasts
    // honestly and re-anchors
    val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
    Snapshots.delete(spark, src, Seq(Snapshots.StatsPred.GtEq("doc_id", mx / 2)))
    Snapshots.mirrorSync(spark, src, m1, Seq("doc_id"))
    intercept[IllegalArgumentException] {
      Snapshots.mirrorSync(spark, m1, m2, Seq("doc_id"))
    }
    Snapshots.mirrorResync(spark, m1, m2); tierEquals()
    // and incremental chaining resumes cleanly past the boundary
    Snapshots.append(spark, src, docs.filter(col("doc_id") % 3 === 2)
      .filter(col("doc_id") < mx / 2))
    Snapshots.mirrorSync(spark, src, m1, Seq("doc_id"))
    Snapshots.mirrorSync(spark, m1, m2, Seq("doc_id")); tierEquals()
  }

  test("merge txn ids make the upsert path exactly-once; streaming merge sink restarts clean") {
    import org.apache.spark.sql.functions.{col, lit}
    val root = java.nio.file.Files.createTempDirectory("graft_snapmtxn").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "source")
      .filter(col("doc_id") % 4 === 0).withColumn("rev", lit(1L))
    Snapshots.create(spark, root, docs)
    val upd = docs.withColumn("rev", lit(2L)).withColumn("source", lit("u1"))
    val v2 = Snapshots.merge(spark, root, upd, Seq("doc_id"), "rev",
      txn = Some(42L))
    val replay = Snapshots.merge(spark, root, upd, Seq("doc_id"), "rev",
      txn = Some(42L))
    assert(replay === v2 && Snapshots.latestVersion(spark, root) === v2,
      "a replayed merge txn is a no-op")
    assert(Snapshots.read(spark, root, v2)
      .filter(col("source") === "u1").count() === docs.count())
    // streaming upsert ingest: two keyed micro-batches, the second
    // updating the first's keys — the live state is keyed keep-last
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Long)]
    val sroot = java.nio.file.Files.createTempDirectory("graft_snapmsink").toString
    val q = Snapshots.streamingMergeSink(
      src.toDF().toDF("doc_id", "source", "rev"), sroot,
      Seq("doc_id"), "rev")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_snapmckpt").toString)
      .start()
    src.addData((1L, "a", 1L), (2L, "a", 1L))
    q.processAllAvailable()
    src.addData((2L, "b", 2L), (3L, "b", 2L))
    q.processAllAvailable()
    q.stop()
    val got = Snapshots.read(spark, sroot, Snapshots.latestVersion(spark, sroot))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(got === Seq((1L, "a"), (2L, "b"), (3L, "b")),
      "the streamed state is the keyed keep-last of all batches")
  }

  test("delta manifests: commits write O(changed) bytes, resolve exactly, checkpoint on cadence, survive expire") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_snapdelta").toString
    def manifestFile(v: Int) = new java.io.File(s"$root/manifests/v$v.txt")
    def isDelta(v: Int) = scala.io.Source.fromFile(manifestFile(v), "UTF-8")
      .getLines().exists(_.startsWith("#base:"))
    // v1: a wide create (many files with stats) — the full baseline
    val wide = spark.range(0L, 512L).select(col("id").as("doc_id"),
      (col("id") % 7).cast("string").as("src"))
    Snapshots.create(spark, root, wide.repartitionByRange(16, col("doc_id")))
    val fullBytes = manifestFile(1).length()
    // one-row appends: each commit's manifest is a small DELTA, not a
    // re-serialization of the whole file/stats list
    (1 to 6).foreach { i =>
      Snapshots.append(spark, root,
        Seq((10000L + i, s"s$i")).toDF("doc_id", "src").coalesce(1))
      val v = Snapshots.latestVersion(spark, root)
      assert(isDelta(v), s"v$v should be a delta manifest")
      assert(manifestFile(v).length() < fullBytes / 4,
        s"a one-file append's manifest must be O(changed), got " +
          s"${manifestFile(v).length()} vs full $fullBytes")
    }
    val v7 = Snapshots.latestVersion(spark, root)
    assert(v7 === 7)
    // resolution is exact: files, rows, stats, and schema all match a
    // from-scratch read
    val got = Snapshots.read(spark, root, v7)
    assert(got.count() === 512 + 6)
    assert(Snapshots.read(spark, root, 4).count() === 512 + 3,
      "mid-chain versions resolve through their prefix")
    // stats carried through the chain still prune
    val pruned = Snapshots.readWhere(spark, root, v7,
      Seq(Snapshots.StatsPred.GtEq("doc_id", 10000L)))
    assert(pruned.count() === 6)
    assert(pruned.inputFiles.length < got.inputFiles.length / 2,
      "chained stats prune the wide base files")
    // checkpoint cadence: drive to v16 — that one is written FULL
    (8 to 16).foreach { i =>
      Snapshots.append(spark, root,
        Seq((20000L + i, s"c$i")).toDF("doc_id", "src").coalesce(1))
    }
    assert(!isDelta(16), "every CheckpointEvery-th version is a checkpoint")
    assert(isDelta(15) && Snapshots.latestVersion(spark, root) === 16)
    // expire at a DELTA version: it materializes full before the chain
    // below it is deleted, so retained reads keep working
    assert(isDelta(10))
    Snapshots.expire(spark, root, retainMin = 10)
    assert(!isDelta(10), "the oldest retained delta checkpoints on expire")
    assert(Snapshots.read(spark, root, 10).count() === 512 + 6 + 3)
    assert(Snapshots.read(spark, root, 16).count() === 512 + 6 + 9,
      "newer deltas resolve through the materialized checkpoint")
    intercept[Exception] { Snapshots.read(spark, root, 9) }
    // a rewrite shrinking the corpus flips to a full manifest (the
    // delta would be larger than the list) and still resolves
    val v17 = Snapshots.rewrite(spark, root,
      Snapshots.read(spark, root, 16).filter(col("doc_id") < 100L))
    assert(!isDelta(v17))
    assert(Snapshots.read(spark, root, v17).count() === 100)
  }

  test("planner-integrated pruning: an ordinary DataFrame filter prunes files via the manifest") {
    import org.apache.spark.sql.functions.{col, lit, max => smax}
    import Snapshots.StatsPred._
    val root = java.nio.file.Files.createTempDirectory("graft_snapfidx").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "source")
    Snapshots.create(spark, root, docs.repartitionByRange(8, col("doc_id")))
    val v = Snapshots.latestVersion(spark, root)
    val full = Snapshots.read(spark, root, v).inputFiles.length
    val mx = docs.agg(smax(col("doc_id"))).head().getLong(0)
    val cut = mx * 3 / 4
    // a PLAIN .filter — no StatsPred surface — must plan only the
    // stat-surviving files (same set the explicit readWhere plans)
    val df = Snapshots.read(spark, root, v)
    val idx = IndexRoles.fileIndex(df)
    val got = df.filter(col("doc_id") >= cut)
    assert(ids(got) === ids(docs.filter(col("doc_id") >= cut)),
      "planner pruning must never change results")
    // compare by globally-unique part NAME, whatever the path's URI form
    def names(xs: Iterable[String]) =
      xs.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
    val want = Snapshots.readWhere(spark, root, v,
      Seq(GtEq("doc_id", cut))).inputFiles.toSet
    assert(names(idx.lastPlanned) === names(want) && want.size < full,
      s"the pushed filter pruned at the manifest " +
        s"(${idx.lastPlanned.size} of $full files planned)")
    // a conjunction prunes on both sides; an untranslatable predicate
    // keeps every file but stays correct
    val both = df.filter(col("doc_id") >= cut && col("doc_id") < mx)
    assert(ids(both) ===
      ids(docs.filter(col("doc_id") >= cut && col("doc_id") < mx)))
    val weird = df.filter((col("doc_id") % 97) === 3)
    assert(ids(weird) === ids(docs.filter(col("doc_id") % 97 === 3)),
      "unsupported shapes fall back to a full scan, never wrong rows")
    // blooms ride the same path: an Eq on a layout-uncorrelated value
    // after analyze prunes from a plain filter too
    val root2 = java.nio.file.Files.createTempDirectory("graft_snapfidx2").toString
    val withFp = docs.select(col("doc_id"), col("source"),
      graft.functions.TextFunctions.docFingerprint(
        org.apache.spark.sql.functions.concat(lit("probe"),
          col("doc_id").cast("string"))).as("fp"))
      .repartitionByRange(8, col("doc_id"))
    Snapshots.create(spark, root2, withFp)
    Snapshots.analyzeBloom(spark, root2, Seq("fp"))
    val v2 = Snapshots.latestVersion(spark, root2)
    val target = withFp.filter(col("doc_id") === mx / 2)
      .select("fp").head().getLong(0)
    val df2 = Snapshots.read(spark, root2, v2)
    val idx2 = IndexRoles.fileIndex(df2)
    val hit = df2.filter(col("fp") === target)
    assert(hit.count() >= 1)
    assert(idx2.lastPlanned.size < full,
      "a plain Eq filter probes the per-file blooms through the planner")
  }

  test("planner pruning covers the corpus-scale shapes: timestamp ranges and IN lists") {
    import org.apache.spark.sql.functions.{col, lit, max => smax, min => smin}
    import Snapshots.StatsPred._
    // TIMESTAMP range — the marquee 'WHERE ts > …' read: parquet
    // stores timestamps as INT64 micros, the footer stats record them
    // as 'l', and Catalyst pushes the literal's internal micros Long,
    // so the comparison prunes with no special-casing
    val root = java.nio.file.Files.createTempDirectory("graft_snapts").toString
    val ev = Tables.events(spark, sf).select("event_id", "ts", "user_id")
    Snapshots.create(spark, root, ev.repartitionByRange(8, col("ts")))
    val v = Snapshots.latestVersion(spark, root)
    val full = Snapshots.read(spark, root, v).inputFiles.length
    val cutRow = ev.agg(smin(col("ts")), smax(col("ts"))).head()
    val lo = cutRow.getTimestamp(0).getTime
    val hi = cutRow.getTimestamp(1).getTime
    val cut = new java.sql.Timestamp(lo + (hi - lo) * 3 / 4)
    val df = Snapshots.read(spark, root, v)
    val idx = IndexRoles.fileIndex(df)
    val got = df.filter(col("ts") >= lit(cut))
    assert(got.count() === ev.filter(col("ts") >= lit(cut)).count(),
      "timestamp pruning must never change results")
    assert(idx.lastPlanned.size < full,
      s"a plain ts >= filter prunes at the manifest " +
        s"(${idx.lastPlanned.size} of $full)")
    // IN list — the point-lookup batch shape: prunes to the union of
    // the values' containing files through both the explicit surface
    // and the planner path
    val root2 = java.nio.file.Files.createTempDirectory("graft_snapin").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "source")
    Snapshots.create(spark, root2, docs.repartitionByRange(8, col("doc_id")))
    val v2 = Snapshots.latestVersion(spark, root2)
    val full2 = Snapshots.read(spark, root2, v2).inputFiles.length
    val mx = docs.agg(smax(col("doc_id"))).head().getLong(0)
    val keys = Seq(0L, mx) // first and last file, nothing between
    val explicit = Snapshots.readWhere(spark, root2, v2,
      Seq(InSet("doc_id", keys)))
    assert(ids(explicit) === ids(docs.filter(col("doc_id").isin(keys: _*))))
    assert(explicit.inputFiles.length < full2,
      s"the IN hull prunes interior files " +
        s"(${explicit.inputFiles.length} of $full2)")
    val df2 = Snapshots.read(spark, root2, v2)
    val idx2 = IndexRoles.fileIndex(df2)
    val planned = df2.filter(col("doc_id").isin(keys: _*))
    assert(ids(planned) === ids(explicit))
    assert(idx2.lastPlanned.size === explicit.inputFiles.length,
      "the pushed In predicate plans the same file set as the " +
        "explicit InSet")
    // an empty IN matches nothing and plans nothing
    val none = Snapshots.readWhere(spark, root2, v2,
      Seq(InSet("doc_id", Seq.empty)))
    assert(none.count() === 0 && none.inputFiles.length === 0)
    // the manifest's #len: lines cover EVERY file with its exact byte
    // length, so the planner path constructs its FileStatus objects
    // metadata-only (zero filesystem calls) — and a wrong length would
    // have broken the row-equality assertions above
    val man = Snapshots.readManifestData(spark, root2, v2)
    assert(man.files.nonEmpty && man.files.forall { p =>
      val name = p.substring(p.lastIndexOf('/') + 1)
      man.lens.get(name).contains(
        new java.io.File(new java.net.URI(p).getPath).length())
    }, "every manifest file carries its exact #len: record")
  }

  test("pruned merge: a narrow-key batch rewrites only key-holding files; the rest carry by path") {
    import org.apache.spark.sql.functions.{col, lit, max => smax}
    val root = java.nio.file.Files.createTempDirectory("graft_snapmprune").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "source")
      .withColumn("rev", lit(1L))
    Snapshots.create(spark, root, docs.repartitionByRange(8, col("doc_id")))
    val v1Files = Snapshots.read(spark, root, 1).inputFiles.toSet
    val mx = docs.agg(smax(col("doc_id"))).head().getLong(0)
    // a narrow update slice + one insert far above the corpus: the
    // batch HULL spans everything (insert key), so only the phase-2
    // key semi-join can keep the rewrite narrow
    val batch = docs.filter(col("doc_id") < mx / 8)
      .withColumn("rev", lit(2L)).withColumn("source", lit("upd"))
      .unionByName(docs.filter(col("doc_id") === 0L)
        .withColumn("doc_id", col("doc_id") + lit(mx + 1000L))
        .withColumn("rev", lit(2L)))
    val v2 = Snapshots.merge(spark, root, batch, Seq("doc_id"), "rev")
    val after = Snapshots.read(spark, root, v2)
    val v2Files = after.inputFiles.toSet
    val carried = (v1Files & v2Files).size
    assert(carried >= 5 && carried < v1Files.size,
      s"files holding no batch key must carry by path (carried $carried " +
        s"of ${v1Files.size})")
    // results are exactly the keep-last merge
    val wantUpd = ids(docs.filter(col("doc_id") < mx / 8))
    assert(ids(after.filter(col("source") === "upd")) === wantUpd,
      "every batch key's standing row was replaced")
    assert(ids(after) === (ids(docs) ++ Seq(mx + 1000L)).sorted,
      "untouched rows carried; the insert landed")
    // the CDF is exactly the batch's post-images, carried-file rows
    // never leak into it
    val chg = Snapshots.changesBetween(spark, root, 1, v2, upserts = true)
    assert(ids(chg) === (wantUpd ++ Seq(mx + 1000L)).sorted)
    // stats on carried files still serve: a prune below the update
    // range plans a strict file subset
    val pruned = Snapshots.readWhere(spark, root, v2,
      Seq(Snapshots.StatsPred.GtEq("doc_id", mx * 3 / 4)))
    assert(pruned.inputFiles.length < v2Files.size,
      "carried files kept their manifest stats through the merge")
  }

  test("merge collapses NULL keys null-safely across the prune") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_snapmnull").toString
    val standing = Seq((java.lang.Long.valueOf(1L), "a", 1L),
      (java.lang.Long.valueOf(2L), "b", 1L),
      (null.asInstanceOf[java.lang.Long], "n", 1L))
      .toDF("id", "src", "rev")
    Snapshots.create(spark, root, standing.repartitionByRange(2, col("id")))
    val batch = Seq((null.asInstanceOf[java.lang.Long], "n2", 2L))
      .toDF("id", "src", "rev")
    val v2 = Snapshots.merge(spark, root, batch, Seq("id"), "rev")
    val after = Snapshots.read(spark, root, v2).collect()
      .map(r => (Option(r.get(0)), r.getString(1))).sortBy(_.toString).toSeq
    assert(after === Seq((None, "n2"), (Some(1L), "a"), (Some(2L), "b")),
      "the batch's null key replaced the standing null-key row — a " +
        "hull prune that hid the null row would have duplicated it")
  }

  test("merge prune survives hostile keys: NaN doubles and a standing-absent key column") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // NaN in a floating key: the hull bounds are unorderable (Spark's
    // max ranks NaN largest) — the prune must fall back to all files,
    // never crash the BigDecimal compare, and the NaN keys collapse
    val root = java.nio.file.Files.createTempDirectory("graft_snapmnan").toString
    val standing = Seq((1.0, "a", 1L), (2.0, "b", 1L), (Double.NaN, "n", 1L))
      .toDF("score", "src", "rev")
    Snapshots.create(spark, root, standing.repartitionByRange(2, col("score")))
    val batch = Seq((Double.NaN, "n2", 2L)).toDF("score", "src", "rev")
    val v2 = Snapshots.merge(spark, root, batch, Seq("score"), "rev")
    val after = Snapshots.read(spark, root, v2).collect()
      .map(r => (r.getDouble(0), r.getString(1))).sortBy(_._2).toSeq
    assert(after.map(_._2) === Seq("a", "b", "n2"),
      "the NaN batch key replaced the standing NaN row; finite keys intact")
    // a key column the standing schema lacks (a widening merge keyed
    // partly on the new column): pre-prune semantics — full rewrite,
    // standing rows carry the new key as null
    val root2 = java.nio.file.Files.createTempDirectory("graft_snapmk2").toString
    Snapshots.create(spark, root2,
      Seq((1L, "x", 1L), (2L, "y", 1L)).toDF("k1", "src", "rev"))
    val wide = Seq((1L, "t1", "x2", 2L)).toDF("k1", "k2", "src", "rev")
    val w2 = Snapshots.merge(spark, root2, wide, Seq("k1", "k2"), "rev")
    val rows = Snapshots.read(spark, root2, w2)
      .select("k1", "k2", "src").collect()
      .map(r => (r.getLong(0), Option(r.get(1)), r.getString(2)))
      .sortBy(r => (r._1, r._3)).toSeq
    assert(rows === Seq((1L, None, "x"), (1L, Some("t1"), "x2"),
      (2L, None, "y")),
      "standing rows keep null for the new key column and stay distinct " +
        "from the batch's (k1, k2) key")
  }

  test("layout maintenance recomputes on a lost race instead of publishing a stale file set") {
    import org.apache.spark.sql.functions.{col, lit, max => smax, pmod}
    import Snapshots.StatsPred._
    val docs = Tables.documents(spark, sf).select("doc_id", "source")
      .withColumn("rev", lit(1L))
    val sliceA = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val sliceB = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
    val cut = docs.agg(smax(col("doc_id"))).head().getLong(0) / 2
    val upd = sliceA.filter(col("doc_id") < cut)
      .withColumn("source", lit("upd")).withColumn("rev", lit(2L))
    def fresh(prefix: String): String = {
      val root = java.nio.file.Files.createTempDirectory(prefix).toString
      Snapshots.create(spark, root, sliceA.repartitionByRange(4, col("doc_id")))
      root
    }
    // inject a concurrent append of sliceB into the verb's race window
    // (between its attempt and its claim on `root`): the attempt
    // computed from v1 must NOT be published — a blind retry would drop
    // sliceB from the lineage — so the verb recomputes from the new
    // latest and the racing rows survive
    def raced(name: String, root: String)(verb: => Int): Int = {
      var fired = false
      Snapshots.commitHook = () => if (!fired) {
        fired = true
        Snapshots.append(spark, root, sliceB)
      }
      val v = try verb finally Snapshots.commitHook = () => ()
      assert(fired, s"$name: the race window hook must have run")
      v
    }
    def upds(df: org.apache.spark.sql.DataFrame) =
      ids(df.filter(col("source") === "upd"))

    val rc = fresh("graft_snaplrace")
    val vc = raced("compact", rc)(Snapshots.compact(spark, rc, partitions = 2))
    assert(ids(Snapshots.read(spark, rc, vc)) === ids(docs),
      "the recomputed layout preserves the racing append's rows")
    assert(Snapshots.changesBetween(spark, rc, 2, vc).count() === 0,
      "the final commit is still an honest empty-delta layout")

    val rm = fresh("graft_snapmrace")
    val vm = raced("merge", rm)(
      Snapshots.merge(spark, rm, upd, Seq("doc_id"), "rev"))
    val merged = Snapshots.read(spark, rm, vm)
    assert(ids(merged) === ids(docs), "merge: the racing append's rows survive")
    assert(upds(merged) === ids(upd), "merge: the batch still lands")

    val rd = fresh("graft_snapdrace")
    val vd = raced("delete", rd)(Snapshots.delete(spark, rd, Seq(Lt("doc_id", cut))))
    assert(ids(Snapshots.read(spark, rd, vd)) ===
      ids(docs.filter(col("doc_id") >= cut)),
      "delete: recomputed on top of the racing append (its rows past the cut survive)")

    val ru = fresh("graft_snapurace")
    val vu = raced("update", ru)(Snapshots.update(spark, ru,
      Seq(Lt("doc_id", cut)), Map("source" -> lit("upd"))))
    val updated = Snapshots.read(spark, ru, vu)
    assert(ids(updated) === ids(docs), "update: the racing append's rows survive")
    assert(upds(updated) === ids(docs.filter(col("doc_id") < cut)),
      "update: recomputed on top of the racing append")

    val rb = fresh("graft_snapbrace")
    val vb = raced("analyzeBloom", rb)(
      Snapshots.analyzeBloom(spark, rb, Seq("doc_id")))
    assert(ids(Snapshots.read(spark, rb, vb)) === ids(docs),
      "analyzeBloom: the racing append's rows survive")
    assert(Snapshots.analyzeBloom(spark, rb, Seq("doc_id")) === vb,
      "analyzeBloom: the recomputed analysis covered the racing files too")

    val src = fresh("graft_snapsrace")
    val dst = java.nio.file.Files.createTempDirectory("graft_snapmirrace").toString
    Snapshots.mirrorSync(spark, src, dst, Seq("doc_id"))
    Snapshots.merge(spark, src, upd, Seq("doc_id"), "rev")
    val vs = raced("mirrorSync", dst)(
      Snapshots.mirrorSync(spark, src, dst, Seq("doc_id")))
    val mirror = Snapshots.read(spark, dst, vs)
    assert(ids(mirror) === ids(docs),
      "mirrorSync: the racing append to the mirror survives the fold")
    assert(upds(mirror) === ids(upd), "mirrorSync: the source merge still lands")
  }

  test("clusterZN: a three-dimension Morton layout lets every dimension prune") {
    import org.apache.spark.sql.functions.{col, length => slen, pmod, lit}
    import Snapshots.StatsPred._
    val root = java.nio.file.Files.createTempDirectory("graft_snapz3").toString
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"),
        slen(col("text")).cast("long").as("tlen"),
        pmod(col("doc_id") * lit(2654435761L), lit(65536L)).as("h"))
    Snapshots.create(spark, root, docs.repartition(8, col("source")))
    val vz = Snapshots.clusterZN(spark, root, Seq("doc_id", "tlen", "h"),
      partitions = 16)
    val full = Snapshots.read(spark, root, vz).inputFiles.length
    Seq("doc_id", "tlen", "h").foreach { c =>
      val cut = docs.agg(org.apache.spark.sql.functions.max(col(c)))
        .head().getLong(0) * 3 / 4
      val pruned = Snapshots.readWhere(spark, root, vz, Seq(GtEq(c, cut)))
      assert(ids(pruned) === ids(docs.filter(col(c) >= cut)),
        s"the $c cut must never change results")
      assert(pruned.inputFiles.length < full,
        s"dimension $c prunes on the 3-dim z-layout " +
          s"(${pruned.inputFiles.length} of $full)")
    }
  }

  test("mirror: pruned fold carries files by path, stays tailable, and txn producers cannot corrupt the cursor") {
    import org.apache.spark.sql.functions.{col, lit, max => smax}
    val src = java.nio.file.Files.createTempDirectory("graft_mirpsrc").toString
    val dst = java.nio.file.Files.createTempDirectory("graft_mirpdst").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "source")
      .withColumn("rev", lit(1L))
    Snapshots.create(spark, src, docs.repartitionByRange(4, col("doc_id")))
    Snapshots.mirrorSync(spark, src, dst, Seq("doc_id"))
    // the bootstrap is an honest append-from-empty: a second-tier
    // consumer can read the mirror's own feed from version 0
    assert(Snapshots.changesBetween(spark, dst, 0, 1).count() === docs.count())
    // range-cluster the MIRROR (a commit on the mirror root: the
    // #mirror: cursor must carry through the commit loop) so the fold
    // prune has a selective layout to work with
    val cv = Snapshots.cluster(spark, dst, Seq("doc_id"), partitions = 8)
    val preFiles = Snapshots.read(spark, dst, cv).inputFiles.toSet
    val mx = docs.agg(smax(col("doc_id"))).head().getLong(0)
    val upd = docs.filter(col("doc_id") < mx / 8)
      .withColumn("rev", lit(2L)).withColumn("source", lit("upd"))
    Snapshots.merge(spark, src, upd, Seq("doc_id"), "rev")
    val dv = Snapshots.mirrorSync(spark, src, dst, Seq("doc_id"))
    val mirror = Snapshots.read(spark, dst, dv)
    val srcLatest = Snapshots.read(spark, src, Snapshots.latestVersion(spark, src))
    assert(mirror.exceptAll(srcLatest).isEmpty &&
      srcLatest.exceptAll(mirror).isEmpty,
      "the pruned fold still reproduces the source exactly")
    val carried = (preFiles & mirror.inputFiles.toSet).size
    assert(carried >= 5,
      s"mirror files holding no changed key carry by path (carried $carried " +
        s"of ${preFiles.size})")
    // delete-free fold commits as `merge`: the mirror is TAILABLE —
    // a chained consumer polls the changed keys' post-images through it
    val tail2 = Snapshots.changesBetween(spark, dst, cv, dv, upserts = true)
    assert(ids(tail2) === ids(upd),
      "the mirror's own change set is exactly the changed keys")
    // an unrelated txn producer on the mirror root must not corrupt
    // the cursor (the old txn-tag encoding did: its id became the
    // "consumed source version" and syncs silently no-opped)
    Snapshots.appendTxn(spark, dst, 500L, docs.limit(0))
    Snapshots.append(spark, src, docs.filter(col("doc_id") === 0L)
      .withColumn("doc_id", col("doc_id") + lit(mx + 5000L)))
    val dv2 = Snapshots.mirrorSync(spark, src, dst, Seq("doc_id"))
    assert(Snapshots.read(spark, dst, dv2)
      .filter(col("doc_id") === mx + 5000L).count() === 1,
      "the sync after a foreign txn id still delivers the source append")
    // a txn producer committing to an existing mirror root BEFORE its
    // first sync must not become the cursor either (a txn id at or past
    // the source's latest version no-opped the sync; a smaller one
    // skipped versions): the first sync folds from source version 0
    val dst2 = java.nio.file.Files.createTempDirectory("graft_mirpdst2").toString
    Snapshots.create(spark, dst2, docs.limit(0))
    Snapshots.appendTxn(spark, dst2, 100L, docs.limit(0))
    val dv3 = Snapshots.mirrorSync(spark, src, dst2, Seq("doc_id"))
    val srcNow = Snapshots.read(spark, src, Snapshots.latestVersion(spark, src))
    val mirror2 = Snapshots.read(spark, dst2, dv3)
    assert(srcNow.exceptAll(mirror2).isEmpty && mirror2.exceptAll(srcNow).isEmpty,
      "the first sync onto a txn-tagged root delivers every source row")
  }
}
