package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Crash-atomic tree verbs behind the one standing-index lifecycle
  * ([[StandingIndex]]; its only caller).
  *
  * The compaction swap follows the Snapshots atomic-commit convention
  * (never delete live data before its replacement is in place): the
  * old `delete(cur); rename(tmp, cur)` sequence had a crash window in
  * which the index root held NO data tree at all — the rows survived
  * only in the `*_compacting` temp, invisible to every read path.
  * [[swap]] renames aside instead (`cur`→`cur_old`, `tmp`→`cur`,
  * delete `cur_old`): every crash point leaves at least one COMPLETE
  * copy under a known name, and [[recover]] — invoked by the read and
  * compact paths — rolls an interrupted swap forward (the temp is
  * always fully written before the swap starts, so forward is safe).
  */
private[graft] object IndexMaintenance {

  /** Test seam for the crash-window specs: invoked between swap steps
    * with the step label; a spec injects a thrower to simulate a crash
    * at that exact point. Never set outside tests.
    */
  @volatile private[graft] var crashHook: String => Unit = _ => ()

  private def path(p: String) = new org.apache.hadoop.fs.Path(p)

  private def fs(s: SparkSession) =
    org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)

  private def asideName(cur: String) = cur + "_old"

  /** Retire a replaced tree: RETAIN it when any version manifest pins
    * the index, delete otherwise. The Delta rule the r12 ADVICE
    * flagged: `compact` (and therefore a re-add-after-delete `append`,
    * which compacts implicitly) physically deleted the old tree files
    * that earlier [[IndexVersions]] manifests reference — a plain
    * append could silently break `searchAt(v)` for every pinned
    * version. Retention renames the whole replaced tree into
    * `_retained/<role>.g<uuid>/` (its internal layout — `tshard=` /
    * `cell=` partition dirs — preserved relative to the generation
    * root, so versioned reads keep their partition columns AND their
    * pruning); [[IndexVersions.readAt]] resolves manifest paths that
    * are no longer live against these generations, and
    * [[IndexVersions.expire]] is the ONLY thing that deletes them.
    * Rename is O(1) metadata regardless of tree size.
    */
  private[sources] def retire(s: SparkSession, dir: String): Unit = {
    val f = fs(s)
    val p = path(dir)
    if (!f.exists(p)) return
    val root = p.getParent
    if (Snapshots.latestVersion(s, root.toString) >= 1) {
      val ret = new org.apache.hadoop.fs.Path(root, "_retained")
      f.mkdirs(ret)
      // generation names carry the SOURCE role ("postings_old" retires
      // as a "postings" generation) so readAt can map a missing
      // `root/<role>/<rel>` to `_retained/<role>.gXXXX/<rel>`
      val role = p.getName.stripSuffix("_old")
      f.rename(p, new org.apache.hadoop.fs.Path(ret,
        s"$role.g${java.util.UUID.randomUUID().toString.take(8)}"))
    } else f.delete(p, true)
  }

  /** Replace directory `cur` with the fully-written `tmp`, crash-
    * atomically. Requires `tmp` complete (the caller's overwrite write
    * finished — Spark's committer made it appear all-or-nothing). The
    * replaced tree is [[retire]]d, never unconditionally deleted — a
    * pinned version may still reference its files.
    */
  def swap(s: SparkSession, cur: String, tmp: String): Unit = {
    val f = fs(s)
    val old = asideName(cur)
    retire(s, old) // leftover aside from a crash already rolled forward
    crashHook("pre-aside")
    if (f.exists(path(cur))) f.rename(path(cur), path(old))
    crashHook("mid-swap") // the window the delete-then-rename form lost data in
    f.rename(path(tmp), path(cur))
    crashHook("pre-gc")
    retire(s, old)
  }

  /** Roll an interrupted [[swap]] of `cur` forward. Called before any
    * read plans over `cur` (and by compact itself): if `cur` is
    * missing, the complete temp (preferred — it is newer) or the aside
    * copy is moved back into place; a surviving aside next to a live
    * `cur` is a replaced tree from a crash after the swap landed and
    * is [[retire]]d (retained when a version pins it, deleted
    * otherwise). No-op (three existence probes) in the steady state.
    */
  def recover(s: SparkSession, cur: String, tmp: String): Unit = {
    val f = fs(s)
    val old = asideName(cur)
    if (!f.exists(path(cur))) {
      if (f.exists(path(tmp))) f.rename(path(tmp), path(cur))
      else if (f.exists(path(old))) f.rename(path(old), path(cur))
      // the roll-forward changed cur's file set under any listing a
      // pre-crash read left in the session's FileStatusCache
      s.catalog.refreshByPath(cur)
    }
    if (f.exists(path(cur)) && f.exists(path(old))) retire(s, old)
  }

  /** Roll forward every interrupted subtree swap under `root`. APPEND
    * paths must call this BEFORE writing: a `mode("append")` parquet
    * write onto a mid-swap-crashed tree (cur missing) would silently
    * recreate the directory with batch-only rows, and the next
    * [[recover]] — seeing cur exist — would garbage-collect the aside
    * copy, permanently losing the standing index.
    */
  def recoverAll(s: SparkSession, root: String, subs: Seq[String]): Unit =
    subs.foreach(sub => recover(s, s"$root/$sub", s"$root/${sub}_compacting"))

  /** Tombstone delete: O(batch) — ids append to the `tombstones/`
    * sidecar under the index's key column, no data file rewritten;
    * search paths anti-join the live set and [[compactTree]]
    * physically reclaims. Idempotent by anti-join semantics.
    */
  def deleteIds(s: SparkSession, root: String, keyCol: String,
                ids: Seq[Long]): Unit = {
    import s.implicits._
    ids.toDF(keyCol).write.mode("append").parquet(s"$root/tombstones")
  }

  /** The tombstone sidecar, if any delete has run. */
  def tombstones(s: SparkSession, root: String): Option[DataFrame] =
    if (fs(s).exists(path(s"$root/tombstones")))
      Some(s.read.parquet(s"$root/tombstones"))
    else None

  /** Drop tombstoned ids from a frame (applied AFTER shard/cell
    * pruning by the searches, so the anti-join touches only probed
    * partitions; the sidecar side is aggregated to distinct ids —
    * takedown logs repeat).
    */
  def dropTombstoned(tomb: Option[DataFrame], keyCol: String,
                     df: DataFrame): DataFrame =
    tomb.fold(df)(t =>
      df.join(t.select(keyCol).distinct(), Seq(keyCol), "left_anti"))

  /** The one tree write behind every build, append and compaction. A
    * non-empty frame lands `partitionBy(part)` (clustered by it first,
    * so each partition dir gets one file per owning task, not one per
    * writer task) or plain. A zero-row frame emits NO part files under
    * partitionBy, and the next read dies on schema inference: a build
    * or compaction writes ONE schema-bearing empty file unpartitioned
    * (the partition column stays a data column, so every search reads
    * it unchanged), and an empty append is a no-op. A partitioned
    * append first drops those root-level empty files — leaf files at
    * two depths brick partition discovery. Ends by invalidating any
    * file listing a prior read of `dir` left in the session.
    */
  def writeTree(s: SparkSession, dir: String, part: Option[String],
                df: DataFrame, append: Boolean): Unit = {
    val mode = if (append) "append" else "overwrite"
    if (df.isEmpty) {
      if (!append) df.coalesce(1).write.mode(mode).parquet(dir)
    } else part match {
      case Some(pc) =>
        if (append) clearUnpartitionedEmpty(s, dir)
        df.repartition(org.apache.spark.sql.functions.col(pc))
          .write.mode(mode).partitionBy(pc).parquet(dir)
      case None => df.write.mode(mode).parquet(dir)
    }
    s.catalog.refreshByPath(dir)
  }

  /** Remove the root-level part files of a partitioned tree — only an
    * empty build or compaction writes them, so they hold zero rows.
    */
  private def clearUnpartitionedEmpty(s: SparkSession, dir: String): Unit = {
    val f = fs(s)
    if (f.exists(path(dir)))
      f.listStatus(path(dir))
        .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
        .foreach(st => f.delete(st.getPath, false))
  }

  /** Physically reclaim tombstoned rows from one subtree through the
    * crash-atomic [[swap]], keeping its partitioning (probe pruning
    * needs it). An unpartitioned tree collapses to one file — fewer
    * files is the point of compacting — and an all-tombstoned tree
    * keeps one schema-bearing empty file ([[writeTree]]).
    */
  def compactTree(s: SparkSession, root: String, sub: String,
                  keyCol: String, partCol: Option[String]): Unit = {
    val cur = s"$root/$sub"
    val tmp = s"$root/${sub}_compacting"
    recover(s, cur, tmp)
    val live = dropTombstoned(tombstones(s, root), keyCol, s.read.parquet(cur))
    writeTree(s, tmp, partCol,
      if (partCol.isEmpty) live.coalesce(1) else live, append = false)
    swap(s, cur, tmp)
    s.catalog.refreshByPath(cur)
  }

  /** Clear the sidecar after every subtree reclaimed its rows. The
    * sidecar is [[retire]]d, not deleted: a pinned version's manifest
    * references its tombstone files too (a version committed between a
    * delete and this compact must keep SEEING the delete).
    */
  def clearTombstoneSidecar(s: SparkSession, root: String): Unit =
    retire(s, s"$root/tombstones")

  /** Does the arriving batch re-add any currently tombstoned id?
    * FAISS `remove_ids` + `add` semantics require the re-added id to
    * resurrect — but merely clearing its tombstone would ALSO
    * resurrect the old physical rows still sitting in the data tree,
    * duplicating the id. The correct sequence is: physically reclaim
    * first (the index's own crash-atomic compact), THEN append fresh
    * rows — so every `append` probes this and compacts on overlap.
    * The probe is one existence check when no delete has run, and a
    * semi-join against the (delete-log-sized, never corpus-sized)
    * sidecar otherwise.
    */
  def tombstonesOverlap(s: SparkSession, root: String, keyCol: String,
                        batchIds: DataFrame): Boolean = {
    if (!fs(s).exists(path(s"$root/tombstones"))) return false
    !s.read.parquet(s"$root/tombstones")
      .join(batchIds.select(keyCol).distinct(), Seq(keyCol), "left_semi")
      .isEmpty
  }
}
