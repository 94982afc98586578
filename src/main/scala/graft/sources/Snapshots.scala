package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.Tables
import graft.plans.Memo

/** Manifest-versioned dataset with time-travel reads — the minimal
  * lakehouse snapshot contract a training pipeline needs: a run that
  * starts on version N must keep reading EXACTLY version N's rows
  * while ingest appends behind it (epoch pinning), and a curation
  * action (dedup drop, quality re-filter) lands as a NEW version so
  * in-flight consumers are never mutated underneath.
  *
  * Layout under the dataset root:
  *   data/b{txn}/ one subdirectory per COMMIT holding that commit's
  *                parquet part files — a transaction's file set is
  *                exactly its own write, so two concurrent appends
  *                can never claim each other's files (a shared flat
  *                dir + "list what's new" would race); files are
  *                append-only, never rewritten, and deleted only by
  *                [[expire]]'s vacuum
  *   manifests/v{N}.txt   one file path per line — version N IS its
  *                file list; commits are one atomic manifest rename,
  *                readers never list data/ (at 10⁶ files a directory
  *                listing is the scale bottleneck; the manifest read
  *                is O(files in version))
  *
  * This deliberately reproduces the core of Delta/Iceberg snapshot
  * isolation with none of the machinery: versions are immutable,
  * appends create v+1 = v ∪ ownFiles with OPTIMISTIC CONCURRENCY
  * (exactly one racing committer claims each version number — the
  * loser re-reads the latest manifest and retries on top of it, its
  * already-written data files intact), a REWRITE (compaction, dedup
  * drop) creates v+1 from fresh files while v's files remain
  * readable, and [[expire]] retires old versions and physically
  * reclaims every data file no live manifest references. Readers pin
  * a version number; `read(s, root, v)` plans a scan over exactly
  * that manifest's files.
  */
object Snapshots {

  private def fs(s: SparkSession) =
    org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)

  private def manifestPath(root: String, v: Int) =
    new org.apache.hadoop.fs.Path(s"$root/manifests/v$v.txt")

  /** One commit's write product: live part files, their `#stats:`
    * payloads, and their byte lengths (the `#len:` lines letting the
    * read path plan with ZERO filesystem calls).
    */
  private[sources] final case class BatchFiles(files: Seq[String],
      stats: Map[String, String], lens: Map[String, Long]) {
    /** These files as a manifest to plan a [[relation]] over. */
    def manifest: Manifest = Manifest(files, Nil, None, stats = stats, lens = lens)
  }

  /** Write one commit's rows into its own transaction subdirectory and
    * return its live files WITH their stats. The file set is a
    * property of the commit's OWN write, never of a shared-directory
    * listing (which two racing appends would both scan, each claiming
    * the other's files); ONE footer pass total ([[footerScan]]) drops
    * zero-row parts and harvests min/max stats from the same open.
    * Data files land under `data/b…`; a commit's change-data files
    * under `changes/c…` (`dir = "changes/c"`).
    */
  private def writeBatchFiles(s: SparkSession, root: String,
                              df: DataFrame, dir: String = "data/b"): BatchFiles = {
    val sub = s"$root/$dir${java.util.UUID.randomUUID().toString.take(12)}"
    df.write.mode("errorifexists").parquet(sub)
    footerScan(s, fs(s).listStatus(new org.apache.hadoop.fs.Path(sub)).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .map(_.getPath.toString)
      .sorted)
  }

  /** A racing commit already claimed this version number: the caller
    * lost the optimistic-concurrency race and should re-read the
    * latest version and retry its commit on top of it.
    */
  final class ConcurrentCommitException(root: String, v: Int)
    extends RuntimeException(
      s"version $v at $root was committed concurrently; re-read latest and retry")

  /** The base version a caller's [[rewrite]] frame was computed from
    * advanced before the commit claimed its slot: retrying with the
    * already-written files would publish a file set computed from a
    * STALE read — silently dropping the racing commit's rows from the
    * lineage. The frame is the caller's, so it cannot be recomputed:
    * the caller sees an explicit conflict, never a silent lost update.
    */
  final class ConcurrentRewriteConflict(root: String, base: Int, now: Int)
    extends RuntimeException(
      s"rewrite of $root computed against v$base but v$now committed " +
        "concurrently; recompute against the new latest")

  // ---- per-file column statistics (data skipping) ---------------------------

  /** Per-file min/max column statistics for the manifest's `#stats:`
    * lines — the other core half of Delta/Iceberg (the r12 verdict's
    * top ask): without them a pinned read plans EVERY file of the
    * version regardless of predicate; with them `readWhere` drops
    * files whose stat range cannot satisfy the predicate AT THE
    * MANIFEST, before any footer is opened. Stats are read from the
    * parquet FOOTERS the write already produced — O(own files)
    * metadata reads at commit time, zero data I/O, never a re-scan.
    *
    * Covered types: integral (stored long), floating (stored double),
    * and ASCII-only strings — a column whose footer stats are absent,
    * of another type, or non-ASCII (parquet orders UTF8 bytes
    * unsigned; java Strings compare UTF-16 — they disagree past
    * ASCII) simply records nothing and never prunes. Correctness
    * never depends on stats: `readWhere` re-applies the predicate to
    * the surviving scan.
    */
  private def footerScan(s: SparkSession,
                         files: Seq[String]): BatchFiles = {
    // EXECUTOR-SIDE past a handful of files: the harvest is the right
    // O(own files) asymptotic but was ONE driver thread — a
    // merge/compact producing 10⁴ parts paid 10⁴ sequential footer
    // opens. Small commits stay on the driver (no job overhead).
    val conf = s.sparkContext.hadoopConfiguration
    val results: Seq[(String, Boolean, Option[(String, String)], Long)] =
      if (files.length < FooterScanDistributeAt)
        harvestFooters(conf, files.iterator).toSeq
      else org.apache.spark.GraftSparkBridge.mapPartitionsWithConf(
        s.sparkContext, conf, files,
        math.min(files.length, s.sparkContext.defaultParallelism))(
        (c, it) => harvestFooters(c, it)).toSeq
    BatchFiles(results.collect { case (f, true, _, _) => f },
      results.flatMap(_._3).toMap,
      results.collect { case (f, true, _, len) if len >= 0 =>
        fileStatKey(f) -> len }.toMap)
  }

  /** Threshold below which [[footerScan]] stays driver-local. */
  private val FooterScanDistributeAt = 8

  /** Per-file footer harvest — (file, live, stats-json). Runs inside
    * executor tasks for large commits, so it must capture nothing but
    * this object.
    */
  private def harvestFooters(conf: org.apache.hadoop.conf.Configuration,
      files: Iterator[String])
      : Iterator[(String, Boolean, Option[(String, String)], Long)] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import scala.jdk.CollectionConverters._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def ascii(x: String): Boolean = x.forall(c => c >= ' ' && c < 127)
    files.map { file =>
      try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(file), conf)
        val len = in.getLength // the SAME open serves the #len: line
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          // zero-row parts drop here: an empty file records NO footer
          // stats, so it could never be pruned (and an empty change
          // file would make an empty delete's change set look
          // non-empty) — the SAME footer open harvests the stats
          if (r.getRecordCount == 0) (file, false, None, len)
          else {
          // merge row-group chunk stats per top-level column; a chunk
          // with absent/invalid stats voids the whole column
          val acc = scala.collection.mutable.LinkedHashMap
            .empty[String, Option[(Char, Any, Any)]]
          // null counts accumulate independently of the range (an
          // all-null column has no min/max but a perfectly good null
          // count — exactly the file IsNotNull pruning skips); a chunk
          // without the count voids the column's "nc"
          val accN = scala.collection.mutable.LinkedHashMap
            .empty[String, Option[Long]]
          r.getFooter.getBlocks.asScala.foreach { b =>
            b.getColumns.asScala.foreach { c =>
              val name = c.getPath.toDotString
              if (!name.contains('.')) { // top-level only
                val st = c.getStatistics
                val ncCur: Option[Long] =
                  if (st != null && st.isNumNullsSet) Some(st.getNumNulls)
                  else None
                accN(name) = accN.get(name) match {
                  case None => ncCur
                  case Some(prev) =>
                    for (p <- prev; n <- ncCur) yield p + n
                }
                val cur: Option[(Char, Any, Any)] =
                  if (st == null || st.isEmpty || !st.hasNonNullValue) None
                  else c.getPrimitiveType.getPrimitiveTypeName match {
                    case INT64 => Some(('l',
                      st.genericGetMin.asInstanceOf[java.lang.Long].longValue,
                      st.genericGetMax.asInstanceOf[java.lang.Long].longValue))
                    case INT32 => Some(('l',
                      st.genericGetMin.asInstanceOf[java.lang.Integer].longValue,
                      st.genericGetMax.asInstanceOf[java.lang.Integer].longValue))
                    case DOUBLE =>
                      val mn = st.genericGetMin
                        .asInstanceOf[java.lang.Double].doubleValue
                      val mx = st.genericGetMax
                        .asInstanceOf[java.lang.Double].doubleValue
                      // NaN/Infinity bounds would crash the BigDecimal
                      // prune compare — record nothing (never prune)
                      if (java.lang.Double.isFinite(mn) &&
                          java.lang.Double.isFinite(mx)) Some(('d', mn, mx))
                      else None
                    case FLOAT =>
                      val mn = st.genericGetMin
                        .asInstanceOf[java.lang.Float].doubleValue
                      val mx = st.genericGetMax
                        .asInstanceOf[java.lang.Float].doubleValue
                      if (java.lang.Double.isFinite(mn) &&
                          java.lang.Double.isFinite(mx)) Some(('d', mn, mx))
                      else None
                    case BINARY
                      if c.getPrimitiveType.getLogicalTypeAnnotation ==
                        org.apache.parquet.schema.LogicalTypeAnnotation.stringType() =>
                      val mn = new String(st.getMinBytes, "UTF-8")
                      val mx = new String(st.getMaxBytes, "UTF-8")
                      if (ascii(mn) && ascii(mx)) Some(('s', mn, mx)) else None
                    case _ => None
                  }
                acc.get(name) match {
                  case None => acc(name) = cur
                  case Some(None) => ()
                  case Some(Some((k, mn, mx))) =>
                    acc(name) = cur.collect {
                      case (k2, mn2, mx2) if k2 == k =>
                        (k, if (cmpStat(mn2, mn) < 0) mn2 else mn,
                          if (cmpStat(mx2, mx) > 0) mx2 else mx)
                    }
                }
              }
            }
          }
          val node = mapper.createObjectNode()
          val rc = r.getRecordCount
          (acc.keysIterator ++ accN.keysIterator).toSeq.distinct.foreach {
            name =>
              val rng = acc.getOrElse(name, None)
              val ncv = accN.getOrElse(name, None)
              if (rng.isDefined || ncv.isDefined) {
                val o = node.putObject(name)
                rng.foreach { case (kind, mn, mx) =>
                  o.put("t", kind.toString)
                  (mn, mx) match {
                    case (a: Long, b: Long) => o.put("min", a); o.put("max", b)
                    case (a: Double, b: Double) => o.put("min", a); o.put("max", b)
                    case (a: String, b: String) => o.put("min", a); o.put("max", b)
                    case _ => ()
                  }
                }
                ncv.foreach { n => o.put("nc", n); o.put("rc", rc) }
              }
          }
          (file, true,
            if (node.isEmpty) None
            else Some(fileStatKey(file) -> mapper.writeValueAsString(node)),
            len)
          }
        } finally r.close()
      } catch {
        // stats are an optimization, never a correctness dependency: a
        // footer we cannot read just records nothing for its file —
        // but the FILE is kept (never drop data on a metadata error);
        // a harvest that threw after proving liveness keeps it too
        // (-1 length = unknown; the read path falls back to listStatus)
        case _: Exception => (file, true, None, -1L)
      }
    }
  }

  /** Stats are keyed by the part-file NAME (globally unique — Spark
    * part names embed a write UUID), keeping `#stats:` lines stable
    * across the path-preserving carries of append commits.
    */
  private def fileStatKey(file: String): String =
    file.substring(file.lastIndexOf('/') + 1)

  /** Total order over same-kind stat values (exact: BigDecimal for
    * numerics — a long/double mix never loses precision).
    */
  private def cmpStat(a: Any, b: Any): Int = (a, b) match {
    case (x: String, y: String) => x.compareTo(y)
    case (x, y) =>
      new java.math.BigDecimal(x.toString)
        .compareTo(new java.math.BigDecimal(y.toString))
  }

  private[sources] def writeManifest(s: SparkSession, root: String, v: Int,
                            files: Seq[String],
                            txns: Seq[(Long, Long)] = Seq.empty,
                            schema: Option[org.apache.spark.sql.types.StructType]
                              = None,
                            commitKind: Option[String] = None,
                            stats: Map[String, String] = Map.empty,
                            cdf: Seq[String] = Seq.empty,
                            blooms: Map[String, String] = Map.empty,
                            mirror: Option[Long] = None,
                            base: Option[(Int, Manifest)] = None,
                            lens: Map[String, Long] = Map.empty,
                            cdfd: Seq[String] = Seq.empty): Unit = {
    val f = fs(s)
    val p = manifestPath(root, v)
    // Two-phase commit: write the FULL content to a dot-temp (invisible
    // to readers and latestVersion), then publish. A crash mid-write
    // leaves only an ignorable temp — never a truncated v{N}.txt.
    // Manifest lines starting with '#' are metadata, not file paths:
    // `#txn:<a>` / `#txn:<a>-<b>` record every externally-keyed
    // transaction id ever committed into the lineage, RANGE-COMPRESSED
    // (a streaming sink's batchIds are contiguous, so the whole
    // history is typically ONE line — carrying raw ids forward made
    // every manifest grow linearly with batch count, O(N²) cumulative
    // manifest bytes over a stream's life) and carried forward on
    // every commit, so the idempotence probe in [[appendTxn]] survives
    // compaction and expiry of the manifests that referenced the txn's
    // data dir.
    val tmp = new org.apache.hadoop.fs.Path(
      s"$root/manifests/.v$v.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    // `#schema:<json>` pins the version's read schema in METADATA (the
    // Delta pattern): readers apply it explicitly instead of merging
    // parquet footers — at 10⁶ files a mergeSchema read is a footer
    // scan per file; here schema evolution costs zero data I/O, and a
    // version whose older files lack a later column reads them as null
    // `#commit:<kind>` records what THIS version did to the rows (the
    // Delta dataChange flag): `append` added files, `rewrite` replaced
    // rows (curation drop, merge), `layout` replaced files but
    // preserved rows exactly (compaction) — incremental consumers skip
    // layout commits instead of resyncing the corpus. Not carried
    // forward: the tag describes one commit, not the lineage.
    // `#stats:<fileName>:<json>` carries each data file's per-column
    // min/max (the Delta add-file stats): one line per file WITH
    // stats, keyed by the globally-unique part name, kept only for
    // files still in the version (a rewrite drops the replaced files'
    // stats with the files)
    // `#cdf:<file>` lines record THIS commit's change-data files (a
    // merge's effective upsert rows — the Delta CDF idea): incremental
    // consumers read the bounded change set instead of resyncing the
    // corpus. Not carried forward: changes belong to one commit.
    // `#mirror:<srcV>` — the CDC-mirror consumer cursor (the consumed
    // SOURCE version), in its OWN namespace so txn producers on the
    // same root (appendTxn/streamingMergeSink batchIds) can never
    // corrupt it; carried forward by every commit path like txns.
    //
    // DELTA MANIFESTS (the Delta-log/checkpoint economics): a full
    // manifest re-serializes every file path + `#stats:` + `#bloom:`
    // line per commit — at 10⁶ files that is hundreds of MB of driver
    // text I/O for a one-file append. When the caller supplies the
    // BASE version it committed against (always the immediate
    // predecessor), the manifest instead records `#base:<v-1>` plus
    // only this commit's deltas: `#rm:<path>` for dropped files, bare
    // path lines for added ones, and only NEW/CHANGED stats/bloom
    // lines — O(changed files) bytes per commit. Readers resolve the
    // chain ([[readManifestData]]); every [[CheckpointEvery]]-th
    // version (and any commit whose delta would exceed the full list)
    // is written FULL, bounding chain depth. Carried-in-full each
    // commit regardless: schema, commit kind, txn ranges, cdf, mirror
    // cursor — all O(1)-ish. expire() materializes its oldest retained
    // version full before dropping the chain below it.
    // `#bloom:<fileName>:<col>:<payload>` lines are per-file
    // membership filters for Eq-predicate skipping ([[analyzeBloom]]),
    // carried like stats and dropped with replaced files; `#len:`
    // lines carry each file's byte length, harvested from the write's
    // own footer open, so the read path plans FileStatus objects
    // straight from the manifest with zero filesystem calls
    val live = files.map(fileStatKey).toSet
    val liveStats = stats.filter(kv => live.contains(kv._1))
    val liveBlooms = blooms.filter(kv => live.contains(bloomKeyFile(kv._1)))
    val liveLens = lens.filter(kv => live.contains(kv._1))
    val header = manifestHeader(txns, schema, commitKind, cdf, mirror, cdfd)
    def full: Seq[String] =
      header ++ metaLines(liveStats, liveBlooms, liveLens) ++ files
    val content = base match {
      case Some((bv, bm)) if bv == v - 1 && v % CheckpointEvery != 0 =>
        val baseSet = bm.files.toSet
        val fileSet = files.toSet
        val adds = files.filterNot(baseSet)
        val rms = bm.files.filterNot(fileSet)
        if (adds.length + rms.length >= files.length) full
        else Seq(s"#base:$bv") ++ header ++
          metaLines(liveStats.filter(kv => !bm.stats.get(kv._1).contains(kv._2)),
            liveBlooms.filter(kv => !bm.blooms.get(kv._1).contains(kv._2)),
            liveLens.filter(kv => !bm.lens.get(kv._1).contains(kv._2))) ++
          rms.map(r => s"#rm:$r") ++ adds
      case _ => full
    }
    val out = f.create(tmp, false)
    try out.write(content.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    if (!claimVersion(f, tmp, p)) {
      f.delete(tmp, false)
      throw new ConcurrentCommitException(root, v)
    }
    // a version NUMBER can be re-claimed after a root is deleted and
    // re-created at the same path (a rebuilt fixture, a tool rerun):
    // drop any stale resolution so the next read parses THIS commit
    memoDrop(root, v)
    // the advisory hint [[latestVersion]] reads: best-effort, so a
    // failed or torn write costs a later listing, never an answer
    try {
      val out = f.create(hintPath(root), true)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    } catch { case _: java.io.IOException => () }
  }

  /** The latest-version hint beside the manifests (Iceberg's
    * `version-hint.text`); its name must not start with `v`, which
    * [[latestVersion]] and [[versionAsOf]] parse as versions.
    */
  private def hintPath(root: String) =
    new org.apache.hadoop.fs.Path(s"$root/manifests/_latest")

  /** Every this-many versions a manifest is written FULL regardless of
    * delta size — the checkpoint cadence bounding chain depth (and the
    * manifest-read cost) for [[readManifestData]]'s resolution.
    */
  val CheckpointEvery = 16

  /** A manifest's `#stats:`, `#bloom:` and `#len:` lines, each kind
    * sorted by key.
    */
  private def metaLines(stats: Map[String, String],
      blooms: Map[String, String], lens: Map[String, Long]): Seq[String] =
    stats.toSeq.sortBy(_._1).map { case (n, j) => s"#stats:$n:$j" } ++
      blooms.toSeq.sortBy(_._1).map { case (k, pl) => s"#bloom:$k:$pl" } ++
      lens.toSeq.sortBy(_._1).map { case (n, l) => s"#len:$n:$l" }

  private def manifestHeader(txns: Seq[(Long, Long)],
      schema: Option[org.apache.spark.sql.types.StructType],
      commitKind: Option[String], cdf: Seq[String],
      mirror: Option[Long], cdfd: Seq[String] = Seq.empty): Seq[String] =
    schema.map(sc => s"#schema:${sc.json}").toSeq ++
      commitKind.map(k => s"#commit:$k").toSeq ++
      mirror.map(mv => s"#mirror:$mv").toSeq ++
      cdf.map(cp => s"#cdf:$cp") ++
      cdfd.map(cp => s"#cdfd:$cp") ++
      txns.map { case (a, b) => if (a == b) s"#txn:$a" else s"#txn:$a-$b" }

  /** Rewrite version v's manifest FULL (a checkpoint) if it is
    * currently a delta — [[expire]] must not drop the chain below its
    * oldest retained version while that version still resolves through
    * it. Content-equivalent by construction; the replace is atomic on
    * file:// (ATOMIC_MOVE) and the manifest mtime is preserved so
    * [[versionAsOf]] keeps resolving the original commit instant.
    */
  private def materializeManifest(s: SparkSession, root: String,
                                  v: Int): Boolean = {
    val f = fs(s)
    val p = manifestPath(root, v)
    if (!f.exists(p) || parseManifest(s, root, v).base.isEmpty) return true
    val m = readManifestData(s, root, v)
    val mtime = f.getFileStatus(p).getModificationTime
    // unknown forward-compat `#` lines from v's own layer re-emit
    // verbatim — a checkpoint rewrite must not drop what parseManifest
    // explicitly tolerates
    val header =
      manifestHeader(m.txns, m.schema, m.commit, m.cdf, m.mirror, m.cdfd) ++
        m.extra
    val content = header ++ metaLines(m.stats, m.blooms, m.lens) ++ m.files
    val tmp = new org.apache.hadoop.fs.Path(
      s"$root/manifests/.v$v.${java.util.UUID.randomUUID().toString.take(8)}.mat")
    val out = f.create(tmp, false)
    try out.write(content.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    // the replace must be ATOMIC: delete-then-rename on a manifest has
    // a crash window where the version is MISSING — latestVersion then
    // regresses and the next commit RE-CLAIMS an already-published
    // version number with different content (consumers whose cursors
    // recorded it silently skip the new rows). posix gets ATOMIC_MOVE;
    // elsewhere FileContext.rename(OVERWRITE) (atomic on HDFS). If
    // neither works this returns false and expire fails fast unmutated.
    try {
      if ("file" == f.getScheme) {
        java.nio.file.Files.move(localPath(tmp), localPath(p),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } else {
        org.apache.hadoop.fs.FileContext.getFileContext(p.toUri,
            s.sparkContext.hadoopConfiguration)
          .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      }
      try f.setTimes(p, mtime, -1)
      catch { case _: java.io.IOException => () }
      true
    } catch {
      case _: Exception =>
        f.delete(tmp, false)
        false
    }
  }


  private def localPath(q: org.apache.hadoop.fs.Path) =
    java.nio.file.Paths.get(q.toUri.getPath)

  /** Atomically publish the durable temp as v's manifest; false iff a
    * racer already claimed v. `exists(p)` followed by rename is NOT a
    * claim on the local filesystem — RawLocalFileSystem.rename is
    * POSIX rename(2), which silently REPLACES an existing destination,
    * so two racers could both "succeed" and the second would drop the
    * first's batch from the lineage. link(2) fails with EEXIST
    * atomically, so on file:// the claim is a hard link to the
    * already-complete temp: exactly one racer's link lands. Non-local
    * filesystems (HDFS, object stores) reject a rename onto an
    * existing file, so the rename itself is the claim there.
    */
  private def claimVersion(f: org.apache.hadoop.fs.FileSystem,
                           tmp: org.apache.hadoop.fs.Path,
                           p: org.apache.hadoop.fs.Path): Boolean =
    if ("file" == f.getScheme) {
      try {
        java.nio.file.Files.createLink(localPath(p), localPath(tmp))
        f.delete(tmp, false)
        // The hard link shares the TEMP file's inode, whose mtime is
        // the content-write time — milliseconds (or, after a lost race
        // and retry, arbitrarily long) BEFORE the claim. versionAsOf
        // resolves by manifest mtime, so stamp the true commit instant
        // on the published manifest (best-effort: a crash between link
        // and stamp leaves the slightly-early write time, which only
        // skews boundary-instant timestamp resolution, never version
        // content).
        try f.setTimes(p, System.currentTimeMillis(), -1)
        catch { case _: java.io.IOException => () }
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else !f.exists(p) && f.rename(tmp, p)

  private def manifestLines(s: SparkSession, root: String, v: Int): Seq[String] = {
    val p = manifestPath(root, v)
    require(fs(s).exists(p), s"version $v does not exist under $root")
    manifestOpens.incrementAndGet()
    val in = fs(s).open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).toList
    finally in.close()
  }

  /** One parsed manifest: file list + carried metadata. `commit` is
    * this version's commit kind (append/rewrite/layout), None — like
    * `schema` — only in IndexVersions' root manifests; `stats` maps part-file
    * NAME → raw per-column min/max json (parsed lazily at prune time);
    * `blooms` maps "fileName:col" → its `#bloom:` payload. `cdfd`
    * carries an update's change-data PRE-IMAGE files (`#cdfd:` — the
    * retraction half; the post-images ride `cdf` like a merge's).
    * `extra` preserves unknown forward-compat `#` metadata lines from
    * THIS version's own layer so a checkpoint rewrite
    * ([[materializeManifest]]) cannot drop them.
    */
  private[sources] final case class Manifest(files: Seq[String],
      txns: Seq[(Long, Long)],
      schema: Option[org.apache.spark.sql.types.StructType],
      commit: Option[String] = None,
      stats: Map[String, String] = Map.empty,
      cdf: Seq[String] = Seq.empty,
      blooms: Map[String, String] = Map.empty,
      mirror: Option[Long] = None,
      lens: Map[String, Long] = Map.empty,
      cdfd: Seq[String] = Seq.empty,
      extra: Seq[String] = Seq.empty)

  /** One raw (unresolved) manifest layer: `adds` are its bare file
    * lines — the FULL file set for a checkpoint manifest, only the
    * added files when `base` is set.
    */
  private final case class RawManifest(base: Option[Int],
      adds: Seq[String], rms: Seq[String],
      txns: Seq[(Long, Long)],
      schema: Option[org.apache.spark.sql.types.StructType],
      commit: Option[String],
      stats: Map[String, String], cdf: Seq[String],
      blooms: Map[String, String], mirror: Option[Long],
      lens: Map[String, Long],
      cdfd: Seq[String] = Seq.empty,
      extra: Seq[String] = Seq.empty)

  private def parseManifest(s: SparkSession, root: String,
                            v: Int): RawManifest = {
    val lines = manifestLines(s, root, v)
    val files = Seq.newBuilder[String]
    val rms = Seq.newBuilder[String]
    var base: Option[Int] = None
    val txns = Seq.newBuilder[(Long, Long)]
    var schema: Option[org.apache.spark.sql.types.StructType] = None
    var commit: Option[String] = None
    val stats = Map.newBuilder[String, String]
    val cdf = Seq.newBuilder[String]
    val blooms = Map.newBuilder[String, String]
    var mirror: Option[Long] = None
    val lens = Map.newBuilder[String, Long]
    val cdfd = Seq.newBuilder[String]
    val extra = Seq.newBuilder[String]
    lines.foreach {
      case l if l.startsWith("#base:") =>
        // FAIL FAST on a malformed base tag: silently treating a DELTA
        // manifest as full would collapse the version to its own adds
        // (silent data loss at read time, wrong vacuum sets at expire)
        base = Some(l.stripPrefix("#base:").toIntOption.getOrElse(
          throw new IllegalStateException(
            s"corrupt manifest v$v at $root: unparseable '$l'")))
      case l if l.startsWith("#rm:") =>
        rms += l.stripPrefix("#rm:")
      case l if l.startsWith("#commit:") =>
        commit = Some(l.stripPrefix("#commit:"))
      case l if l.startsWith("#mirror:") =>
        // malformed cursor fails fast too: read as absent, it would
        // silently restart the mirror from source version 0
        mirror = Some(l.stripPrefix("#mirror:").toLongOption.getOrElse(
          throw new IllegalStateException(
            s"corrupt manifest v$v at $root: unparseable '$l'")))
      case l if l.startsWith("#cdf:") =>
        cdf += l.stripPrefix("#cdf:")
      case l if l.startsWith("#cdfd:") =>
        cdfd += l.stripPrefix("#cdfd:")
      case l if l.startsWith("#cpq:") || l.startsWith("#bloomq:") =>
        // FAIL FAST on the retired columnar checkpoint format: its file
        // list lives outside this text, so tolerating the line as an
        // unknown tag would resolve the version with no files
        throw new IllegalStateException(
          s"unsupported manifest v$v at $root: columnar line '$l'")
      case l if l.startsWith("#bloom:") =>
        // <fileName>:<col>:<payload> — keyed "file:col" (part names and
        // column names carry no ':')
        val body = l.stripPrefix("#bloom:")
        val parts = body.split(":", 3)
        if (parts.length == 3)
          blooms += s"${parts(0)}:${parts(1)}" -> parts(2)
      case l if l.startsWith("#stats:") =>
        val body = l.stripPrefix("#stats:")
        val i = body.indexOf(':')
        if (i > 0) stats += body.substring(0, i) -> body.substring(i + 1)
      case l if l.startsWith("#len:") =>
        val body = l.stripPrefix("#len:")
        val i = body.indexOf(':')
        if (i > 0) body.substring(i + 1).toLongOption.foreach(n =>
          lens += body.substring(0, i) -> n)
      case l if l.startsWith("#txn:") =>
        // the dash splits a RANGE, but ids may be negative — split on
        // a dash past position 0
        val body = l.stripPrefix("#txn:")
        txns += (body.indexOf('-', 1) match {
          case -1 => (body.toLong, body.toLong)
          case i  => (body.substring(0, i).toLong, body.substring(i + 1).toLong)
        })
      case l if l.startsWith("#schema:") =>
        schema = Some(org.apache.spark.sql.types.DataType
          .fromJson(l.stripPrefix("#schema:"))
          .asInstanceOf[org.apache.spark.sql.types.StructType])
      // unknown metadata: forward-compat — tolerated AND carried, so a
      // checkpoint rewrite of this version re-emits them verbatim
      case l if l.startsWith("#") => extra += l
      case l => files += l
    }
    RawManifest(base, files.result(), rms.result(), txns.result().sorted,
      schema, commit, stats.result(), cdf.result(), blooms.result(), mirror,
      lens.result(), cdfd.result(), extra.result())
  }

  /** (root, version)-keyed memo of RESOLVED manifests. Claimed
    * manifests are immutable (a [[materializeManifest]] replace is
    * content-equivalent by construction), so serving a cached
    * resolution is always safe; [[expire]] invalidates the versions
    * it deletes. Access-ordered LRU bounded
    * by [[ManifestMemoMax]] entries — at 10⁶ files a resolved
    * Manifest is real driver heap, so the memo bounds COUNT, not just
    * staleness. Every external mutation of the map synchronizes on
    * the map itself.
    */
  private val ManifestMemoMax = 64
  private val manifestMemo =
    new java.util.LinkedHashMap[(String, Int), Manifest](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Int), Manifest]): Boolean =
        size > ManifestMemoMax
    }

  private def memoGet(root: String, v: Int): Option[Manifest] =
    manifestMemo.synchronized(Option(manifestMemo.get((root, v))))
  private def memoPut(root: String, v: Int, m: Manifest): Unit =
    manifestMemo.synchronized { manifestMemo.put((root, v), m); () }
  private def memoDrop(root: String, v: Int): Unit =
    manifestMemo.synchronized { manifestMemo.remove((root, v)); () }

  /** Manifest text files opened since JVM start — the spec's
    * "one parse per version, never one per call" counter.
    */
  private[graft] val manifestOpens = new java.util.concurrent.atomic.AtomicLong

  /** Resolve version v's manifest: a full layer resolves directly; a
    * delta layer resolves its `#base:` predecessor (through the memo —
    * a range walk like [[changesBetween]] resolves each version
    * INCREMENTALLY from its cached predecessor instead of re-walking
    * the chain) and folds its removes/adds and stats/bloom additions
    * on top. Per-commit metadata (schema, commit kind, txns, cdf,
    * mirror, unknown-tag extras) always comes from v's OWN layer
    * (delta manifests carry those in full). Stats and blooms filter to
    * the resolved live file set, so a removed file's lines die with it
    * regardless of which layer recorded them.
    */
  private[graft] def readManifestData(s: SparkSession, root: String,
                                      v: Int): Manifest =
    memoGet(root, v).getOrElse(resolveManifest(s, root, v, 0))

  private def resolveManifest(s: SparkSession, root: String, v: Int,
                              depth: Int): Manifest = {
    require(depth <= 4 * CheckpointEvery,
      s"corrupt manifest chain at $root: depth > ${4 * CheckpointEvery} at v$v")
    val raw = parseManifest(s, root, v)
    val m = raw.base match {
      case Some(b) =>
        require(b >= 1 && b < v,
          s"corrupt manifest chain at $root: v$v bases on v$b")
        val bm = memoGet(root, b)
          .getOrElse(resolveManifest(s, root, b, depth + 1))
        applyDelta(bm, raw)
      case None => resolveFull(raw)
    }
    memoPut(root, v, m)
    m
  }

  private def bloomKeyFile(k: String): String = k.substring(0, k.indexOf(':'))

  private def applyDelta(bm: Manifest, raw: RawManifest): Manifest = {
    val files = (bm.files.toSet -- raw.rms ++ raw.adds).toSeq.sorted
    val liveNames = files.map(fileStatKey).toSet
    Manifest(files, raw.txns, raw.schema, raw.commit,
      (bm.stats ++ raw.stats).filter(kv => liveNames.contains(kv._1)),
      raw.cdf,
      (bm.blooms ++ raw.blooms)
        .filter(kv => liveNames.contains(bloomKeyFile(kv._1))),
      raw.mirror,
      (bm.lens ++ raw.lens).filter(kv => liveNames.contains(kv._1)),
      cdfd = raw.cdfd, extra = raw.extra)
  }

  private def resolveFull(raw: RawManifest): Manifest = {
    val liveNames = raw.adds.map(fileStatKey).toSet
    Manifest(raw.adds.sorted, raw.txns, raw.schema, raw.commit,
      raw.stats.filter(kv => liveNames.contains(kv._1)), raw.cdf,
      raw.blooms.filter(kv => liveNames.contains(bloomKeyFile(kv._1))),
      raw.mirror,
      raw.lens.filter(kv => liveNames.contains(kv._1)),
      cdfd = raw.cdfd, extra = raw.extra)
  }

  private[graft] def readManifest(s: SparkSession, root: String, v: Int): Seq[String] =
    readManifestData(s, root, v).files

  /** Merge one id into a sorted disjoint range set — O(ranges), and
    * ranges stay O(1) for the contiguous batchIds a streaming sink
    * produces.
    */
  private[sources] def mergeTxn(ranges: Seq[(Long, Long)],
                                id: Long): Seq[(Long, Long)] = {
    val merged = (ranges :+ (id, id)).sorted
    merged.foldLeft(List.empty[(Long, Long)]) {
      case ((a, b) :: tail, (c, d)) if c <= b + 1 =>
        (a, math.max(b, d)) :: tail
      case (acc, r) => r :: acc
    }.reverse
  }

  private def txnCommitted(ranges: Seq[(Long, Long)], id: Long): Boolean =
    ranges.exists { case (a, b) => id >= a && id <= b }

  /** The schema an append commits on `base`: its pinned schema
    * widened by the batch's new columns ([[mergeSchemas]]).
    */
  private def appendSchema(root: String, base: Int, m: Manifest,
                           batch: StructType): StructType =
    if (base == 0) batch else mergeSchemas(schemaOf(root, base, m), batch)

  /** Widen `known` with any NEW fields the batch carries (appended,
    * nullable — old files read them as null). A same-name field must
    * keep its type: silent coercion across a lineage is how a corpus
    * quietly corrupts, so a type change is an error, not a merge. Only
    * compatible nullability may differ: a batch may be stricter than
    * the pin (a relayout pins a read-back frame's nullable elements, a
    * fresh batch need not be), never looser.
    */
  private[sources] def mergeSchemas(
      known: org.apache.spark.sql.types.StructType,
      batch: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    val byName = known.fields.map(f => f.name -> f).toMap
    batch.fields.foreach { f =>
      byName.get(f.name).foreach { k =>
        require(org.apache.spark.sql.GraftColumnBridge.fitsType(f.dataType, k.dataType),
          s"schema evolution cannot change column '${f.name}' from " +
            s"${k.dataType.simpleString} to ${f.dataType.simpleString}")
      }
    }
    val added = batch.fields.filterNot(f => byName.contains(f.name))
      .map(_.copy(nullable = true))
    org.apache.spark.sql.types.StructType(known.fields ++ added)
  }

  /** Highest committed version, 0 if none: the hinted version if its
    * manifest exists, probed forward to the first missing successor
    * (claims are contiguous). The dir is listed only when the hint is
    * absent, unreadable or names a missing manifest — a racing writer
    * may leave an older number or a torn file — so a commit, a txn
    * probe or a tail poll costs O(1) filesystem calls.
    */
  def latestVersion(s: SparkSession, root: String): Int = {
    val f = fs(s)
    val hinted =
      try {
        val in = f.open(hintPath(root))
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toIntOption
        finally in.close()
      } catch { case _: java.io.IOException => None }
    hinted.filter(h => h >= 1 && f.exists(manifestPath(root, h))) match {
      case Some(h) => Iterator.from(h).find(v => !f.exists(manifestPath(root, v + 1))).get
      case None =>
        manifestListings.incrementAndGet()
        listedVersions(f, root).map(_._1).foldLeft(0)(math.max)
    }
  }

  /** Manifest-dir listings [[latestVersion]] fell back to since JVM
    * start — the spec's "O(1) listings per commit" counter.
    */
  private[graft] val manifestListings = new java.util.concurrent.atomic.AtomicLong

  /** Every version whose manifest is still on disk, ascending. */
  private[sources] def versions(s: SparkSession, root: String): Seq[Int] =
    listedVersions(fs(s), root).map(_._1).sorted

  /** Every manifest under `root`: (version, its file status). */
  private def listedVersions(f: org.apache.hadoop.fs.FileSystem,
      root: String): Seq[(Int, org.apache.hadoop.fs.FileStatus)] = {
    val d = new org.apache.hadoop.fs.Path(s"$root/manifests")
    if (!f.exists(d)) Seq.empty
    else f.listStatus(d).toSeq.collect {
      case st if st.isFile && st.getPath.getName.startsWith("v") =>
        st.getPath.getName.stripPrefix("v").stripSuffix(".txt").toInt -> st
    }
  }

  /** What one commit attempt returns to [[commit]]: either a [[Commit]]
    * to claim, or [[NoOp]] — nothing to commit, the verb returns
    * `version` (a replayed txn, a provably empty delete, a fully
    * covered bloom analysis, an already-consumed mirror range).
    */
  private[sources] sealed trait Attempt
  private[sources] final case class NoOp(version: Int) extends Attempt

  /** Only what a commit CHANGES on top of its base: the new file list,
    * the stats/blooms/lens of its new files, its `#commit:` kind,
    * pinned schema and change-data files, an external txn id and a
    * mirror cursor. [[commit]] carries everything else forward from
    * the base.
    */
  private[sources] final case class Commit(files: Seq[String],
      kind: Option[String],
      schema: Option[org.apache.spark.sql.types.StructType],
      stats: Map[String, String] = Map.empty,
      blooms: Map[String, String] = Map.empty,
      lens: Map[String, Long] = Map.empty,
      cdf: Seq[String] = Seq.empty,
      cdfd: Seq[String] = Seq.empty,
      txn: Option[Long] = None,
      mirror: Option[Long] = None) extends Attempt

  /** Runs inside [[commit]] between a verb's attempt and its claim —
    * the spec's seam for injecting a concurrent commit into the race
    * window.
    */
  private[graft] var commitHook: () => Unit = () => ()

  /** The one optimistic commit loop behind every write verb: read the
    * latest version and its manifest, run the verb's `attempt` against
    * exactly that base, then claim v+1 with the attempt's changes on
    * top of the base — txn ranges (plus the attempt's txn id), stats,
    * blooms, lens and mirror cursor carried forward, written as a
    * `#base:` delta on v. On a lost race the attempt RECOMPUTES from
    * the new latest: a file set computed from a stale base would
    * silently drop the racer's rows (fatal for a merge, and for a
    * `layout` commit that claims row preservation). The loser's
    * already-written files stay as orphans for [[expire]]'s grace
    * vacuum. Gives up after 16 lost races.
    */
  private[sources] def commit(s: SparkSession, root: String)
                             (attempt: (Int, Manifest) => Attempt): Int = {
    var attempts = 0
    while (true) {
      val v = latestVersion(s, root)
      val m = if (v == 0) Manifest(Seq.empty, Seq.empty, None)
              else readManifestData(s, root, v)
      attempt(v, m) match {
        case NoOp(done) => return done
        case c: Commit =>
          commitHook()
          try {
            writeManifest(s, root, v + 1, c.files.distinct.sorted,
              c.txn.fold(m.txns)(mergeTxn(m.txns, _)), c.schema, c.kind,
              m.stats ++ c.stats, c.cdf, m.blooms ++ c.blooms,
              c.mirror.orElse(m.mirror),
              if (v >= 1) Some((v, m)) else None,
              m.lens ++ c.lens, c.cdfd)
            return v + 1
          } catch {
            case e: ConcurrentCommitException =>
              attempts += 1
              if (attempts >= 16) throw e
          }
      }
    }
    -1 // unreachable
  }

  /** Commit `df` as version 1 of a new dataset (fails if one exists). */
  def create(s: SparkSession, root: String, df: DataFrame): Int = {
    val bf = writeBatchFiles(s, root, df)
    writeManifest(s, root, 1, bf.files, schema = Some(df.schema),
      commitKind = Some("append"), stats = bf.stats, lens = bf.lens)
    1
  }

  /** Append: version v+1 = v's files ∪ the batch's own files. The
    * standing data files are untouched — a reader pinned at v is
    * unaffected, and a concurrent append commits the version after
    * (exactly one claims each number; the loser retries cleanly —
    * both spec-asserted). SCHEMA EVOLUTION: a batch carrying new
    * columns widens v+1's pinned schema (older files read the new
    * columns as null); a type change on an existing column is
    * rejected (see [[mergeSchemas]]).
    */
  def append(s: SparkSession, root: String, df: DataFrame): Int =
    commitAppend(s, root, df, writeBatchFiles(s, root, df), None)

  /** Commit an append's already-written files on whatever base is
    * latest — its file set is valid on any base, so a lost race only
    * re-reads the base (a metadata-only retry). A `txn` already in the
    * base's ranges is a no-op: a lost race may have been our own
    * concurrent replay. So is an empty batch that neither records a
    * txn nor widens the schema (an idle stream trigger).
    */
  private def commitAppend(s: SparkSession, root: String, df: DataFrame,
                           bf: BatchFiles, txn: Option[Long]): Int =
    commit(s, root) { (base, m) =>
      lazy val schema = Some(appendSchema(root, base, m, df.schema))
      if (txn.exists(txnCommitted(m.txns, _)) ||
          (base >= 1 && bf.files.isEmpty && txn.isEmpty && schema == m.schema)) NoOp(base)
      else Commit(m.files ++ bf.files, Some("append"), schema, bf.stats,
        lens = bf.lens, txn = txn)
    }

  /** Rewrite: commit `df` as v+1 from FRESH files only (a curation
    * drop) — old versions keep reading their own files. The rewrite
    * REPLACES the rows, so v+1's schema is the new frame's (a rewrite
    * may narrow — dropping a column is a curation action too) and
    * incremental consumers resync across it. The frame is the
    * caller's, computed from whatever version was latest at the call,
    * so it cannot be recomputed: if another commit lands first, the
    * rewrite fails with [[ConcurrentRewriteConflict]] instead of
    * publishing a file set that drops the racer's rows.
    */
  def rewrite(s: SparkSession, root: String, df: DataFrame): Int = {
    val from = latestVersion(s, root)
    val bf = writeBatchFiles(s, root, df)
    commit(s, root) { (base, _) =>
      if (base != from) throw new ConcurrentRewriteConflict(root, from, base)
      Commit(bf.files, Some("rewrite"), Some(df.schema), bf.stats, lens = bf.lens)
    }
  }

  /** A PURE-LAYOUT commit — same rows, fresh files ([[compact]],
    * [[cluster]], [[clusterZN]]): `build` re-lays out the base
    * version's rows and the commit is tagged `layout`, so incremental
    * consumers ([[changesBetween]], [[SnapshotTail]]) carry their
    * cursor across it with an EMPTY delta instead of failing into a
    * full resync (the Delta `dataChange=false` economics: at 100 TB a
    * routine compact must not force every consumer to re-read the
    * corpus). Built inside the commit loop, so a lost race rebuilds
    * from the new latest — never a layout computed from a stale read.
    * A standing index's compaction commits kind `rewrite` through it.
    */
  private[sources] def relayout(s: SparkSession, root: String,
                                kind: String = "layout")
                               (build: DataFrame => DataFrame): Int =
    commit(s, root) { (base, _) =>
      require(base >= 1, s"layout maintenance needs an existing dataset at $root")
      val df = build(read(s, root, base))
      val bf = writeBatchFiles(s, root, df)
      Commit(bf.files, Some(kind), Some(df.schema), bf.stats, lens = bf.lens)
    }

  /** Idempotent append keyed by an EXTERNAL transaction id (a
    * Structured Streaming batchId — the `foreachBatch` exactly-once
    * recipe): a replay of a committed txn is a no-op, so a restarted
    * stream re-delivering its last batch cannot duplicate rows.
    * "Committed" means the id is in the latest manifest's `#txn:`
    * ranges, and the commit loop re-probes on every attempt, so a
    * replay racing its in-flight original loses the claim and becomes a
    * no-op. Each call writes its own unique batch dir, exactly as
    * [[append]] does — a replay never touches the files an original is
    * about to publish — and a crashed or losing write is an orphan that
    * [[expire]] reclaims after its grace window.
    */
  def appendTxn(s: SparkSession, root: String, txnId: Long,
                df: DataFrame): Int = {
    val latest = latestVersion(s, root)
    // one manifest resolution per call, however long the lineage: the
    // range-compressed tags are carried forward on every commit, so
    // the probe survives compaction and expire
    if (latest >= 1 && txnCommitted(readManifestData(s, root, latest).txns, txnId))
      return latest
    commitAppend(s, root, df, writeBatchFiles(s, root, df), Some(txnId))
  }

  /** Streaming ingest into a versioned dataset: each micro-batch
    * commits as one snapshot version through [[appendTxn]] — restart
    * from the checkpoint re-delivers at-least-once, the txn-id
    * idempotence makes the dataset exactly-once (spec: restart
    * mid-stream, final read == the batch union with no duplicates).
    */
  def streamingSnapshotSink(stream: DataFrame, root: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      val s = batch.sparkSession
      if (latestVersion(s, root) == 0) {
        // v1 must exist before appends; an empty create is fine (the
        // first batch then lands as v2)
        try create(s, root, batch.limit(0))
        catch { case _: ConcurrentCommitException => () }
      }
      appendTxn(s, root, id, batch)
      ()
    }

  /** Versioned keyed MERGE — the SCD1 staple on the layer where it
    * matters: upsert `batch` into the latest version keeping the
    * NEWEST row per key (`orderCol` descending; a tie between a
    * standing row and a batch row goes to the BATCH — the
    * `Export.upsertKeepLast` convention, now committed as a snapshot
    * version). Updated keys replace their standing row, new keys
    * insert, untouched rows carry forward; the commit is tagged
    * `#commit:merge` and carries CHANGE-DATA FILES (`#cdf:` — the
    * post-image of every key the batch touched), so incremental
    * consumers that opt into upsert semantics
    * ([[changesBetween]]`(…, upserts = true)`) poll straight through
    * the merge reading only the bounded change set; append-only
    * consumers fail fast at it (feeding them new versions of old keys
    * would duplicate rows downstream).
    *
    * OPTIMISTIC CONCURRENCY AT THE MERGE LEVEL: unlike [[append]]
    * (whose file set is valid on any base), a merge's OUTPUT depends
    * on the base version it read — retrying a lost race on a moved
    * base with the already-written files would silently drop the
    * racer's rows. The loser therefore abandons its files (orphans;
    * [[expire]]'s grace vacuum reclaims them) and RECOMPUTES from the
    * new latest, so two concurrent merges over disjoint keys both land
    * (spec-asserted). A batch carrying new columns widens the schema
    * (old rows read them as null, the [[mergeSchemas]] rules).
    *
    * THE SCALE PATH IS THE PRUNE (the [[delete]] discipline applied to
    * MERGE — a daily 1 GB batch into a 100 TB corpus must not shuffle
    * 100 TB): (1) one small aggregate over the batch yields each key
    * column's hull [min, max] and null presence; files whose manifest
    * `#stats:` range is provably disjoint from the hull drop at the
    * manifest, zero I/O; (2) the surviving CANDIDATES are scanned on
    * the key columns only (column-pruned) and null-safe semi-joined to
    * the batch's distinct keys — exactly the files holding a batch key
    * are TOUCHED (Delta's findTouchedFiles pass); (3) only touched
    * files enter the keep-last window with the batch, every other file
    * carries forward BY PATH with its stats and blooms. A file without
    * usable stats is conservatively a candidate; a batch with a NULL
    * key disables the hull (stats never describe nulls) but not the
    * semi-join. On a range-clustered corpus a narrow-key batch
    * rewrites the few overlapping files out of 10⁶.
    *
    * KEYED DISCIPLINE: the standing state must be key-unique (merge
    * and the keyed sinks maintain this by construction) — a key
    * duplicated across two standing files would collapse only if both
    * files are touched. Behavioral note vs the pre-prune (r13) merge:
    * that one windowed the WHOLE corpus, so duplicate standing rows
    * for keys NOT in the batch also collapsed as a side effect; the
    * pruned merge leaves untouched files byte-identical, so such rows
    * persist until a batch touches their key. On a keyed lineage the
    * two are identical; a non-key-unique dataset reaches merge only by
    * raw appends outside the keyed sinks.
    *
    * Distributed shape: one key-column scan of the candidates, one
    * shuffle of (touched ∪ batch) by key (the window), one bounded
    * write. Ties WITHIN one side at equal `orderCol` break
    * arbitrarily; callers supply a total order when they care.
    *
    * `txn` keys the merge to an EXTERNAL transaction id (the
    * [[appendTxn]] contract on the upsert path — a Structured
    * Streaming batchId): a replay of a committed id is a no-op, probed
    * through the same range-compressed `#txn:` tags on every retry
    * attempt (a lost race may have been our own concurrent replay), so
    * [[streamingMergeSink]]'s restarts cannot double-apply a batch.
    */
  def merge(s: SparkSession, root: String, batch: DataFrame,
            keyCols: Seq[String], orderCol: String,
            txn: Option[Long] = None): Int = {
    import org.apache.spark.sql.expressions.Window
    require(keyCols.nonEmpty, "merge needs at least one key column")
    commit(s, root) { (base, m) =>
      require(base >= 1, s"merge needs an existing dataset at $root")
      // re-probe on every attempt: a lost race may have been our own
      // concurrent replay committing the same txn id
      if (txn.exists(txnCommitted(m.txns, _))) NoOp(base) else {
        val standingSc = schemaOf(root, base, m)
        val sc = mergeSchemas(standingSc, batch.schema)
        val touched = touchedFiles(s, root, m, standingSc, batch, keyCols)
        val survivors = m.files.filterNot(touched.toSet)
        val standingTouched = relation(s, root, m.copy(files = touched), standingSc)
        val w = Window.partitionBy(keyCols.map(col): _*)
          .orderBy(col(orderCol).desc, col("__src").desc)
        val merged = standingTouched.withColumn("__src", lit(0))
          .unionByName(batch.withColumn("__src", lit(1)),
            allowMissingColumns = true)
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .drop("__src", "__rn")
        val bf = writeBatchFiles(s, root, merged)
        // CHANGE-DATA FILES (the Delta CDF idea): the post-image of every
        // key the batch touched, derived from the freshly-written merged
        // files (one bounded scan ⋈ batch keys — never a second corpus
        // window; `mine` holds only rewritten-touched + batch rows, so
        // the scan is bounded by the prune), written beside the data
        // under changes/. Incremental consumers that opted into upsert
        // semantics read THIS bounded set across the merge instead of
        // resyncing the corpus.
        val cdf = keyedSemiJoin(relation(s, root, bf.manifest, sc), batch, keyCols)
        val cdfFiles = writeBatchFiles(s, root, cdf, "changes/c").files
        // untouched survivors keep their stats AND blooms by path; the
        // rewritten files' blooms drop with the files (live-key filter)
        Commit(survivors ++ bf.files, Some("merge"), Some(sc), bf.stats,
          lens = bf.lens, cdf = cdfFiles, txn = txn)
      }
    }
  }

  /** The files of `m` that may hold a row whose key matches some
    * `batch` row — the merge/mirror prune. Phase 1 is
    * manifest-resident: each key column's batch hull [min, max] prunes
    * stat-disjoint files with ZERO I/O (disabled when the batch
    * carries a NULL key anywhere — stats never describe nulls, so a
    * pruned file could hide a null-keyed standing row the batch's null
    * key must collapse with). Phase 2 scans the surviving candidates
    * on the KEY COLUMNS only (column-pruned) and null-safe semi-joins
    * the batch's distinct keys, so the rewrite set is exactly the
    * files holding a batch key: candidates that merely straddle the
    * hull still carry by path. A file without usable stats is
    * conservatively a candidate — pruning changes I/O, never results.
    */
  private def touchedFiles(s: SparkSession, root: String, m: Manifest,
      standingSc: StructType,
      batch: DataFrame, keyCols: Seq[String]): Seq[String] = {
    if (m.files.isEmpty) return Seq.empty
    // a key column ABSENT from the standing schema (a widening merge
    // keyed partly on the new column) cannot be scanned or
    // stat-pruned: fall back to the pre-prune semantics — every file
    // is touched, standing rows carry the column as null through the
    // keep-last window (unionByName allowMissingColumns)
    val standingNames = standingSc.fieldNames.toSet
    if (keyCols.exists(k => !standingNames.contains(k))) return m.files
    val aggs = keyCols.flatMap(k => Seq(
      min(col(k)).as(s"_mn_$k"), max(col(k)).as(s"_mx_$k"),
      sum(when(col(k).isNull, 1).otherwise(0)).as(s"_nl_$k")))
    val r = batch.agg(aggs.head, aggs.tail: _*).head()
    val anyNull = keyCols.exists { k =>
      val v = r.getAs[Any](s"_nl_$k")
      v != null && v.asInstanceOf[Long] > 0L
    }
    // a hull bound must be a value cmpStat can order: NaN/Infinity in
    // a floating key (Spark's max ranks NaN above everything) would
    // crash the BigDecimal compare — that column simply doesn't
    // hull-prune (any OTHER key column's hull still may; conjunction
    // pruning stays sound because a prune needs disjointness on SOME
    // column)
    def orderable(v: Any): Boolean = v match {
      case d: java.lang.Double => !d.isNaN && !d.isInfinite
      case f: java.lang.Float  => !f.isNaN && !f.isInfinite
      case _ => true
    }
    // a key column whose batch min is null under !anyNull means the
    // batch is EMPTY — nothing can match, nothing is touched
    var empty = true
    val hull = if (anyNull) Seq.empty else keyCols.flatMap { k =>
      val (mn, mx) = (r.getAs[Any](s"_mn_$k"), r.getAs[Any](s"_mx_$k"))
      if (mn == null || mx == null) Seq.empty
      else {
        empty = false
        if (orderable(mn) && orderable(mx))
          Seq(StatsPred.GtEq(k, mn), StatsPred.LtEq(k, mx))
        else Seq.empty
      }
    }
    val candidates =
      if (anyNull) m.files
      else if (empty) Seq.empty
      else if (hull.isEmpty) m.files // only unorderable bounds: no prune
      else filesWhereM(m, hull)
    if (candidates.isEmpty) return Seq.empty
    val scan = relation(s, root, m.copy(files = candidates), standingSc)
      .select(keyCols.map(col) :+ input_file_name().as("__file"): _*)
    // input_file_name's URI normalization differs from the manifest's
    // Path.toString — match on the globally-unique part NAME, never
    // the full path (the analyzeBloom precedent)
    val names = keyedSemiJoin(scan, batch, keyCols)
      .select(col("__file")).distinct().collect()
      .map(row => fileStatKey(row.getString(0))).toSet
    candidates.filter(f => names.contains(fileStatKey(f)))
  }

  /** Rows of `left` whose key NULL-SAFELY matches some batch key — the
    * shared semi-join behind find-touched and the CDF derivation (a
    * null key must match a null standing key exactly as the keep-last
    * window groups them). The key frame is renamed to dodge ambiguity;
    * AQE broadcasts it when small.
    */
  private def keyedSemiJoin(left: DataFrame, batch: DataFrame,
                            keyCols: Seq[String]): DataFrame = {
    val keys = keyCols.foldLeft(batch.select(keyCols.map(col): _*).distinct())(
      (d, k) => d.withColumnRenamed(k, s"__bk_$k"))
    val cond = keyCols.map(k => left(k) <=> keys(s"__bk_$k")).reduce(_ && _)
    left.join(keys, cond, "leftsemi")
  }

  /** Streaming UPSERT ingest into a versioned dataset — the exactly-
    * once recipe of [[streamingSnapshotSink]] on the MERGE path: each
    * micro-batch commits as one keep-last merge keyed by the batchId,
    * so a restarted stream re-delivering its last batch cannot
    * double-apply it (the idempotence probe in [[merge]]). The live
    * dataset is the keyed keep-last state; incremental consumers read
    * the merge change feed (`upserts = true`), never the corpus.
    */
  def streamingMergeSink(stream: DataFrame, root: String,
                         keyCols: Seq[String], orderCol: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      val s = batch.sparkSession
      if (latestVersion(s, root) == 0) {
        // merge needs a standing v1; an empty create is fine (the
        // first batch then merges into the empty state)
        try create(s, root, batch.limit(0))
        catch { case _: ConcurrentCommitException => () }
      }
      merge(s, root, batch, keyCols, orderCol, txn = Some(id))
      ()
    }

  /** Stats-pruned row-level DELETE (copy-on-write) — the compliance
    * staple on a standing training corpus (a takedown, a GDPR purge, a
    * contaminated-source removal): remove every row satisfying ALL of
    * `preds` (a conjunction — the [[readWhere]] predicate surface),
    * committed as a new version so pinned readers are never mutated.
    *
    * THE SCALE PATH IS THE PRUNE: only files whose manifest `#stats:`
    * range MAY contain a matching row are rewritten (minus their
    * matching rows); every other file carries forward by PATH — zero
    * data I/O for the untouched corpus. On a range-clustered dataset
    * ([[cluster]]) deleting a key range rewrites the few overlapping
    * files out of 10⁶, which is the difference between a surgical purge
    * and a corpus rewrite. A file without usable stats is conservatively
    * rewritten (scanned + filtered), never skipped — pruning changes
    * I/O, not results.
    *
    * Semantics match SQL DELETE WHERE: rows where the predicate is
    * NULL (a null in a compared column) are KEPT. The commit is tagged
    * `#commit:delete` and carries the deleted rows' PRE-IMAGES as
    * change-data files, so [[changeFeed]] consumers retract exactly
    * those keys without rescanning anything; [[changesBetween]] fails
    * fast at the boundary in both modes (neither an append-only nor an
    * upsert fold can represent a retraction). Concurrency is
    * merge-level: the output depends on the base read, so a lost race
    * abandons its files (grace-vacuumed orphans) and recomputes on the
    * new latest.
    */
  def delete(s: SparkSession, root: String, preds: Seq[StatsPred]): Int = {
    require(preds.nonEmpty, "delete needs at least one predicate")
    commit(s, root) { (base, m) =>
      require(base >= 1, s"delete needs an existing dataset at $root")
      val candidates = filesWhereM(m, preds)
      // stats prove NO file can hold a matching row: the delete is a
      // no-op — return the standing version instead of committing a
      // consumer-visible retraction boundary for zero changed rows
      if (candidates.isEmpty) NoOp(base) else {
        val survivors = m.files.filterNot(candidates.toSet)
        val sc = schemaOf(root, base, m)
        val hit = coalesce(preds.map(predColumn).reduce(_ && _), lit(false))
        val cand = relation(s, root, m.copy(files = candidates), sc)
        val bfd = writeBatchFiles(s, root, cand.filter(!hit))
        val cdfFiles = writeBatchFiles(s, root, cand.filter(hit), "changes/c").files
        // survivors keep their blooms; the rewritten files' drop
        Commit(survivors ++ bfd.files, Some("delete"), Some(sc), bfd.stats,
          lens = bfd.lens, cdf = cdfFiles)
      }
    }
  }


  /** Stats-pruned row-level UPDATE (copy-on-write) — the remaining
    * everyday lakehouse verb after merge/delete/restore (a relabel, a
    * quality-flag fix, a source rename): for every row satisfying ALL
    * of `preds`, assign each `set` column its new expression
    * (evaluated against the OLD row, SQL UPDATE semantics), committed
    * as a new version. Assignments cast to the column's standing type
    * — an update must never mutate the schema.
    *
    * THE SCALE PATH IS THE PRUNE (the [[delete]] discipline): only
    * files whose manifest stats MAY hold a matching row rewrite;
    * everything else carries by path with its stats/blooms/lens.
    * Rows where the predicate is NULL are left unchanged (SQL UPDATE
    * WHERE). Zero stat-candidates ⇒ no-op, no commit.
    *
    * CHANGE DATA: the commit is tagged `#commit:update` and carries
    * BOTH halves of the Delta CDF update pair — the matched rows'
    * PRE-images as `#cdfd:` files and their POST-images as `#cdf:` —
    * so [[changeFeed]] delivers `delete`(pre) + `upsert`(post) rows
    * and the keyed fold stays exact EVEN when the update rewrites a
    * key column (the old key retracts, the new key upserts); a
    * key-preserving update folds to the post-image because the typed
    * fold breaks same-version ties upsert-over-delete.
    * [[changesBetween]] fails fast in both modes (a row feed cannot
    * represent the potential retraction); a stats false positive that
    * matched ZERO rows passes through consumers as an empty delta.
    * Concurrency is merge-level: a lost race abandons its files
    * (grace-vacuumed orphans) and recomputes against the new latest.
    */
  def update(s: SparkSession, root: String, preds: Seq[StatsPred],
             set: Map[String, org.apache.spark.sql.Column]): Int = {
    require(preds.nonEmpty, "update needs at least one predicate")
    require(set.nonEmpty, "update needs at least one assignment")
    commit(s, root) { (base, m) =>
      require(base >= 1, s"update needs an existing dataset at $root")
      val sc = schemaOf(root, base, m)
      val byName = sc.fields.map(f => f.name -> f.dataType).toMap
      set.keys.foreach(c => require(byName.contains(c),
        s"update cannot assign unknown column '$c'"))
      val candidates = filesWhereM(m, preds)
      if (candidates.isEmpty) NoOp(base) else { // provably zero matches
        val survivors = m.files.filterNot(candidates.toSet)
        val hit = coalesce(preds.map(predColumn).reduce(_ && _), lit(false))
        val cand = relation(s, root, m.copy(files = candidates), sc)
        // flag FIRST: assignments must see the old row, and the change
        // sets must select on the ORIGINAL match, not the updated values.
        // ALL assignments evaluate in ONE projection — a sequential
        // withColumn chain would let an assignment referencing another
        // SET column see its already-updated value (swap(a, b) would
        // silently yield b = b), violating SQL UPDATE semantics
        val flagged = cand.withColumn("__hit", hit)
        val updated = flagged.select(sc.fieldNames.map { n =>
          set.get(n) match {
            case Some(e) =>
              when(col("__hit"), e.cast(byName(n))).otherwise(col(n)).as(n)
            case None => col(n)
          }
        } :+ col("__hit"): _*)
        val bfu = writeBatchFiles(s, root,
          updated.drop("__hit").select(sc.fieldNames.map(col): _*))
        val preImages = cand.filter(hit)
        // post-images recompute through the same map-only plan that
        // produced the fresh files (an update may move rows OFF the
        // predicate — that is its point — so re-filtering the fresh
        // files by `hit` would miss them; there is no key to semi-join
        // on). Deterministic assignments are therefore part of the
        // contract — a rand() assignment would diverge between the data
        // files and the change set.
        val postImages = updated.filter(col("__hit"))
          .drop("__hit").select(sc.fieldNames.map(col): _*)
        val cdfdFiles = writeBatchFiles(s, root, preImages, "changes/c").files
        val cdfFiles = writeBatchFiles(s, root, postImages, "changes/c").files
        Commit(survivors ++ bfu.files, Some("update"), Some(sc), bfu.stats,
          lens = bfu.lens, cdf = cdfFiles, cdfd = cdfdFiles)
      }
    }
  }


  /** Compaction: fold the latest version's accumulated small files
    * into `partitions` fresh ones as a new version — pure layout, same
    * rows (coalesce: no shuffle), committed `dataChange = false` so
    * incremental consumers poll straight through it (a routine compact
    * must never force a corpus resync downstream). Old versions still
    * read their own files until [[expire]] reclaims them; at 10⁶
    * accumulated append files this is what keeps the manifest (and the
    * scan's task count) proportional to DATA size, not commit count.
    */
  def compact(s: SparkSession, root: String, partitions: Int = 1): Int =
    relayout(s, root)(_.coalesce(math.max(1, partitions)))

  /** Re-cluster the latest version's rows by `cols` into range-disjoint
    * files — the OPTIMIZE ZORDER verb for the stats-skipping read path
    * (Delta's other layout maintenance beside [[compact]]): after
    * clustering, every file covers a narrow range of the leading
    * columns, so the manifest `#stats:` lines become SELECTIVE and
    * [[readWhere]] predicates prune to the few overlapping files
    * (range-partitioning is the exact single/prefix-column case of a
    * z-order; a true multi-column curve belongs in the write layout,
    * Export.zOrdered, when predicates hit non-prefix columns). Pure
    * layout (`dataChange = false`): same rows, fresh files — pinned
    * readers keep their versions and incremental consumers poll
    * straight through with an empty delta. One range shuffle over the
    * corpus, the unavoidable clustering cost, amortized across every
    * subsequent pruned read.
    */
  def cluster(s: SparkSession, root: String, cols: Seq[String],
              partitions: Int = 8): Int = {
    require(cols.nonEmpty, "cluster needs at least one column")
    relayout(s, root)(
      _.repartitionByRange(math.max(1, partitions), cols.map(col): _*))
  }

  /** Re-cluster the latest version on the MORTON CURVE of two numeric
    * columns (the OPTIMIZE ZORDER BY verb proper, completing
    * [[cluster]]'s prefix-range case): each file then covers a compact
    * z-range — a rectangle-ish region of the (colA, colB) plane — so
    * its footer min/max is narrow on BOTH dimensions and a [[readWhere]]
    * predicate on EITHER column prunes at the manifest (range
    * clustering prunes only its leading column; sort by ts and a
    * user_id filter still touches every file). Pure layout
    * (`dataChange = false`): same rows, pinned readers untouched,
    * incremental consumers poll through with an empty delta. Cost: one
    * min/max aggregate (broadcast scalar) + one range shuffle,
    * amortized across every subsequent two-dimensional pruned read.
    */
  def clusterZ(s: SparkSession, root: String, colA: String, colB: String,
               partitions: Int = 16): Int =
    clusterZN(s, root, Seq(colA, colB), partitions)

  /** N-dimensional [[clusterZ]] (OPTIMIZE ZORDER BY c1, …, cN): the
    * round-robin Morton curve over all N numeric columns, each bucketed
    * to `Layout.bitsFor(N)` bits — 16 through three dims, 15 at four —
    * so a [[readWhere]] predicate on ANY of the dims prunes at the
    * manifest (the three-plus-dimension read — source + time + length —
    * is routine at corpus scale). Same pure-layout contract and
    * recompute-on-conflict concurrency as the two-dim verb.
    */
  def clusterZN(s: SparkSession, root: String, cols: Seq[String],
                partitions: Int = 16): Int =
    relayout(s, root)(df =>
      Layout.withZN(df, cols)
        .repartitionByRange(math.max(1, partitions), col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z"))

  /** RESTORE (the Delta `RESTORE TABLE … TO VERSION` verb): make the
    * dataset's latest state equal version `v` again by committing v's
    * OWN file list as a new version — zero data I/O (the files already
    * exist; the commit is one manifest write), full lineage preserved
    * (the bad versions stay readable for forensics until [[expire]]).
    * The commit is tagged `rewrite`: rows changed relative to the
    * previous latest with no change record, so incremental consumers
    * resync — honest, a rollback IS a row replacement. Restoring the
    * current latest is a no-op. The restored version's schema, stats,
    * and blooms all carry (they describe the same files).
    */
  def restore(s: SparkSession, root: String, v: Int): Int = {
    val latest = latestVersion(s, root)
    require(v >= 1 && v <= latest, s"cannot restore $root to v$v (latest $latest)")
    if (v == latest) return latest
    val m = readManifestData(s, root, v)
    commit(s, root)((_, _) =>
      Commit(m.files, Some("rewrite"), m.schema, m.stats, m.blooms, m.lens))
  }

  /** SHALLOW CLONE (the Delta zero-copy clone): a NEW dataset root
    * whose v1 manifest references the SOURCE version's files — no data
    * is copied, so cloning a 100 TB corpus for an experiment costs one
    * manifest write. Schema, stats, and blooms carry. The clone then
    * evolves independently: its appends/merges/deletes write under its
    * own root and never touch the source. THE SHALLOW CONTRACT (same
    * as Delta's): the clone depends on the source's files — an
    * [[expire]] on the source that reclaims files the clone still
    * references breaks the clone (expire only sees its own root's
    * manifests). Clone from versions the source retains, or re-anchor
    * with a compact on the clone (its rewrite copies the rows into
    * clone-owned files).
    */
  def shallowClone(s: SparkSession, srcRoot: String, v: Int,
                   dstRoot: String): Unit = {
    val m = readManifestData(s, srcRoot, v)
    require(!fs(s).exists(manifestPath(dstRoot, 1)),
      s"clone target $dstRoot already exists")
    writeManifest(s, dstRoot, 1, m.files, Seq.empty, m.schema,
      Some("append"), m.stats, Seq.empty, m.blooms, lens = m.lens)
  }

  /** Orphans younger than this survive [[expire]]'s vacuum (the Delta
    * VACUUM retention idea): a concurrent append's durably-written but
    * not-yet-committed files are never "unreachable garbage" — they are
    * a commit in flight. The grace window therefore BOUNDS the longest
    * write-to-commit duration a concurrent writer may take: an append
    * whose data write outlives the grace can have its files vacuumed
    * before its manifest commits, and the commit then publishes a
    * manifest referencing deleted files — silent loss at read time.
    * Default 4 h (the Delta retention scale): at 100 TB a large batch
    * write plausibly runs for an hour; 20 minutes (the previous
    * default) did not clear that bar. Callers that KNOW no writer is
    * in flight pass a smaller window explicitly.
    */
  val DefaultOrphanGraceMs: Long = 4L * 60 * 60 * 1000

  /** Expire every version below `retainMin`: delete their manifests,
    * then vacuum data/ and the change files of changes/ by one rule. A
    * file is reclaimed iff it is unreachable from
    * every LIVE (retained) manifest AND either (a) an EXPIRED manifest
    * referenced it — it was committed, and every version that could
    * read it is gone — or (b) it is an orphan older than
    * `orphanGraceMs` (a crashed half-write). Rule (b)'s grace window is
    * what makes expire safe against CONCURRENT appends: a racing
    * append's data files are durable before its manifest commits, and
    * without the grace a vacuum in that window would reclaim them —
    * the append would then publish a manifest referencing deleted
    * files. A reader pinned at a retained version is untouched; a
    * reader pinned at an expired version fails fast on the missing
    * manifest rather than silently scanning reclaimed files.
    */
  def expire(s: SparkSession, root: String, retainMin: Int,
             orphanGraceMs: Long = DefaultOrphanGraceMs): Unit = {
    val f = fs(s)
    val latest = latestVersion(s, root)
    require(retainMin >= 1 && retainMin <= latest,
      s"retainMin $retainMin out of range [1, $latest]")
    // the oldest retained version may be a DELTA manifest resolving
    // through the chain about to be deleted: checkpoint it full FIRST,
    // before any mutation (idempotent; a crash after it just leaves
    // extra manifests for the next expire). If the filesystem offers
    // no atomic manifest replace, FAIL FAST with nothing mutated —
    // keeping the chain alive would leave expired versions readable
    // over vacuumed files (silent missing rows), and deleting it would
    // break the retained version.
    if (!materializeManifest(s, root, retainMin))
      throw new IllegalStateException(
        s"cannot checkpoint v$retainMin at $root before expiry (no " +
          "atomic manifest replace on this filesystem); expire at a " +
          s"checkpoint version (a multiple of $CheckpointEvery) instead")
    val retainedM = (retainMin to latest).iterator
      .filter(v => f.exists(manifestPath(root, v)))
      .map(v => readManifestData(s, root, v)).toSeq
    val expiredM = (1 until retainMin).iterator
      .filter(v => f.exists(manifestPath(root, v)))
      .map(v => readManifestData(s, root, v)).toSeq
    (1 until retainMin).foreach { v =>
      val p = manifestPath(root, v)
      if (f.exists(p)) f.delete(p, false)
      memoDrop(root, v)
    }
    val cutoff = System.currentTimeMillis() - math.max(0L, orphanGraceMs)
    // one vacuum for data/ and changes/ (a merge's change set outlives
    // exactly the versions that could consume it). A subdir is pruned —
    // _SUCCESS included — only once no part file survives AND it is
    // provably dead: its files were just reclaimed from expired
    // manifests (their delete bumps its mtime past the cutoff), or it
    // is an aged orphan; a young dir with no data is a write in flight.
    def sweep(dir: String, live: Set[String], expired: Set[String]): Unit = {
      val d = new org.apache.hadoop.fs.Path(s"$root/$dir")
      def part(k: org.apache.hadoop.fs.FileStatus) =
        k.isFile && k.getPath.getName.startsWith("part-")
      def reclaim(k: org.apache.hadoop.fs.FileStatus) = part(k) &&
        !live.contains(k.getPath.toString) &&
        (expired.contains(k.getPath.toString) || k.getModificationTime < cutoff)
      if (f.exists(d)) f.listStatus(d).foreach { st =>
        if (st.isDirectory) {
          val kids = f.listStatus(st.getPath)
          kids.filter(reclaim).foreach(k => f.delete(k.getPath, false))
          val dead = kids.exists(k => expired.contains(k.getPath.toString)) ||
            (kids.forall(k => k.isFile && k.getModificationTime < cutoff) &&
              st.getModificationTime < cutoff)
          if (dead && !f.listStatus(st.getPath).exists(part)) f.delete(st.getPath, true)
        } else if (reclaim(st)) f.delete(st.getPath, false) // pre-r11 flat layout
      }
    }
    sweep("data", retainedM.flatMap(_.files).toSet, expiredM.flatMap(_.files).toSet)
    sweep("changes", retainedM.flatMap(m => m.cdf ++ m.cdfd).toSet,
      expiredM.flatMap(m => m.cdf ++ m.cdfd).toSet)
  }

  /** Time-travel read: a scan over exactly version v's files, under
    * v's PINNED schema (metadata-only schema evolution: files written
    * before a column existed read it as null; no footer merging).
    * PLANNER-INTEGRATED pruning: an ORDINARY `.filter(...)` on the
    * read reaches the manifest's stats/bloom prune at plan time —
    * Catalyst pushes the data filters to the scan, the custom FileIndex
    * hands them to [[filesWhereM]], and only the surviving files are
    * planned. No [[StatsPred]] surface needed; unsupported predicate
    * shapes simply don't prune. Same correctness contract as
    * [[readWhere]]: the scan re-applies every filter.
    *
    * Metadata-column caveat: the scan plans FileStatus objects from
    * manifest `#len:` lines with SYNTHETIC mtime 0 / blockSize, so
    * `_metadata.file_modification_time` over this read reports the
    * epoch, not the real mtime (path/name/size are real). Use
    * [[versionAsOf]]/manifest mtimes for commit-time reasoning.
    */
  def read(s: SparkSession, root: String, v: Int): DataFrame = {
    val m = readManifestData(s, root, v)
    relation(s, root, m, schemaOf(root, v, m))
  }

  /** THE relation over snapshot files — every scan of this layer plans
    * through it: `m.files` under `schema`, through the standard
    * file-source path ([[org.apache.spark.sql.GraftSnapshotScan]]:
    * vectorized parquet, whole-stage codegen) with `m`'s stats/bloom
    * prune in the loop. Callers narrow `m.files` to what they scan (a
    * prune's candidates, a commit's change files, a write's fresh
    * files); over zero files the relation is empty.
    */
  private def relation(s: SparkSession, root: String, m: Manifest,
                       schema: StructType): DataFrame =
    org.apache.spark.sql.GraftSnapshotScan.dataFrame(s,
      new org.apache.spark.sql.GraftSnapshotFileIndex(
        fileStatuses(s, root, m.files, m.lens),
        exprs => filesWhereM(m, translateFilters(exprs))),
      schema)

  /** FileStatus objects for `files`: built from their `#len:` lengths
    * with ZERO filesystem calls (mtime/blockSize are synthetic — the
    * scan uses only path + length); files without a `#len:` line
    * (change files) cost ONE listStatus per subdir (one per commit),
    * never a getFileStatus RPC per file. FAILS FAST on a referenced
    * file the listing lost (a vacuumed pinned version, a manual
    * delete): silently planning fewer files would return silently
    * missing rows.
    */
  private[sources] def fileStatuses(s: SparkSession, root: String,
      files: Seq[String], lens: Map[String, Long])
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    val (known, unknown) = files.partition(p => lens.contains(fileStatKey(p)))
    val fromLens = known.map(p => new org.apache.hadoop.fs.FileStatus(
      lens(fileStatKey(p)), false, 1, 128L * 1024 * 1024, 0L,
      new org.apache.hadoop.fs.Path(p)))
    val wanted = unknown.toSet
    val listed = unknown.map(new org.apache.hadoop.fs.Path(_)).groupBy(_.getParent)
      .keys.toSeq.flatMap(dir => fs(s).listStatus(dir)
        .filter(st => st.isFile && wanted.contains(st.getPath.toString)))
    if (listed.size != unknown.size) {
      val found = listed.map(_.getPath.toString).toSet
      throw new java.io.FileNotFoundException(
        s"$root references missing file(s): " +
          unknown.filterNot(found).take(3).mkString(", "))
    }
    fromLens ++ listed
  }

  /** Version v's pinned read schema, from manifest `m`. Every data
    * commit tags `#schema:` and `#commit:`; a data manifest missing
    * either fails fast, naming the version (IndexVersions' root
    * manifests carry neither, and are never read as data).
    */
  private[sources] def schemaOf(root: String, v: Int, m: Manifest): StructType =
    m.schema.filter(_ => m.commit.isDefined).getOrElse(throw untagged(root, v))

  private def untagged(root: String, v: Int) = new IllegalStateException(
    s"unsupported manifest v$v at $root: a data manifest needs #schema: and #commit: tags")

  /** Comparison predicates the manifest stats can prune on — a
    * deliberately small, honest surface (the Delta data-skipping
    * shape): conjunctions of per-column comparisons against literals.
    * Anything richer goes through `read(v).filter(...)`, which prunes
    * the shapes [[translateFilters]] covers at plan time.
    */
  sealed trait StatsPred { def col: String }
  object StatsPred {
    final case class Eq(col: String, v: Any) extends StatsPred
    final case class Lt(col: String, v: Any) extends StatsPred
    final case class LtEq(col: String, v: Any) extends StatsPred
    final case class Gt(col: String, v: Any) extends StatsPred
    final case class GtEq(col: String, v: Any) extends StatsPred
    /** Point-lookup LIST (SQL IN): a file survives iff SOME value may
      * be present — range-checked per value, and bloom-excluded only
      * when EVERY value's membership is provably absent.
      */
    final case class InSet(col: String, vs: Seq[Any]) extends StatsPred
    /** `col IS NULL`: prunes a file whose footer null count is
      * EXACTLY zero ("nc" in the stats json; absent → never prune).
      */
    final case class IsNull(col: String) extends StatsPred
    /** `col IS NOT NULL`: prunes a file whose column is ALL null
      * (null count == row count) — Catalyst pushes this for every
      * filtered column, so sparse-column corpora skip for free.
      */
    final case class NotNull(col: String) extends StatsPred
    /** `col LIKE 'p%'` (startswith): the string range [p, pNext) where
      * pNext increments p's last char — prunes when a file's stat
      * range cannot intersect it. ASCII prefixes only (the stats
      * contract: non-ASCII never recorded, so never pruned).
      */
    final case class Prefix(col: String, p: String) extends StatsPred
    /** Disjunction: a file prunes iff EVERY branch's (partial)
      * translation excludes it — an untranslatable branch (empty
      * list) excludes nothing, so the Or prunes nothing. `col` is
      * unused (the branches carry their own columns).
      */
    final case class OrPred(left: Seq[StatsPred],
                            right: Seq[StatsPred]) extends StatsPred {
      def col: String = ""
    }
  }

  /** One column's harvested footer statistics: the min/max range (when
    * recorded — kind 'l'/'d'/'s'), the null count, and the file's row
    * count. Any piece may be absent; absence never prunes.
    */
  private final case class ColStat(range: Option[(Char, Any, Any)],
                                   nc: Option[Long], rc: Option[Long])

  // non-finite floating literals (NaN, ±Inf) are not orderable by
  // the BigDecimal compare — never prune on them (a NaN Eq keeps
  // every file; the scan decides)
  private def finiteLit(v: Any): Boolean = v match {
    case d: Double => java.lang.Double.isFinite(d)
    case f: Float  => java.lang.Float.isFinite(f)
    case _ => true
  }

  private def comparableLit(kind: Char, v: Any): Boolean = (kind, v) match {
    case ('l', _: Long) | ('l', _: Int) => true
    case ('d', _: Double) | ('d', _: Float) |
         ('d', _: Long) | ('d', _: Int) | ('l', _: Double) => finiteLit(v)
    case ('s', _: String) => true
    case _ => false
  }

  /** Can a file whose per-column stats are `st` contain a row
    * satisfying `p`? `absent(col, kind, base)` is the bloom oracle —
    * true iff the file's bloom PROVABLY excludes the value hashing to
    * (kind, base); the range-only pass supplies a constant-false one.
    * Absence of any stat keeps the file: stats prune, never decide.
    */
  private def maySatisfy(st: Map[String, ColStat], p: StatsPred,
      absent: (String, Char, Long) => Boolean): Boolean = {
    def range(c: String): Option[(Char, Any, Any)] = st.get(c).flatMap(_.range)
    def bloomAbsent(c: String, v: Any): Boolean =
      bloomBaseLit(v).exists { case (k, b) => absent(c, k, b) }
    p match {
      case StatsPred.InSet(_, vs) if vs.isEmpty =>
        false // IN () / IN (null) matches nothing, stats or not
      case StatsPred.InSet(c, vs) =>
        // a file survives iff SOME value may be present — range-prune
        // only when every value is stat-comparable (one untranslatable
        // value could match anything); bloom-prune only when EVERY
        // value is provably absent
        val rangeOk = range(c) match {
          case Some((kind, mn, mx)) if vs.forall(comparableLit(kind, _)) =>
            vs.exists(v => cmpStat(mn, v) <= 0 && cmpStat(mx, v) >= 0)
          case _ => true
        }
        rangeOk && !vs.forall(bloomAbsent(c, _))
      case StatsPred.Eq(c, v) =>
        val rangeOk = range(c) match {
          case Some((kind, mn, mx)) if comparableLit(kind, v) =>
            cmpStat(mn, v) <= 0 && cmpStat(mx, v) >= 0
          case _ => true
        }
        rangeOk && !bloomAbsent(c, v)
      case StatsPred.Lt(c, v) => range(c) match {
        case Some((kind, mn, _)) if comparableLit(kind, v) => cmpStat(mn, v) < 0
        case _ => true
      }
      case StatsPred.LtEq(c, v) => range(c) match {
        case Some((kind, mn, _)) if comparableLit(kind, v) => cmpStat(mn, v) <= 0
        case _ => true
      }
      case StatsPred.Gt(c, v) => range(c) match {
        case Some((kind, _, mx)) if comparableLit(kind, v) => cmpStat(mx, v) > 0
        case _ => true
      }
      case StatsPred.GtEq(c, v) => range(c) match {
        case Some((kind, _, mx)) if comparableLit(kind, v) => cmpStat(mx, v) >= 0
        case _ => true
      }
      case StatsPred.IsNull(c) =>
        // provably no nulls in the file ⇒ IS NULL matches nothing
        !st.get(c).flatMap(_.nc).contains(0L)
      case StatsPred.NotNull(c) =>
        // ALL values null ⇒ IS NOT NULL matches nothing
        !(st.get(c).exists(cs => cs.nc.isDefined && cs.nc == cs.rc))
      case StatsPred.Prefix(c, pre) => range(c) match {
        case Some(('s', mn, mx)) if pre.nonEmpty && pre.last < 126 =>
          // x startswith pre ⇔ pre <= x < preNext; intersect with
          // [mn, mx] (ASCII-only stats, so last-char+1 stays ASCII)
          val preNext = pre.init + (pre.last + 1).toChar
          cmpStat(mx, pre) >= 0 && cmpStat(mn, preNext) < 0
        case _ => true
      }
      case StatsPred.OrPred(l, r) =>
        // prune iff EVERY branch excludes; an empty (untranslatable)
        // branch excludes nothing
        (l.isEmpty || l.forall(maySatisfy(st, _, absent))) ||
          (r.isEmpty || r.forall(maySatisfy(st, _, absent)))
    }
  }

  /** A memoizing per-file stats reader over one manifest's raw json. */
  private def statsReader(m: Manifest): String => Map[String, ColStat] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val parsed = scala.collection.mutable.HashMap.empty[String,
      Map[String, ColStat]]
    file => parsed.getOrElseUpdate(file,
      m.stats.get(fileStatKey(file)).map { j =>
        val node = mapper.readTree(j)
        import scala.jdk.CollectionConverters._
        node.fields().asScala.map { e =>
          val o = e.getValue
          val range: Option[(Char, Any, Any)] =
            Option(o.get("t")).map(_.asText.head).flatMap {
              case 'l' => Some(('l', o.get("min").asLong, o.get("max").asLong))
              case 'd' => Some(('d', o.get("min").asDouble, o.get("max").asDouble))
              case 's' => Some(('s', o.get("min").asText, o.get("max").asText))
              case _   => None
            }
          e.getKey -> ColStat(range,
            Option(o.get("nc")).map(_.asLong),
            Option(o.get("rc")).map(_.asLong))
        }.toMap
      }.getOrElse(Map.empty))
  }

  /** The files of manifest `m` that may contain rows satisfying ALL
    * of `preds`, judged from its `#stats:` and `#bloom:` lines alone —
    * zero footer/data I/O. A file with no stats (or none for a
    * predicate's column, or a stat kind mismatching the literal) is
    * KEPT: stats prune, they never decide. Takes the parsed manifest
    * because the callers ([[readWhere]], [[delete]], [[merge]]'s hull)
    * have one in hand,
    * and at 10⁶ files the manifest parse is the metadata bottleneck
    * (one parse per call, never two). Two passes: (1) range/null-count
    * pruning from the driver-resident stats; (2) for the survivors,
    * bloom membership. Pass 2 re-evaluates the FULL predicate with
    * both stat kinds, so an Or excluded half by range and half by
    * bloom still prunes.
    */
  private[sources] def filesWhereM(m: Manifest,
                                   preds: Seq[StatsPred]): Seq[String] = {
    if (preds.isEmpty || (m.stats.isEmpty && m.blooms.isEmpty))
      return m.files
    val statsOf = statsReader(m)
    val noBloom = (_: String, _: Char, _: Long) => false
    val rangeOk = m.files.filter(f =>
      preds.forall(maySatisfy(statsOf(f), _, noBloom)))
    val probes = collectProbes(preds)
    if (probes.isEmpty || rangeOk.isEmpty || m.blooms.isEmpty) return rangeOk
    val absentMap = bloomAbsentMap(m, rangeOk, probes)
    rangeOk.filter { f =>
      val n = fileStatKey(f)
      val forFile = (c: String, k: Char, b: Long) =>
        absentMap.getOrElse((c, k, b), Set.empty[String]).contains(n)
      preds.forall(maySatisfy(statsOf(f), _, forFile))
    }
  }

  /** Every bloom-probeable (col → distinct (kind, base) hashes) the
    * predicate tree's Eq/In literals imply, Or branches included.
    */
  private def collectProbes(preds: Seq[StatsPred])
      : Map[String, Seq[(Char, Long)]] = {
    val out = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashSet[(Char, Long)]]
    def add(c: String, v: Any): Unit = bloomBaseLit(v).foreach(kb =>
      out.getOrElseUpdate(c,
        scala.collection.mutable.LinkedHashSet.empty) += kb)
    def walk(p: StatsPred): Unit = p match {
      case StatsPred.Eq(c, v)     => add(c, v)
      case StatsPred.InSet(c, vs) => vs.foreach(add(c, _))
      case StatsPred.OrPred(l, r) => l.foreach(walk); r.foreach(walk)
      case _ => ()
    }
    preds.foreach(walk)
    out.iterator.map { case (c, s) => c -> s.toSeq }.toMap
  }

  /** For each (col, kind, base) probe, the set of file NAMES whose
    * bloom PROVABLY excludes it.
    */
  private def bloomAbsentMap(m: Manifest,
      files: Seq[String], probes: Map[String, Seq[(Char, Long)]])
      : Map[(String, Char, Long), Set[String]] = {
    val out = scala.collection.mutable.HashMap
      .empty[(String, Char, Long), scala.collection.mutable.HashSet[String]]
    def mark(c: String, k: Char, b: Long, file: String): Unit =
      out.getOrElseUpdate((c, k, b),
        scala.collection.mutable.HashSet.empty) += file
    files.foreach { f =>
      val n = fileStatKey(f)
      probes.foreach { case (c, ps) =>
        m.blooms.get(s"$n:$c").filter(bloomPayloadValid).foreach { pl =>
          ps.foreach { case (k, b) =>
            if (payloadExcludes(pl, k, b)) mark(c, k, b, n) }
        }
      }
    }
    out.iterator.map { case (k, v) => k -> v.toSet }.toMap
  }

  // ---- per-file bloom membership (Eq-predicate skipping) --------------------

  /** Bloom geometry: bits are sized PER FILE from the file's row count
    * (~[[BloomBitsPerValue]] bits per row, clamped to
    * [[[BloomBits]], [[BloomMaxBits]]]) — a FIXED pool is the decay
    * the fixed BQ rerank pool had: at 4096 bits a production file of
    * 10⁵ distinct values saturates to all-ones and every probe turns
    * positive (never wrong, just useless). At 10 bits/value and 5
    * hashes the false-positive rate stays ~1% regardless of file
    * size up to the cap (2²⁰ bits ≈ 170 KB base64 — one manifest line
    * for a ~10⁵-row file, written once per file under delta
    * manifests); past the cap it degrades gracefully, the stats
    * contract. The probe reads each payload's own `k,bits` header, so
    * mixed geometries coexist in one manifest.
    */
  val BloomBits = 4096 // minimum (and the pre-r14 fixed size)
  val BloomHashes = 5
  val BloomBitsPerValue = 10
  val BloomMaxBits = 1 << 20
  private val BloomA = Array(31L, 37L, 41L, 43L, 47L, 53L, 59L, 61L)
  private val BloomB = Array(7L, 11L, 13L, 17L, 19L, 23L, 29L, 39L)
  private val BloomP = graft.functions.TextFunctions.HashP

  /** The scalar base a literal hashes through before the k probes —
    * MUST mirror [[bloomBaseCol]] exactly (same fold, same modulus):
    * the build side runs as a Column over the data, the probe side
    * runs here over the predicate literal. Integral values reduce mod
    * p; ASCII strings char-fold like `TextFunctions.charFoldHash`;
    * anything else is unsupported and never prunes.
    */
  private def bloomBaseLit(v: Any): Option[(Char, Long)] = v match {
    case x: Long => Some(('l', ((x % BloomP) + BloomP) % BloomP))
    case x: Int  => Some(('l', ((x.toLong % BloomP) + BloomP) % BloomP))
    case x: String if x.forall(c => c >= ' ' && c < 127) =>
      Some(('s', x.foldLeft(0L)((a, c) => (a * 31 + c.toInt) % BloomP)))
    case _ => None
  }

  private def bloomBaseCol(c: org.apache.spark.sql.Column,
                           dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.Column = dt match {
    case org.apache.spark.sql.types.StringType =>
      graft.functions.TextFunctions.charFoldHash(c)
    case _ => ((c.cast("long") % lit(BloomP)) + lit(BloomP)) % lit(BloomP)
  }

  private def bloomPos(base: Long, i: Int, bits: Int): Int =
    (((base * BloomA(i) + BloomB(i)) % BloomP) % bits).toInt

  /** Is this payload one the PROBE ([[bloomExcludes]]) will actually
    * parse? The incremental-analyze coverage check must be EXACTLY as
    * strict as the probe — a payload the probe ignores but the
    * coverage check accepts would lose Eq pruning permanently with no
    * repair path.
    */
  private def bloomPayloadValid(payload: String): Boolean = {
    val parts = payload.split(",", 4)
    parts.length == 4 && parts(2).length == 1 &&
      parts(0).toIntOption.exists(k => k >= 1 && k <= BloomA.length) &&
      parts(1).toIntOption.exists { bits =>
        bits >= 64 &&
          // the decoded payload must cover every word the probe can
          // index (((bits+63)/64 words of 8 bytes): a TRUNCATED payload
          // would make bloomExcludes throw-and-keep on some positions
          // while this check counted it as coverage — pruning for the
          // file/column would then be lost permanently with no repair
          (try java.util.Base64.getDecoder.decode(parts(3)).length >=
            ((bits + 63) / 64) * 8
           catch { case _: IllegalArgumentException => false })
      }
  }

  /** Build per-file BLOOM membership filters for `cols` over the
    * latest version and commit them as `#bloom:` manifest lines — the
    * Delta bloom-index idea for POINT lookups: min/max stats cannot
    * prune an `Eq` on a column uncorrelated with the layout (a
    * fingerprint, a content hash — every file spans the whole value
    * range), but a membership filter can. [[readWhere]] then drops any
    * file whose bloom provably excludes the literal; a file without a
    * bloom for the column is kept (prune, never decide), and a bloom's
    * false positives only cost I/O, never correctness — the scan
    * re-applies the predicate.
    *
    * The commit is metadata-only (`#commit:analyze`, same file set):
    * pinned readers untouched, incremental consumers poll through with
    * an empty delta. INCREMENTAL by default: only files still missing
    * a bloom for a requested column are scanned (blooms are per-file
    * and carry like stats), so re-running after every append costs
    * O(new files) — the stats discipline — and a fully-covered
    * version is a commit-free no-op. Cost per run: one count pass
    * sizing each file's bits from its row count, one distributed scan
    * hashing k positions per value, and the bitset WORDS assembled in
    * a distributed two-level `bit_or` aggregate — the driver collects
    * ONE row per (file, column) carrying the sparse word list (never a
    * row per set bit: the initial backfill of a 10⁶-file corpus must
    * collect O(files), not O(files × bits)). Supported column types:
    * integral + ASCII strings (long/double stats cover the rest of the
    * comparison surface).
    */
  def analyzeBloom(s: SparkSession, root: String, cols: Seq[String],
                   hashes: Int = BloomHashes,
                   bitsPerValue: Int = BloomBitsPerValue,
                   maxBits: Int = BloomMaxBits): Int = {
    require(cols.nonEmpty, "analyzeBloom needs at least one column")
    require(hashes >= 1 && hashes <= BloomA.length,
      s"hashes must be in [1, ${BloomA.length}]")
    require(bitsPerValue >= 1 && maxBits >= BloomBits,
      "need bitsPerValue >= 1 and maxBits >= BloomBits")
    commit(s, root) { (base, m) =>
      require(base >= 1, s"analyzeBloom needs an existing dataset at $root")
      val sc = schemaOf(root, base, m)
      val byName = sc.fields.map(f => f.name -> f.dataType).toMap
      val usable = cols.filter(c => byName.get(c).exists {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.StringType => true
        case _ => false
      })
      require(usable.nonEmpty,
        s"no bloom-capable column among ${cols.mkString(",")} " +
          "(supported: integral, string)")
      // INCREMENTAL: scan only the files still missing a VALID bloom
      // for some requested column — re-analyzing after an append costs
      // O(new files), not a corpus re-scan (blooms are per-file and
      // carry, so standing ones never need rebuilding). A payload in
      // an outdated format counts as missing (the probe ignores it, so
      // treating it as coverage would lose pruning permanently with no
      // repair path).
      val missing: Seq[String] = m.files.filter(f => usable.exists(c =>
        !m.blooms.get(s"${fileStatKey(f)}:$c").exists(bloomPayloadValid)))
      if (missing.isEmpty) NoOp(base) else {
        val df = relation(s, root, m.copy(files = missing), sc)
        val fname = substring_index(input_file_name(), "/", -1)
        // size each file's bloom from ITS row count (an upper bound on
        // distinct values): ~bitsPerValue bits per row, clamped to
        // [BloomBits, maxBits] and word-aligned — the fixed-pool decay
        // fix (a 4096-bit bloom over a 10⁵-row file is all-ones)
        def bitsOf(n: Long): Int = {
          val want = math.min(maxBits.toLong,
            math.max(BloomBits.toLong, n * bitsPerValue))
          (((want + 63) / 64) * 64).toInt
        }
        val bitsByFile: Map[String, Int] =
          df.groupBy(fname.as("_fn")).count().collect()
            .map(r => r.getString(0) -> bitsOf(r.getLong(1))).toMap
        import s.implicits._
        val bitsDf = bitsByFile.toSeq.toDF("_fn", "_bits")
        // distributed word assembly: hash k positions per value, fold
        // into 64-bit words with bit_or, then one sparse word LIST per
        // (file, col) — the only driver-sized collect
        val collected = usable.map { c =>
          val b = bloomBaseCol(col(c), byName(c))
          df.filter(col(c).isNotNull)
            .select(fname.as("_fn"), lit(c).as("_c"),
              explode(array((0 until hashes).map(i =>
                (b * lit(BloomA(i)) + lit(BloomB(i))) % lit(BloomP)): _*))
                .as("_h"))
        }.reduce(_.unionAll(_))
          .join(broadcast(bitsDf), "_fn")
          .select(col("_fn"), col("_c"),
            (col("_h") % col("_bits")).cast("long").as("_p"))
          .select(col("_fn"), col("_c"),
            shiftright(col("_p"), 6).cast("int").as("_w"),
            expr("shiftleft(CAST(1 AS BIGINT), CAST(_p % 64 AS INT))").as("_v"))
          .groupBy("_fn", "_c", "_w")
          .agg(expr("bit_or(_v)").as("_wv"))
          .groupBy("_fn", "_c")
          .agg(sort_array(collect_list(struct(col("_w"), col("_wv")))).as("_ws"))
          .collect()
        val words = scala.collection.mutable.HashMap
          .empty[String, Array[Long]] // "file:col" -> bitset words
        def wordsOf(fileName: String): Array[Long] =
          new Array[Long](bitsByFile.getOrElse(fileName, BloomBits) / 64)
        // pre-seed EVERY scanned (file, col) pair with an all-zero
        // bitset: a file whose column is entirely NULL produces no
        // hashes, and without a recorded (empty) bloom it would stay
        // "missing" forever — rescanned and re-committed on every call.
        // The all-zero bloom is also the CORRECT filter: Eq never
        // matches a null, so pruning the file on any literal is exact.
        missing.foreach(f => usable.foreach(c =>
          words.getOrElseUpdate(s"${fileStatKey(f)}:$c", wordsOf(fileStatKey(f)))))
        collected.foreach { r =>
          val fn = r.getString(0)
          val w = words.getOrElseUpdate(s"$fn:${r.getString(1)}", wordsOf(fn))
          r.getSeq[org.apache.spark.sql.Row](2).foreach { wr =>
            w(wr.getInt(0)) |= wr.getLong(1)
          }
        }
        // payload records the HASH FAMILY ('l' integral fold vs 's' char
        // fold) so a cross-type Eq literal never probes the wrong family
        // and wrongly prunes (SQL would cast-and-match the row)
        val kindOf = usable.map { c =>
          c -> (byName(c) match {
            case org.apache.spark.sql.types.StringType => 's'
            case _ => 'l'
          })
        }.toMap
        val enc = java.util.Base64.getEncoder
        val add = words.iterator.map { case (key, w) =>
          val bb = java.nio.ByteBuffer.allocate(w.length * 8)
          w.foreach(bb.putLong)
          val kind = kindOf(key.substring(key.indexOf(':') + 1))
          key -> s"$hashes,${w.length * 64},$kind,${enc.encodeToString(bb.array)}"
        }.toMap
        Commit(m.files, Some("analyze"), Some(sc), blooms = add)
      }
    }
  }


  /** Does `payload` PROVABLY exclude a value hashing to (kind, base)?
    * Any parse failure, truncated bitset, or hash-family mismatch
    * returns false (keep) — the family check is load-bearing: a string
    * literal against a long column would probe the char fold where the
    * bloom holds integral folds, and unset bits would then wrongly
    * prune a file whose rows SQL's cast-and-compare semantics WOULD
    * match.
    */
  private[sources] def payloadExcludes(payload: String, kind: Char,
                                       base: Long): Boolean = {
    if (payload == null) return false
    val parts = payload.split(",", 4)
    if (parts.length != 4 || parts(2).length != 1 ||
        parts(2).head != kind) return false
    (parts(0).toIntOption, parts(1).toIntOption) match {
      case (Some(k), Some(bits))
        if k >= 1 && k <= BloomA.length && bits >= 64 =>
        try {
          val bytes = java.util.Base64.getDecoder.decode(parts(3))
          val bb = java.nio.ByteBuffer.wrap(bytes)
          val w = Array.fill(bytes.length / 8)(bb.getLong)
          (0 until k).exists { i =>
            val pos = bloomPos(base, i, bits)
            (w(pos >> 6) & (1L << (pos & 63))) == 0L
          }
        } catch { case _: Exception => false }
      case _ => false
    }
  }

  // private[graft]: the prune fuzz spec re-applies EXACTLY these
  // semantics to an unpruned read and asserts set equality
  private[graft] def predColumn(p: StatsPred): org.apache.spark.sql.Column = {
    val c = col(p.col)
    p match {
      case StatsPred.Eq(_, v)   => c === lit(v)
      case StatsPred.Lt(_, v)   => c < lit(v)
      case StatsPred.LtEq(_, v) => c <= lit(v)
      case StatsPred.Gt(_, v)   => c > lit(v)
      case StatsPred.GtEq(_, v) => c >= lit(v)
      case StatsPred.InSet(_, vs) =>
        if (vs.isEmpty) lit(false) else c.isin(vs: _*)
      case StatsPred.IsNull(cn)  => col(cn).isNull
      case StatsPred.NotNull(cn) => col(cn).isNotNull
      case StatsPred.Prefix(cn, pre) => col(cn).startsWith(pre)
      case StatsPred.OrPred(l, r) =>
        l.map(predColumn).reduceOption(_ && _).getOrElse(lit(true)) ||
          r.map(predColumn).reduceOption(_ && _).getOrElse(lit(true))
    }
  }

  /** Predicate-pruned time-travel read: plans a scan over ONLY the
    * files of version v whose manifest stats may satisfy `preds`, then
    * re-applies the predicates to the scan — skipping changes I/O,
    * never results (files without stats are scanned and filtered like
    * any other). At 10⁶ files this is the difference between a
    * manifest-resident prune and opening every footer for a
    * `WHERE source = 'web' AND ts > …` read.
    */
  def readWhere(s: SparkSession, root: String, v: Int,
                preds: Seq[StatsPred]): DataFrame = {
    val m = readManifestData(s, root, v)
    preds.foldLeft(relation(s, root, m.copy(files = filesWhereM(m, preds)),
      schemaOf(root, v, m)))((df, p) => df.filter(predColumn(p)))
  }

  /** Translate Catalyst pushed-down data filters into the [[StatsPred]]
    * surface: attribute-vs-literal comparisons (both operand orders),
    * In/InSet, IsNull/IsNotNull (footer null counts), LIKE-prefix
    * (string ranges), And recursion, and Or over translatable branches
    * — exactly the shapes the manifest stats/bloom can reason about.
    * Anything else (casts, functions) translates to nothing and prunes
    * nothing: the scan re-applies the full predicate, so a missed
    * translation costs I/O, never rows.
    */
  private def translateFilters(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[StatsPred] = {
    import org.apache.spark.sql.catalyst.expressions._
    def anyVal(x: Any): Option[Any] = x match {
      case null => None
      case v: Long => Some(v)
      case v: Int => Some(v)
      case v: Short => Some(v.toInt)
      case v: Byte => Some(v.toInt)
      case v: Double => Some(v)
      case v: Float => Some(v)
      case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
      case _ => None
    }
    def litVal(l: Literal): Option[Any] = anyVal(l.value)
    // IN lists: null values never match and DROP from the prune list
    // (x IN (1, null) is null unless x=1 — the row filters out either
    // way); one untranslatable NON-null value could match anything, so
    // the whole predicate then prunes nothing (None)
    def inVals(raw: Seq[Any]): Option[Seq[Any]] = {
      val nonNull = raw.filter(_ != null)
      val vals = nonNull.flatMap(anyVal)
      if (vals.length == nonNull.length) Some(vals) else None
    }
    def walk(e: Expression): Seq[StatsPred] = e match {
      case And(l, r) => walk(l) ++ walk(r)
      // Or: sound with PARTIAL branch translations (each branch's
      // preds are implied by the branch, so "branch excluded" holds a
      // fortiori) — but a branch translating to NOTHING can never
      // exclude, so the Or prunes only when both sides translate
      case Or(l, r) =>
        val (lt, rt) = (walk(l), walk(r))
        if (lt.nonEmpty && rt.nonEmpty) Seq(StatsPred.OrPred(lt, rt))
        else Seq.empty
      case IsNull(a: AttributeReference) => Seq(StatsPred.IsNull(a.name))
      case IsNotNull(a: AttributeReference) => Seq(StatsPred.NotNull(a.name))
      case StartsWith(a: AttributeReference, l: Literal) =>
        anyVal(l.value).collect {
          case p: String if p.nonEmpty && p.forall(c => c >= ' ' && c < 126) =>
            StatsPred.Prefix(a.name, p)
        }.toSeq
      case In(a: AttributeReference, list) if list.forall(_.isInstanceOf[Literal]) =>
        inVals(list.map(_.asInstanceOf[Literal].value))
          .map(StatsPred.InSet(a.name, _)).toSeq
      case InSet(a: AttributeReference, hset) =>
        inVals(hset.toSeq).map(StatsPred.InSet(a.name, _)).toSeq
      case EqualTo(a: AttributeReference, l: Literal) =>
        litVal(l).map(StatsPred.Eq(a.name, _)).toSeq
      case EqualTo(l: Literal, a: AttributeReference) =>
        litVal(l).map(StatsPred.Eq(a.name, _)).toSeq
      case LessThan(a: AttributeReference, l: Literal) =>
        litVal(l).map(StatsPred.Lt(a.name, _)).toSeq
      case LessThan(l: Literal, a: AttributeReference) =>
        litVal(l).map(StatsPred.Gt(a.name, _)).toSeq
      case LessThanOrEqual(a: AttributeReference, l: Literal) =>
        litVal(l).map(StatsPred.LtEq(a.name, _)).toSeq
      case LessThanOrEqual(l: Literal, a: AttributeReference) =>
        litVal(l).map(StatsPred.GtEq(a.name, _)).toSeq
      case GreaterThan(a: AttributeReference, l: Literal) =>
        litVal(l).map(StatsPred.Gt(a.name, _)).toSeq
      case GreaterThan(l: Literal, a: AttributeReference) =>
        litVal(l).map(StatsPred.Lt(a.name, _)).toSeq
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
        litVal(l).map(StatsPred.GtEq(a.name, _)).toSeq
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
        litVal(l).map(StatsPred.LtEq(a.name, _)).toSeq
      case _ => Seq.empty
    }
    exprs.flatMap(walk)
  }

  /** The latest version committed at or before `tsMillis` (the Delta
    * `timestampAsOf` analogue): versions resolve by their manifest's
    * publish time. On file:// the claim is a hard link sharing the
    * temp file's inode, so [[claimVersion]] re-stamps the manifest
    * mtime at the claim itself — the resolved instant is the commit
    * point, not the (earlier) content-write time; the stamp is
    * best-effort, so a crash in that sliver can leave the write time
    * instead (slightly early, never wrong content). 0 if nothing was
    * committed yet. "Reproduce what the tuesday-night run saw" without
    * the run having recorded its version number.
    */
  def versionAsOf(s: SparkSession, root: String, tsMillis: Long): Int =
    listedVersions(fs(s), root).collect {
      case (v, st) if st.getModificationTime <= tsMillis => v
    }.foldLeft(0)(math.max)

  /** Time-travel read by timestamp. */
  def readAsOf(s: SparkSession, root: String, tsMillis: Long): DataFrame = {
    val v = versionAsOf(s, root, tsMillis)
    require(v >= 1, s"no version of $root existed at $tsMillis")
    read(s, root, v)
  }

  /** Incremental consumption (append-only CDC): exactly the rows ADDED
    * between two versions — a downstream consumer (embedding refresh,
    * index ingest, continual pretraining) processes each epoch's NEW
    * data without rescanning the corpus. The delta walks the range one
    * commit at a time (O(versions in range) manifest reads — consumers
    * poll frequently, so ranges are short): an `append` contributes
    * `files(v) ∖ files(v−1)`, a `layout` commit (compaction — same
    * rows, fresh files) contributes NOTHING and the walk continues
    * straight through it (the Delta `dataChange=false` rule: routine
    * compaction must not force every consumer into a corpus resync).
    * A MERGE commit carries its change-data files (`#cdf:` — the
    * post-image of every key its batch touched, the Delta CDF idea):
    * with `upserts = true` the walk delivers that bounded change set
    * across the merge, making the stream an UPSERT FEED keyed by the
    * merge keys (a delivered row may be a NEW VERSION of a previously
    * delivered key — the consumer must key, not append). With the
    * default `upserts = false` a merge fails fast like any rewrite:
    * silently feeding upserts to an append-only consumer would
    * duplicate keys downstream. Across a data REWRITE (curation drop)
    * file identity no longer means row identity and there is no
    * change set, so the call always fails fast — consumers resync
    * from a full read there.
    *
    * The scan applies `toV`'s pinned schema: files appended before a
    * later widening read the new columns as null, matching what a full
    * read at toV reports for those rows.
    */
  def changesBetween(s: SparkSession, root: String, fromV: Int,
                     toV: Int, upserts: Boolean = false): DataFrame = {
    require(fromV >= 0 && fromV <= toV, s"need 0 <= fromV <= toV, got $fromV..$toV")
    val toM = readManifestData(s, root, toV)
    val delta = changeFileGroups(s, root, fromV, toV).flatMap { c =>
      val files = c.groups.flatMap(_.files)
      val v = c.version
      c.kind match {
        case "layout" | "analyze" => Nil // same rows — empty delta
        case "append" => files
        case "merge" if upserts => files
        case "merge" =>
          throw new IllegalArgumentException(
            s"versions $fromV..$toV of $root cross a MERGE at v$v — " +
              "its change set is an upsert feed (new versions of " +
              "existing keys); pass upserts = true to consume it keyed, " +
              "or resync with read(toV)")
        // a stats false positive rewrote candidate files but changed
        // ZERO rows (empty change set) — row-preserving, pass through
        case "delete" | "update" if files.isEmpty => Nil
        case "delete" =>
          throw new IllegalArgumentException(
            s"versions $fromV..$toV of $root cross a DELETE at v$v — " +
              "retractions cannot ride a row feed (neither append-only " +
              "nor upsert folds can drop a key); consume the typed " +
              "changeFeed, or resync with read(toV)")
        case "update" =>
          throw new IllegalArgumentException(
            s"versions $fromV..$toV of $root cross an UPDATE at v$v — " +
              "a key-rewriting update retracts the old key, which no " +
              "row feed can represent; consume the typed changeFeed, " +
              "or resync with read(toV)")
        case _ =>
          throw new IllegalArgumentException(
            s"versions $fromV..$toV of $root span a rewrite boundary at " +
              s"v$v (rows were replaced, not added) — incremental reads " +
              "are only defined over append-only ranges; resync with read(toV)")
      }
    }.distinct
    relation(s, root, toM.copy(files = delta), schemaOf(root, toV, toM))
  }

  /** One file group of a change walk: added or change-data files,
    * their change type (insert, upsert or delete) and commit version
    * (whose pinned schema reads them).
    */
  private[graft] final case class ChangeFiles(files: Seq[String],
      changeType: String, version: Int)

  /** One commit of a change walk: its kind and its file groups, EMPTY
    * groups included (a delete whose change set is empty preserved
    * every row). `append` carries its added files as inserts, `merge`
    * its post-images as upserts, `delete` its pre-images as deletes,
    * `update` both (pre-images as deletes, post-images as upserts);
    * `layout`/`analyze` (same rows) and `rewrite` (rows replaced with
    * no change record) carry none.
    */
  private[graft] final case class CommitChanges(version: Int, kind: String,
      groups: Seq[ChangeFiles])

  /** THE version walk behind every change read — [[changesBetween]],
    * [[changeFeed]], [[mirrorSync]] and the DSv2 streaming source
    * ([[SnapshotStreamSource]], one InputPartition per file): each
    * commit in (fromV, toV] with its kind and file groups. A commit's
    * kind is its `#commit:` tag (an untagged manifest fails fast); an
    * `append` that removed files counts as a rewrite. Never fails on a
    * kind: each reader decides which kinds it can represent.
    */
  private[graft] def changeFileGroups(s: SparkSession, root: String,
      fromV: Int, toV: Int): Seq[CommitChanges] = {
    require(fromV >= 0 && fromV <= toV,
      s"need 0 <= fromV <= toV, got $fromV..$toV")
    var prev: Set[String] =
      if (fromV == 0) Set.empty
      else readManifestData(s, root, fromV).files.toSet
    ((fromV + 1) to toV).map { v =>
      val m = readManifestData(s, root, v)
      val cur = m.files.toSet
      val kind = m.commit match {
        case Some("append") if !prev.subsetOf(cur) => "rewrite"
        case Some(k) => k
        case None => throw untagged(root, v)
      }
      def group(files: Seq[String], changeType: String) = ChangeFiles(files, changeType, v)
      val groups = kind match {
        case "append" => Seq(group(m.files.filterNot(prev), "insert"))
        case "merge"  => Seq(group(m.cdf, "upsert"))
        case "delete" => Seq(group(m.cdf, "delete"))
        // the Delta update pair: pre-images retract (covers a
        // rewritten key), post-images upsert; a same-version tie on
        // an unchanged key folds upsert-over-delete (consumers break
        // ties on _change_type desc — 'u' > 'd')
        case "update" => Seq(group(m.cdfd, "delete"), group(m.cdf, "upsert"))
        case _ => Seq.empty
      }
      prev = cur
      CommitChanges(v, kind, groups)
    }
  }

  /** The typed feed's non-empty file groups over a walk of
    * (fromV, toV]: every kind but a data rewrite has a change record,
    * so only a rewrite fails fast — consumers resync there and
    * nowhere else.
    */
  private[graft] def typedFiles(root: String, fromV: Int, toV: Int,
      changes: Seq[CommitChanges]): Seq[ChangeFiles] =
    changes.flatMap { c =>
      if (!TypedKinds(c.kind))
        throw new IllegalArgumentException(
          s"versions $fromV..$toV of $root span a data rewrite at " +
            s"v${c.version} (rows were replaced with no change record) — " +
            "resync with read(toV)")
      c.groups.filter(_.files.nonEmpty)
    }

  private val TypedKinds =
    Set("append", "merge", "delete", "update", "layout", "analyze")

  /** The TYPED change feed (the Delta CDF read surface, completing
    * [[changesBetween]]): every row change between two versions with
    * its kind and origin — `_change_type` ∈ {insert, upsert, delete}
    * and `_commit_version` appended to the data columns. An `append`
    * contributes its new files' rows as inserts, a `merge` its
    * change-data post-images as upserts, a `delete` its pre-images as
    * deletes (the retraction [[changesBetween]] cannot represent), and
    * a `layout` commit contributes nothing; only a data REWRITE still
    * fails fast — rows were replaced wholesale with no change record,
    * so consumers resync there and nowhere else.
    *
    * FOLD CONTRACT (spec-asserted): replaying the feed from version 0
    * in `_commit_version` order — inserts add, upserts replace their
    * key, deletes drop it, same-version ties break upsert-over-delete
    * (`_change_type` desc — an update's pre+post pair on an unchanged
    * key folds to the post-image) — reproduces `read(latest)`
    * exactly. An `update` contributes that pair: pre-images as
    * deletes (exact even when the update rewrote a key column),
    * post-images as upserts. I/O is
    * O(changed rows): new files + bounded change sets, never the
    * standing corpus. Each version's files are read under ITS pinned
    * schema; columns a later widening added surface as null (aligned
    * to `toV`'s schema).
    */
  def changeFeed(s: SparkSession, root: String, fromV: Int,
                 toV: Int): DataFrame =
    typedFeed(s, root, toV,
      typedFiles(root, fromV, toV, changeFileGroups(s, root, fromV, toV)))

  /** [[changeFeed]] over already-walked file groups, aligned to `toV`'s
    * schema.
    */
  private def typedFeed(s: SparkSession, root: String, toV: Int,
                        groups: Seq[ChangeFiles]): DataFrame = {
    val cols = schemaOf(root, toV, readManifestData(s, root, toV)).fields.toSeq
    // each group reads under ITS version's pinned schema; no changes at
    // all is a zero-file (empty) group under toV's
    val feed = (if (groups.isEmpty) Seq(ChangeFiles(Nil, "insert", toV)) else groups)
      .map { g =>
        val m = readManifestData(s, root, g.version)
        relation(s, root, m.copy(files = g.files), schemaOf(root, g.version, m))
          .withColumn("_change_type", lit(g.changeType))
          .withColumn("_commit_version", lit(g.version))
      }.reduce(_.unionByName(_, allowMissingColumns = true))
    // align to toV's schema: a column no delta happened to carry (all
    // its changes predate the widening) still surfaces, as null
    val withAll = cols.foldLeft(feed)((d, f) =>
      if (d.columns.contains(f.name)) d
      else d.withColumn(f.name, lit(null).cast(f.dataType)))
    withAll.select((cols.map(f => col(f.name)) :+
      col("_change_type") :+ col("_commit_version")): _*)
  }

  /** Exactly-once CDC consumer cursor over a snapshot dataset — the
    * consumer half of the exactly-once story ([[appendTxn]] is the
    * producer half): a downstream job tails the dataset, processing
    * each version range once even across its own restarts.
    *
    * Two-phase by design: [[poll]] returns the pending delta WITHOUT
    * advancing (the consumer may crash mid-process), [[commit]]
    * advances after the consumer's own side effects are durable, and
    * [[saveCursor]]/[[restore]] persist the position through the same
    * dot-temp + atomic-claim discipline as every Snapshots commit. A
    * REWRITE boundary propagates [[changesBetween]]'s fail-fast —
    * the consumer chooses between [[resync]] (full re-read, advancing
    * past the boundary) and stopping; silent resync would duplicate
    * rows downstream, which is the consumer's call, never the tail's.
    */
  final class SnapshotTail(val root: String, startAfter: Int = 0,
                           upserts: Boolean = false) {
    private var cursor: Int = startAfter

    /** Current committed position (versions ≤ this are processed). */
    def position: Int = this.synchronized(cursor)

    /** The pending delta and its end version, if any versions landed
      * past the cursor. Does NOT advance — call [[commit]] once the
      * consumer's effects are durable.
      */
    def poll(s: SparkSession): Option[(DataFrame, Int)] = {
      val from = position
      val latest = latestVersion(s, root)
      if (latest <= from) None
      else Some((changesBetween(s, root, from, latest, upserts), latest))
    }

    /** Typed two-phase poll (the [[changeFeed]] surface): the pending
      * changes WITH their kind (`_change_type`/`_commit_version`) —
      * the only tail mode that survives a DELETE commit ([[poll]]
      * fails fast there: a plain row feed has no representation for a
      * retraction). Same cursor, same [[commit]] discipline; a data
      * rewrite still propagates the fail-fast for an explicit
      * [[resync]].
      */
    def pollTyped(s: SparkSession): Option[(DataFrame, Int)] = {
      val from = position
      val latest = latestVersion(s, root)
      if (latest <= from) None
      else Some((changeFeed(s, root, from, latest), latest))
    }

    /** Advance past a processed range (monotonic; stale acks no-op). */
    def commit(toV: Int): Unit = this.synchronized {
      cursor = math.max(cursor, toV)
    }

    /** Full re-read after a rewrite boundary — the consumer re-derives
      * its state from scratch (duplicates are explicit here, never
      * silent). Two-phase like [[poll]]: the cursor does NOT advance —
      * [[commit]] the returned version after the re-derived state is
      * durable, or a crash mid-resync silently skips the re-read on
      * restart.
      */
    def resync(s: SparkSession): (DataFrame, Int) = {
      val latest = latestVersion(s, root)
      (read(s, root, latest), latest)
    }

    /** Persist the committed position. The position IS the filename
      * (`cursor.<v>`, content-free): publishing is one no-overwrite
      * create — there is never a window with NO durable cursor (a
      * delete-then-rename had one, and an empty restore would silently
      * re-deliver the ENTIRE corpus as a "delta"). Older cursor files
      * are garbage-collected best-effort after the new one is durable;
      * a crash leaves extras, never zero, and restore takes the max.
      */
    def saveCursor(s: SparkSession, path: String): Unit = {
      val f = fs(s)
      val pos = position
      val p = new org.apache.hadoop.fs.Path(s"$path/cursor.$pos")
      if (!f.exists(p)) f.create(p, false).close()
      f.listStatus(new org.apache.hadoop.fs.Path(path)).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("cursor.") &&
            n.stripPrefix("cursor.").toIntOption.exists(_ < pos))
          f.delete(st.getPath, false)
      }
    }
  }

  object SnapshotTail {
    /** Resume a tail from its persisted cursor (0 if none saved);
      * the max over surviving cursor files — saves only add.
      */
    def restore(s: SparkSession, path: String, root: String,
                upserts: Boolean = false): SnapshotTail = {
      val f = fs(s)
      val d = new org.apache.hadoop.fs.Path(path)
      val start =
        if (!f.exists(d)) 0
        else f.listStatus(d).toSeq.flatMap { st =>
          val n = st.getPath.getName
          if (n.startsWith("cursor.")) n.stripPrefix("cursor.").toIntOption
          else None
        }.foldLeft(0)(math.max)
      new SnapshotTail(root, start, upserts)
    }
  }

  /** The mirror's consumed-source-version cursor: its `#mirror:` tag,
    * 0 before the first sync — never a `#txn:` id, which belongs to
    * the root's txn producers.
    */
  private def mirrorCursorOf(m: Manifest): Int = m.mirror.fold(0)(_.toInt)

  /** Exactly-once MIRROR maintenance over the typed change feed — the
    * materialized-downstream shape (a serving copy, a feature store, a
    * search-index source table kept in sync by CDC instead of corpus
    * rescans). Each sync folds the pending changes into the mirror —
    * inserts add, upserts replace their key, deletes drop it — and
    * commits the folded state as ONE `dstRoot` version tagged with the
    * consumed source version as its txn id, so the cursor rides the
    * mirror's OWN manifest lineage: a replayed or raced sync of an
    * already-consumed source version is a no-op, a crash before the
    * commit point changes nothing (orphans vacuum under the grace
    * window), and a restart resumes from the tag — exactly-once end to
    * end with no side cursor file. The cursor rides its OWN
    * `#mirror:` manifest tag (carried forward by every commit path),
    * never the `#txn:` namespace — so a txn producer on the same root
    * (appendTxn, a streaming merge sink) can neither corrupt the
    * cursor nor be corrupted by it. I/O per sync is O(changed rows +
    * touched mirror files): the feed never rescans the source corpus,
    * the fold rewrites ONLY the mirror files holding a changed key
    * (the [[merge]] prune — stats hull, then a key-column semi-join;
    * everything else carries by path), and source layout/analyze
    * commits fold in as empty feeds (cursor fast-forward only).
    *
    * THE MIRROR IS ITSELF TAILABLE in the common case: a bootstrap
    * commits as `append` (inserts from empty) and a delete-free
    * incremental fold commits as `merge` carrying the changed keys'
    * post-images as its change set — a second-tier consumer
    * (`changesBetween(upserts = true)`, a chained mirror) polls
    * straight through routine syncs. Only a fold that APPLIES DELETES
    * commits as `rewrite` (a retraction has no post-image; downstream
    * consumers must resync — honest, same as consuming the source
    * directly). A data REWRITE on the source propagates
    * [[changeFeed]]'s fail-fast — re-anchor with [[mirrorResync]].
    * Keyed discipline: `keyCols` identify rows; source appends must
    * not duplicate standing keys (merge and delete maintain this by
    * construction). The mirror's own history trims with [[expire]]
    * like any dataset.
    */
  def mirrorSync(s: SparkSession, srcRoot: String, dstRoot: String,
                 keyCols: Seq[String]): Int = {
    import org.apache.spark.sql.expressions.Window
    require(keyCols.nonEmpty, "mirrorSync needs key columns")
    // a lost race means ANOTHER sync (or any commit) advanced the
    // mirror — our fold read an old dst state and an old cursor, so
    // the loop RECOMPUTES from the new latest (a blind re-commit would
    // publish the stale fold as a newer version and skip the winner's
    // range forever)
    commit(s, dstRoot) { (dstV, dstM) =>
      val srcV = latestVersion(s, srcRoot)
      require(srcV >= 1, s"mirrorSync needs an existing dataset at $srcRoot")
      val cursor = mirrorCursorOf(dstM)
      if (cursor >= srcV) NoOp(dstV) // already consumed (replay no-op)
      else {
        // ONE walk of the pending source range (an expired cursor
        // version fails here with "version N does not exist" —
        // [[mirrorResync]] recovers; a data rewrite fails fast). A
        // mirror with no cursor has unknown history, so it never
        // fast-forwards and folds as an honest rewrite.
        val changes = changeFileGroups(s, srcRoot, cursor, srcV)
        val groups = typedFiles(srcRoot, cursor, srcV, changes)
        // change-free (layout/analyze commits, appends that added no
        // files, deletes/updates whose change sets are empty — a stats
        // false positive preserved every row): cursor fast-forward,
        // zero data I/O
        val changeFree = cursor >= 1 && groups.isEmpty &&
          !changes.exists(_.kind == "merge")
        // a fold that APPLIES DELETES commits `rewrite`: a retraction
        // has no post-image, so downstream consumers must resync
        val hasDeletes = cursor == 0 || changes.exists(c =>
          (c.kind == "delete" || c.kind == "update") &&
            c.groups.exists(_.files.nonEmpty))
        if (changeFree)
          Commit(dstM.files, Some("layout"), dstM.schema, mirror = Some(srcV.toLong))
        else {
          val feed = typedFeed(s, srcRoot, srcV, groups)
          val w = Window.partitionBy(keyCols.map(col): _*)
            // same-version tiebreak upsert-over-delete ('u' > 'i' > 'd'
            // lexically, descending): an UPDATE emits its pre-image
            // (delete) and post-image (upsert) in ONE version — an
            // unchanged key must fold to the post-image
            .orderBy(col("_commit_version").desc, col("_change_type").desc)
          if (dstV == 0) {
            // bootstrap: the fold is the feed collapsed within itself —
            // every surviving row is an insert from empty, so the commit
            // is an honest `append` and the mirror starts out tailable
            val folded = feed.withColumn("_rn", row_number().over(w))
              .filter(col("_rn") === 1 && col("_change_type") =!= "delete")
              .drop("_rn", "_change_type", "_commit_version")
            val bf = writeBatchFiles(s, dstRoot, folded)
            Commit(bf.files, Some("append"), Some(folded.schema), bf.stats,
              lens = bf.lens, mirror = Some(srcV.toLong))
          } else {
            // PRUNED incremental fold: only the mirror files holding a
            // changed key rewrite with the feed; every other mirror file
            // carries forward by path with its stats and blooms
            val dstSc = schemaOf(dstRoot, dstV, dstM)
            val changeKeys = feed.select(keyCols.map(col): _*)
            val touched = touchedFiles(s, dstRoot, dstM, dstSc, changeKeys, keyCols)
            val survivors = dstM.files.filterNot(touched.toSet)
            val standingTouched = relation(s, dstRoot, dstM.copy(files = touched), dstSc)
            val all = standingTouched
              .withColumn("_change_type", lit("insert"))
              .withColumn("_commit_version", lit(cursor))
              .unionByName(feed, allowMissingColumns = true)
            val folded = all.withColumn("_rn", row_number().over(w))
              .filter(col("_rn") === 1 && col("_change_type") =!= "delete")
              .drop("_rn", "_change_type", "_commit_version")
            val bf = writeBatchFiles(s, dstRoot, folded)
            val cdfFiles =
              if (hasDeletes || bf.files.isEmpty) Seq.empty
              else writeBatchFiles(s, dstRoot, keyedSemiJoin(
                relation(s, dstRoot, bf.manifest, folded.schema), changeKeys, keyCols),
                "changes/c").files
            Commit(survivors ++ bf.files,
              Some(if (hasDeletes) "rewrite" else "merge"),
              Some(folded.schema), bf.stats, lens = bf.lens, cdf = cdfFiles,
              mirror = Some(srcV.toLong))
          }
        }
      }
    }
  }

  /** Re-anchor (or bootstrap) a mirror from the source's CURRENT
    * state — the sanctioned recovery after the source crossed a data
    * REWRITE (curation drop, [[restore]]): [[mirrorSync]] fail-fasts
    * there forever, and a dropped-and-recreated mirror would cross the
    * same boundary from version 0. One full read of the source, one
    * mirror rewrite, the consumed source version tagged as the txn
    * cursor — subsequent incremental syncs resume cleanly past the
    * boundary. The duplicates-vs-gap decision a re-anchor implies is
    * the CALLER's (this replaces the mirror wholesale, so neither can
    * occur downstream of it).
    */
  def mirrorResync(s: SparkSession, srcRoot: String,
                   dstRoot: String): Int =
    // a lost race: the snapshot AND the cursor we read are stale — the
    // loop recomputes from the new latest on both sides
    commit(s, dstRoot) { (dstV, dstM) =>
      val srcV = latestVersion(s, srcRoot)
      require(srcV >= 1, s"mirrorResync needs an existing dataset at $srcRoot")
      // a concurrent sync/resync already anchored at or past this
      // source version: done (committing OUR older snapshot on top
      // would silently roll the mirror back — the mirrorSync race
      // discipline applies here too)
      if (mirrorCursorOf(dstM) >= srcV && dstV >= 1) NoOp(dstV)
      else {
        val snap = read(s, srcRoot, srcV)
        val bf = writeBatchFiles(s, dstRoot, snap)
        Commit(bf.files, Some("rewrite"), Some(snap.schema), bf.stats,
          lens = bf.lens, mirror = Some(srcV.toLong))
      }
    }

  // ---- catalog entry ------------------------------------------------------

  def snapRoot(s: SparkSession, dir: String): String =
    ScopedFixture.root(s, "graft_snapshots", dir)

  /** `q_snapshot_read`: per-source token totals over a PINNED version
    * while a later append exists — the artifact holds v1 = the
    * doc_id%3≠2 slice and v2 = the full corpus; the query reads v1 and
    * must see EXACTLY the slice (the DuckDB oracle recomputes it from
    * the same predicate), proving time travel through the driver's
    * hash gate. `inputFiles` stays within the manifest's file set.
    */
  def snapshotRead(s: SparkSession, dir: String): DataFrame = {
    val root = snapRoot(s, dir)
    FixtureCleanup.onExit(root)
    if (!ScopedFixture.isComplete(root)) {
      val docs = Tables.documents(s, dir)
      create(s, root, docs.filter(pmod(col("doc_id"), lit(3)) =!= 2))
      append(s, root, docs.filter(pmod(col("doc_id"), lit(3)) === 2))
      ScopedFixture.markComplete(root)
    }
    perSourceTokenTotals(read(s, root, 1))
  }

  /** Shared per-source token aggregation tail for the snapshot catalog
    * entries (one Scala place, one SQL template — a tokenization edit
    * cannot drift between the read and CDC twins).
    */
  private def perSourceTokenTotals(df: DataFrame): DataFrame =
    df.select(col("source"),
        size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("n"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
      .orderBy("source")

  private def perSourceTotalsOracle(pred: String): String =
    s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS BIGINT) AS n_tokens
      |FROM documents WHERE $pred
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val snapshotReadOracleSql: String = perSourceTotalsOracle("doc_id % 3 <> 2")

  /** `q_snapshot_drift`: CROSS-VERSION corpus drift — the curation
    * monitor composed onto the versioned layer (did this epoch's
    * append shift the token distribution?): per version slice (the
    * pinned v1 corpus vs the 1→2 appended delta, read through
    * [[changesBetween]] so the delta side scans only the new files),
    * the unigram KL to the union mixture — the Jensen-Shannon
    * decomposition's two components, each an exact decimal sum on the
    * `q_kl_drift` conventions; a near-zero pair means the append was
    * distributionally neutral, an asymmetric pair says which side is
    * the outlier. Oracle: the SAME KL template over the version
    * predicates ([[operators.CorpusCuration.klOracleOver]] — one
    * source of truth with q_kl_drift).
    */
  def snapshotDrift(s: SparkSession, dir: String): DataFrame = {
    snapshotRead(s, dir) // fixture builds eagerly inside (marker-skipped)
    val root = snapRoot(s, dir)
    val labeled = read(s, root, 1)
      .select(lit("v1").as("source"), col("text"))
      .unionByName(changesBetween(s, root, 1, 2)
        .select(lit("delta").as("source"), col("text")))
    val counts = labeled
      .select(col("source"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("t"))
      .groupBy("source", "t").agg(count(lit(1)).as("c_st"))
    graft.operators.CorpusCuration.klFromCounts(counts)
      .withColumnRenamed("source", "ver")
  }

  val snapshotDriftOracleSql: String =
    graft.operators.CorpusCuration.klOracleOver(
      """SELECT CASE WHEN doc_id % 3 <> 2 THEN 'v1' ELSE 'delta' END AS source,
        |       text FROM documents""".stripMargin, "ver")

  /** `q_snapshot_changes` (§2 #211): the 1→2 incremental delta over
    * the same fixture [[snapshotRead]] builds — v2 appended exactly
    * the doc_id%3==2 slice, so [[changesBetween]] must surface those
    * rows and nothing else (the DuckDB oracle recomputes the slice
    * from the predicate), proving append-only CDC through the
    * driver's hash gate. The delta scan reads only v2's new files —
    * zero I/O against v1's corpus (spec-asserted via inputFiles).
    */
  def snapshotChanges(s: SparkSession, dir: String): DataFrame = {
    snapshotRead(s, dir) // the fixture builds eagerly inside (marker-skipped)
    val root = snapRoot(s, dir)
    perSourceTokenTotals(changesBetween(s, root, 1, 2))
  }

  val snapshotChangesOracleSql: String = perSourceTotalsOracle("doc_id % 3 = 2")

  /** `q_snapshot_read_pruned`: manifest-stats data skipping through
    * the driver's hash gate. The artifact holds two range-clustered
    * commits (create + append, each `repartitionByRange(doc_id)` so
    * every part file covers a disjoint doc_id slice and the manifest's
    * `#stats:` lines are selective); the query reads the latest
    * version under `doc_id >= ⌊3·max/4⌋` via [[readWhere]] — the scan
    * plans over ONLY the files whose stat range can satisfy the
    * predicate (spec: inputFiles excludes every provably-dead file) —
    * and the DuckDB oracle recomputes from the predicate alone, so a
    * prune that dropped a LIVE file hash-fails on the missing rows.
    */
  /** Per-dir memo for the pruned-read fixtures' doc_id cut (the r10c
    * probe-memoization convention — the aggregate otherwise re-runs on
    * every catalog lookup, twice once the scan twin primes the
    * fixture through this entry).
    */
  private def pruneCut(s: SparkSession, dir: String): Long =
    Memo.value(s, dir, "snapshots.pruneCut") {
      Tables.documents(s, dir).agg(max(col("doc_id"))).head().getLong(0) * 3 / 4
    }

  def snapshotReadPruned(s: SparkSession, dir: String): DataFrame = {
    val root = ScopedFixture.root(s, "graft_snapstats", dir)
    FixtureCleanup.onExit(root)
    val docs = Tables.documents(s, dir)
    if (!ScopedFixture.isComplete(root)) {
      val ranged = (df: DataFrame) => df.repartitionByRange(8, col("doc_id"))
      create(s, root, ranged(docs.filter(pmod(col("doc_id"), lit(2)) === 0)))
      append(s, root, ranged(docs.filter(pmod(col("doc_id"), lit(2)) === 1)))
      ScopedFixture.markComplete(root)
    }
    perSourceTokenTotals(readWhere(s, root, latestVersion(s, root),
      Seq(StatsPred.GtEq("doc_id", pruneCut(s, dir)))))
  }

  val snapshotReadPrunedOracleSql: String =
    perSourceTotalsOracle("doc_id >= (SELECT (max(doc_id) * 3) // 4 FROM documents)")

  /** `q_snapshot_scan_pruned`: PLANNER-INTEGRATED data skipping
    * through the driver's hash gate — the same range-clustered fixture
    * and predicate as [[snapshotReadPruned]], but expressed as an
    * ORDINARY DataFrame `.filter` over [[read]]: Catalyst
    * pushes the comparison to the scan, the custom FileIndex hands it
    * to the manifest stats prune (spec: `lastPlanned` shrinks to the
    * surviving files), and the DuckDB oracle recomputes from the
    * predicate alone — a prune that dropped a live file hash-fails.
    */
  def snapshotScanPruned(s: SparkSession, dir: String): DataFrame = {
    snapshotReadPruned(s, dir) // fixture builds eagerly inside (marker-skipped)
    val root = ScopedFixture.root(s, "graft_snapstats", dir)
    perSourceTokenTotals(
      read(s, root, latestVersion(s, root))
        .filter(col("doc_id") >= pruneCut(s, dir)))
  }

  // def, not val: snapshotReadPrunedOracleSql initializes later in
  // this object — a val here would capture null at init time
  def snapshotScanPrunedOracleSql: String = snapshotReadPrunedOracleSql

  /** `q_snapshot_zorder`: the Morton layout through the driver's hash
    * gate. The artifact stores (doc_id, source, text, ntok) ingest-
    * ordered (hash by source — neither dimension clustered), then ONE
    * [[clusterZ]]`(doc_id, ntok)` layout commit; the query reads the
    * latest version under `ntok ≥ ⌊3·max/4⌋` via [[readWhere]] — the
    * SECOND z dimension, the one plain range clustering cannot serve —
    * and the DuckDB oracle recomputes the totals from the portable
    * token-count predicate alone, so a z-shuffle that dropped,
    * duplicated, or misfiled a row hash-fails (the prune-never-
    * decides contract is spec-asserted; this entry pins the
    * END-TO-END result).
    */
  def snapshotZorder(s: SparkSession, dir: String): DataFrame = {
    val root = ScopedFixture.root(s, "graft_snapzcat", dir)
    FixtureCleanup.onExit(root)
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"),
        size(graft.functions.TextFunctions.tokens(col("text")))
          .cast("long").as("ntok"))
    if (!ScopedFixture.isComplete(root)) {
      create(s, root, docs.repartition(8, col("source")))
      clusterZ(s, root, "doc_id", "ntok", partitions = 8)
      ScopedFixture.markComplete(root)
    }
    // per-dir memo of the token-count cut (the r10c
    // probe-memoization convention)
    val cut: Long = Memo.value(s, dir, "snapshots.zorderCut") {
      docs.agg(max(col("ntok"))).head().getLong(0) * 3 / 4
    }
    perSourceTokenTotals(
      readWhere(s, root, latestVersion(s, root),
        Seq(StatsPred.GtEq("ntok", cut))))
  }

  val snapshotZorderOracleSql: String = perSourceTotalsOracle(
    """len(regexp_extract_all(lower(text), '[a-z0-9]+')) >=
      |  (SELECT (max(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) * 3) // 4
      |   FROM documents)""".stripMargin)

  /** `q_snapshot_bloom_lookup`: per-file BLOOM membership skipping
    * through the driver's hash gate. The artifact stores the corpus
    * with its portable fingerprint (`fp`) range-clustered by doc_id —
    * fp is UNCORRELATED with the layout, so every file spans the whole
    * fp range and min/max stats cannot prune a point lookup; after
    * [[analyzeBloom]] the SAME `readWhere(Eq(fp, …))` plans only the
    * file(s) whose bloom may contain the target (spec: pre-analyze
    * nothing prunes, post-analyze most files drop). The target is the
    * fingerprint of the highest doc_id ≤ max/2, resolved through a
    * doc_id-stats-pruned point read; the DuckDB oracle recomputes the
    * fingerprint column AND the target closed-form, so a bloom that
    * excluded a live file (a false negative — the one impossible
    * failure) hash-fails on the missing rows.
    */
  def snapshotBloomLookup(s: SparkSession, dir: String): DataFrame = {
    val root = ScopedFixture.root(s, "graft_snapbloom", dir)
    FixtureCleanup.onExit(root)
    val docs = Tables.documents(s, dir)
    if (!ScopedFixture.isComplete(root)) {
      val withFp = docs.select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.docFingerprint(col("text")).as("fp"))
        .repartitionByRange(8, col("doc_id"))
      create(s, root, withFp)
      analyzeBloom(s, root, Seq("fp"))
      ScopedFixture.markComplete(root)
    }
    val v = latestVersion(s, root)
    // per-dir memo of the target fingerprint (pure function of the
    // table dir — the r10c probe-memoization convention: driver probes
    // inside plan construction re-run on every catalog lookup otherwise)
    val target: Long = Memo.value(s, dir, "snapshots.bloomTarget") {
      val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
      val anchor = readWhere(s, root, v, Seq(StatsPred.LtEq("doc_id", mx / 2)))
        .agg(max(col("doc_id"))).head().getLong(0)
      readWhere(s, root, v, Seq(StatsPred.Eq("doc_id", anchor)))
        .select("fp").head().getLong(0)
    }
    readWhere(s, root, v, Seq(StatsPred.Eq("fp", target)))
      .select("doc_id", "source", "fp").orderBy("doc_id")
  }

  val snapshotBloomLookupOracleSql: String =
    s"""WITH fps AS (
       |  SELECT doc_id, source, ${graft.functions.TextFunctions.docFingerprintSql} AS fp
       |  FROM documents)
       |SELECT doc_id, source, fp FROM fps
       |WHERE fp = (SELECT fp FROM fps WHERE doc_id =
       |  (SELECT max(doc_id) FROM documents
       |   WHERE doc_id <= (SELECT max(doc_id) FROM documents) // 2))
       |ORDER BY doc_id""".stripMargin

  /** Insert-key offset for the [[snapshotMerge]] fixture — far above
    * any shipped corpus's doc_id range, so remapped inserts never
    * collide with standing keys.
    */
  val MergeInsertOffset = 10000000L

  /** `q_snapshot_merge`: versioned keyed MERGE, hash-checked — the
    * artifact holds v1 = the corpus at rev 1 and v2 = [[merge]]'s
    * keep-last upsert of an overlay batch (doc_id%5==0 updated with a
    * marker suffix at rev 2, doc_id%7==3 re-keyed past
    * [[MergeInsertOffset]] as inserts). The query aggregates the
    * merged state per source; the DuckDB oracle recomputes it CLOSED
    * FORM from the base+overlay predicates (the PagedTasks precedent),
    * so a merge that dropped an insert, duplicated a key, or kept a
    * stale row hash-fails on n_docs / n_rev / n_tokens.
    */
  def snapshotMerge(s: SparkSession, dir: String): DataFrame = {
    val root = ScopedFixture.root(s, "graft_snapmerge", dir)
    FixtureCleanup.onExit(root)
    if (!ScopedFixture.isComplete(root)) {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text"))
      create(s, root, docs.withColumn("rev", lit(1L)))
      val updates = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .withColumn("text", concat(col("text"), lit(" merged update")))
        .withColumn("rev", lit(2L))
      val inserts = docs.filter(pmod(col("doc_id"), lit(7)) === 3)
        .withColumn("doc_id", col("doc_id") + lit(MergeInsertOffset))
        .withColumn("rev", lit(2L))
      merge(s, root, updates.unionByName(inserts), Seq("doc_id"), "rev")
      ScopedFixture.markComplete(root)
    }
    perSourceRevTokenTotals(read(s, root, latestVersion(s, root)))
  }

  /** Shared (source, n_docs, n_rev, n_tokens) tail for the merge-family
    * catalog entries — one Scala place so the merged-state and
    * change-feed twins cannot drift.
    */
  private def perSourceRevTokenTotals(df: DataFrame): DataFrame =
    df.select(col("source"), col("rev"),
        size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("n"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("rev")).as("n_rev"),
        sum(col("n")).as("n_tokens"))
      .orderBy("source")

  /** `q_snapshot_merge_changes`: the merge CHANGE FEED through the
    * driver's hash gate — over the same [[snapshotMerge]] fixture, the
    * 1→2 upsert delta must surface exactly the post-image of every key
    * the merge's batch touched (updates at rev 2 with the marker
    * suffix + the re-keyed inserts) and NOTHING from the untouched
    * corpus; the oracle recomputes the overlay closed-form. The delta
    * scan reads only the bounded `changes/` files — zero I/O against
    * the merged corpus (spec-asserted via inputFiles).
    */
  def snapshotMergeChanges(s: SparkSession, dir: String): DataFrame = {
    snapshotMerge(s, dir) // fixture builds eagerly inside (marker-skipped)
    val root = ScopedFixture.root(s, "graft_snapmerge", dir)
    perSourceRevTokenTotals(changesBetween(s, root, 1, 2, upserts = true))
  }

  val snapshotMergeChangesOracleSql: String =
    s"""WITH chg AS (
       |  SELECT doc_id, source, text || ' merged update' AS text, 2 AS rev
       |  FROM documents WHERE doc_id % 5 = 0
       |  UNION ALL
       |  SELECT doc_id + $MergeInsertOffset, source, text, 2
       |  FROM documents WHERE doc_id % 7 = 3)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(rev) AS BIGINT) AS n_rev,
       |  CAST(sum(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS BIGINT)
       |    AS n_tokens
       |FROM chg GROUP BY 1 ORDER BY 1""".stripMargin

  /** `q_snapshot_delete`: stats-pruned row-level DELETE through the
    * driver's hash gate. The artifact holds two range-clustered commits
    * (the [[snapshotReadPruned]] layout — every part file covers a
    * disjoint doc_id slice) and then a [[delete]] of the middle
    * quartile range [max/4, max/2): the copy-on-write rewrites ONLY the
    * few files whose stat range overlaps the cut (spec: every
    * non-overlapping file carries forward by path), and the query reads
    * the post-delete state — the DuckDB oracle recomputes the
    * complement from the same predicate, so a delete that dropped a
    * survivor, kept a matching row, or lost an untouched file
    * hash-fails on the per-source totals.
    */
  def snapshotDelete(s: SparkSession, dir: String): DataFrame = {
    val root = ScopedFixture.root(s, "graft_snapdel", dir)
    FixtureCleanup.onExit(root)
    if (!ScopedFixture.isComplete(root)) {
      val docs = Tables.documents(s, dir)
      val ranged = (df: DataFrame) => df.repartitionByRange(8, col("doc_id"))
      create(s, root, ranged(docs.filter(pmod(col("doc_id"), lit(2)) === 0)))
      append(s, root, ranged(docs.filter(pmod(col("doc_id"), lit(2)) === 1)))
      val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
      delete(s, root, Seq(StatsPred.GtEq("doc_id", mx / 4),
        StatsPred.Lt("doc_id", mx / 2)))
      ScopedFixture.markComplete(root)
    }
    perSourceTokenTotals(read(s, root, latestVersion(s, root)))
  }

  val snapshotDeleteOracleSql: String = perSourceTotalsOracle(
    """NOT (doc_id >= (SELECT max(doc_id) // 4 FROM documents)
      |     AND doc_id < (SELECT max(doc_id) // 2 FROM documents))""".stripMargin)

  /** Marker suffix the [[snapshotUpdate]] fixture appends — shared
    * with the oracle SQL so the two cannot drift.
    */
  val UpdateMarker = " updated row"

  /** `q_snapshot_update`: stats-pruned row-level UPDATE through the
    * driver's hash gate. The artifact holds one range-clustered commit
    * (every part file a disjoint doc_id slice) and then an [[update]]
    * of the middle-quartile range [max/4, max/2) appending
    * [[UpdateMarker]] to `text`: the copy-on-write rewrites ONLY the
    * files whose stat range overlaps the cut (spec-asserted; the rest
    * carry by path), tags the commit with the Delta pre+post change
    * pair, and the query reads the post-update state — the DuckDB
    * oracle recomputes it closed-form from the same predicate, so an
    * update that touched a non-matching row, skipped a matching one,
    * or lost an untouched file hash-fails on the per-source totals.
    */
  def snapshotUpdate(s: SparkSession, dir: String): DataFrame = {
    val root = ScopedFixture.root(s, "graft_snapupd", dir)
    FixtureCleanup.onExit(root)
    if (!ScopedFixture.isComplete(root)) {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text"))
      create(s, root, docs.repartitionByRange(8, col("doc_id")))
      val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
      update(s, root,
        Seq(StatsPred.GtEq("doc_id", mx / 4), StatsPred.Lt("doc_id", mx / 2)),
        Map("text" -> concat(col("text"), lit(UpdateMarker))))
      ScopedFixture.markComplete(root)
    }
    perSourceTokenTotals(read(s, root, latestVersion(s, root)))
  }

  val snapshotUpdateOracleSql: String =
    s"""WITH upd AS (
       |  SELECT source,
       |    CASE WHEN doc_id >= (SELECT max(doc_id) // 4 FROM documents)
       |          AND doc_id <  (SELECT max(doc_id) // 2 FROM documents)
       |         THEN text || '$UpdateMarker' ELSE text END AS text
       |  FROM documents)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS BIGINT)
       |    AS n_tokens
       |FROM upd GROUP BY 1 ORDER BY 1""".stripMargin

  /** `q_snapshot_change_feed`: the TYPED change feed through the
    * driver's hash gate — over the [[snapshotDelete]] fixture,
    * `changeFeed(0, 3)` must surface the two appends' rows as
    * `insert`@v1/v2 and the deleted middle-quartile pre-images as
    * `delete`@v3, each attributed to its commit; the oracle recomputes
    * all three change sets closed-form from the fixture predicates, so
    * a misattributed, duplicated, or missing change row hash-fails.
    * I/O is the feed's own files — new files + bounded change sets,
    * never a corpus rescan.
    */
  def snapshotChangeFeed(s: SparkSession, dir: String): DataFrame = {
    snapshotDelete(s, dir) // fixture builds eagerly inside (marker-skipped)
    val root = ScopedFixture.root(s, "graft_snapdel", dir)
    changeFeed(s, root, 0, latestVersion(s, root))
      .select(col("source"), col("_change_type").as("change_type"),
        col("_commit_version").as("commit_version"),
        size(graft.functions.TextFunctions.tokens(col("text")))
          .cast("long").as("n"))
      .groupBy("source", "change_type", "commit_version")
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
      .orderBy("source", "change_type", "commit_version")
  }

  val snapshotChangeFeedOracleSql: String =
    """WITH feed AS (
      |  SELECT source, 'insert' AS change_type, 1 AS commit_version, text
      |  FROM documents WHERE doc_id % 2 = 0
      |  UNION ALL
      |  SELECT source, 'insert', 2, text FROM documents WHERE doc_id % 2 = 1
      |  UNION ALL
      |  SELECT source, 'delete', 3, text FROM documents
      |  WHERE doc_id >= (SELECT max(doc_id) // 4 FROM documents)
      |    AND doc_id < (SELECT max(doc_id) // 2 FROM documents))
      |SELECT source, change_type, CAST(commit_version AS INTEGER) AS commit_version,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS BIGINT)
      |    AS n_tokens
      |FROM feed GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  val snapshotMergeOracleSql: String =
    s"""WITH merged AS (
       |  SELECT doc_id, source,
       |    CASE WHEN doc_id % 5 = 0 THEN text || ' merged update'
       |         ELSE text END AS text,
       |    CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 1 END AS rev
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id + $MergeInsertOffset, source, text, 2
       |  FROM documents WHERE doc_id % 7 = 3)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(rev) AS BIGINT) AS n_rev,
       |  CAST(sum(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS BIGINT)
       |    AS n_tokens
       |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin
}
