package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Version pinning for the standing INDEX artifacts — an index is a
  * dataset too: a training run that pins corpus version v must also
  * pin the index state that matches it, or a later append/delete
  * silently changes the ranking the run's decontamination and
  * retrieval audits were made against. This composes the
  * [[Snapshots]] manifest machinery with the multi-subtree layout the
  * four standing indexes share through [[StandingIndex]]
  * ([[Bm25Index]] and [[PhraseIndex]] postings+doclens+tombstones,
  * [[PqIndex]] codes+meta+tombstones, [[GraphIndex]]
  * postings+meta+tombstones): one manifest per version, each line
  * `role<TAB>file`, committed with the same dot-temp + atomic-rename
  * + optimistic-concurrency write as dataset snapshots.
  *
  * A versioned read plans a scan over exactly the manifest's files
  * for a role, with `basePath` set so directory-partition columns
  * (`tshard=`/`cell=`) survive — partition PRUNING therefore still
  * prunes: the probe/shard filter intersects the manifest's file
  * list at planning, and an old version's query reads only that
  * version's pruned files.
  *
  * Commit cost: one recursive listing of the index tree, O(current
  * files) driver-side metadata. At 10⁶-file scale a production
  * committer would fold each batch's written-file list into the
  * manifest incrementally instead (the [[Snapshots.append]] shape —
  * the write path already knows its own files); the listing form
  * keeps the index write paths untouched.
  */
object IndexVersions {

  private def fs(s: SparkSession) =
    org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)

  private def walkFiles(f: org.apache.hadoop.fs.FileSystem,
                        p: org.apache.hadoop.fs.Path): Seq[String] =
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.flatMap { st =>
      if (st.isDirectory) walkFiles(f, st.getPath)
      else if (st.isFile && st.getPath.getName.startsWith("part-"))
        Seq(st.getPath.toString)
      else Seq.empty
    }

  /** Snapshot the current state of `root`'s role subtrees as the next
    * version. Returns the committed version number.
    */
  def commit(s: SparkSession, root: String, roles: Seq[String]): Int = {
    val f = fs(s)
    val lines = roles.flatMap { role =>
      walkFiles(f, new org.apache.hadoop.fs.Path(s"$root/$role"))
        .sorted.map(path => s"$role\t$path")
    }
    Snapshots.commit(s, root)((_, _) =>
      Snapshots.Commit(lines, kind = None, schema = None, delta = false))
  }

  def latest(s: SparkSession, root: String): Int =
    Snapshots.latestVersion(s, root)

  /** The files of `role` as of version v (empty if the role had none —
    * e.g. no tombstones yet at commit time).
    */
  def filesAt(s: SparkSession, root: String, v: Int,
              role: String): Seq[String] =
    Snapshots.readManifest(s, root, v).collect {
      case line if line.startsWith(role + "\t") =>
        line.substring(role.length + 1)
    }

  /** Scan `role` as of version v, with `basePath` preserving the
    * subtree's directory-partition columns (and their pruning). None
    * when the role had no files at v.
    *
    * Files a later compact replaced are resolved against the RETAINED
    * generations ([[IndexMaintenance.retire]] renames a replaced tree
    * into `_retained/<role>.gXXXX` with its internal layout intact):
    * each generation is scanned with ITS OWN basePath, so partition
    * columns — and partition pruning — survive relocation exactly as
    * they do on the live tree. A manifest file that is neither live
    * nor retained means the version was [[expire]]d — fail fast, the
    * [[Snapshots]] pinned-reader convention.
    */
  def readAt(s: SparkSession, root: String, v: Int,
             role: String): Option[DataFrame] = {
    val files = filesAt(s, root, v, role)
    if (files.isEmpty) return None
    val f = fs(s)
    val (live, missing) =
      files.partition(p => f.exists(new org.apache.hadoop.fs.Path(p)))
    val liveRead =
      if (live.isEmpty) Seq.empty
      else Seq(s.read.option("basePath", s"$root/$role").parquet(live: _*))
    val retainedReads = if (missing.isEmpty) Seq.empty else {
      val ret = new org.apache.hadoop.fs.Path(s"$root/_retained")
      val gens =
        if (!f.exists(ret)) Seq.empty
        else f.listStatus(ret).toSeq.filter(st => st.isDirectory &&
          st.getPath.getName.startsWith(role + ".g")).map(_.getPath)
      // manifest lines are fully-qualified (walkFiles lists them);
      // qualify the role root the same way before computing rel paths
      val rolePrefix =
        f.makeQualified(new org.apache.hadoop.fs.Path(s"$root/$role")).toString + "/"
      val byGen = scala.collection.mutable.LinkedHashMap
        .empty[String, scala.collection.mutable.Buffer[String]]
      missing.foreach { m =>
        require(m.startsWith(rolePrefix),
          s"manifest file $m is outside role tree $rolePrefix")
        val rel = m.substring(rolePrefix.length)
        // a rel path lives in exactly one generation (part file names
        // are write-unique), so first-hit is THE hit
        val gen = gens.find(g =>
          f.exists(new org.apache.hadoop.fs.Path(g, rel))).getOrElse(
          throw new IllegalStateException(
            s"version $v of $root references $m, which is neither live " +
              "nor retained — the version was expired; pin a newer one"))
        byGen.getOrElseUpdate(gen.toString,
          scala.collection.mutable.Buffer.empty) += s"$gen/$rel"
      }
      byGen.toSeq.map { case (g, fl) =>
        s.read.option("basePath", g).parquet(fl.toSeq: _*)
      }
    }
    Some((liveRead ++ retainedReads).reduce(_ unionByName _))
  }

  /** Expire version manifests below `retainMin` and reclaim every
    * retained generation no surviving manifest references — the
    * explicit vacuum that bounds [[IndexMaintenance.retire]]'s
    * retention (the [[Snapshots.expire]] analogue for index trees).
    * A generation is live iff some surviving manifest references a
    * file that is missing from the live tree and present in it.
    */
  def expire(s: SparkSession, root: String, retainMin: Int): Unit = {
    val f = fs(s)
    val latest = Snapshots.latestVersion(s, root)
    require(retainMin >= 1 && retainMin <= latest,
      s"retainMin $retainMin out of range [1, $latest]")
    (1 until retainMin).foreach(v => Snapshots.dropManifest(s, root, v))
    val referenced: Set[String] = (retainMin to latest).iterator
      .flatMap(v => Snapshots.readManifest(s, root, v))
      .map(line => line.substring(line.indexOf('\t') + 1)).toSet
    val ret = new org.apache.hadoop.fs.Path(s"$root/_retained")
    if (!f.exists(ret)) return
    f.listStatus(ret).foreach { st =>
      if (st.isDirectory) {
        val gen = st.getPath
        val role = gen.getName.takeWhile(_ != '.')
        val genPrefix = f.makeQualified(gen).toString + "/"
        val rolePrefix = f.makeQualified(
          new org.apache.hadoop.fs.Path(s"$root/$role")).toString + "/"
        val live = walkFiles(f, gen).exists { retained =>
          val original = rolePrefix + retained.stripPrefix(genPrefix)
          referenced.contains(original) &&
            !f.exists(new org.apache.hadoop.fs.Path(original))
        }
        if (!live) f.delete(gen, true)
      }
    }
  }
}
