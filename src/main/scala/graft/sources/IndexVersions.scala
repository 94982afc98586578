package graft.sources

import org.apache.spark.sql.SparkSession

/** Version pinning for the standing INDEX artifacts — an index is a
  * dataset too: a training run that pins corpus version v must also
  * pin the index state that matches it, or a later append/delete
  * silently changes the ranking the run's decontamination and
  * retrieval audits were made against.
  *
  * Every role under an index root is a [[Snapshots]] table
  * ([[StandingIndex]]), so an index version is one manifest at the
  * root of `role<TAB>version` lines — O(roles), committed through
  * [[Snapshots.commit]] like any other version. A versioned read
  * resolves each role at its pinned version, whose files no later
  * verb touches; [[expire]] is the only thing that reclaims them.
  */
object IndexVersions {

  /** Pin the latest version of each existing role as the next index
    * version. Returns the committed version number.
    */
  def commit(s: SparkSession, root: String, roles: Seq[String]): Int = {
    val lines = roles.map(r => r -> Snapshots.latestVersion(s, s"$root/$r"))
      .collect { case (r, v) if v >= 1 => s"$r\t$v" }
    Snapshots.commit(s, root)((_, _) => Snapshots.Commit(lines, kind = None, schema = None))
  }

  /** Role → its pinned version as of index version v. */
  def pins(s: SparkSession, root: String, v: Int): Map[String, Int] =
    Snapshots.readManifest(s, root, v).map { line =>
      val i = line.indexOf('\t')
      line.substring(0, i) -> line.substring(i + 1).toInt
    }.toMap

  /** Expire index versions below `retainMin`, then [[vacuum]] the
    * roles they pinned.
    */
  def expire(s: SparkSession, root: String, retainMin: Int): Unit = {
    Snapshots.expire(s, root, retainMin)
    vacuum(s, root, pins(s, root, Snapshots.latestVersion(s, root)).keys.toSeq)
  }

  /** Expire each role below the oldest version a surviving index
    * version pins (below its latest when none does), so the files only
    * superseded, unpinned role versions read — a compaction's
    * tombstoned rows among them — leave the disk
    * ([[Snapshots.expire]]'s vacuum, orphan grace included).
    */
  def vacuum(s: SparkSession, root: String, roles: Seq[String]): Unit = {
    val oldest = Snapshots.versions(s, root).flatMap(pins(s, root, _))
      .groupMapReduce(_._1)(_._2)(math.min)
    roles.foreach { r =>
      val latest = Snapshots.latestVersion(s, s"$root/$r")
      if (latest >= 1) Snapshots.expire(s, s"$root/$r", oldest.getOrElse(r, latest))
    }
  }
}
