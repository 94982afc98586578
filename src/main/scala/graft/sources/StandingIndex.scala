package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** The one lifecycle of the standing indexes ([[Bm25Index]],
  * [[PhraseIndex]], [[PqIndex]], [[GraphIndex]]): FAISS's `add` /
  * `remove_ids` / `write_index` over [[Snapshots]] tables.
  *
  * Every role under an index root is a Snapshots table of its own:
  * each data tree, the optional `meta/` sidecar and `tombstones/` (the
  * deleted keys). A build `create`s every role, [[append]] and
  * [[delete]] `append` to them, and [[compact]] rewrites each tree
  * through the commit loop. The manifest claim is therefore the only
  * commit point: a crash anywhere leaves every role at a complete
  * version, and a read never repairs anything first. An index version
  * pins one version per role ([[IndexVersions]]).
  *
  * An index declares only what differs: its fixture family, its key
  * column and how a batch maps to it, its data [[trees]] (one of them
  * sharded by [[shards]]), its optional sidecar, the frames one batch
  * writes to each tree, and its search over one [[Frames]] read.
  *
  * @param family the app-id-scoped fixture family of [[indexRoot]]
  * @param key    the id column the trees and the tombstones share
  */
abstract class StandingIndex(family: String, key: String) {

  /** The sidecar value the frames and the search read (the PQ codebook
    * and centroids, the routing graph; `Unit` for the text indexes).
    */
  type Meta

  protected def trees: Seq[StandingIndex.Tree]

  /** The sharded tree's shard count and each row's id in [0, count). */
  protected def shards(m: Meta): (Int, Column)

  /** The key column of an arriving batch. */
  protected def batchKey: Column

  /** The sidecar a build derives from the corpus dir. */
  protected def buildMeta(s: SparkSession, dir: String): Meta

  /** The 1-row frame a build persists as `meta/` (None: no sidecar). */
  protected def metaFrame(s: SparkSession, m: Meta): Option[DataFrame]

  /** Decode the `meta/` frame. By-name: an index without a sidecar
    * never reads it.
    */
  protected def decodeMeta(meta: => DataFrame): Meta

  /** The batch-shaped corpus rows a build over `pred` indexes. */
  protected def corpus(s: SparkSession, dir: String, pred: Column, m: Meta): DataFrame

  /** The rows one batch writes to each of [[trees]], in order. */
  protected def frames(batch: DataFrame, m: Meta): Seq[DataFrame]

  /** One read of the index: its sidecar, its trees by name, and the
    * tombstone set in force.
    */
  protected final class Frames(val meta: Meta, trees: Map[String, DataFrame],
                               tomb: Option[DataFrame]) {
    def apply(tree: String): DataFrame = trees(tree)

    /** Drop tombstoned ids. Searches apply it AFTER shard/cell pruning,
      * so the anti-join touches only the probed files.
      */
    def live(df: DataFrame): DataFrame = tomb.fold(df)(dropKeys(df, _))
  }

  /** `df` without the keys in `gone` (distinct: takedown logs repeat),
    * its columns in order.
    */
  private def dropKeys(df: DataFrame, gone: DataFrame): DataFrame =
    df.join(gone.select(key).distinct(), Seq(key), "left_anti")
      .select(df.columns.map(col).toIndexedSeq: _*)

  def indexRoot(s: SparkSession, dir: String): String =
    ScopedFixture.root(s, family, dir)

  /** One-time build of the whole corpus at [[indexRoot]]. */
  def materialize(s: SparkSession, dir: String): String =
    materializeWhere(s, dir, lit(true), indexRoot(s, dir))

  /** The marker-guarded build over a corpus predicate and root — the
    * spec's handle for a base index that a later [[append]] grows.
    * Marker-skipped on re-invocation.
    */
  private[graft] def materializeWhere(s: SparkSession, dir: String,
                                      pred: Column, root: String): String = {
    FixtureCleanup.onExit(root)
    if (!ScopedFixture.isComplete(root)) {
      build(s, dir, pred, root)
      ScopedFixture.markComplete(root)
    }
    root
  }

  /** Create every role from `pred`'s corpus rows — the sidecar, empty
    * tombstones and each tree — replacing whatever an interrupted
    * earlier build left at the root.
    */
  protected def build(s: SparkSession, dir: String, pred: Column,
                      root: String): Unit = {
    import s.implicits._
    org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(root), true)
    val m = buildMeta(s, dir)
    metaFrame(s, m).foreach(df => Snapshots.create(s, s"$root/meta", df.coalesce(1)))
    Snapshots.create(s, s"$root/tombstones", Seq.empty[Long].toDF(key))
    trees.zip(frames(corpus(s, dir, pred, m), m)).foreach { case (t, df) =>
      Snapshots.create(s, s"$root/${t.name}", layout(t, m, df))
    }
  }

  /** A sharded tree's rows laid out one shard per file (no sampling
    * pass): each file's `#stats:` name one shard, so a search's shard
    * filter prunes files at plan time ([[Snapshots.read]]).
    */
  private def layout(t: StandingIndex.Tree, m: Meta, df: DataFrame): DataFrame =
    if (!t.sharded) df else shards(m) match { case (n, id) => df.repartitionById(n, id) }

  /** The sidecar, decoded once per root: only a build writes it, so
    * every index version pins it and appends match a full rebuild.
    */
  protected def meta(s: SparkSession, root: String): Meta =
    graft.plans.Memo.value(s, root, "index.sidecar")(decodeMeta(
      Snapshots.read(s, s"$root/meta", Snapshots.latestVersion(s, s"$root/meta"))))

  /** The tombstones at version `v` of their table (default: latest);
    * None when none are in force (no table yet, or an empty set).
    */
  private def tombstones(s: SparkSession, root: String, v: Int = -1): Option[DataFrame] = {
    val t = s"$root/tombstones"
    val at = if (v < 0) Snapshots.latestVersion(s, t) else v
    if (at == 0 || Snapshots.readManifest(s, t, at).isEmpty) None
    else Some(Snapshots.read(s, t, at))
  }

  /** Incremental append: index the arriving batch only, against the
    * frozen sidecar — O(batch), the standing files untouched.
    * Re-appending a deleted id resurrects it: on tombstone overlap the
    * index compacts first — physical reclaim — so the fresh rows never
    * coexist with the suppressed old ones. The overlap probe is one
    * manifest read when no delete is in force.
    */
  def append(s: SparkSession, root: String, batch: DataFrame): Unit = {
    if (tombstones(s, root).exists(t =>
        !t.join(batch.select(batchKey).distinct(), Seq(key), "left_semi").isEmpty))
      compact(s, root)
    val m = meta(s, root)
    trees.zip(frames(batch, m)).foreach { case (t, df) =>
      Snapshots.append(s, s"$root/${t.name}", layout(t, m, df))
    }
  }

  /** Tombstone delete: O(batch) — the ids append to `tombstones/`, every
    * read anti-joins them and [[compact]] reclaims. Idempotent (deleting
    * twice, or an id not in the index, is a no-op).
    */
  def delete(s: SparkSession, root: String, ids: Seq[Long]): Unit = {
    import s.implicits._
    Snapshots.append(s, s"$root/tombstones", ids.toDF(key))
  }

  /** Physically reclaim the tombstoned rows: each tree commits without
    * them (a sharded tree keeps its one-shard-per-file layout, the
    * others collapse to one file), then exactly those ids leave
    * `tombstones/`, and — last — every role is vacuumed below the
    * oldest version an index version pins ([[IndexVersions.vacuum]]).
    * Every claim recomputes on a lost race, and a crash between claims
    * leaves the ids tombstoned, so reads never change; an id deleted
    * while the compact runs stays deleted.
    */
  def compact(s: SparkSession, root: String): Unit = {
    val gone = tombstones(s, root)
    val m = meta(s, root)
    trees.foreach { t =>
      Snapshots.relayout(s, s"$root/${t.name}", if (gone.isEmpty) "layout" else "rewrite") { df =>
        val live = gone.fold(df)(dropKeys(df, _))
        layout(t, m, if (t.sharded) live else live.coalesce(1))
      }
    }
    gone.foreach(g => Snapshots.relayout(s, s"$root/tombstones", "rewrite")(dropKeys(_, g)))
    IndexVersions.vacuum(s, root, roles)
  }

  private def roles: Seq[String] = trees.map(_.name) ++ Seq("meta", "tombstones")

  /** Pin every role's latest version as the index's next version:
    * reads as of it survive later appends, deletes and compacts, until
    * [[IndexVersions.expire]].
    */
  def commitVersion(s: SparkSession, root: String): Int =
    IndexVersions.commit(s, root, roles)

  /** Read the index live (`v = None`: each role's latest version) or as
    * of index version `v` (each role at its pinned version). Trees scan
    * through [[Snapshots.read]], so shard/cell filters prune
    * files at plan time; a missing tree fails fast.
    */
  protected def read(s: SparkSession, root: String, v: Option[Int]): Frames = {
    val pin: String => Int = v match {
      case None => r => Snapshots.latestVersion(s, s"$root/$r")
      case Some(ver) => IndexVersions.pins(s, root, ver).withDefaultValue(0)
    }
    def tree(name: String): DataFrame = pin(name) match {
      case 0 => throw new IllegalStateException(
        s"$root has no $name" + v.fold("")(ver => s" at version $ver"))
      case pv => Snapshots.read(s, s"$root/$name", pv)
    }
    new Frames(meta(s, root), trees.map(t => t.name -> tree(t.name)).toMap,
      tombstones(s, root, pin("tombstones")))
  }
}

object StandingIndex {

  /** One data tree under an index root; a `sharded` one is laid out
    * one shard per file by [[StandingIndex.shards]].
    */
  final case class Tree(name: String, sharded: Boolean = false)
}
