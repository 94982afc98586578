package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

/** The one lifecycle of the standing indexes ([[Bm25Index]],
  * [[PhraseIndex]], [[PqIndex]], [[GraphIndex]]): FAISS's `add` /
  * `remove_ids` / `write_index` over persisted parquet trees.
  *
  * An index declares only what differs: its fixture family, its key
  * column and how a batch maps to it, its data [[trees]] (each with an
  * optional partition column), its optional `meta/` sidecar, the
  * frames one batch writes to each tree, and its search over one
  * [[Frames]] read. This class owns every verb, once: the
  * marker-guarded build, [[append]] (roll interrupted swaps forward,
  * compact on tombstone overlap, write), [[delete]], [[compact]],
  * [[commitVersion]] and [[read]] (live, or as of a version), through
  * [[IndexMaintenance]]'s crash-atomic tree verbs and [[IndexVersions]]'
  * manifests. Every tree write, the empty build and empty append
  * included, is [[IndexMaintenance.writeTree]].
  *
  * @param family the app-id-scoped fixture family of [[indexRoot]]
  * @param key    the id column the trees and the tombstone sidecar share
  */
abstract class StandingIndex(family: String, key: String) {

  /** The sidecar value the frames and the search read (the PQ codebook
    * and centroids, the routing graph; `Unit` for the text indexes).
    */
  type Meta

  protected def trees: Seq[StandingIndex.Tree]

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
  protected def corpus(s: SparkSession, dir: String, pred: Column,
                       m: Meta): DataFrame

  /** The rows one batch writes to each of [[trees]], in order. */
  protected def frames(batch: DataFrame, m: Meta): Seq[DataFrame]

  /** One read of the index: its sidecar, its trees by name, and the
    * tombstone set in force.
    */
  protected final class Frames(val meta: Meta, trees: Map[String, DataFrame],
                               tomb: Option[DataFrame]) {
    def apply(tree: String): DataFrame = trees(tree)

    /** Drop tombstoned ids. Searches apply it AFTER shard/cell pruning,
      * so the anti-join touches only the probed partitions.
      */
    def live(df: DataFrame): DataFrame =
      IndexMaintenance.dropTombstoned(tomb, key, df)
  }

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

  /** Write the sidecar and every tree from `pred`'s corpus rows,
    * replacing whatever the root held.
    */
  protected def build(s: SparkSession, dir: String, pred: Column,
                      root: String): Unit = {
    val m = buildMeta(s, dir)
    metaFrame(s, m).foreach(
      _.coalesce(1).write.mode("overwrite").parquet(s"$root/meta"))
    write(s, root, frames(corpus(s, dir, pred, m), m), append = false)
  }

  private def write(s: SparkSession, root: String, rows: Seq[DataFrame],
                    append: Boolean): Unit =
    trees.zip(rows).foreach { case (t, df) =>
      IndexMaintenance.writeTree(s, s"$root/${t.name}", t.part, df, append)
    }

  /** The live sidecar, decoded once per root: a build writes it once
    * and no verb rewrites it, so appends stay byte-identical to a full
    * rebuild.
    */
  protected def meta(s: SparkSession, root: String): Meta =
    graft.plans.Memo.value(s, root, "index.sidecar")(
      decodeMeta(s.read.parquet(s"$root/meta")))

  /** Incremental append: index the arriving batch only, against the
    * frozen sidecar — O(batch), the standing trees untouched. An
    * interrupted compaction is rolled forward FIRST (an append onto a
    * mid-swap-crashed tree would recreate it with batch-only rows).
    * Re-appending a deleted id resurrects it: on tombstone overlap the
    * index compacts first — physical reclaim — so the fresh rows never
    * coexist with the suppressed old ones. The overlap probe is one
    * existence check when no delete has run.
    */
  def append(s: SparkSession, root: String, batch: DataFrame): Unit = {
    IndexMaintenance.recoverAll(s, root, trees.map(_.name))
    if (IndexMaintenance.tombstonesOverlap(s, root, key, batch.select(batchKey)))
      compact(s, root)
    val m = meta(s, root)
    write(s, root, frames(batch, m), append = true)
  }

  /** Tombstone delete: O(batch) — the ids append to the `tombstones/`
    * sidecar and no data file is rewritten; every read anti-joins the
    * live set and [[compact]] reclaims. Idempotent by anti-join
    * semantics (deleting twice, or an id not in the index, is a no-op).
    */
  def delete(s: SparkSession, root: String, ids: Seq[Long]): Unit =
    IndexMaintenance.deleteIds(s, root, key, ids)

  /** Physically reclaim tombstoned rows from every tree (partition
    * directories kept — pruning needs them), each through the
    * crash-atomic swap, then retire the sidecar.
    */
  def compact(s: SparkSession, root: String): Unit = {
    trees.foreach(t => IndexMaintenance.compactTree(s, root, t.name, key, t.part))
    IndexMaintenance.clearTombstoneSidecar(s, root)
  }

  /** Snapshot the trees, the sidecar and the tombstones as the next
    * version. A read as of it reproduces its results through later
    * appends and deletes (additive on disk) and through [[compact]],
    * which retains replaced trees while a version pins them; only
    * [[IndexVersions.expire]] bounds time travel.
    */
  def commitVersion(s: SparkSession, root: String): Int =
    IndexVersions.commit(s, root, trees.map(_.name) ++ Seq("meta", "tombstones"))

  /** Read the index live (`v = None`: roll any interrupted compaction
    * swap forward, then scan each tree) or as of version `v` (each
    * role from v's manifest, partition columns and pruning intact;
    * a missing tree or sidecar fails fast).
    */
  protected def read(s: SparkSession, root: String, v: Option[Int]): Frames =
    v match {
      case None =>
        IndexMaintenance.recoverAll(s, root, trees.map(_.name))
        new Frames(meta(s, root),
          trees.map(t => t.name -> s.read.parquet(s"$root/${t.name}")).toMap,
          IndexMaintenance.tombstones(s, root))
      case Some(ver) =>
        def role(r: String) = IndexVersions.readAt(s, root, ver, r).getOrElse(
          throw new IllegalStateException(s"version $ver of $root has no $r"))
        new Frames(decodeMeta(role("meta")),
          trees.map(t => t.name -> role(t.name)).toMap,
          IndexVersions.readAt(s, root, ver, "tombstones"))
    }
}

object StandingIndex {

  /** One data tree under an index root, written `partitionBy(part)`
    * when set — the shard/cell column a search prunes files on.
    */
  final case class Tree(name: String, part: Option[String] = None)
}
