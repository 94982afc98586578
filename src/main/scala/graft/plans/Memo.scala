package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** Everything a session derives from a table dir and reuses across
  * queries, held per (session, dir, name): resolved relations, layout
  * footers, codebooks, centroids, routing graphs, learned tokenizer
  * models, fixture cuts ([[value]]) and the persisted shared frames
  * (shingle pipeline, LM frame, NB counts, curation postings, ...;
  * [[shared]]). Keying, holding, eviction and release live here and
  * nowhere else.
  */
object Memo {
  /** Check-then-persist under one lock: two threads warming the same
    * frame concurrently could both observe StorageLevel.NONE and both
    * persist, and a bare `.persist()` on an already-registered plan
    * logs `CacheManager: Asked to cache already cached data`. The lock
    * is a driver-side metadata operation (CacheManager lookup +
    * register), never held across a job.
    */
  def cached(df: DataFrame): DataFrame = synchronized {
    if (df.storageLevel == StorageLevel.NONE)
      df.persist(StorageLevel.MEMORY_AND_DISK)
    else df
  }

  /** A held value, its insertion sequence number (release order), and
    * whether [[shared]] persisted it (only those are unpersisted).
    */
  private final case class Held(v: Any, seq: Long, frame: Boolean)

  private val held =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), Held]
  private val nextSeq = new java.util.concurrent.atomic.AtomicLong

  /** The value `name` derived from `dir` for session `s`. A hit returns
    * the held object; `build` runs only on a miss. A miss builds
    * OUTSIDE any map lambda and lock — builds nest (a codebook builds
    * the training sample it reads, a pair frame the shingle frame) and
    * most run a driver job — then the first registration wins, and
    * entries of stopped sessions are evicted so the static map never
    * pins a dead session's plans. A build that throws registers
    * nothing. Values must be pure functions of the dir (the test
    * corpora each live in their own dir, so dir-keying is safe).
    */
  def value[A](s: SparkSession, dir: String, name: String)(build: => A): A =
    lookup(s, dir, name, frame = false)(build).asInstanceOf[A]

  /** The shared frame `name` over `dir` for session `s`: a [[value]]
    * that is persisted before it is returned, so a consumer's build
    * plans over the cached input. Every lookup checks the held
    * Dataset's `storageLevel` on that same object (its canonicalized
    * plan is memoized on it, so nothing is rebuilt); an entry dropped
    * behind Memo's back (`clearCache`, a manual `unpersist`) is
    * re-persisted. A held frame keeps the plan built under the caps in
    * force at its first build: flip a path-selection cap only after
    * [[release]].
    */
  def shared(s: SparkSession, dir: String, name: String)(build: => DataFrame): DataFrame =
    cached(lookup(s, dir, name, frame = true)(build).asInstanceOf[DataFrame])

  private def lookup(s: SparkSession, dir: String, name: String, frame: Boolean)
      (build: => Any): Any = {
    val key = (s, dir, name)
    val hit = held.get(key)
    if (hit != null) hit.v
    else {
      held.keySet.removeIf(k => k._1.sparkContext.isStopped)
      val h = Held(build, nextSeq.incrementAndGet(), frame)
      val won = held.putIfAbsent(key, h)
      if (won == null) h.v else won.v
    }
  }

  /** Drop everything held for (`s`, `dir`), newest first, unpersisting
    * the [[shared]] frames. A consumer is always registered after the
    * inputs its build called, so newest-first drops consumers before
    * their dependencies and CacheManager never re-plans a dependent of
    * a dropped entry. Release never builds; the next lookup rebuilds.
    */
  def release(s: SparkSession, dir: String): Unit =
    heldFor(s, dir).foreach { case (k, h) =>
      if (held.remove(k, h) && h.frame) h.v.asInstanceOf[DataFrame].unpersist()
    }

  /** Names held for (`s`, `dir`) in [[release]] order. */
  private[graft] def heldNames(s: SparkSession, dir: String): Seq[String] =
    heldFor(s, dir).map(_._1._3)

  private def heldFor(s: SparkSession, dir: String) =
    held.asScala.toSeq
      .filter { case ((ks, kd, _), _) => ks == s && kd == dir }
      .sortBy { case (_, h) => -h.seq }
}
