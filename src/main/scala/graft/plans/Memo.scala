package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** Session-scoped shared frames (shingle pipeline, LM frame, NB counts,
  * curation postings, ...): built once per (session, dir, name),
  * persisted, and HELD, so a warm lookup returns the built Dataset
  * instead of rebuilding and re-analysing its plan.
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

  /** A held frame and its insertion sequence number (release order). */
  private final case class Held(df: DataFrame, seq: Long)

  private val held =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), Held]
  private val nextSeq = new java.util.concurrent.atomic.AtomicLong

  /** The shared frame `name` over `dir` for session `s`. A hit returns
    * the held Dataset after one `storageLevel` check on that same
    * object (its canonicalized plan is memoized on it, so nothing is
    * rebuilt); an entry dropped behind Memo's back (`clearCache`, a
    * manual `unpersist`) is re-persisted. A miss builds OUTSIDE any map
    * lambda and lock — builds nest (a pair frame builds the shingle
    * frame it reads) and some run a driver job — then the first
    * registration wins. A held frame keeps the plan built under the
    * caps in force at its first build: flip a path-selection cap only
    * after [[release]].
    */
  def shared(s: SparkSession, dir: String, name: String)(build: => DataFrame): DataFrame = {
    val key = (s, dir, name)
    val hit = held.get(key)
    if (hit != null) cached(hit.df)
    else {
      // evict stopped sessions' entries (the Tables.memo convention)
      held.keySet.removeIf(k => k._1.sparkContext.isStopped)
      val h = Held(cached(build), nextSeq.incrementAndGet())
      val won = held.putIfAbsent(key, h)
      if (won == null) h.df else won.df
    }
  }

  /** Unpersist every frame held for (`s`, `dir`), newest first. A
    * consumer is always registered after the inputs its build called,
    * so newest-first drops consumers before their dependencies and
    * CacheManager never re-plans a dependent of a dropped entry. The
    * next lookup rebuilds.
    */
  def release(s: SparkSession, dir: String): Unit =
    heldFor(s, dir).foreach { case (k, h) => if (held.remove(k, h)) h.df.unpersist() }

  /** Names held for (`s`, `dir`) in [[release]] order. */
  private[graft] def heldNames(s: SparkSession, dir: String): Seq[String] =
    heldFor(s, dir).map(_._1._3)

  private def heldFor(s: SparkSession, dir: String) =
    held.asScala.toSeq
      .filter { case ((ks, kd, _), _) => ks == s && kd == dir }
      .sortBy { case (_, h) => -h.seq }
}
