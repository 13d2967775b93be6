package graft.core

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Bounded, session-evicting memo — the engine's one memo mechanism.
  * Users: `Tables.load` reader plans (key `dir/name.parquet`),
  * `Streams` footer probes (key (dir, glob)), and the catalog's eight
  * shared-pass caches in `Queries` (LSH pairs and their components,
  * PCA, BPE training, kNN, k-means cells, wedges, label propagation).
  *
  * Two leak guards:
  *
  *  - LRU bound: at most [[maxEntries]] live values; inserting past
  *    the bound drops the least-recently-used entry (a dropped entry
  *    simply recomputes on next use — the memo is a pure cache).
  *  - Session eviction: the first entry for a session registers ONE
  *    listener on its SparkContext; application end clears every
  *    entry keyed by that session, so harness-lifetime driver memory
  *    (and the stopped session itself, which every memoized Dataset
  *    references) no longer outlives the session that produced it.
  *
  * Every drop — LRU victim, race-loser discard, session eviction —
  * best-effort RELEASES the value (ADVICE r11): a memoized Dataset
  * (or tuple of Datasets) is unpersisted so its cache blocks /
  * localCheckpoint RDDs free with the map entry instead of surviving
  * to session end; the bound guards executor memory, not just the
  * in-process map. Releasing a `Tables` reader plan is safe only because
  * no caller caches a bare `Tables` scan: `unpersist` on a bare scan
  * would also uncache an identical cached scan.
  *
  * All access synchronizes on the memo (the listener fires on the
  * listener-bus thread).
  */
final class SessionMemo[V](maxEntries: Int = 8) {
  require(maxEntries >= 1, s"maxEntries must be >= 1: $maxEntries")

  // LinkedHashMap iteration order = insertion order; move-on-access
  // below makes it LRU order
  private val m =
    scala.collection.mutable.LinkedHashMap[(SparkSession, String), V]()
  private val hooked = scala.collection.mutable.HashSet[SparkSession]()

  def getOrElseUpdate(s: SparkSession, key: String, v: => V): V = {
    synchronized {
      m.remove((s, key)) match {
        case Some(hit) => m.put((s, key), hit); return hit // LRU touch
        case None =>
      }
    }
    // compute OUTSIDE the lock: values are Spark jobs (LSH passes,
    // Gram collects) and must not serialize every other memo user
    val computed = v
    synchronized {
      m.get((s, key)) match {
        case Some(raced) =>
          release(computed) // the losing duplicate's cache blocks
          raced // a racer computed it first — reuse
        case None =>
          if (!hooked.contains(s)) {
            hooked += s
            s.sparkContext.addSparkListener(new SparkListener {
              override def onApplicationEnd(
                  e: SparkListenerApplicationEnd): Unit = evictSession(s)
            })
          }
          m.put((s, key), computed)
          while (m.size > maxEntries) {
            val victim = m.head._1
            m.remove(victim).foreach(release)
          }
          computed
      }
    }
  }

  /** Best-effort unpersist of a dropped value: a cached Dataset (or
    * any Product holding Datasets — the (pairs, survivors) tuples)
    * frees its storage with the map entry. Failures (stopped
    * context) are swallowed — release is an optimization, never a
    * correctness step. */
  private def release(v: Any): Unit = v match {
    case d: org.apache.spark.sql.Dataset[_] =>
      try d.unpersist(blocking = false)
      catch { case scala.util.control.NonFatal(_) => () }
    case p: Product => p.productIterator.foreach(release)
    case _ => ()
  }

  /** Drop every entry keyed by `s` (listener-called on application
    * end; callable directly in tests). */
  def evictSession(s: SparkSession): Unit = synchronized {
    m.keys.filter(_._1 eq s).toList
      .foreach(k => m.remove(k).foreach(release))
    hooked -= s
  }

  def size: Int = synchronized(m.size)

  /** Whether (s, key) currently holds a live value — test hook. */
  def contains(s: SparkSession, key: String): Boolean =
    synchronized(m.contains((s, key)))
}
