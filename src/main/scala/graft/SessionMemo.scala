package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Bounded, session-aware memo for expensive per-(session, dataset)
  * artifacts — checkpointed DataFrames, trained models, pair graphs.
  *
  * Replaces the ad-hoc `TrieMap[identityHashCode(spark):dir, V]` memos,
  * which had two failure modes in a long-lived deployment:
  *
  *  - '''identity reuse''': `System.identityHashCode` can recur after
  *    the original session is GC'd, so a fresh session with the same
  *    dataset key could be served a DataFrame or model bound to a dead
  *    session. Here the owning session rides in the map key and is
  *    compared by REFERENCE (`eq`), which can never alias two distinct
  *    sessions; entries whose session has been stopped are purged (and
  *    released) on the next access rather than reused.
  *
  *  - '''unbounded growth''': entries were never evicted, so cached
  *    `localCheckpoint` blocks accumulated disk for the session's
  *    lifetime as a session cycled datasets. Here the map is bounded:
  *    past `maxEntries`, the oldest COMPLETED entry is evicted through
  *    the `release` callback (unpersist / checkpoint-block free), so
  *    storage tracks the working set, not the history. In-flight
  *    builds are never evicted — removing one would strand the blocks
  *    its builder is still creating (nobody would ever release them)
  *    and let a re-request start a duplicate concurrent build — so the
  *    bound may be exceeded transiently while more than `maxEntries`
  *    builds are simultaneously in flight; each owner re-enforces the
  *    bound as its build completes, restoring it at steady state.
  *
  * Concurrency: compute runs under a PER-KEY latch, not the memo-wide
  * lock — two concurrent consumers of the SAME (session, dataset)
  * entry share one build (the second blocks on the first's latch and
  * reads its result), while consumers of unrelated entries never
  * serialize behind a multi-second materialization, and a compute that
  * calls into another memo cannot deadlock across memo locks (the map
  * lock is held only for get/put/evict bookkeeping, never during
  * compute).
  */
class SessionMemo[V](maxEntries: Int)(release: V => Unit) {
  require(maxEntries >= 1, s"maxEntries must be >= 1, got $maxEntries")

  import SessionMemo.K

  // insertion-ordered so eviction drops the oldest artifact; values are
  // per-key latches so the build runs outside the map lock
  private val map = new java.util.LinkedHashMap[K, SessionMemo.Cell[V]]()

  /** Session-liveness predicate, overridable by concurrency tests that
    * need to flip "stopped" deterministically without tearing down the
    * one shared SparkContext a test JVM gets.
    */
  protected def sessionStopped(s: SparkSession): Boolean =
    s.sparkContext.isStopped

  /** Purge dead-session entries: their checkpoint blocks are already
    * gone with the session, and serving one would hand the caller a
    * plan bound to a stopped context. Only COMPLETED cells are removed
    * and released here — a dead session's IN-FLIGHT cell stays mapped
    * so its owner's post-complete re-check is the one that frees the
    * freshly built value; pulling it out here would leave nobody
    * holding a releasable reference. Reentrant-safe under the memo
    * lock (exposed to tests to drive exact interleavings).
    */
  private[graft] def purgeDead(): Unit = synchronized {
    val it = map.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (sessionStopped(e.getKey.session) && e.getValue.isDone) {
        // unmap BEFORE releasing: a release that throws must not leave
        // the dead entry mapped, or every later call would retry it
        it.remove()
        e.getValue.ifDone(release)
      }
    }
  }

  def getOrElseUpdate(spark: SparkSession, key: String)(compute: => V): V = {
    val k = new K(spark, key)
    var mine: SessionMemo.Cell[V] = null
    val cell = synchronized {
      purgeDead()
      val hit = map.get(k)
      if (hit != null) hit
      else {
        mine = new SessionMemo.Cell[V]
        map.put(k, mine)
        evictOverflow(keep = mine)
        mine
      }
    }
    if (cell ne mine) cell.await()
    else {
      // this caller owns the build; run it with no lock held
      val v =
        try cell.complete(compute)
        catch {
          case t: Throwable =>
            synchronized { if (map.get(k) eq cell) map.remove(k) }
            cell.fail(t)
            throw t
        }
      // post-complete re-check under lock: if our session died while
      // the build ran, free the value we just created (the purge above
      // intentionally skipped this in-flight cell); otherwise restore
      // the size bound now that this cell has become evictable — but
      // never by evicting the value we are about to hand the caller.
      // Release ONLY while the cell is still mapped: once `complete`
      // made it isDone, a concurrent purge or eviction may already
      // have removed-and-released it, and releasing again here would
      // double-free (the released-exactly-once contract).
      synchronized {
        if (sessionStopped(spark)) {
          if (map.get(k) eq cell) { map.remove(k); release(v) }
        } else evictOverflow(keep = cell)
      }
      v
    }
  }

  /** Drop + release oldest COMPLETED entries until the bound holds,
    * skipping in-flight builds and the caller's own cell. Must be
    * called with the memo lock held. May leave `map.size > maxEntries`
    * when the excess is entirely in-flight/own cells — the transient
    * overflow documented in the class comment.
    */
  private def evictOverflow(keep: SessionMemo.Cell[V]): Unit = {
    var overflow = map.size - maxEntries
    if (overflow > 0) {
      val it = map.entrySet().iterator()
      while (overflow > 0 && it.hasNext) {
        val e = it.next()
        if ((e.getValue ne keep) && e.getValue.isDone) {
          e.getValue.ifDone(release)
          it.remove()
          overflow -= 1
        }
      }
    }
  }

  private[graft] def size: Int = synchronized(map.size)
}

object SessionMemo {

  /** One memo entry: a latch the owning caller completes and every
    * other caller of the same key awaits. `ifDone` exposes the value
    * to eviction ONLY once complete — evicting an in-flight build must
    * not release blocks the builder is still creating.
    */
  private final class Cell[V] {
    private val latch = new java.util.concurrent.CountDownLatch(1)
    @volatile private var value: Option[V] = None
    @volatile private var error: Throwable = null

    def complete(v: V): V = { value = Some(v); latch.countDown(); v }
    def fail(t: Throwable): Unit = { error = t; latch.countDown() }
    def await(): V = {
      latch.await()
      if (error != null)
        throw new IllegalStateException(
          "memoized build failed in the owning caller", error)
      value.get
    }
    def ifDone(f: V => Unit): Unit = value.foreach(f)
    def isDone: Boolean = value.isDefined
  }

  /** Reference-identity session key: two sessions are the same entry
    * owner iff they are the same object, never merely equal hashes.
    */
  private final class K(val session: SparkSession, val key: String) {
    override def hashCode: Int =
      System.identityHashCode(session) * 31 + key.hashCode
    override def equals(o: Any): Boolean = o match {
      case k: K => (k.session eq session) && k.key == key
      case _ => false
    }
  }

  /** Free the storage behind a memoized DataFrame: the cache-manager
    * entry if it was `persist()`ed, plus the checkpoint RDD's blocks
    * when the plan root is the `LogicalRDD` that
    * `Dataset.localCheckpoint` returns (plain `unpersist` does not
    * reach those — they are RDD-level storage, not SQL cache entries).
    * A no-op once the owning context is stopped: its blocks went with
    * it, and `unpersist` on a stopped context throws.
    */
  def free(df: DataFrame): Unit =
    if (!df.sparkSession.sparkContext.isStopped) {
      df.unpersist(blocking = false)
      df.queryExecution.logical match {
        case l: LogicalRDD => l.rdd.unpersist(blocking = false)
        case _ => ()
      }
    }
}
