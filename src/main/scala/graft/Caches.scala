package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Persist lifetime registry (VERDICT r2 items 1/3/8).
  *
  * Two lifetimes, nothing else:
  *
  *  - '''scoped''' — a build side or self-join input that exists for ONE
  *    query. Registered here by the operator that persists it
  *    ([[scopedPersist]]) and unpersisted when the enclosing [[scoped]]
  *    block exits, so retained relations can't accumulate across a
  *    254-query session and compete for storage memory (the round-2
  *    bench regression mechanism). Every harness main, spec and
  *    micro-batch body runs its query inside `Caches.scoped { … }`.
  *    Scopes nest: an inner scope (a batch body run inside a query)
  *    releases only the relations registered since it was entered, and
  *    the enclosing query's persists stay until its own scope exits. The
  *    registry assumes queries run ONE AT A TIME per JVM — a concurrent
  *    harness would release another query's live build side; none of the
  *    harness mains nor the (sequential) test suites do that.
  *  - '''shared''' — a relation deliberately reused by SEVERAL queries in
  *    one session (the q30→q31→q60 dedup trio). Compute-once by key, so
  *    the reuse is explicit in code rather than an accident of
  *    plan-matched cache hits; released only at session end
  *    ([[releaseShared]]).
  *
  * A local checkpoint is neither: `unpersist` does not free checkpoint
  * blocks (the ContextCleaner does, once the RDD is garbage), so an
  * operator calls `localCheckpoint(eager = true)` itself and registers
  * nothing here.
  *
  * Keys include the session (identity) and the data dir, so tests running
  * several sessions or SFs in one JVM never cross-wire relations.
  */
object Caches {

  // scoped relations in registration order; each scope releases its tail
  private val scopedRels = mutable.ArrayBuffer.empty[DataFrame]
  // relations persisted by sharedRelation — unpersisted by releaseShared
  // (or once their session stops); the memo entry serves them
  private val shared = mutable.ArrayBuffer.empty[DataFrame]
  private val memos = mutable.HashMap.empty[String, Any]
  // keys whose memo build is currently running OUTSIDE the monitor —
  // waiters block on the latch, not on the global lock (a multi-second
  // build under `synchronized` would stall every scopedPersist/release
  // from other threads, e.g. a foreachBatch or parallel-suite thread).
  private val inFlight = mutable.HashMap.empty[String, java.util.concurrent.CountDownLatch]

  // sessionUUID (stable, never reused) rather than identityHashCode: an
  // identity hash can be recycled after a stopped session is GC'd, which
  // would hand a later session a DataFrame bound to the dead one. The
  // UUID is private[sql] in Spark 4, hence the SessionBridge shim; the
  // non-classic fallback can't collide in practice because stopped
  // sessions are evicted eagerly below.
  private def sessionKey(spark: SparkSession, name: String, dir: String): String =
    s"${org.apache.spark.sql.graft.SessionBridge.uuid(spark)}|$dir|$name"

  /** Drop (and unpersist) shared relations whose session has been
    * stopped — they can never be served again, and holding them pins the
    * dead session's plan graphs across test suites. Caller holds the
    * lock. */
  private def evictStopped(): Unit = {
    val dead = shared.filter { df =>
      try df.sparkSession.sparkContext.isStopped
      catch { case _: Throwable => true }
    }
    if (dead.nonEmpty) {
      dead.foreach(unpersistQuietly)
      shared --= dead
      memos.filterInPlace { case (_, v) => !dead.contains(v) }
    }
  }

  private def unpersistQuietly(df: DataFrame): Unit =
    try df.unpersist(blocking = false)
    catch { case _: Throwable => () }

  /** Persist `df` until the innermost enclosing [[scoped]] block exits. */
  def scopedPersist(df: DataFrame): DataFrame = synchronized {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    scopedRels += p
    p
  }

  /** Runs `body` as one scope: unpersists exactly the scoped relations
    * registered since the scope was entered, also when `body` throws.
    * An inner scope leaves the enclosing scope's relations cached. */
  def scoped[T](body: => T): T = {
    val mark = synchronized(scopedRels.length)
    try body
    finally synchronized {
      // a `releaseScoped` inside `body` may already have emptied the tail
      while (scopedRels.length > mark)
        unpersistQuietly(scopedRels.remove(scopedRels.length - 1))
    }
  }

  /** Compute-once relation shared across queries of one (session, dir),
    * built on [[memo]]'s per-key latch.
    *
    * Materialized EAGERLY: a shared build may internally register scoped
    * persists (RowIds' sorted intermediate) whose two-pass consistency
    * holds only while they are cached. Returning a lazy plan would let a
    * caller construct it, leave its scope, and materialize later with
    * the intermediate gone — re-running the range sort independently in
    * each subtree. Counting here pins materialization inside the build's
    * own scoped-persist window. Nested builds (verified_pairs builds
    * shingle_docs) use distinct keys, so the same thread never waits on
    * its own latch. */
  def sharedRelation(spark: SparkSession, dir: String, name: String)
                    (build: => DataFrame): DataFrame =
    memo(spark, dir, name) {
      val p = build.persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      synchronized { shared += p }
      p
    }

  /** Compute-once Long per (session, dir) — the scalar sibling of
    * [[sharedRelation]], for values like a corpus count that size a
    * downstream plan (q57's bandBits) but are constant for a session. */
  def sharedLong(spark: SparkSession, dir: String, name: String)
                (compute: => Long): Long =
    memo(spark, dir, name)(compute)

  /** Compute-once value per (session, dir, name) with the build OUTSIDE
    * the monitor — the registry primitive behind [[sharedRelation]],
    * [[sharedLong]] and the standing layouts ([[BucketedTables]],
    * [[PartitionedTables]]) whose build is a multi-second Spark write
    * job. The lock guards only the map lookups: a concurrent caller of
    * the same key waits on a per-key latch and re-checks (retrying if
    * the first build failed); a caller of a different key (or of
    * scopedPersist/scoped) never blocks behind the build. The
    * build runs at most once per key. */
  def memo[T](spark: SparkSession, dir: String, name: String)(build: => T): T = {
    val key = sessionKey(spark, name, dir)
    val claim = synchronized {
      evictStopped()
      memos.get(key) match {
        case Some(v) => Some(Right(v))
        case None => inFlight.get(key) match {
          case Some(latch) => Some(Left(latch))
          case None =>
            inFlight(key) = new java.util.concurrent.CountDownLatch(1)
            None
        }
      }
    }
    claim match {
      case Some(Right(v)) => v.asInstanceOf[T]
      case Some(Left(latch)) =>
        latch.await()
        // built by the other thread — or its build failed, in which case
        // the key is free again and this call retries the build itself.
        memo(spark, dir, name)(build)
      case None =>
        val latch = synchronized(inFlight(key))
        try {
          val v = build
          synchronized { memos(key) = v }
          v
        } finally {
          synchronized { inFlight.remove(key) }
          latch.countDown()
        }
    }
  }

  /** Unpersist every scoped relation, whichever scope registered it —
    * for a caller that runs queries back-to-back without [[scoped]].
    * Safe against already-stopped sessions (specs stop theirs). */
  def releaseScoped(): Unit = synchronized {
    scopedRels.foreach(unpersistQuietly)
    scopedRels.clear()
  }

  /** Unpersist the shared relations too — session end only. Memoized
    * layout paths/names go as well: the temp dirs themselves are
    * JVM-lifetime (TempDirs.cleanupOnExit), but a fresh session must
    * rebuild its own entries rather than see a stopped session's. */
  def releaseShared(): Unit = synchronized {
    shared.foreach(unpersistQuietly)
    shared.clear()
    memos.clear()
  }
}
