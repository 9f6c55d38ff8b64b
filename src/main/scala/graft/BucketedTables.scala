package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Bucketed-table registry: the co-located join layout (q73).
  *
  * The big-big join (lineitem ⋈ orders on orderkey, q50's core) shuffles
  * BOTH fact tables on every run — at 100 TB that shuffle IS the query
  * cost, and it repeats for every join on the same key. The standing fix
  * is to pay one layout pass up front: write both tables bucketed (and
  * sorted) by the join key, after which every orderkey-equi-join reads
  * co-located buckets and the shuffle (and sort) disappears from every
  * subsequent plan. That amortization — one write, N shuffle-free joins
  * — is the point; it is why warehouses bucket their fact tables.
  *
  * Mechanics: `bucketBy(8, key)` assigns rows to buckets by
  * `pmod(murmur3(key), 8)` — the same `HashPartitioning` a shuffle
  * would produce — and records the spec in the catalog; the scan then
  * reports that partitioning, so `EnsureRequirements` inserts no
  * Exchange. The pre-write `repartition(8, key)` aligns write tasks
  * with buckets (one file per bucket), which is also what lets the
  * reader trust per-bucket sort order and skip the SMJ sort. q73's
  * PlanAudit pins all of it: a SortMergeJoin whose subtree holds zero
  * shuffle exchanges.
  *
  * Build-once per (session, dir), charged to the bench's `shared_build`
  * like the other standing relations. Tables are session-catalog-local;
  * data lands in a per-build temp dir (this is a layout DEMONSTRATION
  * over the read-only fixtures — a real deployment buckets the primary
  * copy).
  */
object BucketedTables {

  final case class Names(lineitem: String, orders: String)

  private def key(spark: SparkSession, dir: String): String =
    s"${org.apache.spark.sql.graft.SessionBridge.uuid(spark)}|$dir"

  val NumBuckets = 8

  /** Ensures both bucketed tables exist for (session, dir); returns
    * their catalog names. The multi-second write runs OUTSIDE any
    * monitor via [[Caches.memo]]'s per-key latch, so a concurrent
    * caller for a different (session, dir) proceeds immediately. */
  def lineitemOrders(spark: SparkSession, dir: String): Names = {
    val k = key(spark, dir)
    Caches.memo(spark, dir, "bucketed_lineitem_orders") {
      val tag = java.security.MessageDigest.getInstance("MD5")
        .digest(k.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      val names = Names(s"graft_bkt_${tag}_lineitem", s"graft_bkt_${tag}_orders")
      // Idempotent retry: Caches.memo frees the key when a build throws,
      // but the deterministic MD5 tag reproduces the same table names —
      // if a prior attempt died between the two saveAsTable calls, the
      // leftover catalog entry would fail every retry for the rest of
      // the session. Drop both names up front so the memoized block
      // composes with partial failures. (External-path tables: DROP
      // removes only the catalog entry; the orphaned temp dir is already
      // registered for exit cleanup.)
      spark.sql(s"DROP TABLE IF EXISTS ${names.lineitem}")
      spark.sql(s"DROP TABLE IF EXISTS ${names.orders}")
      val baseDir = java.nio.file.Files.createTempDirectory("graft-bkt-")
      TempDirs.cleanupOnExit(baseDir) // tables live until the JVM exits
      val base = baseDir.toString
      Tables.lineitem(spark, dir)
        .select("l_orderkey", "l_extendedprice", "l_discount", "l_quantity")
        .repartition(NumBuckets, col("l_orderkey"))
        .write.bucketBy(NumBuckets, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$base/lineitem").saveAsTable(names.lineitem)
      Tables.orders(spark, dir)
        .select("o_orderkey", "o_orderpriority")
        .repartition(NumBuckets, col("o_orderkey"))
        .write.bucketBy(NumBuckets, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$base/orders").saveAsTable(names.orders)
      names
    }
  }

  /** Materializes the layout (Bench times this as shared build). */
  def warm(spark: SparkSession, dir: String): Unit = {
    lineitemOrders(spark, dir)
    ()
  }
}
