package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Partitioned-layout registry: the partition-PRUNING lever (q82),
  * complementing [[BucketedTables]]' shuffle lever (q73).
  *
  * Hive-style directory partitioning is the other standing layout a
  * 100 TB warehouse pays for once: writing the fact table partitioned by
  * a low-cardinality predicate column turns every selective filter on
  * that column into file-listing arithmetic — partitions outside the
  * predicate are never opened, so the scan cost tracks the QUERY's
  * selectivity instead of the TABLE's size. Row-group/page skipping
  * (PushedFilters, guarded since round 1) still reads footers of every
  * file; partition pruning never lists the excluded directories at all.
  * q82's PlanAudit pins the mechanism: the predicate lands in the scan's
  * `PartitionFilters`, and the spec counts selected partitions (2 of 5).
  *
  * Build-once per (session, dir), charged to the bench's `shared_build`
  * (`partitioned_layout`) like the other standing relations. Data lands
  * in a per-build temp dir — a layout demonstration over the read-only
  * fixtures; a real deployment partitions the primary copy.
  */
object PartitionedTables {

  /** Ensures the events-by-type layout exists for (session, dir);
    * returns its root path. The pre-write repartition aligns write tasks
    * with partition directories (one file per event_type instead of one
    * per (task × type)). The write job runs outside any monitor via
    * [[Caches.memo]]'s per-key latch — a concurrent caller for another
    * (session, dir) is never blocked behind it. */
  def eventsByType(spark: SparkSession, dir: String): String =
    Caches.memo(spark, dir, "partitioned_events") {
      val baseDir = java.nio.file.Files.createTempDirectory("graft-part-")
      TempDirs.cleanupOnExit(baseDir) // layout lives until the JVM exits
      val base = baseDir.toString + "/events"
      Tables.events(spark, dir)
        .repartition(col("event_type"))
        .write.partitionBy("event_type").parquet(base)
      base
    }

  /** Materializes the layout (Bench times this as shared build). */
  def warm(spark: SparkSession, dir: String): Unit = {
    eventsByType(spark, dir)
    ()
  }
}
