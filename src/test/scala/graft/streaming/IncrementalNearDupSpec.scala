package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.storage.StorageLevel

import graft.{Caches, SparkSpec}

/** The continuous-ingestion face of q93 (VERDICT r9 item 1): micro-batch
  * N+1 must dedup against the index micro-batch N persisted — and ONLY
  * against survivors, so a copy of a dropped doc still resolves to the
  * retained original.
  */
class IncrementalNearDupSpec extends SparkSpec {

  private def mkDirs(): (String, String, String) = {
    val root = Files.createTempDirectory("graft_inc_neardup")
    graft.TempDirs.cleanupOnExit(root)
    (root.resolve("index").toString, root.resolve("out").toString,
      root.resolve("ckpt").toString)
  }

  // 12 distinct tokens per doc — enough shingles that an appended token
  // keeps Jaccard ≈ 0.91 (well above the 0.5 verify threshold) and the
  // md5-deterministic band buckets collide.
  private def text(seed: Int): String =
    (0 until 12).map(i => s"tok${seed}x$i").mkString(" ")

  test("batch 2 dedups against batch 1's persisted index; only survivors are indexed") {
    val (indexDir, outDir, ckptDir) = mkDirs()
    import spark.implicits._
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext

    val mem = MemoryStream[(Long, String)]
    val q = IncrementalNearDup.run(
      mem.toDF().toDF("doc_id", "text"), indexDir, outDir, ckptDir)
    try {
      // batch 1: four distinct docs — empty index, all kept
      mem.addData((1L, text(1)), (2L, text(2)), (3L, text(3)), (4L, text(4)))
      q.processAllAvailable()
      // batch 2: 5 = near-copy of 1 (one appended token), 6 fresh,
      // 7 = exact copy of 2
      mem.addData((5L, text(1) + " extra"), (6L, text(6)), (7L, text(2)))
      q.processAllAvailable()
      // batch 3: 8 = copy of the DROPPED doc 5's text — must match doc 1
      // (the retained original), proving dropped docs never entered the
      // index
      mem.addData((8L, text(1) + " extra"))
      q.processAllAvailable()
    } finally q.stop()

    val decisions = spark.read.parquet(outDir)
      .select("doc_id", "dup_of", "kept").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getBoolean(2)))
      .toMap
    assert(decisions.size === 8)
    Seq(1L, 2L, 3L, 4L, 6L).foreach { id =>
      assert(decisions(id) === (None, true), s"doc $id should be kept")
    }
    assert(decisions(5L) === (Some(1L), false))
    assert(decisions(7L) === (Some(2L), false))
    assert(decisions(8L) === (Some(1L), false),
      "copy of a dropped doc must match the retained original")

    val indexed = spark.read.parquet(s"$indexDir/shingles")
      .select("doc_id").as[Long].collect().toSet
    assert(indexed === Set(1L, 2L, 3L, 4L, 6L), "index holds survivors only")
  }

  test("exactly-once: a retried batch leaves no duplicate decisions or index rows") {
    val (indexDir, outDir, _) = mkDirs()
    import spark.implicits._

    def b1 = Seq((1L, text(1)), (2L, text(2))).toDF("doc_id", "text")
    def b2 = Seq((3L, text(1) + " extra"), (4L, text(4))).toDF("doc_id", "text")

    IncrementalNearDup.processBatch(b1, 0L, indexDir, outDir)
    IncrementalNearDup.processBatch(b2, 1L, indexDir, outDir)
    def decisions() = spark.read.parquet(outDir)
      .select("doc_id", "dup_of", "kept").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getBoolean(2)))
      .sortBy(_._1).toSeq
    def indexRows() = spark.read.parquet(s"$indexDir/shingles")
      .select("doc_id").as[Long].collect().sorted.toSeq
    val dBefore = decisions()
    val iBefore = indexRows()
    assert(dBefore === Seq((1L, None, true), (2L, None, true),
      (3L, Some(1L), false), (4L, None, true)))
    assert(iBefore === Seq(1L, 2L, 4L), "survivors only, once each")

    // the retry failure mode: batch 1 re-delivered AFTER its index and
    // decision writes committed — an appending body would add a second
    // copy of everything and (worse) match each doc against its own
    // first-attempt signatures
    IncrementalNearDup.processBatch(b2, 1L, indexDir, outDir)
    assert(decisions() === dBefore, "replay must not change or duplicate decisions")
    assert(indexRows() === iBefore, "replay must not duplicate index rows")
  }

  test("a batch body run inside a query's scope leaves the query's persists cached") {
    val (indexDir, outDir, _) = mkDirs()
    import spark.implicits._
    Caches.scoped {
      val outer = Caches.scopedPersist(spark.range(17).selectExpr("id AS query_k"))
      IncrementalNearDup.processBatch(
        Seq((1L, text(1)), (2L, text(2))).toDF("doc_id", "text"), 0L, indexDir, outDir)
      assert(outer.storageLevel === StorageLevel.MEMORY_AND_DISK,
        "the batch body must release only the relations it registered")
    }
  }
}
