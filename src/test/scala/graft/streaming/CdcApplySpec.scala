package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** The streaming face of the q130 MERGE: batched apply must equal the
  * one-shot full replay, deletes must out-version earlier upserts
  * across batch boundaries, retries must no-op, and a crash mid-write
  * must not lose the standing snapshot.
  */
class CdcApplySpec extends SparkSpec {
  import spark.implicits._

  // change log: (user_id, event_id=commit order, op, value).
  // user 1: upsert→update; user 2: upsert then DELETE in a LATER batch;
  // user 3: delete then re-insert; user 4: touched once in batch 1.
  private val b1 = Seq(
    (1L, 10L, "view", 1.0), (2L, 11L, "view", 2.0),
    (1L, 12L, "purchase", 1.5), (4L, 13L, "view", 4.0),
    (3L, 14L, "view", 3.0))
  private val b2 = Seq(
    (2L, 20L, "error", 0.0), // tombstone must kill user 2's batch-1 row
    (3L, 21L, "error", 0.0),
    (3L, 22L, "signup", 3.5), // re-insert after delete, same batch
    (1L, 23L, "view", 1.9))

  private def df(rows: Seq[(Long, Long, String, Double)]) =
    rows.toDF("user_id", "event_id", "event_type", "value")

  private def published(dir: String) =
    CdcApply.publish(spark, dir).as[(Long, Long, Double)].collect().toSeq

  test("batched apply equals the one-shot replay; deletes cross batch boundaries") {
    val twoStep = Files.createTempDirectory("graft-cdc-2")
    val oneShot = Files.createTempDirectory("graft-cdc-1")
    Seq(twoStep, oneShot).foreach(graft.TempDirs.cleanupOnExit)
    CdcApply.processBatch(df(b1), twoStep.toString, 0L)
    CdcApply.processBatch(df(b2), twoStep.toString, 1L)
    CdcApply.processBatch(df(b1 ++ b2), oneShot.toString, 0L)
    val got = published(twoStep.toString)
    assert(got === published(oneShot.toString), "apply must be associative over batches")
    assert(got === Seq((1L, 23L, 1.9), (3L, 22L, 3.5), (4L, 13L, 4.0)),
      "user 2 deleted cross-batch, user 3 re-inserted, users 1/4 at latest op")
  }

  test("commit order beats arrival order: an old op delivered late cannot out-version") {
    val dir = Files.createTempDirectory("graft-cdc-ooo")
    graft.TempDirs.cleanupOnExit(dir)
    CdcApply.processBatch(df(b1), dir.toString, 0L)
    // the file-source reality this spec once hit live: one commit's
    // rows split across two micro-batches in the WRONG order — the
    // re-insert (22) arrives a batch before the delete (21)
    CdcApply.processBatch(df(Seq((3L, 22L, "signup", 3.5))), dir.toString, 1L)
    CdcApply.processBatch(df(Seq((3L, 21L, "error", 0.0))), dir.toString, 2L)
    assert(published(dir.toString).find(_._1 == 3L) === Some((3L, 22L, 3.5)),
      "the higher commit id must win regardless of which batch delivered it")
  }

  test("a retried batch no-ops; an uncommitted version is invisible") {
    val dir = Files.createTempDirectory("graft-cdc-r")
    graft.TempDirs.cleanupOnExit(dir)
    CdcApply.processBatch(df(b1), dir.toString, 0L)
    CdcApply.processBatch(df(b2), dir.toString, 1L)
    val before = published(dir.toString)
    CdcApply.processBatch(df(b2), dir.toString, 1L) // redelivery after commit
    assert(published(dir.toString) === before, "retry must not re-apply")
    // crash window: a newer version fully written except its marker
    df(Seq((9L, 99L, "view", 9.9))).select(
      org.apache.spark.sql.functions.col("user_id"),
      org.apache.spark.sql.functions.struct(
        org.apache.spark.sql.functions.col("event_id"),
        org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions.col("value")).as("o"))
      .write.parquet(s"$dir/v7/snap")
    assert(published(dir.toString) === before, "uncommitted snapshots must not serve")
  }

  /** Every file under `dir`, relative, sorted. */
  private def listing(dir: java.nio.file.Path): Seq[String] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.map(p => dir.relativize(p).toString).toSeq.sorted
    finally walk.close()
  }

  test("a late re-delivery of an older batch no-ops and writes nothing") {
    val dir = Files.createTempDirectory("graft-cdc-late")
    graft.TempDirs.cleanupOnExit(dir)
    CdcApply.processBatch(df(b1), dir.toString, 0L)
    CdcApply.processBatch(df(b2), dir.toString, 1L)
    val before = published(dir.toString)
    val files = listing(dir)
    // batch 0 again, after batch 1 committed and pruned it: its marker
    // must still record it as applied
    CdcApply.processBatch(df(b1), dir.toString, 0L)
    assert(published(dir.toString) === before, "a late retry must not re-apply")
    assert(listing(dir) === files, "a late retry must not write a fresh version")
  }

  test("the unbounded form folds a file stream into the same snapshot") {
    val in = Files.createTempDirectory("graft-cdc-in")
    val st = Files.createTempDirectory("graft-cdc-st")
    val ck = Files.createTempDirectory("graft-cdc-ck")
    Seq(in, st, ck).foreach(graft.TempDirs.cleanupOnExit)
    df(b1).write.parquet(s"$in/f1")
    val schema = df(b1).schema
    val q = spark.readStream.schema(schema).parquet(in.toString + "/*")
      .writeStream.option("checkpointLocation", ck.toString)
      .foreachBatch { (b: DataFrame, id: Long) => CdcApply.processBatch(b, st.toString, id) }
      .start()
    try {
      q.processAllAvailable()
      df(b2).coalesce(1).write.parquet(s"$in/f2") // single part: atomic appearance under the running poll
      q.processAllAvailable()
    } finally q.stop()
    assert(published(st.toString) ===
      Seq((1L, 23L, 1.9), (3L, 22L, 3.5), (4L, 13L, 4.0)))
  }
}
