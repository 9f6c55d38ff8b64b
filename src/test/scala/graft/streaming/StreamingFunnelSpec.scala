package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The q179 seam contract driven directly on [[StreamingFunnel
  * .advance]]: batched folding with carried state must land exactly the
  * one-shot state — across straddled boundaries, skipped batches, and
  * every window-edge rule q81 defines (strict '>' at the stage time,
  * inclusive at +12 h, first view wins, out-of-order stages ignored). */
class StreamingFunnelSpec extends SparkSpec {
  import spark.implicits._

  private val H = 3600000000L // 1 h in µs

  private def ev(rows: Seq[(Long, Long, String)]): DataFrame =
    rows.toDF("user_id", "ts_us", "event_type")
      .select(col("user_id"), expr("timestamp_micros(ts_us)").as("ts"),
        col("event_type"))

  private def emptyState: DataFrame =
    Seq.empty[(Long, Option[Long], Option[Long], Option[Long])]
      .toDF("user_id", "t_view_us", "t_click_us", "t_purchase_us")

  private def stateOf(df: DataFrame): Seq[(Long, Option[Long], Option[Long], Option[Long])] =
    df.as[(Long, Option[Long], Option[Long], Option[Long])].collect().toSeq.sortBy(_._1)

  // ts-ordered log; batch boundaries at 10 h and 20 h exercise every
  // straddle. Users:
  //  1: view→click→purchase inside batch 1 (whole funnel, one batch)
  //  2: view b1, click b2, purchase b3 (straddles both seams)
  //  3: click@1h BEFORE its view@2h (ignored), then click@2h+12h
  //     exactly (inclusive edge — qualifies), purchase at same ts as
  //     the click (strict '>' — does NOT qualify)
  //  4: view@3h, click@3h+13h — outside the window, stays stage 1
  //  5: view@4h then second view@11h (first view wins: window anchors
  //     at 4h), click@15h — inside 4h+12h, qualifies
  //  6: purchase-only (never enters state)
  private val log = Seq(
    (3L, 1 * H, "click"), // before user 3's first view — must be ignored
    (1L, 1 * H, "view"), (1L, 2 * H, "click"), (1L, 3 * H, "purchase"),
    (2L, 2 * H, "view"),
    (3L, 2 * H, "view"),
    (4L, 3 * H, "view"),
    (5L, 4 * H, "view"),
    (6L, 5 * H, "purchase"),
    // batch 2: 10 h ≤ ts < 20 h
    (5L, 11 * H, "view"), // second view — must NOT reset the anchor
    (2L, 12 * H, "click"),
    (3L, 14 * H, "click"), // = 2h + 12h: inclusive upper edge, qualifies
    (3L, 14 * H, "purchase"), // same ts as the click: strict '>', ignored
    (5L, 15 * H, "click"), // inside 4h + 12h
    (4L, 16 * H, "click"), // = 3h + 13h: outside the window, ignored
    // batch 3: ts ≥ 20 h
    (2L, 21 * H, "purchase")) // inside 12h + 12h

  private val expected = Seq(
    (1L, Some(1 * H), Some(2 * H), Some(3 * H)),
    (2L, Some(2 * H), Some(12 * H), Some(21 * H)),
    (3L, Some(2 * H), Some(14 * H), None),
    (4L, Some(3 * H), None, None),
    (5L, Some(4 * H), Some(15 * H), None))

  test("3 ts-split batches land exactly the one-shot state, matching the hand truth") {
    val batches = Seq(log.filter(_._2 < 10 * H),
      log.filter(r => r._2 >= 10 * H && r._2 < 20 * H),
      log.filter(_._2 >= 20 * H))
    assert(batches.map(_.size).sum === log.size)
    var carry = emptyState
    batches.foreach { b => carry = StreamingFunnel.advance(ev(b), carry) }
    val oneShot = StreamingFunnel.advance(ev(log), emptyState)
    assert(stateOf(carry) === expected)
    assert(stateOf(oneShot) === expected)
  }

  test("an empty batch and a skipped user change nothing") {
    val s1 = StreamingFunnel.advance(ev(log.filter(_._2 < 10 * H)), emptyState)
    val s2 = StreamingFunnel.advance(ev(Seq.empty), s1)
    assert(stateOf(s2) === stateOf(s1))
  }

  test("durable face: batched apply equals one-shot; retries no-op; a crash-orphan version is invisible") {
    val dir = java.nio.file.Files.createTempDirectory("graft-funnel-state")
    graft.TempDirs.cleanupOnExit(dir)
    val batches = Seq(log.filter(_._2 < 10 * H),
      log.filter(r => r._2 >= 10 * H && r._2 < 20 * H),
      log.filter(_._2 >= 20 * H))
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingFunnel.processBatch(ev(b), dir.toString, i.toLong)
    }
    assert(stateOf(StreamingFunnel.publish(spark, dir.toString)) === expected)

    // retry of an already-committed batch must not change the state
    StreamingFunnel.processBatch(ev(batches(1)), dir.toString, 1L)
    assert(stateOf(StreamingFunnel.publish(spark, dir.toString)) === expected)

    // a crash mid-write leaves a version dir WITHOUT the marker — the
    // published state must still be the last committed one
    val orphan = java.nio.file.Paths.get(dir.toString, "v9", "state")
    java.nio.file.Files.createDirectories(orphan)
    assert(stateOf(StreamingFunnel.publish(spark, dir.toString)) === expected)
  }

  test("durable face: a late re-delivery of an older batch no-ops and writes nothing") {
    val dir = java.nio.file.Files.createTempDirectory("graft-funnel-late")
    graft.TempDirs.cleanupOnExit(dir)
    def listing(): Seq[String] = {
      val walk = java.nio.file.Files.walk(dir)
      try walk.iterator().asScala.map(p => dir.relativize(p).toString).toSeq.sorted
      finally walk.close()
    }
    val b0 = log.filter(_._2 < 10 * H)
    StreamingFunnel.processBatch(ev(b0), dir.toString, 0L)
    StreamingFunnel.processBatch(ev(log.filter(_._2 >= 10 * H)), dir.toString, 1L)
    val before = stateOf(StreamingFunnel.publish(spark, dir.toString))
    val files = listing()
    // batch 0 again, after batch 1 committed and pruned it
    StreamingFunnel.processBatch(ev(b0), dir.toString, 0L)
    assert(stateOf(StreamingFunnel.publish(spark, dir.toString)) === before)
    assert(listing() === files, "a late retry must not write a fresh version")
  }
}
