package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Spatial bbox operators for the detection domain
  * (`/root/reference/uav/custom_types.py:5-20` BBox model;
  * `/root/reference/uav/frame_processing.py:88-120` detection pipeline —
  * the reference delegates IoU/NMS to YOLO's internals; here they are
  * first-class relational operators).
  */
object BBoxOps {

  /** Intersection-over-union of two axis-aligned boxes, as pure integer
    * arithmetic + one exact division — codegen'd and oracle-checkable. */
  def iou(ax0: Column, ay0: Column, ax1: Column, ay1: Column,
          bx0: Column, by0: Column, bx1: Column, by1: Column): Column = {
    val iw = greatest(least(ax1, bx1) - greatest(ax0, bx0), lit(0L))
    val ih = greatest(least(ay1, by1) - greatest(ay0, by0), lit(0L))
    val inter = iw * ih
    val union = (ax1 - ax0) * (ay1 - ay0) + (bx1 - bx0) * (by1 - by0) - inter
    inter.cast("double") / union
  }

  final case class Box(frame: Long, box_id: Long, x0: Long, y0: Long,
                       x1: Long, y1: Long, confidence: Double)

  /** Greedy non-max suppression over one group of boxes: walk them by
    * descending confidence (ties: smaller `box_id` first), keep a box iff
    * its IoU with every already-kept box is below `iouThreshold`. The one
    * greedy walk: the flagship runs it inside each keyframe's row, and
    * [[nms]] runs it per frame group. */
  def greedyNms(boxes: Seq[Box], iouThreshold: Double): Seq[Box] =
    boxes.sortBy(b => (-b.confidence, b.box_id)).foldLeft(Vector.empty[Box]) { (kept, b) =>
      val overlaps = kept.exists { k =>
        val iw = math.max(math.min(b.x1, k.x1) - math.max(b.x0, k.x0), 0L)
        val ih = math.max(math.min(b.y1, k.y1) - math.max(b.y0, k.y0), 0L)
        val inter = iw * ih
        val union = (b.x1 - b.x0) * (b.y1 - b.y0) + (k.x1 - k.x0) * (k.y1 - k.y0) - inter
        inter.toDouble / union >= iouThreshold
      }
      if (overlaps) kept else kept :+ b
    }

  /** [[greedyNms]] per frame over a relation of boxes whose frames span
    * rows: inherently sequential *within* a frame but embarrassingly
    * parallel *across* frames → `groupByKey(frame).flatMapGroups`, the
    * idiomatic Spark shape for per-group sequential algorithms. State per
    * group is just the kept boxes (bounded by detections-per-frame). */
  def nms(spark: SparkSession, boxes: DataFrame, iouThreshold: Double): DataFrame = {
    import spark.implicits._
    boxes.as[Box]
      .groupByKey(_.frame)
      .flatMapGroups((_, it) => greedyNms(it.toIndexedSeq, iouThreshold))
      .toDF()
  }

  /** Deterministic synthetic detections derived from the events table —
    * the BBox data model exercised at any SF without model weights.
    *
    * `frame = event_id div boxesPerFrame`, NOT modulo: the frame COUNT
    * grows with the data while detections-per-frame stays a constant
    * `boxesPerFrame` — more video, same density, the physical reality.
    * Modulo framing (round 1) pinned the frame count, so per-frame
    * density — and every per-frame pairwise join on top — grew linearly
    * with SF and quadratically in pair count. */
  def syntheticBoxes(events: DataFrame, boxesPerFrame: Int): DataFrame = {
    val id = col("event_id")
    events.select(
      // integer div (not /-then-cast): IEEE quotients can round across an
      // integer boundary past 2^53 — same cliff Segments guards against
      expr(s"event_id div $boxesPerFrame").as("frame"),
      id.as("box_id"),
      (id * 13 % 600).as("x0"),
      (id * 29 % 600).as("y0"),
      (id * 13 % 600 + id * 7 % 120 + 20).as("x1"),
      (id * 29 % 600 + id * 11 % 120 + 20).as("y1"),
      col("value").as("confidence"))
  }
}
