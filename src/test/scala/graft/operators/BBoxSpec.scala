package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class BBoxSpec extends SparkSpec {
  import spark.implicits._

  private val fixture = Seq(
    //               frame, id,  x0,  y0,  x1,  y1, conf
    BBoxOps.Box(0L, 1L, 0L, 0L, 100L, 100L, 0.9),
    BBoxOps.Box(0L, 2L, 10L, 10L, 110L, 110L, 0.8), // IoU with 1 ~ 0.68 -> suppressed
    BBoxOps.Box(0L, 3L, 200L, 200L, 300L, 300L, 0.7), // disjoint -> kept
    BBoxOps.Box(1L, 4L, 0L, 0L, 50L, 50L, 0.5) // other frame -> untouched
  )
  private val boxes = fixture.toDF()

  test("iou: known overlaps") {
    val got = boxes.as("a").join(boxes.as("b"),
        col("a.frame") === col("b.frame") && col("a.box_id") < col("b.box_id"))
      .select(col("a.box_id"), col("b.box_id"),
        BBoxOps.iou(col("a.x0"), col("a.y0"), col("a.x1"), col("a.y1"),
          col("b.x0"), col("b.y0"), col("b.x1"), col("b.y1")).as("iou"))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, i) => (a, b) -> i }.toMap
    val expected = 90.0 * 90 / (2 * 100 * 100 - 90 * 90)
    assert(math.abs(got((1L, 2L)) - expected) < 1e-12)
    assert(got((1L, 3L)) === 0.0)
    assert(got((2L, 3L)) === 0.0)
  }

  test("nms: suppresses the overlapping lower-confidence box only") {
    val kept = BBoxOps.nms(spark, boxes, 0.5)
      .select("box_id").as[Long].collect().toSet
    assert(kept === Set(1L, 3L, 4L))
    // the kernel the face runs, on the frame-0 group alone
    assert(BBoxOps.greedyNms(fixture.filter(_.frame == 0L), 0.5).map(_.box_id) === Seq(1L, 3L))
    // a confidence tie walks the smaller box_id first, as q37's oracle
    // ranks (confidence DESC, box_id): box 6 is kept, its twin 7 dropped
    val tie = Seq(BBoxOps.Box(5L, 7L, 0L, 0L, 40L, 40L, 0.6),
      BBoxOps.Box(5L, 6L, 2L, 2L, 42L, 42L, 0.6))
    assert(BBoxOps.greedyNms(tie, 0.5).map(_.box_id) === Seq(6L))
    assert(BBoxOps.greedyNms(Seq.empty, 0.5).isEmpty)
  }

  test("nms invariant on real-shaped data: kept boxes are mutually below threshold") {
    val synth = BBoxOps.syntheticBoxes(graft.Tables.events(spark, sf0001), 50)
    val kept = BBoxOps.nms(spark, synth, 0.5)
    val a = kept.select(col("frame"), col("box_id").as("id_a"), col("x0").as("ax0"),
      col("y0").as("ay0"), col("x1").as("ax1"), col("y1").as("ay1"))
    val b = kept.select(col("frame"), col("box_id").as("id_b"), col("x0").as("bx0"),
      col("y0").as("by0"), col("x1").as("bx1"), col("y1").as("by1"))
    val violations = a.join(b, Seq("frame"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("iou", BBoxOps.iou(col("ax0"), col("ay0"), col("ax1"), col("ay1"),
        col("bx0"), col("by0"), col("bx1"), col("by1")))
      .filter(col("iou") >= 0.5)
      .count()
    assert(violations === 0L)
    // the face equals the kernel applied per frame
    val perFrame = synth.as[BBoxOps.Box].collect().toSeq.groupBy(_.frame).values
      .flatMap(BBoxOps.greedyNms(_, 0.5)).toSet
    assert(kept.as[BBoxOps.Box].collect().toSet === perFrame)
  }
}
