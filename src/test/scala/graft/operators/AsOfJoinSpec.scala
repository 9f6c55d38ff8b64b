package graft.operators

import java.sql.Timestamp

import graft.SparkSpec

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private def t(s: Long) = new Timestamp(s * 1000)

  test("latest at-or-before semantics, same-instant visibility, tie-break") {
    val left = Seq(
      (1L, "A", t(5)),   // before any right row -> null
      (2L, "A", t(10)),  // same instant as right id 100 -> 100
      (3L, "A", t(15)),  // between -> 100
      (4L, "A", t(25)),  // after both -> 200
      (5L, "B", t(50))   // key with tied right rows -> greatest id wins
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      ("A", t(10), 100L, 1.0),
      ("A", t(20), 200L, 2.0),
      ("B", t(40), 300L, 3.0),
      ("B", t(40), 301L, 3.5)
    ).toDF("user_id", "ts", "purchase_id", "purchase_value")

    val got = AsOfReferenceJoin.lastAtOrBefore(left, right, "user_id", "ts", "purchase_id")
      .select("event_id", "purchase_id")
      .as[(Long, Option[Long])].collect().toMap
    assert(got(1L) === None)
    assert(got(2L) === Some(100L))
    assert(got(3L) === Some(100L))
    assert(got(4L) === Some(200L))
    assert(got(5L) === Some(301L))

    // the NATIVE operator must agree row-for-row on the same fixture
    val native = AsOfJoin.lastAtOrBeforeNative(left, right, "user_id", "ts", "purchase_id")
      .select("event_id", "purchase_id")
      .as[(Long, Option[Long])].collect().toMap
    assert(native === got)
  }

  test("native as-of: empty right side yields all-null payload, not an error") {
    val left = Seq((1L, "A", t(5)), (2L, "B", t(9))).toDF("event_id", "user_id", "ts")
    val right = Seq.empty[(String, Timestamp, Long, Double)]
      .toDF("user_id", "ts", "purchase_id", "purchase_value")
    val out = AsOfJoin.lastAtOrBeforeNative(left, right, "user_id", "ts", "purchase_id")
      .select("event_id", "purchase_id").as[(Long, Option[Long])].collect().toMap
    assert(out === Map(1L -> None, 2L -> None))
  }

  test("native as-of: full parity with the composed form on real data") {
    val e = graft.Tables.events(spark, sf0001)
    val left = e.select("event_id", "user_id", "ts")
    val right = e.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id".as("purchase_id"), $"value".as("purchase_value"))
    val composed = AsOfReferenceJoin.lastAtOrBefore(left, right, "user_id", "ts", "purchase_id")
      .orderBy("event_id").collect().toSeq
    val native = AsOfJoin.lastAtOrBeforeNative(left, right, "user_id", "ts", "purchase_id")
      .orderBy("event_id").collect().toSeq
    assert(native === composed)
  }
}
