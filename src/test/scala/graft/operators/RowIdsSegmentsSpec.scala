package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

class RowIdsSegmentsSpec extends SparkSpec {
  import spark.implicits._

  test("dense ids are 0..n-1 in key order, over shuffled multi-partition input") {
    val n = 10000
    val df = spark.range(n).select((col("id") * 7919 % n).as("k")).repartition(8)
    val withId = RowIds.withDenseId(df.toDF(), Seq(col("k")), "rid")
    val rows = withId.orderBy("rid").select("k", "rid").as[(Long, Long)].collect()
    assert(rows.map(_._2).toSeq === (0L until n.toLong))
    assert(rows.map(_._1).toSeq === rows.map(_._1).sorted.toSeq)
  }

  test("withDenseId rows survive a non-codegen collect (reused-row contract)") {
    // the numbering mapPartitions reuses one GenericInternalRow/JoinedRow
    // pair per partition — safe only while the consuming scan projects
    // each element to an UnsafeRow before the iterator advances. Pin that
    // cross-layer contract on the INTERPRETED path too: with whole-stage
    // codegen off, RDDScanExec's per-element UnsafeProjection is the only
    // thing standing between the caller and n copies of the same buffer,
    // so aliasing would surface here as every row holding the LAST id.
    val n = 5000
    graft.Sessions.withConfs(spark, "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val df = spark.range(n).select((col("id") * 7919 % n).as("k")).repartition(8)
      val rows = RowIds.withDenseId(df.toDF(), Seq(col("k")), "rid")
        .select("k", "rid").as[(Long, Long)].collect()
      assert(rows.map(_._2).sorted.toSeq === (0L until n.toLong),
        "each collected row must hold its own id (no aliased buffers)")
      assert(rows.sortBy(_._2).map(_._1).toSeq === rows.map(_._1).sorted.toSeq,
        "id order must match key order through the interpreted path")
    }
  }

  test("dense id on single row and on tiny frames") {
    val one = RowIds.withDenseId(Seq(42L).toDF("k"), Seq(col("k")), "rid")
    assert(one.select("rid").as[Long].collect().toSeq === Seq(0L))
  }

  test("subsetRank over a filtered dense-id relation equals a fresh full sort") {
    val n = 10000
    val df = spark.range(n).select((col("id") * 7919 % n).as("k")).repartition(8)
    val base = RowIds.withDenseId(df.toDF(), Seq(col("k")), "rid")
    val sample = base.filter(col("k") % 13 === 0).select("k", "rid")
    // tiny blockSize so MANY buckets (and bucket/offset joins) are
    // actually exercised, not just one
    val fast = RowIds.subsetRank(sample, "rid", "srid", blockSize = 64)
      .orderBy("srid").select("k", "srid").as[(Long, Long)].collect().toSeq
    val slow = RowIds.withDenseId(sample.select("k"), Seq(col("k")), "srid")
      .orderBy("srid").select("k", "srid").as[(Long, Long)].collect().toSeq
    assert(fast === slow)
  }

  test("arithmetic ntile matches SQL ntile for awkward sizes") {
    for (n <- Seq(1, 3, 4, 5, 100, 10001); k <- Seq(4, 7)) {
      val df = spark.range(n).toDF("k")
      val withId = RowIds.withDenseId(df, Seq(col("k")), "rid")
      val ours = Segments.ntileFromDenseId(withId, "rid", k, "seg")
        .select(col("k"), col("seg")).as[(Long, Long)].collect().toMap
      val ref = df.withColumn("seg", ntile(k).over(Window.orderBy("k")))
        .select(col("k"), col("seg").cast("long")).as[(Long, Long)].collect().toMap
      assert(ours === ref, s"n=$n k=$k")
    }
  }

  test("boundaries partition [0,n) contiguously and losslessly") {
    val df = spark.range(1003).toDF("k")
    val b = Segments.boundaries(df, 4)
      .orderBy("segment").select("lo", "hi").as[(Long, Long)].collect()
    assert(b.head._1 === 0L)
    assert(b.last._2 === 1003L)
    for (Array((_, hi), (lo, _)) <- b.sliding(2)) assert(hi === lo)
  }

  test("randomBoundaries: contiguous, lossless, non-empty, seed-determined") {
    for (n <- Seq(7L, 100L, 1003L, 10000L); k <- Seq(2, 4, 7)) {
      val df = spark.range(n).toDF("k")
      val b = Segments.randomBoundaries(df, k, "s1")
        .orderBy("segment").select("lo", "hi").as[(Long, Long)].collect()
      assert(b.length === k, s"n=$n k=$k")
      assert(b.head._1 === 0L)
      assert(b.last._2 === n)
      for (Array((_, hi), (lo, _)) <- b.sliding(2)) assert(hi === lo, s"n=$n k=$k contiguity")
      for ((lo, hi) <- b) assert(lo < hi, s"n=$n k=$k segment [$lo,$hi) empty")
    }
    // same seed -> same cuts; different seed -> (almost surely) different
    val df = spark.range(10000L).toDF("k")
    def cuts(seed: String) = Segments.randomBoundaries(df, 4, seed)
      .orderBy("segment").select("lo").as[Long].collect().toSeq
    assert(cuts("graft") === cuts("graft"))
    assert(cuts("graft") !== cuts("other-seed"))
  }

  test("randomBoundaries degrades to min(k, total) non-empty segments when total < k") {
    // reference raises ValueError here (video_splitter.py:43-44); the
    // relational form drops zero-width strata instead of emitting empty
    // [x, x) segments — every surviving segment holds >= 1 row and the
    // union still covers [0, total) contiguously
    val b = Segments.randomBoundaries(spark.range(2).toDF("k"), 4, "s1")
      .orderBy("segment").select("lo", "hi").as[(Long, Long)].collect()
    assert(b.length === 2)
    assert(b.head._1 === 0L && b.last._2 === 2L)
    for (Array((_, hi), (lo, _)) <- b.sliding(2)) assert(hi === lo)
    for ((lo, hi) <- b) assert(lo < hi)
  }
}
