package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.SparkSpec

class DrainSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", DoubleType)))

  test("drainToFiles on a stream with zero batches returns an empty frame, not a crash") {
    val empty = Files.createTempDirectory("graft_drain_empty").toString
    val stream = spark.readStream.schema(schema).parquet(empty)
    val got = EventStreams.drainToFiles(stream, "append")
    assert(got.count() === 0L)
    assert(got.columns.toSeq === Seq("id", "v"), "schema survives the empty path")
  }

  test("append drain accumulates batches; complete drain keeps the last full result") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_drain_rows").toString + "/data"
    (0L until 100L).map(i => (i, i * 0.5)).toDF("id", "v")
      .write.parquet(dir)
    val src = spark.readStream.schema(schema).parquet(dir)

    val appended = EventStreams.drainToFiles(src.filter(col("id") % 2 === 0), "append")
    assert(appended.count() === 50L)

    val agg = src.groupBy(lit(1).as("k")).agg(count(lit(1)).as("n"))
    val completed = EventStreams.drainToFiles(agg, "complete")
    assert(completed.select("n").as[Long].collect().toSeq === Seq(100L))
  }

  private val partsKey = "spark.sql.shuffle.partitions"

  /** A two-file (user_id, event_id) stream, one file per micro-batch;
    * `poison` makes every row throw. */
  private def events(poison: Boolean): Dataset[RateLimitStream.EventIn] = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_drain_tws")
    graft.TempDirs.cleanupOnExit(dir)
    (0 to 1).foreach { c =>
      (0L until 10L).map(i => (i % 3, c * 10L + i)).toDF("user_id", "event_id")
        .coalesce(1).write.parquet(s"$dir/chunk$c")
    }
    spark.readStream.schema("user_id BIGINT, event_id BIGINT")
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
      .as[RateLimitStream.EventIn]
      .map { e => if (poison) throw new IllegalStateException("planted"); e }
  }

  test("a transformWithState plan drains with no wrapper; the plan alone picks RocksDB") {
    import spark.implicits._
    val tws = RateLimitStream.limited(spark, events(poison = false))
    assert(EventStreams.usesTransformWithState(tws))
    val fmgws = events(poison = false).groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (k: Long, rows: Iterator[RateLimitStream.EventIn], _: GroupState[Long]) =>
          Iterator.single((k, rows.size))
      }
    assert(!EventStreams.usesTransformWithState(fmgws.toDF()))
    val got = EventStreams.drainToFiles(tws, "append")
      .select("event_id", "k").as[(Long, Long)].collect().sorted.toSeq
    // per user, k counts that user's events in event_id order across both batches
    val want = (0L until 20L).groupBy(_ % 10 % 3).values
      .flatMap(_.sorted.zipWithIndex.map { case (e, i) => (e, i + 1L) }).toSeq.sorted
    assert(got === want)
  }

  test("the drain restores the width and the provider after a run that succeeds or throws") {
    assert(!spark.conf.getAll.contains(EventStreams.ProviderKey),
      "the session starts with the provider unset")
    // a session width the derived stream width (2 here) cannot equal
    EventStreams.withConfs(spark, partsKey -> "7") {
      EventStreams.drainToFiles(
        RateLimitStream.limited(spark, events(poison = false)), "append").count()
      assert(spark.conf.get(partsKey) === "7")
      assert(!spark.conf.getAll.contains(EventStreams.ProviderKey))
      val e = intercept[Exception] {
        EventStreams.drainToFiles(RateLimitStream.limited(spark, events(poison = true)), "append")
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.getMessage == "planted"), e.toString)
      assert(spark.conf.get(partsKey) === "7")
      assert(!spark.conf.getAll.contains(EventStreams.ProviderKey))
    }
  }
}
