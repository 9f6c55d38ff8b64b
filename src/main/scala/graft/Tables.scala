package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Each table is a single parquet file per scale factor; at cluster scale
  * these would be partitioned directories — the reader API is identical,
  * and Catalyst pushes filters/projections into the scan either way.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    require(names.contains(name), s"unknown table $name")
    // events.ts has shipped as both TIMESTAMP(NANOS) — which Spark 4
    // rejects outright (PARQUET_TYPE_ILLEGAL) unless read as long under
    // the legacy conf — and TIMESTAMP(MICROS) without a timezone, which
    // reads as TimestampNTZ. Normalize both to the µs TimestampType every
    // other engine (incl. the DuckDB oracle) sees, by the stream's rule.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name != "events") df else graft.streaming.EventStreams.microsTs(df)
  }

  def lineitem(spark: SparkSession, d: String): DataFrame   = apply(spark, d, "lineitem")
  def orders(spark: SparkSession, d: String): DataFrame     = apply(spark, d, "orders")
  def customer(spark: SparkSession, d: String): DataFrame   = apply(spark, d, "customer")
  def part(spark: SparkSession, d: String): DataFrame       = apply(spark, d, "part")
  def supplier(spark: SparkSession, d: String): DataFrame   = apply(spark, d, "supplier")
  def nation(spark: SparkSession, d: String): DataFrame     = apply(spark, d, "nation")
  def region(spark: SparkSession, d: String): DataFrame     = apply(spark, d, "region")
  def events(spark: SparkSession, d: String): DataFrame     = apply(spark, d, "events")
  def documents(spark: SparkSession, d: String): DataFrame  = apply(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = apply(spark, d, "embeddings")
}
