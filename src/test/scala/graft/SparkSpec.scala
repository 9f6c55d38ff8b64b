package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session fixture: one SparkSession per JVM (getOrCreate), local
  * parallelism, UTC, small shuffle fan-out for test-sized data. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4)

  val sf0001 = "/root/testdata/sf0.001"
}
