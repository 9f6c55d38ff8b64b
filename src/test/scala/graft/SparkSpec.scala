package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

/** Shared session fixture: one SparkSession per JVM (getOrCreate), local
  * parallelism, UTC, small shuffle fan-out for test-sized data. Each test
  * runs in one [[Caches.scoped]] block, so a scoped persist a test leaves
  * registered is released when the test ends instead of staying cached in
  * the session every suite shares. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4)

  val sf0001 = "/root/testdata/sf0.001"

  override def withFixture(test: NoArgTest): Outcome =
    Caches.scoped(super.withFixture(test))
}
