package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.storage.StorageLevel

/** Contract of [[Caches.scoped]] (scopes nest; a throwing body still
  * releases) and of the [[Caches.memo]] per-key latch (round-5 advice: layout
  * builds must not run under an object monitor that blocks unrelated
  * callers). The observable promises: a build runs at most once per key
  * however many threads race to it; a FAILED build frees the key so a
  * later caller retries instead of caching the failure. Shared relations
  * ride the same latch and are unpersisted by [[Caches.releaseShared]]. */
class CachesSpec extends SparkSpec {

  test("memo: concurrent same-key callers share one build") {
    val builds = new AtomicInteger(0)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (1 to 8).map { _ =>
      new Thread(() => {
        val v = Caches.memo(spark, sf0001, "memo-spec-shared") {
          builds.incrementAndGet()
          Thread.sleep(100) // widen the race window past thread startup skew
          "built"
        }
        results.add(v)
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(builds.get() === 1, "all racing callers must share ONE build")
    assert(results.size === 8)
    results.forEach(v => assert(v === "built"))
  }

  test("memo: a failed build frees the key for a later retry") {
    val attempts = new AtomicInteger(0)
    def flaky(): String = Caches.memo(spark, sf0001, "memo-spec-flaky") {
      if (attempts.incrementAndGet() == 1) sys.error("first build dies")
      "second time lucky"
    }
    assertThrows[RuntimeException](flaky())
    assert(flaky() === "second time lucky",
      "the failed first build must not be cached; the key must retry")
    assert(flaky() === "second time lucky", "and the retry's value memoizes")
    assert(attempts.get() === 2)
  }

  test("memo: a waiter on a failing build retries it rather than hanging") {
    val attempts = new AtomicInteger(0)
    @volatile var waiterResult: String = null
    val first = new Thread(() => {
      try Caches.memo(spark, sf0001, "memo-spec-waiter") {
        attempts.incrementAndGet()
        Thread.sleep(150)
        sys.error("builder dies while a waiter is parked on the latch")
      } catch { case _: RuntimeException => () }
    })
    first.start()
    Thread.sleep(50) // let the first thread claim the key
    val second = new Thread(() => {
      waiterResult = Caches.memo(spark, sf0001, "memo-spec-waiter") {
        attempts.incrementAndGet()
        "recovered"
      }
    })
    second.start()
    first.join(); second.join()
    assert(waiterResult === "recovered")
    assert(attempts.get() === 2, "the waiter re-runs the build after the failure")
  }

  test("releaseShared unpersists a shared relation; the next call rebuilds it") {
    val builds = new AtomicInteger(0)
    def rel() = Caches.sharedRelation(spark, sf0001, "caches-spec-shared") {
      builds.incrementAndGet()
      spark.range(10).toDF("id")
    }
    val first = rel()
    assert(first.storageLevel === StorageLevel.MEMORY_AND_DISK)
    assert(rel() eq first, "a second call serves the built relation")
    assert(builds.get() === 1)
    Caches.releaseShared()
    assert(first.storageLevel === StorageLevel.NONE,
      "releaseShared must unpersist the shared relation")
    val second = rel()
    assert(builds.get() === 2, "after the release the relation is rebuilt")
    assert(second.storageLevel === StorageLevel.MEMORY_AND_DISK)
    assert(second.count() === 10L)
  }

  test("scoped: an inner scope releases only its own persist") {
    val outer = Caches.scoped {
      val p = Caches.scopedPersist(spark.range(11).selectExpr("id AS outer_k"))
      val inner = Caches.scoped {
        val q = Caches.scopedPersist(spark.range(12).selectExpr("id AS inner_k"))
        assert(q.storageLevel === StorageLevel.MEMORY_AND_DISK)
        q
      }
      assert(inner.storageLevel === StorageLevel.NONE, "the inner scope releases its persist")
      assert(p.storageLevel === StorageLevel.MEMORY_AND_DISK,
        "the outer persist stays cached until the outer scope exits")
      p
    }
    assert(outer.storageLevel === StorageLevel.NONE, "the outer scope releases its persist")
  }

  test("scoped: a body that throws still releases its persists and rethrows") {
    var p: org.apache.spark.sql.DataFrame = null
    val e = intercept[IllegalStateException] {
      Caches.scoped {
        p = Caches.scopedPersist(spark.range(13).selectExpr("id AS thrown_k"))
        throw new IllegalStateException("planted")
      }
    }
    assert(e.getMessage === "planted")
    assert(p.storageLevel === StorageLevel.NONE)
  }
}
