package graft.operators

import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** DedupOps.memoized's contract, which it takes from graft.Once: a
  * cold key builds exactly once under concurrent first callers, a
  * failed build is built again by the next caller, and a build that
  * waits on itself fails naming the keys. OnceSpec pins the primitive
  * itself and its other users (landed artifacts, e25's prefix cache). */
class Round19OpsSpec extends AnyFunSuite with SparkSpec {

  test("memoized: a cold key builds exactly once under concurrent first callers") {
    val builds = new AtomicInteger(0)
    // the dir is only a memo-key component here; a probe-private value
    // keeps the cleanup below from touching real substrate entries
    val probeDir = "/tmp/graft-r19-race-probe"
    def call(): Long = DedupOps.memoized(spark, "r19_race_probe", probeDir) {
      builds.incrementAndGet()
      Thread.sleep(200) // widen the race window every caller must fit in
      spark.range(5).toDF("v")
    }.count()
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val threads = (1 to 8).map(_ => new Thread(() => { results.add(call()); () }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(builds.get() == 1,
      s"build must run exactly once under the race, ran ${builds.get()} times")
    assert(results.size == 8 && results.stream.allMatch(_ == 5L),
      "every racer must read the winner's DataFrame")
    DedupOps.clearMemo(spark, probeDir)
  }

  test("memoized: a failed build leaves no mapping and the next caller retries") {
    val probeDir = "/tmp/graft-r19-fail-probe"
    val attempts = new AtomicInteger(0)
    def call(): Long = DedupOps.memoized(spark, "r19_fail_probe", probeDir) {
      if (attempts.incrementAndGet() == 1) sys.error("injected first-build failure")
      spark.range(3).toDF("v")
    }.count()
    val e = intercept[RuntimeException](call())
    assert(e.getMessage.contains("injected first-build failure"))
    assert(call() == 3L, "second caller must rebuild after the failed first build")
    assert(attempts.get() == 2)
    DedupOps.clearMemo(spark, probeDir)
  }

  test("memoized: two builds waiting on each other fail naming both keys, without hanging") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val probeDir = "/tmp/graft-memo-cycle-probe"
    // both builds are running before either asks for the other's key
    val bothBuilding = new CountDownLatch(2)
    def build(own: String, other: String): Long = DedupOps.memoized(spark, own, probeDir) {
      bothBuilding.countDown()
      bothBuilding.await(30, TimeUnit.SECONDS)
      DedupOps.memoized(spark, other, probeDir)(spark.range(1).toDF("v"))
    }.count()
    val pool = Executors.newFixedThreadPool(2)
    try {
      val a = pool.submit(() => build("cycle_a", "cycle_b"))
      val b = pool.submit(() => build("cycle_b", "cycle_a"))
      Seq(a, b).foreach { f =>
        val e = intercept[java.util.concurrent.ExecutionException](f.get(60, TimeUnit.SECONDS))
        assert(e.getCause.isInstanceOf[IllegalStateException], e.getCause)
        assert(e.getCause.getMessage.contains("cycle_a") &&
          e.getCause.getMessage.contains("cycle_b"), e.getCause.getMessage)
      }
    } finally pool.shutdownNow(): Unit
    // the failure left no entry behind: both keys build again
    assert(DedupOps.memoized(spark, "cycle_a", probeDir)(spark.range(2).toDF("v")).count() == 2L)
    DedupOps.clearMemo(spark, probeDir)
  }

  test("memoized: a build that memoizes its own key fails naming it") {
    val probeDir = "/tmp/graft-memo-self-probe"
    val e = intercept[IllegalStateException](
      DedupOps.memoized(spark, "self_cycle", probeDir) {
        DedupOps.memoized(spark, "self_cycle", probeDir)(spark.range(1).toDF("v"))
      })
    assert(e.getMessage.contains("self_cycle -> self_cycle"), e.getMessage)
    DedupOps.clearMemo(spark, probeDir)
  }
}
