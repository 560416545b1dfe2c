package graft.operators

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.{Once, SparkSpec}
import graft.functions.F

/** graft.Once, the one build-once rule behind the substrate memo, the
  * landed artifacts (F.landOnce), e25's prefix cache and b1's layouts:
  * a failed build is built again, a completed landing whose artifact is
  * gone lands again, and a wait cycle that crosses two Once maps fails
  * naming its keys instead of hanging. */
class OnceSpec extends AnyFunSuite with SparkSpec {

  test("a failed build is not cached and the next build of the key returns") {
    val once = new Once[String, Int](identity)
    val e = intercept[RuntimeException](once("k")(sys.error("injected failure")))
    assert(e.getMessage.contains("injected failure"))
    assert(once("k")(7) === 7)
    assert(once("k")(sys.error("a cached key must not rebuild")) === 7)
  }

  test("a landed build and a memoized build waiting on each other fail naming both keys") {
    val probeDir = Files.createTempDirectory("graft-once-cycle").toString
    val landKey = s"$probeDir/landed"
    val memoKey = "once_cycle_memo"
    // both builds are running before either asks for the other's key
    val bothBuilding = new CountDownLatch(2)
    def meet(): Unit = { bothBuilding.countDown(); bothBuilding.await(30, TimeUnit.SECONDS): Unit }
    def land(): Unit = F.landOnce(landKey, landKey) {
      meet()
      DedupOps.memoized(spark, memoKey, probeDir)(spark.range(1).toDF("v")).count()
      Files.createDirectories(Paths.get(landKey)): Unit
    }
    def memo(): Long = DedupOps.memoized(spark, memoKey, probeDir) {
      meet()
      land()
      spark.range(2).toDF("v")
    }.count()
    val pool = Executors.newFixedThreadPool(2)
    try {
      val a = pool.submit(() => { land(); true })
      val b = pool.submit(() => memo())
      Seq(a, b).foreach { f =>
        val e = intercept[java.util.concurrent.ExecutionException](f.get(60, TimeUnit.SECONDS))
        assert(e.getCause.isInstanceOf[IllegalStateException], e.getCause)
        assert(e.getCause.getMessage.contains(landKey) &&
          e.getCause.getMessage.contains(memoKey), e.getCause.getMessage)
      }
    } finally pool.shutdownNow(): Unit
    // the failure left no entry behind: both keys build again
    val landed = new AtomicInteger(0)
    F.landOnce(landKey, landKey) {
      landed.incrementAndGet()
      Files.createDirectories(Paths.get(landKey)): Unit
    }
    assert(landed.get() == 1)
    assert(DedupOps.memoized(spark, memoKey, probeDir)(spark.range(3).toDF("v")).count() == 3L)
    DedupOps.clearMemo(spark, probeDir)
  }

  test("a landed artifact deleted after its build lands again") {
    val art = Files.createTempDirectory("graft-once-land").resolve("art")
    val builds = new AtomicInteger(0)
    def land(): Unit = F.landOnce(art.toString, art.toString) {
      builds.incrementAndGet()
      Files.createDirectories(art): Unit
    }
    land()
    land()
    assert(builds.get() == 1)
    Files.delete(art)
    land()
    assert(builds.get() == 2 && Files.isDirectory(art))
  }

  test("an in-flight landing is never evicted for its missing artifact") {
    val art = Files.createTempDirectory("graft-once-flight").resolve("art")
    val builds = new AtomicInteger(0)
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    def land(): Unit = F.landOnce(art.toString, art.toString) {
      builds.incrementAndGet()
      started.countDown()
      release.await(30, TimeUnit.SECONDS)
      Files.createDirectories(art): Unit
    }
    val first = new Thread(() => land())
    first.start()
    assert(started.await(30, TimeUnit.SECONDS))
    // the artifact does not exist yet: the second caller must wait for
    // the first build, not evict it and build again
    val second = new Thread(() => land())
    second.start()
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    while (second.getState != Thread.State.WAITING && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(second.getState == Thread.State.WAITING, second.getState)
    release.countDown()
    first.join()
    second.join()
    assert(builds.get() == 1 && Files.isDirectory(art))
  }

  test("only Once names CompletableFuture or putIfAbsent in the sources") {
    // split so this file does not match itself
    val needles = Seq("Completable" + "Future", "putIf" + "Absent")
    val s = Files.walk(Paths.get("src/main/scala"))
    val files: Seq[Path] =
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
    val hits = files.filterNot(_.getFileName.toString == "Once.scala").flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if needles.exists(line.contains) =>
          s"${f.getFileName}:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
