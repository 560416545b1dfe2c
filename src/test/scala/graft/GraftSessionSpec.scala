package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** One session builder for every entry point, and its knobs fail by
  * name. */
class GraftSessionSpec extends AnyFunSuite with SparkSpec {

  private def knobError(name: String)(read: => Any): Unit = {
    val e = intercept[IllegalArgumentException](read)
    assert(e.getMessage.contains(name), e.getMessage)
  }

  test("SPARK_GRAFT_CPUS is a positive integer or a named error") {
    assert(GraftSession.cpus(Map.empty) === 4)
    assert(GraftSession.cpus(Map("SPARK_GRAFT_CPUS" -> " 8 ")) === 8)
    Seq("0", "-1", "abc", "2.5", "").foreach { v =>
      knobError("SPARK_GRAFT_CPUS")(GraftSession.cpus(Map("SPARK_GRAFT_CPUS" -> v)))
    }
  }

  test("SPARK_GRAFT_SPLIT_MB is a non-negative integer or a named error") {
    assert(GraftSession.splitMbOverride(Map.empty) === None)
    assert(GraftSession.splitMbOverride(Map("SPARK_GRAFT_SPLIT_MB" -> "0")) === Some(0))
    assert(GraftSession.splitMbOverride(Map("SPARK_GRAFT_SPLIT_MB" -> "32")) === Some(32))
    Seq("-1", "abc", "1e3", "").foreach { v =>
      knobError("SPARK_GRAFT_SPLIT_MB")(
        GraftSession.splitMbOverride(Map("SPARK_GRAFT_SPLIT_MB" -> v)))
    }
  }

  test("SPARK_GRAFT_REPS is a positive integer or a named error") {
    assert(Bench.reps(Map.empty) === Bench.DefaultReps)
    assert(Bench.reps(Map("SPARK_GRAFT_REPS" -> "1")) === 1)
    Seq("0", "three", "").foreach { v =>
      knobError("SPARK_GRAFT_REPS")(Bench.reps(Map("SPARK_GRAFT_REPS" -> v)))
    }
  }

  test("SPARK_GRAFT_GC_EACH is 0 or 1 or a named error") {
    assert(Bench.gcEach(Map.empty) === None)
    assert(Bench.gcEach(Map("SPARK_GRAFT_GC_EACH" -> "1")) === Some(true))
    assert(Bench.gcEach(Map("SPARK_GRAFT_GC_EACH" -> "0")) === Some(false))
    Seq("yes", "adaptive", "2", "").foreach { v =>
      knobError("SPARK_GRAFT_GC_EACH")(Bench.gcEach(Map("SPARK_GRAFT_GC_EACH" -> v)))
    }
  }

  test("SPARK_GRAFT_FAMILY_MAJOR is 0 or 1 or a named error") {
    assert(!Bench.familyMajor(Map.empty))
    assert(Bench.familyMajor(Map("SPARK_GRAFT_FAMILY_MAJOR" -> "1")))
    assert(!Bench.familyMajor(Map("SPARK_GRAFT_FAMILY_MAJOR" -> "0")))
    Seq("true", "on", "").foreach { v =>
      knobError("SPARK_GRAFT_FAMILY_MAJOR")(
        Bench.familyMajor(Map("SPARK_GRAFT_FAMILY_MAJOR" -> v)))
    }
  }

  test("SPARK_GRAFT_MEMO_LEVEL is a storage level name or a named error") {
    assert(GraftSession.memoLevel(Map.empty) === None)
    assert(GraftSession.memoLevel(Map("SPARK_GRAFT_MEMO_LEVEL" -> "MEMORY_AND_DISK_SER")) ===
      Some("MEMORY_AND_DISK_SER"))
    Seq("MEMORY_ONLY_FAST", "disk", "").foreach { v =>
      knobError("SPARK_GRAFT_MEMO_LEVEL")(
        GraftSession.memoLevel(Map("SPARK_GRAFT_MEMO_LEVEL" -> v)))
    }
  }

  test("SPARK_GRAFT_STATE_PARTS is a positive integer or a named error") {
    assert(GraftSession.stateParts(Map.empty) === None)
    assert(GraftSession.stateParts(Map("SPARK_GRAFT_STATE_PARTS" -> " 4 ")) === Some(4))
    Seq("0", "-2", "four", "2.5", "").foreach { v =>
      knobError("SPARK_GRAFT_STATE_PARTS")(
        GraftSession.stateParts(Map("SPARK_GRAFT_STATE_PARTS" -> v)))
    }
  }

  test("the test session carries Bench's keys") {
    val conf = spark.conf
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.sql.extensions") === "graft.functions.GraftExtensions")
    assert(conf.get("spark.ui.enabled") === "false")
    assert(conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") ===
      graft.functions.F.ObjectAggFallbackGroups.toString)
    assert(conf.get("spark.sql.codegen.cache.maxEntries") ===
      graft.functions.F.CodegenCacheEntries.toString)
    assert(spark.sparkContext.master === "local[4, 2]")
  }

  test("GraftSession holds the only SparkSession builder in the sources") {
    // split so this file does not match itself
    val needle = "SparkSession" + ".builder()"
    def scalaFiles(root: String): Seq[Path] = {
      val s = Files.walk(Paths.get(root))
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
    }
    val hits = Seq("src/main/scala", "src/test/scala").flatMap(scalaFiles)
      .filter(f => Files.readString(f).contains(needle))
      .map(_.getFileName.toString)
    assert(hits === Seq("GraftSession.scala"))
  }
}
