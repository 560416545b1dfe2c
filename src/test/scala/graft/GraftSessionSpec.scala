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

  private def files(root: String, suffix: String = ""): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator.asScala.filter(f => Files.isRegularFile(f) && f.toString.endsWith(suffix))
      .toList
    finally s.close()
  }

  test("GraftSession holds the only SparkSession builder in the sources") {
    // split so this file does not match itself
    val needle = "SparkSession" + ".builder()"
    val hits = Seq("src/main/scala", "src/test/scala").flatMap(files(_, ".scala"))
      .filter(f => Files.readString(f).contains(needle))
      .map(_.getFileName.toString)
    assert(hits === Seq("GraftSession.scala"))
  }

  test("no operator probes for GraftExtensions: the extension is required") {
    val probes = Seq("extensionLive", "functionExists(")
    val hits = files("src/main/scala", ".scala").flatMap { f =>
      val text = Files.readString(f)
      probes.filter(text.contains).map(p => s"${f.getFileName}: $p")
    }
    assert(hits.isEmpty)
  }

  test("the program reads exactly six SPARK_GRAFT_* knobs") {
    val knob = "SPARK_GRAFT_[A-Z_]+".r
    val names = (files("src/main/scala") ++ files("tools") :+ Paths.get("build.sbt"))
      .flatMap(f => knob.findAllIn(Files.readString(f))).toSet
    assert(names === Set("CPUS", "SPLIT_MB", "STATE_PARTS", "SF_DIR", "REPS", "ONLY")
      .map("SPARK_GRAFT_" + _))
  }
}
