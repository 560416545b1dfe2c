package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Table reads are planned on a cached schema: a warm read runs no
  * Spark job, and a table rewritten in place is inferred again. */
class TablesSpec extends AnyFunSuite with SparkSpec {

  /** Spark jobs `body` starts on this thread, counted after the
    * listener bus has delivered every event. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.jobs") == tag))
          jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.jobs", tag)
    try body
    finally {
      sc.setLocalProperty("graft.test.jobs", null)
      TestBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  test("a warm table read starts no Spark job") {
    Tables.events(spark, Sf0001)
    assert(jobsOf(Tables.events(spark, Sf0001)) === 0)
    // the counter sees the job a cold inference runs
    val dir = Files.createTempDirectory("graft-tables").toString
    spark.range(3).write.parquet(s"$dir/probe.parquet")
    assert(jobsOf(Tables(spark, dir, "probe")) > 0)
  }

  /** Write `df` as one parquet file at `dst`, replacing what is there. */
  private def landFile(df: DataFrame, dst: Path): Unit = {
    val tmp = dst.resolveSibling("_tmp").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp))
    val file = try part.iterator.asScala.find(_.toString.endsWith(".parquet")).get
      finally part.close()
    Files.move(file, dst, StandardCopyOption.REPLACE_EXISTING)
  }

  private def typeOf(dir: String): DataType = Tables(spark, dir, "probe").schema("x").dataType

  test("a table rewritten in place as one file is inferred again") {
    val dir = Files.createTempDirectory("graft-tables")
    val file = dir.resolve("probe.parquet")
    landFile(spark.range(5).select(col("id").cast("int").as("x")), file)
    assert(typeOf(dir.toString) === IntegerType)
    landFile(spark.range(5).select(concat(lit("v"), col("id")).as("x")), file)
    assert(typeOf(dir.toString) === StringType)
    assert(Tables(spark, dir.toString, "probe").collect().map(_.getString(0)).sorted ===
      (0 until 5).map(i => s"v$i"))
  }

  test("a table rewritten in place as a directory is inferred again") {
    val dir = Files.createTempDirectory("graft-tables").toString
    def land(df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/probe.parquet")
    land(spark.range(5).select(col("id").as("x")))
    assert(typeOf(dir) === LongType)
    land(spark.range(5).select(col("id").cast("double").as("x")))
    assert(typeOf(dir) === DoubleType)
  }

  test("footer column sizes follow a file rewritten at the same path") {
    val dir = Files.createTempDirectory("graft-footer")
    val path = dir.resolve("t.parquet")
    val conf = spark.sparkContext.hadoopConfiguration
    landFile(spark.range(10).select(col("id").as("a")), path)
    assert(graft.functions.F.footerColBytes(path.toString, conf).keySet === Set("a"))
    landFile(spark.range(10).select(col("id").as("a"), col("id").as("b")), path)
    assert(graft.functions.F.footerColBytes(path.toString, conf).keySet === Set("a", "b"))
  }

  test("only Tables reads input tables without a schema or sets nanosAsLong") {
    // split so this file does not match itself
    val nanos = "spark.sql.legacy.parquet" + ".nanosAsLong"
    val bareRead = ("""read\.parquet\(s"[^"]*/(\$\{?\w+\}?|""" +
      Tables.all.mkString("|") + """)\.parquet"""").r
    val s = Files.walk(Paths.get("src/main/scala"))
    val files: Seq[Path] =
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
    val hits = files.filterNot(_.getFileName.toString == "Tables.scala").flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if line.contains(nanos) || bareRead.findFirstIn(line).nonEmpty =>
          s"${f.getFileName}:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
