package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Dev tool (not driver contract): the commands that reproduce the
  * recorded evidence of the round notes, each under Bench's session
  * ([[GraftSession]]).
  *
  * {{{
  * runMain graft.Dev counts <dir> <keys>        output rows per key
  * runMain graft.Dev show   <dir> <keys>        result rows as JSON lines
  * runMain graft.Dev prof   <dir> <keys> [reps] wall time per Spark job
  * runMain graft.Dev plans  <dir> <out> <tag> <keys|ALL>
  *                                              formatted plan per key
  * runMain graft.Dev sql    <key>               the key's oracle SQL
  * }}}
  * `<keys>` is a comma-separated list of `SparkEntry.queries` keys; a
  * name that is not one fails before Spark starts. */
object Dev {
  private val Usage =
    "usage: graft.Dev counts|show <dir> <keys> | prof <dir> <keys> [reps] | " +
      "plans <dir> <out> <tag> <keys|ALL> | sql <key>"

  def main(args: Array[String]): Unit = args.toList match {
    case "counts" :: dir :: ks :: Nil => withSession(dir, keys(ks))(counts)
    case "show" :: dir :: ks :: Nil => withSession(dir, keys(ks))(show)
    case "prof" :: dir :: ks :: rest if rest.size <= 1 =>
      val reps = rest.headOption.map(GraftSession.parseKnob("reps", 1)).getOrElse(2)
      withSession(dir, keys(ks))(prof(reps))
    case "plans" :: dir :: out :: tag :: ks :: Nil =>
      withSession(dir, keys(ks))(plans(Paths.get(out), tag))
    case "sql" :: key :: Nil => println(Oracles.sql(keys(key).head))
    case _ => sys.error(Usage)
  }

  private def keys(spec: String): Seq[String] =
    if (spec == "ALL") SparkEntry.queries.keys.toSeq.sorted
    else {
      val ks = spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val unknown = ks.filterNot(SparkEntry.queries.contains)
      require(ks.nonEmpty && unknown.isEmpty, s"unknown query keys: '${unknown.mkString(",")}'")
      ks
    }

  private def withSession(dir: String, ks: Seq[String])(
      cmd: (SparkSession, String, Seq[String]) => Unit): Unit = {
    val spark = GraftSession(dir)
    try cmd(spark, dir, ks) finally spark.stop()
  }

  /** Output row counts: the output-mass normalization the scale records
    * cite (a pair operator's wall ratio means nothing without it). */
  private def counts(spark: SparkSession, dir: String, ks: Seq[String]): Unit =
    ks.foreach(k => println(s"[counts] $k rows=${SparkEntry.queries(k)(spark, dir).count()}"))

  /** Full result rows, collected to the driver: for evaluation-sized
    * outputs (e25's per-config recall/cost rows), never a corpus. */
  private def show(spark: SparkSession, dir: String, ks: Seq[String]): Unit =
    ks.foreach { k =>
      SparkEntry.queries(k)(spark, dir).toJSON.collect().foreach(j => println(s"[show] $k $j"))
    }

  /** Per Spark job: wall time, stage count and description, after one
    * untimed warm run. Streaming keys add each micro-batch's durationMs
    * map from [[streaming.StreamPipeline.lastProgress]]. */
  private def prof(reps: Int)(spark: SparkSession, dir: String, ks: Seq[String]): Unit = {
    val started = new ConcurrentHashMap[Int, (Long, String, Int)]()
    val done = new ConcurrentLinkedQueue[(Int, Double, String, Int)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        started.put(j.jobId, (System.nanoTime(), desc, j.stageInfos.size)): Unit
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        Option(started.remove(j.jobId)).foreach { case (t0, desc, stages) =>
          done.add((j.jobId, (System.nanoTime() - t0) / 1e9, desc, stages))
        }
    })
    def run(k: String): Unit =
      SparkEntry.queries(k)(spark, dir).write.format("noop").mode("overwrite").save()
    ks.foreach { k =>
      run(k)
      (1 to reps).foreach { r =>
        done.clear()
        val t0 = System.nanoTime()
        run(k)
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(200) // let the listener bus drain
        val jobs = done.toArray(Array.empty[(Int, Double, String, Int)]).sortBy(_._1)
        println(f"[prof] $k rep$r wall=$wall%.2f jobs=${jobs.length}")
        jobs.foreach { case (id, w, desc, stages) =>
          println(f"[prof]   job$id%-5d $w%6.3f s  stages=$stages%-3d ${desc.take(90)}")
        }
      }
      val short = k.takeWhile(_ != '_')
      println(s"[prof] $k floors=${streaming.StreamPipeline.streamFloors.get(short)}")
      streaming.StreamPipeline.lastProgress(short).foreach { j =>
        val p = j.linesIterator.mkString(" ")
        val i = p.indexOf("\"durationMs\"")
        println(s"[prof]   progress ${(if (i >= 0) p.substring(i) else p).take(260)}")
      }
    }
  }

  /** `explain("formatted")` text per key to `<out>/<key>_<tag>.txt`, so
    * plan claims stay checkable without running Spark. A streaming key
    * materializes while it is built; its dump is the batch-side read. */
  private def plans(out: java.nio.file.Path, tag: String)(
      spark: SparkSession, dir: String, ks: Seq[String]): Unit = {
    Files.createDirectories(out)
    val mode = org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    // every key is dumped even after one fails; the failures fail the run
    val failed = ks.filterNot { k =>
      try {
        val txt = SparkEntry.queries(k)(spark, dir).queryExecution.explainString(mode)
        Files.write(out.resolve(s"${k}_$tag.txt"), txt.getBytes("UTF-8"))
        println(s"[plans] wrote ${k}_$tag.txt (${txt.length} chars)")
        true
      } catch {
        case scala.util.control.NonFatal(e) => System.err.println(s"[plans] $k FAILED: $e"); false
      }
    }
    require(failed.isEmpty, s"plans failed for: ${failed.mkString(", ")}")
  }
}
