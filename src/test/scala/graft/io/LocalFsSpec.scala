package graft.io

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Pins why [[LocalFs]] exists by counting child processes: a JFR
  * recording with only `jdk.ProcessStart` enabled around checkpoint and
  * sink calls on a local dir. Spark's default checkpoint manager forks
  * on this image (no `libhadoop`), which shows the recording sees a
  * fork; graft's manager and the KPI sink writer fork none. */
class LocalFsSpec extends AnyFunSuite with SparkSpec {

  /** The command lines of the processes the JVM started during `body`. */
  private def forks(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile(Paths.get("target"), "forks", ".jfr")
    try {
      rec.dump(file)
      jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(file): Unit }
  }

  private def scratchDir(name: String): String = {
    Files.createDirectories(Paths.get("target/localfs-spec"))
    Files.createTempDirectory(Paths.get("target/localfs-spec"), name).toAbsolutePath.toString
  }

  /** createAtomic → close → open → list → delete on one file. */
  private def roundTrip(m: CheckpointFileManager, dir: String): Unit = {
    val f = new Path(dir, "1")
    val out = m.createAtomic(f, false)
    out.write("v1\n".getBytes("UTF-8"))
    out.close()
    val in = m.open(f)
    try assert(in.read() === 'v'.toInt) finally in.close()
    assert(m.list(new Path(dir)).map(_.getPath.getName).contains("1"))
    m.delete(f)
    assert(!m.exists(f))
  }

  test("checkpoint file round trip forks nothing through graft's manager") {
    val conf = spark.sessionState.newHadoopConf()
    // settle the JVM-once forks (Hadoop's Shell probes) outside the count
    val warm = scratchDir("warm")
    roundTrip(new LocalCheckpointFileManager(new Path(warm), conf), warm)
    val dir = scratchDir("graft")
    val graftForks = forks(roundTrip(new LocalCheckpointFileManager(new Path(dir), conf), dir))
    assert(graftForks.isEmpty, graftForks.mkString("forked: ", "; ", ""))
    // the same calls through Spark's default manager fork, so the
    // recording above could have seen one
    assume(!org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded,
      "libhadoop is loaded: Hadoop's local filesystem forks nothing here")
    val base = scratchDir("default")
    val defaultForks =
      forks(roundTrip(new FileContextBasedCheckpointFileManager(new Path(base), conf), base))
    assert(defaultForks.nonEmpty, "the default manager forked nothing: the count shows nothing")
  }

  test("one partitioned KPI sink write forks nothing") {
    val schema = StructType(StructField("date", DateType) +:
      graft.pipeline.SinkOps.kpiDataSchema.fields)
    val rows = (1 to 3).map { d =>
      Row(java.sql.Date.valueOf(s"2024-01-0$d"), 10.0 * d, d.toLong, 10.0, 10.0 * d, 1.0)
    }
    val kpi = spark.createDataFrame(rows.asJava, schema)
    val out = scratchDir("sink") + "/kpi"
    val sinkForks = forks(graft.pipeline.SinkOps.writeKpiPartitioned(kpi, out): Unit)
    assert(sinkForks.isEmpty, sinkForks.mkString("forked: ", "; ", ""))
    assert(spark.read.schema(graft.pipeline.SinkOps.kpiDataSchema).json(out).count() === 3L)
  }
}
