package graft.io

import java.net.URI
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Pins why [[LocalFs]] exists by counting child processes: a JFR
  * recording with only `jdk.ProcessStart` enabled around checkpoint,
  * sink and stream calls on a local dir. Spark's default checkpoint
  * manager forks where `libhadoop` is absent, which shows the recording
  * sees a fork; graft's manager, the KPI sink writer and a warm p9
  * stream fork none. Both are installed by `core-site.xml` alone, which
  * the first two tests pin on a plain `new Configuration()`. */
class LocalFsSpec extends AnyFunSuite with SparkSpec {

  test("every Hadoop conf resolves file: to LocalFs") {
    assert(FileSystem.get(new URI("file:///"), new Configuration()).isInstanceOf[LocalFs])
    assert(FileSystem.getLocal(spark.sessionState.newHadoopConf()).isInstanceOf[LocalFs])
  }

  test("every Hadoop conf picks graft's checkpoint manager for a local path") {
    val m = CheckpointFileManager.create(new Path(scratchDir("create")), new Configuration())
    assert(m.isInstanceOf[LocalCheckpointFileManager], m.getClass.getName)
  }

  /** The command lines of the processes the JVM started during `body`. */
  private def forks(body: => Unit): Seq[String] = {
    // Spark's executor metrics fork `getconf PAGESIZE` once per JVM, at
    // the first heartbeat after the session starts; take it out of
    // every window
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
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

  test("the file source's log forks nothing per batch") {
    // the log a file stream source keeps in its checkpoint, written
    // once per batch from the stream thread
    import org.apache.spark.sql.execution.streaming.runtime.{FileStreamSource, FileStreamSourceLog}
    val dir = scratchDir("source-log")
    def entry(b: Long) = FileStreamSource.FileEntry(s"file:$dir/in-$b.parquet", 0L, b)
    val log = new FileStreamSourceLog(FileStreamSourceLog.VERSION, spark, s"$dir/sources/0")
    log.add(0L, Array(entry(0L)))
    val logForks = forks((1L to 3L).foreach(b => assert(log.add(b, Array(entry(b))))))
    assert(logForks.isEmpty, logForks.mkString("forked: ", "; ", ""))
    assert(log.getLatestBatchId() === Some(3L))
  }

  test("a warm p9 file-stream materialization forks nothing") {
    // the first run stages the input and settles the JVM-once forks;
    // the second pays only the per-run checkpoint, source-log and
    // state-store files
    val expected = graft.streaming.StreamPipeline.kpiDailyViaFileStream(spark, Sf0001).count()
    var rows = 0L
    val streamForks = forks {
      rows = graft.streaming.StreamPipeline.kpiDailyViaFileStream(spark, Sf0001).count()
    }
    // Spark deletes each cloned session's artifact dir with `rm -rf`
    // when a GC collects the clone (every stream start clones one), at
    // whichever point that GC falls: no file of the stream's own
    val ioForks = streamForks.filterNot(c => c.startsWith("rm -rf ") && c.contains("/artifacts-"))
    assert(ioForks.isEmpty, ioForks.mkString("forked: ", "; ", ""))
    assert(rows === expected)
  }
}
