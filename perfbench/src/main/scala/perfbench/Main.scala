package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.functions.F
import graft.pipeline.{SinkOps, TripPipeline}
import graft.streaming.StreamPipeline

/** One timed op: its latency, the events it consumed and what the
  * output check needs (filled in after the timed interval). */
final case class OpRec(i: Int, key: String, ms: Double, events: Long, traced: Boolean,
    startMs: Long, endMs: Long, cpuNs: Long, check: mutable.Map[String, Any])

/** The benchmark's JVM side. `run.py` generates the inputs, writes a
  * manifest and starts this main; it answers with a result file that
  * holds every op sample, the JVM figures and, in traced mode, the
  * per-op layer numbers. All output checks are judged by `run.py`. */
object Main {
  private val mapper = new ObjectMapper()

  /** Exits non-zero on any failure: Spark's threads must not keep a
    * failed run alive. */
  def main(argv: Array[String]): Unit = {
    val code =
      try { run(mapper.readTree(new File(argv(0)))); 0 }
      catch { case NonFatal(e) => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def run(manifest: JsonNode): Unit = {
    val work = manifest.get("work_dir").asText
    val traced = manifest.get("trace").asBoolean
    val threads = manifest.get("threads").asInt
    val dataDir = manifest.get("input_dir").asText

    val calPre = Seq.fill(5)(Cal.once())
    val spark = session(threads, work, dataDir)
    try measure(spark, manifest, traced, calPre)
    finally {
      try spark.stop()
      catch { case NonFatal(e) => System.err.println(s"[perfbench] spark.stop failed: $e") }
    }
  }

  private def measure(spark: SparkSession, manifest: JsonNode, traced: Boolean,
      calPre: Seq[Double]): Unit = {
    val sessionMs = System.currentTimeMillis()
    val run = new Run(spark, manifest, traced)
    manifest.get("workload").asText match {
      case "trip_stream" => run.tripStream()
      case "query_mix" => run.queryMix()
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val calPost = Seq.fill(5)(Cal.once())
    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master"
    }
    val result = Map(
      "config" -> (conf ++ Map("jvm.heap_max_mb" ->
        (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString)),
      "ops" -> run.ops.map(o => Map("i" -> o.i, "key" -> o.key, "ms" -> o.ms, "events" -> o.events,
        "traced" -> o.traced, "cpu_ms" -> o.cpuNs / 1e6) ++ o.check),
      "first_op_ms" -> run.ops.headOption.map(_.startMs).getOrElse(0L),
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_ms" -> sessionMs,
      "heap_mb" -> run.heapMb,
      "cal_ms" -> (calPre ++ calPost),
      "outputs" -> run.outputs,
      "warm" -> run.warm,
      "layers" -> run.layerRows,
      "probes" -> run.probeRows,
      "state_operators" -> run.stateOperatorNames)
    Files.write(Paths.get(manifest.get("result_file").asText), Json.render(result).getBytes(UTF_8))
    if (traced) {
      val lines = run.spans.map(s => Json.render(Map("op" -> s.op, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ s.attrs))
      Files.write(Paths.get(manifest.get("spans_file").asText), lines.asJava, UTF_8)
    }
  }

  /** Heap in use after full collections, read outside every timed
    * interval while the workload's state is still live. The second
    * collection runs after the context cleaner has dropped the blocks
    * and broadcasts the first one found unreachable. */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** The session `graft.Bench` builds, key for key (extensions, codegen
    * cache, object-agg fallback, input-sized split config), with a fixed
    * thread count and every scratch path inside the run directory. */
  def session(threads: Int, work: String, dataDir: String): SparkSession = {
    val splitMb = F.autoSplitMb(dataDir)
    val b = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        F.ObjectAggFallbackGroups.toString)
      .config("spark.sql.codegen.cache.maxEntries", F.CodegenCacheEntries.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    val spark = (if (splitMb > 0) b
        .config("spark.sql.files.maxPartitionBytes", s"${splitMb.toLong * 1024 * 1024}")
        .config("spark.sql.files.openCostInBytes", s"${1024 * 1024}")
      else b).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** A fixed pure-JVM CPU loop: no Spark and no program code, so no change
  * to the program can move it. Timed before and after every run, it
  * tells host drift apart from program noise. */
object Cal {
  @volatile private var sink = 0L
  def once(): Double = {
    val t0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 40000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= x >>> 29
      i += 1
    }
    sink += x
    (System.nanoTime() - t0) / 1e6
  }
}

/** Records a named harness interval inside an op. */
trait Marker { def apply[T](name: String)(f: => T): T }

final class Run(spark: SparkSession, manifest: JsonNode, traced: Boolean) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val spans = mutable.ArrayBuffer.empty[Span]
  val layerRows = mutable.ArrayBuffer.empty[Map[String, Any]]
  val probeRows = mutable.ArrayBuffer.empty[Map[String, Any]]
  val outputs = mutable.LinkedHashMap.empty[String, Seq[String]]
  val warm = mutable.LinkedHashMap.empty[String, Map[String, Any]]
  private val tracer = if (traced) Some(new Tracer(spark)) else None
  def stateOperatorNames: Seq[String] = tracer.toSeq.flatMap(_.stateOperatorNames).sorted

  private val work = manifest.get("work_dir").asText
  /** Retained heap at the end of the timed work (`Main.retainedHeapMb`). */
  var heapMb = 0.0

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Runs one op. `body` gets a marker that records a named harness
    * interval inside the op (building the DataFrame). Traced ops run
    * with the listeners attached; the others run exactly as untraced. */
  private def op(key: String, events: Long, trace: Boolean)(body: Marker => Unit): OpRec = {
    val marks = mutable.ArrayBuffer.empty[(String, Long, Long)]
    val mark = new Marker {
      def apply[T](name: String)(f: => T): T = {
        val a = System.currentTimeMillis()
        try f finally marks += ((name, a, System.currentTimeMillis()))
      }
    }
    val doTrace = trace && tracer.isDefined
    if (doTrace) tracer.get.attach()
    val before = JvmCounters.read()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val error =
      try { body(mark); None }
      catch { case NonFatal(e) => System.err.println(s"[perfbench] op $key failed: $e"); Some(e.toString) }
    val t1 = System.nanoTime()
    val endMs = System.currentTimeMillis()
    val after = JvmCounters.read()
    val rec = OpRec(ops.size, key, (t1 - t0) / 1e6, events, doTrace, startMs, endMs,
      after.cpuNs - before.cpuNs, mutable.Map[String, Any]())
    error.foreach(e => rec.check("error") = e)
    if (doTrace) {
      val tr = tracer.get
      tr.detach()
      val (m, sp) = tr.layers(rec.i, startMs, endMs, before, after, marks.toSeq)
      layerRows += m ++ Map("op" -> rec.i, "key" -> key, "ms" -> rec.ms)
      spans += Span(rec.i, s"op:${rec.i}", "", s"op.$key", startMs, endMs, Map("ms" -> rec.ms))
      spans ++= sp
    }
    rec
  }

  /** Runs `f` and returns its wall time in ms (a probe span of the op). */
  private def timed(opIndex: Int, name: String)(f: => Unit): Double = {
    val a = System.currentTimeMillis()
    val t0 = System.nanoTime()
    f
    val ms = (System.nanoTime() - t0) / 1e6
    spans += Span(opIndex, s"$name:$opIndex", s"op:$opIndex", name, a, System.currentTimeMillis())
    ms
  }

  private val kpiCache = mutable.Map.empty[String, DataFrame]

  /** The public trip stages, each timed on its own to noop on `dir`,
    * plus a partitioned write of a precomputed KPI frame. */
  private def probe(opIndex: Int, dir: String): Unit = {
    val kpi = kpiCache.getOrElseUpdate(dir, {
      val df = TripPipeline.kpiDaily(spark, dir)
      spark.createDataFrame(df.collect().toSeq.asJava, df.schema)
    })
    val sinkDir = s"$work/probe_sink"
    val row = Map[String, Any](
      "op" -> opIndex,
      "sources.scan_ms" -> timed(opIndex, "sources.scan")(noop(Tables.events(spark, dir))),
      "pipeline.validate_ms" -> timed(opIndex, "pipeline.validate")(noop(TripPipeline.validate(spark, dir))),
      "pipeline.match_ms" -> timed(opIndex, "pipeline.match")(noop(TripPipeline.tripMatch(spark, dir))),
      "pipeline.kpi_ms" -> timed(opIndex, "pipeline.kpi")(noop(TripPipeline.kpiDaily(spark, dir))),
      "sink.write_ms" -> timed(opIndex, "sink.write")(SinkOps.writeKpiPartitioned(kpi, sinkDir): Unit),
      "sink.files" -> Outputs.partFiles(sinkDir).size.toDouble)
    probeRows += row
  }

  /** Kinesis -> Lambda path: each op lands the next staged micro-batch
    * file and returns once the streaming query has committed it. */
  def tripStream(): Unit = {
    val stage = manifest.get("stage_dir").asText
    val batches = manifest.get("batches").elements().asScala.toSeq
    val lead = manifest.get("lead_batches").asInt
    val watch = new File(s"$work/watch")
    watch.mkdirs()
    val sink = s"$work/kpi_out"
    val raw = spark.read.parquet(s"$stage/${batches.head.get("file").asText}").schema
    val source = Tables.normalizeEventsTs(spark.readStream.schema(raw).parquet(watch.getPath))
    val query = StreamPipeline.kpiSinkStream(spark, source, sink)
    def land(b: JsonNode): Unit = {
      val f = b.get("file").asText
      Files.move(Paths.get(stage, f), Paths.get(watch.getPath, f), StandardCopyOption.ATOMIC_MOVE)
    }
    try {
      batches.take(lead).foreach { b => land(b); query.processAllAvailable() }
      batches.drop(lead).zipWithIndex.foreach { case (b, n) =>
        val trace = n % 2 == 0
        val probeDir = s"$work/probe/${b.get("file").asText.stripSuffix(".parquet")}"
        if (traced && trace) {
          new File(probeDir).mkdirs()
          Files.copy(Paths.get(stage, b.get("file").asText), Paths.get(probeDir, "events.parquet"))
        }
        val rec = op("batch", b.get("events").asLong, trace) { _ =>
          land(b)
          query.processAllAvailable()
        }
        rec.check("out") = Outputs.capture(sink, outputs)
        rec.check("batch") = b.get("index").asInt
        ops += rec
        if (new File(probeDir).isDirectory) probe(rec.i, probeDir)
        if (!query.isActive) throw new IllegalStateException(
          s"streaming query stopped: ${query.exception.map(_.toString).getOrElse("no exception")}")
      }
      // while the query is active, so its state stores are still loaded
      heapMb = Main.retainedHeapMb()
    } finally query.stop()
  }

  /** The query registry: one untimed pass builds the memoized
    * substrates (as `graft.Bench` does), then the timed passes. */
  def queryMix(): Unit = {
    val dir = manifest.get("input_dir").asText
    val keys = manifest.get("keys").elements().asScala.map(_.asText).toSeq
    val registry = SparkEntry.queries
    val unknown = keys.filterNot(registry.contains)
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(s"unknown query keys: ${unknown.mkString(", ")}")
    val splitMb = F.autoSplitMb(dir)
    val tuner = new F.SplitTuner(spark, dir, splitMb, enabled = splitMb > 0)
    var seq = 0
    def observed(key: String, df: DataFrame): (DataFrame, Observation) = {
      seq += 1
      val obs = Observation(s"perfbench_$seq")
      val row = to_json(struct(df.columns.map(c => df.col("`" + c.replace("`", "``") + "`")).toIndexedSeq: _*))
      (df.observe(obs, count(lit(1)).as("rows"), sum(hash(row).cast("long")).as("h1"),
        bit_xor(xxhash64(row)).as("h2")), obs)
    }
    def digest(obs: Observation): Map[String, Any] = {
      val m = obs.get
      Map("rows" -> m("rows"), "hash" -> s"${m("h1")}:${m("h2")}")
    }
    keys.foreach { k =>
      val t0 = System.nanoTime()
      try {
        val (df, obs) = observed(k, tuner.build(k, registry(k)))
        noop(df)
        warm(k) = digest(obs) ++ Map("ms" -> (System.nanoTime() - t0) / 1e6)
      } catch { case NonFatal(e) => warm(k) = Map("error" -> e.toString) }
    }
    // a fixed number of whole passes: every run times the same work
    var n = 0
    (1 to manifest.get("passes").asInt).foreach { _ =>
      keys.foreach { k =>
        val trace = n % 2 == 0
        var obs: Observation = null
        val rec = op(k, 0L, trace) { mark =>
          val built = mark("plan.build")(tuner.build(k, registry(k)))
          val (df, o) = observed(k, built)
          obs = o
          noop(df)
        }
        if (!rec.check.contains("error")) rec.check ++= digest(obs)
        ops += rec
        // the stage probes over the events table, on every fifth traced op
        if (traced && trace && n % 10 == 0) probe(rec.i, dir)
        n += 1
      }
    }
    heapMb = Main.retainedHeapMb()
  }
}

/** Snapshot of a date-partitioned JSON sink, as sorted
  * "date=.../<json line>" rows, stored once per distinct content. */
object Outputs {
  def partFiles(path: String): Seq[File] =
    Option(new File(path).listFiles).toSeq.flatten.filter(_.isDirectory).flatMap(d =>
      Option(d.listFiles).toSeq.flatten.filter(f => f.getName.startsWith("part-")))

  def capture(path: String, store: mutable.Map[String, Seq[String]]): String = {
    val lines = partFiles(path).flatMap { f =>
      Files.readAllLines(f.toPath, UTF_8).asScala.filter(_.nonEmpty)
        .map(l => f.getParentFile.getName + "\t" + l)
    }.sorted
    val md = java.security.MessageDigest.getInstance("SHA-1")
    lines.foreach(l => md.update((l + "\n").getBytes(UTF_8)))
    val h = md.digest().map("%02x".format(_)).mkString
    store.getOrElseUpdate(h, lines)
    h
  }
}

/** Minimal JSON rendering for the result and span files. */
object Json {
  private val mapper = new ObjectMapper()
  private def toJava(x: Any): AnyRef = x match {
    case null => null
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, v) => out.put(k.toString, toJava(v)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case o: Option[_] => o.map(toJava).orNull
    case d: Double => java.lang.Double.valueOf(if (d.isNaN || d.isInfinite) 0.0 else d)
    case v: AnyRef => v
    case v => v.asInstanceOf[AnyRef]
  }
  def render(x: Any): String = mapper.writeValueAsString(toJava(x))
}
