package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: a named interval with its parent and the op it
  * belongs to. Times are epoch milliseconds. */
final case class Span(op: Int, id: String, parent: String, name: String,
    startMs: Long, endMs: Long, attrs: Map[String, Any] = Map.empty)

/** JVM counters read around every op, traced or not. */
final case class JvmCounters(gcMs: Long, jitMs: Long, allocBytes: Long,
    compiles: Long, compileNs: Long, cpuNs: Long)

object JvmCounters {
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def read(): JvmCounters = JvmCounters(
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    threads.getThreadAllocatedBytes(threads.getAllThreadIds).filter(_ > 0).sum,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    os.getProcessCpuTime)
}

/** Records spans from Spark's public listeners while attached: jobs,
  * stages, tasks and SQL executions (SparkListener), planning phases
  * (QueryExecutionListener) and micro-batch progress
  * (StreamingQueryListener). Events are kept in memory; `layers`
  * turns the events inside one op's window into per-layer numbers. */
final class Tracer(spark: SparkSession) {
  private final case class Task(stage: Int, launch: Long, finish: Long, runMs: Long,
      cpuNs: Long, gcMs: Long, delayMs: Long, shWrite: Long, shRead: Long,
      fetchWaitMs: Long, spill: Long)

  private val jobStarts = new ConcurrentHashMap[Int, (Long, String)]()
  private val jobs = new ConcurrentLinkedQueue[(Int, Long, Long, String)]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentLinkedQueue[(Int, Long, Long, Int)]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val sqlStarts = new ConcurrentHashMap[Long, Long]()
  private val sqlExecs = new ConcurrentLinkedQueue[(Long, Long, Long)]()
  private val phases = new ConcurrentLinkedQueue[(String, String, Long, Long)]()
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      jobStarts.put(e.jobId, (e.time, exec.map("sql:" + _).getOrElse("")))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (t0, parent) =>
        jobs.add((e.jobId, t0, e.time, parent)) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime) stages.add((i.stageId, s, c, i.numTasks))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = e.taskMetrics
      if (m != null) {
        val gettingResult = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
        val delay = math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - gettingResult) + m.executorDeserializeTime
        tasks.add(Task(e.stageId, i.launchTime, i.finishTime, m.executorRunTime,
          m.executorCpuTime, m.jvmGCTime, delay, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled))
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => sqlStarts.put(s.executionId, s.time)
      case s: SparkListenerSQLExecutionEnd =>
        Option(sqlStarts.remove(s.executionId)).foreach(t0 => sqlExecs.add((s.executionId, t0, s.time)))
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.foreach { case (phase, p) =>
        phases.add((funcName, phase, p.startTimeMs, p.endTimeMs)) }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Delivers every pending event, then stops listening. */
  def detach(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** Total length of the union of `ivs`, clipped to [s, e]. */
  private def covered(ivs: Iterable[(Long, Long)], s: Long, e: Long): Long = {
    var total = 0L
    var end = s
    ivs.map { case (a, b) => (a max s, b min e) }.filter { case (a, b) => b > a }
      .toSeq.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - (a max end); end = b }
      }
    total
  }

  private def progressStartMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli

  /** Per-layer numbers for the op that ran in [s, e] (epoch ms), plus
    * the spans that make them up. `extra` are harness intervals inside
    * the op (such as building the DataFrame) that count as attributed. */
  def layers(op: Int, s: Long, e: Long, before: JvmCounters, after: JvmCounters,
      extra: Seq[(String, Long, Long)]): (Map[String, Double], Seq[Span]) = {
    def in(t: Long) = t >= s && t <= e
    val opId = s"op:$op"
    val spans = mutable.ArrayBuffer.empty[Span]

    val ph = phases.asScala.filter(p => in(p._3)).toSeq
    ph.zipWithIndex.foreach { case ((fn, name, a, b), i) =>
      spans += Span(op, s"phase:$op:$i", opId, s"plan.$name", a, b, Map("func" -> fn)) }
    def phaseMs(name: String) = ph.filter(_._2 == name).map(p => p._4 - p._3).sum.toDouble

    val sqls = sqlExecs.asScala.filter(x => in(x._2)).toSeq
    sqls.foreach { case (id, a, b) => spans += Span(op, s"sql:$id", opId, "sql.execution", a, b) }
    val js = jobs.asScala.filter(j => in(j._2)).toSeq
    js.foreach { case (id, a, b, parent) =>
      spans += Span(op, s"job:$id", if (parent.nonEmpty) parent else opId, "job", a, b) }
    val st = stages.asScala.filter(x => in(x._2)).toSeq
    st.foreach { case (id, a, b, n) =>
      spans += Span(op, s"stage:$id", Option(stageJob.get(id)).map("job:" + _).getOrElse(opId),
        "stage", a, b, Map("tasks" -> n)) }
    val ts = tasks.asScala.filter(t => in(t.launch)).toSeq
    ts.zipWithIndex.foreach { case (t, i) =>
      spans += Span(op, s"task:$op:$i", s"stage:${t.stage}", "task", t.launch, t.finish,
        Map("run_ms" -> t.runMs, "cpu_ms" -> t.cpuNs / 1e6, "gc_ms" -> t.gcMs)) }

    val triggers = progress.asScala.filter(p => in(progressStartMs(p)) &&
      p.durationMs.containsKey("addBatch")).toSeq
    def dur(key: String) = triggers.map(p => Option(p.durationMs.get(key)).map(_.longValue).getOrElse(0L)).sum.toDouble
    triggers.foreach { p =>
      val a = progressStartMs(p)
      spans += Span(op, s"batch:${p.batchId}", opId, "stream.trigger", a,
        a + p.durationMs.get("triggerExecution"),
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap ++
          Map("input_rows" -> p.numInputRows))
    }
    def stateOps(name: String) = triggers.flatMap(_.stateOperators.filter(_.operatorName == name))
    def lastState(name: String) = triggers.lastOption.flatMap(_.stateOperators.find(_.operatorName == name))
    val MB = 1024.0 * 1024.0
    val attributed = covered(
      ph.map(p => (p._3, p._4)) ++ sqls.map(x => (x._2, x._3)) ++ js.map(j => (j._2, j._3)) ++
        triggers.map(p => (progressStartMs(p), progressStartMs(p) + p.durationMs.get("triggerExecution"))) ++
        extra.map(x => (x._2, x._3)), s, e)
    extra.foreach { case (name, a, b) => spans += Span(op, s"$name:$op", opId, name, a, b) }

    val m = Map[String, Double](
      "plan.analysis_ms" -> phaseMs("analysis"),
      "plan.optimization_ms" -> phaseMs("optimization"),
      "plan.planning_ms" -> phaseMs("planning"),
      "plan.build_ms" -> extra.filter(_._1 == "plan.build").map(x => x._3 - x._2).sum.toDouble,
      "codegen.compiles" -> (after.compiles - before.compiles).toDouble,
      "codegen.compile_ms" -> (after.compileNs - before.compileNs) / 1e6,
      "sched.jobs" -> js.size.toDouble,
      "sched.stages" -> st.size.toDouble,
      "sched.tasks" -> ts.size.toDouble,
      "sched.delay_ms" -> ts.map(_.delayMs).sum.toDouble,
      "sched.driver_gap_ms" -> ((e - s) - covered(ts.map(t => (t.launch, t.finish)), s, e)).toDouble,
      "task.run_ms" -> ts.map(_.runMs).sum.toDouble,
      "task.cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
      "task.gc_ms" -> ts.map(_.gcMs).sum.toDouble,
      "shuffle.write_mb" -> ts.map(_.shWrite).sum / MB,
      "shuffle.read_mb" -> ts.map(_.shRead).sum / MB,
      "shuffle.fetch_wait_ms" -> ts.map(_.fetchWaitMs).sum.toDouble,
      "spill.mb" -> ts.map(_.spill).sum / MB,
      "stream.trigger_ms" -> dur("triggerExecution"),
      "stream.add_batch_ms" -> dur("addBatch"),
      "stream.query_planning_ms" -> dur("queryPlanning"),
      "stream.wal_commit_ms" -> dur("walCommit"),
      "stream.commit_offsets_ms" -> dur("commitOffsets"),
      "stream.latest_offset_ms" -> dur("latestOffset"),
      "stream.floor_ms" -> (dur("triggerExecution") - dur("addBatch")),
      "stream.batches_per_op" -> triggers.size.toDouble,
      "state.dedup_commit_ms" -> stateOps("dedupeWithinWatermark").map(_.commitTimeMs).sum.toDouble,
      "state.match_commit_ms" -> stateOps("flatMapGroupsWithState").map(_.commitTimeMs).sum.toDouble,
      "state.agg_commit_ms" -> stateOps("stateStoreSave").map(_.commitTimeMs).sum.toDouble,
      "state.match_rows" -> lastState("flatMapGroupsWithState").map(_.numRowsTotal).getOrElse(0L).toDouble,
      "state.dedup_rows" -> lastState("dedupeWithinWatermark").map(_.numRowsTotal).getOrElse(0L).toDouble,
      "state.memory_mb" -> triggers.lastOption.map(_.stateOperators.map(_.memoryUsedBytes).sum).getOrElse(0L) / MB,
      "state.late_dropped_rows" -> triggers.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum.toDouble,
      "jvm.gc_ms" -> (after.gcMs - before.gcMs).toDouble,
      "jvm.jit_ms" -> (after.jitMs - before.jitMs).toDouble,
      "jvm.alloc_mb" -> (after.allocBytes - before.allocBytes).max(0L) / MB,
      "trace.attributed_ms" -> attributed.toDouble)
    (m, spans.toSeq)
  }

  /** State operator names seen in progress events (so a renamed operator
    * shows up as a missing layer, not as a silent zero). */
  def stateOperatorNames: Set[String] =
    progress.asScala.flatMap(_.stateOperators.map(_.operatorName)).toSet
}
