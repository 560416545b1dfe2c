package graft

import org.apache.spark.sql.{Encoders, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.TripPipeline
import graft.streaming.StreamPipeline

/** p9: the Structured Streaming pipeline must produce the same daily
  * KPIs as the batch pipeline when fed the same events in event-time
  * order, and must be idempotent under at-least-once re-delivery. */
class StreamingSpec extends AnyFunSuite with SparkSpec {

  /** The KPI chain fed `chunks`, one micro-batch each; `inspect` sees
    * the query after the last one. */
  private def feedAndCollect(chunks: Seq[Seq[Row]], name: String,
      inspect: StreamingQuery => Unit = _ => ()): Array[Row] = {
    val evDf = Tables.events(spark, Sf0001)
    implicit val enc = Encoders.row(evDf.schema)
    val stream = MemoryStream[Row](enc, spark)
    val query = StreamPipeline.kpiDailyStream(spark, stream.toDF())
      .writeStream.format("memory").queryName(name).outputMode("complete").start()
    try {
      chunks.foreach { c => stream.addData(c); query.processAllAvailable() }
      inspect(query)
      spark.table(name).orderBy("date").collect()
    } finally query.stop()
  }

  /** Batch p5 (`kpiDailyOf`) over every row of `chunks`. */
  private def batchKpis(chunks: Seq[Seq[Row]]): Array[Row] =
    TripPipeline.kpiDailyOf(spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(chunks.flatten).asJava,
      Tables.events(spark, Sf0001).schema)).collect()

  private def event(id: Long, ts: String, user: Long, kind: String, value: Double): Row =
    Row(id, java.sql.Timestamp.valueOf(ts), user, kind, value, null)

  private lazy val orderedEvents: Seq[Row] =
    Tables.events(spark, Sf0001).orderBy("ts", "event_id").collect().toSeq

  test("streaming validate→dedup→stateful match→windowed KPI equals batch kpiDaily") {
    val batch = TripPipeline.kpiDaily(spark, Sf0001).collect()
    val nChunks = 5
    val size = orderedEvents.length / nChunks + 1
    val got = feedAndCollect(orderedEvents.grouped(size).toSeq, "kpi_stream")
    assert(got.length === batch.length)
    got.zip(batch).foreach { case (g, e) =>
      assert(g.getDate(0) === e.getDate(0))
      assert(g.getLong(2) === e.getLong(2), s"count_trips for ${g.getDate(0)}")
      Seq(1, 3, 4, 5).foreach { i =>
        assert(math.abs(g.getDouble(i) - e.getDouble(i)) < 1e-9,
          s"col $i for ${g.getDate(0)}")
      }
    }
    assert(got.length > 0)
  }

  test("p9 file-source materialization equals batch kpiDaily (the oracle query path)") {
    // this is exactly what the driver's correctness gate runs: the full
    // streaming chain over a real file streaming source, materialized to
    // a batch result — it must be bit-comparable to the batch pipeline
    // (whose SQL is the p9 oracle)
    val batch = TripPipeline.kpiDaily(spark, Sf0001).collect()
    val got = StreamPipeline.kpiDailyViaFileStream(spark, Sf0001).collect()
    assert(got.length === batch.length)
    got.zip(batch).foreach { case (g, e) =>
      assert(g.getDate(0) === e.getDate(0))
      assert(g.getLong(2) === e.getLong(2))
      Seq(1, 3, 4, 5).foreach { i => assert(g.getDouble(i) === e.getDouble(i)) }
    }
  }

  test("streaming foreachBatch sink lands the batch-identical partitioned KPIs") {
    val evDf = Tables.events(spark, Sf0001)
    implicit val enc = Encoders.row(evDf.schema)
    val stream = MemoryStream[Row](enc, spark)
    val out = "target/test-stream-sink/kpi"
    val chunks = orderedEvents.grouped(orderedEvents.length / 3 + 1).toSeq
    // the first chunk is there before the query starts, so no idle
    // trigger ahead of it reports a progress
    stream.addData(chunks.head)
    val query = StreamPipeline.kpiSinkStream(spark, stream.toDF(), out)
    try {
      query.processAllAvailable()
      chunks.tail.foreach { c => stream.addData(c); query.processAllAvailable() }
      // one trigger per landed batch: no operator of the chain may ask
      // for a second, input-less trigger
      val progress = query.recentProgress
      assert(progress.length === chunks.length,
        s"input rows per trigger: ${progress.map(_.numInputRows).mkString(", ")}")
      assert(progress.forall(_.numInputRows > 0))
    } finally query.stop()
    val landed = graft.pipeline.SinkOps.readKpiPartitioned(spark, out).collect()
    val batch = TripPipeline.kpiDaily(spark, Sf0001).collect()
    assert(landed.length === batch.length)
    landed.zip(batch).foreach { case (g, e) =>
      assert(g.getDate(0) === e.getDate(0))
      assert(g.getLong(2) === e.getLong(2))
      assert(math.abs(g.getDouble(1) - e.getDouble(1)) < 1e-9)
    }
    // three rewrites of the sink leave one part file per date dir and
    // no temp file (the .crc sidecars are the checksummed filesystem's)
    val dateDirs = new java.io.File(out).listFiles().filter(_.getName.startsWith("date="))
    assert(dateDirs.length === batch.length)
    dateDirs.foreach { d =>
      assert(d.list().filterNot(_.endsWith(".crc")).toSeq === Seq("part-00000.json"), d)
    }
  }

  test("a purchase re-delivered after its late-arriving earlier signup completes the trip") {
    val purchase = event(10L, "2024-01-01 10:00:00", 1L, "purchase", 25.5)
    val chunks = Seq(
      Seq(purchase, event(11L, "2024-01-01 08:00:00", 2L, "signup", 0.0)),
      Seq(event(12L, "2024-01-01 09:00:00", 1L, "signup", 0.0),
        event(13L, "2024-01-01 11:00:00", 2L, "purchase", 7.25)),
      Seq(purchase))
    val batch = batchKpis(chunks)
    assert(batch.map(_.getLong(2)).sum === 2L, "both users complete a trip in batch")
    assert(feedAndCollect(chunks, "kpi_stream_late_signup").toSeq === batch.toSeq)
  }

  test("a signup older than the stream's max ts by more than an hour counts as in batch") {
    // three batches of a later day first, so any one-hour watermark
    // would stand far past the signup when it lands
    val later = (0L until 3L).map(i =>
      Seq(event(20L + i, "2024-01-02 12:00:00", 100L + i, "click", 1.0)))
    val chunks = later ++ Seq(
      Seq(event(30L, "2024-01-02 09:00:00", 3L, "signup", 0.0)),
      Seq(event(31L, "2024-01-02 12:30:00", 3L, "purchase", 40.0)))
    val batch = batchKpis(chunks)
    assert(batch.map(_.getLong(2)).sum === 1L)
    assert(feedAndCollect(chunks, "kpi_stream_old_signup").toSeq === batch.toSeq)
  }

  test("the KPI chain runs two stateful operators and no watermark") {
    import org.apache.spark.sql.execution.streaming.operators.stateful.{EventTimeWatermarkExec,
      StateStoreWriter}
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    var plan: org.apache.spark.sql.execution.SparkPlan = null
    feedAndCollect(Seq(orderedEvents.take(200)), "kpi_stream_plan", q =>
      plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan)
    val stateful = plan.collect { case s: StateStoreWriter => s.nodeName }
    assert(stateful.length === 2, stateful)
    assert(plan.collect { case w: EventTimeWatermarkExec => w }.isEmpty, plan.treeString)
  }

  test("p9 on two data dirs in one session returns each dir's own batch kpiDaily") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val small = StreamPipeline.kpiDailyViaFileStream(spark, Sf0001)
    val large = StreamPipeline.kpiDailyViaFileStream(spark, Sf001)
    Seq(Sf0001 -> small, Sf001 -> large).foreach { case (dir, got) =>
      val batch = rows(TripPipeline.kpiDaily(spark, dir))
      assert(rows(got) === batch, dir)
      // each dir's run fills its own sink: a name shared across dirs
      // would leave only the last run's KPIs under both
      assert(rows(spark.table(StreamPipeline.sinkName("p9", dir)).orderBy("date")) === batch, dir)
    }
    assert(rows(small) !== rows(large))
  }

  test("p38 and e18 record their own stream floor and micro-batch progress") {
    SparkEntry.queries("p38_lambda_reconcile")(spark, Sf0001).count()
    SparkEntry.queries("e18_ann_stream_upsert")(spark, Sf0001).count()
    val floors = StreamPipeline.streamFloors
    assert(floors.contains("p38") && floors.contains("e18"), floors)
    Seq("p38", "e18").foreach { k =>
      val progress = StreamPipeline.lastProgress(k)
      assert(progress.nonEmpty, k)
      assert(progress.forall(_.contains("\"durationMs\"")), k)
    }
  }

  /** Every Scala source file under `src/main/scala`. */
  private def mainSources: List[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
  }

  test("only StreamPipeline runs streams to completion, makes memory sinks or scopes state stores") {
    import java.nio.file.Files
    // split so no source file matches by quoting these
    val needles = Seq("processAll" + "Available", "format(\"" + "memory\")",
      "withState" + "Partitions")
    val hits = mainSources.filterNot(_.getFileName.toString == "StreamPipeline.scala")
      .flatMap { f =>
        val text = Files.readString(f)
        needles.filter(text.contains).map(n => s"${f.getFileName}: $n")
      }
    assert(hits.isEmpty, hits.mkString("; "))
  }

  test("only TripPipeline aliases the daily KPI aggregates") {
    val needle = "as(\"total_fare\")"
    val hits = mainSources.filterNot(_.getFileName.toString == "TripPipeline.scala")
      .filter(f => java.nio.file.Files.readString(f).contains(needle)).map(_.getFileName)
    assert(hits.isEmpty, hits.mkString("; "))
  }

  test("streaming quarantine equals the batch DLQ complement on injected invalid rows") {
    import java.sql.Timestamp
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    val rows: Seq[Row] = Seq(
      Row(1L, t0, 5L, "signup", 10.0, null), // valid
      Row(2L, null, 5L, "click", 1.0, null), // null ts → DLQ
      Row(3L, t0, -1L, "view", 1.0, null), //   negative user → DLQ
      Row(4L, t0, 5L, "weird", 1.0, null), //   unknown type → DLQ
      Row(5L, t0, 5L, "purchase", -2.0, null)) // negative value → DLQ
    val evDf = Tables.events(spark, Sf0001)
    implicit val enc = Encoders.row(evDf.schema)
    val stream = MemoryStream[Row](enc, spark)
    // quarantineDf is a pure filter+projection, so the SAME code runs
    // on the unbounded frame — validation parity needs no streaming fork
    val query = TripPipeline.quarantineDf(stream.toDF())
      .writeStream.format("memory").queryName("dlq_stream")
      .outputMode("append").start()
    try {
      stream.addData(rows); query.processAllAvailable()
      val got = spark.table("dlq_stream").orderBy("event_id").collect()
      val batch = TripPipeline.quarantineDf(
          spark.createDataFrame(scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, evDf.schema))
        .orderBy("event_id").collect()
      assert(got.length === 4 && batch.length === 4)
      got.zip(batch).foreach { case (g, e) => assert(g === e) }
    } finally query.stop()
  }

  test("p15 flush-sentinel materialization equals the batch gap rule end-to-end") {
    val got = StreamPipeline.sessionizeViaFileStream(spark, Sf0001).collect()
    val batch = TripPipeline.sessionize(spark, Sf0001)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("session_value"))
      .orderBy("user_id", "session_start").collect()
    assert(got.length === batch.length)
    assert(got.length > 0)
    got.zip(batch).foreach { case (g, e) => assert(g === e) }
  }

  test("p15 stages only its flush sentinel beside the shared events copy") {
    StreamPipeline.sessionizeViaFileStream(spark, Sf0001).count()
    // what a file listing sees: `_` and `.` names are hidden
    val visible = new java.io.File(StreamPipeline.stagingPath("p15", Sf0001)).list()
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSeq
    assert(visible === Seq("flush.parquet"))
  }

  test("streaming session_window sessionization equals the batch gap rule") {
    import java.sql.Timestamp
    val evDf = Tables.events(spark, Sf0001)
    implicit val enc = Encoders.row(evDf.schema)
    val stream = MemoryStream[Row](enc, spark)
    val query = StreamPipeline.sessionizeStream(stream.toDF())
      .writeStream.format("memory").queryName("sess_stream").outputMode("append").start()
    try {
      val half = orderedEvents.length / 2
      stream.addData(orderedEvents.take(half)); query.processAllAvailable()
      stream.addData(orderedEvents.drop(half)); query.processAllAvailable()
      // sentinel far in the future pushes the watermark past every open
      // session so append mode flushes them all
      val maxTs = orderedEvents.flatMap(r => Option(r.getAs[Timestamp]("ts"))).max
      val sentinel = Row(999999L,
        new Timestamp(maxTs.getTime + 7L * 24 * 3600 * 1000),
        999999999L, "click", 0.0, null)
      stream.addData(Seq(sentinel)); query.processAllAvailable()

      val got = spark.table("sess_stream")
        .filter(col("user_id") =!= 999999999L)
        .select("user_id", "session_start", "session_end", "n_events", "session_value")
        .orderBy("user_id", "session_start").collect()
      // batch p7 on the valid subset (streaming validates first)
      val exp = graft.pipeline.TripPipeline.sessionize(spark, Sf0001)
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), col("session_value"))
        .orderBy("user_id", "session_start").collect()
      assert(got.length === exp.length)
      got.zip(exp).foreach { case (g, e) =>
        assert(g.getLong(0) === e.getLong(0))
        assert(g.get(1) === e.get(1), s"session_start for user ${g.getLong(0)}")
        assert(g.get(2) === e.get(2), s"session_end for user ${g.getLong(0)}")
        assert(g.getLong(3) === e.getLong(3))
        assert(math.abs(g.getDouble(4) - e.getDouble(4)) < 1e-9)
      }
    } finally query.stop()
  }

  /** The trip matcher over `orderedEvents` into a checkpointed parquet
    * sink: the first half under `first`, then, when `second` is given,
    * a NEW query object over the SAME checkpoint and sink dir started by
    * `second` gets the rest; without `second` one query gets both
    * halves. The sorted sink content. */
  private def checkpointedTrips(first: DataStreamWriter[Row] => StreamingQuery,
      second: Option[DataStreamWriter[Row] => StreamingQuery]): Array[Row] = {
    // under target/ so `sbt clean` reclaims the state dirs instead of
    // accumulating them in the system tmp across runs
    import java.nio.file.{Files, Paths}
    Files.createDirectories(Paths.get("target/streams-tmp"))
    val ckpt = Files.createTempDirectory(Paths.get("target/streams-tmp"), "ckpt").toString
    val out = Files.createTempDirectory(Paths.get("target/streams-tmp"), "out").toString
    val evDf = Tables.events(spark, Sf0001)
    implicit val enc = Encoders.row(evDf.schema)
    val stream = MemoryStream[Row](enc, spark)
    val writer = StreamPipeline.matchedTrips(spark, stream.toDF()).toDF()
      .writeStream.format("parquet")
      .option("checkpointLocation", ckpt).option("path", out)
      .outputMode("append")
    val half = orderedEvents.length / 2
    val q1 = first(writer)
    try {
      stream.addData(orderedEvents.take(half)); q1.processAllAvailable()
      if (second.isEmpty) { stream.addData(orderedEvents.drop(half)); q1.processAllAvailable() }
    } finally q1.stop()
    second.foreach { start =>
      val q2 = start(writer) // fresh query, same checkpoint: state must recover
      try { stream.addData(orderedEvents.drop(half)); q2.processAllAvailable() }
      finally q2.stop()
    }
    spark.read.parquet(out).orderBy("user_id").collect()
  }

  /** A plain start: `core-site.xml` gives it graft's checkpoint manager. */
  private val helperStart: DataStreamWriter[Row] => StreamingQuery = _.start()
  /** A start under Spark's default checkpoint manager, named explicitly:
    * graft's `core-site.xml` makes graft's manager the default of every
    * conf that does not. */
  private val defaultStart: DataStreamWriter[Row] => StreamingQuery = w =>
    StreamPipeline.withSessionConf(spark, "spark.sql.streaming.checkpointFileManagerClass" ->
      classOf[org.apache.spark.sql.execution.streaming.checkpointing
        .FileContextBasedCheckpointFileManager].getName)(w.start())
  private lazy val uninterruptedTrips = checkpointedTrips(helperStart, None)

  test("checkpointed restart recovers matcher state and completes the KPIs") {
    // the operational property a Step-Function retry gives the
    // reference: kill the job mid-stream, restart from the checkpoint,
    // end with the same answer
    val got = checkpointedTrips(helperStart, Some(helperStart))
    val batch = TripPipeline.tripMatch(spark, Sf0001)
      .select(col("user_id"),
        col("start_ts").cast("timestamp").as("start_ts"),
        col("end_ts").cast("timestamp").as("end_ts"), col("fare"))
      .orderBy("user_id").collect()
    assert(got.length === batch.length, "restart must not lose or duplicate trips")
    got.zip(batch).foreach { case (g, e) =>
      assert(g.getLong(0) === e.getLong(0) && g.getDouble(3) === e.getDouble(3))
    }
    assert(got.toSeq === uninterruptedTrips.toSeq)
  }

  test("a checkpoint begun under Spark's default manager resumes under graft's, and back") {
    // same file names and .crc sidecars either way, so neither manager
    // strands the other's state or logs
    assert(checkpointedTrips(defaultStart, Some(helperStart)).toSeq === uninterruptedTrips.toSeq,
      "default manager, then graft's")
    assert(checkpointedTrips(helperStart, Some(defaultStart)).toSeq === uninterruptedTrips.toSeq,
      "graft's manager, then the default")
  }

  test("checkpoint manager: file: paths stay local, every other scheme goes to FileContext") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.execution.streaming.checkpointing.{
      FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
    import graft.io.LocalCheckpointFileManager
    val conf = spark.sessionState.newHadoopConf()
    Seq("target/streams-tmp/dispatch", "file:/tmp/graft-dispatch").foreach { p =>
      val m = new LocalCheckpointFileManager(new Path(p), conf)
      assert(m.delegate.isInstanceOf[FileSystemBasedCheckpointFileManager], p)
      assert(m.isLocal, p)
    }
    // nothing listens on port 1; building the FileContext opens no connection
    val remote = new LocalCheckpointFileManager(new Path("hdfs://localhost:1/ckpt"), conf)
    assert(remote.delegate.isInstanceOf[FileContextBasedCheckpointFileManager])
    assert(!remote.isLocal)
  }

  test("p19 HLL registers are idempotent under re-delivery and equal the batch registers") {
    val evDf = Tables.events(spark, Sf0001)
    implicit val enc = Encoders.row(evDf.schema)
    val stream = MemoryStream[Row](enc, spark)
    val query = StreamPipeline.hllRegistersStream(stream.toDF())
      .writeStream.format("memory").queryName("p19_regs_test")
      .outputMode("complete").start()
    val regs = try {
      val chunks = orderedEvents.grouped(orderedEvents.length / 3 + 1).toSeq
      chunks.foreach { c => stream.addData(c); query.processAllAvailable() }
      // re-deliver the LAST chunk wholesale (at-least-once delivery):
      // register max is idempotent, so nothing may change
      stream.addData(chunks.last)
      query.processAllAvailable()
      spark.table("p19_regs_test").orderBy("date", "bucket").collect()
    } finally query.stop()
    val batch = StreamPipeline.hllRegistersStream(evDf)
      .orderBy("date", "bucket").collect()
    assert(regs.toSeq === batch.toSeq,
      "streamed registers must equal the batch registers exactly")
  }

  test("at-least-once re-delivery of recent events does not change the KPIs") {
    val batch = TripPipeline.kpiDaily(spark, Sf0001).collect()
    val half = orderedEvents.length / 2
    val first = orderedEvents.take(half)
    val second = orderedEvents.drop(half)
    // re-deliver the tail chunk — the matcher's first-event-wins state
    // must absorb it
    val got = feedAndCollect(Seq(first, second, second), "kpi_stream_redeliver")
    assert(got.length === batch.length)
    got.zip(batch).foreach { case (g, e) =>
      assert(g.getLong(2) === e.getLong(2), s"count_trips for ${g.getDate(0)}")
      assert(math.abs(g.getDouble(1) - e.getDouble(1)) < 1e-9)
    }
  }
}
