package graft

import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{SinkOps, TripPipeline}

class PipelineSpec extends AnyFunSuite with SparkSpec {

  private val eventsSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  private val t0 = Timestamp.valueOf("2024-01-01 10:00:00")

  test("validate/quarantine partition injected invalid rows exactly and exhaustively") {
    val rows: Seq[Row] = Seq(
      Row(1L, t0, 5L, "signup", 10.0, """{"k":1}"""), // valid
      Row(2L, null, 5L, "click", 1.0, null), //          null ts
      Row(null, t0, 5L, "view", 1.0, null), //           null event_id
      Row(3L, t0, -1L, "view", 1.0, null), //            negative user_id
      Row(4L, t0, 5L, "weird", 1.0, null), //            unknown event_type
      Row(5L, t0, 5L, "purchase", -2.0, null), //        negative value
      Row(6L, t0, null, "purchase", 2.0, null), //       null user_id
      Row(7L, t0, 5L, null, 2.0, null), //               null event_type
      Row(8L, t0, 5L, "error", null, null)) //           null value
    val ev = spark.createDataFrame(rows.asJava, eventsSchema)

    val valid = TripPipeline.validateDf(ev)
    val quar = TripPipeline.quarantineDf(ev)
    assert(valid.count() === 1L)
    assert(quar.count() === 8L)
    // exact + exhaustive: p1 ∪ p2 = all, p1 ∩ p2 = ∅ (compare by whole row)
    assert(valid.unionByName(quar).count() === ev.count())
    assert(valid.intersect(quar).count() === 0L)
    assert(valid.select("event_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().toSet === Set(1L))
  }

  test("quarantine on driver testdata is the exact complement of validate") {
    val all = Tables.events(spark, Sf0001).count()
    val nValid = TripPipeline.validate(spark, Sf0001).count()
    val nQuar = TripPipeline.quarantine(spark, Sf0001).count()
    assert(nValid + nQuar === all)
  }

  test("props JSON extraction tolerates spacing, key order and garbage") {
    val df = spark.createDataFrame(
      Seq(
        Row(1L, t0, 1L, "click", 1.0, """{"k":5}"""),
        Row(2L, t0, 1L, "click", 1.0, """{ "k" : 7 }"""),
        Row(3L, t0, 1L, "click", 1.0, """{"x":1,"k":9}"""),
        Row(4L, t0, 1L, "click", 1.0, "not json"),
        Row(5L, t0, 1L, "click", 1.0, """{"k":"abc"}""")).asJava,
      eventsSchema)
    val ks = df.select(expr("try_cast(get_json_object(props, '$.k') AS LONG)").as("k"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(ks.toSeq === Seq(Some(5L), Some(7L), Some(9L), None, None))
  }

  test("p12 coerces string numerics per field class (required vs optional)") {
    // event_ids chosen to hit each injection residue exactly once:
    //   1   → clean row ("12.500000" → 12.5, "3" → 3)
    //   101 → required field uncoercible ('N/A')
    //   103 → required field missing (NULL)
    //   7   → optional field missing (NULL) — row KEPT, null passenger_count
    //   109 → optional field present but uncoercible ('abc') — row rejected
    val rows: Seq[Row] = Seq(
      Row(1L, t0, 3L, "click", 12.5, null),
      Row(101L, t0, 3L, "click", 1.0, null),
      Row(103L, t0, 3L, "click", 1.0, null),
      Row(7L, t0, 4L, "click", 2.5, null),
      Row(109L, t0, 5L, "click", 3.5, null))
    val out = TripPipeline.coerceFieldsDf(
        spark.createDataFrame(rows.asJava, eventsSchema))
      .orderBy("event_id").collect()
    def status(r: Row) = r.getString(1)
    val byId = out.map(r => r.getLong(0) -> r).toMap
    assert(status(byId(1L)) === "ok")
    assert(byId(1L).getDouble(2) === 12.5) // "12.500000" coerced back exactly
    assert(byId(1L).getLong(3) === 3L)
    assert(status(byId(101L)) === "bad_required")
    assert(byId(101L).isNullAt(2) && byId(101L).isNullAt(3))
    assert(status(byId(103L)) === "missing_required")
    assert(status(byId(7L)) === "ok") // optional absent is fine
    assert(byId(7L).getDouble(2) === 2.5 && byId(7L).isNullAt(3))
    assert(status(byId(109L)) === "bad_optional") // 'abc' never coerces
  }

  test("partitioned KPI sink round-trips the daily KPI exactly") {
    val direct = TripPipeline.kpiDaily(spark, Sf0001).collect()
    val viaSink = SinkOps.kpiSinkRoundtrip(spark, Sf0001).collect()
    assert(viaSink.length === direct.length)
    viaSink.zip(direct).foreach { case (g, e) =>
      assert(g.getDate(0) === e.getDate(0))
      assert(g.getLong(2) === e.getLong(2)) // count_trips
      Seq(1, 3, 4, 5).foreach { i => // total/avg/max/min fare round-trip bit-exactly
        assert(g.getDouble(i) === e.getDouble(i))
      }
    }
    // the sink really is partitioned by date on disk
    val out = new java.io.File(
      graft.functions.F.sinkPath("kpi_daily", Sf0001))
    val parts = out.listFiles().filter(_.getName.startsWith("date="))
    assert(parts.length === direct.length)
  }

  test("the KPI sink writes Spark's bytes, one part file per date, and drops absent dates") {
    import java.nio.file.{Files, Paths}
    val kpi = TripPipeline.kpiDaily(spark, Sf0001).localCheckpoint()
    Files.createDirectories(Paths.get("target"))
    val tmp = Files.createTempDirectory(Paths.get("target"), "kpi-sink-spec")
    try {
      val reference = tmp.resolve("spark").toString
      kpi.write.partitionBy("date").json(reference)
      // the sink as Spark's writer left it, with one more date
      val out = tmp.resolve("sink").toString
      val gone = spark.createDataFrame(
        java.util.List.of(Row(java.sql.Date.valueOf("1999-01-01"), 1.0, 1L, 1.0, 1.0, 1.0)),
        kpi.schema)
      kpi.unionByName(gone).write.partitionBy("date").json(out)
      SinkOps.writeKpiPartitioned(kpi, out)
      def dateDirs(p: String) =
        new java.io.File(p).listFiles().filter(_.getName.startsWith("date=")).sortBy(_.getName)
      assert(dateDirs(out).map(_.getName).toSeq === dateDirs(reference).map(_.getName).toSeq)
      assert(dateDirs(out).length === kpi.count())
      dateDirs(out).zip(dateDirs(reference)).foreach { case (d, r) =>
        assert(d.list().filterNot(_.endsWith(".crc")).toSeq === Seq("part-00000.json"), d)
        val sparkPart = r.listFiles().filter(_.getName.startsWith("part-")).head
        assert(Files.readString(d.toPath.resolve("part-00000.json")) ===
          Files.readString(sparkPart.toPath), d)
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("p16 incremental merge survives a late signup that MOVES a trip earlier") {
    // user 5 base: signup day2, purchases day1+day3 → base trip ends day3.
    // late signup day0 re-matches the day1 purchase → trip moves EARLIER.
    // A date-level incremental scheme would miss day3's removal; the
    // user-level scheme must equal the full recompute exactly.
    def ts(d: Int) = Timestamp.valueOf(f"2024-01-0$d%d 10:00:00")
    val rows: Seq[Row] = Seq(
      Row(1L, ts(2), 5L, "signup", 1.0, null),
      Row(2L, ts(1), 5L, "purchase", 10.0, null),
      Row(3L, ts(3), 5L, "purchase", 30.0, null),
      Row(10L, ts(1), 5L, "signup", 1.0, null), // LATE (id % 10 == 0), day1 morning
      // an untouched user whose trip must carry forward unchanged
      Row(4L, ts(1), 7L, "signup", 1.0, null),
      Row(5L, ts(4), 7L, "purchase", 40.0, null))
    val ev = spark.createDataFrame(rows.asJava, eventsSchema)
    val isLate = col("event_id") % 10 === 0
    val incremental = TripPipeline.incrementalKpiDf(ev, isLate).collect()
    val full = TripPipeline.incrementalKpiDf(ev, lit(true)).collect() // all-late = full rematch
    assert(incremental.toSeq === full.toSeq)
    // and the moved trip really did move: day1 has user 5's trip now
    val dates = incremental.map(_.getDate(0).toString)
    assert(dates.contains("2024-01-01") && !dates.contains("2024-01-03"))
  }

  test("multi-format datetime normalization parses both formats, null on garbage") {
    val parsed = TripPipeline.tsMultiFormat(spark, Sf0001)
    // every generated string (either format) must parse back
    assert(parsed.filter(col("parsed_ts").isNull && col("raw_ts").isNotNull).count() === 0L)
    // format A drops seconds: parsed == ts truncated to the minute
    val ev = Tables.events(spark, Sf0001)
      .select(col("event_id"), col("ts").cast("timestamp_ntz").as("ts"))
    val joined = parsed.join(ev, "event_id")
      .withColumn("expected",
        when(col("event_id") % 2 === 0, date_trunc("minute", col("ts")).cast("timestamp_ntz"))
          .otherwise(date_trunc("second", col("ts")).cast("timestamp_ntz")))
    assert(joined.filter(col("parsed_ts") =!= col("expected")).count() === 0L)
  }
}
