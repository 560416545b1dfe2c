package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Partitioned-sink operator — the Spark counterpart of the reference's
  * KPI writer, which lands daily KPIs under `date=YYYY-MM-DD/` JSON
  * partitions (glue_jobs/KPI-Aggregator.py:117-125).
  *
  * Scale notes: downstream readers prune by directory (partition
  * pruning — a `WHERE date = X` never touches other days' files). KPI
  * rows are one per day, so the write volume is tiny regardless of
  * input SF, and [[writeKpiPartitioned]] collects and lands them;
  * a lake with many rows per partition goes through Spark's
  * partitioned writer (p14).
  */
object SinkOps {

  /** Writes `kpi` (a `date` column plus the KPI columns) under `path`
    * as one `date=<d>/part-00000.json` per date, with each row's
    * non-date columns as one JSON document per line, and returns
    * `path`. The layout and the file bytes are those of
    * `kpi.write.mode("overwrite").partitionBy("date").json(path)`: the
    * documents are Spark's own `to_json` rendering and the directory
    * names Spark's partition path strings.
    *
    * The rows are collected and written through `path`'s
    * Hadoop FileSystem ([[graft.io.LocalFs]] for `file:`), so no write
    * job is planned or run. Each date is replaced on its own: its file
    * is written under a hidden temp name in its `date=` dir and renamed
    * over `part-00000.json`, and then every other `part-*` file of that
    * dir (an earlier Spark-written one) is deleted. Every `date=` dir
    * with no row in `kpi` is deleted, so `path` ends up holding
    * exactly `kpi`. A reader never sees a date dir without its file,
    * only (between two dates' renames) some dates already new. */
  def writeKpiPartitioned(kpi: DataFrame, path: String): String = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val docCols = kpi.columns.filterNot(_ == "date").map(c => kpi.col(s"`$c`")).toIndexedSeq
    val byDir = kpi.select(col("date").cast(StringType), to_json(struct(docCols: _*)))
      .collect().toSeq
      .groupMap(r => ExternalCatalogUtils.getPartitionPathString("date", r.getString(0)))(
        _.getString(1))
    val root = new Path(path)
    val fs = root.getFileSystem(kpi.sparkSession.sessionState.newHadoopConf())
    fs.mkdirs(root)
    byDir.foreach { case (name, docs) =>
      val dir = new Path(root, name)
      val part = new Path(dir, "part-00000.json")
      val tmp = new Path(dir, ".part-00000.json.tmp")
      val out = fs.create(tmp, true)
      try out.write(docs.map(_ + "\n").mkString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      // a filesystem whose rename does not replace an existing file
      // (HDFS) gets the old one deleted first
      if (!fs.rename(tmp, part) && !(fs.delete(part, false) && fs.rename(tmp, part)))
        throw new java.io.IOException(s"could not rename $tmp to $part")
      fs.listStatus(dir).map(_.getPath)
        .filter(p => p.getName.startsWith("part-") && p.getName != part.getName)
        .foreach(fs.delete(_, false))
    }
    fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
      .filter(p => p.getName.startsWith("date=") && !byDir.contains(p.getName))
      .foreach(fs.delete(_, true))
    path
  }

  /** The KPI columns of the JSON documents, in the order they are
    * written. Explicit (never inferred) so a reader at any scale does
    * zero inference scans. */
  val kpiDataSchema: StructType = StructType(Seq(
    StructField("total_fare", DoubleType),
    StructField("count_trips", LongType),
    StructField("average_fare", DoubleType),
    StructField("max_fare", DoubleType),
    StructField("min_fare", DoubleType)))

  /** Reads back what [[writeKpiPartitioned]] landed under `path`: `date`
    * first, then the KPI columns in the order they were written, ordered
    * by date. `date` is in the read schema, so partition discovery types
    * the directory names as dates, and a sink with no `date=` dir (an
    * empty KPI table) reads back as an empty table of the same schema. */
  def readKpiPartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(StructType(StructField("date", DateType) +: kpiDataSchema.fields)).json(path)
      .select(col("date") +: kpiDataSchema.fieldNames.toSeq.map(col): _*)
      .orderBy("date")

  /** p10: daily-KPI partitioned sink round-trip — computes kpiDaily,
    * writes it `date=.../part-*.json` like the reference, reads the
    * partition tree back with an explicit schema, and returns the
    * re-read result (so the oracle can verify the round-trip preserved
    * every value bit-for-bit). */
  def kpiSinkRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.functions.F.sinkPath("kpi_daily", dir)
    readKpiPartitioned(spark, writeKpiPartitioned(TripPipeline.kpiDaily(spark, dir), out))
  }

  /** p14: parquet lake layout + PARTITION PRUNING — the by-type daily
    * KPIs written as `date=YYYY-MM-DD/` parquet, then read back with a
    * date-range predicate that Spark resolves at the DIRECTORY level:
    * the scan's PartitionFilters prune to the 4 matching partitions and
    * the other days' files are never opened (pinned by PlanSpec). This
    * is the access pattern that makes a 100 TB event lake queryable —
    * predicate → partition directories, not a full scan; parquet (not
    * JSON) also round-trips doubles bit-exactly with no re-parse. */
  def partitionedParquetRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.functions.F.sinkPath("kpi_parquet", dir)
    TripPipeline.kpiDailyByType(spark, dir)
      .write.mode("overwrite").partitionBy("date").parquet(out)
    prunedKpiRead(spark, out)
  }

  /** The pruned read side of p14 (separate so the plan test can inspect
    * exactly the plan the operator runs). The 4-day window is DERIVED
    * from the layout — days [min+2, min+5] of the written partitions —
    * so the pruned read can never be silently vacuous on a data dir
    * whose dates differ from the original testdata (it is non-empty
    * whenever the input spans ≥ 3 days past its first date). The min
    * is resolved once, driver-side, into literal bounds, so the scan
    * still prunes at the DIRECTORY level (PartitionFilters on
    * literals), exactly as a hard-coded window would. */
  def prunedKpiRead(spark: SparkSession, out: String): DataFrame = {
    // an empty input lands a partition-less lake (no files to infer
    // from) or an all-null date min — both degrade to the empty result,
    // not an exception (the old hard-coded window's graceful behavior)
    val lake =
      try spark.read.parquet(out)
      catch { case _: org.apache.spark.sql.AnalysisException =>
        return spark.createDataFrame(
          java.util.List.of[org.apache.spark.sql.Row](), p14Schema) }
    val minRow = lake.agg(min(col("date"))).head
    if (minRow.isNullAt(0))
      return spark.createDataFrame(
        java.util.List.of[org.apache.spark.sql.Row](), p14Schema)
    val minDate = minRow.getDate(0).toLocalDate
    val from = java.sql.Date.valueOf(minDate.plusDays(2))
    val to = java.sql.Date.valueOf(minDate.plusDays(5))
    lake
      .filter(col("date") >= lit(from) && col("date") <= lit(to))
      .select(col("date").cast(DateType).as("date"), col("event_type"),
        col("n_events"), col("total_value"), col("avg_value"),
        col("max_value"), col("min_value"))
      .orderBy("date", "event_type")
  }

  /** p14's output schema — also the shape of the empty-lake result. */
  val p14Schema: StructType = StructType(Seq(
    StructField("date", DateType),
    StructField("event_type", StringType),
    StructField("n_events", LongType),
    StructField("total_value", DoubleType),
    StructField("avg_value", DoubleType),
    StructField("max_value", DoubleType),
    StructField("min_value", DoubleType)))

  /** p22: SCHEMA-EVOLUTION lake read — the reality of a long-lived
    * lake: files written before a column existed sit next to files
    * written after. Writer v1 landed the by-type KPIs WITHOUT
    * `avg_value` (the column didn't exist yet); writer v2 landed later
    * event types with it. `mergeSchema` unions the file schemas at read
    * time and NULL-fills the missing column for v1 files — no rewrite
    * of historical data, no reader crash, exactly the
    * "validate-and-carry-on" discipline the reference applies to
    * evolving payloads.
    *
    * Scale notes: schema merging reads FOOTERS, not data, and the
    * writer-version split is directory-partitioned (`v=1/`, `v=2/`), so
    * the merge cost is per-file metadata only; a production lake pins
    * the merged schema in a catalog after migration instead of paying
    * footer inspection per query. */
  def schemaEvolutionRead(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.functions.F.sinkPath("evolve", dir)
    val kpi = TripPipeline.kpiDailyByType(spark, dir)
    // v1 writer: early event types, no avg_value column yet
    kpi.filter(col("event_type") < "p").drop("avg_value")
      .write.mode("overwrite").parquet(s"$out/v=1")
    // v2 writer: the rest, current schema
    kpi.filter(col("event_type") >= "p")
      .write.mode("overwrite").parquet(s"$out/v=2")
    spark.read.option("mergeSchema", "true").parquet(out)
      .select(col("date"), col("event_type"), col("n_events"),
        col("total_value"), col("avg_value"), col("max_value"),
        col("min_value"), col("v").cast(LongType).as("writer_v"))
      .orderBy("date", "event_type")
  }

  /** p32: PARTITION BACKFILL — the reprocessing pass every production
    * lake eventually needs: a bug (or late data) invalidates a date
    * RANGE, and the fix recomputes THAT RANGE from the source and
    * overwrites only its partition directories — dynamic partition
    * overwrite — leaving every other partition's files physically
    * untouched (pinned by spec via the untouched files' mtimes).
    *
    * The landing deliberately POISONS the window (total_value = −1 on
    * the to-be-backfilled days), so the oracle can only stay green if
    * the backfill actually repaired those partitions: the read-back
    * must equal the clean full recompute value-for-value. The window
    * is derived from the data (days [min+2, min+5] — p14's
    * discipline), never hard-coded.
    *
    * Scale shape: the recompute aggregates only the window's rows; on
    * a date-partitioned event lake the window predicate prunes the
    * SOURCE read at the directory level too, and `partitionOverwriteMode
    * = dynamic` resolves the overwritten directories from the data
    * being written, not the table root — so backfilling 4 days of a
    * 10-year lake reads and writes 4 days, not 10 years. Untouched
    * history is never opened. */
  def backfillPartitions(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.functions.F.sinkPath("kpi_backfill", dir)
    val full = TripPipeline.kpiDailyByType(spark, dir)
    val minRow = full.agg(min(col("date"))).head
    if (minRow.isNullAt(0)) // empty source → empty lake, not a crash
      return spark.createDataFrame(
        java.util.List.of[org.apache.spark.sql.Row](), p14Schema)
    val minDate = minRow.getDate(0).toLocalDate
    val from = java.sql.Date.valueOf(minDate.plusDays(2))
    val to = java.sql.Date.valueOf(minDate.plusDays(5))
    val inWindow = col("date") >= lit(from) && col("date") <= lit(to)
    // ---- landing (once per JVM per dir): the lake with the window
    // poisoned — the state a real backfill is called to repair ----
    graft.functions.F.landOnce(out, out) {
      full.withColumn("total_value",
          when(inWindow, lit(-1.0)).otherwise(col("total_value")))
        .write.mode("overwrite").partitionBy("date").parquet(out)
      spark.catalog.refreshByPath(out)
    }
    // ---- the measured backfill: recompute ONLY the window, overwrite
    // ONLY its partition directories ----
    full.filter(inWindow)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("date").parquet(out)
    spark.catalog.refreshByPath(out)
    spark.read.parquet(out)
      .select(col("date").cast(DateType).as("date"), col("event_type"),
        col("n_events"), col("total_value"), col("avg_value"),
        col("max_value"), col("min_value"))
      .orderBy("date", "event_type")
  }

  /** p36: SNAPSHOT DIFF — the "what changed between runs?" report every
    * incremental lake job owes its operators: two snapshots of the
    * daily-KPI lake land as date-partitioned parquet — v1 is
    * yesterday's run, which missed a late-arriving event slice
    * (event_id % 8 == 7 rows of the trailing 4 days — the window
    * derived from the data, p32's discipline), v2 is today's full
    * recompute — and the diff reads BOTH lakes back and classifies
    * every date partition added / removed / changed / unchanged by
    * comparing row count, event mass, and the µ-unit-canonicalized
    * value mass (p33's total-order trick, so double formatting can
    * never enter the comparison). Early partitions report unchanged,
    * the late-data window reports changed — the exact signal a
    * backfill scheduler (p32) consumes.
    *
    * Both snapshot legs run the ONE by-type KPI definition
    * (TripPipeline.kpiDailyByTypeOf), so a reported diff can only come
    * from the DATA delta, never from drifting rollup definitions.
    *
    * Scale shape: the diff never reads rows proportional to history —
    * each side is one map-combined rollup to date-partition granularity
    * and the join is dimension-scale on date; on a real lake the same
    * classification runs off footer/manifest statistics without
    * touching data files at all. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.F
    val v1p = F.sinkPath("snap_v1", dir)
    val v2p = F.sinkPath("snap_v2", dir)
    val ev = Tables.events(spark, dir)
    val maxRow = ev.agg(max(to_date(col("ts")))).head()
    if (maxRow.isNullAt(0))
      return spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](),
        StructType(Seq(StructField("date", DateType), StructField("status", StringType),
          StructField("n_events_v1", LongType), StructField("n_events_v2", LongType))))
    val lateFrom = java.sql.Date.valueOf(maxRow.getDate(0).toLocalDate.minusDays(3))
    F.landOnce(v1p, v1p) {
      TripPipeline.kpiDailyByTypeOf(ev.filter(
          !(col("event_id") % 8 === 7 && to_date(col("ts")) >= lit(lateFrom))))
        .write.mode("overwrite").partitionBy("date").parquet(v1p)
      spark.catalog.refreshByPath(v1p)
    }
    F.landOnce(v2p, v2p) {
      TripPipeline.kpiDailyByTypeOf(ev)
        .write.mode("overwrite").partitionBy("date").parquet(v2p)
      spark.catalog.refreshByPath(v2p)
    }
    def stats(path: String) = spark.read.parquet(path)
      .groupBy(col("date").cast(DateType).as("date"))
      .agg(count(lit(1)).as("n_rows"), sum("n_events").as("n_events"),
        sum(expr("CAST(floor(total_value * 1000000 + 0.5) AS BIGINT)")).as("micro"))
    val a = stats(v1p).select(col("date"), col("n_rows").as("r1"),
      col("n_events").as("e1"), col("micro").as("t1"))
    val b = stats(v2p).select(col("date"), col("n_rows").as("r2"),
      col("n_events").as("e2"), col("micro").as("t2"))
    a.join(b, Seq("date"), "full_outer")
      .withColumn("status",
        when(col("r1").isNull, "added")
          .when(col("r2").isNull, "removed")
          .when(col("r1") === col("r2") && col("e1") === col("e2") &&
            col("t1") === col("t2"), "unchanged")
          .otherwise("changed"))
      .select(col("date"), col("status"),
        coalesce(col("e1"), lit(0L)).as("n_events_v1"),
        coalesce(col("e2"), lit(0L)).as("n_events_v2"))
      .orderBy("date")
  }

  /** p24: SMALL-FILE COMPACTION — the lake-maintenance pass every
    * streaming/incremental sink eventually needs: a landing zone of many
    * tiny files (here: the event log deliberately fragmented into 96
    * splits, the shape a per-micro-batch writer leaves behind) rewritten
    * into few right-sized files, then verified content-identical.
    *
    * Spark realization: the compaction read-rewrite uses `coalesce`, NOT
    * `repartition` — coalesce merges input splits on the map side with
    * ZERO shuffle (compaction moves bytes, it must not also pay a
    * network pass), and `maxRecordsPerFile` caps file size from the
    * other direction. The returned verification aggregate (per-type
    * counts + decimal-exact value sum + id-range) comes from the
    * COMPACTED lake, so the oracle (which computes the same from the
    * source table) proves the rewrite lost and duplicated nothing.
    *
    * Scale notes: at 100 TB compaction runs per partition directory
    * (date=.../), each directory coalescing independently —
    * embarrassingly parallel, bounded memory (a writer task streams
    * row groups). File COUNT bounds (96 → ≤ 8) are pinned by spec, not
    * here: the query contract is content equality. */
  def compactionRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val fragmented = graft.functions.F.sinkPath("frag", dir)
    val compacted = graft.functions.F.sinkPath("compact", dir)
    Tables.events(spark, dir)
      .repartition(96) // the small-file landing zone a micro-batch writer leaves
      .write.mode("overwrite").parquet(fragmented)
    spark.read.parquet(fragmented)
      .coalesce(8) // map-side merge, no shuffle
      .write.mode("overwrite")
      .option("maxRecordsPerFile", 2000000)
      .parquet(compacted)
    spark.read.parquet(compacted)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_value"),
        min("event_id").as("min_id"), max("event_id").as("max_id"))
      .orderBy("event_type")
  }
}
