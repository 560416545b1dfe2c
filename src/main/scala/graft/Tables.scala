package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._

/** Readers for the driver-generated parquet tables (TESTDATA.md).
  *
  * One parquet file per table under `sfDir`. At cluster scale these would
  * be partitioned directories; the read path is identical
  * (`spark.read.parquet` handles both), and all downstream operators are
  * written against the schema, not the file layout.
  *
  * Every read is planned against a declared schema ([[rawSchema]]), so
  * no read but the first of a table runs Spark's one-task footer job.
  * The schema is the one Spark infers, inferred once and cached per
  * path, keyed on the path's [[graft.io.PathStamp]] (the name, length
  * and mtime of each data file) and on the session's parquet
  * schema-inference settings: a table rewritten in place, or read by a
  * session with other inference settings, is inferred again. The cache
  * has no switch; it holds one entry per path and settings.
  *
  * EVERY read is conformed against a per-table column/type-family
  * expectation ([[conform]]): the testdata is regenerated by an external
  * driver each round and its physical types have drifted before
  * (`events.ts` arrived as TIMESTAMP(NANOS) one round and took out every
  * events query at once). Drift WITHIN a family (int32↔int64,
  * float32↔float64) passes through unchanged — the DuckDB oracle reads
  * the same file natively, so both engines track the data together —
  * while timestamp physical variants are normalized to TimestampType(µs)
  * in the one place ([[normalizeTs]]), and any shape outside the
  * supported families fails IMMEDIATELY with the table.column and the
  * found type, instead of 48 queries failing downstream with opaque
  * errors. Format branches live HERE and nowhere else.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A family of physical types a column may legitimately arrive as. */
  private sealed abstract class Family(val label: String) {
    def accepts(dt: DataType): Boolean
  }
  private case object Integral extends Family("integral (int8/16/32/64)") {
    def accepts(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
  }
  private case object Fractional extends Family("fractional (float32/float64)") {
    def accepts(dt: DataType): Boolean = dt match {
      case FloatType | DoubleType => true
      case _ => false
    }
  }
  private case object Str extends Family("string") {
    def accepts(dt: DataType): Boolean = dt == StringType
  }
  private case object Ts extends Family(
      "timestamp (µs-adjusted, ntz, or int64 epoch-ns)") {
    def accepts(dt: DataType): Boolean = dt match {
      case TimestampType | TimestampNTZType | LongType => true
      case _ => false
    }
  }
  private case object FracArray extends Family("array<float32/float64>") {
    def accepts(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
  }

  /** What each table's columns are allowed to look like. Extra columns
    * in a future regeneration pass through untouched (forward-compat);
    * a MISSING column or one outside its family fails loudly. */
  private val expected: Map[String, Seq[(String, Family)]] = Map(
    "region" -> Seq("r_regionkey" -> Integral, "r_name" -> Str),
    "nation" -> Seq("n_nationkey" -> Integral, "n_name" -> Str,
      "n_regionkey" -> Integral),
    "customer" -> Seq("c_custkey" -> Integral, "c_name" -> Str,
      "c_nationkey" -> Integral, "c_acctbal" -> Fractional,
      "c_mktsegment" -> Str),
    "supplier" -> Seq("s_suppkey" -> Integral, "s_name" -> Str,
      "s_nationkey" -> Integral, "s_acctbal" -> Fractional),
    "part" -> Seq("p_partkey" -> Integral, "p_name" -> Str,
      "p_brand" -> Str, "p_type" -> Str, "p_size" -> Integral,
      "p_retailprice" -> Fractional),
    "orders" -> Seq("o_orderkey" -> Integral, "o_custkey" -> Integral,
      "o_orderstatus" -> Str, "o_totalprice" -> Fractional,
      "o_orderdate" -> Ts, "o_orderpriority" -> Str),
    "lineitem" -> Seq("l_orderkey" -> Integral, "l_partkey" -> Integral,
      "l_suppkey" -> Integral, "l_linenumber" -> Integral,
      "l_quantity" -> Fractional, "l_extendedprice" -> Fractional,
      "l_discount" -> Fractional, "l_tax" -> Fractional,
      "l_returnflag" -> Str, "l_linestatus" -> Str, "l_shipdate" -> Ts),
    "events" -> Seq("event_id" -> Integral, "ts" -> Ts,
      "user_id" -> Integral, "event_type" -> Str,
      "value" -> Fractional, "props" -> Str),
    "documents" -> Seq("doc_id" -> Integral, "text" -> Str,
      "lang" -> Str, "source" -> Str, "n_chars" -> Integral),
    "embeddings" -> Seq("vec_id" -> Integral, "embedding" -> FracArray,
      "label" -> Integral))

  /** Validate `df` against `expected(table)`, normalizing timestamp
    * physical variants and failing loudly on anything else. Works on
    * batch and streaming frames alike (dispatch is on the schema). */
  private[graft] def conform(df: DataFrame, table: String): DataFrame =
    expected.get(table).fold(df) { cols =>
      cols.foldLeft(df) { case (acc, (name, fam)) =>
        val field = acc.schema.fields.find(_.name == name).getOrElse(
          throw new IllegalStateException(
            s"testdata schema drift: $table.$name is MISSING " +
              s"(read schema: ${acc.schema.simpleString}). The driver " +
              "regenerated the parquet with a new shape — extend " +
              "Tables.expected, the single home of format branches."))
        if (!fam.accepts(field.dataType))
          throw new IllegalStateException(
            s"testdata schema drift: $table.$name read as " +
              s"${field.dataType.simpleString}; supported family: " +
              s"${fam.label}. Add the normalization to Tables " +
              "(the ONLY place format branches live) before any " +
              "operator sees this column.")
        fam match {
          case Ts => normalizeTs(acc, name)
          case _ => acc
        }
      }
    }

  /** Normalize a timestamp column to TimestampType(µs), whatever
    * physical type the parquet shipped with. The driver has generated
    * timestamps both as TIMESTAMP(NANOS) — unreadable natively by
    * Spark, so it arrives as int64 under `nanosAsLong` and is floored
    * to µs (`x div 1000`, exactly DuckDB's ns→µs cast, keeping the
    * oracle comparable) — and as TIMESTAMP(MICROS) with
    * isAdjustedToUTC=false, which reads as TIMESTAMP_NTZ and is cast to
    * TimestampType (identical instant under the UTC session zone every
    * entry point pins; watermarks and unix_micros require TIMESTAMP). */
  private[graft] def normalizeTs(df: DataFrame, name: String): DataFrame =
    df.schema(name).dataType match {
      case LongType =>
        df.withColumn(name, expr(s"timestamp_micros($name div 1000)"))
      case TimestampNTZType =>
        df.withColumn(name, col(name).cast(TimestampType))
      case _ => df
    }

  /** The events-specific entry for streaming callers: a stream is
    * planned on the RAW schema ([[rawSchema]]), then normalized per
    * micro-batch through this same dispatch. */
  def normalizeEventsTs(df: DataFrame): DataFrame = normalizeTs(df, "ts")

  /** A `ts` literal worth `micros` epoch-µs in the PHYSICAL type of
    * `rawSchema` — for sentinel rows that must round-trip through a
    * file sharing the raw events schema (p15 flush). */
  def tsLiteral(rawSchema: StructType, micros: Long): Any =
    rawSchema("ts").dataType match {
      case LongType => micros * 1000L // int64 epoch-ns
      case TimestampNTZType => java.time.LocalDateTime.ofEpochSecond(
        micros / 1000000L, ((micros % 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC)
      case _ => java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        micros / 1000000L, (micros % 1000000L) * 1000L))
    }

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** The session settings parquet schema inference reads: a schema
    * inferred under one set of values is never served under another. */
  private val InferenceSettings = Seq(NanosAsLong,
    "spark.sql.parquet.mergeSchema", "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.parquet.binaryAsString", "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled", "spark.sql.caseSensitive",
    "spark.sql.files.ignoreCorruptFiles")

  private val rawSchemas = new graft.io.StampedMemo[(String, Seq[Option[String]]), StructType]

  /** The schema Spark infers for table `name` under `dir`, before
    * [[conform]]: what a stream over a staged copy of the table is
    * planned on. Sets `nanosAsLong` (a no-op for non-nanos files,
    * required to read TIMESTAMP(NANOS) at all) — the one place that
    * sets it. Inferred by Spark on the first read of a path stamp and
    * served from the cache after; a missing path is left to Spark's
    * own read error. */
  def rawSchema(spark: SparkSession, dir: String, name: String): StructType = {
    spark.conf.set(NanosAsLong, "true")
    val path = s"$dir/$name.parquet"
    graft.io.PathStamp.of(path, spark.sparkContext.hadoopConfiguration) match {
      case None => spark.read.parquet(path).schema
      case Some(stamp) =>
        rawSchemas((path, InferenceSettings.map(spark.conf.getOption)), stamp) {
          spark.read.parquet(path).schema
        }
    }
  }

  /** Table `name` as stored, read against its [[rawSchema]]. */
  def raw(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(rawSchema(spark, dir, name)).parquet(s"$dir/$name.parquet")

  /** Every table read runs through here: read raw, conform. */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    conform(raw(spark, sfDir, name), name)

  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = apply(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
