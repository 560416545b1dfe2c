package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The r9 failure class, immunized: the driver regenerates the testdata
  * parquet every round and has shipped drifted physical types before
  * (TIMESTAMP(NANOS) events took out all 48 events queries at once).
  * This spec constructs deliberately re-typed variants of EVERY table
  * family — int64-ns timestamps, UTC-adjusted timestamps, float→double
  * embedding vectors, narrowed int32 ids/counts — routes them through
  * the real `Tables` entry points, and proves representative queries
  * return value-identical results. Plus: drift OUTSIDE the supported
  * families must fail loudly naming the exact table.column, not 48
  * queries later with an opaque analysis error. */
class SchemaDriftSpec extends AnyFunSuite with SparkSpec {

  /** A full sf0.001 testdata directory with every supported drift
    * applied at once: events.ts as int64 epoch-ns; orders/lineitem
    * timestamps as UTC-adjusted TIMESTAMP (the generated files are
    * NTZ); documents ids/counts narrowed to int32; embeddings widened
    * to array<double> with an int64 label. */
  private lazy val driftDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-drift").toString
    def w(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    for (t <- Seq("region", "nation", "customer", "supplier", "part"))
      w(Tables(spark, Sf0001, t), t)
    // writing the conformed TimestampType column produces the
    // isAdjustedToUTC=true physical variant — the pass-through branch
    w(Tables.orders(spark, Sf0001), "orders")
    w(Tables.lineitem(spark, Sf0001), "lineitem")
    // int64 epoch-ns: the exact r9 shape (TIMESTAMP(NANOS) reads as
    // long under nanosAsLong; a raw long column is the same post-read)
    w(Tables.events(spark, Sf0001)
      .withColumn("ts", expr("unix_micros(ts) * 1000L")), "events")
    w(Tables.documents(spark, Sf0001)
      .withColumn("doc_id", col("doc_id").cast("int"))
      .withColumn("n_chars", col("n_chars").cast("int")), "documents")
    w(Tables.embeddings(spark, Sf0001)
      .withColumn("embedding", col("embedding").cast("array<double>"))
      .withColumn("label", col("label").cast("long")), "embeddings")
    dir
  }

  /** Run a registered query on the pristine and the drifted directory;
    * values must be identical (every drift above is value-preserving:
    * ns = µs·1000 floors back exactly, float→double widening is exact,
    * the narrowed ints are well inside int32 at sf0.001). */
  private def identicalUnderDrift(key: String): Unit = {
    val q = SparkEntry.queries(key)
    val pristine = q(spark, Sf0001).collect().map(_.toString).sorted
    val drifted = q(spark, driftDir).collect().map(_.toString).sorted
    assert(pristine.nonEmpty, s"$key returned no rows — vacuous check")
    assert(pristine.sameElements(drifted),
      s"$key results drifted under re-typed parquet")
  }

  test("events family survives int64-ns timestamps (the r9 outage shape)") {
    identicalUnderDrift("p5_kpi_daily")
  }
  test("lineitem/orders survive UTC-adjusted timestamp variant") {
    identicalUnderDrift("q1_pricing")
    identicalUnderDrift("q3_shipping")
  }
  test("documents family survives int32-narrowed ids and counts") {
    identicalUnderDrift("t1_token_count")
    identicalUnderDrift("d1_dedup_exact")
  }
  test("embeddings family survives double vectors and int64 labels") {
    identicalUnderDrift("e1_ann_topk")
  }

  test("every table's cached read schema is the one Spark infers") {
    for (dir <- Seq(Sf0001, driftDir); t <- Tables.all) {
      val cached = Tables.rawSchema(spark, dir, t)
      val inferred = spark.read.parquet(s"$dir/$t.parquet").schema
      assert(cached === inferred, s"$dir/$t")
      assert(Tables.raw(spark, dir, t).schema === inferred, s"$dir/$t")
    }
  }

  test("cross-family drift fails loudly naming the column") {
    val docs = Tables.documents(spark, Sf0001)
    val bad = docs.withColumn("text", lit(1L))
    val e = intercept[IllegalStateException](Tables.conform(bad, "documents"))
    assert(e.getMessage.contains("documents.text"), e.getMessage)
    assert(e.getMessage.contains("bigint"), e.getMessage)
  }

  test("a missing column fails loudly, not 48 queries later") {
    val docs = Tables.documents(spark, Sf0001)
    val e = intercept[IllegalStateException](
      Tables.conform(docs.drop("n_chars"), "documents"))
    assert(e.getMessage.contains("documents.n_chars"), e.getMessage)
    assert(e.getMessage.contains("MISSING"), e.getMessage)
  }

  test("an embedding column outside the fractional-array family is rejected") {
    val emb = Tables.embeddings(spark, Sf0001)
    val bad = emb.withColumn("embedding",
      transform(col("embedding"), x => x.cast("string")))
    val e = intercept[IllegalStateException](Tables.conform(bad, "embeddings"))
    assert(e.getMessage.contains("embeddings.embedding"), e.getMessage)
  }
}
