package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.F._

/** Bucketed-layout operators — the co-location strategy for REPEATED
  * fact⋈fact joins at 100 TB: pay the shuffle once at write time
  * (`bucketBy` + `sortBy` on the join key), then every subsequent join
  * on that key reads co-located, pre-sorted buckets and runs with ZERO
  * exchange on the key (BucketingSpec pins the exchange-free plan).
  */
object BucketOps {

  val Buckets = 8

  /** Layout builds completed per CATALOG — keyed by (SparkContext,
    * suffix): sessions sharing a context share the in-memory catalog,
    * so one build serves them all and a second session cannot clobber a
    * layout the first is reading; a NEW context starts with an empty
    * catalog, so its key misses and the layout rebuilds (a plain
    * JVM-global key would skip the rebuild and leave b1 reading tables
    * that no longer exist). Concurrent first callers share one build
    * ([[graft.Once]]) instead of dropping and rewriting the same tables
    * under each other. [[clearBuilt]] forces rebuilds — the
    * BucketingSpec rebuild test exercises it. */
  private val built =
    new graft.Once[(org.apache.spark.SparkContext, String), Unit](k => s"b1_layout_${k._2}")

  /** Forget every completed layout build (the tables themselves stay in
    * the catalog) — the lifecycle hook mirroring DedupOps.clearMemo. */
  def clearBuilt(): Unit = built.removeWhere(_ => true)

  /** Collision-proof table suffix for a data dir — the shared
    * `F.dirTag` scheme. LOWERCASED there too: the catalog lowercases
    * managed-table directory names, and a case-mismatched suffix would
    * make the orphan-dir cleanup miss on case-sensitive filesystems. */
  private def dirSuffix(dir: String): String = graft.functions.F.dirTag(dir)

  /** Drop a managed table AND its orphan warehouse directory. The
    * in-memory catalog forgets tables across JVMs but their directories
    * persist, and saveAsTable refuses an occupied location — so both
    * must go. Uses the Hadoop FileSystem API, so it works for local,
    * HDFS and object-store warehouses alike (java.io.File would
    * silently skip remote paths and leave b1 permanently failing after
    * a restart). Shared by the operator and BucketingSpec. */
  private[graft] def dropTableAndDir(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    // the catalog lowercases managed-table directory names
    val p = new org.apache.hadoop.fs.Path(wh, table.toLowerCase)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true): Unit
  }

  /** b1: build (once per JVM+dir) a bucketed orders/lineitem layout
    * keyed on orderkey and run the canonical repeated-join workload over
    * it — revenue by priority. The write-time shuffle is the amortized
    * cost bucketing trades for: the first call pays it, every later
    * call joins over the existing layout. Correctness is
    * layout-independent — the oracle is the plain join SQL. */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val suffix = dirSuffix(dir)
    val ordT = s"graft_b_orders_$suffix"
    val liT = s"graft_b_lineitem_$suffix"
    built((spark.sparkContext, suffix)) {
      Seq(ordT, liT).foreach(dropTableAndDir(spark, _))
      Tables.orders(spark, dir).write
        .bucketBy(Buckets, "o_orderkey").sortBy("o_orderkey")
        .format("parquet").mode("overwrite").saveAsTable(ordT)
      Tables.lineitem(spark, dir).write
        .bucketBy(Buckets, "l_orderkey").sortBy("l_orderkey")
        .format("parquet").mode("overwrite").saveAsTable(liT)
    }
    spark.table(ordT)
      .join(spark.table(liT), col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("o_orderpriority")
  }

  /** b4 z-order geometry: each key min-max-normalizes onto a
    * 2^ZBits-cell grid axis; the interleaved z value has 2·ZBits bits
    * and a "file" is a run of 2^ZBucketShift consecutive z values —
    * 2^(2·ZBits − ZBucketShift) = 256 buckets, standing in for the
    * lake's file boundaries after a repartitionByRange(z) write. */
  val ZBits = 10
  val ZBucketShift = 12

  /** b4: Z-ORDER LAYOUT — the multi-column file-skipping strategy b1's
    * bucketing cannot give: bucketBy co-locates ONE join key; a
    * two-dimensional predicate (orderkey range × partkey range) over a
    * lake laid out in natural (single-key) order prunes on one
    * dimension and scans everything on the other. Interleaving the
    * bits of both normalized keys (the Morton/Z curve) and cutting
    * files along the curve bounds BOTH per-file key ranges at once —
    * this operator computes the z value for every lineitem row and
    * reports, for each would-be file under the z layout AND under the
    * natural orderkey layout, the row count and both keys' min-max
    * spans: exactly the footer statistics a reader's predicate-vs-file
    * pruning consults. Reading the two span columns side by side IS
    * the design decision ("z-order bounds both dims at ~1/16 of range;
    * natural order bounds one at 1/256 and leaves the other at full
    * range").
    *
    * Scale shape: the z value is a pure per-row bit expression against
    * a broadcast 1-row min/max (one map-side projection, codegen'd);
    * each layout's stats are ONE map-combined groupBy to 256 cells. At
    * write time the same z column feeds repartitionByRange + local
    * sort — the shuffle a z-ordered lake pays once to make every
    * 2-D scan after it prune at the directory level. */
  def zorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val maxN = (1 << ZBits) - 1
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("a"), col("l_partkey").as("b"))
    val mm = li.agg(min("a").as("mna"), max("a").as("mxa"),
      min("b").as("mnb"), max("b").as("mxb"))
    val n = li.crossJoin(broadcast(mm))
      .withColumn("na", expr(
        s"CASE WHEN mxa > mna THEN (a - mna) * $maxN div (mxa - mna) ELSE 0 END"))
      .withColumn("nb", expr(
        s"CASE WHEN mxb > mnb THEN (b - mnb) * $maxN div (mxb - mnb) ELSE 0 END"))
    val z = (0 until ZBits).map { i =>
      shiftleft(shiftright(col("na"), i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(col("nb"), i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
    def statsOf(df: DataFrame, bucket: String, layout: String) =
      df.groupBy(col(bucket).as("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          (max("a") - min("a")).as("o_span"),
          (max("b") - min("b")).as("p_span"))
        .select(lit(layout).as("layout"), col("bucket"), col("n_rows"),
          col("o_span"), col("p_span"))
    // both layouts cut the SAME row set into the same file count: 256
    // z-runs vs 256 natural orderkey slices (na div 4, na ∈ [0, 1023])
    val withZ = n.withColumn("z", z)
      .withColumn("zbucket", expr(s"z div ${1L << ZBucketShift}"))
      .withColumn("nbucket", expr(s"na div ${1L << (ZBucketShift - ZBits)}"))
    statsOf(withZ, "zbucket", "zorder")
      .unionByName(statsOf(withZ, "nbucket", "natural"))
      .orderBy("layout", "bucket")
  }
}
