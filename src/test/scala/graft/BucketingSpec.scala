package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Executable proof of the SURVEY §5 bucketing claim: two tables
  * bucketed (and sorted) on the join key join WITHOUT any exchange —
  * the physical layout IS the shuffle, paid once at write time and
  * amortized over every subsequent join. This is the co-location
  * strategy for repeated fact⋈fact joins at 100 TB. */
class BucketingSpec extends AnyFunSuite with SparkSpec {

  test("bucketed co-located join runs with zero exchanges") {
    val conf = spark.conf
    val prev = conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val prevAqe = conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", prev)
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      // the in-memory catalog forgets tables across JVMs but their
      // directories persist — remove orphans or CTAS refuses the location
      Seq("b_orders", "b_customer").foreach(
        graft.operators.BucketOps.dropTableAndDir(spark, _))
      Tables.orders(spark, Sf0001).write
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .format("parquet").mode("overwrite").saveAsTable("b_orders")
      Tables.customer(spark, Sf0001).write
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .format("parquet").mode("overwrite").saveAsTable("b_customer")

      val joined = spark.table("b_orders")
        .join(spark.table("b_customer"), col("o_custkey") === col("c_custkey"))
      val n = joined.count()
      val plan = joined.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")

      // same answer as the plain (shuffling) join on the raw parquet
      val plainN = Tables.orders(spark, Sf0001)
        .join(Tables.customer(spark, Sf0001), col("o_custkey") === col("c_custkey"))
        .count()
      assert(n === plainN)
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prevAqe)
    }
  }

  test("clearBuilt forces a layout rebuild that answers identically") {
    import graft.operators.BucketOps
    val first = BucketOps.bucketedJoin(spark, Sf0001).collect()
    BucketOps.clearBuilt() // next call must rebuild from scratch, not skip
    val rebuilt = BucketOps.bucketedJoin(spark, Sf0001).collect()
    assert(first.toSeq === rebuilt.toSeq)
  }

  test("concurrent cold b1 calls build the layout once and answer like a sequential call") {
    import graft.operators.BucketOps
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    // every saveAsTable call runs one SaveAsV1TableCommand
    val saves = new java.util.concurrent.atomic.AtomicInteger(0)
    def count(qe: QueryExecution): Unit =
      if (qe.logical.nodeName == "SaveAsV1TableCommand") saves.incrementAndGet(): Unit
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = count(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = count(qe)
    }
    BucketOps.clearBuilt()
    spark.listenerManager.register(listener)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val racers = try {
      val start = new java.util.concurrent.CountDownLatch(4)
      (1 to 4).map(_ => pool.submit(() => {
        start.countDown()
        start.await()
        BucketOps.bucketedJoin(spark, Sf0001).collect().toSeq
      })).map(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      pool.shutdownNow()
      org.apache.spark.TestBus.drain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    // one build writes the two bucketed tables once
    assert(saves.get() === 2, s"${saves.get()} saveAsTable runs")
    val sequential = BucketOps.bucketedJoin(spark, Sf0001).collect().toSeq
    racers.foreach(rows => assert(rows === sequential))
  }

  test("b1 operator joins without any exchange on the bucket key") {
    val conf = spark.conf
    val prev = conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val prevAqe = conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", prev)
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val df = graft.operators.BucketOps.bucketedJoin(spark, Sf0001)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      // the join key must never be shuffled — the only exchanges left
      // are the priority aggregation and the presentation sort
      assert(!plan.contains("hashpartitioning(o_orderkey") &&
        !plan.contains("hashpartitioning(l_orderkey"),
        s"bucketed layout did not remove the key shuffle:\n$plan")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prevAqe)
    }
  }
}
