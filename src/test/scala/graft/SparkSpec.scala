package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** Shared local test session — one per JVM (suites run sequentially,
  * see build.sbt Test / parallelExecution). */
trait SparkSpec { self: Suite =>
  lazy val spark: SparkSession =
    // Bench's session (GraftSession), with local[threads, maxFailures]:
    // 2 attempts per task, so the transient-fault injection test
    // (DeterminismSpec) exercises Spark's REAL retry machinery instead
    // of failing the job — behavior is identical to local[4] unless a
    // task throws
    GraftSession(Sf001, threads = 4, master = Some("local[4, 2]"),
      conf = Seq("spark.sql.warehouse.dir" -> "target/spark-warehouse"))

  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"

  /** The LocalDate of a collected timestamp-ish column, whatever
    * JVM type the testdata's CURRENT physical parquet type collects
    * as — the driver regenerates the testdata each round and has
    * shipped date columns as both TIMESTAMP (java.sql.Timestamp) and
    * TIMESTAMP_NTZ (LocalDateTime). Operators adapt via Tables'
    * family conformance; driver-side spec recomputations must adapt
    * here, not hard-cast (the q29/q30 round-11 lesson). All testdata
    * instants are calendar dates under the UTC session zone. */
  def localDateOf(v: Any): java.time.LocalDate = v match {
    case t: java.sql.Timestamp => t.toLocalDateTime.toLocalDate
    case d: java.time.LocalDateTime => d.toLocalDate
    case i: java.time.Instant => i.atZone(java.time.ZoneOffset.UTC).toLocalDate
    case d: java.sql.Date => d.toLocalDate
    case d: java.time.LocalDate => d
    case other => sys.error(s"not a timestamp/date value: $other (${other.getClass})")
  }

  /** Every physical node of an EXECUTED plan, descending through the
    * AQE wrapper and materialized query stages (plain `.collect` on an
    * AdaptiveSparkPlanExec sees only the wrapper). */
  def planNodes(df: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case other => other.children
      }
      p +: inner.flatMap(flatten)
    }
    flatten(df.queryExecution.executedPlan)
  }
}
