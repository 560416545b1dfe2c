package graft

import org.apache.spark.sql.execution.{GenerateExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.debug
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.AnnOps

/** Codegen health of the PQ codec stages — the round-7 weak finding.
  *
  * The old formulation inlined 8 subspaces × 16 codewords × 8
  * squared-diff terms as literal Catalyst arithmetic: the ADC projection
  * blew janino's method limit (InternalCompilerException → silent
  * interpreted fallback for the whole stage) and the encode's array_sort
  * argmin was a higher-order function, which excludes its projection
  * from whole-stage codegen entirely. Either failure mode makes THE
  * corpus-proportional pass of the index build run interpreted at
  * 100 TB with zero signal — so this spec pins, for both stages, that
  * (a) a WholeStageCodegen span covers the codec Generate and (b) every
  * generated subtree actually compiles, with methods inside the JIT's
  * 8 KB bytecode ceiling. Both assertions fail on the old formulation.
  */
class CodegenHealthSpec extends AnyFunSuite with SparkSpec {

  private def withAqeOff[T](f: => T): T = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try f finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("PQ encode and ADC stages stay inside whole-stage codegen and compile") {
    // a suite that ran earlier may have persisted this dir's
    // ann_pq_codes/ann_quantized substrates (e11/e18 do); the cache
    // manager would then serve the encode plan AS an InMemoryTableScan
    // and hide the very codegen span this spec exists to pin — drop
    // the memo so the plan builds fresh (substrates re-persist on next
    // use; rebuild is deterministic by design)
    operators.DedupOps.clearMemo(spark, Sf0001)
    withAqeOff {
      Seq("encode" -> AnnOps.pqEncodePlan(spark, Sf0001),
          "adc" -> AnnOps.pqAdcPlan(spark, Sf0001)).foreach { case (name, df) =>
        val plan = df.queryExecution.executedPlan
        val wscg = plan.collect { case w: WholeStageCodegenExec => w }
        assert(wscg.exists(_.collectFirst { case g: GenerateExec => g }.nonEmpty),
          s"$name: no WholeStageCodegen span covers the codec Generate:\n$plan")
        // debug.codegenStringSeq compiles every codegen subtree and
        // reports ByteCodeStats(-1, ...) where janino failed
        val stats = debug.codegenStringSeq(plan)
        assert(stats.nonEmpty, s"$name: no codegen subtrees found")
        stats.foreach { case (subtree, _, s) =>
          assert(s.maxMethodCodeSize > 0,
            s"$name: generated code failed to compile:\n$subtree")
          assert(s.maxMethodCodeSize <= 8000,
            s"$name: max method bytecode ${s.maxMethodCodeSize} exceeds the 8 KB JIT ceiling")
        }
      }
    }
  }

  test("native PQ codec equals the built-ins fallback bit-for-bit") {
    val qv = Tables.embeddings(spark, Sf0001)
      .select(graft.functions.F.quantize(col("embedding")).as("q"))
    val (nc, fc, na, fa) = AnnOps.pqCodecColumnsForTest(col("q"))
    val bad = qv.select(nc.as("nc"), fc.as("fc"), na.as("na"), fa.as("fa"))
      .filter(not(col("nc") === col("fc")) || not(col("na") === col("fa")))
      .count()
    assert(bad === 0L)
  }
}
