package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Shared plumbing of the product-quantization codec expressions
  * (graft_pq_encode / graft_pq_adc): left child is a quantized vector
  * (array<bigint>, length M·SubDim), right child is the FOLDABLE
  * codebook literal (array<array<array<bigint>>>, [m][k][d]) — evaluated
  * once at plan time into a primitive long[][][] that both the
  * interpreted path and the generated code index directly.
  *
  * Why native expressions at all: the e6 PQ encode is the one
  * corpus-proportional pass of the ANN index build. Inlining the
  * 8 subspaces × 16 codewords × 8 squared-diff terms as literal Catalyst
  * arithmetic put thousands of expression nodes into a single generated
  * `doConsume`, blowing janino's 64 KB method limit — Spark silently
  * fell back to interpreted execution for the whole stage (the round-7
  * weak finding). These expressions generate a constant-size nested
  * loop instead, so the encode stage stays inside whole-stage codegen
  * regardless of codebook geometry (pinned by CodegenHealthSpec).
  *
  * Exactness contract: pure int64 arithmetic, Σ(x−c)² per (m,k). With
  * milli-unit quantized inputs (|x| ≤ ~1e6) and codewords in
  * [−1000, 1000], each subspace distance is ≤ ~3.3e13 — far inside
  * int64, so wrap-vs-ANSI overflow modes cannot diverge on any real
  * input; the values are bit-identical to the built-ins-only reference
  * formulation in AnnOps (spec-pinned) and to the DuckDB oracle's SQL
  * regeneration of the same codebook.
  *
  * Null contract (both expressions): null if the vector is null, its
  * length differs from M·SubDim, or any element is null. The reference
  * formulation only meets this contract on well-formed inputs
  * (quantize() output is always non-null and full-width); malformed
  * vectors are outside the supported surface, as documented there.
  */
abstract class PqCodebookExpression extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(ArrayType(ArrayType(LongType, _), _), _))
          if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, foldable array<array<array<bigint>>>), got ($l, $r)")
    }

  override def nullable: Boolean = true

  /** The codebook literal, materialized once per plan. */
  @transient protected final lazy val cb: Array[Array[Array[Long]]] = {
    val a = right.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(a.numElements()) { m =>
      val am = a.getArray(m)
      Array.tabulate(am.numElements())(k => am.getArray(k).toLongArray())
    }
  }
  protected final def mCount: Int = cb.length
  protected final def kCount: Int = cb(0).length
  protected final def subDim: Int = cb(0)(0).length

  /** Shared null/shape guard + generated-loop scaffolding: emits code
    * that validates the vector, then splices `body` with `vec` bound to
    * the ArrayData and `cbRef` to the long[][][] reference object. */
  protected final def guardedGen(ctx: CodegenContext, ev: ExprCode, vec: String)(
      body: String => String): String = {
    val cbRef = ctx.addReferenceObj("pqcb", cb, "long[][][]")
    val total = mCount * subDim
    val i = ctx.freshName("i")
    val bad = ctx.freshName("bad")
    s"""
       |boolean $bad = $vec.numElements() != $total;
       |for (int $i = 0; !$bad && $i < $total; $i++) {
       |  if ($vec.isNullAt($i)) $bad = true;
       |}
       |if ($bad) {
       |  ${ev.isNull} = true;
       |} else {
       |  ${body(cbRef)}
       |}
     """.stripMargin
  }

  /** Interpreted-path guard: null unless well-formed. */
  protected final def wellFormed(x: ArrayData): Boolean = {
    val total = mCount * subDim
    if (x.numElements() != total) return false
    var i = 0
    while (i < total) {
      if (x.isNullAt(i)) return false
      i += 1
    }
    true
  }
}

/** graft_pq_encode(vec, codebook) → array<int> of length M: the PQ
  * codeword (argmin_k Σ_d (vec[m·SubDim+d] − cb[m][k][d])²) per
  * subspace, ties toward the smaller k (strict-< keeps the first
  * minimum — identical to the reference's array_position-of-array_min
  * and to the oracle's (dist, k) struct-min). One constant-size nested
  * loop map-side: the zero-shuffle encode the IVF+PQ index build
  * (AnnOps e6/e10–e14) runs over the whole corpus. */
case class PqEncode(left: Expression, right: Expression) extends PqCodebookExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_pq_encode"

  override def nullSafeEval(vecAny: Any, cbAny: Any): Any = {
    val x = vecAny.asInstanceOf[ArrayData]
    if (!wellFormed(x)) return null
    val codes = new Array[Int](mCount)
    var m = 0
    while (m < mCount) {
      val cbm = cb(m)
      var best = Long.MaxValue
      var bi = 0
      var k = 0
      while (k < cbm.length) {
        val c = cbm(k)
        var d = 0L
        var j = 0
        while (j < subDim) {
          val diff = x.getLong(m * subDim + j) - c(j)
          d += diff * diff
          j += 1
        }
        if (d < best) { best = d; bi = k }
        k += 1
      }
      codes(m) = bi
      m += 1
    }
    UnsafeArrayData.fromPrimitiveArray(codes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (vec, _) => guardedGen(ctx, ev, vec) { cbRef =>
      val codes = ctx.freshName("codes")
      val m = ctx.freshName("m")
      val k = ctx.freshName("k")
      val j = ctx.freshName("j")
      val best = ctx.freshName("best")
      val bi = ctx.freshName("bi")
      val dAcc = ctx.freshName("dAcc")
      val diff = ctx.freshName("diff")
      val cbm = ctx.freshName("cbm")
      val cw = ctx.freshName("cw")
      s"""
         |int[] $codes = new int[$mCount];
         |for (int $m = 0; $m < $mCount; $m++) {
         |  long[][] $cbm = $cbRef[$m];
         |  long $best = Long.MAX_VALUE;
         |  int $bi = 0;
         |  for (int $k = 0; $k < $cbm.length; $k++) {
         |    long[] $cw = $cbm[$k];
         |    long $dAcc = 0L;
         |    for (int $j = 0; $j < $subDim; $j++) {
         |      long $diff = $vec.getLong($m * $subDim + $j) - $cw[$j];
         |      $dAcc += $diff * $diff;
         |    }
         |    if ($dAcc < $best) { $best = $dAcc; $bi = $k; }
         |  }
         |  $codes[$m] = $bi;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($codes);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** graft_pq_adc(vec, codebook) → array<bigint> of length M·K: the full
  * asymmetric-distance lookup table of one query vector, flat in
  * (m·K + k) order — Σ_d (vec[m·SubDim+d] − cb[m][k][d])² for every
  * (subspace, codeword). Feeds the per-query ADC table of the e6 query
  * pipeline via one posexplode (pos div K = m, pos mod K = k). */
case class PqAdcDists(left: Expression, right: Expression) extends PqCodebookExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_pq_adc"

  override def nullSafeEval(vecAny: Any, cbAny: Any): Any = {
    val x = vecAny.asInstanceOf[ArrayData]
    if (!wellFormed(x)) return null
    val out = new Array[Long](mCount * kCount)
    var m = 0
    while (m < mCount) {
      val cbm = cb(m)
      var k = 0
      while (k < cbm.length) {
        val c = cbm(k)
        var d = 0L
        var j = 0
        while (j < subDim) {
          val diff = x.getLong(m * subDim + j) - c(j)
          d += diff * diff
          j += 1
        }
        out(m * kCount + k) = d
        k += 1
      }
      m += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (vec, _) => guardedGen(ctx, ev, vec) { cbRef =>
      val out = ctx.freshName("out")
      val m = ctx.freshName("m")
      val k = ctx.freshName("k")
      val j = ctx.freshName("j")
      val dAcc = ctx.freshName("dAcc")
      val diff = ctx.freshName("diff")
      val cbm = ctx.freshName("cbm")
      val cw = ctx.freshName("cw")
      s"""
         |long[] $out = new long[$mCount * $kCount];
         |for (int $m = 0; $m < $mCount; $m++) {
         |  long[][] $cbm = $cbRef[$m];
         |  for (int $k = 0; $k < $cbm.length; $k++) {
         |    long[] $cw = $cbm[$k];
         |    long $dAcc = 0L;
         |    for (int $j = 0; $j < $subDim; $j++) {
         |      long $diff = $vec.getLong($m * $subDim + $j) - $cw[$j];
         |      $dAcc += $diff * $diff;
         |    }
         |    $out[$m * $kCount + $k] = $dAcc;
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
