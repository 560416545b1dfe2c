package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, EvalMode, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.{ArrayData, MathUtils}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Exact int64 dot product of two array<bigint> columns as a native
  * Catalyst expression with whole-stage codegen.
  *
  * This is the hot inner loop of every embedding operator (cosine
  * scoring in e1/e2/e3 and the hyperplane sign codes): the built-in
  * formulation `aggregate(zip_with(a, b, _*_), 0, _+_)` allocates an
  * intermediate array and interprets two lambdas per element, while this
  * compiles to a tight primitive `long` loop inside the generated stage
  * — no allocation, no virtual calls. Semantics are identical (exact
  * integer arithmetic), so the DuckDB oracle is unaffected.
  *
  * Null behavior EXACTLY mirrors the built-in formulation: null if
  * either array is null, if the lengths differ (zip_with pads the
  * shorter side with nulls), or if any element is null (a null product
  * nulls the running sum) — so the native expression and the built-in
  * it replaces can never diverge.
  *
  * OVERFLOW behavior follows `mode`, mirroring the three eval modes the
  * built-in arithmetic can carry: LEGACY wraps (Java long semantics),
  * ANSI throws Spark's standard ARITHMETIC_OVERFLOW error (via
  * MathUtils, so error-class matchers see the same SparkThrowable as
  * for built-in `*`/`+`), TRY yields null. The optimizer rewrite
  * propagates the mode it matched, and the SQL-function builder derives
  * the mode from the session's ANSI conf at resolution time — so
  * rewritten or explicit, the same query has the same overflow
  * semantics as the built-in.
  *
  * The match is exact even on null-result inputs: zip_with is EAGER, so
  * the built-in evaluates the product of every index where both
  * elements are non-null below min(len) — a mismatched-length or
  * null-containing pair of arrays whose OTHER pairs overflow still
  * throws under ANSI. Non-LEGACY modes therefore keep multiplying past
  * a seen null (accumulating only the prefix sums the built-in's
  * left-fold would compute, since `null + x` is null without an
  * overflow check) instead of short-circuiting; LEGACY, where wrapping
  * arithmetic can never throw, keeps the early-out fast path — the
  * null-vs-value result is identical either way there.
  */
case class LongDotProduct(left: Expression, right: Expression,
    mode: EvalMode.Value = EvalMode.LEGACY)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_dot_long requires (array<bigint>, array<bigint>), got ($l, $r)")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dot_long"

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    var acc = 0L
    var i = 0
    if (mode == EvalMode.LEGACY) {
      // wrapping arithmetic never throws, so the early-out is invisible
      if (nx != ny) return null
      while (i < nx) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        acc += x.getLong(i) * y.getLong(i)
        i += 1
      }
    } else {
      // zip_with is eager: every both-non-null pair below min(len) is
      // multiplied (and may overflow) even when the overall result is
      // null; the left-fold sum only runs until the first null product
      val n = math.min(nx, ny)
      var nullSeen = false
      try {
        while (i < n) {
          if (x.isNullAt(i) || y.isNullAt(i)) nullSeen = true
          else {
            // MathUtils raises Spark's ARITHMETIC_OVERFLOW SparkThrowable
            // (a java.lang.ArithmeticException subclass), matching what the
            // built-in ANSI arithmetic raises
            val p = MathUtils.multiplyExact(x.getLong(i), y.getLong(i))
            if (!nullSeen) acc = MathUtils.addExact(p, acc)
          }
          i += 1
        }
      } catch {
        case e: ArithmeticException =>
          if (mode == EvalMode.TRY) return null else throw e
      }
      if (nullSeen || nx != ny) return null
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      // freshName, NOT fixed names: a query evaluating this expression
      // more than once in the same stage (cosine = three dot products)
      // would otherwise redeclare `i`/`n`/`acc`, fail Janino compilation,
      // and silently drop the whole stage to interpreted execution
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      if (mode == EvalMode.LEGACY) {
        // wrapping arithmetic never throws → early-out is invisible
        s"""
           |if ($x.numElements() != $y.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  int $n = $x.numElements();
           |  long $acc = 0L;
           |  for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
           |    if ($x.isNullAt($i) || $y.isNullAt($i)) {
           |      ${ev.isNull} = true;
           |    } else {
           |      $acc += $x.getLong($i) * $y.getLong($i);
           |    }
           |  }
           |  ${ev.value} = $acc;
           |}
         """.stripMargin
      } else {
        // eager-zip_with parity: multiply EVERY both-non-null pair below
        // min(len) (overflow can still throw when the result is null);
        // sum only the prefix before the first null product
        val nx = ctx.freshName("nx")
        val ny = ctx.freshName("ny")
        val ns = ctx.freshName("nullSeen")
        val p = ctx.freshName("p")
        val mu = "org.apache.spark.sql.catalyst.util.MathUtils"
        val loop =
          s"""
             |int $nx = $x.numElements();
             |int $ny = $y.numElements();
             |int $n = $nx < $ny ? $nx : $ny;
             |long $acc = 0L;
             |boolean $ns = false;
             |for (int $i = 0; $i < $n; $i++) {
             |  if ($x.isNullAt($i) || $y.isNullAt($i)) {
             |    $ns = true;
             |  } else {
             |    long $p = $mu.multiplyExact($x.getLong($i), $y.getLong($i));
             |    if (!$ns) $acc = $mu.addExact($p, $acc);
             |  }
             |}
             |${ev.isNull} = $ns || $nx != $ny;
             |${ev.value} = $acc;
           """.stripMargin
        if (mode == EvalMode.TRY)
          s"""
             |try {
             |$loop
             |} catch (ArithmeticException e) {
             |  ${ev.isNull} = true;
             |}
           """.stripMargin
        else loop
      }
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongDotProduct =
    copy(left = newLeft, right = newRight)
}

/** Session extension registering graft's native functions, the
  * TopKPerKey planner strategy and the two rewrite rules — wire with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * ([[graft.GraftSession]] always does). It is REQUIRED: operators call
  * the `graft_*` functions and plan `TopKPerKey` unconditionally, so in
  * a session built without it a query fails at analysis naming the
  * missing `graft_*` function, or at planning on the unplanned
  * `TopKPerKey` node. The built-in formulations the specs compare
  * against ([[F.dotQ]], the declarative sketches, the window top-k) are
  * references, never selected at run time. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_dot_long"),
      new ExpressionInfo(classOf[LongDotProduct].getName, "graft_dot_long"),
      // overflow mode follows the session's ANSI conf at resolution
      // time, so graft_dot_long(a, b) (F.dotLong) and the built-in
      // F.dotQ formulation can never diverge on overflow
      (children: Seq[Expression]) => LongDotProduct(children.head, children(1),
        EvalMode.fromSQLConf(SQLConf.get))))
    ext.injectFunction((
      new FunctionIdentifier("graft_simhash_agg"),
      new ExpressionInfo(classOf[SimHashAgg].getName, "graft_simhash_agg"),
      (children: Seq[Expression]) => SimHashAgg(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_minhash_agg"),
      new ExpressionInfo(classOf[MinHashAgg].getName, "graft_minhash_agg"),
      (children: Seq[Expression]) => MinHashAgg(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_kmv_agg"),
      new ExpressionInfo(classOf[KmvAgg].getName, "graft_kmv_agg"),
      (children: Seq[Expression]) => KmvAgg(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_hash60"),
      new ExpressionInfo(classOf[Hash60].getName, "graft_hash60"),
      (children: Seq[Expression]) => Hash60(children.head)))
    // PQ codec: constant-size generated loops for the e6/e10-e14 encode
    // and ADC-table stages (vs. the literal-expansion formulation that
    // blew janino's method limit and fell out of codegen)
    ext.injectFunction((
      new FunctionIdentifier("graft_pq_encode"),
      new ExpressionInfo(classOf[PqEncode].getName, "graft_pq_encode"),
      (children: Seq[Expression]) => PqEncode(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_pq_adc"),
      new ExpressionInfo(classOf[PqAdcDists].getName, "graft_pq_adc"),
      (children: Seq[Expression]) => PqAdcDists(children.head, children(1))))
    ext.injectPlannerStrategy(_ => new graft.plans.TopKPerKeyStrategy)
    // optimizer rules: auto-rewrite the portable aggregate(zip_with(...))
    // dot product and the portable md5-hash60 chain into the native
    // codegen'd expressions
    ext.injectOptimizerRule(_ => DotProductRewrite)
    ext.injectOptimizerRule(_ => Hash60Rewrite)
  }
}
