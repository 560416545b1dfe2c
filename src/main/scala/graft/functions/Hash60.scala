package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Cast, Conv, Expression, Literal, Md5, Substring, UnaryExpression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, LongType}

/** The engine's universal portable hash — `F.hash60` (top 60 bits of
  * the md5 digest as a non-negative int64) — as a native Catalyst
  * expression with whole-stage codegen.
  *
  * The portable formulation
  * `cast(conv(substring(md5(x), 1, 15), 16, 10) as bigint)` is on the
  * hot path of nearly every corpus operator (shingle hashes feeding
  * MinHash/SimHash, fingerprints, stratified/weighted/split sampling
  * predicates, Count-Min cells, hyperplane projections). Per row it
  * materializes a 32-char hex string, substrings it, and re-parses the
  * 15-char prefix through two radix conversions. This expression
  * computes the same value straight off the digest bytes — the first 8
  * bytes big-endian, shifted right 4 — with one ThreadLocal
  * MessageDigest per task thread and no intermediate strings.
  *
  * Bit-equality with the portable form (and therefore with the DuckDB
  * oracle and `F.hash60Driver`) is pinned by spec: 15 hex chars = the
  * top 60 bits of the digest, which is exactly
  * `(bytes[0..7] big-endian) >>> 4`. Null in → null out, same as the
  * built-in chain. */
case class Hash60(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_hash60 requires binary input, got $other")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hash60"

  override def nullSafeEval(input: Any): Any =
    Hash60.hash(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Hash60.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): Hash60 =
    copy(child = newChild)
}

object Hash60 {
  // digest() resets the instance, so one per task thread is safe and
  // avoids a MessageDigest allocation per row
  private val md = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** Top 60 bits of md5(bytes) — the value of
    * `parseLong(md5Hex(bytes).substring(0, 15), 16)`. */
  def hash(bytes: Array[Byte]): Long = {
    val d = md.get().digest(bytes)
    val top =
      ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
      ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
      ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    top >>> 4
  }
}

/** Optimizer rule: rewrite the portable hash60 chain
  *
  *   cast(conv(substring(md5(b), 1, 15), 16, 10) as bigint)
  *
  * into the native [[Hash60]] — so every operator written against
  * `F.hash60` (and any user code spelling the same pattern) gets the
  * string-free digest path automatically, with results bit-identical
  * to the built-ins (which stay the portable, oracle-side spelling) —
  * the [[DotProductRewrite]] contract applied to hashing.
  *
  * The match is deliberately EXACT on the constant arguments
  * (substring(_, 1, 15), bases 16 → 10, target bigint): any other
  * offsets/widths/bases are someone else's expression and are left
  * untouched. The Cast's eval mode is NOT bound: the parsed value is
  * always ≤ 2^60 and all-digits, so LEGACY/ANSI/TRY casts of it are
  * indistinguishable. Conv's ansi flag likewise cannot fire on a
  * 15-hex-digit input (no overflow, no malformed digits). */
object Hash60Rewrite extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case Cast(
          Conv(Substring(Md5(b),
              Literal(1, IntegerType), Literal(15, IntegerType)),
            Literal(16, IntegerType), Literal(10, IntegerType), _),
          LongType, _, _) =>
      Hash60(b)
  }
}
