package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.dsl.expressions._
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** r17 hot-path fix for the statistics tier (opt guide §4: eliminate
  * non-codegen work in the per-row path).
  *
  * The tier's exact moments were spelled `sum(x.cast(DECIMAL(28,s)))`:
  * order-independent and exact, but every UPDATE of a >18-digit decimal
  * buffer round-trips a java.math.BigDecimal through UnsafeRow bytes —
  * measured ~0.3 s per aggregate column per 600k rows at sf0.1 (OPTIMIZATION_r17.md:
  * five decimal sums 1.81 s vs five double sums 0.27 s over the same
  * scan; the double→decimal CAST itself is ~free).
  *
  * The replacement keeps the arithmetic EXACT and the decimal rounding
  * IDENTICAL: cast to the compact DECIMAL(18,s) (same setScale(s,
  * HALF_UP) value as the (28,s) cast whenever |x| < 10^(18-s), which
  * every call site bounds by construction), take the unscaled int64
  * ([[UnscaledLong]], codegen), and accumulate it into a 128-bit (hi,
  * lo) integer buffer ([[Int128SumAgg]], a DeclarativeAggregate over two
  * primitive longs — whole-stage-codegen-able in HashAggregateExec) —
  * pure long arithmetic per row, exact to 2^127 ≈ 1.7e38 (the same
  * headroom DECIMAL(38,s) gives the old spelling), emitted once per
  * group as DECIMAL(38,s). Sum-identical by integer arithmetic;
  * Int128SumSpec pins it against sum(cast) on fuzzed data including
  * nulls, negatives and empty groups.
  */
case class UnscaledLong(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(DecimalType)
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case d: DecimalType if d.precision <= Decimal.MAX_LONG_DIGITS =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"unscaled_long needs a compact decimal (precision <= 18), got $other")
  }

  protected override def nullSafeEval(input: Any): Any =
    input.asInstanceOf[Decimal].toUnscaledLong

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$c.toUnscaledLong()")

  override protected def withNewChildInternal(newChild: Expression): UnscaledLong =
    copy(child = newChild)
}

/** (hi, lo) two's-complement 128-bit → DECIMAL(38, scale); evaluated once
  * per group at aggregate finish. */
case class Int128ToDecimal(hi: Expression, lo: Expression, scale: Int)
  extends BinaryExpression with ExpectsInputTypes {

  override def left: Expression = hi
  override def right: Expression = lo
  override def inputTypes = Seq(LongType, LongType)
  override def dataType: DataType = DecimalType(38, scale)

  protected override def nullSafeEval(h: Any, l: Any): Any =
    Int128ToDecimal.toDecimal(h.asInstanceOf[Long], l.asInstanceOf[Long], scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (h, l) =>
      s"graft.functions.Int128ToDecimal.toDecimal($h, $l, $scale)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Int128ToDecimal =
    copy(hi = newLeft, lo = newRight)
}

object Int128ToDecimal {
  /** Static codegen target: big-endian two's complement (hi, lo). */
  def toDecimal(hi: Long, lo: Long, scale: Int): Decimal = {
    val bytes = java.nio.ByteBuffer.allocate(16).putLong(hi).putLong(lo).array()
    Decimal(new java.math.BigDecimal(new java.math.BigInteger(bytes), scale),
      38, scale)
  }
}

/** Exact sum of unscaled int64 values in a 128-bit two's-complement
  * (hi, lo) primitive buffer; result DECIMAL(38, `scale`) with plain SUM
  * null semantics (null for an empty / all-null group). The carry math
  * needs WRAPPING long adds, so every Add is constructed in LEGACY eval
  * mode explicitly — correctness must not depend on the session's ANSI
  * setting. */
case class Int128SumAgg(child: Expression, scale: Int)
  extends DeclarativeAggregate with ExpectsInputTypes {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = DecimalType(38, scale)
  override def inputTypes = Seq(LongType)
  override def prettyName: String = "int128_sum"

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val empty = AttributeReference("empty", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(hi, lo, empty)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(true))

  private def ladd(a: Expression, b: Expression): Expression =
    Add(a, b, EvalMode.LEGACY)

  /** carry-out of unsigned (a + b = s): ((a & b) | ((a | b) & ~s)) >>> 63 */
  private def carry(a: Expression, b: Expression, s: Expression): Expression =
    ShiftRightUnsigned(
      BitwiseOr(BitwiseAnd(a, b), BitwiseAnd(BitwiseOr(a, b), BitwiseNot(s))),
      Literal(63))

  /** (hi, lo) += (uhi, ulo), all wrapping. */
  private def add128(h: Expression, l: Expression,
      uhi: Expression, ulo: Expression): (Expression, Expression) = {
    val newLo = ladd(l, ulo)
    val newHi = ladd(ladd(h, uhi), carry(l, ulo, newLo))
    (newHi, newLo)
  }

  override lazy val updateExpressions: Seq[Expression] = {
    // a null input adds 0 (identity) and leaves `empty` untouched — the
    // SUM null contract without a branch in the hot loop
    val u = Coalesce(Seq(child, Literal(0L)))
    val (nh, nl) = add128(hi, lo, ShiftRight(u, Literal(63)), u)
    Seq(nh, nl, And(empty, IsNull(child)))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    // an empty side carries (0, 0): adding it is the identity, so the
    // merge needs no emptiness branch beyond AND-ing the flags
    val (nh, nl) = add128(hi.left, lo.left, hi.right, lo.right)
    Seq(nh, nl, And(empty.left, empty.right))
  }

  override lazy val evaluateExpression: Expression =
    If(empty, Literal(null, DecimalType(38, scale)),
      Int128ToDecimal(hi, lo, scale))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Int128SumAgg =
    copy(child = newChildren(0))
}
