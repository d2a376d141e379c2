package graft.functions

import java.math.{BigDecimal => JBigDecimal, BigInteger}

import org.apache.spark.QueryContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, DeclarativeAggregate, Sum}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.CurrentOrigin
import org.apache.spark.sql.catalyst.trees.TreePattern.{AGGREGATE_EXPRESSION, BINARY_ARITHMETIC, CAST}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** Exact decimal money math on longs. Every money query casts doubles to
  * `DECIMAL(18,2)`, multiplies and sums them so its answer matches the
  * oracle digit for digit; Spark evaluates each of these per row through
  * `BigDecimal` (`Double.toString` for the cast, a `BigDecimal` product,
  * a `BigInteger` byte array in every sum buffer wider than 18 digits).
  * [[ExactDecimalRule]] swaps in the expressions below, each of which
  * computes on longs where it can prove the result equals Spark's and
  * otherwise runs Spark's own expression, so results, nulls and errors
  * are Spark's bit for bit (`ExactDecimalSpec` pins them).
  *
  * The helpers here are the long arithmetic; generated code calls them
  * as static methods.
  */
object ExactDecimal {
  /** What a fast path returns when it cannot prove its result: the
    * caller then runs Spark's expression. No proven result equals it.
    */
  final val NoFast = Long.MinValue

  // exact: every power of ten up to 10^22 is a double
  private val Pow10D = Array.iterate(1.0, 19)(_ * 10)
  private val Pow10L = Array.iterate(1L, 19)(_ * 10)

  /** `round(d · 10^scale)` when Spark's `cast(d as decimal(precision,
    * scale))` provably equals it, else [[NoFast]]. Spark rounds
    * `Double.toString(d)` HALF_UP to `scale` digits. Any string that
    * parses back to `d` lies within half an ulp of `d`, and when
    * `r / 10^scale` rounds to `d` that grid point lies within half an
    * ulp too; so with `ulp(d) < 0.5 · 10^-scale` the string is nearer
    * than half a unit to `r / 10^scale`, and HALF_UP lands on `r` (no
    * tie, whatever digits the JDK prints). NaN, ±Inf, values too large
    * for that bound, off-grid values and overflows of `precision` fail
    * a check and go to Spark's cast.
    */
  def doubleToUnscaled(d: Double, precision: Int, scale: Int): Long = {
    val f = Pow10D(scale)
    if (!(Math.ulp(d) * f < 0.5)) NoFast
    else {
      val r = Math.round(d * f)
      if (r / f != d || r <= -Pow10L(precision) || r >= Pow10L(precision)) NoFast
      else r
    }
  }

  private def unscaledLong(d: Decimal): Long =
    try d.toUnscaledLong catch { case _: ArithmeticException => NoFast }

  /** The unscaled product of `a` and `b` when both fit a long, their
    * product does too and it has fewer than `precision` digits, else
    * [[NoFast]]. The caller has checked that the product's scale is the
    * result's, so Spark's product rounds nothing.
    */
  def product(a: Decimal, b: Decimal, precision: Int): Long = {
    val x = unscaledLong(a)
    val y = unscaledLong(b)
    if (x == NoFast || y == NoFast) NoFast
    else {
      val lo = x * y
      if (Math.multiplyHigh(x, y) != (lo >> 63)) NoFast
      else if (precision <= Decimal.MAX_LONG_DIGITS &&
               (lo <= -Pow10L(precision) || lo >= Pow10L(precision))) NoFast
      else lo
    }
  }

  /** The low word of `d`'s unscaled value as a two's-complement 128-bit
    * integer.
    */
  def lowWord(d: Decimal): Long = {
    val u = unscaledLong(d)
    if (u != NoFast) u else d.toJavaBigDecimal.unscaledValue.longValue
  }

  /** The high word of `d`'s unscaled value (see [[lowWord]]). */
  def highWord(d: Decimal): Long = {
    val u = unscaledLong(d)
    if (u != NoFast) u >> 63 else d.toJavaBigDecimal.unscaledValue.shiftRight(64).longValue
  }

  // 10^n and -10^n as (high, low) words, n = 0..38
  private val tens = (0 to DecimalType.MAX_PRECISION).map(BigInteger.TEN.pow)
  private val LimHi = tens.map(_.shiftRight(64).longValue).toArray
  private val LimLo = tens.map(_.longValue).toArray
  private val NegHi = tens.map(_.negate.shiftRight(64).longValue).toArray
  private val NegLo = tens.map(_.negate.longValue).toArray

  /** The high word of `a + b` (128-bit pairs), or [[NoFast]] when
    * `|a + b| ≥ 10^digits`, where a decimal sum buffer of `digits`
    * digits overflows. No sum below 10^38 has the high word NoFast.
    */
  def sumHigh(aHi: Long, aLo: Long, bHi: Long, bLo: Long, digits: Int): Long = {
    val lo = aLo + bLo
    val hi = aHi + bHi + (if (java.lang.Long.compareUnsigned(lo, aLo) < 0) 1L else 0L)
    val inRange =
      if (((aHi ^ hi) & (bHi ^ hi)) < 0) false // past 2^127
      else if (hi >= 0)
        hi < LimHi(digits) ||
          (hi == LimHi(digits) && java.lang.Long.compareUnsigned(lo, LimLo(digits)) < 0)
      else
        hi > NegHi(digits) ||
          (hi == NegHi(digits) && java.lang.Long.compareUnsigned(lo, NegLo(digits)) > 0)
    if (inRange) hi else NoFast
  }

  private val TwoTo64 = BigInteger.ONE.shiftLeft(64)

  /** The decimal `(hi, lo) / 10^scale`, built the way Spark reads a
    * wide decimal back from a row, so it is the same `Decimal`.
    */
  def toDecimal(hi: Long, lo: Long, precision: Int, scale: Int): Decimal = {
    val low = if (lo < 0) BigInteger.valueOf(lo).add(TwoTo64) else BigInteger.valueOf(lo)
    val unscaled = BigInteger.valueOf(hi).shiftLeft(64).add(low)
    Decimal(new JBigDecimal(unscaled, scale), precision, scale)
  }

  private[functions] val Helpers = "graft.functions.ExactDecimal"
}

/** A local variable of generated code as an expression: lets a fast
  * path hand the value it already computed to Spark's own expression's
  * generated code, so the slow path never evaluates a child twice.
  */
private case class CodeVar(name: String, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any =
    throw new UnsupportedOperationException("CodeVar exists only in generated code")
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    ExprCode(EmptyBlock, FalseLiteral, JavaCode.variable(name, dataType))
}

private object CodeVar {
  /** The body of a fast-path expression of decimal type: the decimal
    * of the unscaled long `fastCall` (an [[ExactDecimal]] helper call)
    * returns, or, when it returns [[ExactDecimal.NoFast]], the value of
    * Spark's expression `slow` over the same inputs.
    */
  def fastOrSlow(ctx: CodegenContext, ev: ExprCode, nullable: Boolean, fastCall: String,
      slow: Expression): String = {
    val t = slow.dataType.asInstanceOf[DecimalType]
    val u = ctx.freshName("unscaled")
    val sl = slow.genCode(ctx)
    s"""
       |long $u = ${ExactDecimal.Helpers}.$fastCall;
       |if ($u != ${ExactDecimal.NoFast}L) {
       |  ${ev.value} = Decimal.apply($u, ${t.precision}, ${t.scale});
       |} else {
       |  ${sl.code}
       |  ${if (nullable) s"${ev.isNull} = ${sl.isNull};" else ""}
       |  ${ev.value} = ${sl.value};
       |}
     """.stripMargin
  }
}

/** `cast(child as decimal(p, s))` for a double `child` and p ≤ 18: the
  * unscaled long of [[ExactDecimal.doubleToUnscaled]] when it proves
  * one, Spark's `Cast` (same target, time zone and eval mode) otherwise.
  */
case class ExactDoubleToDecimal(
    child: Expression,
    dataType: DecimalType,
    timeZoneId: Option[String],
    evalMode: EvalMode.Value) extends UnaryExpression {

  private def sparkCast(c: Expression): Cast =
    CurrentOrigin.withOrigin(origin)(Cast(c, dataType, timeZoneId, evalMode))

  @transient private lazy val cast = sparkCast(child)

  override def nullable: Boolean = cast.nullable

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else {
      val d = v.asInstanceOf[Double]
      val r = ExactDecimal.doubleToUnscaled(d, dataType.precision, dataType.scale)
      if (r != ExactDecimal.NoFast) Decimal(r, dataType.precision, dataType.scale)
      else sparkCast(Literal(d, DoubleType)).eval()
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, d => {
      val (p, s) = (dataType.precision, dataType.scale)
      CodeVar.fastOrSlow(ctx, ev, nullable, s"doubleToUnscaled($d, $p, $s)",
        sparkCast(CodeVar(d, DoubleType)))
    })

  override def toString: String = s"exact_cast($child as ${dataType.simpleString})"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** A decimal product whose scale is its result's: the long product of
  * [[ExactDecimal.product]] when it proves one, Spark's `Multiply` (same
  * eval context, so the same result type) otherwise.
  */
case class ExactDecimalMultiply(
    left: Expression,
    right: Expression,
    evalContext: NumericEvalContext) extends BinaryExpression {

  private def sparkMultiply(l: Expression, r: Expression): Multiply =
    CurrentOrigin.withOrigin(origin)(Multiply(l, r, evalContext))

  @transient private lazy val multiply = sparkMultiply(left, right)

  override def dataType: DecimalType = multiply.dataType.asInstanceOf[DecimalType]
  override def nullable: Boolean = multiply.nullable

  override def nullSafeEval(a: Any, b: Any): Any = {
    val u = ExactDecimal.product(
      a.asInstanceOf[Decimal], b.asInstanceOf[Decimal], dataType.precision)
    if (u != ExactDecimal.NoFast) Decimal(u, dataType.precision, dataType.scale)
    else sparkMultiply(Literal(a, left.dataType), Literal(b, right.dataType)).eval()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      CodeVar.fastOrSlow(ctx, ev, nullable, s"product($a, $b, ${dataType.precision})",
        sparkMultiply(CodeVar(a, left.dataType), CodeVar(b, right.dataType)))
    })

  override def toString: String = s"exact_multiply($left, $right)"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** One word of a decimal's unscaled value as a 128-bit integer. */
private case class UnscaledWord(child: Expression, high: Boolean) extends UnaryExpression {
  override def dataType: DataType = LongType
  private def method = if (high) "highWord" else "lowWord"
  override def nullSafeEval(v: Any): Any =
    if (high) ExactDecimal.highWord(v.asInstanceOf[Decimal])
    else ExactDecimal.lowWord(v.asInstanceOf[Decimal])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${ExactDecimal.Helpers}.$method($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The high word of the 128-bit sum `(aHi, aLo) + (bHi, bLo)`, null when
  * either high word is null or the sum reaches 10^digits (see
  * [[ExactDecimal.sumHigh]]).
  */
private case class Int128SumHigh(aHi: Expression, aLo: Expression, bHi: Expression, bLo: Expression,
    digits: Int) extends QuaternaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def first: Expression = aHi
  override def second: Expression = aLo
  override def third: Expression = bHi
  override def fourth: Expression = bLo

  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any = {
    val h = ExactDecimal.sumHigh(
      a.asInstanceOf[Long], b.asInstanceOf[Long], c.asInstanceOf[Long], d.asInstanceOf[Long], digits)
    if (h == ExactDecimal.NoFast) null else h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c, d) =>
      s"""
         |${ev.value} = ${ExactDecimal.Helpers}.sumHigh($a, $b, $c, $d, $digits);
         |${ev.isNull} = ${ev.value} == ${ExactDecimal.NoFast}L;
       """.stripMargin)

  override protected def withNewChildrenInternal(first: Expression, second: Expression,
      third: Expression, fourth: Expression): Expression = copy(first, second, third, fourth)
}

/** The decimal of type `dataType` whose unscaled value is `(hi, lo)`. */
private case class Int128Decimal(hi: Expression, lo: Expression, dataType: DecimalType)
  extends BinaryExpression {
  override def left: Expression = hi
  override def right: Expression = lo
  override def nullSafeEval(h: Any, l: Any): Any = ExactDecimal.toDecimal(
    h.asInstanceOf[Long], l.asInstanceOf[Long], dataType.precision, dataType.scale)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (h, l) =>
      s"${ExactDecimal.Helpers}.toDecimal($h, $l, ${dataType.precision}, ${dataType.scale})")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression = copy(newLeft, newRight)
}

/** Spark's `Sum` over a decimal(p, s) with p + 10 > 18, on a 128-bit
  * buffer of two longs (`hi` null once the sum has overflowed) instead
  * of a decimal(p + 10, s) one, which Spark keeps as a `BigInteger` byte
  * array and re-reads as a `BigDecimal` on every row. It converts to a
  * decimal once per group, through Spark's `CheckOverflowInSum`.
  *
  * Semantics are Spark's buffer semantics: the sum is null from the
  * first update or merge whose result reaches 10^(p + 10), as it is in
  * Spark's row buffers; an empty or all-null group is null; an
  * overflowed sum is null without ANSI and the same error under ANSI.
  * (Spark's no-key codegen path keeps its buffer in locals and checks
  * only at the end, so a sum that leaves the range and comes back
  * differs there; that takes 10^10 rows in one task.)
  */
case class LongDecimalSum(child: Expression, evalMode: EvalMode.Value)
  extends DeclarativeAggregate with UnaryLike[Expression] with SupportQueryContext {

  private def inType: DecimalType = child.dataType.asInstanceOf[DecimalType]
  override def dataType: DecimalType =
    DecimalType(math.min(inType.precision + 10, DecimalType.MAX_PRECISION), inType.scale)
  override def nullable: Boolean = true
  override def prettyName: String = "long_decimal_sum"

  private lazy val hi = AttributeReference("hi", LongType)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val isEmpty = AttributeReference("isEmpty", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, isEmpty)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(true))

  private def addLow(a: Expression, b: Expression): Expression =
    Add(a, b, NumericEvalContext(EvalMode.LEGACY)) // wraps, as a low word must

  override lazy val updateExpressions: Seq[Expression] = {
    val (xHi, xLo) = (UnscaledWord(child, high = true), UnscaledWord(child, high = false))
    val newHi = Int128SumHigh(hi, lo, xHi, xLo, dataType.precision)
    val newLo = addLow(lo, xLo)
    if (child.nullable)
      Seq(If(IsNull(child), hi, newHi), If(IsNull(child), lo, newLo), And(isEmpty, IsNull(child)))
    else Seq(newHi, newLo, Literal(false))
  }

  override lazy val mergeExpressions: Seq[Expression] = Seq(
    Int128SumHigh(hi.left, lo.left, hi.right, lo.right, dataType.precision),
    addLow(lo.left, lo.right),
    And(isEmpty.left, isEmpty.right))

  override lazy val evaluateExpression: Expression =
    If(isEmpty, Literal.create(null, dataType),
      CheckOverflowInSum(Int128Decimal(hi, lo, dataType), dataType,
        evalMode != EvalMode.ANSI, getContextOrNull()))

  override def initQueryContext(): Option[QueryContext] =
    if (evalMode == EvalMode.ANSI) Some(origin.context) else None

  override protected def withNewChildInternal(newChild: Expression): LongDecimalSum =
    copy(child = newChild)
}

/** The optimizer rule behind [[ExactDecimal]]. It rewrites
  *  - `Cast(double → decimal(p ≤ 18, s))` to [[ExactDoubleToDecimal]];
  *  - a decimal `Multiply` whose result scale is the sum of its operand
  *    scales (no rounding) to [[ExactDecimalMultiply]];
  *  - in batch `Aggregate`s, a non-distinct decimal `Sum` past Spark's
  *    own long range (`DecimalAggregates` takes p + 10 ≤ 18) to
  *    [[LongDecimalSum]]. Streaming aggregates keep `Sum`, whose buffer
  *    is their state-store schema, and window sums keep it too.
  * Result types are unchanged, so no plan above a rewrite changes.
  */
object ExactDecimalRule extends Rule[LogicalPlan] {

  private val rowRewrites: PartialFunction[Expression, Expression] = {
    case Cast(c, t: DecimalType, tz, mode)
        if c.dataType == DoubleType && t.precision <= Decimal.MAX_LONG_DIGITS =>
      ExactDoubleToDecimal(c, t, tz, mode)
    case m @ Multiply(l, r, ctx) if exactScale(l.dataType, r.dataType, m.dataType) =>
      ExactDecimalMultiply(l, r, ctx)
  }

  private def exactScale(l: DataType, r: DataType, out: DataType): Boolean = (l, r, out) match {
    case (a: DecimalType, b: DecimalType, o: DecimalType) => o.scale == a.scale + b.scale
    case _ => false
  }

  private val batchSums: PartialFunction[Expression, Expression] = {
    case ae @ AggregateExpression(Sum(c, ctx), _, false, _, _)
        if ctx.evalMode != EvalMode.TRY && (c.dataType match {
          case t: DecimalType => t.precision + 10 > Decimal.MAX_LONG_DIGITS
          case _ => false
        }) =>
      ae.copy(aggregateFunction = LongDecimalSum(c, ctx.evalMode))
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsAnyPattern(CAST, BINARY_ARITHMETIC, AGGREGATE_EXPRESSION)) {
      case a: Aggregate if !a.isStreaming => a.transformExpressionsUp(rowRewrites orElse batchSums)
      case p => p.transformExpressionsUp(rowRewrites)
    }
}
