package graft.functions

import org.apache.spark.sql.catalyst.expressions.{
  Add, And, AttributeReference, BitwiseAnd, BitwiseNot, BitwiseOr, EqualTo,
  Expression, EvalMode, GreaterThan, GreaterThanOrEqual, If, IsNull,
  LessThan, LessThanOrEqual, Literal, Multiply, Not, Or, ShiftRightUnsigned}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType,
  LongType}

/** Exact Σ x·y over scale-6 FIXED-POINT factors, accumulated in a
  * two-long 128-bit integer — the codegen replacement for
  * `sum(xd * yd)` where `xd`/`yd` are `DECIMAL(18,6)` casts of the
  * inputs (VERDICT r14 item 3: the product moments of
  * [[WarpAggregates]]' bivariate statistics).
  *
  * Inputs are the UNSCALED LONGS of the `DECIMAL(18,6)` factors (the
  * caller quantizes with the exact same `cast` construct and extracts
  * the unscaled value), so each product `x6·y6` is the scale-12 unscaled
  * value of the decimal product — EXACTLY the term the decimal
  * formulation sums, but the accumulation is two primitive longs
  * (hi·2⁶⁴ + lo, two's complement) updated with wrapping long arithmetic
  * and an explicit carry, instead of a per-row `BigDecimal` allocate +
  * add on a precision-38 buffer.
  *
  * The final value reconstructs the exact 128-bit integer, scales it by
  * 10⁻¹², and converts once per GROUP to the nearest binary64 — the
  * identical correctly-rounded conversion `CAST(DECIMAL(38,12) AS
  * DOUBLE)` performs, so results are bit-identical to the decimal
  * formulation (pinned by spec against the inline decimal form).
  *
  * Domain: |Σ x6·y6| < 10³⁸, the DECIMAL(38,12) accumulator's precision
  * bound. The decimal sum writes its buffer after every row and every
  * merge, and a buffer value of 39 digits becomes NULL (ANSI off) or raises
  * (ANSI on). The accumulator checks the same bound at the same steps, in
  * update and in merge, and marks the group, which then evaluates to NULL or
  * raises `Sum`'s own `ARITHMETIC_OVERFLOW` by the ANSI mode read when the
  * expression is built, as `Sum` reads it. A merge of two in-bound partials
  * can pass 2¹²⁷ ≈ 1.7e38, so signed overflow of the accumulator (same-sign
  * operands, flipped-sign result) is detected too.
  *
  * Null contract = `sum()`: null inputs are skipped; a group with no
  * non-null input evaluates to NULL. The callers null BOTH factors
  * together (the domain gate), so x/y null-ness always agrees.
  */
case class SumProduct128(left: Expression, right: Expression,
                         ansi: Boolean = SQLConf.get.ansiEnabled)
    extends DeclarativeAggregate with BinaryLike[Expression] {

  override def prettyName: String = "sum_product_128"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  def inputTypes: Seq[DataType] = Seq(LongType, LongType)

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val cnt = AttributeReference("cnt", LongType, nullable = false)()
  private lazy val bad =
    AttributeReference("bad", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes = Seq(hi, lo, cnt, bad)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(0L), Literal(false))

  // wrapping (LEGACY) long arithmetic: the 128-bit circuit NEEDS the
  // wrap-around semantics ANSI mode would reject
  private def wadd(a: Expression, b: Expression) =
    Add(a, b, EvalMode.LEGACY)
  private def wmul(a: Expression, b: Expression) =
    Multiply(a, b, EvalMode.LEGACY)

  /** carry-out of the unsigned 64-bit add `a + b = s`:
    * (a∧b) ∨ ((a∨b) ∧ ¬s), sign bit. */
  private def carry(a: Expression, b: Expression, s: Expression) =
    ShiftRightUnsigned(
      BitwiseOr(BitwiseAnd(a, b), BitwiseAnd(BitwiseOr(a, b), BitwiseNot(s))),
      Literal(63)).asInstanceOf[Expression]

  private def nonNeg(e: Expression) = GreaterThanOrEqual(e, Literal(0L))

  /** the unsigned order of a low word, as a signed long */
  private def unsigned(e: Expression) = wadd(e, Literal(Long.MinValue))

  /** |hi·2⁶⁴ + lo| ≥ 10³⁸: past DECIMAL(38,12)'s 38 digits. */
  private def pastDecimal(h: Expression, l: Expression) = {
    val (pHi, pLo) = (5421010862427522170L, 687399551400673280L)    // 10³⁸
    val (nHi, nLo) = (-5421010862427522171L, -687399551400673280L)  // −10³⁸
    Or(
      Or(GreaterThan(h, Literal(pHi)), And(EqualTo(h, Literal(pHi)),
        GreaterThanOrEqual(unsigned(l), Literal(pLo + Long.MinValue)))),
      Or(LessThan(h, Literal(nHi)), And(EqualTo(h, Literal(nHi)),
        LessThanOrEqual(unsigned(l), Literal(nLo + Long.MinValue)))))
  }

  /** signed-128 add (ah,al) + (bh,bl) → (hi, lo, out of domain). */
  private def add128(ah: Expression, al: Expression,
                     bh: Expression, bl: Expression) = {
    val sLo = wadd(al, bl)
    val sHi = wadd(wadd(ah, bh), carry(al, bl, sLo))
    // same-signed operands with a flipped-sign result ⇒ signed overflow
    val ovf = And(EqualTo(nonNeg(ah), nonNeg(bh)),
      Not(EqualTo(nonNeg(sHi), nonNeg(ah))))
    (sHi, sLo, Or(ovf, pastDecimal(sHi, sLo)))
  }

  override lazy val updateExpressions: Seq[Expression] = {
    // UNCONDITIONAL update: nulls coalesce to 0, whose product contributes
    // nothing to (hi, lo) and can never overflow — an exact no-op. Keeping
    // the circuit OUT of If branches matters: subexpression elimination
    // does not hoist branch-guarded subtrees, so an If-guarded form
    // re-evaluates the (expensive, BigDecimal-allocating) quantized input
    // casts once per buffer slot per row — measured 2.6x SLOWER than the
    // decimal sum it replaces. The unconditional form evaluates each
    // input once per row and the whole circuit is shared across slots.
    val xn = org.apache.spark.sql.catalyst.expressions.Coalesce(
      Seq(left, Literal(0L)))
    val yn = org.apache.spark.sql.catalyst.expressions.Coalesce(
      Seq(right, Literal(0L)))
    val pLo = wmul(xn, yn)
    val pHi = StaticInvoke(classOf[java.lang.Math], LongType, "multiplyHigh",
      Seq(xn, yn), Seq(LongType, LongType), returnNullable = false)
    val (nHi, nLo, ovf) = add128(hi, lo, pHi, pLo)
    val one = If(Or(IsNull(left), IsNull(right)), Literal(0L), Literal(1L))
    Seq(nHi, nLo, wadd(cnt, one), Or(bad, ovf))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val (nHi, nLo, ovf) = add128(hi.left, lo.left, hi.right, lo.right)
    Seq(nHi, nLo, wadd(cnt.left, cnt.right),
      Or(Or(bad.left, bad.right), ovf))
  }

  override lazy val evaluateExpression: Expression = {
    val value = StaticInvoke(Int128Util.getClass, DoubleType, "toDouble12",
      Seq(hi, lo), Seq(LongType, LongType), returnNullable = false)
    val outOfRange =
      if (ansi) StaticInvoke(Int128Util.getClass, DoubleType, "overflow", Nil, Nil,
        returnNullable = false)
      else Literal(null, DoubleType)
    If(EqualTo(cnt, Literal(0L)), Literal(null, DoubleType), If(bad, outOfRange, value))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SumProduct128 =
    copy(left = newLeft, right = newRight)
}

object Int128Util {
  /** Exact (hi·2⁶⁴ + lo) · 10⁻¹² → nearest binary64: the identical
    * conversion `CAST(DECIMAL(38,12) AS DOUBLE)` performs
    * (`BigDecimal.doubleValue` on the exact decimal value). Once per
    * group, never per row. */
  def toDouble12(hi: Long, lo: Long): Double = {
    val bi = java.math.BigInteger.valueOf(hi).shiftLeft(64)
      .add(new java.math.BigInteger(java.lang.Long.toUnsignedString(lo)))
    new java.math.BigDecimal(bi, 12).doubleValue()
  }

  /** Raises the error the decimal sum raises past its precision. */
  def overflow(): Double = throw org.apache.spark.sql.GraftSparkAccess.sumOfDecimalsOverflow()
}
