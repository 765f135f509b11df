package graft.functions

import java.math.{BigDecimal => JBigDecimal, BigInteger}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Add, AttributeReference, BinaryExpression, BitwiseAnd, BitwiseNot, BitwiseOr, Coalesce, EqualTo, EvalMode, ExpectsInputTypes, Expression, If, IsNull, Literal, NumericEvalContext, ShiftRight, ShiftRightUnsigned, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Kernels for [[FixedSum]] — exact decimal summation of double columns
  * without per-row BigDecimal traffic.
  *
  * `sum(CAST(x AS DECIMAL(38,s)))` is the engine's oracle-parity recipe
  * for order-independent double aggregation (QueryGroup.dsum), but its
  * hash-aggregate buffer is a precision-38 Decimal, which UnsafeRow
  * stores as serialized BigDecimal bytes — every row pays
  * deserialize → BigDecimal.add → reserialize (~330 ns/row measured by
  * tools/IsoAgg at sf1; 3 such sums put q1_agg at 9.5 s). The same
  * number is representable as an integer count of 10^-s units, and a
  * signed 128-bit integer held in TWO LONG buffer slots covers the full
  * DECIMAL(38,s) range (2^127 ≈ 1.7e38), so the entire accumulation can
  * stay in primitive longs inside whole-stage codegen.
  *
  * Bit-parity contract with the decimal path: each input double is
  * converted via its SHORTEST-DECIMAL representation + HALF_UP — exactly
  * Spark's `CAST(double AS DECIMAL(38,s))` (`Decimal.fromDouble` parses
  * `Double.toString`) and DuckDB's double→decimal cast on the oracle
  * side — then summed exactly; the single final 128-bit → double
  * conversion is `BigDecimal.doubleValue()`, identical to
  * `CAST(decimal AS DOUBLE)`. Any plan or partitioning produces the
  * identical double.
  *
  * Domain restriction vs the decimal path (checked, loud): each TERM
  * must fit a signed 64-bit count of 10^-s units, i.e. |x| ≤ ~9.2e18 /
  * 10^s. Values beyond that throw ArithmeticException instead of the
  * decimal cast's silent null-and-skip — for the analytic domains this
  * engine sums (quantities, prices, squares of prices) the limit is
  * 4+ orders of magnitude away. The 128-bit RUNNING sum overflows only
  * past ~1.7e38 units, beyond DECIMAL(38)'s own range.
  */
object FixedPoint {

  private val Pow10 = Array.iterate(1L, 19)(_ * 10) // 10^0 .. 10^18
  private val Pow10D = Pow10.map(_.toDouble) // exact: 10^s = 2^s·5^s, 5^18 < 2^53

  private def overflow(d: Double, scale: Int): Nothing =
    throw new ArithmeticException(
      s"fixed_sum: $d does not fit a 64-bit scale-$scale term " +
        s"(|x| must be < ${Long.MaxValue}e-$scale); use the DECIMAL cast path")

  /** Integer count of 10^-scale units in `d` (finite), HALF_UP — equals
    * `BigDecimal.valueOf(d).setScale(scale, HALF_UP).unscaledValue()`,
    * which is what `CAST(d AS DECIMAL(p,scale))` produces.
    *
    * Fast path, no `String`: with p = 10^scale, if ulp(d)·p ≤ 1/4 and
    * an integer k has `k.toDouble / p == d` (both operands exact, so the
    * quotient is k·10^-scale correctly rounded), then every decimal that
    * rounds to `d` — `Double.toString`'s digits among them, shortest or
    * not — lies within ulp(d) of k·10^-scale, i.e. within 1/4 unit of k,
    * so HALF_UP gives k. Such a k is `round(d * p)`: |d·p| < 2^53·ulp(d)·p
    * ≤ 2^51, so the product is off by at most 1/8 and k lies within 1/8
    * of the exact d·p. Anything else takes [[unitsParse]]. Scale-4
    * prices take the fast path (sf0.1 `l_extendedprice`: ~6 vs ~140 ns
    * per term); squares of prices at scale 8 mostly do not (their ulp is
    * too coarse). */
  def units(d: Double, scale: Int): Long = {
    val p = Pow10D(scale)
    if (Math.ulp(d) * p <= 0.25) { // false for NaN and ±Infinity
      val k = Math.round(d * p)
      if (k.toDouble / p == d) return k
    }
    unitsParse(d, scale)
  }

  /** [[units]] by parsing the shortest-decimal representation
    * (`Double.toString` — the SAME string `BigDecimal.valueOf` reads) so
    * no binary-expansion digits appear. */
  private[functions] def unitsParse(d: Double, scale: Int): Long = {
    if (d == 0.0) return 0L // covers -0.0
    val s = java.lang.Double.toString(d)
    val len = s.length
    var pos = 0
    var neg = false
    if (s.charAt(0) == '-') { neg = true; pos = 1 }
    var digits = 0L // shortest repr has ≤ 17 significant digits: fits
    var fracLen = 0
    var inFrac = false
    var exp10 = 0
    var brk = false
    while (pos < len && !brk) {
      val c = s.charAt(pos)
      if (c == '.') inFrac = true
      else if (c == 'E') { exp10 = Integer.parseInt(s, pos + 1, len, 10); brk = true }
      else {
        digits = digits * 10 + (c - '0')
        if (inFrac) fracLen += 1
      }
      pos += 1
    }
    val shift = scale + exp10 - fracLen
    var mag = 0L
    if (shift < 0) {
      // drop -shift digits, HALF_UP on the magnitude (away from zero,
      // matching BigDecimal HALF_UP for both signs via the neg flag)
      if (-shift >= 19) mag = 0L // digits < 10^18 ⇒ < half of 10^19
      else {
        val p10 = Pow10(-shift)
        val q = digits / p10
        val r = digits % p10
        mag = if (2 * r >= p10) q + 1 else q
      }
    } else if (shift <= 18) {
      val p10 = Pow10(shift)
      if (digits > Long.MaxValue / p10) overflow(d, scale)
      mag = digits * p10
    } else {
      // magnitude ≥ 10^19 > Long.MaxValue for any nonzero digits
      overflow(d, scale)
    }
    if (neg) -mag else mag
  }

  /** Signed 128-bit (hi, lo) count of 10^-scale units → the double that
    * `CAST(BigDecimal(unscaled, scale) AS DOUBLE)` produces. One call per
    * GROUP, not per row. */
  def acc128ToDouble(hi: Long, lo: Long, scale: Int): Double = {
    val bytes = new Array[Byte](16)
    var k = 0
    while (k < 8) { bytes(k) = (hi >>> (56 - 8 * k)).toByte; k += 1 }
    while (k < 16) { bytes(k) = (lo >>> (120 - 8 * k)).toByte; k += 1 }
    new JBigDecimal(new BigInteger(bytes), scale).doubleValue()
  }
}

/** `d` (double) → count of 10^-scale units (long), null for null or
  * non-finite input — the skip behavior of summing over a decimal cast.
  * See [[FixedPoint.units]]. */
case class FixedUnits(child: Expression, scale: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(scale >= 0 && scale <= 18, s"scale out of range [0,18]: $scale")
  override def inputTypes = Seq(DoubleType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else {
      val d = v.asInstanceOf[Double]
      if (!java.lang.Double.isFinite(d)) null
      else java.lang.Long.valueOf(FixedPoint.units(d, scale))
    }
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = true;
      long ${ev.value} = 0L;
      if (!${c.isNull} && java.lang.Double.isFinite(${c.value})) {
        ${ev.isNull} = false;
        ${ev.value} = graft.functions.FixedPoint.units(${c.value}, $scale);
      }""")
  }
  override protected def withNewChildInternal(newChild: Expression): FixedUnits =
    copy(child = newChild)
}

/** (hi, lo) 128-bit unit count → double; see [[FixedPoint.acc128ToDouble]]. */
case class Acc128ToDouble(left: Expression, right: Expression, scale: Int)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(LongType, LongType)
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(h: Any, l: Any): Any =
    FixedPoint.acc128ToDouble(h.asInstanceOf[Long], l.asInstanceOf[Long], scale)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (h, l) => s"graft.functions.FixedPoint.acc128ToDouble($h, $l, $scale)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Acc128ToDouble =
    copy(left = newLeft, right = newRight)
}

/** Exact, order-independent sum of a double column at decimal scale
  * `scale`, as double — bit-identical to
  * `sum(CAST(x AS DECIMAL(38,scale))).cast("double")` but accumulating
  * in a signed 128-bit integer across two primitive LONG buffer slots,
  * so group-by and window aggregation stay entirely inside whole-stage
  * codegen with no per-row BigDecimal (de)serialization. Empty/all-null
  * input yields null, like Sum. See [[FixedPoint]] for the parity
  * contract and domain bound.
  */
case class FixedSum(child: Expression, scale: Int)
    extends DeclarativeAggregate with ExpectsInputTypes with UnaryLike[Expression] {
  override def inputTypes = Seq(DoubleType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "fixed_sum"

  private lazy val hi = AttributeReference("fsHi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("fsLo", LongType, nullable = false)()
  private lazy val cnt = AttributeReference("fsCnt", LongType, nullable = false)()
  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, cnt)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(0L))

  // the low-word add MUST wrap (it is an unsigned 64-bit limb); pin
  // legacy arithmetic so an ANSI session config cannot turn the
  // intentional wrap into an overflow error
  private def wadd(a: Expression, b: Expression): Expression =
    Add(a, b, NumericEvalContext(EvalMode.LEGACY, true))

  /** 128-bit add of (aHi, aLo) + (bHi, bLo) → Seq(newHi, newLo): carry of
    * the unsigned low-limb add is ((a&b) | ((a|b) & ~sum)) >>> 63. */
  private def add128(aHi: Expression, aLo: Expression,
                     bHi: Expression, bLo: Expression): Seq[Expression] = {
    val newLo = wadd(aLo, bLo)
    val carry = ShiftRightUnsigned(
      BitwiseOr(BitwiseAnd(aLo, bLo), BitwiseAnd(BitwiseOr(aLo, bLo), BitwiseNot(newLo))),
      Literal(63))
    Seq(wadd(wadd(aHi, bHi), carry), newLo)
  }

  override lazy val updateExpressions: Seq[Expression] = {
    val u = FixedUnits(child, scale)
    val uz = Coalesce(Seq(u, Literal(0L))) // null term ⇒ add 0 (carry 0)
    val signExt = ShiftRight(uz, Literal(63)) // sign-extend the 64-bit term
    add128(hi, lo, signExt, uz) :+
      wadd(cnt, If(IsNull(u), Literal(0L), Literal(1L)))
  }

  override lazy val mergeExpressions: Seq[Expression] =
    add128(hi.left, lo.left, hi.right, lo.right) :+ wadd(cnt.left, cnt.right)

  override lazy val evaluateExpression: Expression =
    If(EqualTo(cnt, Literal(0L)), Literal.create(null, DoubleType),
      Acc128ToDouble(hi, lo, scale))

  override protected def withNewChildInternal(newChild: Expression): FixedSum =
    copy(child = newChild)
}
