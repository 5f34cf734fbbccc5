package graft.functions

import java.math.{BigDecimal => JBigDecimal, BigInteger}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateFunction, DeclarativeAggregate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** `CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE)` as one codegen'd
  * aggregate, bit for bit (the body of `Exact.dsum`). Spark's spelling
  * sums in a DECIMAL(28,6) buffer, wider than a long, so every row and
  * merge goes through `Decimal` objects; here only the per-group result
  * does.
  *
  * Per row ([[ExactMicros]]): the unscaled long of the DECIMAL(18,6)
  * cast, by the exact step of [[ExactSumKernel.fastMicros]] where its
  * bound holds, else by Spark's own `Cast`. The eval mode (ANSI raises
  * on cast overflow, legacy makes the row null) is a parameter here.
  * `ExactSum(column)` leaves it open ([[ExactSumCall]]) and the
  * optimizer fills it in from the conf of the session that runs the
  * query, as it does for the `sum(cast(...))` spelling this replaces.
  * The session active when the column was built does not matter.
  *
  * Buffer: the 128-bit sum (hi, lo) in two longs, updated and merged by
  * wrapping adds with an unsigned-compare carry, plus a non-empty flag.
  * With |unscaled| < 10^18 per row it cannot wrap before ~2^67 rows.
  *
  * Result: null for a group with no non-null input; otherwise Spark's
  * own `CheckOverflowInSum` to DECIMAL(28,6) and cast to double, so a
  * total with |unscaled| ≥ 10^28 raises Spark's sum-overflow error
  * under ANSI and is null under legacy. Spark checks that range on each
  * partial buffer as well; here only the exact total is checked.
  */
case class ExactSum(child: Expression, evalMode: EvalMode.Value)
  extends DeclarativeAggregate with UnaryLike[Expression] {

  import ExactSum._

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "exact_sum"
  override def flatArguments: Iterator[Any] = Iterator(child)

  override def checkInputDataTypes(): TypeCheckResult =
    Cast(child, Micros, None, evalMode).checkInputDataTypes()

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val nonEmpty = AttributeReference("nonEmpty", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, nonEmpty)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(false))

  private lazy val micros: Expression = {
    val cast = UnscaledValue(Cast(child, Micros, None, evalMode))
    if (child.dataType == DoubleType) ExactMicros(child, cast) else cast
  }

  override lazy val updateExpressions: Seq[Expression] = {
    val v = Coalesce(Seq(micros, Literal(0L)))
    val sumLo = plus(lo, v)
    // (v >> 63) sign-extends v into the high word
    Seq(plus(plus(hi, ShiftRight(v, Literal(63))), carry(sumLo, lo)),
      sumLo,
      Or(nonEmpty, IsNotNull(micros)))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val sumLo = plus(lo.left, lo.right)
    Seq(plus(plus(hi.left, hi.right), carry(sumLo, lo.left)),
      sumLo,
      Or(nonEmpty.left, nonEmpty.right))
  }

  override lazy val evaluateExpression: Expression =
    If(nonEmpty,
      Cast(CheckOverflowInSum(Int128Decimal(hi, lo), Total,
        evalMode != EvalMode.ANSI, null), DoubleType),
      Literal(null, DoubleType))

  override protected def withNewChildInternal(newChild: Expression): ExactSum =
    copy(child = newChild)
}

object ExactSum {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** The per-row cast target and the buffer Spark's sum would use. */
  private val Micros = DecimalType(18, 6)
  private val Total = DecimalType(28, 6)

  private val Wrapping = NumericEvalContext(EvalMode.LEGACY)
  private def plus(a: Expression, b: Expression): Expression = Add(a, b, Wrapping)

  /** 1 when the wrapped sum `s = a + b` carried out of 64 bits:
    * unsigned s < unsigned a, compared as signed after flipping the
    * sign bits.
    */
  private def carry(s: Expression, a: Expression): Expression = {
    val flip = Literal(Long.MinValue)
    If(LessThan(BitwiseXor(s, flip), BitwiseXor(a, flip)), Literal(1L), Literal(0L))
  }

  def apply(c: Column): Column =
    ColumnBridge.toColumn(ExactSumCall(ColumnBridge.toExpression(c)).toAggregateExpression())
}

/** What `ExactSum(column)` builds: an [[ExactSum]] whose eval mode is
  * still open. Analysis types it, and the optimizer's
  * `ReplaceExpressions` swaps in `ExactSum(child, mode)`, both under
  * the session that runs the query, so the mode is that session's
  * `spark.sql.ansi.enabled`. Same name and children as the aggregate,
  * so an unaliased column keeps its `exact_sum(x)` name.
  */
case class ExactSumCall(child: Expression)
  extends AggregateFunction with RuntimeReplaceableAggregate with UnaryLike[Expression] {

  override def replacement: Expression = ExactSum(child, EvalMode.fromSQLConf(SQLConf.get))
  override def checkInputDataTypes(): TypeCheckResult = replacement.checkInputDataTypes()
  override def prettyName: String = "exact_sum"

  override protected def withNewChildInternal(newChild: Expression): ExactSumCall =
    copy(child = newChild)
}

/** The kernels the generated code calls (a plain object, so Java sees
  * static methods).
  */
object ExactSumKernel {

  /** The unscaled long of `CAST(x AS DECIMAL(18,6))`, or `Long.MinValue`
    * when x must take Spark's cast instead.
    *
    * Spark casts a double by rounding `BigDecimal(Double.toString(x))`
    * HALF_UP to 6 places (`Decimal.apply(double)` → `set` →
    * `changePrecision`), not x's exact binary value. Let d be that
    * decimal and r = fl(x·1e6), a = |r|:
    *   - `Double.toString` parses back to x, so |d − x| ≤ ulp(x)/2.
    *   - |x·1e6 − r| ≤ ulp(r)/2, and 1e6·ulp(x) < 2^0.94·ulp(r) because
    *     |x|·1e6 ≥ 2^(e+19.9) keeps r's exponent at least e+19.
    *   - So |d·1e6 − r| < 1.5·ulp(r).
    *   - For a < 1e15 < 2^50, ulp(a) ≤ 1/8, so floor(a) and the
    *     fraction f = a − floor(a) are exact; f − 0.5 is exact whenever
    *     it is small (Sterbenz).
    *   - Round-half-up changes only at n + 0.5. When |f − 0.5| > 4·ulp(a),
    *     |d|·1e6 and a lie on the same side of that boundary, so both
    *     round to floor(a) + (f > 0.5 ? 1 : 0).
    * NaN and ±Inf fail `a < 1e15`; ties and their neighbours fail the
    * band; |x| ≥ 1e9 fails the range (the cast itself allows up to 1e12).
    */
  def fastMicros(x: Double): Long = {
    val r = x * 1e6
    val a = math.abs(r)
    if (a < 1e15) {
      val f = math.floor(a)
      val frac = a - f
      if (math.abs(frac - 0.5) > 4 * math.ulp(a)) {
        val m = f.toLong + (if (frac > 0.5) 1L else 0L)
        if (r < 0) -m else m
      } else Long.MinValue
    } else Long.MinValue
  }

  private val Mask64 = BigInteger.ONE.shiftLeft(64).subtract(BigInteger.ONE)
  private val Limit = BigInteger.TEN.pow(28)

  /** The 128-bit unscaled sum (hi, lo) as a DECIMAL(28,6), or null when
    * it is out of that range (the caller's `CheckOverflowInSum` then
    * raises or nulls, as for an overflowed Spark sum).
    */
  def toDecimal(hi: Long, lo: Long): Decimal =
    if (hi == (lo >> 63)) Decimal(lo, 28, 6)
    else {
      val v = BigInteger.valueOf(hi).shiftLeft(64).add(BigInteger.valueOf(lo).and(Mask64))
      if (v.abs.compareTo(Limit) >= 0) null
      else Decimal(new JBigDecimal(v, 6), 28, 6)
    }
}

/** x → the unscaled micros of `CAST(x AS DECIMAL(18,6))` for a double x.
  * `slow` is that cast's `UnscaledValue` over the same x; it runs only
  * for the values [[ExactSumKernel.fastMicros]] declines.
  */
case class ExactMicros(child: Expression, slow: Expression) extends Expression {
  override def children: Seq[Expression] = Seq(child, slow)
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable || slow.nullable

  override def eval(input: InternalRow): Any = {
    val x = child.eval(input)
    if (x == null) null
    else {
      val m = ExactSumKernel.fastMicros(x.asInstanceOf[Double])
      if (m != Long.MinValue) m else slow.eval(input)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the child's code first: an input column read is emitted once, so
    // the slow branch below only references its variables
    val x = child.genCode(ctx)
    val s = slow.genCode(ctx)
    ev.copy(code = code"""
      ${x.code}
      boolean ${ev.isNull} = ${x.isNull};
      long ${ev.value} = -1L;
      if (!${ev.isNull}) {
        ${ev.value} = graft.functions.ExactSumKernel.fastMicros(${x.value});
        if (${ev.value} == Long.MIN_VALUE) {
          ${s.code}
          ${ev.isNull} = ${s.isNull};
          ${ev.value} = ${s.value};
        }
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ExactMicros =
    copy(child = newChildren(0), slow = newChildren(1))
}

/** The 128-bit buffer (hi, lo) as a DECIMAL(28,6); null when out of range. */
case class Int128Decimal(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DecimalType(28, 6)
  override def nullable: Boolean = true

  override protected def nullSafeEval(hi: Any, lo: Any): Any =
    ExactSumKernel.toDecimal(hi.asInstanceOf[Long], lo.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (hi, lo) =>
      s"""${ev.value} = graft.functions.ExactSumKernel.toDecimal($hi, $lo);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Int128Decimal =
    copy(left = newLeft, right = newRight)
}
