package graft.functions

import java.math.{BigDecimal => JBigDecimal, BigInteger}
import org.apache.spark.QueryContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.trees.{CurrentOrigin, UnaryLike}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** `exact_sum(x)`: what `sum(CAST(x AS DECIMAL(27,6)))` returns — the
  * same DECIMAL(37,6) type, value and nulls, and with ANSI on the same
  * errors — without a Decimal per row.
  *
  * Every row's cast value is an integer count of 10^-6 units, and the
  * buffer sums those counts as a 128-bit two's-complement integer held in
  * two `Long` slots. A double takes the fast path: multiply by 10^6,
  * round half away from zero, add. That equals the cast, which rounds
  * `BigDecimal.valueOf(x)` HALF_UP at scale 6, whenever the scaled value
  * is more than its error bound (under 1.5 ULPs of it) away from a
  * rounding tie. A row within a few ULPs of a tie, with
  * |x| ≥ 2^53/10^6, or NaN/±Inf, evaluates Spark's own `Cast` instead
  * (and so raises its errors, or yields its null), as does every row of
  * a non-double input.
  *
  * The buffer is all primitive slots, so the aggregate stays a
  * whole-stage-codegen `HashAggregate` that holds no Decimal. The
  * DECIMAL(37,6) overflow check runs once per group, on the exact total,
  * through Spark's `CheckOverflowInSum`. The 128-bit sum itself would
  * only wrap after about 10^11 rows near the DECIMAL(27,6) limit. */
case class ExactSum(child: Expression,
    evalMode: EvalMode.Value = EvalMode.fromSQLConf(SQLConf.get))
    extends DeclarativeAggregate with UnaryLike[Expression]
    with SupportQueryContext {

  override def prettyName: String = "exact_sum"
  override def nullable: Boolean = true
  override def dataType: DataType = ExactSum.ResultType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: NumericType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"exact_sum expects a numeric argument, got ${other.catalogString}")
  }

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val isEmpty =
    AttributeReference("isEmpty", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(hi, lo, isEmpty)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(true))

  override lazy val updateExpressions: Seq[Expression] = {
    val rowLo = Scale6Half(child, high = false, evalMode)
    val rowHi = Scale6Half(child, high = true, evalMode)
    val (sumHi, sumLo) = ExactSum.add128(hi, lo, rowHi, rowLo)
    // a row whose cast is null (a null input; NaN, ±Inf or |x| ≥ 10^21
    // with ANSI off) leaves the buffer as it was, as sum skips it
    val skip = IsNull(rowLo)
    Seq(If(skip, hi, sumHi), If(skip, lo, sumLo), And(isEmpty, skip))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val (sumHi, sumLo) = ExactSum.add128(hi.left, lo.left, hi.right, lo.right)
    Seq(sumHi, sumLo, And(isEmpty.left, isEmpty.right))
  }

  override lazy val evaluateExpression: Expression =
    If(isEmpty, Literal.create(null, dataType),
      CheckOverflowInSum(Int128ToDecimal(hi, lo), ExactSum.ResultType,
        evalMode != EvalMode.ANSI, getContextOrNull()))

  override def initQueryContext(): Option[QueryContext] =
    if (evalMode == EvalMode.ANSI) Some(origin.context) else None

  override protected def withNewChildInternal(newChild: Expression): ExactSum =
    copy(child = newChild)
}

object ExactSum {
  /** The type `sum` gives a DECIMAL(27,6) input. */
  val ResultType: DecimalType = DecimalType(37, 6)
  /** The type each row is cast to. */
  val RowType: DecimalType = DecimalType(27, 6)

  /** `exact_sum` over a column, resolved through the session's function
    * registry ([[GraftExtensions.register]]), so the cast mode is the
    * session's at analysis, as for a written-out CAST. */
  def exactSum(c: Column): Column =
    org.apache.spark.sql.functions.call_function("exact_sum", c)

  /** `a + b` over 128-bit integers given as (high, low) `Long` halves. */
  private[functions] def add128(aHi: Expression, aLo: Expression,
      bHi: Expression, bLo: Expression): (Expression, Expression) = {
    val legacy = NumericEvalContext(EvalMode.LEGACY)
    val lo = Add(aLo, bLo, legacy)
    // carry out of the low half: its unsigned sum is below an addend
    val minLong = Literal(Long.MinValue)
    val carry = If(LessThan(BitwiseXor(lo, minLong), BitwiseXor(aLo, minLong)),
      Literal(1L), Literal(0L))
    (Add(Add(aHi, bHi, legacy), carry, legacy), lo)
  }

  /** The unscaled value of `round_half_up(x · 10^6)` when the double fast
    * path decides it exactly, else [[Slow]]. `a` is |x| · 10^6 rounded,
    * so its distance from |x|'s shortest decimal times 10^6 is under
    * a · 1.5 · 2^-52; a fraction farther than a · 2^-50 from ½ rounds the
    * same either way. NaN fails the range test. */
  def fastUnscaled(x: Double): Long =
    if (Math.abs(x) < FastLimit) {
      val a = Math.abs(x) * 1e6
      var r = a.toLong
      val f = a - r
      if (Math.abs(f - 0.5) > a * TieMargin) {
        if (f > 0.5) r += 1
        if (x < 0) -r else r
      } else Slow
    } else Slow

  /** 2^53 / 10^6: from here up, |x| · 10^6 has no fractional bits left. */
  final val FastLimit = 9.007199254740992e9
  /** 2^-50: more than twice the fast path's relative error bound,
    * 1.5 · 2^-52. */
  final val TieMargin = 8.881784197001252e-16
  /** Never a fast result: those stay below 2^53 in magnitude. */
  final val Slow = Long.MinValue

  private val Mask64 = BigInteger.ONE.shiftLeft(64).subtract(BigInteger.ONE)
  private val Limit37 = BigInteger.TEN.pow(ResultType.precision)

  /** The 128-bit integer `(hi, lo)` at scale 6, or null when it has more
    * than 37 digits — the overflow that `CheckOverflowInSum` reports. */
  def toDecimal(hi: Long, lo: Long): Decimal = {
    val unscaled = BigInteger.valueOf(hi).shiftLeft(64)
      .or(BigInteger.valueOf(lo).and(Mask64))
    if (unscaled.abs.compareTo(Limit37) >= 0) null
    else Decimal(new JBigDecimal(unscaled, 6), ResultType.precision, 6)
  }
}

/** One 64-bit half (`high` or low) of the unscaled value of
  * `CAST(child AS DECIMAL(27,6))` as a 128-bit integer; null where the
  * cast is null. The update input of [[ExactSum]]. */
case class Scale6Half(child: Expression, high: Boolean,
    evalMode: EvalMode.Value) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  // Spark's own cast, for the rows the fast path leaves to it; it carries
  // this expression's origin, so its errors name the same query text
  @transient private lazy val cast: Expression =
    CurrentOrigin.withOrigin(origin) {
      Cast(BoundReference(0, child.dataType, nullable = false),
        ExactSum.RowType, None, evalMode)
    }

  /** This half of the cast's unscaled value, boxed; null when the cast
    * is. Public for the generated code. */
  def viaCast(value: Any): java.lang.Long = {
    val d = cast.eval(InternalRow(value)).asInstanceOf[Decimal]
    if (d == null) null
    else {
      val u = d.toJavaBigDecimal.setScale(ExactSum.RowType.scale).unscaledValue
      if (high) u.shiftRight(64).longValue else u.longValue
    }
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else child.dataType match {
      case DoubleType =>
        val r = ExactSum.fastUnscaled(v.asInstanceOf[Double])
        if (r == ExactSum.Slow) viaCast(v)
        else if (high) r >> 63 else r
      case _ => viaCast(v)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val self = ctx.addReferenceObj("scale6", this, getClass.getName)
    val boxed = CodeGenerator.boxedType(child.dataType)
    val kernel = ExactSum.getClass.getName + ".MODULE$"
    def viaCast(v: String) = {
      val b = ctx.freshName("boxed")
      s"""java.lang.Long $b = $self.viaCast(($boxed) $v);
         |if ($b == null) ${ev.isNull} = true;
         |else ${ev.value} = $b;""".stripMargin
    }
    val body = child.dataType match {
      case DoubleType =>
        val r = ctx.freshName("r")
        s"""long $r = $kernel.fastUnscaled(${c.value});
           |if ($r == Long.MIN_VALUE) {
           |  ${viaCast(c.value)}
           |} else {
           |  ${ev.value} = ${if (high) s"$r >> 63" else r};
           |}""".stripMargin
      case _ => viaCast(c.value)
    }
    ev.copy(code = code"""
      |${c.code}
      |boolean ${ev.isNull} = ${c.isNull};
      |long ${ev.value} = 0L;
      |if (!${ev.isNull}) {
      |  $body
      |}""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Scale6Half =
    copy(child = newChild)
}

/** The 128-bit integer `(hi, lo)` as a DECIMAL(37,6) at scale 6, or null
  * past 37 digits; the input of [[ExactSum]]'s overflow check. */
case class Int128ToDecimal(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ExactSum.ResultType
  override def nullable: Boolean = true

  override def nullSafeEval(hi: Any, lo: Any): Any =
    ExactSum.toDecimal(hi.asInstanceOf[Long], lo.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (hi, lo) =>
      s"""${ev.value} = ${ExactSum.getClass.getName}.MODULE$$.toDecimal($hi, $lo);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Int128ToDecimal =
    copy(left = newLeft, right = newRight)
}
