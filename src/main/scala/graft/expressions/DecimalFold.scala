package graft.expressions

import java.math.{BigDecimal => JBD, RoundingMode}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Compiled form of the oracle-exact decimal distance/dot kernel
  * (round 20; guide "per-task work" — eliminate interpreted
  * expressions in the hot path). The r7–r19 engines computed it as
  *
  *   CAST(aggregate(
  *     zip_with(a, b, (x, y) -> CAST(f(x, y) AS DECIMAL(18,9))),
  *     CAST(0 AS DECIMAL(28,9)),
  *     (acc, t) -> CAST(acc + t AS DECIMAL(28,9))) AS DOUBLE)
  *
  * with f = (x−y)² (squared L2) or x·y (dot). Higher-order functions
  * never enter whole-stage codegen: every term allocated a boxed
  * lambda-variable binding, an interpreted Cast, and a Decimal object,
  * and the fold walked an intermediate GenericArrayData — per row, per
  * centroid. This expression is ONE codegen node running a primitive
  * loop; the per-term quantization keeps the exact Spark semantics by
  * calling the same java.math.BigDecimal operations Spark's Cast does.
  *
  * Bit-exactness contract (pinned by DecimalFoldSpec against the HOF
  * form over adversarial values, and by the DuckDB oracle over every
  * consumer):
  *   - term = f(x, y) in IEEE double (inputs widened float→double);
  *   - CAST(t AS DECIMAL(18,9)) = BigDecimal.valueOf(t) — i.e.
  *     Double.toString's shortest decimal representation, exactly
  *     Spark's Decimal(Double) path — setScale(9, HALF_UP); a NaN/±Inf
  *     term is NULL (even under ANSI — measured), a FINITE rounded
  *     value over 18 digits THROWS under ANSI (the session default on
  *     Spark 4, same as the HOF's Cast) and is NULL with ANSI off;
  *   - running sum is exact decimal addition with a per-step
  *     DECIMAL(28,9) overflow check (throw/NULL per ANSI, as above),
  *     accumulated in a primitive long of scale-9 units while it fits
  *     (every realistic embedding does; overflow promotes to
  *     BigDecimal — long-max 9.2e18 unscaled is far below the first
  *     DECIMAL(28,9)-checkable magnitude, so no check is reachable in
  *     the long regime);
  *   - a NULL term (null element, zip_with length padding, NaN/±Inf)
  *     absorbs: the HOF fold keeps NULL to the end, so the result is
  *     NULL — but zip_with casts EVERY term before the fold starts, so
  *     under ANSI a later finite term over 18 digits still throws; the
  *     kernel scans the remaining terms for that case and otherwise
  *     returns NULL at once;
  *   - result = DECIMAL(28,9) → double via BigDecimal.doubleValue.
  *
  * `ansi` is the session's ANSI mode when the column is built (the
  * HOF's Cast nodes resolve theirs the same way): a constructor
  * parameter, so it takes part in equality and survives `copy`.
  */
case class DecimalFold(left: Expression, right: Expression,
    squaredDiff: Boolean, ansi: Boolean) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType | DoubleType, _),
            ArrayType(FloatType | DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"decimal_fold requires (array<float|double>, " +
          s"array<float|double>), got ${l.simpleString(10)} and " +
          s"${r.simpleString(10)}")
    }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any =
    DecimalFold.fold(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloat(left), isFloat(right), squaredDiff, ansi)

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("r")
      s"""
        java.lang.Double $r = graft.expressions.DecimalFold.fold(
          $a, $b, ${isFloat(left)}, ${isFloat(right)}, $squaredDiff,
          $ansi);
        if ($r == null) { ${ev.isNull} = true; }
        else { ${ev.value} = $r.doubleValue(); }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DecimalFold =
    copy(left = newLeft, right = newRight)
}

object DecimalFold {

  private def overflow(v: JBD, p: Int, ansi: Boolean): java.lang.Double =
    if (!ansi) null
    else throw new ArithmeticException(
      s"[NUMERIC_VALUE_OUT_OF_RANGE] $v cannot be represented as " +
        s"Decimal($p, 9) (decimal_fold, ANSI mode)")

  /** f(x(i), y(i)) in IEEE double; both elements non-null. */
  private def term(x: ArrayData, y: ArrayData, i: Int, xFloat: Boolean,
      yFloat: Boolean, squaredDiff: Boolean): Double = {
    val xv = if (xFloat) x.getFloat(i).toDouble else x.getDouble(i)
    val yv = if (yFloat) y.getFloat(i).toDouble else y.getDouble(i)
    if (squaredDiff) { val d = xv - yv; d * d } else xv * yv
  }

  // Spark Decimal(Double) == BigDecimal.valueOf (Double.toString's
  // shortest repr), then changePrecision(18, 9) HALF_UP
  private def quantize(t: Double): JBD =
    JBD.valueOf(t).setScale(9, RoundingMode.HALF_UP)

  /** The fold's NULL from term `from` on. Under ANSI the HOF form
    * still casts every term zip_with pairs up (`until` = the shorter
    * length; padded positions are NULL), so a finite term over 18
    * digits among them throws instead. */
  private def nullFrom(x: ArrayData, y: ArrayData, from: Int, until: Int,
      xFloat: Boolean, yFloat: Boolean, squaredDiff: Boolean,
      ansi: Boolean): java.lang.Double = {
    var i = from
    while (ansi && i < until) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val t = term(x, y, i, xFloat, yFloat, squaredDiff)
        if (!java.lang.Double.isNaN(t) && !java.lang.Double.isInfinite(t)) {
          val bd = quantize(t)
          if (bd.precision > 18) return overflow(bd, 18, ansi)
        }
      }
      i += 1
    }
    null
  }

  /** Shared by interpreted eval and generated code. Returns null (or
    * throws, matching the HOF's ANSI Cast) for every case the HOF form
    * does (see class doc). */
  def fold(x: ArrayData, y: ArrayData, xFloat: Boolean, yFloat: Boolean,
      squaredDiff: Boolean, ansi: Boolean): java.lang.Double = {
    val n = x.numElements()
    // zip_with pads the shorter side with nulls; a null term keeps the
    // fold NULL to the end
    if (n != y.numElements())
      return nullFrom(x, y, 0, math.min(n, y.numElements()), xFloat,
        yFloat, squaredDiff, ansi)
    var accL = 0L
    var accB: JBD = null
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i))
        return nullFrom(x, y, i + 1, n, xFloat, yFloat, squaredDiff, ansi)
      val t = term(x, y, i, xFloat, yFloat, squaredDiff)
      // CAST(NaN/±Inf AS DECIMAL) is NULL even under ANSI (measured in
      // DecimalFoldSpec — Spark's Cast nulls the non-finite doubles;
      // only FINITE overflow throws in ANSI mode)
      if (java.lang.Double.isNaN(t) || java.lang.Double.isInfinite(t))
        return nullFrom(x, y, i + 1, n, xFloat, yFloat, squaredDiff, ansi)
      // the 18-digit overflow check of the term cast
      val bd = quantize(t)
      if (bd.precision > 18) return overflow(bd, 18, ansi)
      if (accB == null) {
        // precision ≤ 18 → the unscaled value fits a long exactly
        val u = bd.unscaledValue().longValueExact()
        val s = accL + u
        // overflow check per Math.addExact; promote to the exact
        // BigDecimal regime (sum still representable in DECIMAL(28,9))
        if (((accL ^ s) & (u ^ s)) < 0L) {
          accB = JBD.valueOf(accL, 9).add(JBD.valueOf(u, 9))
          if (accB.precision > 28) return overflow(accB, 28, ansi)
        } else accL = s
      } else {
        accB = accB.add(bd)
        // the per-step CAST(acc + t AS DECIMAL(28,9)) overflow check
        if (accB.precision > 28) return overflow(accB, 28, ansi)
      }
      i += 1
    }
    if (accB == null) JBD.valueOf(accL, 9).doubleValue()
    else accB.doubleValue()
  }

  private def ansiNow: Boolean =
    org.apache.spark.sql.internal.SQLConf.get.ansiEnabled

  /** Exact squared L2 distance: replaces the
    * `aggregate(zip_with(a, b, (x,y) -> CAST((x−y)² AS …)))` form. */
  def sqDist(a: Column, b: Column): Column =
    ColumnBridge.column(DecimalFold(ColumnBridge.expression(a),
      ColumnBridge.expression(b), squaredDiff = true, ansi = ansiNow))

  /** Exact dot product: replaces the
    * `aggregate(zip_with(a, b, (x,y) -> CAST(x·y AS …)))` form. */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(DecimalFold(ColumnBridge.expression(a),
      ColumnBridge.expression(b), squaredDiff = false, ansi = ansiNow))
}
