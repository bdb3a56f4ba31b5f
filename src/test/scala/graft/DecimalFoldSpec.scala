package graft

import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.expressions.DecimalFold

/** Property spec for the compiled decimal fold kernel: bit-for-bit
  * equality (including NULLness) with the interpreted HOF form it
  * replaces, over adversarial values — rounding boundaries, values
  * whose shortest decimal representation differs from their binary
  * value at the HALF_UP digit, DECIMAL(18,9) term overflow,
  * DECIMAL(28,9) accumulator overflow (and the long→BigDecimal
  * promotion just below it), NaN/±Inf terms, null elements, length
  * mismatches, empty and huge vectors. This is the prerequisite the
  * r19 round demanded before touching the vector family's hash-checked
  * kernels.
  */
class DecimalFoldSpec extends SparkSpec {

  private val sqHof =
    """CAST(aggregate(
         zip_with(a, b, (x, y) ->
           CAST((CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) *
             (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) AS DECIMAL(18,9))),
         CAST(0 AS DECIMAL(28,9)),
         (acc, t) -> CAST(acc + t AS DECIMAL(28,9))) AS DOUBLE)"""
  private val dotHof =
    """CAST(aggregate(
         zip_with(a, b, (x, y) ->
           CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)
             AS DECIMAL(18,9))),
         CAST(0 AS DECIMAL(28,9)),
         (acc, t) -> CAST(acc + t AS DECIMAL(28,9))) AS DOUBLE)"""

  /** Both forms over (array<T>, array<T>) rows; asserts bit equality
    * including nullness. */
  private def check(rows: Seq[(Array[Double], Array[Double])],
      float: Boolean): Unit = {
    val elem = if (float) FloatType else DoubleType
    val schema = StructType(Seq(
      StructField("a", ArrayType(elem, containsNull = true)),
      StructField("b", ArrayType(elem, containsNull = true))))
    def conv(xs: Array[Double]): Any =
      if (xs == null) null
      else if (float) xs.map(_.toFloat)
      else xs
    val data = rows.map { case (a, b) => Row(conv(a), conv(b)) }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(data, 2), schema)
    val got = df.select(
        DecimalFold.sqDist(col("a"), col("b")).as("sq_k"),
        expr(sqHof).as("sq_h"),
        DecimalFold.dot(col("a"), col("b")).as("dot_k"),
        expr(dotHof).as("dot_h"))
      .collect()
    got.zip(rows).foreach { case (r, in) =>
      def bits(i: Int): Any =
        if (r.isNullAt(i)) null
        else java.lang.Double.doubleToRawLongBits(r.getDouble(i))
      assert(bits(0) == bits(1),
        s"sqDist mismatch on ${in._1.toSeq}/${in._2.toSeq}: " +
          s"kernel=${if (r.isNullAt(0)) null else r.getDouble(0)} " +
          s"hof=${if (r.isNullAt(1)) null else r.getDouble(1)}")
      assert(bits(2) == bits(3),
        s"dot mismatch on ${in._1.toSeq}/${in._2.toSeq}: " +
          s"kernel=${if (r.isNullAt(2)) null else r.getDouble(2)} " +
          s"hof=${if (r.isNullAt(3)) null else r.getDouble(3)}")
    }
  }

  test("random vectors across magnitudes match the HOF bit-for-bit") {
    val rnd = new Random(20260818)
    def vec(n: Int, scale: Double): Array[Double] =
      Array.fill(n)((rnd.nextDouble() - 0.5) * scale)
    // |terms| stay under the DECIMAL(18,9) ceiling (1e9): |x−y| ≤
    // scale → t ≤ scale², so scale ≤ 3e4 keeps every row in range
    val rows = (for (scale <- Seq(1e-12, 1e-6, 1.0, 1e3, 3e4);
                     n <- Seq(1, 7, 64)) yield {
      (vec(n, scale), vec(n, scale))
    }) ++ Seq.fill(50)((vec(16, 100.0), vec(16, 100.0)))
    check(rows, float = true)
    check(rows, float = false)
  }

  test("HALF_UP rounding boundaries and shortest-repr disagreements") {
    // values whose (x-y)^2 / x*y land exactly on or next to a 5e-10
    // boundary, plus doubles whose binary value and shortest decimal
    // representation straddle the 9th-decimal rounding digit
    val bs = Seq(0.0000000005, 0.00000000049999999, 0.0000000015,
      1.0000000005, 2.5e-10, 7.5e-10, 1.5e-9,
      0.1, 0.2, 0.3, 1.0 / 3.0, 2.0 / 3.0,
      4.9999999995e-1, 5.0000000005e-1,
      12345.0000000005, 0.30000000000000004)
    val rows = for (x <- bs; y <- Seq(0.0, x / 2, -x)) yield
      (Array(x, y), Array(y, x))
    check(rows, float = false)
    check(rows, float = true)
  }

  /** Runs one row through one form, returning Left(exception class)
    * or Right(value-or-null). */
  private def outcome(a: Array[Double], b: Array[Double],
      colExpr: org.apache.spark.sql.Column): Either[String, Any] = {
    val schema = StructType(Seq(
      StructField("a", ArrayType(DoubleType, containsNull = true)),
      StructField("b", ArrayType(DoubleType, containsNull = true))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(a, b)), 1), schema)
    try {
      val r = df.select(colExpr.as("v")).collect().head
      Right(if (r.isNullAt(0)) null else r.getDouble(0))
    } catch { case e: Throwable =>
      Left("threw")
    }
  }

  test("term overflow and NaN/Inf terms: kernel matches the HOF (ANSI throws)") {
    val rows = Seq(
      (Array(1e9), Array(0.0)),
      (Array(31623.0), Array(-31623.0)),
      (Array(999999999.999999999), Array(0.5)),
      (Array(1e150), Array(1e-150)),
      (Array(Double.NaN), Array(1.0)),
      (Array(Double.PositiveInfinity), Array(1.0)),
      (Array(1e200), Array(1e200)),
      (Array(1.0, Double.NaN, 2.0), Array(1.0, 1.0, 1.0)),
      (Array(1.0, 1e9, 2.0), Array(0.5, 0.0, 1.0)))
    rows.foreach { case (a, b) =>
      val k = outcome(a, b, DecimalFold.sqDist(col("a"), col("b")))
      val h = outcome(a, b, expr(sqHof))
      assert(k == h, s"sqDist outcome $k != hof $h on ${a.toSeq}")
      val kd = outcome(a, b, DecimalFold.dot(col("a"), col("b")))
      val hd = outcome(a, b, expr(dotHof))
      assert(kd == hd, s"dot outcome $kd != hof $hd on ${a.toSeq}")
    }
  }

  test("a NULL or NaN term before an overflowing term matches the HOF, " +
      "ANSI on and off") {
    // zip_with casts every term before the fold starts, so under ANSI
    // the later overflow throws although the earlier term already made
    // the fold NULL; with ANSI off both forms are NULL
    val schema = StructType(Seq(
      StructField("a", ArrayType(DoubleType, containsNull = true)),
      StructField("b", ArrayType(DoubleType, containsNull = true))))
    val rows = Seq(
      Row(Seq(Double.NaN, 1e9), Seq(1.0, 1.0)),
      Row(Seq(null, 1e9), Seq(1.0, 1.0)),
      Row(Seq(1.0, Double.NaN, 2e9), Seq(1.0, 1.0, 1.0)),
      // length mismatch: the pairs zip_with does build are still cast
      Row(Seq(1e9, 1.0), Seq(1.0)))
    def outcome(row: Row, c: org.apache.spark.sql.Column)
        : Either[String, Any] = {
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(row), 1), schema)
      try {
        val r = df.select(c.as("v")).collect().head
        Right(if (r.isNullAt(0)) null else r.getDouble(0))
      } catch { case _: Throwable => Left("threw") }
    }
    for ((ansi, want) <- Seq("true" -> Left("threw"), "false" -> Right(null)))
      withConf("spark.sql.ansi.enabled" -> ansi) {
        rows.foreach { row =>
          Seq(DecimalFold.sqDist(col("a"), col("b")) -> sqHof,
              DecimalFold.dot(col("a"), col("b")) -> dotHof).foreach {
            case (kernel, hof) =>
              val h = outcome(row, expr(hof))
              assert(h == want, s"ansi=$ansi hof gave $h on $row")
              assert(outcome(row, kernel) == h,
                s"ansi=$ansi kernel differs from hof $h on $row")
          }
        }
      }
  }

  test("ANSI mode is part of node equality and survives copy") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val on = DecimalFold(Literal(1), Literal(2), squaredDiff = true,
      ansi = true)
    assert(on != on.copy(ansi = false))
    assert(on.withNewChildren(Seq(Literal(3), Literal(4)))
      .asInstanceOf[DecimalFold].ansi)
  }

  test("accumulator long→BigDecimal promotion region stays exact") {
    // dot terms 6.25e8 (unscaled 6.25e17): 15+ terms cross
    // Long.MaxValue (9.2e18) on the unscaled sum without overflowing
    // DECIMAL(28,9); sqDist exercises the same region via y = 0
    val x = 25000.0
    val rows = Seq(
      (Array.fill(14)(x), Array.fill(14)(x)),
      (Array.fill(15)(x), Array.fill(15)(x)),
      (Array.fill(64)(x), Array.fill(64)(x)),
      (Array.fill(14)(x), Array.fill(14)(0.0)),
      (Array.fill(15)(x), Array.fill(15)(0.0)),
      (Array.fill(64)(x), Array.fill(64)(0.0)),
      // sign cancellation around the promotion point (dot arm)
      (Array.fill(20)(10000.0) ++ Array.fill(20)(-10000.0),
        Array.fill(40)(10000.0)))
    check(rows, float = false)
  }

  test("length mismatch, empty arrays and null elements match") {
    val elem = DoubleType
    val schema = StructType(Seq(
      StructField("a", ArrayType(elem, containsNull = true)),
      StructField("b", ArrayType(elem, containsNull = true))))
    val data = Seq(
      Row(Seq(1.0, 2.0), Seq(1.0)),
      Row(Seq(1.0), Seq(1.0, 2.0)),
      Row(Seq.empty[Double], Seq.empty[Double]),
      Row(Seq.empty[Double], Seq(1.0)),
      Row(Seq(1.0, null, 3.0), Seq(1.0, 2.0, 3.0)),
      Row(Seq(null, null), Seq(null, null)),
      Row(null, Seq(1.0)),
      Row(Seq(1.0), null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(data, 1), schema)
    val got = df.select(
        DecimalFold.sqDist(col("a"), col("b")).as("sq_k"),
        expr(sqHof).as("sq_h"),
        DecimalFold.dot(col("a"), col("b")).as("dot_k"),
        expr(dotHof).as("dot_h"))
      .collect()
    got.foreach { r =>
      def v(i: Int): Any = if (r.isNullAt(i)) null else r.getDouble(i)
      assert(v(0) == v(1), s"sqDist ${v(0)} != hof ${v(1)}")
      assert(v(2) == v(3), s"dot ${v(2)} != hof ${v(3)}")
    }
  }

  test("interpreted eval equals codegen result") {
    // force the interpreted path via a non-codegen context: eval on
    // the expression directly
    val rnd = new Random(7)
    val a = Array.fill(32)(rnd.nextDouble() * 100 - 50)
    val b = Array.fill(32)(rnd.nextDouble() * 100 - 50)
    import org.apache.spark.sql.catalyst.util.ArrayData
    val ad = ArrayData.toArrayData(a)
    val bd = ArrayData.toArrayData(b)
    val viaHelper = graft.expressions.DecimalFold.fold(
      ad, bd, xFloat = false, yFloat = false, squaredDiff = true,
      ansi = true)
    // same rows through the SQL engine
    check(Seq((a, b)), float = false)
    assert(viaHelper != null)
  }
}
