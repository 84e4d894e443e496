// Lives under org.apache.spark.sql because Expression/Column bridging
// (ExpressionUtils) is private[sql] in Spark 4.
package org.apache.spark.sql.graftx

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DataType, DoubleType}

/** Fixed-scale double rounding, half away from zero on the SCALED
  * double — the semantics DuckDB's `round(DOUBLE, n)` applies
  * (scale by 10^n, round half away from zero, divide back), computed
  * without any decimal detour.
  *
  * Why this exists: Spark's built-in `round(col, 6)` on DoubleType
  * routes EVERY row through `BigDecimal.valueOf(x).setScale(...)` —
  * an allocation plus decimal-string arithmetic. On the ANN kNN-join's
  * 320M-candidate fan-out that "cosmetic" rounding measured 112 s
  * where the 64-float dot product it decorates costs 28 s (TIMEONE.md
  * round 9, local[4], 100x corpus). This expression stays in
  * primitive doubles inside whole-stage codegen, and is exactly the
  * arithmetic the DuckDB oracle performs — so cross-engine sim parity
  * is by construction, not by hoping two different decimal paths
  * agree.
  *
  * The half test is exact, not the `floor(s + 0.5)` trick: `s -
  * floor(s)` is exact in IEEE 754 for every finite double, while
  * `s + 0.5` can tie-round UP across the boundary for fractions one
  * ulp below one half. Negative zero normalizes to +0.0 (BigDecimal
  * semantics, which the previously-passing oracles pinned).
  */
case class RoundAwayFromZero(child: Expression, scale: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(scale >= 0 && scale <= 15,
    s"scale must be in [0, 15] where 10^scale is double-exact, got $scale")

  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "round_away_from_zero"

  // Exact-by-construction power of ten: 10^s for s <= 15 fits a Long,
  // and Long -> Double is exact below 2^53. JVM Math.pow only promises
  // 1-ulp accuracy, not exactness — a 1-ulp-off scale factor would
  // silently break DuckDB parity on every rounding (ADVICE r9).
  private val pow: Double = {
    var p = 1L
    var i = 0
    while (i < scale) { p *= 10L; i += 1 }
    p.toDouble
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[Double] * pow
    val a = math.abs(s)
    val f = math.floor(a)
    val r = if (a - f >= 0.5) f + 1.0 else f
    val out = java.lang.Math.copySign(r, s) / pow
    if (out == 0.0) 0.0 else out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      val a = ctx.freshName("a")
      val f = ctx.freshName("f")
      val r = ctx.freshName("r")
      s"""
         |double $s = $c * ${pow}D;
         |double $a = java.lang.Math.abs($s);
         |double $f = java.lang.Math.floor($a);
         |double $r = ($a - $f >= 0.5D) ? $f + 1.0D : $f;
         |${ev.value} = java.lang.Math.copySign($r, $s) / ${pow}D;
         |if (${ev.value} == 0.0D) ${ev.value} = 0.0D;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column-level entry point for the graft library. */
object RoundAwayFromZero {
  def column(c: Column, scale: Int): Column =
    ExpressionUtils.column(
      RoundAwayFromZero(ExpressionUtils.expression(c), scale))
}
