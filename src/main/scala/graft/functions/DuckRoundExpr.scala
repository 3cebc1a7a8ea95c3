package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native oracle-compatible double rounding (see ops.Exact.duckRound
  * for the why): scale by 10^n, round half away from zero, unscale —
  * the exact algorithm DuckDB applies to DOUBLE.
  *
  * As a Column-expression tree (`when(c>=0, floor(c*p+0.5))
  * .otherwise(ceil(c*p-0.5))/p`) the operand `c` appears three times;
  * when Catalyst pushes a filter on the rounded value into a join
  * condition, an expensive operand (a 64-dim dot product in q46) gets
  * re-evaluated per reference. This node evaluates the child exactly
  * once in both interpreted and generated code.
  */
case class DuckRound(child: Expression, scale: Int) extends UnaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"duck_round expects DOUBLE, got ${child.dataType}")

  private val p: Double = math.pow(10, scale)

  override def nullSafeEval(v: Any): Any =
    DuckRoundExpr.roundScaled(v.asInstanceOf[Double], p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val s = ctx.freshName("scaled")
      s"""
         |double $s = $v * ${p}D;
         |${ev.value} = ($s >= 0 ? Math.floor($s + 0.5) : Math.ceil($s - 0.5)) / ${p}D;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): DuckRound =
    copy(child = newChild)
}

object DuckRoundExpr {
  def duck_round(c: Column, scale: Int): Column =
    ColumnBridge.column(DuckRound(ColumnBridge.expression(c), scale))

  /** The scalar rounding every Scala twin of [[DuckRound]] uses: the
    * three IEEE ops of its nullSafeEval and generated code (scale by
    * `p` = 10^scale, round half away from zero, unscale). */
  private[graft] def roundScaled(x: Double, p: Double): Double = {
    val s = x * p
    (if (s >= 0) math.floor(s + 0.5) else math.ceil(s - 0.5)) / p
  }

  private val P6 = math.pow(10, 6) // DuckRound(·, 6)'s own `p`

  /** `roundScaled` at scale 6 — the similarity rounding. */
  private[graft] def round6(x: Double): Double = roundScaled(x, P6)
}
