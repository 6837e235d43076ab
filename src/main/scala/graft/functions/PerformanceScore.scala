package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType}

/** Native Catalyst expression for the reference's 6-term performance score
  * with win bonus (`transformer/ranking/feature_factory.py:121-137`) —
  * the custom-`Expression` tier of the operator ladder (SURVEY.md §7.2):
  * same algebra as `graft.aram.Labeling.performanceScore`, but one fused
  * expression node with its own `doGenCode`, so the whole score is a single
  * straight-line Java block inside whole-stage codegen instead of a
  * ~20-node expression tree.
  *
  * Null semantics: null in any of the six numeric inputs → null out
  * (strict); a null `win` counts as no bonus (false), exactly matching the
  * composed Column version's `when(win, base*1.1).otherwise(base)`, whose
  * otherwise-branch absorbs nulls.
  */
case class PerformanceScoreExpr(
    kda: Expression, dpm: Expression, killParticipation: Expression,
    gpm: Expression, deathShare: Expression, goldEfficiency: Expression,
    win: Expression)
  extends Expression {

  override def children: Seq[Expression] =
    Seq(kda, dpm, killParticipation, gpm, deathShare, goldEfficiency, win)

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = children.init.exists(_.nullable)

  override def eval(input: InternalRow): Any = {
    val vs = children.init.map(_.eval(input))
    if (vs.contains(null)) null
    else {
      val base = vs(0).asInstanceOf[Double] * 0.25 +
        vs(1).asInstanceOf[Double] / 1000 * 0.20 +
        vs(2).asInstanceOf[Double] * 0.15 +
        vs(3).asInstanceOf[Double] / 500 * 0.10 +
        (1 - vs(4).asInstanceOf[Double]) * 0.15 +
        vs(5).asInstanceOf[Double] * 0.15
      val w = win.eval(input)
      if (w != null && w.asInstanceOf[Boolean]) base * 1.1 else base
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evs = children.map(_.genCode(ctx))
    val anyNull = evs.init.map(_.isNull).mkString(" || ")
    val vals = evs.map(_.value)
    val base = ctx.freshName("base")
    val childCode = evs.map(_.code).reduce(_ + _)
    ev.copy(code =
      code"""
        $childCode
        boolean ${ev.isNull} = $anyNull;
        double ${ev.value} = 0.0;
        if (!${ev.isNull}) {
          double $base = ${vals(0)} * 0.25 + ${vals(1)} / 1000 * 0.20 +
            ${vals(2)} * 0.15 + ${vals(3)} / 500 * 0.10 +
            (1 - ${vals(4)}) * 0.15 + ${vals(5)} * 0.15;
          ${ev.value} = (!${evs(6).isNull} && ${vals(6)}) ? $base * 1.1 : $base;
        }
      """)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(kda = newChildren(0), dpm = newChildren(1), killParticipation = newChildren(2),
      gpm = newChildren(3), deathShare = newChildren(4), goldEfficiency = newChildren(5),
      win = newChildren(6))
}

object PerformanceScoreExpr {
  /** Column-facing constructor (Spark 4 internal-Column bridge). Inputs are
    * cast to the expected types so callers can pass ints/decimals.
    */
  def score(kda: Column, dpm: Column, kp: Column, gpm: Column,
      deathShare: Column, goldEff: Column, win: Column): Column =
    Bridge.column(sqlBuilder(
      Seq(kda, dpm, kp, gpm, deathShare, goldEff, win).map(Bridge.expression)))

  /** The one builder behind [[score]], [[register]] and `GraftExtensions`.
    * SQL numeric literals arrive as Decimal, so inputs are cast explicitly
    * (the expression itself is strict about its types).
    */
  private[graft] val sqlBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 7, "performance_score takes 7 arguments")
    val d = exprs.take(6).map(e => Cast(e, DoubleType): Expression)
    PerformanceScoreExpr(d(0), d(1), d(2), d(3), d(4), d(5), Cast(exprs(6), BooleanType))
  }

  /** Make the expression SQL-callable as `performance_score(...)`. */
  def register(spark: SparkSession): Unit =
    Bridge.registerTempFunction(spark, "performance_score", sqlBuilder)
}
