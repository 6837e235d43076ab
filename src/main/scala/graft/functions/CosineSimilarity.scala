package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native cosine similarity over two numeric arrays — the custom-
  * `Expression` tier applied where it actually pays: vector math over
  * `array<float>`/`array<double>` embeddings. The higher-order-function
  * form (`aggregate(zip_with(...))`) is CodegenFallback — interpreted,
  * per-element virtual calls, excluded from whole-stage codegen. This
  * expression generates a single fused Java loop accumulating dot(a,b),
  * dot(a,a), dot(b,b) in one pass.
  *
  * Bit-compatibility: each accumulator is an independent left-to-right
  * fold over double-widened elements and the result is
  * `dot / (sqrt(na) * sqrt(nb))` — the identical operation order as
  * `Similarity.cosine`, so results are exactly equal (proven by test) and
  * the DuckDB oracles keep matching.
  *
  * Null/shape semantics: null array → null; length mismatch → error
  * (embeddings tables are fixed-dim); null elements are not expected in
  * embedding data and read as 0.
  */
case class CosineSimilarity(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(s"cosine expects array<float|double>, got $other")
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType | DoubleType, _), ArrayType(FloatType | DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cosine expects two array<float|double> args, got ${left.dataType} / ${right.dataType}")
    }
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val aa = a.asInstanceOf[ArrayData]; val bb = b.asInstanceOf[ArrayData]
    val n = aa.numElements()
    require(bb.numElements() == n, s"cosine: dimension mismatch $n vs ${bb.numElements()}")
    val lf = elemIsFloat(left); val rf = elemIsFloat(right)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (lf) aa.getFloat(i).toDouble else aa.getDouble(i)
      val y = if (rf) bb.getFloat(i).toDouble else bb.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val rGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
        int $n = $a.numElements();
        if ($b.numElements() != $n) {
          throw new IllegalArgumentException("cosine: dimension mismatch");
        }
        double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double $x = (double) $a.$lGet($i);
          double $y = (double) $b.$rGet($i);
          $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
        }
        ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
      """
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  def cosine(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarity(Bridge.expression(a), Bridge.expression(b)))

  /** SQL `cosine_similarity(a, b)`, for [[register]] and `GraftExtensions`. */
  private[graft] val sqlBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, "cosine_similarity takes 2 arguments")
    CosineSimilarity(exprs.head, exprs(1))
  }

  /** Make the expression SQL-callable as `cosine_similarity(a, b)`. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    Bridge.registerTempFunction(spark, "cosine_similarity", sqlBuilder)
}
