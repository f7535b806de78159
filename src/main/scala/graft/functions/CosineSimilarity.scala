package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for cosine similarity over two array
  * columns (float or double elements, independently per side), with
  * whole-stage codegen: a single fused loop accumulates dot, |a|^2 and
  * |b|^2, replacing three interpreted higher-order-function folds
  * (zip_with + aggregate) in the hot path of every pairwise similarity
  * operator. Double support exists for k-means-style centroid literals,
  * which are exact double means and must not be rounded to float.
  *
  * Numeric contract: accumulation is left-to-right in double and the
  * result is dot / sqrt(na * nb) — exactly the operation order of
  * EngineFns.cosine and of the DuckDB oracle SQL (EngineFns.cosineSql),
  * so results are bit-identical to both.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<float|double> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "cosine_sim"

  private def isDouble(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (xd, yd) = (isDouble(left), isDouble(right))
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = if (xd) x.getDouble(i) else x.getFloat(i).toDouble
      val yv = if (yd) y.getDouble(i) else y.getFloat(i).toDouble
      dot += xv * yv
      na += xv * xv
      nb += yv * yv
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val getX =
        if (isDouble(left)) s"$a.getDouble($i)" else s"(double) $a.getFloat($i)"
      val getY =
        if (isDouble(right)) s"$b.getDouble($i)" else s"(double) $b.getFloat($i)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |double $na = 0.0;
         |double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = $getX;
         |  double $yv = $getY;
         |  $dot += $xv * $yv;
         |  $na += $xv * $xv;
         |  $nb += $yv * $yv;
         |}
         |${ev.value} = $dot / java.lang.Math.sqrt($na * $nb);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  private val FnName = "cosine_sim"

  /** A Column applying `cosine_sim`, registered first on a session
    * that lacks it (a `GraftSession.local` session has it from creation,
    * through GraftExtensions, and is left as it is). */
  def apply(spark: SparkSession, a: Column, b: Column): Column = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(FnName)))
      registry.createOrReplaceTempFunction(
        FnName, exprs => CosineSimilarity(exprs(0), exprs(1)), "built-in")
    call_function(FnName, a, b)
  }
}
