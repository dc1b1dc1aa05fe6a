package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd float-array dot product.
  *
  * The embedding hot path (cosine top-k, near-dup pairs — SURVEY.md §2.9)
  * evaluates millions of 64-dim dot products; Spark's higher-order
  * functions (`zip_with` + `aggregate`) run them interpreted, one lambda
  * call per element. This expression generates a tight Java loop inside
  * whole-stage codegen instead (~40× on the sf0.1 near-dup bench).
  *
  * Semantics match the HOF formulation bit-for-bit: each float is
  * widened to double, products accumulate left-to-right in a double.
  */
case class DotProductFloat(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_f32 expects two array<float> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_f32"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val aa = a.asInstanceOf[ArrayData]
    val bb = b.asInstanceOf[ArrayData]
    val n = math.min(aa.numElements(), bb.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += aa.getFloat(i).toDouble * bb.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductFloat =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance over float arrays — same codegen shape as
  * [[DotProductFloat]] (one fused loop beats dot(a,a)−2dot(a,b)+dot(b,b)
  * three-pass composition). Euclidean metric for IVF / clustering.
  */
case class L2SquaredFloat(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"l2sq_f32 expects two array<float> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "l2sq_f32"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val aa = a.asInstanceOf[ArrayData]
    val bb = b.asInstanceOf[ArrayData]
    val n = math.min(aa.numElements(), bb.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = aa.getFloat(i).toDouble - bb.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = (double) $a.getFloat($i) - (double) $b.getFloat($i);
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2SquaredFloat =
    copy(left = newLeft, right = newRight)
}

object ArrayMath {
  /** Column-level handle for [[DotProductFloat]]. */
  def dotF(a: Column, b: Column): Column =
    GraftColumnBridge.column(DotProductFloat(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Column-level handle for [[L2SquaredFloat]]. */
  def l2sqF(a: Column, b: Column): Column =
    GraftColumnBridge.column(L2SquaredFloat(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
}
