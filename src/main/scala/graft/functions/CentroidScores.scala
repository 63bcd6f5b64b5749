package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** All-centroid dot products in one native loop:
  * `centroid_scores(u, centroids)` returns `array<double>` of
  * `u · c_j` for each row of the (foldable) centroid matrix.
  *
  * The composable alternative — `array(vec_dot(u, lit(c_0)), ...,
  * vec_dot(u, lit(c_{k-1})))` — builds a k-node expression tree whose
  * analysis, optimization, and generated-code size all scale with k:
  * at k = 256 the quantizer's assignment pass spent more time in plan
  * machinery than in arithmetic (measured in the 50k-vector scale
  * rehearsal). This expression keeps the plan O(1) and the arithmetic
  * in one tight k×d loop behind a static call, inside whole-stage
  * codegen — the k-vs-plan-size coupling is gone.
  */
case class CentroidScores(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"centroid_scores requires (array<double>, array<array<double>>), got $l / $r")
    }

  override def nullSafeEval(u: Any, cents: Any): Any =
    CentroidScores.scores(u.asInstanceOf[ArrayData], cents.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (u, c) => s"graft.functions.CentroidScores.scores($u, $c)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CentroidScores =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "centroid_scores"
}

object CentroidScores {

  /** One k×d dot-product sweep (called from generated code), each a
    * sequential left-to-right sum like [[VecDot.dot]]; a centroid
    * whose dimension differs from `u`'s fails loudly, as there. */
  def scores(u: ArrayData, cents: ArrayData): ArrayData = {
    val k = cents.numElements()
    val d = u.numElements()
    val out = new Array[Double](k)
    var j = 0
    while (j < k) {
      val c = cents.getArray(j)
      val n = c.numElements()
      if (n != d)
        throw new IllegalArgumentException(
          s"centroid_scores: mismatched vector dimensions $d vs $n")
      var acc = 0.0
      var i = 0
      while (i < n) {
        acc += u.getDouble(i) * c.getDouble(i)
        i += 1
      }
      out(j) = acc
      j += 1
    }
    new GenericArrayData(out)
  }

  def centroid_scores(u: Column, cents: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(CentroidScores(Bridge.expression(u), Bridge.expression(cents)))
  }
}
