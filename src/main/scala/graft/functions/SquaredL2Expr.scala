package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst squared-L2 distance over two array<double> columns —
  * the hot kernel of PQ encoding/search (`(x-y)·(x-y)` folded left).
  *
  * Unlike [[DotProductExpr]] this expression reproduces the HOF chain
  * `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0.0, _+_)`
  * BIT-EXACTLY INCLUDING NULL SEMANTICS, because
  * [[graft.plans.HofFusionRule]] substitutes it for that chain and an
  * optimizer rewrite must be observationally identical:
  *  - a null element pair poisons the result to null (the HOF's
  *    `acc + null` propagation);
  *  - UNEQUAL lengths yield null (zip_with pads the shorter side with
  *    nulls → null product → null accumulator);
  *  - the fold order and double-only arithmetic match the HOF and the
  *    DuckDB `list_reduce` oracle.
  */
case class SquaredL2Expr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "graft_squared_l2"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def elemOk(t: DataType): Boolean = t match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (elemOk(left.dataType) && elemOk(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<double> inputs, got " +
          s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getDouble(i) - y.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |double $acc = 0.0;
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      ${ev.isNull} = true; $acc = 0.0; break;
         |    }
         |    double $d = $a.getDouble($i) - $b.getDouble($i);
         |    $acc += $d * $d;
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SquaredL2Expr =
    copy(left = newLeft, right = newRight)
}
