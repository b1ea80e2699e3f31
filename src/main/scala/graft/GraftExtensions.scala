package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{DotProductExpr, ZOrderExpr}

/** Spark-native integration point: make graft's custom Catalyst
  * expressions available to SQL.
  *
  * Two routes, same registry entries:
  *  - cluster-wide: `--conf spark.sql.extensions=graft.GraftExtensions`
  *    (constructor injection — the canonical SparkSessionExtensions path)
  *  - per-session: `GraftFunctions.register(spark)` for sessions built
  *    without the conf (e.g. the driver-owned Verify/Bench harness).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftFunctions.dotFunction)
    ext.injectFunction(GraftFunctions.zorderFunction)
    ext.injectOptimizerRule(_ => graft.plans.HofFusionRule)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}

object GraftFunctions {
  val dotFunction: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProductExpr].getName, "graft_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_dot(arrayA, arrayB)")
        DotProductExpr(children.head, children(1))
      })

  val zorderFunction: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_zorder"),
      new ExpressionInfo(classOf[ZOrderExpr].getName, "graft_zorder"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_zorder(xBigint, yBigint)")
        ZOrderExpr(children.head, children(1))
      })

  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_dot", dotFunction._3, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_zorder", zorderFunction._3, "built-in")
  }

  /** Per-session twin of the extension's optimizer injection, for
    * sessions built without `spark.sql.extensions` (GraftSession and
    * tests): installs [[graft.plans.HofFusionRule]]
    * through the public experimental-optimizations hook. Idempotent. */
  def installOptimizations(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraOptimizations
    if (!cur.contains(graft.plans.HofFusionRule))
      spark.experimental.extraOptimizations =
        cur :+ graft.plans.HofFusionRule
    val strats = spark.experimental.extraStrategies
    if (!strats.contains(graft.plans.AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        strats :+ graft.plans.AsOfJoinStrategy
  }
}
