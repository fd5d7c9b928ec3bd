package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

import graft.functions.{ApproxDistinctRewrite, GraftFunctions, NativeHashRewrite, TextKernelRewrite, TopKRewrite}
import graft.plans.AsOfJoinStrategy

/** Session extensions: custom planner strategy (as-of join) + optimizer
  * rules (native-hash, text-kernel, approx-distinct and top-k
  * rewrites). Install at session build:
  *
  *   SparkSession.builder().withExtensions(new GraftExtensions)...
  *
  * or retrofit onto a live session with [[GraftExtensions.install]]
  * (uses the experimental hooks — same effect, no session rebuild).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    GraftExtensions.optimizerRules.foreach(r => e.injectOptimizerRule(_ => r))
  }
}

object GraftExtensions {
  /** The optimizer rules, in injection order — the one list both the
    * builder hook and [[install]] add. */
  private val optimizerRules: Seq[Rule[LogicalPlan]] =
    Seq(NativeHashRewrite, TextKernelRewrite, ApproxDistinctRewrite, TopKRewrite)

  def install(spark: SparkSession): Unit = {
    val ex = spark.experimental
    if (!ex.extraStrategies.contains(AsOfJoinStrategy))
      ex.extraStrategies = ex.extraStrategies :+ AsOfJoinStrategy
    val missing = optimizerRules.filterNot(ex.extraOptimizations.contains)
    if (missing.nonEmpty) ex.extraOptimizations = ex.extraOptimizations ++ missing
    GraftFunctions.register(spark)
  }
}
