package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, Multiply, Pow}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

/** Catalyst optimizer rule: `pow(x, n)` for small integral n becomes a
  * multiplication chain.
  *
  * Two wins: libm `pow` is an exp/log path (slower, and off-by-an-ulp vs
  * repeated multiplication), and the reference itself computes integer
  * powers by repeated multiply (`MathUtils.java:372-601` `^` handling) —
  * so the rewrite aligns our `^` sugar (MathDsl emits pow) with dcafs
  * semantics exactly.
  */
object PowToMultiply extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      // `base.deterministic` guard: pow(rand(), 2) must NOT become
      // rand()*rand(). The n<=4 bound also caps subtree duplication cost.
      case Pow(base, Literal(v: Double, DoubleType))
          if base.deterministic && v == math.floor(v) && v >= 2.0 && v <= 4.0 =>
        val n = v.toInt
        (1 until n).foldLeft(base: Expression)((acc, _) => Multiply(acc, base))
    }
}

/** The graft dialect, injected when a session is built: the pow rewrite,
  * the as-of and LSH self-join planner strategies, and the graft SQL
  * functions (`GraftFunctions.sqlFunctions`). `graft.EngineSession.create`
  * builds every engine session with it; any other session gets it from
  * `spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions`.
  * Extensions reach every `newSession()` of the built session, so a child
  * plans and resolves like its parent. Operator entry points
  * (`AsOf.joinAsOf`, `LshSelfJoin.candidatePairs`) require it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => PowToMultiply)
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    e.injectPlannerStrategy(_ => LshSelfJoinStrategy)
    graft.functions.GraftFunctions.sqlFunctions.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
  }
}

object GraftOptimizations {

  /** Whether `spark` plans with the graft dialect, from the extension or
    * from [[install]].
    */
  def installed(spark: SparkSession): Boolean = {
    val strategies = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.planner.strategies
    strategies.contains(AsOfJoinStrategy) && strategies.contains(LshSelfJoinStrategy)
  }

  /** The precondition of every operator entry point. */
  private[graft] def requireInstalled(spark: SparkSession): Unit =
    require(installed(spark), "the graft dialect is not installed in this " +
      "session: build it with graft.EngineSession.create, or set " +
      "spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions")

  /** The dialect for a session built outside the engine, without the
    * extension: adds the rules to `spark.experimental` (which its
    * `newSession()` children do not inherit) unless [[installed]] already
    * holds, and binds fork-free local I/O (`graft.fs.LocalIo`) on the
    * SparkContext's Hadoop configuration, keeping any key the caller set
    * there, so every session on the context, `newSession()` children
    * included, writes local files and checkpoints without forking.
    * Nothing in the engine calls it.
    */
  def install(spark: SparkSession): Unit = {
    if (!installed(spark)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ PowToMultiply
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy :+ LshSelfJoinStrategy
    }
    graft.fs.LocalIo.bind(spark.sparkContext.hadoopConfiguration)
  }
}
