package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, Multiply, Pow}
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

/** SparkSessionExtensions entry point:
  * `spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => PowToMultiply)
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    e.injectPlannerStrategy(_ => LshSelfJoinStrategy)
  }
}

/** Install on an already-built session (extensions can only be injected
  * at build time; experimental methods take effect immediately).
  */
object GraftOptimizations {
  private val CheckpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  // install() is called from every AsOf.joinAsOf; the read-check-append on
  // the session's experimental lists is not atomic, so two threads building
  // as-of joins concurrently could double-register a rule or drop one
  // registration (round-8 advice). One global lock is enough — installs are
  // rare and cheap, and a per-session lock would need a registry of its own.
  //
  // `withPowRewrite`: the pow rewrite changes floating-point RESULTS
  // session-wide (pow(x,2) -> x*x differs from libm by ulps), which is
  // the graft dialect's intended semantics (MathDsl's `^` sugar matches
  // the reference's repeated-multiply) — but the as-of/LSH join entry
  // points only need the planner STRATEGIES, and silently changing
  // unrelated queries' doubles because a join ran first in the session
  // is a side effect a caller can't see (round-13 review). Operator
  // entry points pass false; the full-dialect surface (GraftExtensions,
  // the board sessions, MathDsl consumers) keeps the default true.
  //
  // The session-build form also binds local checkpoint writes to
  // `graft.streaming.LocalCheckpointFileManager` unless the caller chose
  // a manager: Spark's default forks `chmod` per file without Hadoop's
  // native library. Clones (`EngineSession.isolated`) inherit the key;
  // operator entry points leave conf alone.
  def install(spark: SparkSession, withPowRewrite: Boolean = true): Unit =
    synchronized {
      if (withPowRewrite) {
        val current = spark.experimental.extraOptimizations
        if (!current.contains(PowToMultiply))
          spark.experimental.extraOptimizations = current :+ PowToMultiply
        if (spark.conf.getOption(CheckpointManagerKey).isEmpty)
          spark.conf.set(CheckpointManagerKey,
            classOf[graft.streaming.LocalCheckpointFileManager].getName)
      }
      val strategies = spark.experimental.extraStrategies
      if (!strategies.contains(AsOfJoinStrategy))
        spark.experimental.extraStrategies = strategies :+ AsOfJoinStrategy
      val strategies2 = spark.experimental.extraStrategies
      if (!strategies2.contains(LshSelfJoinStrategy))
        spark.experimental.extraStrategies = strategies2 :+ LshSelfJoinStrategy
    }

  /** `cloneSession()`, which copies the installed rules and runtime conf
    * into the child, is `private[sql]`; this package reaches it.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
}
