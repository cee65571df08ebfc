package org.apache.spark.sql.graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.classic.SparkSession

/** The production deployment path: a cluster admin sets
  * `spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions` and
  * every session gets the optimizer rule, the planner strategies and the
  * SQL functions without any code-side install() call. This spec drives
  * the extension object through the real SparkSessionExtensions build
  * hooks (what session construction invokes) so a forgotten injection
  * can't ship, and checks the entry points refuse a session without it.
  */
class ExtensionsSpec extends AnyFunSuite {
  import ExtensionsSpec._

  test("GraftExtensions injects PowToMultiply and AsOfJoinStrategy") {
    val e = new SparkSessionExtensions
    new GraftExtensions().apply(e)
    val rules = e.buildOptimizerRules(engine)
    assert(rules.contains(PowToMultiply),
      s"optimizer rule missing from extension build: $rules")
    val strategies = e.buildPlannerStrategies(engine)
    assert(strategies.contains(AsOfJoinStrategy),
      s"planner strategy missing from extension build: $strategies")
  }

  test("install() is idempotent: repeated calls register each hook once") {
    val s = plain()
    assert(!GraftOptimizations.installed(s))
    GraftOptimizations.install(s)
    GraftOptimizations.install(s)
    assert(GraftOptimizations.installed(s))
    assert(s.experimental.extraOptimizations.count(_ == PowToMultiply) == 1)
    assert(s.experimental.extraStrategies.count(_ == AsOfJoinStrategy) == 1)
    assert(s.experimental.extraStrategies.count(_ == LshSelfJoinStrategy) == 1)
    assert(s.sessionState.newHadoopConf().get(graft.fs.LocalIo.CheckpointManagerKey) ==
      classOf[graft.streaming.LocalCheckpointFileManager].getName)
    GraftOptimizations.install(engine)
    assert(engine.experimental.extraOptimizations.isEmpty)
    assert(engine.experimental.extraStrategies.isEmpty)
  }

  test("joinAsOf and candidatePairs refuse a session without the dialect") {
    val s = plain()
    import s.implicits._
    val left = Seq((1L, 10L, 1L)).toDF("k", "t", "id")
    val right = Seq((1L, 5L, 2L)).toDF("rk", "rt", "rid")
    val e1 = intercept[IllegalArgumentException] {
      AsOf.joinAsOf(left, right, "k", "rk", "t", "rt", "id", "rid")
    }
    val banded = Seq((1L, 0, 7L), (2L, 0, 7L)).toDF("doc_id", "band", "bh")
    val e2 = intercept[IllegalArgumentException] {
      LshSelfJoin.candidatePairs(banded, "doc_id", "band", "bh")
    }
    for (e <- Seq(e1, e2)) {
      assert(e.getMessage.contains("EngineSession.create"), e.getMessage)
      assert(e.getMessage.contains(
        "spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions"), e.getMessage)
    }
    assert(s.experimental.extraStrategies.isEmpty, "the refusal must not install")
  }
}

object ExtensionsSpec {
  def engine: SparkSession = graft.SparkTestSession.spark.asInstanceOf[SparkSession]

  /** A session on the test context, sharing its state, built without the
    * dialect (the shared test session is left as it is). The constructor
    * that takes the shared state and the extensions is Scala-private, so
    * it is reached reflectively; the public one would start a second
    * SharedState with its own listeners on the test context.
    */
  def plain(): SparkSession =
    classOf[SparkSession].getConstructors.find(_.getParameterCount == 6).get
      .newInstance(engine.sparkContext, Some(engine.sharedState), None,
        new SparkSessionExtensions, Map.empty, Map.empty)
      .asInstanceOf[SparkSession]
}
