package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerSpeculativeTaskSubmitted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Duplicate-attempt determinism under SPECULATIVE execution — the third
  * re-execution mode after task retry (RetryDeterminismSpec) and executor
  * loss (ExecutorKillProbe). Speculation launches a CONCURRENT copy of a
  * straggling task; whichever attempt finishes first commits, so the
  * native operators and the commit path must produce identical results
  * from either attempt, racing.
  *
  * spark.speculation is read at scheduler startup, so this runs in its
  * own session (a probe main, not a shared-session spec). The straggler
  * is injected: attempt 0 of partition 0 sleeps long enough that the
  * speculative clone (attempt 1, which does not sleep) wins the race —
  * the committed output then COMES FROM the speculative attempt.
  *
  * Spark's scheduler hard-disables speculation under local[*] masters,
  * so the probe runs on local-cluster (real executor processes — needs
  * the packaged jar and SPARK_HOME/SPARK_SCALA_VERSION, like
  * ExecutorKillProbe):
  *
  *   sbt package
  *   SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  *   sbt "runMain graft.tools.SpeculationProbe /root/testdata/sf0.1 \
  *        target/scala-2.13/dcafsspark_2.13-0.1.0.jar"
  */
object SpeculationProbe {
  val speculated = new AtomicInteger(0)

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: SpeculationProbe <sfDir> <jar>")
    val dir = args(0)
    val spark = graft.EngineSession.create("local-cluster[2,4,3072]", 8,
      "spark.executor.memory" -> "2g", "spark.jars" -> args(1),
      "spark.speculation" -> "true",
      "spark.speculation.interval" -> "50ms",
      "spark.speculation.quantile" -> "0.5",
      "spark.speculation.multiplier" -> "1.2")
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onSpeculativeTaskSubmitted(
          e: SparkListenerSpeculativeTaskSubmitted): Unit =
        speculated.incrementAndGet()
    })

    def slowPartition0(df: DataFrame): DataFrame = {
      val enc = org.apache.spark.sql.Encoders.row(df.schema)
      df.mapPartitions { it =>
        val tc = TaskContext.get()
        // only the ORIGINAL attempt straggles; the speculative clone
        // runs at full speed and wins the commit race
        if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0)
          Thread.sleep(8000)
        it
      }(enc)
    }

    // shuffle + native aggregate downstream of the straggler: the
    // committed map output of partition 0 is the SPECULATIVE attempt's
    def q(inject: Boolean): Seq[String] = {
      val base = graft.Tables.load(spark, dir, "orders")
        .select("o_orderstatus", "o_totalprice", "o_orderkey")
        .repartition(8, col("o_orderkey"))
      val in = if (inject) slowPartition0(base) else base
      in.groupBy("o_orderstatus")
        .agg(org.apache.spark.sql.graft.TopKAgg
          .topkEntries(col("o_totalprice"), col("o_orderkey"), 5).as("tk"))
        .select(col("o_orderstatus"), posexplode(col("tk")))
        .collect().map(_.toString).sorted.toSeq
    }

    val clean = q(inject = false)
    println(s"[probe] clean run: ${clean.size} rows")
    // snapshot AFTER draining the (async) listener bus: speculation is
    // active during the clean run too, so natural variance there could
    // launch attempts — counting only the injected run's DELTA keeps the
    // gate from passing vacuously on a clean-run speculation; draining
    // again before reading keeps a genuinely-speculated healthy run from
    // failing on an event still in flight
    org.apache.spark.sql.graft.ListenerBridge
      .drainListenerBus(spark.sparkContext)
    val before = speculated.get()
    val raced = q(inject = true)
    org.apache.spark.sql.graft.ListenerBridge
      .drainListenerBus(spark.sparkContext)
    val injectedAttempts = speculated.get() - before
    println(s"[probe] speculative attempts launched (injected run): " +
      s"$injectedAttempts (session total ${speculated.get()})")
    println(s"[probe] result equal to clean run: ${raced == clean}")
    require(injectedAttempts > 0,
      "no speculative attempt launched during the injected run — the " +
        "probe tested nothing (raise the sleep or lower the quantile)")
    require(raced == clean, "result diverged under speculative execution")
    spark.stop()
    println("[probe] PASS: duplicate-attempt (speculation) commit is result-identical")
  }
}
