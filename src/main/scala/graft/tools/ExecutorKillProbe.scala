package graft.tools

import org.apache.spark.sql.functions._

/** Executor-LOSS recovery probe: run a shuffle-heavy native-aggregate
  * query on a real multi-process cluster (local-cluster), kill -9 one
  * executor JVM mid-flight, and pin the result equal to the clean run.
  * This is the production failure a 1000-executor cluster sees daily —
  * one level harsher than RetryDeterminismSpec's injected task failure
  * (here the shuffle files and cached blocks on the dead executor are
  * gone too, so the scheduler replays whole map stages).
  *
  * Needs the packaged jar:
  *   sbt package
  *   SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  *   sbt "runMain graft.tools.ExecutorKillProbe /root/testdata/sf0.1 \
  *        target/scala-2.13/dcafsspark_2.13-0.1.0.jar"
  */
object ExecutorKillProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ExecutorKillProbe <sfDir> <jar>")
    val dir = args(0)
    val spark = graft.EngineSession.create("local-cluster[2,8,4096]", 16,
      "spark.executor.memory" -> "3g", "spark.jars" -> args(1))
    spark.sparkContext.setLogLevel("ERROR")

    // shuffle-heavy + native aggregate: the orderkey repartition makes a
    // real map/reduce boundary whose map outputs live on BOTH executors,
    // and TopKAgg buffers merge across it
    def q() = graft.Tables.load(spark, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_partkey")
      .repartition(col("l_orderkey"))
      .groupBy(col("l_orderkey") % 1000)
      .agg(org.apache.spark.sql.graft.TopKAgg.topkEntries(
        col("l_quantity").cast("double"), col("l_partkey"), 5).as("tk"))
      .select(col("(l_orderkey % 1000)").as("g"), explode(col("tk")))
      .collect().map(_.toString).sorted.toSeq

    val clean = q()
    println(s"[probe] clean run: ${clean.size} rows")

    // scope the pid scan to THIS application's executors (--app-id on
    // the executor command line) so a concurrent cluster session on the
    // host can neither abort the probe nor become the kill target
    val appId = spark.sparkContext.applicationId
    def executorPids(): Seq[Long] = {
      val out = new ProcessBuilder("sh", "-c",
        "ps -eo pid,args | grep CoarseGrainedExecutorBackend" +
          s" | grep -- '--app-id $appId' | grep -v grep")
        .start()
      val lines = scala.io.Source.fromInputStream(out.getInputStream)
        .getLines().toList
      lines.flatMap(_.trim.split("\\s+").headOption.flatMap(_.toLongOption))
    }
    val before = executorPids()
    println(s"[probe] executor JVMs before kill: $before")
    require(before.size == 2, s"expected 2 executor processes, got $before")

    // run the query in a worker thread; kill an executor mid-flight
    @volatile var retried: Seq[String] = Nil
    val t = new Thread(() => { retried = q() })
    t.start()
    Thread.sleep(400) // let the map stage start
    // the kill must land MID-QUERY or the probe proves nothing — fail
    // loudly instead of printing a vacuous PASS (enlarge the workload
    // or shorten the sleep if this trips)
    require(t.isAlive, "query finished before the kill — nothing was tested")
    val victim = before.head
    Runtime.getRuntime.exec(Array("kill", "-9", victim.toString)).waitFor()
    println(s"[probe] killed executor pid $victim mid-query")
    t.join(300000)
    require(retried.nonEmpty, "query did not complete after executor loss")
    val after = executorPids()
    println(s"[probe] executor JVMs after recovery: $after " +
      s"(replacement spawned: ${after.exists(p => !before.contains(p))})")
    println(s"[probe] result equal to clean run: ${retried == clean}")
    require(retried == clean,
      s"result diverged after executor loss: ${retried.size} vs ${clean.size} rows")
    spark.stop()
    println("[probe] PASS: executor-loss recovery is result-identical")
  }
}
