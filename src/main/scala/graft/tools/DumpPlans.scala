package graft.tools

import org.apache.spark.sql.execution.ExplainMode

/** Write the formatted physical plan of board queries to
  * `<outDir>/<name>_<suffix>.txt` — the optimization-round evidence files
  * (plans/r14/<query>_before.txt / _after.txt). The session is built
  * like graft.Bench's (EngineSession: same conf and dialect install), so
  * the dumped plan is the plan the bench actually times.
  *
  * Usage: runMain graft.tools.DumpPlans <sfDir> <outDir> <suffix> [name...]
  * (no names = every registered query).
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    val suffix = args(2)
    val names0 = args.drop(3).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.EngineSession.create(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(outDir)
    val names =
      if (names0.nonEmpty) names0 else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      try {
        // pin the empty cache-registry state each bench rep-1 plan renders
        // against (Bench clears per query; without this, earlier rows'
        // tracked caches leak InMemoryRelations into later rows' plans)
        graft.operators.TextOps.releasePriorCaches()
        spark.catalog.clearCache()
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        val txt = df.queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(outDir.resolve(s"${n}_$suffix.txt"),
          txt.getBytes("UTF-8"))
      } catch {
        case t: Throwable =>
          System.err.println(s"[DumpPlans] $n failed: $t")
      }
    }
    spark.stop()
  }
}
