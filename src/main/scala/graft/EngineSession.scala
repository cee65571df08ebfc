package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.{GraftExtensions, GraftOptimizations}

import graft.fs.LocalIo

/** The one place an engine session is configured, as dcafs configures
  * everything from one settings.xml read at boot. Every entry point
  * (Bench, Verify, DumpPlans, the tools, GraftApp) and the test suite
  * build through [[create]], so the plans Verify checks are the plans
  * Bench times, DumpPlans prints and the plan pins check. The graft
  * dialect (`GraftExtensions`) is part of the session from its build, so
  * every `newSession()` child plans and resolves like its parent. Replay
  * queries scope their streaming conf through `FileReplay.start`; work
  * that needs its own conf runs on [[isolated]].
  *
  * {{{ EngineSession.create(s"local[$cpus]", cpus.toInt) }}}
  */
object EngineSession {

  /** Spark's AQE bound for rewriting a sort-merge join to a shuffled-hash
    * join from measured partition sizes: 64 MB.
    */
  private val ShjLocalMapBytes = 64L * 1024 * 1024

  /** Build a session with the graft dialect (`GraftExtensions`: pow
    * rewrite, native join strategies, graft SQL functions), fork-free
    * local I/O for every session on its SparkContext (`graft.fs.LocalIo`,
    * bound as `spark.hadoop.*` conf), the batch conf every entry point
    * shares, then `conf` (which may override any of it).
    * Extensions apply only when `getOrCreate` creates the session, so
    * joining a session that was built without them is an error, not a
    * silent change of plans.
    * It leaves streaming conf at Spark's defaults: a deployment (GraftApp)
    * keeps no-data micro-batches on, which idle alerts need, and each
    * replay row sets its own at start (`FileReplay.start`).
    * `SPARK_GRAFT_JARS` ships the packaged library to executor processes
    * and `SPARK_GRAFT_EXECUTOR_MEM` sizes them, for a multi-process master
    * such as `local-cluster[2,16,8192]` (executors don't share the
    * driver's classpath).
    */
  def create(master: String, shufflePartitions: Int,
      conf: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // the batch tools serve no web UI; GraftApp turns it back on
      .config("spark.ui.enabled", "false")
      // never truncate scan metadata in explain strings: the default
      // 100-char budget is applied to the RAW string, so runs whose
      // expr-ids are wider truncate where others don't, destabilizing the
      // plan fingerprint
      .config("spark.sql.maxMetadataStringLength", "100000")
      // Join strategy (optimization guide §3.1/§9): allow shuffled-hash
      // joins where the planner's per-partition build-size conditions
      // hold, and let AQE rewrite sort-merge to shuffled-hash at runtime
      // under the measured-size threshold below. Round-15 tried reverting
      // the STATIC half to sort-merge (the ADVICE estimate-risk point; a
      // 10x A/B on six uncached rows mildly favored it) and the full board
      // rejected the revert: tracked-cache materialization runs WITHOUT
      // AQE, so the big cached join subtrees (the co-purchase lineitem
      // self-join behind 8 graph rows, the LSH band chains) get only the
      // static choice — with sort-merge forced there, join-heavy rows
      // regressed ~1-2 s each in the closing record. The estimate risk
      // remains: a skewed or misestimated deployment should pass
      // `"spark.sql.join.preferSortMergeJoin" -> "true"` as `conf` (the AQE
      // runtime rewrite, which decides from measured partition sizes with
      // the 64 MB bound, stays on either way).
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        ShjLocalMapBytes.toString)
    LocalIo.Binding.foreach { case (k, v) => b.config(s"spark.hadoop.$k", v) }
    sys.env.get("SPARK_GRAFT_JARS").foreach(j => b.config("spark.jars", j))
    sys.env.get("SPARK_GRAFT_EXECUTOR_MEM")
      .foreach(m => b.config("spark.executor.memory", m))
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    // a `file:` FileSystem cached in this JVM before the context existed
    // would otherwise serve every session
    LocalIo.serveConfiguredFs(spark.sparkContext.hadoopConfiguration)
    require(GraftOptimizations.installed(spark), "EngineSession.create " +
      "joined a session built without the graft dialect; build it first")
    spark
  }

  /** A child of `s` for work that needs its own conf: it shares the
    * SparkContext, SharedState and CacheManager, has the graft dialect and
    * `s`'s build conf, and applies `conf` only to itself. Runtime conf set
    * on `s` after its build does not carry over (`Tables.load` sets its
    * own on whichever session loads).
    */
  def isolated(s: SparkSession, conf: (String, String)*): SparkSession = {
    val child = s.newSession()
    conf.foreach { case (k, v) => child.conf.set(k, v) }
    child
  }
}
