package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._

/** Benchmark main. Runs every selected query serially, in name order, on the
  * engine session, and reports each row's MIN wall-time over `reps` runs, so
  * one co-tenant load spike on the bench host can't masquerade as a plan
  * regression. Alongside each timing it records a plan fingerprint — a
  * stable hash of the physical-plan node sequence — so a timing change with
  * an unchanged fingerprint is attributable to the environment, not the
  * plan. A fixture-independent host probe, run through the pass, labels the
  * record quiet or loaded; per-row times and plans go to the record file,
  * and stdout ends in one short summary line.
  */
object Bench {
  /** Stable fingerprint of the physical plan shape. Collecting node
    * classes misses everything under AdaptiveSparkPlanExec (its children
    * are hidden from collect, so every AQE query hashed identically);
    * instead hash the simple-mode explain — which prints the full tree,
    * AQE included — with run-varying ids (expr #n, plan_id, temp view
    * names, file paths) stripped so the hash is invariant across runs
    * and changes exactly when the plan shape does. JVM-synthesized names are
    * per-process — lambda classes (`Foo$$Lambda$123/0x0000abcd`, or no
    * counter on newer JDKs) and `Object.toString` identity suffixes
    * (`decoder@3f5a1b`) — so they are normalized too; without that, every
    * typed `mapPartitions` kernel produced a fresh fingerprint per JVM,
    * defeating the "unchanged fingerprint ⇒ environment, not plan"
    * attribution exactly on the queries a reviewer most wants it for.
    */
  private[graft] def planFingerprint(df: org.apache.spark.sql.DataFrame): String = {
    val explain = df.queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    md5Hex(normalizePlan(explain))
  }

  /** Normalizer split out so fingerprint invariance across distinct JVMs is
    * directly testable (two real sessions in one test JVM share lambda
    * classes, so only a string-level pin can cover the cross-process case).
    *
    * Round 13 evaluated replacing this regex chain with a hash of Spark's
    * own `executedPlan.canonicalized` tree (the round-12 verdict's
    * suggestion) and REJECTED it on evidence: 57/303 queries drifted
    * across fresh sessions because (a) canonicalization does not descend
    * into subquery plans — every `Subquery`/`InSubquery`/broadcast-reused
    * subtree prints RAW session-global expr ids — and (b) the
    * RewriteDistinctAggregates column swap survives canonicalization
    * whenever the distinct columns differ in TYPE (the canonical
    * rendering keeps `none#0L` vs `none#1` type suffixes, so swapped
    * order still reads differently). Fixing both would need this same
    * regex+sort chain on top of the canonical string — strictly more
    * machinery, not less. The chain below stays the primary scheme; its
    * growth is bounded by FingerprintSpec's two-fresh-sessions sweep over
    * every registered query, which is what found each rule.
    */
  private[graft] def normalizePlan(explain: String): String = explain
    .replaceAll("#\\d+", "#")
    .replaceAll("plan_id=\\d+", "plan_id=")
    .replaceAll("\\[file:[^\\]]*\\]", "[file]")
    // replay parquet-sink scans print their per-run temp dir without a
    // file: prefix (MetadataLogFileIndex(1 paths)[/tmp/graft_psink...]).
    // Matched on the graft_psink marker ANYWHERE in the bracket, not on a
    // hardcoded /tmp prefix: Files.createTempDirectory honors
    // java.io.tmpdir, so on a host with a relocated tmpdir the old
    // /tmp-anchored rule missed and every replay fingerprint drifted
    // per run (round-13 ADVICE)
    .replaceAll("\\[[^\\]\\n]*graft_psink[^\\]\\n]*\\]", "[psink]")
    .replaceAll("isFinalPlan=\\w+", "")
    .replaceAll("\\$\\$Lambda(\\$\\d+)?/0x[0-9a-fA-F]+", "\\$\\$Lambda")
    .replaceAll("\\$\\$Lambda\\$\\d+", "\\$\\$Lambda")
    .replaceAll("@[0-9a-fA-F]{4,}", "@")
    // higher-order-function variables (`lambdafunction(... lambda x_7#)`) use
    // a session-global name counter, so the same plan built later in a
    // session prints larger suffixes
    .replaceAll("lambda ([A-Za-z]+)_\\d+#", "lambda $1#")
    // common-subexpression aliases minted by RewriteWithExpression (the
    // desugaring of nullif/With) use the same session-global counter —
    // `_common_expr_9` in one session is `_common_expr_16` in the next
    .replaceAll("_common_expr_\\d+", "_common_expr_")
    // scan metadata (DataFilters etc.) is truncated at a char budget BEFORE
    // our id-stripping, so differing expr-id widths shift where `...` cuts
    // (or whether it cuts at all); drop the whole truncated bracket/struct
    // body rather than hash the unstable prefix. Both rules are line-bounded
    // (a negated class matches \n!) and the struct rule is anchored so a `<`
    // comparison operator can't start a match.
    .replaceAll("\\[[^\\]\\n]*\\.\\.\\.", "[...")
    .replaceAll("struct<[^>\\n]*\\.\\.\\.", "struct<...")
    // driver-computed sketch summaries embedded as plan literals (Misra-
    // Gries keys in q_approx_topk) have run-varying MARGINAL elements:
    // the row's RESULT is deterministic (a bound filter keeps only
    // guaranteed-heavy keys) but the literal's tail would churn the
    // fingerprint between same-code runs. Collapse any very long FLAT
    // bracket body (no nesting — plan operator lists like keys=[...]
    // contain #-marked attrs and parens and stay under this shape) to a
    // stable token. Line-bounded like the truncation rules above.
    .replaceAll("\\[[^\\[\\]()\\n]{400,}\\]", "[:longlit:]")
    // RewriteDistinctAggregates numbers its gid groups by iterating a map
    // keyed on expr-ids (a session-global counter): two sessions render the
    // SAME multi-countDistinct plan with the distinct columns swapped and
    // gid 1<->2. The affected lists are commutative — grouping keys,
    // hash-partitioning keys, aggregate-function lists, Expand projection
    // sets — so canonicalize them by sorting (see canonCommutative).
    .replaceAll("\\(gid# = \\d+\\)", "(gid# = _)")
    .split("\n", -1).map(canonCommutative).mkString("\n")

  /** Sort the top-level elements of the commutative lists a physical-plan
    * line renders: `keys=[...]`, `functions=[...]`, `hashpartitioning(...)`
    * (all but the trailing partition count), and on Expand lines both the
    * projection-set brackets (element multiset per projection — positions
    * are tied to the output list, which itself is reordered) and the output
    * attribute list. Order-significant lists (Sort keys, rangepartitioning,
    * Project output) are deliberately untouched.
    */
  private[graft] def canonCommutative(line0: String): String = {
    var line = line0
    line = canonMarker(line, "keys=[", dropLast = false, deep = false)
    line = canonMarker(line, "functions=[", dropLast = false, deep = false)
    line = canonMarker(line, "hashpartitioning(", dropLast = true, deep = false)
    if (line.contains("Expand [")) {
      line = canonMarker(line, "Expand [", dropLast = false, deep = true)
      line = canonMarker(line, "], [", dropLast = false, deep = false)
    }
    line
  }

  /** Rewrite every `marker`-introduced balanced bracket group in `line` with
    * its top-level comma elements sorted. `dropLast` keeps the final element
    * in place (hashpartitioning's partition count); `deep` additionally
    * sorts inside `[...]` sub-elements and collapses bare integer literals
    * (Expand gid values, which drift with the group numbering) to `_`.
    */
  private def canonMarker(line: String, marker: String,
      dropLast: Boolean, deep: Boolean): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < line.length) {
      val at = line.indexOf(marker, i)
      val open = if (at < 0) -1 else at + marker.length - 1
      val close = if (open < 0) -1 else balancedEnd(line, open)
      if (close < 0) { sb.append(line.substring(i)); i = line.length }
      else {
        sb.append(line.substring(i, open + 1))
        val parts = splitTop(line.substring(open + 1, close))
        val items =
          if (!deep) parts
          else parts.map { p =>
            if (p.length > 1 && p.head == '[' && p.last == ']')
              splitTop(p.substring(1, p.length - 1))
                .map(e => if (e.forall(_.isDigit)) "_" else e)
                .sorted.mkString("[", ", ", "]")
            else p
          }
        val sorted =
          if (dropLast && items.nonEmpty) items.init.sorted :+ items.last
          else items.sorted
        sb.append(sorted.mkString(", ")).append(line.charAt(close))
        i = close + 1
      }
    }
    sb.toString
  }

  /** Index of the bracket/paren matching the one at `start`, or -1. */
  private def balancedEnd(s: String, start: Int): Int = {
    var depth = 0
    var i = start
    while (i < s.length) {
      s.charAt(i) match {
        case '[' | '(' => depth += 1
        case ']' | ')' => depth -= 1; if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    -1
  }

  /** Split on top-level commas (bracket/paren nesting respected), trimmed. */
  private def splitTop(s: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var depth = 0
    s.foreach { c =>
      c match {
        case '[' | '(' => depth += 1; sb.append(c)
        case ']' | ')' => depth -= 1; sb.append(c)
        case ',' if depth == 0 => out += sb.result().trim; sb.clear()
        case _ => sb.append(c)
      }
    }
    out += sb.result().trim
    out.toArray
  }

  private[graft] def md5Hex(s: String): String = {
    val md5 = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    md5.take(4).map(b => f"$b%02x").mkString
  }

  /** The committed record's fixture; only a full board over it writes
    * `bench_last.json` and the history. */
  private val DefaultSf = "/root/testdata/sf0.1"

  /** The bench's whole configuration; every record prints it. */
  private[graft] final case class Config(sf: String, master: String,
      cpus: Int, reps: Int) {
    def isLocal: Boolean = master.startsWith("local[")
    def json: String = s"""{"sf":${jsonStr(sf)},"master":${jsonStr(master)},""" +
      s""""cpus":$cpus,"reps":$reps}"""
  }

  private[graft] object Config {
    def fromEnv(): Config = {
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
      Config(
        sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", DefaultSf),
        // multi-process cluster mode — see Verify: same env knobs, default
        // stays the driver's local[N] contract
        master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"),
        cpus = cpus,
        reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1))
    }
  }

  /** One board row: its min seconds over the reps, and the fingerprint of
    * its first successful rep ("err" when every rep failed). */
  private[graft] final case class RowResult(name: String, sec: Double,
      plan: String)

  /** File-replay harness rows: their cost is per-micro-batch state commits,
    * linear in replayed rows by construction, not operator plan cost, so
    * the record sums them apart from the operator rows. */
  private[graft] def isReplay(name: String): Boolean =
    name.startsWith("st_stream_") || name.startsWith("dd_stream_")

  /** Label a pass by its WORST host probe: one co-tenant burst late in the
    * board (r15's w_sliding 0.2 → 13.4 s) must not average away under
    * quiet probes elsewhere. No probe measured → "uncalibrated". */
  private[graft] def recordQuality(probes: Seq[Double], gate: Double): String =
    if (probes.isEmpty) "uncalibrated"
    else if (probes.max <= gate) "quiet"
    else "loaded"

  /** Host-probe gate: twice the median of the quiet `host_canary_mean`
    * values recorded in `history` under THIS host fingerprint, floored so a
    * pristine history can't make normal jitter "loaded". A different
    * physical host has a genuinely different quiet floor, so entries from
    * other fingerprints (and entries predating the field) are skipped and
    * the default floor re-seeds. Cluster probes pay the RPC round, so they
    * admit a wider quiet band, and with no cluster history there is no
    * principled prior: None, and the record is "uncalibrated". */
  private[graft] def hostGate(history: Seq[String], hostFp: String,
      isLocal: Boolean): Option[Double] = {
    val quiet = history
      .filter(l => "\"host_fp\":\"([^\"]+)\"".r.findFirstMatchIn(l)
        .exists(_.group(1) == hostFp))
      .flatMap(l => "\"host_canary_mean\":([0-9.]+)".r.findFirstMatchIn(l)
        .map(_.group(1).toDouble))
      .filter(c => c > 0 && c <= (if (isLocal) 1.0 else 3.0))
    if (quiet.isEmpty && !isLocal) None
    else {
      val median = if (quiet.isEmpty) 0.25 else quiet.sorted.apply(quiet.size / 2)
      Some(math.max(0.5, 2.0 * median))
    }
  }

  /** The record's summary: the last stdout line, and the head of the record
    * file. Its size does not grow with the row count (the driver keeps only
    * the tail of stdout); per-row times and plans live in the file alone.
    * `value` is the sum of every row's min time: operator rows (`ops_sec`)
    * plus replay rows timed solo (`replay_solo_sec`). */
  private[graft] def summary(rows: Seq[RowResult], probes: Seq[Double],
      gate: Option[Double], hostFp: String, conf: Config,
      recordPath: String): String = {
    val (replay, ops) = rows.partition(r => isReplay(r.name))
    val opsSec = dec(ops.map(_.sec).sum)
    val replaySec = dec(replay.map(_.sec).sum)
    val timed = rows.map(_.sec).filter(_ > 0)
    val geomean =
      if (timed.isEmpty) None
      else Some(math.exp(timed.map(math.log).sum / timed.size))
    val probeMean =
      if (probes.isEmpty) None else Some(probes.sum / probes.size)
    val quality = gate.fold("uncalibrated")(recordQuality(probes, _))
    s"""{"metric":"total","value":${plain(opsSec + replaySec)},"unit":"sec",""" +
      s""""ops_sec":${plain(opsSec)},"replay_solo_sec":${plain(replaySec)},""" +
      s""""rows":${rows.size},"errors":${rows.count(_.plan == "err")},""" +
      s""""geomean_sec":${opt(geomean)},"record_quality":"$quality",""" +
      s""""host_canary_mean":${opt(probeMean)},""" +
      s""""host_canary_max":${opt(probes.maxOption)},""" +
      s""""host_canary_gate":${opt(gate)},"host_fp":${jsonStr(hostFp)},""" +
      s""""config":${conf.json},"record":${jsonStr(recordPath)}}"""
  }

  private def dec(d: Double): BigDecimal =
    BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP)
  private def plain(d: BigDecimal): String = d.bigDecimal.toPlainString
  private def num(d: Double): String = plain(dec(d))
  /** An unmeasured value is JSON null. */
  private def opt(d: Option[Double]): String = d.fold("null")(num)

  private def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def jsonObj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => jsonStr(k) + ":" + v }.mkString("{", ",", "}")

  /** Memory-sink hygiene (round-10 100x sweep: the JVM OOMed in the
    * dd_stream_* rows): every streaming parity row registers a memory-sink
    * temp view whose rows live on the driver until the view is dropped. */
  private def dropTempViews(spark: SparkSession): Unit =
    try spark.catalog.listTables().collect()
      .filter(_.isTemporary).foreach(t => spark.catalog.dropTempView(t.name))
    catch { case _: Throwable => }

  private def releaseCaches(spark: SparkSession): Unit = {
    graft.operators.TextOps.releasePriorCaches()
    spark.catalog.clearCache()
  }

  /** Time one row as the min of `reps` runs and fingerprint its first
    * successful run.
    *
    * The cache-registry state each query fingerprints (and first executes)
    * against is pinned EMPTY. Round-8 postmortem: the LRU registry made a
    * query's plan depend on which OTHER board rows ran before it — adding
    * any row shifted the alphabetical order and churned 174/246
    * fingerprints between same-code runs. With a per-row reset, rep 1
    * derives the query's own caches from scratch (deterministic), later
    * reps hit them, and the min still reports the warm steady state. Until
    * a fingerprint is recorded every rep re-pins: a rep that died after
    * registering frames would otherwise leave them for the next one. The
    * first successful rep is the one fingerprinted, matching
    * FingerprintSpec's clearCache-then-fingerprint convention.
    */
  private def timeRow(spark: SparkSession, conf: Config, name: String,
      fn: (SparkSession, String) => DataFrame): RowResult = {
    var fp = "err"
    val times = (1 to conf.reps).map { _ =>
      dropTempViews(spark)
      if (fp == "err") releaseCaches(spark)
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, conf.sf)
        df.count()
        if (fp == "err") fp = planFingerprint(df)
      } catch { case _: Throwable => }
      (System.nanoTime() - t0) / 1e9
    }
    // release the last rep's sink rows now, not at the next row
    dropTempViews(spark)
    RowResult(name, times.min, fp)
  }

  /** Fixture-independent host-load probe: a range-sum whose cost is pure
    * CPU + scheduler, so its quiet floor is a property of the HOST,
    * comparable across every fixture scale. 1M rows PER CORE, one partition
    * per core: per-core work is constant, so the floor is comparable across
    * SPARK_GRAFT_CPUS settings too. pmod bounds each value under 1e6 so the
    * sum stays far inside long range under ANSI. Cluster mode adds one
    * fixed SMALL shuffle (1024 keys, 200k rows/core) so the probe crosses
    * the executor JVM boundary and its floor moves with RPC latency + serde
    * pressure like the board's exchanges; it gets its own host fingerprint
    * so the two histories never mix.
    */
  private def hostProbe(spark: SparkSession, conf: Config): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 1000000L * conf.cpus, 1, conf.cpus)
      .selectExpr("sum(pmod(id * 31, 1000007)) AS s").head()
    if (!conf.isLocal)
      spark.range(0L, 200000L * conf.cpus, 1, conf.cpus)
        .selectExpr("pmod(id, 1024) AS k", "id")
        .groupBy("k").agg(org.apache.spark.sql.functions.sum("id").as("s"))
        .selectExpr("sum(s)").head()
    (System.nanoTime() - t0) / 1e9
  }

  private val HostProbeEvery = 40 // plus one at the start and one at the end

  /** A missing or unreadable history is an empty one. */
  private def readLines(file: String): Seq[String] =
    try Files.readAllLines(Paths.get(file)).asScala.toSeq
    catch { case _: Throwable => Seq.empty }

  def main(args: Array[String]): Unit = {
    val conf = Config.fromEnv()
    // batch conf and the graft dialect come from EngineSession; replay
    // rows scope their streaming conf per query (FileReplay.start)
    val spark = EngineSession.create(conf.master, conf.cpus)
    spark.sparkContext.setLogLevel("WARN")
    // warm the session (parquet reader, codegen, shuffle machinery) so the
    // first measured query doesn't absorb JVM start-up costs
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    // the probe's own first run pays its codegen and JIT (0.73 s against
    // 0.16-0.34 s for the rest of a 4-core sf0.1 pass); labeling by the
    // worst probe would turn that into "loaded" every time
    try hostProbe(spark, conf) catch { case _: Throwable => }
    // optional query-name filter for iterating on a single row's timing
    val only = args.toSet
    val selected = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }.sortBy(_._1)

    // probes interleave the pass: one at the start alone would miss a
    // mid-board co-tenant burst, and the closing one covers the last rows.
    // A probe failure must not kill a record run; no probe at all labels
    // the record "uncalibrated".
    val probes = scala.collection.mutable.ArrayBuffer.empty[Double]
    def probe(): Unit =
      try probes += hostProbe(spark, conf) catch { case _: Throwable => }
    // count registry behavior over the measured pass only, not the warm-up
    graft.operators.TextOps.resetCacheStats()
    probe()
    val rows = selected.zipWithIndex.map { case ((name, fn), i) =>
      val row = timeRow(spark, conf, name, fn)
      // the row is counted and fingerprinted: its parquet sink dirs are
      // dead weight now
      if (isReplay(name)) graft.streaming.FileReplay.purgePsinks()
      if ((i + 1) % HostProbeEvery == 0 || i == selected.size - 1) probe()
      row
    }
    val (hits, misses, evictions) = graft.operators.TextOps.cacheStats

    // The fingerprint is the physical core count + probe thread count, plus
    // "/rpc" for the cluster probe (a different quantity): the gate only
    // reads history entries with a matching fingerprint.
    val hostFp = s"${Runtime.getRuntime.availableProcessors}c/${conf.cpus}t" +
      (if (conf.isLocal) "" else "/rpc")
    val historyFile =
      if (conf.isLocal) "bench_history.jsonl" else "bench_cluster_history.jsonl"
    val gate = hostGate(readLines(historyFile), hostFp, conf.isLocal)
    // bench_last.json is ONLY the full-board record on the committed
    // fixture (a 10x subset run once overwrote the committed sf0.1 record
    // silently); a name-filtered or alternate-fixture run writes a subset
    // file, and a multi-process record is comparable only to other cluster
    // runs — four distinct artifacts, no crosstalk. Full boards append to
    // their history so later runs can diff per-row timings and the gate
    // self-calibrates.
    val fullBoard = only.isEmpty && conf.sf.stripSuffix("/") == DefaultSf
    val lastFile = (conf.isLocal, fullBoard) match {
      case (true, true) => "bench_last.json"
      case (true, false) => "bench_subset_last.json"
      case (false, true) => "bench_cluster_last.json"
      case (false, false) => "bench_cluster_subset_last.json"
    }
    val line = summary(rows, probes.toSeq, gate, hostFp, conf,
      Paths.get(lastFile).toAbsolutePath.toString)
    val full = line.dropRight(1) +
      s""","queries":${jsonObj(rows.map(r => r.name -> num(r.sec)))}""" +
      s""","plans":${jsonObj(rows.map(r => r.name -> jsonStr(r.plan)))}""" +
      s""","host_probes":${probes.map(num).mkString("[", ",", "]")}""" +
      s""","cache_registry":{"hits":$hits,"misses":$misses,"evictions":$evictions}}""" +
      "\n"
    Files.write(Paths.get(lastFile), full.getBytes("UTF-8"))
    if (fullBoard)
      Files.write(Paths.get(historyFile), full.getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    // the driver keeps the TAIL of stdout: stop the JVM's Spark FIRST so
    // its shutdown banner can't land after the summary, which prints last
    spark.stop()
    println(line)
  }
}
