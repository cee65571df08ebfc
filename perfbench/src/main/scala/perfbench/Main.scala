package perfbench

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.net.Socket
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** JVM half of the benchmark. `run.py` starts it once per run:
  *
  * {{{
  *   perfbench.Main <workload> <seconds> <trace 0|1> <workDir> <outDir> <key=value>...
  * }}}
  *
  * It enters the engine only through public entry points, writes what it
  * measured to `<outDir>/jvm.json` (and spans to `<outDir>/spans.jsonl`
  * when tracing) and leaves every check to `run.py`, which holds the
  * independent tallies and the oracle.
  */
object Main {

  /** Set-ups per run; the run reports their median. */
  val Setups = 5

  final case class Args(workload: String, seconds: Int, trace: Boolean,
      work: Path, out: Path, opts: Map[String, String])

  def main(argv: Array[String]): Unit = {
    val args = Args(argv(0), argv(1).toInt, argv(2) == "1",
      Paths.get(argv(3)), Paths.get(argv(4)),
      argv.drop(5).map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap)
    val result = new Json.Obj
    val trace = new Trace(args.trace)
    val code =
      try {
        args.workload match {
          case "ingest" => Ingest.run(args, trace, result)
          case "board" => Board.run(args, trace, result)
          case "oracle-sql" => result.put("oracle", graft.SparkEntry.oracleSql)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        result.put("peak_rss_mb", peakRssMb()).put("cpu_s", cpuSeconds())
        0
      } catch {
        case t: Throwable =>
          t.printStackTrace()
          result.put("error", String.valueOf(t))
          2
      }
    Files.writeString(args.out.resolve("jvm.json"), result.render)
    if (args.trace) trace.write(args.out.resolve("spans.jsonl"))
    // everything is written; the caller removes the work directory, so
    // skip the orderly Spark shutdown
    Runtime.getRuntime.halt(code)
  }

  /** A session with the configuration the engine's own mains use, its
    * scratch space inside the run's work directory.
    */
  def session(work: Path, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "67108864")
      .config("spark.sql.streaming.minBatchesToRetain", "2")
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.spark.sql.graft.GraftOptimizations.install(spark)
    spark
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** CPU time this JVM has used, all threads. */
  def cpuSeconds(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  /** Peak resident set of this JVM, read from the kernel's own counter. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Line protocol to the load generator in `run.py`: one request line, one
  * reply line. Every wait on the other side is bounded there.
  */
final class Control(port: Int) {
  private val sock = new Socket("127.0.0.1", port)
  sock.setSoTimeout(170000)
  private val in = new BufferedReader(
    new InputStreamReader(sock.getInputStream, StandardCharsets.UTF_8))
  private val out = new PrintWriter(sock.getOutputStream, true)

  def call(msg: String): Seq[String] = {
    out.println(msg)
    val reply = in.readLine()
    require(reply != null, s"load generator closed the control channel after '$msg'")
    val parts = reply.split(" ").toSeq
    require(parts.head == "ok", s"load generator refused '$msg': $reply")
    parts.tail
  }

  def close(): Unit = sock.close()
}

/** Spans recorded from outside the engine, around each public call the
  * harness makes. Kept in memory and written once at the end; a disabled
  * trace records nothing.
  */
final class Trace(enabled: Boolean) {
  private val epochAtStartMs = System.currentTimeMillis().toDouble
  private val nanoAtStart = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Json.Obj]
  private var seq = 0L

  def nowMs: Double = epochAtStartMs + (System.nanoTime() - nanoAtStart) / 1e6

  def newId(): String = synchronized { seq += 1; s"s$seq" }

  def record(name: String, parent: String, startMs: Double, endMs: Double,
      id: String = null, attrs: Map[String, Any] = Map.empty): String = {
    val sid = if (id == null) newId() else id
    if (enabled) {
      val o = new Json.Obj
      o.put("id", sid).put("name", name).put("parent", parent)
        .put("start_ms", startMs).put("end_ms", endMs)
      attrs.foreach { case (k, v) => o.put(k, v) }
      synchronized(spans += o)
    }
    sid
  }

  def span[T](name: String, parent: String = "run")(f: => T): T = {
    val t0 = nowMs
    try f finally record(name, parent, t0, nowMs)
  }

  def write(p: Path): Unit =
    Files.writeString(p, spans.map(_.render).mkString("", "\n", "\n"))
}

/** Just enough JSON output for the harness's records. */
object Json {
  final class Obj {
    private val fields = mutable.LinkedHashMap.empty[String, Any]
    def put(k: String, v: Any): Obj = { fields(k) = v; this }
    def render: String = fields.map { case (k, v) => str(k) + ":" + value(v) }
      .mkString("{", ",", "}")
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case o: Obj => o.render
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
