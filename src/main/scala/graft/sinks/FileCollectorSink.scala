package graft.sinks

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.time.format.DateTimeFormatter
import java.time.ZoneOffset

import org.apache.spark.sql.DataFrame

/** K5 file-collector sink with reference parity
  * (`/root/reference/src/io/collector/FileCollector.java`): headers with
  * `{file}` substitution (`:438-441`), rollover file naming + optional
  * zip-on-roll (`DoRollOver`, `:565-619`), max-size split into `name.N.ext`
  * + optional zip (`:478-502`), IDLE/ROLLOVER/MAXSIZE triggered commands
  * (TRIGGERS enum `:57`), and skipCount decimation — deterministic 1-in-N
  * by arrival order (`:355-361`: skip N-1 lines, keep the Nth), NOT
  * hash-sampling.
  *
  * This is deliberately a single-writer driver-side appender: the
  * reference collector maintains ONE append-only file, so one writer is
  * the semantics, not a bottleneck. The scalable path for bulk output is
  * [[graft.LineSinks.rollingFiles]] (partitioned directories, any number
  * of writers); [[RolloverCompat.renameRolledDirs]] converts that layout
  * into this one when reference-style artifacts are required.
  *
  * @param pathPattern destination file; a `{rollover}` placeholder is
  *   replaced by the formatted roll timestamp, otherwise the form is
  *   inserted before the first dot (`getPath`, `:300-316` — same scheme
  *   as the SQLite rollover, `SQLiteDB.java:306-334`)
  * @param onTrigger (trigger, path) callback standing in for the
  *   reference's command queue (`Datagram.system(cmd)`)
  */
class FileCollectorSink(
    pathPattern: String,
    rollPattern: Option[String] = None,
    zipRoll: Boolean = false,
    maxBytes: Long = -1L,
    zipMaxBytes: Boolean = false,
    decimation: Int = 1,
    headers: Seq[String] = Nil,
    idleTimeoutMs: Long = -1L,
    onTrigger: (String, String) => Unit = (_, _) => (),
    maxLinesPerBatch: Int = 100000,
    onDropped: Long => Unit = n =>
      System.err.println(s"graft.FileCollectorSink: dropped $n lines over per-batch cap")) extends Serializable {

  private val fmt = rollPattern.map(DateTimeFormatter.ofPattern(_).withZone(ZoneOffset.UTC))
  private var currentForm: String = null
  private var skipped = 0
  @volatile private var lastDataMs = System.currentTimeMillis()
  @volatile private var idleFired = false

  /** Resolve the destination for a roll form (FileCollector.getPath). */
  def fileFor(form: String): Path = {
    val p =
      if (form == null || form.isEmpty) pathPattern
      else if (pathPattern.contains("{rollover}"))
        pathPattern.replace("{rollover}", form)
      else PathNaming.insertAtNameDot(pathPattern, form)
    Paths.get(p)
  }

  private def zipFile(p: Path): Path = graft.FileZip.zipFile(p)

  /** First free `name.N.ext` (or its zip) — FileCollector.java:481-487. */
  private def splitTarget(dest: Path): Path = {
    var i = 1
    var cand = Paths.get(PathNaming.insertAtNameDot(dest.toString, ".1"))
    while ((Files.exists(cand) || Files.exists(Paths.get(cand + ".zip"))) && i < 1000) {
      i += 1
      cand = Paths.get(PathNaming.insertAtNameDot(dest.toString, s".$i"))
    }
    cand
  }

  /** The destination being appended to within one batch: open once,
    * its size tracked in memory instead of re-read per line.
    */
  private final class OpenFile(val dest: Path, var size: Long,
      val out: java.io.OutputStream)
  @transient private var open: OpenFile = null

  private def closeOpen(): Unit = if (open != null) {
    val o = open
    open = null
    o.out.close()
  }

  /** Append one micro-batch of (epochMillis, line), in arrival order. */
  def processBatch(rows: Seq[(Long, String)]): Unit = synchronized {
    try rows.foreach { case (ts, line) =>
      // skipCount decimation: skip N-1 arrivals, keep the Nth
      if (decimation > 1 && { skipped += 1; skipped < decimation }) ()
      else {
        skipped = 0
        val form = fmt.map(_.format(java.time.Instant.ofEpochMilli(ts))).orNull
        if (currentForm != null && form != currentForm) rollOver(form)
        if (currentForm == null) currentForm = form
        appendLine(fileFor(currentForm), line)
      }
      lastDataMs = System.currentTimeMillis()
      idleFired = false
    } finally closeOpen()
  }

  /** foreachBatch adapter for a streaming frame with (line, ts) columns.
    * The collect is bounded at `maxLinesPerBatch` — same discipline as
    * `RuleEngine.run`: this sink is a single-writer edge appender, and one
    * misrouted high-volume stream must not ship an unbounded batch to the
    * driver. Overflow is counted and reported, not collected; bulk output
    * belongs on `LineSinks.rollingFiles`.
    */
  def write(batch: DataFrame): Unit = {
    import org.apache.spark.sql.functions._
    val cap = maxLinesPerBatch
    // ONE job, no exchange: each partition sorts itself by arrival time
    // (line as tie-break, so the kept prefix is deterministic instead of
    // plan-dependent) and reports its row count plus at most its cap
    // earliest rows. The earliest cap rows of the batch are among those
    // heads, so sorting the concatenated heads on the driver and taking
    // cap keeps exactly them, and the exact dropped count comes from the
    // same pass. A global orderBy would read the batch twice: a
    // range-partitioner sampling job, then the shuffle. The coalesce
    // (no shuffle) holds the driver-side heads to shuffle.partitions x cap
    // rows, however many partitions the source hands the batch.
    val parts = batch.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val perPart = batch.coalesce(parts)
      .select(unix_millis(col("ts")).as("ts_ms"), col("line"))
      .sortWithinPartitions("ts_ms", "line")
      .as[(Long, String)](org.apache.spark.sql.Encoders.product[(Long, String)])
      .rdd.mapPartitions { it =>
        var n = 0L
        val head = new scala.collection.mutable.ArrayBuffer[(Long, String)]
        it.foreach { r => n += 1; if (head.size < cap) head += r }
        Iterator.single((n, head.toArray))
      }.collect()
    val total = perPart.map(_._1).sum
    if (total > cap) onDropped(total - cap)
    // the driver sort compares lines as UTF-8 bytes, Spark's string order
    // (a JVM String compare differs from it above U+FFFF)
    val byArrival = Ordering.by[(Long, String), Long](_._1)
      .orElseBy(r => org.apache.spark.unsafe.types.UTF8String.fromString(r._2))
    processBatch(perPart.iterator.flatMap(_._2).toSeq.sorted(byArrival).take(cap))
  }

  private def appendLine(dest: Path, line: String): Unit = {
    val sb = new StringBuilder
    if (open == null || open.dest != dest) {
      closeOpen()
      val isNew = !Files.exists(dest)
      if (isNew && dest.getParent != null) Files.createDirectories(dest.getParent)
      if (isNew) headers.foreach(h =>
        sb.append(h.replace("{file}", dest.getFileName.toString)).append('\n'))
      open = new OpenFile(dest, if (isNew) 0L else Files.size(dest),
        new java.io.BufferedOutputStream(Files.newOutputStream(dest,
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)))
    }
    sb.append(line).append('\n')
    val bytes = sb.toString.getBytes(StandardCharsets.UTF_8)
    open.out.write(bytes)
    open.size += bytes.length
    if (maxBytes > 0 && open.size >= maxBytes) {
      closeOpen()
      val renamed = splitTarget(dest)
      Files.move(dest, renamed)
      val reported =
        if (zipMaxBytes) { val z = zipFile(renamed); Files.delete(renamed); z }
        else renamed
      onTrigger("MAXSIZE", reported.toString)
    }
  }

  private def rollOver(newForm: String): Unit = {
    closeOpen()
    val old = fileFor(currentForm)
    currentForm = newForm
    val reported =
      if (zipRoll && Files.exists(old)) {
        val z = zipFile(old); Files.delete(old); z
      } else old
    onTrigger("ROLLOVER", reported.toString)
  }

  /** IDLE trigger check (timedOut with empty buffer, `:393-396`): fires
    * once per idle episode when no data arrived for idleTimeoutMs.
    */
  def checkIdle(nowMs: Long = System.currentTimeMillis()): Unit = synchronized {
    if (idleTimeoutMs > 0 && !idleFired && nowMs - lastDataMs >= idleTimeoutMs) {
      idleFired = true
      onTrigger("IDLE", fileFor(currentForm).toString)
    }
  }
}

/** Roll-form / split-index filename insertion, shared by the collector and
  * the rollover renamer.
  */
private[sinks] object PathNaming {

  /** Insert `ins` before the FIRST dot of the path's FILENAME component —
    * never the whole path string, so a dotted directory like
    * `/data/v1.2/log.csv` yields `/data/v1.2/log<ins>.csv`, not a
    * corrupted `/data/v1<ins>.2/...` (round-2 advice). A dotless filename
    * gets `ins` appended.
    */
  def insertAtNameDot(path: String, ins: String): String = {
    val p = Paths.get(path)
    val name = p.getFileName.toString
    val newName =
      if (name.contains("."))
        name.replaceFirst("\\.",
          java.util.regex.Matcher.quoteReplacement(ins) + ".")
      else name + ins
    if (p.getParent == null) newName else p.getParent.resolve(newName).toString
  }
}

/** K4 rollover-compat renamer: convert the scalable partitioned-directory
  * sink layout (`roll=<form>/part-*.csv`) into the reference's rolled
  * single-file naming (`SQLiteDB.java:306-334` / `FileCollector.getPath`:
  * the formatted roll timestamp inserted at `{rollover}` or before the
  * file extension), merging part files in name order, optionally zipping.
  */
object RolloverCompat {

  /** Returns the files produced, one per completed roll partition. */
  def renameRolledDirs(partitionedDir: String, filePattern: String,
      zip: Boolean = false): Seq[Path] = {
    val root = Paths.get(partitionedDir)
    if (!Files.exists(root)) return Seq.empty
    val rollStream = Files.list(root)
    val rollDirs = rollStream.iterator()
    val out = scala.collection.mutable.ArrayBuffer.empty[Path]
    try while (rollDirs.hasNext) {
      val d = rollDirs.next()
      val name = d.getFileName.toString
      if (Files.isDirectory(d) && name.startsWith("roll=")) {
        val form = name.stripPrefix("roll=")
        val dest =
          if (filePattern.contains("{rollover}"))
            root.resolve(filePattern.replace("{rollover}", form))
          else root.resolve(PathNaming.insertAtNameDot(filePattern, form))
        val partStream = Files.list(d)
        val parts = partStream.iterator()
        val sorted = scala.collection.mutable.ArrayBuffer.empty[Path]
        try while (parts.hasNext) {
          val p = parts.next()
          if (!p.getFileName.toString.startsWith(".") &&
              !p.getFileName.toString.startsWith("_")) sorted += p
        } finally partStream.close()
        val body = sorted.sortBy(_.getFileName.toString)
          .map(p => new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
          .mkString
        Files.write(dest, body.getBytes(StandardCharsets.UTF_8),
          StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
        out += (if (zip) {
          val zipPath = graft.FileZip.zipBytes(
            Paths.get(dest.toString + ".zip"), dest.getFileName.toString,
            body.getBytes(StandardCharsets.UTF_8))
          Files.delete(dest)
          zipPath
        } else dest)
      }
    } finally rollStream.close()
    out.toSeq
  }
}
