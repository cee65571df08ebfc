package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.MathDsl

/** Declarative pipeline spec — the engine's replacement for the reference's
  * settings.xml paths (SURVEY.md §1.1 Path, §7.1). A PathSpec is compiled
  * to a single DataFrame program: every step is a projection/filter, so a
  * whole path fuses into one Catalyst stage (the Spark twin of dcafs's
  * filter -> math -> editor chain, PathForward.java:115-263).
  *
  * Works identically on batch and streaming DataFrames — the streaming
  * runner just swaps the source.
  */
sealed trait StepSpec

/** Keep rows matching ALL rules (SQL-boolean strings over `line` and the
  * split fields `i0..iN`); rejected rows go to the reverse branch.
  */
final case class FilterStep(rules: Seq[String]) extends StepSpec

/** dcafs math ops `target = expression`, e.g. "i1 = i1 * 10 + i0". Results
  * write back into the split-field array (MathForward.java:786-843).
  * suffix "nmea" re-appends a recomputed checksum after the ops
  * (MathForward.java:279-286).
  */
final case class MathStep(ops: Seq[(Int, String)], suffix: String = "") extends StepSpec

/** Editor edits applied to the whole line, as (SQL expression over `line`). */
final case class EditStep(exprs: Seq[String]) extends StepSpec

/** Parse the split fields to typed columns: (name, index, type, default). */
final case class StoreStep(cols: Seq[(String, Int, String, String)]) extends StepSpec

final case class PathSpec(
    id: String,
    delimiter: String = ",",
    steps: Seq[StepSpec] = Seq.empty)

object PathCompiler {

  /** Compile a path over a DataFrame with a string `line` column. Returns
    * the transformed frame; filter-rejected rows are dropped (use
    * [[compileWithReject]] for the reverse branch).
    */
  def compile(spec: PathSpec, input: DataFrame): DataFrame =
    steps(spec, input)._1

  def compileWithReject(spec: PathSpec, input: DataFrame): (DataFrame, DataFrame) =
    steps(spec, input)

  /** Compile with rtvals references resolved: `{r:id}` in math/filter
    * expressions reads the current value of key `id` from the state table
    * (key, value). The state pivots to ONE wide broadcast row joined into
    * the stream — the Spark shape of the reference's hoisted rtvals
    * lookups (SURVEY §4: ValTools.java:29-172 -> broadcast state).
    */
  def compileWithRtVals(spec: PathSpec, input: DataFrame,
      rtvals: DataFrame): DataFrame = {
    import graft.operators.MathDsl
    val wide = rtvals
      .groupBy()
      .pivot("key")
      .agg(first("value"))
    val renamed = wide.columns.foldLeft(wide)((df, c) =>
      df.withColumnRenamed(c, MathDsl.rtColumn("r", c)))
    // the DSL accepts {r:id}, {i:id} and {f:id} (RealVal/IntegerVal/
    // FlagVal all live in one state table here) — alias every pivoted
    // key under all three kind columns, and add a NULL column for any
    // key the path references that has no state row yet: a stream
    // started before its first state update must compile, not crash
    // with an unresolved column (startup-order race).
    val keyed = wide.columns.foldLeft(renamed)((df, c) =>
      df.withColumn(MathDsl.rtColumn("i", c), col(MathDsl.rtColumn("r", c)))
        .withColumn(MathDsl.rtColumn("f", c), col(MathDsl.rtColumn("r", c))))
    val referenced = spec.steps.flatMap {
      case FilterStep(rules) => rules
      case MathStep(ops, _) => ops.map(_._2)
      case EditStep(exprs) => exprs
      case _ => Nil
    }.flatMap(MathDsl.rtColumnsIn).distinct
    val complete = referenced.foldLeft(keyed)((df, c) =>
      if (df.columns.contains(c)) df
      else df.withColumn(c, lit(null).cast("double")))
    compile(spec, input.crossJoin(broadcast(complete)))
      .drop(complete.columns: _*)
  }

  private def steps(spec: PathSpec, input: DataFrame): (DataFrame, DataFrame) = {
    val d = java.util.regex.Pattern.quote(spec.delimiter)
    var df = input.withColumn("__f", split(col("line"), d))
    // Reverse-branch chaining (PathForward.java:203-208): a filter that
    // IMMEDIATELY follows another filter subscribes to the previous
    // filter's REJECTED rows (dcafs's if/elif routing) — the previous
    // filter's matches leave the path (no subscriber) and the chain
    // continues on the new filter's matches. A filter's rejects are only
    // committed to the path's reject output once the next step is NOT a
    // filter (or the path ends).
    var reject: DataFrame = null
    var pendingReject: DataFrame = null
    var prevWasFilter = false
    def commitPending(): Unit = if (pendingReject != null) {
      reject =
        if (reject == null) pendingReject
        else reject.unionByName(pendingReject)
      pendingReject = null
    }
    spec.steps.foreach {
      case FilterStep(rules) =>
        // coalesce to FALSE so a NULL predicate (TRY_CAST of a non-numeric
        // field) routes the row to the reject branch instead of vanishing
        // from BOTH branches — same contract as FilterRules.branch; the
        // oracle routes every line to exactly one branch.
        val pred =
          coalesce(rules.map(r => expr(MathDsl.compile(r))).reduce(_ && _),
            lit(false))
        val src = if (prevWasFilter && pendingReject != null) {
          val consumed = pendingReject
          pendingReject = null
          consumed
        } else {
          commitPending()
          df
        }
        pendingReject = src.filter(!pred)
        df = src.filter(pred)
        prevWasFilter = true

      case MathStep(ops, suffix) =>
        prevWasFilter = false
        // write-back semantics: each op replaces field `target` in __f and
        // re-joins the line, so later ops and edits see the new value.
        // Two silent-corruption guards (round-11 review):
        //  - a null result (TRY_CAST of a non-numeric field) writes an
        //    EMPTY field, never a null — array_join silently DROPS null
        //    elements, which deleted the field and shifted every later
        //    field one position left;
        //  - a target beyond the current field count pads the line with
        //    empty fields first, so the value lands AT its index instead
        //    of silently appending at whatever position the line happened
        //    to have.
        ops.foreach { case (target, exprText) =>
          val v = expr(MathDsl.compile(exprText))
          val padded = concat(col("__f"),
            array_repeat(lit(""),
              greatest(lit(target + 1) - size(col("__f")), lit(0))))
          df = df.withColumn("__f",
            concat(
              slice(padded, 1, target),
              array(coalesce(v.cast("string"), lit(""))),
              slice(padded, lit(target + 2),
                greatest(size(padded) - (target + 1), lit(0)))))
        }
        df = df.withColumn("line", array_join(col("__f"), spec.delimiter))
        suffix match {
          case "" =>
          case "nmea" =>
            df = df.withColumn("line",
              concat(col("line"), lit("*"),
                graft.functions.GraftFunctions.nmea_checksum(col("line"))))
              .withColumn("__f", split(col("line"), d))
          case other => throw new IllegalArgumentException(
            s"unsupported math suffix '$other'")
        }

      case EditStep(exprs) =>
        prevWasFilter = false
        exprs.foreach { e =>
          df = df.withColumn("line", expr(MathDsl.compile(e)))
            .withColumn("__f", split(col("line"), d))
        }

      case StoreStep(cols) =>
        prevWasFilter = false
        // store is TERMINAL: its projection drops __f/origin/ts, so a
        // later filter/math step would fail with a confusing unresolved
        // column (and its reject's schema could no longer union with the
        // path's earlier rejects) — refuse loudly at compile time
        // we matched a StoreStep, so "its first occurrence is the final
        // step" alone says exactly one store, and it is last
        require(spec.steps.indexWhere(_.isInstanceOf[StoreStep]) ==
          spec.steps.length - 1,
          s"path '${spec.id}': store must be the path's LAST step")
        val projected = cols.map { case (name, idx, tpe, default) =>
          coalesce(
            try_element_at(col("__f"), lit(idx + 1)).try_cast(tpe),
            expr(default).try_cast(tpe)).as(name)
        }
        df = df.select(col("line") +: projected: _*)
    }
    commitPending()
    val rej =
      if (reject != null) reject.drop("__f")
      else input.limit(0)
    (df.drop("__f"), rej)
  }
}

/** Stream sources (SURVEY.md §2.1): each returns a streaming DataFrame
  * with a `line` string column + `origin`/`ts` metadata — the Datagram
  * shape (Datagram.java:10-23).
  */
object LineSources {

  /** S7 file replay: stream a directory of text files, N files per
    * micro-batch (PathForward.java:539-585 semantics).
    */
  def fileReplay(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(dir)
      .select(
        col("value").as("line"),
        lit(dir).as("origin"),
        current_timestamp().as("ts"))

  /** S9 timed literal source: emit a constant line at `rowsPerSecond`. */
  def timed(spark: SparkSession, line: String, rowsPerSecond: Int = 1): DataFrame =
    spark.readStream
      .format("rate")
      .option("rowsPerSecond", rowsPerSecond)
      .load()
      .select(lit(line).as("line"), lit("timed").as("origin"), col("timestamp").as("ts"))

  /** S9 cmd-type timed source: emit the result of evaluating `cmd` at each
    * rate tick (PathForward.java:453-515 CustomSrc CMD — the reference
    * runs a das command per interval and forwards its response). The
    * function must be serializable; it runs on the executor at tick time.
    */
  def timedCmd(spark: SparkSession, cmd: () => String,
      rowsPerSecond: Int = 1): DataFrame = {
    val run = udf(() => cmd())
    spark.readStream
      .format("rate")
      .option("rowsPerSecond", rowsPerSecond)
      .load()
      .select(run().as("line"), lit("cmd").as("origin"), col("timestamp").as("ts"))
  }

  /** S3/S4 frame replay: recorded serial/modbus captures (text files of
    * hex-encoded RTU frames, one per line) streamed and decoded — the
    * testable rendering of the serial-port frame sources
    * (`/root/reference/src/io/stream/serialport/SerialStream.java`,
    * `ModbusStream.java`): hardware delivers bytes, everything after the
    * port read is frame decode, which is what this covers.
    * Schema: (line, origin, ts, slave, func, registers, crc_ok).
    */
  def modbusReplay(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 1): DataFrame =
    fileReplay(spark, dir, maxFilesPerTrigger)
      .withColumn("mb",
        graft.functions.GraftFunctions.modbus_decode(unhex(col("line"))))
      .select(col("line"), col("origin"), col("ts"),
        col("mb.slave").as("slave"), col("mb.func").as("func"),
        col("mb.registers").as("registers"), col("mb.crc_ok").as("crc_ok"))

  /** S10 I2C replay: recorded reply captures (text files of hex-encoded
    * reply bytes, one capture per line) decoded through a parsed
    * commandset script — the testable rendering of the I2C device source
    * (`/root/reference/src/io/hardware/i2c/I2CWorker.java:203-723`): the
    * bus delivers bytes, everything after is script decode, which is
    * what this covers. Schema: (line, origin, ts, values, out).
    */
  def i2cReplay(spark: SparkSession, dir: String, scriptXml: String,
      cmdKey: String, maxFilesPerTrigger: Int = 1): DataFrame = {
    val cmd = graft.sources.I2cScript.parseScript(scriptXml)(cmdKey)
    val decode = udf((hexLine: String) => {
      val bytes = hexLine.trim.sliding(2, 2)
        .map(h => Integer.parseInt(h, 16).toByte).toArray
      graft.sources.I2cScript.decodeReplay(cmd, bytes)
    })
    val render = udf((values: Seq[Double]) =>
      graft.sources.I2cScript.format(cmd, values).mkString(";"))
    fileReplay(spark, dir, maxFilesPerTrigger)
      .withColumn("values", decode(col("line")))
      .withColumn("out", render(col("values")))
  }

  /** Seasun replay: recorded serial bursts (text files of hex-encoded
    * bytes, one capture per line) scanned through the self-synchronizing
    * 3-byte frame grammar (`SeasunStream.java:31-73`) — the vendor-serial
    * analog of [[i2cReplay]]; the bus half stays hardware-gated. Each
    * decoded frame explodes to a row with the reference's "addr;value"
    * rendering in `out`. Schema: (line, origin, ts, out).
    */
  def seasunReplay(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    val decode = udf((hexLine: String) => {
      val bytes = hexLine.trim.sliding(2, 2)
        .map(h => Integer.parseInt(h, 16).toByte).toArray
      new graft.sources.VendorSerial.SeasunDecoder().feed(bytes)
    })
    fileReplay(spark, dir, maxFilesPerTrigger)
      .select(col("line"), col("origin"), col("ts"),
        explode(decode(col("line"))).as("out"))
  }

  /** Multiplex replay: recorded merged-port bursts scanned through the
    * `_(**)_` header grammar (`MultiStream.java:36-74`); each framed
    * payload explodes to a row with the device id appended to the origin
    * the way the reference builds it (`:54`, `id:<device>`).
    * Schema: (line, origin, ts, out).
    */
  def multiplexReplay(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    val decode = udf((hexLine: String) => {
      val bytes = hexLine.trim.sliding(2, 2)
        .map(h => Integer.parseInt(h, 16).toByte).toArray
      new graft.sources.VendorSerial.MultiplexDecoder().feed(bytes)
        .map { case (dev, payload) => (dev.toString, payload) }
    })
    fileReplay(spark, dir, maxFilesPerTrigger)
      .withColumn("msg", explode(decode(col("line"))))
      .select(col("line"),
        concat(col("origin"), lit(":"), col("msg._1")).as("origin"),
        col("ts"), col("msg._2").as("out"))
  }

  /** S10 SPI replay: recorded captures (text files of hex-encoded
    * clocked-back bytes, one capture per line) decoded through a parsed
    * spiset script — the ExtSpiDevice analog of [[i2cReplay]]
    * (`/root/reference/src/io/hardware/spi/ExtSpiDevice.java`).
    * Schema: (line, origin, ts, values).
    */
  def spiReplay(spark: SparkSession, dir: String, scriptXml: String,
      cmdKey: String, maxFilesPerTrigger: Int = 1): DataFrame = {
    val cmd = graft.sources.SpiScript.parseScript(scriptXml)(cmdKey)
    val decode = udf((hexLine: String) => {
      val bytes = hexLine.trim.sliding(2, 2)
        .map(h => Integer.parseInt(h, 16).toByte).toArray
      graft.sources.SpiScript.decodeReplay(cmd, bytes)
    })
    fileReplay(spark, dir, maxFilesPerTrigger)
      .withColumn("values", decode(col("line")))
  }

  /** S10 GPIO interrupt replay: recorded pin events (text files of
    * `pin,edge` lines) mapped to the commands each event fires per the
    * parsed `<gpio>` settings — the InterruptPins analog
    * (`/root/reference/src/io/hardware/gpio/InterruptPins.java:74-82`).
    * Schema: (line, origin, ts, pin, edge, cmds).
    */
  def gpioReplay(spark: SparkSession, dir: String, gpioXml: String,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    val specs = graft.sources.GpioScript.parseGpio(gpioXml)
    val fire = udf((pin: Int, edge: String) =>
      graft.sources.GpioScript.fired(specs, pin, edge))
    fileReplay(spark, dir, maxFilesPerTrigger)
      .withColumn("pin", split(col("line"), ",").getItem(0).cast("int"))
      .withColumn("edge", split(col("line"), ",").getItem(1))
      .withColumn("cmds", fire(col("pin"), col("edge")))
  }

  /** S10 GPIO LEVEL-capture replay with edge DETECTION: recorded raw pin
    * samples (text files of `millis,pin,level` lines) become
    * rising/falling interrupt events, each firing the cmds whose
    * configured edge covers it — the full InterruptPins semantics.
    * diozero hands the reference ready-made DigitalInputEvents
    * (`InterruptPins.java:74-82`); a raw capture holds LEVELS, so the
    * edge derivation is itself part of the replayed surface: last level
    * per pin lives in bounded keyed state (one int per pin,
    * mapGroupsWithState), events inside a batch are ordered by their
    * capture timestamp, and the first sample of a pin sets the baseline
    * without firing (no phantom edge at attach, matching a real ISR).
    * [[gpioReplay]] stays the pre-labeled-event form.
    * Schema: (ms, pin, edge, cmds).
    */
  def gpioLevelReplay(spark: SparkSession, dir: String, gpioXml: String,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val specs = graft.sources.GpioScript.parseGpio(gpioXml)
    fileReplay(spark, dir, maxFilesPerTrigger)
      .select(split(col("line"), ",").as("f"))
      .select(col("f").getItem(0).cast("long").as("ms"),
        col("f").getItem(1).cast("int").as("pin"),
        col("f").getItem(2).cast("int").as("level"))
      .as[(Long, Int, Int)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Int, (Long, Int, String, Seq[String])](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (pin: Int, it: Iterator[(Long, Int, Int)], state: GroupState[Int]) =>
          val samples = it.toSeq.sortBy(_._1)
          var last = state.getOption.getOrElse(-1)
          val out = samples.flatMap { case (ms, _, level) =>
            val edge =
              if (last < 0 || level == last) None
              else if (level > last) Some("rising")
              else Some("falling")
            last = level
            edge.map(e => (ms, pin, e, graft.sources.GpioScript.fired(specs, pin, e)))
          }
          state.update(last)
          out.iterator
      }
      .toDF("ms", "pin", "edge", "cmds")
  }

  /** S8 SQL query source: run a SELECT against a JDBC database and
    * replay the rows as lines at the rate source's pace
    * (PathForward.java:516-537 SQLITE custom src semantics).
    *
    * The static side is read once and cached (the reference runs the
    * SELECT once, not per tick), and row numbers are baked in as data via
    * zipWithIndex so they are contiguous 0..N-1 even when the JDBC read
    * is partitioned (monotonically_increasing_id would offset ids by
    * partition_id<<33 — those rows would never be emitted — and is
    * rejected by the streaming unsupported-op checker anyway).
    */
  def jdbcReplay(spark: SparkSession, url: String, query: String,
      props: java.util.Properties = new java.util.Properties(),
      rowsPerSecond: Int = 10): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val lines = spark.read.jdbc(url, s"($query) AS src", props)
      .select(concat_ws(";", col("*")).as("line"))
    val numbered = lines.rdd.zipWithIndex.map { case (r, i) =>
      Row(r.getString(0), i)
    }
    val rows = spark.createDataFrame(numbered, StructType(Seq(
        StructField("line", StringType), StructField("rn", LongType))))
      .cache()
    spark.readStream.format("rate").option("rowsPerSecond", rowsPerSecond).load()
      .join(rows, col("value") === col("rn"))
      .select(col("line"), lit(url).as("origin"), col("timestamp").as("ts"))
  }

  /** Build the streaming source a parsed settings.xml `<stream>` declares
    * (DcafsXml.parseStreams): tcp/udp/mqtt map to the graft DataSourceV2
    * sources with the hello trigger wired through; the stream's label
    * rides along as a column for §2.9 label dispatch.
    */
  def fromSpec(spark: SparkSession, spec: DcafsXml.StreamSpec): DataFrame = {
    val df = spec.kind match {
      case "tcp" =>
        val r = spark.readStream.format("graft.sources.TcpLineSource")
          .option("host", spec.host).option("port", spec.port.toString)
        spec.hello.fold(r)(h => r.option("hello", h)).load()
      case "udp" =>
        spark.readStream.format("graft.sources.UdpLineSource")
          .option("port", spec.port.toString).load()
      case "mqtt" =>
        spark.readStream.format("graft.sources.MqttLineSource")
          .option("host", spec.host).option("port", spec.port.toString)
          .option("topic", spec.topic.getOrElse("#"))
          .option("clientid", spec.id).load()
      case "serial" =>
        // the parsed <address> carries the device path (SerialStream's
        // port name); UART parameters beyond baud stay on the device
        require(spec.host.nonEmpty, "serial stream needs a device path in <address>")
        spark.readStream.format("graft.sources.SerialLineSource")
          .option("device", spec.host)
          .option("eol", spec.eol).load()
      case "monitor" =>
        // <monitor> live-file tail (FileMonitor.java:19-80): the parsed
        // <file path> rides in the spec's host slot
        require(spec.host.nonEmpty, "monitor stream needs a file path")
        spark.readStream.format("graft.sources.FileTailSource")
          .option("path", spec.host).load()
      case "modbus" | "modbustcp" =>
        // live MBAP poller (ModbusTCPStream.java:22-44; port defaults to
        // 502 like readExtraFromXML). Poll shape (fc/address/count/period)
        // is source-side config — the reference drives requests from
        // taskmanager writes, which don't live in the <stream> node either.
        spark.readStream.format("graft.sources.ModbusTcpLineSource")
          .option("host", spec.host)
          .option("port", (if (spec.port == 0) 502 else spec.port).toString)
          .load()
      case other => throw new IllegalArgumentException(
        s"stream type '$other' is hardware-gated — replay its recorded " +
          "captures (LineSources.modbusReplay / fileReplay) instead")
    }
    df.withColumn("label", lit(spec.label))
  }

  /** Timed HTTP-GET source: poll a URL every `periodSeconds` and forward
    * each response line (subsumes the reference's Z3Api HTTP poller,
    * `/root/reference/src/util/other/Z3Api.java:25-47` — a
    * scheduleAtFixedRate GET whose parsed body lands in rtvals; here the
    * body's lines enter the same line plane as every other source).
    * Failed or non-200 polls yield no rows and the pace continues —
    * the reference's retry amounts to the same thing. The fetch runs on
    * the executor at tick time, one request per tick (rate source with a
    * modulo filter paces below 1 Hz without driver-side scheduling).
    */
  def httpPoll(spark: SparkSession, url: String, periodSeconds: Int = 10,
      timeoutMillis: Int = 5000): DataFrame = {
    // nondeterministic: Spark must not re-execute the GET on task retry /
    // speculation assuming an identical result — fetch semantics are
    // at-least-once per tick, like every external poller
    val fetch = udf(() =>
      try {
        val r = graft.alerts.HttpLite.get(url, timeoutMillis)
        if (r.status == 200) r.body.split("\r?\n").toSeq else Seq.empty[String]
      } catch { case _: Exception => Seq.empty[String] }).asNondeterministic()
    spark.readStream
      .format("rate").option("rowsPerSecond", 1).load()
      .filter(col("value") % periodSeconds === 0)
      .select(explode(fetch()).as("line"), lit(url).as("origin"),
        col("timestamp").as("ts"))
  }

  /** S1/S11 TCP line source (dev harness: Spark's socket source). */
  def socket(spark: SparkSession, host: String, port: Int): DataFrame =
    spark.readStream
      .format("socket")
      .option("host", host)
      .option("port", port)
      .load()
      .select(
        col("value").as("line"),
        lit(s"$host:$port").as("origin"),
        current_timestamp().as("ts"))
}

/** Sinks (SURVEY.md §2.2). */
object LineSinks {

  /** K1-K3 JDBC batch sink: micro-batch append via foreachBatch; the
    * trigger interval plays the role of the reference's flush `maxAge`,
    * JDBC batchsize of `batchsize` (SQLDB.java:481-509). The sink writes
    * with its own copy of `props`: sinks sharing one `Properties` each
    * keep their own batch size, and the caller's object is not changed.
    */
  def jdbc(df: DataFrame, url: String, table: String,
      batchSize: Int = 500, props: java.util.Properties = new java.util.Properties()) = {
    val own = new java.util.Properties()
    own.putAll(props)
    own.setProperty("batchsize", batchSize.toString)
    df.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      batch.write.mode("append").jdbc(url, table, own)
    }
  }

  /** K9 stream write-back: send each output line to a TCP peer (the
    * serial<->tcp converter role, README.md:13 "Forward back to
    * source"). One connection per partition per epoch.
    */
  def socketWriter(df: DataFrame, host: String, port: Int) =
    df.writeStream.foreach(
      new org.apache.spark.sql.ForeachWriter[org.apache.spark.sql.Row] {
        @transient private var socket: java.net.Socket = _
        @transient private var out: java.io.PrintWriter = _
        override def open(partitionId: Long, epochId: Long): Boolean = {
          socket = new java.net.Socket(host, port)
          out = new java.io.PrintWriter(socket.getOutputStream, true)
          true
        }
        override def process(row: org.apache.spark.sql.Row): Unit = {
          out.println(row.getAs[String]("line"))
          // PrintWriter SWALLOWS IOExceptions into an internal flag: a
          // peer that drops mid-partition would otherwise lose every
          // remaining row while the epoch commits as successful — check
          // and throw so Spark retries the task
          if (out.checkError())
            throw new java.io.IOException(
              s"socket write to $host:$port failed (peer closed?)")
        }
        override def close(errorOrNull: Throwable): Unit =
          if (socket != null) socket.close()
      })

  /** Loopback write-back: re-inject each output line into the in-process
    * [[graft.sources.LocalLineBus]] channel, where a
    * `graft.sources.LocalLineSource` stream picks it up as input — the
    * reference's LocalStream chaining (LocalStream.java:12-19, a path's
    * output becomes another path's source with NO socket in between);
    * [[socketWriter]] is the network form. foreachBatch runs driver-side,
    * so the push lands on the same JVM's bus even on a cluster; the
    * collect is bounded (`maxLinesPerBatch`, ordered by arrival ts so the
    * kept prefix is deterministic) because the loopback is edge plumbing
    * for converter chains, not a bulk data plane.
    */
  def loopback(df: DataFrame, id: String, maxLinesPerBatch: Int = 10000) =
    df.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      batch.select(col("line"), unix_millis(col("ts")).as("ms"))
        .orderBy("ms", "line")
        .limit(maxLinesPerBatch)
        .collect()
        .foreach(r => graft.sources.LocalLineBus.push(
          id, r.getString(0), r.getLong(1) * 1000L))
    }

  /** K7 MQTT publish sink: QoS-0 publish of each output line to a topic
    * (`/root/reference/src/io/mqtt/MqttWorker.java` publish path, call
    * site `Generic.java:329-330`). One broker connection per partition
    * per epoch; if the frame has a `topic` column it overrides the
    * default topic per row.
    */
  def mqttPublish(df: DataFrame, host: String, port: Int, topic: String,
      clientId: String = "graft-pub") = {
    val hasTopicCol = df.columns.contains("topic")
    df.writeStream.foreach(
      new org.apache.spark.sql.ForeachWriter[org.apache.spark.sql.Row] {
        @transient private var client: graft.sources.MqttClientLite = _
        override def open(partitionId: Long, epochId: Long): Boolean = {
          // keepAliveSec=0: nothing drives PINGREQs on this publish-only
          // connection, so don't promise a keepalive the broker would
          // enforce by dropping us mid-epoch
          client = new graft.sources.MqttClientLite(
            host, port, s"$clientId-$partitionId", keepAliveSec = 0)
          true
        }
        override def process(row: org.apache.spark.sql.Row): Unit = {
          val t = if (hasTopicCol) row.getAs[String]("topic") else topic
          client.publish(t, row.getAs[String]("line"))
        }
        override def close(errorOrNull: Throwable): Unit =
          if (client != null) client.close()
      })
  }

  /** K4/K5 rolling file sink: time-partitioned directories replace the
    * reference's rollover file naming (SQLiteDB.java:306-334) — and give
    * partition pruning on read for free
    * (graft.sinks.RolloverCompat.renameRolledDirs converts the layout to
    * the reference's rolled filenames when needed). `decimation` keeps
    * 1-in-N rows by global arrival order — the reference's skipCount
    * semantics (FileCollector.java:355-361: skip N-1, keep the Nth).
    */
  def rollingFiles(df: DataFrame, path: String, rollPattern: String = "yyyy-MM-dd_HH",
      format: String = "csv", decimation: Int = 1) = {
    val out0 = df.withColumn("roll", date_format(col("ts"), rollPattern))
    if (decimation > 1) {
      // The reference's skipCount is ONE persistent counter. A per-task
      // counter resets every partition and every micro-batch — a stream
      // whose batches hold fewer than `decimation` rows would never emit
      // (round-2 advice) — so the counter lives on the driver and carries
      // across batches: rows number off in batch order × partition order
      // (zipWithIndex) and leftover skip counts roll into the next batch.
      // Like the reference's, the counter is process-lifetime, not
      // checkpointed: a restart restarts the 1-in-N phase.
      val seen = new java.util.concurrent.atomic.AtomicLong(0L)
      out0.writeStream.foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val start = seen.get()
          val numbered = batch.rdd.zipWithIndex().persist()
          try {
            val kept = numbered
              .filter { case (_, i) => (start + i + 1) % decimation == 0 }
              .map(_._1)
            batch.sparkSession.createDataFrame(kept, batch.schema)
              .write.mode("append").partitionBy("roll").format(format)
              .option("header", "true").save(path)
            seen.set(start + numbered.count())
            // unpersist in finally: a transient write failure would
            // otherwise pin the cached blocks forever (one leaked RDD
            // per failed batch in a long-lived driver)
          } finally numbered.unpersist(false)
          ()
      }
    } else {
      out0.writeStream
        .partitionBy("roll")
        .format(format)
        .option("path", path)
        .option("header", "true")
    }
  }
}
