package graft.queries

import graft.{Q, Tables}
import graft.functions.Formulas
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** The rtvals state plane and trigger/alert semantics (SURVEY.md §2.7-2.8)
  * rendered as batch-verifiable queries, plus the time-window operators the
  * reference lacks (§2.11): tumbling/sliding/session windows and the as-of
  * join. Batch renderings here are the oracle-checkable twins of the
  * Structured Streaming implementations in graft.streaming.
  */
object StateQueries {

  /** Unique memory-sink suffix so Bench reps / Verify reruns in one JVM
    * never collide on a registered streaming query name.
    */
  private val sessionEpoch = new java.util.concurrent.atomic.AtomicLong(0L)

  private def dsumOver(c: org.apache.spark.sql.Column, w: org.apache.spark.sql.expressions.WindowSpec) =
    sum(c.cast(DecimalType(28, 8))).over(w).cast("double")

  /** Hourly-mean resample of the events series — ONE copy of the
    * DECIMAL(28,8)-accumulated, 6dp-rounded contract shared by the five
    * ts_ rows (ts_acf, ts_sax, ts_holt, ts_kalman, ts_theil_sen) and
    * their oracles (round-12 review; the DedupQueries.lshBandsBody
    * drift-prevention pattern applied to the resample tier).
    */
  private val hourlyMeansSql: String =
    """hb AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
      |    round(CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE) / count(*), 6) AS y
      |  FROM events GROUP BY 1, 2)""".stripMargin

  private def hourlyMeans(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Tables.load(s, dir, "events")
      .groupBy(col("event_type"),
        (unix_micros(col("ts")) / lit(3600000000L)).cast("long").as("hr"))
      .agg(round(sum(col("value").cast(DecimalType(28, 8))).cast("double")
        / count(lit(1)), 6).as("y"))

  def defs: Seq[Q] = Seq(

    // §2.7 per-key running state: last / min / max / count / avg / age.
    // (RealVal.java:145-182, 223-227, 385-396; age AbstractVal.java:22-24)
    Q("st_last",
      """WITH t AS (SELECT user_id, value, ts, event_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
        |  min(value) OVER (PARTITION BY user_id) AS min_val,
        |  max(value) OVER (PARTITION BY user_id) AS max_val,
        |  count(value) OVER (PARTITION BY user_id) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(28,8))) OVER (PARTITION BY user_id) AS DOUBLE)
        |    / count(value) OVER (PARTITION BY user_id) AS avg_val
        |  FROM events)
        |SELECT user_id, value AS last_val, min_val, max_val, n, avg_val,
        |       epoch_ms(CAST(ts AS TIMESTAMP)) AS last_ts_ms
        |FROM t WHERE rn = 1""".stripMargin) { (s, dir) =>
      val wOrd = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
      val wAll = Window.partitionBy("user_id")
      Tables.load(s, dir, "events")
        .withColumn("rn", row_number().over(wOrd))
        .withColumn("min_val", min("value").over(wAll))
        .withColumn("max_val", max("value").over(wAll))
        .withColumn("n", count("value").over(wAll))
        .withColumn("avg_val", dsumOver(col("value"), wAll) / count("value").over(wAll))
        .filter(col("rn") === 1)
        .select(
          col("user_id"), col("value").as("last_val"), col("min_val"),
          col("max_val"), col("n"), col("avg_val"),
          unix_millis(col("ts")).as("last_ts_ms"))
    },

    // §2.7 rolling last-N history stats; stdev gated on a full buffer
    // (RealVal.java:403-414: only when history holds N samples).
    Q("st_history",
      """SELECT event_id,
        |  CAST(SUM(CAST(value AS DECIMAL(28,8))) OVER w AS DOUBLE)
        |    / count(value) OVER w AS hist_avg,
        |  CASE WHEN count(value) OVER w = 5 THEN
        |    round(sqrt(greatest((CAST(SUM(CAST(value*value AS DECIMAL(28,8))) OVER w AS DOUBLE)
        |      - CAST(SUM(CAST(value AS DECIMAL(28,8))) OVER w AS DOUBLE)
        |        * CAST(SUM(CAST(value AS DECIMAL(28,8))) OVER w AS DOUBLE) / 5) / 4, 0.0)), 6)
        |  END AS hist_std,
        |  min(value) OVER w AS hist_min,
        |  max(value) OVER w AS hist_max
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-4, 0)
      val cnt = count("value").over(w)
      val s1 = dsumOver(col("value"), w)
      val s2 = dsumOver(col("value") * col("value"), w)
      Tables.load(s, dir, "events")
        .select(
          col("event_id"),
          (s1 / cnt).as("hist_avg"),
          // greatest(0): a constant window can cancel to an ulp-negative
          // variance — DuckDB's sqrt hard-errors, Spark NaNs (round-12
          // review; the flatlined-sensor input the gate exists for)
          when(cnt === 5, round(sqrt(greatest(
            (s2 - s1 * s1 / lit(5)) / lit(4), lit(0.0))), 6)).as("hist_std"),
          min("value").over(w).as("hist_min"),
          max("value").over(w).as("hist_max"))
    },

    // §2.8 triggered commands: `changed` + rising-edge numeric compare
    // (RealVal.java:464-533 — fires on the edge, not while high).
    Q("st_triggers",
      """WITH t AS (SELECT event_id, event_type, value,
        |  lag(event_type) OVER w AS prev_type,
        |  lag(value) OVER w AS prev_val
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT event_id,
        |  COALESCE(event_type <> prev_type, TRUE) AS changed,
        |  (value >= 150 AND COALESCE(prev_val < 150, TRUE)) AS rising_edge
        |FROM t""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.load(s, dir, "events")
        .withColumn("prev_type", lag("event_type", 1).over(w))
        .withColumn("prev_val", lag("value", 1).over(w))
        .select(
          col("event_id"),
          coalesce(col("event_type") =!= col("prev_type"), lit(true)).as("changed"),
          (col("value") >= 150 && coalesce(col("prev_val") < 150, lit(true))).as("rising_edge"))
    },

    // §2.8 hysteresis: fire at >= 200 only when the condition last cleared
    // below 50 (fires once until it clears — RealVal.java hysteresis).
    Q("st_hysteresis",
      """WITH m AS (SELECT event_id, user_id, ts, value,
        |  CASE WHEN value >= 200 THEN 'H' WHEN value <= 50 THEN 'L' END AS marker
        |  FROM events),
        |p AS (SELECT event_id, value,
        |  last_value(marker IGNORE NULLS) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_marker
        |  FROM m)
        |SELECT event_id,
        |  (value >= 200 AND COALESCE(prev_marker, 'L') = 'L') AS fire
        |FROM p""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.load(s, dir, "events")
        .withColumn("marker",
          when(col("value") >= 200, "H").when(col("value") <= 50, "L"))
        .withColumn("prev_marker", last("marker", ignoreNulls = true).over(w))
        .select(
          col("event_id"),
          (col("value") >= 200 && coalesce(col("prev_marker"), lit("L")) === "L").as("fire"))
    },

    // §2.8 waypoint geofence ENTER/LEAVE/INSIDE/OUTSIDE state machine
    // (Waypoint.java:71-104), with positions synthesized from events and
    // distance from the shared haversine fragment.
    Q("st_geofence", {
      val d = Formulas.haversineSql(
        "(51.0 + (value - 250.0)/500.0)", "(3.0 + CAST(user_id % 10 AS DOUBLE)/50.0)",
        "51.0", "3.1")
      s"""WITH t AS (SELECT event_id, user_id, ts, ($d < 15000.0) AS inside FROM events),
         |p AS (SELECT event_id, inside,
         |  lag(inside) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
         |  FROM t)
         |SELECT event_id,
         |  CASE WHEN inside AND NOT COALESCE(prev, FALSE) THEN 'ENTER'
         |       WHEN NOT inside AND COALESCE(prev, FALSE) THEN 'LEAVE'
         |       WHEN inside THEN 'INSIDE' ELSE 'OUTSIDE' END AS geo_event
         |FROM p""".stripMargin
    }) { (s, dir) =>
      val d = Formulas.haversineSql(
        "(51.0 + (value - 250.0)/500.0)", "(3.0 + CAST(user_id % 10 AS DOUBLE)/50.0)",
        "51.0", "3.1")
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.load(s, dir, "events")
        .withColumn("inside", expr(s"$d < 15000.0"))
        .withColumn("prev", lag("inside", 1).over(w))
        .select(
          col("event_id"),
          when(col("inside") && !coalesce(col("prev"), lit(false)), "ENTER")
            .when(!col("inside") && coalesce(col("prev"), lit(false)), "LEAVE")
            .when(col("inside"), "INSIDE")
            .otherwise("OUTSIDE").as("geo_event"))
    },

    // §2.8 issue pool: startif value>250 / stopif value<20 — count state
    // machine activations per key (the reference's startif/stopif state
    // machine, IssuePool.java:26-70; thresholds are fixture-tuned so both
    // markers actually fire — an earlier comment here said 450/50, which
    // had drifted from the implemented 250/20).
    Q("st_issue_pool",
      """WITH m AS (SELECT user_id, ts, event_id,
        |  CASE WHEN value > 250 THEN 'S' WHEN value < 20 THEN 'X' END AS marker
        |  FROM events),
        |p AS (SELECT user_id, marker,
        |  last_value(marker IGNORE NULLS) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
        |  FROM m)
        |SELECT user_id,
        |  count(CASE WHEN marker = 'S' AND COALESCE(prev, 'X') = 'X' THEN 1 END) AS n_starts,
        |  count(CASE WHEN marker = 'X' AND prev = 'S' THEN 1 END) AS n_stops
        |FROM p GROUP BY user_id""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.load(s, dir, "events")
        .withColumn("marker",
          when(col("value") > 250, "S").when(col("value") < 20, "X"))
        .withColumn("prev", last("marker", ignoreNulls = true).over(w))
        .groupBy("user_id")
        .agg(
          count(when(col("marker") === "S" && coalesce(col("prev"), lit("X")) === "X", 1))
            .as("n_starts"),
          count(when(col("marker") === "X" && col("prev") === "S", 1)).as("n_stops"))
    },

    // §2.7 group reset (RealtimeValues.java:212-216,287-291): resetting a
    // group's vals = starting a new aggregation epoch. Epoch = cumulative
    // count of reset markers (here: 'signup' events) per key; min/max/avg/
    // count run within (key, epoch) — exactly the "since reset" stats.
    Q("st_reset",
      """WITH t AS (SELECT user_id, value,
        |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS epoch
        |  FROM events)
        |SELECT user_id, epoch, count(*) AS n,
        |  min(value) AS min_val, max(value) AS max_val,
        |  CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE) / count(value) AS avg_val
        |FROM t GROUP BY user_id, epoch""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      Tables.load(s, dir, "events")
        .withColumn("epoch",
          sum(when(col("event_type") === "signup", 1).otherwise(0)).over(w))
        .groupBy("user_id", "epoch")
        .agg(
          count(lit(1)).as("n"),
          min("value").as("min_val"),
          max("value").as("max_val"),
          (sum(col("value").cast(DecimalType(28, 8))).cast("double")
            / count("value")).as("avg_val"))
    },

    // K2 insert-building from state: pivot per-key last-values/sums into
    // one wide DB row (SqlTable.java:539-617 — each column reads its
    // linked rtval; here conditional aggregation builds the row shape).
    Q("st_pivot",
      """SELECT user_id,
        |  CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
        |    THEN CAST(value AS DECIMAL(18,4)) END), 0) AS DOUBLE) AS purchase_sum,
        |  CAST(COALESCE(SUM(CASE WHEN event_type = 'click'
        |    THEN CAST(value AS DECIMAL(18,4)) END), 0) AS DOUBLE) AS click_sum,
        |  CAST(COALESCE(SUM(CASE WHEN event_type = 'error'
        |    THEN CAST(value AS DECIMAL(18,4)) END), 0) AS DOUBLE) AS error_sum,
        |  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signups
        |FROM events GROUP BY user_id""".stripMargin) { (s, dir) =>
      def condSum(t: String) = coalesce(
        sum(when(col("event_type") === t, col("value").cast(DecimalType(18, 4)))),
        lit(0)).cast("double")
      Tables.load(s, dir, "events")
        .groupBy("user_id")
        .agg(
          condSum("purchase").as("purchase_sum"),
          condSum("click").as("click_sum"),
          condSum("error").as("error_sum"),
          count(when(col("event_type") === "signup", 1)).as("signups"))
    },

    // §2.11 tumbling event-time window (streaming twin uses window() +
    // watermark; 10-minute buckets align with epoch in both engines).
    Q("w_tumbling",
      """SELECT epoch_ms(time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP))) AS win_start_ms,
        |  event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_val
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 4))).cast("double").as("sum_val"))
        .select(
          unix_millis(col("window.start")).as("win_start_ms"),
          col("event_type"), col("n"), col("sum_val"))
    },

    // §2.11 sliding window (10 min / 5 min): each event lands in exactly 2
    // overlapping windows.
    Q("w_sliding",
      """WITH t AS (SELECT value,
        |  time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS tb FROM events),
        |x AS (SELECT value, unnest([tb, tb - INTERVAL '5 minutes']) AS ws FROM t)
        |SELECT epoch_ms(ws) AS win_start_ms, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_val
        |FROM x GROUP BY 1""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 4))).cast("double").as("sum_val"))
        .select(unix_millis(col("window.start")).as("win_start_ms"), col("n"), col("sum_val"))
    },

    // §2.11 session window, 30-minute gap per user (streaming twin:
    // session_window + watermark; oracle: lag-gap-cumsum). The split
    // predicate is STRICT (> gap): Spark's session_window treats a
    // window as [start, start+gap) per event and MERGES overlapping-or-
    // TOUCHING windows, so an event arriving exactly gap after the
    // previous one joins its session (verified empirically on 4.1.2:
    // 00:00 and 00:30 with a 30-min gap form ONE session ending 01:00).
    // The oracle's earlier >= split misstated that boundary — green only
    // because the microsecond-random fixture holds no exact-30:00 gap
    // (round-12 review).
    Q("w_session",
      """WITH t AS (SELECT user_id, ts, value,
        |  CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |            > INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |x AS (SELECT user_id, ts, value,
        |  SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM t)
        |SELECT user_id,
        |  epoch_ms(CAST(min(ts) AS TIMESTAMP)) AS session_start_ms,
        |  epoch_ms(CAST(max(ts) AS TIMESTAMP)) + 30*60*1000 AS session_end_ms,
        |  count(*) AS n
        |FROM x GROUP BY user_id, sid""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(
          col("user_id"),
          unix_millis(col("session_window.start")).as("session_start_ms"),
          unix_millis(col("session_window.end")).as("session_end_ms"),
          col("n"))
    },

    // Streaming session-window parity (the w_session twin, dd_stream_*
    // pattern): the event stream replayed through a file-backed stream in
    // ascending-ts micro-batches must produce EXACTLY the session set
    // the batch session_window computes — chunks split user sessions
    // arbitrarily, so this exercises Spark's session-state merge across
    // micro-batches. Append mode + 0s watermark; a far-future sentinel
    // event (user -1, excluded from the comparison) pushes the final
    // watermark past every real session so they all emit. Emitted as a
    // bounds-gate row: the oracle expects literal zeros, so any
    // stream-only or batch-only session turns the row red.
    Q("st_stream_session_parity",
      "SELECT CAST(0 AS BIGINT) AS stream_only, CAST(0 AS BIGINT) AS batch_only") {
      (s, dir) =>
      import s.implicits._
      implicit val sc: org.apache.spark.sql.SQLContext = s.sqlContext
      // a 500-user slice keeps the replay bounded on the board while the
      // cross-batch session merges stay fully exercised (the batch twin
      // w_session covers the whole table)
      val ev = Tables.load(s, dir, "events")
        .filter(col("user_id") < 500)
        .select(col("user_id").cast("long").as("user_id"), col("ts"))
      // file-backed replay in 2 time-range micro-batches plus a one-row
      // sentinel batch (round-9 verdict task 3: no corpus collect; the
      // sentinel is the only driver-created row). Range chunks are
      // time-ordered, so no real row is ever late against the 0s
      // watermark — same contract the count-half MemoryStream feed had.
      // an EMPTY slice aggregates max() to NULL — getLong would NPE
      // before the stream starts, re-breaking the empty-feed invariant
      // FileReplay.rangeChunks establishes (round-12 review); any epoch
      // works for the sentinel then, the parity is vacuously 0/0
      val maxRow = ev.agg(max(unix_millis(col("ts")))).head()
      val maxMs = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
      val sentinel = s.range(1).select(lit(-1L).as("user_id"),
        timestamp_millis(lit(maxMs + 36L * 3600 * 1000)).as("ts"))
      val chunkExpr = when(col("user_id") === -1L, lit(2)).otherwise(
        graft.streaming.FileReplay.rangeChunks(ev, unix_millis(col("ts")), 2))
      val replay = graft.streaming.FileReplay.stage(
        ev.unionByName(sentinel), chunkExpr)
      val sink = s"st_stream_session_${sessionEpoch.incrementAndGet()}"
      // append-mode session windows finalize ONLY when a watermark pass
      // runs with no new data: the sentinel batch raises the watermark,
      // but the emission itself happens in the no-data batch after it —
      // so this row needs no-data micro-batches, which the rest of the
      // replay tier runs without (every other row emits purely on data
      // batches; see FileReplay.start)
      val q = graft.streaming.FileReplay.start(s, 8, noDataBatches = true) {
        replay.stream
          .withWatermark("ts", "0 seconds")
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n"))
          .select(col("user_id"),
            unix_millis(col("session_window.start")).as("session_start_ms"),
            unix_millis(col("session_window.end")).as("session_end_ms"), col("n"))
          .writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
      }
      try replay.feedAll(q)
      finally {
        q.stop()
        replay.close()
      }
      val stream = s.table(sink).filter(col("user_id") >= 0)
      val batch = ev
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"),
          unix_millis(col("session_window.start")).as("session_start_ms"),
          unix_millis(col("session_window.end")).as("session_end_ms"), col("n"))
      stream.withColumn("src", lit("s"))
        .join(batch.withColumn("dst", lit("b")),
          Seq("user_id", "session_start_ms", "session_end_ms", "n"), "full_outer")
        .agg(
          sum(when(col("dst").isNull, 1L).otherwise(0L)).as("stream_only"),
          sum(when(col("src").isNull, 1L).otherwise(0L)).as("batch_only"))
        .select(coalesce(col("stream_only"), lit(0L)).as("stream_only"),
          coalesce(col("batch_only"), lit(0L)).as("batch_only"))
    },

    // Watermark late-data semantics promoted to a FULL HASH row (the
    // §2.8 late-data stance had only spec coverage): the event stream
    // replays in 5 time-ordered micro-batches with an md5-chosen subset
    // delayed one batch — most delayed rows fall behind the advancing
    // watermark and must be DROPPED, rows within the 2-hour delay
    // survive. The oracle replays Spark's exact watermark algebra in
    // SQL: wm(batch) = max event time of prior batches - 2h, a row is
    // kept iff its 1-hour window's end exceeds wm. Event times carry
    // microseconds and window ends are on the hour, so the <=-vs-<
    // eviction boundary can never coincide — the row is deterministic.
    // Update-mode counts are monotone per window, so the final state is
    // each window's max-n emission. A 300-user slice bounds the replay
    // harness (the st_stream_session_parity convention) while every
    // hourly window stays populated.
    Q("st_stream_late_parity",
      """WITH ev AS (SELECT * FROM events WHERE user_id < 300),
        |t AS (SELECT event_id, ts, value,
        |    ntile(4) OVER (ORDER BY ts, event_id) - 1 AS q,
        |    CASE WHEN substr(md5(CAST(event_id AS VARCHAR)), 1, 1) < '4'
        |         THEN 1 ELSE 0 END AS d
        |  FROM ev),
        |e AS (SELECT ts, value, q + d AS b FROM t),
        |wm AS (SELECT b1.b, (SELECT max(e2.ts) FROM e e2 WHERE e2.b < b1.b) AS mx
        |  FROM (SELECT DISTINCT b FROM e) b1),
        |keep AS (SELECT e.ts, e.value FROM e JOIN wm ON e.b = wm.b
        |  WHERE wm.mx IS NULL
        |     OR date_trunc('hour', e.ts) + INTERVAL 1 HOUR > wm.mx - INTERVAL 2 HOUR)
        |SELECT epoch_ms(date_trunc('hour', ts)) AS ws, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS s
        |FROM keep GROUP BY 1""".stripMargin) { (s, dir) =>
      import s.implicits._
      implicit val sc: org.apache.spark.sql.SQLContext = s.sqlContext
      // batch id b (time quartile + md5-chosen one-batch delay) is part
      // of the FIXTURE definition the oracle replays — computed in-plan
      // (the ntile window is over the 300-user slice, bounded); the rows
      // themselves replay through a file-backed stream with b as the
      // chunk column, no driver collect (round-9 verdict task 3)
      val batched = Tables.load(s, dir, "events")
        .filter(col("user_id") < 300)
        .select(col("event_id"), col("ts"), col("value"))
        .withColumn("q", ntile(4).over(
          Window.orderBy(col("ts"), col("event_id"))) - 1)
        .withColumn("b", col("q") + when(
          substring(md5(col("event_id").cast("string")), 1, 1) < "4", 1)
          .otherwise(0))
        .select(col("b"), col("ts"), col("value").as("v"))
      val replay = graft.streaming.FileReplay.stage(batched, col("b"))
      val sink = s"st_stream_late_${sessionEpoch.incrementAndGet()}"
      // this row's late-vs-kept split is sensitive to WHEN the watermark
      // pass runs between the delayed-batch publishes (oracle-verified:
      // with no-data batches off the kept set changes), so it keeps them
      // on like st_stream_session_parity while the rest of the replay
      // tier runs without them (see FileReplay.start)
      val q = graft.streaming.FileReplay.start(s, 4, noDataBatches = true) {
        replay.stream
          .withWatermark("ts", "2 hours")
          .groupBy(window(col("ts"), "1 hour"))
          .agg(count(lit(1)).as("n"),
            sum(col("v").cast(DecimalType(18, 4))).as("sd"))
          .select(unix_millis(col("window.start")).as("ws"), col("n"), col("sd"))
          .writeStream.format("memory").queryName(sink)
          .outputMode("update").start()
      }
      try replay.feedAll(q)
      finally {
        q.stop()
        replay.close()
      }
      // final state per window = its max-n update emission (counts are
      // monotone per window) — reduced in-plan, not on the driver
      s.table(sink)
        .withColumn("rn", row_number().over(
          Window.partitionBy("ws").orderBy(col("n").desc)))
        .filter(col("rn") === 1)
        .select(col("ws"), col("n"), col("sd").cast("double").as("s"))
    },

    // Stream-stream interval join parity — the one Structured Streaming
    // join mode the board did not yet exercise end-to-end: purchases
    // joined to the SAME user's clicks in the preceding 6 hours
    // (last-touch attribution), both sides watermarked 1 hour, run as a
    // real two-input streaming query over time-aligned micro-batches
    // and hash-compared against the plain batch join oracle. Parity is
    // exact, not approximate: inner stream-stream joins emit eagerly,
    // and with in-order time-aligned feeding a click is state-evicted
    // (wm > c_ts + 6h) only when every future purchase is already out
    // of its join range (p_ts >= wm + 1h > c_ts + 6h), so eviction can
    // never drop a match. State per side is bounded by the 6h window +
    // 1h delay — the 100 TB posture, not keep-everything.
    Q("st_stream_join_parity",
      """SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id,
        |  epoch_ms(p.ts) AS p_ms, epoch_ms(c.ts) AS c_ms
        |FROM events p JOIN events c
        |  ON p.event_type = 'purchase' AND c.event_type = 'click'
        | AND p.user_id = c.user_id
        | AND c.ts >= p.ts - INTERVAL 6 HOUR AND c.ts <= p.ts""".stripMargin) {
      (s, dir) =>
      import s.implicits._
      implicit val sc: org.apache.spark.sql.SQLContext = s.sqlContext
      // two file-backed replay sides over one base filter, chunked by the
      // SAME 4 time-aligned quarters (round-9 verdict task 3: no corpus
      // collect): both sides' chunk i cover the same wall-clock quarter,
      // the replay order a log backfill has
      // consumed three times (min/max bounds agg + the two side stagings)
      // — tracked-cached so the events scan and filter run once
      val both = Tables.load(s, dir, "events")
        .filter(col("event_type").isin("purchase", "click"))
        .select(col("ts"), col("event_id"), col("user_id"), col("event_type"))
        .transform(graft.operators.TextOps.trackCache)
      val b = both.agg(min(unix_millis(col("ts"))),
        max(unix_millis(col("ts")))).head()
      // empty slice: min/max aggregate to NULL, getLong would NPE (the
      // FileReplay empty-feed invariant — round-12 review); 0/0 bounds
      // put everything (nothing) in chunk 0 and the join is vacuous
      val (t0, t1) =
        if (b.isNullAt(0)) (0L, 0L) else (b.getLong(0), b.getLong(1))
      val width = math.max(1L, (t1 - t0 + 4) / 4)
      def chunkOf(c: Column): Column =
        ((unix_millis(c) - lit(t0)) / lit(width)).cast("int")
      val pReplay = graft.streaming.FileReplay.stage(
        both.filter(col("event_type") === "purchase")
          .select(col("ts").as("p_ts"), col("event_id").as("p_id"),
            col("user_id")), chunkOf(col("p_ts")))
      val cReplay = graft.streaming.FileReplay.stage(
        both.filter(col("event_type") === "click")
          .select(col("ts").as("c_ts"), col("event_id").as("c_id"),
            col("user_id").as("c_user")), chunkOf(col("c_ts")))
      val sink = s"st_stream_join_${sessionEpoch.incrementAndGet()}"
      // 4 state partitions: the replay cost is per-partition state-store
      // commits x micro-batches, not row volume, at this fixture size
      val q = graft.streaming.FileReplay.start(s, 4) {
        pReplay.stream
          .withWatermark("p_ts", "1 hour")
          .join(cReplay.stream
              .withWatermark("c_ts", "1 hour"),
            col("user_id") === col("c_user") &&
              col("c_ts") >= col("p_ts") - expr("INTERVAL 6 HOURS") &&
              col("c_ts") <= col("p_ts"))
          .select(col("p_id"), col("c_id"), col("user_id"),
            unix_millis(col("p_ts")).as("p_ms"), unix_millis(col("c_ts")).as("c_ms"))
          .writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
      }
      try {
        // publish both sides' quarter i before draining, so each
        // micro-batch sees the time-aligned pair (a mid-publish trigger
        // is harmless: inner-join state holds both sides and the global
        // watermark is the min across sources, so a split batch can
        // neither duplicate nor evict a match)
        (0 until 4).foreach { i =>
          pReplay.publish(i)
          cReplay.publish(i)
          q.processAllAvailable()
        }
      } finally {
        q.stop()
        pReplay.close()
        cReplay.close()
      }
      s.table(sink)
        .select(col("p_id"), col("c_id"), col("user_id"), col("p_ms"), col("c_ms"))
    },

    // Streaming CEP parity — the keyed-state 3-step sequence machine
    // (graft.streaming.Cep: first signup, first click within 24 h, first
    // purchase within 24 h of that click, emit + reset) replayed over 5
    // time-ordered micro-batches and reduced to the FIRST match per
    // user, which must hash-equal the batch anchor-join oracle (the
    // q_sequence_match construction, inner-joined to matched users).
    // State is two longs per live key regardless of history length —
    // the bounded-state posture a fleet-wide CEP deployment needs; the
    // parity argument is exact because the machine is fed in event-time
    // order, so its greedy anchors coincide with the min() anchors of
    // the batch query.
    Q("st_stream_cep_parity",
      """WITH s AS (SELECT user_id, min(ts) AS s_ts FROM events
        |           WHERE event_type = 'signup' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS c_ts FROM events e
        |      JOIN s ON e.user_id = s.user_id
        |      WHERE e.event_type = 'click'
        |        AND epoch_ms(CAST(e.ts AS TIMESTAMP)) > epoch_ms(CAST(s.s_ts AS TIMESTAMP))
        |        AND epoch_ms(CAST(e.ts AS TIMESTAMP))
        |            <= epoch_ms(CAST(s.s_ts AS TIMESTAMP)) + 86400000
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS p_ts FROM events e
        |      JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase'
        |        AND epoch_ms(CAST(e.ts AS TIMESTAMP)) > epoch_ms(CAST(c.c_ts AS TIMESTAMP))
        |        AND epoch_ms(CAST(e.ts AS TIMESTAMP))
        |            <= epoch_ms(CAST(c.c_ts AS TIMESTAMP)) + 86400000
        |      GROUP BY e.user_id)
        |SELECT s.user_id, epoch_ms(CAST(s.s_ts AS TIMESTAMP)) AS s_ms,
        |  epoch_ms(CAST(c.c_ts AS TIMESTAMP)) AS c_ms,
        |  epoch_ms(CAST(p.p_ts AS TIMESTAMP)) AS p_ms
        |FROM s JOIN c ON s.user_id = c.user_id
        |JOIN p ON s.user_id = p.user_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      implicit val sc: org.apache.spark.sql.SQLContext = s.sqlContext
      // file-backed replay in 5 time-range micro-batches (round-9 verdict
      // task 3: no corpus collect); the state machine sorts each batch's
      // group by (ts, kind) itself, so within-chunk arrival order is
      // immaterial and time-range chunks preserve the event-time-order
      // parity argument
      val rows = Tables.load(s, dir, "events")
        .filter(col("event_type").isin("signup", "click", "purchase"))
        .select(col("user_id").cast("string").as("key"),
          col("event_type").as("kind"), unix_millis(col("ts")).as("ts"))
      val replay = graft.streaming.FileReplay.stage(rows,
        graft.streaming.FileReplay.rangeChunks(rows, col("ts"), 5))
      val sink = s"st_stream_cep_${sessionEpoch.incrementAndGet()}"
      val q = graft.streaming.FileReplay.start(s, 4) {
        graft.streaming.Cep
          .sequenceMatches(replay.stream.as[graft.streaming.SeqEvent],
            "signup", "click", "purchase", 86400000L)
          .toDF()
          .writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
      }
      try replay.feedAll(q)
      finally {
        q.stop()
        replay.close()
      }
      s.table(sink)
        .groupBy(col("key"))
        .agg(min(struct(col("sTs"), col("cTs"), col("pTs"))).as("m"))
        .select(col("key").cast("long").as("user_id"),
          col("m.sTs").as("s_ms"), col("m.cTs").as("c_ms"), col("m.pTs").as("p_ms"))
    },

    // Streaming AS-OF enrichment parity — the keyed-state continuous
    // twin of j_asof / the native AsOfJoinExec, against the SAME DuckDB
    // ASOF LEFT JOIN oracle: purchases replayed through 5 time-ordered
    // micro-batches must each carry the latest prior error the state
    // held at processing time, hash-equal to the batch join. State is
    // 16 bytes/key (latest dim ts + id); events advance in (ts, id)
    // order within each batch — the same total order the batch window
    // sorts by — so batch boundaries cannot reorder a key's history.
    // Three independent formulations now cross-check: window rendering
    // (j_asof), custom physical merge operator (j_asof_exec), and this
    // keyed-state stream.
    Q("st_stream_asof_parity",
      """SELECT p.event_id, e.event_id AS err_event_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
        |  ON p.user_id = e.user_id AND p.ts >= e.ts""".stripMargin) { (s, dir) =>
      import s.implicits._
      implicit val sc: org.apache.spark.sql.SQLContext = s.sqlContext
      // file-backed replay in 5 time-range micro-batches (round-9 verdict
      // task 3: no corpus collect); the enrich machine sorts each batch's
      // group by (ts, id) itself, so within-chunk order is immaterial
      val rows = Tables.load(s, dir, "events")
        .filter(col("event_type").isin("purchase", "error"))
        .select(col("user_id").cast("string").as("key"),
          col("event_type").as("kind"), unix_micros(col("ts")).as("ts"),
          col("event_id").as("id"))
      val replay = graft.streaming.FileReplay.stage(rows,
        graft.streaming.FileReplay.rangeChunks(rows, col("ts"), 5))
      val sink = s"st_stream_asof_${sessionEpoch.incrementAndGet()}"
      val q = graft.streaming.FileReplay.start(s, 4) {
        graft.streaming.Cep
          .asOfEnrich(replay.stream.as[graft.streaming.EnrichEvent],
            "error", "purchase")
          .toDF()
          .writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
      }
      try replay.feedAll(q)
      finally {
        q.stop()
        replay.close()
      }
      s.table(sink).select(col("queryId").as("event_id"),
        when(col("matchId") < 0, lit(null).cast("long"))
          .otherwise(col("matchId")).as("err_event_id"))
    },

    // Built-in streaming dedup operator parity: Spark's
    // dropDuplicatesWithinWatermark — the bounded-state engine operator
    // (state expires at event time + delay), distinct from the custom
    // keyed-state index dd_stream_exact tests. An md5-chosen ~25% of
    // events are re-delivered one micro-batch later (the at-least-once
    // redelivery a log replay produces); chunk width (~7.5 days) is
    // inside the 10-day delay, so every duplicate is guaranteed to meet
    // its first copy's live state and the emitted set must equal the
    // original table exactly — a full hash row against the raw events
    // oracle, red on any leaked duplicate OR dropped original.
    Q("st_stream_dropdup_parity",
      """SELECT event_id, epoch_ms(ts) AS ms, value FROM events""") { (s, dir) =>
      import s.implicits._
      implicit val sc: org.apache.spark.sql.SQLContext = s.sqlContext
      // file-backed replay (round-9 verdict task 3): fresh rows land in
      // their time-quarter chunk; the md5-chosen ~25% are ADDITIONALLY
      // staged one chunk later — the at-least-once redelivery a log
      // replay produces — all assigned in-plan, no corpus collect
      val ev = Tables.load(s, dir, "events")
        .select(col("ts"), col("event_id"), col("value"))
      val quarter =
        graft.streaming.FileReplay.rangeChunks(ev, unix_millis(col("ts")), 4)
      val fresh = ev.withColumn("__c", quarter)
      val redelivered = fresh
        .filter(substring(md5(col("event_id").cast("string")), 1, 1) < "4" &&
          col("__c") < 3)
        .withColumn("__c", col("__c") + 1)
      val staged = fresh.unionByName(redelivered)
      val replay = graft.streaming.FileReplay.stage(staged, col("__c"))
      // scale-aware: the dedup state exchange carries ~1.25x the events
      // table per replay — a pinned 4 serialized the 100x fixture's
      // 12.5M rows onto 4 tasks (64 s; round-13 verdict task 3). Parquet
      // sink, not memory: the row re-emits the whole events table, which
      // the memory sink would funnel through the driver.
      val res =
        try graft.streaming.FileReplay.replayToParquet(
          replay.stream
            .withWatermark("ts", "10 days")
            .dropDuplicatesWithinWatermark("event_id")
            .select(col("event_id"), unix_millis(col("ts")).as("ms"),
              col("value")),
          graft.streaming.FileReplay.replayPartitions(ev.count()))(
          replay.feedAll)
        finally replay.close()
      res.select(col("event_id"), col("ms"), col("value"))
    },

    // §2.11 time-series similarity search (streaming-sensor analytics, cf.
    // EDBT'19 distributed TS similarity): per-key sliding windows of 8
    // points, z-normalized, ranked by Euclidean distance to a broadcast
    // query pattern (a unit ramp). One window-function pass per key plus
    // a global top-k (TakeOrdered) — no all-pairs work; the pattern side
    // is a constant, so at 100 TB the scan dominates and parallelizes
    // perfectly. Distances rounded to 4dp BEFORE ranking (tie safety).
    Q("ts_motif",
      """WITH w AS (
        |  SELECT user_id, event_id,
        |    list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS win,
        |    count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS n
        |  FROM events),
        |f AS (SELECT user_id, event_id, win FROM w WHERE n = 8),
        |z AS (SELECT user_id, event_id, win, list_sum(win)/8 AS mu FROM f),
        |z2 AS (SELECT user_id, event_id, win, mu,
        |    sqrt(list_sum([(x - mu)*(x - mu) for x in win])/8) AS sd FROM z),
        |d AS (SELECT user_id, event_id,
        |    round(sqrt(list_sum([((win[i+1] - mu)/sd - (CAST(i AS DOUBLE) - 3.5)/sqrt(6.0))
        |                         * ((win[i+1] - mu)/sd - (CAST(i AS DOUBLE) - 3.5)/sqrt(6.0))
        |                         for i in range(0, 8)])), 4) AS dist
        |  FROM z2 WHERE sd > 0)
        |SELECT user_id, event_id, dist FROM d
        |ORDER BY dist, user_id, event_id LIMIT 10""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-7, 0)
      // ramp pattern (i - 3.5)/sqrt(6): same IEEE doubles the oracle's
      // (CAST(i AS DOUBLE) - 3.5)/sqrt(6.0) produces
      val ramp = (0 until 8).map(i => (i - 3.5) / math.sqrt(6.0))
      Tables.load(s, dir, "events")
        .withColumn("win", collect_list("value").over(w))
        .withColumn("n", count("value").over(w))
        .filter(col("n") === 8)
        // native znorm_dist: NaN marks sd=0 windows (the oracle's
        // sd > 0 filter); accumulation order matches the lambda form
        .withColumn("dist", round(
          graft.functions.GraftFunctions.znorm_dist(
            col("win"), array(ramp.map(lit): _*)), 4))
        .filter(!isnan(col("dist")))
        .orderBy(col("dist"), col("user_id"), col("event_id"))
        .limit(10)
        .select("user_id", "event_id", "dist")
    },

    // §2.11 range join: same-user event pairs within a 5-minute forward
    // window. Spark side bins both sides to gap-sized buckets (equi-join
    // on (user, bucket) — no per-key cross product); the DuckDB oracle is
    // the plain inequality join, checking the binning is lossless.
    Q("j_range",
      """SELECT a.event_id AS a_id, b.event_id AS b_id,
        |  epoch_ms(CAST(b.ts AS TIMESTAMP)) - epoch_ms(CAST(a.ts AS TIMESTAMP)) AS gap_ms
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND epoch_ms(CAST(b.ts AS TIMESTAMP)) >= epoch_ms(CAST(a.ts AS TIMESTAMP))
        | AND epoch_ms(CAST(b.ts AS TIMESTAMP)) <= epoch_ms(CAST(a.ts AS TIMESTAMP)) + 300000
        | AND a.event_id <> b.event_id""".stripMargin) { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("tsm"))
      graft.operators.RangeJoin.timeWindowJoin(ev, ev, "user_id", "tsm", 300000L)
        .filter(col("l_event_id") =!= col("r_event_id"))
        .select(
          col("l_event_id").as("a_id"),
          col("r_event_id").as("b_id"),
          (col("r_tsm") - col("l_tsm")).as("gap_ms"))
    },

    // §2.11 as-of join: latest prior error event per purchase, same user.
    // Spark side is the scalable union + last(ignore nulls) rendering (one
    // shuffle, no range-join explosion); DuckDB side is a native ASOF JOIN
    // — two independent formulations cross-checking each other.
    Q("j_asof",
      """SELECT p.event_id, e.event_id AS err_event_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
        |  ON p.user_id = e.user_id AND p.ts >= e.ts""".stripMargin) { (s, dir) =>
      // order by (ts, errors-BEFORE-purchases, id): the oracle's
      // `p.ts >= e.ts` is INCLUSIVE, so an error sharing a purchase's
      // exact ts must land inside the purchase's frame regardless of
      // how their event_ids compare — plain (ts, id) ordering would
      // exclude a same-ts error with a larger id, silently diverging
      // from both DuckDB and AsOfJoinExec (whose merge advances through
      // `rt <= t`, ties to the largest (time, id)) on a ts collision.
      // Among equal-ts errors the largest id sorts last in the frame
      // and wins `last()` — the exec's tie rule exactly.
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"),
          when(col("event_type") === "error", 0).otherwise(1),
          col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      Tables.load(s, dir, "events")
        .filter(col("event_type").isin("purchase", "error"))
        .withColumn("err_id", when(col("event_type") === "error", col("event_id")))
        .withColumn("last_err", last("err_id", ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("last_err").as("err_event_id"))
    },

    // §2.11 as-of join through the NATIVE physical operator
    // (org.apache.spark.sql.graft.AsOfJoinExec): logical AsOfJoinPlan ->
    // AsOfJoinStrategy -> one linear merge per co-partitioned sorted
    // partition — the (c)-tier custom-operator rendering of j_asof.
    // Same DuckDB ASOF oracle as j_asof, so the exec, the window
    // rendering, and DuckDB's native ASOF triple-check each other.
    // Scale: ONE hash exchange per side on user_id + per-partition sort;
    // no candidate materialization at any key skew (merge is O(n+m)).
    Q("j_asof_exec",
      """SELECT p.event_id, e.event_id AS err_event_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
        |  ON p.user_id = e.user_id AND p.ts >= e.ts""".stripMargin) { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("tus"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("r_event_id"),
          col("user_id").as("r_user_id"), unix_micros(col("ts")).as("r_tus"))
      org.apache.spark.sql.graft.AsOf.joinAsOf(purchases, errors,
          "user_id", "r_user_id", "tus", "r_tus", "event_id", "r_event_id")
        .select(col("event_id"), col("r_event_id").as("err_event_id"))
    },

    // §2.11 ordered conversion funnel: per-user signup -> first LATER
    // purchase with latency, plus step counts. Order-dependent two-level
    // aggregation: the signup anchor aggregates first, purchases join
    // against it and re-aggregate — both shuffles on user_id, so AQE
    // reuses the partitioning; no window over the full event log.
    Q("q_funnel_steps",
      """WITH s AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'signup' THEN ts END) AS fs,
        |    count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
        |    count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click
        |  FROM events GROUP BY user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS fp
        |  FROM events e JOIN s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s.fs GROUP BY e.user_id)
        |SELECT s.user_id, n_view, n_click,
        |  epoch_ms(CAST(fs AS TIMESTAMP)) AS signup_ms,
        |  epoch_ms(CAST(fp AS TIMESTAMP)) - epoch_ms(CAST(fs AS TIMESTAMP)) AS latency_ms
        |FROM s LEFT JOIN p ON s.user_id = p.user_id""".stripMargin) { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      val anchor = ev.groupBy("user_id").agg(
        min(when(col("event_type") === "signup", col("ts"))).as("fs"),
        count(when(col("event_type") === "view", 1)).as("n_view"),
        count(when(col("event_type") === "click", 1)).as("n_click"))
      val firstPurchase = ev.filter(col("event_type") === "purchase")
        .join(anchor.select("user_id", "fs"), "user_id")
        .filter(col("ts") > col("fs"))
        .groupBy("user_id").agg(min("ts").as("fp"))
      anchor.join(firstPurchase, Seq("user_id"), "left")
        .select(col("user_id"), col("n_view"), col("n_click"),
          unix_millis(col("fs")).as("signup_ms"),
          (unix_millis(col("fp")) - unix_millis(col("fs"))).as("latency_ms"))
    },

    // §2.8-adjacent CUSUM drift detector: s = max(0, s + x - target)
    // folded over the last 20 readings per key, alarm when the
    // accumulated positive drift clears the threshold — the sequential
    // change detector behind "sensor slowly drifting high" alerts that
    // a plain threshold (st_triggers) misses. Fold order is the window
    // order in both dialects; DuckDB's list_reduce seeds with the first
    // element, so BOTH sides fold over a 0-prepended list and the seed
    // is exactly 0.
    Q("st_cusum",
      """SELECT user_id, event_id,
        |  round(list_reduce(list_prepend(0.0, array_agg(value) OVER w),
        |                    (a, x) -> greatest(0.0, a + x - 50.0)), 6) AS cusum,
        |  CAST(list_reduce(list_prepend(0.0, array_agg(value) OVER w),
        |                   (a, x) -> greatest(0.0, a + x - 50.0)) > 100 AS INT) AS alarm
        |FROM events WHERE user_id < 100
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-19, 0)
      val cusum = aggregate(col("win"), lit(0.0),
        (acc, x) => greatest(lit(0.0), acc + x - 50.0))
      Tables.load(s, dir, "events")
        .filter(col("user_id") < 100)
        .withColumn("win", collect_list("value").over(w))
        .select(col("user_id"), col("event_id"),
          round(cusum, 6).as("cusum"),
          (cusum > 100).cast("int").as("alarm"))
    },

    // §2.7-adjacent sensor derivative: per-key rate of change
    // (value/second) via lag — the MathFab-style derived channel every
    // monitoring deployment computes. Row-local after one per-key
    // window pass; ms epoch arithmetic, round 6.
    // nullif on the ms delta: timestamps carry MICROSECONDS, so two
    // adjacent events can share an epoch-millisecond — the raw division
    // is then x/0, which DuckDB NULLs but Spark-4-ANSI throws, killing
    // the whole row (round-12 review; no same-ms pair in today's
    // fixtures, probability grows quadratically with event density).
    Q("st_rate_of_change",
      """SELECT user_id, event_id,
        |  round((value - lag(value) OVER w) * 1000.0
        |        / nullif(epoch_ms(CAST(ts AS TIMESTAMP))
        |           - lag(epoch_ms(CAST(ts AS TIMESTAMP))) OVER w, 0), 6) + 0.0 AS roc
        |FROM events WHERE user_id < 100
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.load(s, dir, "events")
        .filter(col("user_id") < 100)
        .select(col("user_id"), col("event_id"),
          round((col("value") - lag("value", 1).over(w)) * 1000.0
            / nullif(unix_millis(col("ts"))
              - lag(unix_millis(col("ts")), 1).over(w), lit(0)), 6).as("roc"))
    },

    // §2.7-adjacent median despiking: rolling median of the last 9
    // readings per key — THE standard robust filter for marine sensor
    // spikes (a mean smears an outlier; the median drops it). Exact:
    // sort the 9-element window and take the middle, identical in both
    // dialects; emitted only for full windows.
    Q("st_rolling_median",
      """WITH w9 AS (SELECT user_id, event_id,
        |    list_sort(list(value) OVER w) AS win,
        |    count(*) OVER w AS n
        |  FROM events WHERE user_id < 100
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN 8 PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id, win[5] AS med
        |FROM w9 WHERE n = 9""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-8, 0)
      Tables.load(s, dir, "events")
        .filter(col("user_id") < 100)
        .withColumn("win", sort_array(collect_list("value").over(w)))
        .withColumn("n", count("value").over(w))
        .filter(col("n") === 9)
        .select(col("user_id"), col("event_id"),
          element_at(col("win"), 5).as("med"))
    },

    // §2.8-adjacent alert debouncing: a key's alarm fires only if the
    // last EMITTED alarm is >= 24h older — the cooldown every alerting
    // system applies so a flapping sensor doesn't page 50 times
    // (reference issue-pool "message seen n times" suppression is the
    // same idea). Inherently sequential per key: each decision depends
    // on the previous EMITTED time, not the previous candidate — so a
    // window can't express it. Spark folds the per-key candidate list
    // with aggregate() over a struct accumulator (candidates per key are
    // bounded by the trigger rate, not the corpus — the list stays
    // small at any SF); DuckDB replays the same recursion as a
    // recursive CTE. Emitted count + emitted-epoch sum checksum make
    // any divergence in any step break the hash.
    Q("st_debounce",
      """WITH RECURSIVE cand AS (
        |  SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS tms,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_ms(CAST(ts AS TIMESTAMP))) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n_cand
        |  FROM events WHERE value > 90),
        |rec AS (
        |  SELECT user_id, rn, n_cand, tms AS last_em, 1 AS n, tms AS s
        |  FROM cand WHERE rn = 1
        |  UNION ALL
        |  SELECT c.user_id, c.rn, c.n_cand,
        |    CASE WHEN c.tms - r.last_em >= 86400000 THEN c.tms ELSE r.last_em END,
        |    r.n + CASE WHEN c.tms - r.last_em >= 86400000 THEN 1 ELSE 0 END,
        |    r.s + CASE WHEN c.tms - r.last_em >= 86400000 THEN c.tms ELSE 0 END
        |  FROM rec r JOIN cand c ON c.user_id = r.user_id AND c.rn = r.rn + 1)
        |SELECT user_id, n_cand, n AS n_emit, s AS emit_sum_ms
        |FROM rec WHERE rn = n_cand""".stripMargin) { (s, dir) =>
      val acc0 = struct(
        lit(-1000000000000000L).as("last"), lit(0).as("n"), lit(0L).as("s"))
      val deb = aggregate(col("cands"), acc0, (a, t) =>
        when(t - a.getField("last") >= 86400000L,
          struct(t.as("last"), (a.getField("n") + 1).as("n"),
            (a.getField("s") + t).as("s")))
          .otherwise(a))
      Tables.load(s, dir, "events")
        .filter(col("value") > 90)
        .select(col("user_id"), unix_millis(col("ts")).as("tms"))
        .groupBy("user_id")
        .agg(sort_array(collect_list("tms")).as("cands"))
        .select(col("user_id"), size(col("cands")).as("n_cand"),
          deb.getField("n").as("n_emit"), deb.getField("s").as("emit_sum_ms"))
    },

    // §2.8-adjacent flap detection: a sensor oscillating around its
    // threshold generates alarm/clear churn — flag keys whose
    // state-transition rate clears 40% so hysteresis (st_hysteresis)
    // can be pointed at them. One per-key window pass for lag, one
    // aggregate; transition rate in integer ppm so the flag replays
    // exactly cross-engine.
    Q("st_flapping",
      """WITH st AS (SELECT user_id,
        |    CAST(value > 50 AS INT) AS state,
        |    CASE WHEN CAST(value > 50 AS INT)
        |      <> lag(CAST(value > 50 AS INT)) OVER w THEN 1 ELSE 0 END AS trans
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, count(*) AS n_rows,
        |  CAST(sum(trans) AS BIGINT) AS n_trans,
        |  CAST(sum(trans) * 1000000 // (count(*) - 1) AS BIGINT) AS trans_ppm,
        |  CAST(sum(trans) * 1000000 // (count(*) - 1) >= 400000 AS INT) AS flapping
        |FROM st GROUP BY user_id HAVING count(*) > 1""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val state = (col("value") > 50).cast("int")
      val ppm = expr("n_trans * 1000000 div (n_rows - 1)")
      Tables.load(s, dir, "events")
        .withColumn("trans",
          when(state =!= lag(state, 1).over(w), 1).otherwise(0))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_rows"), sum("trans").as("n_trans"))
        .filter(col("n_rows") > 1)
        .select(col("user_id"), col("n_rows"), col("n_trans"),
          ppm.as("trans_ppm"),
          (ppm >= 400000).cast("int").as("flapping"))
    },

    // §2.11 NEAREST as-of join: each purchase matches its closest error
    // (same user) by absolute time distance — backward as-of (j_asof)
    // takes the latest prior only; sensor fusion wants the nearest
    // reading either side. Union-then-window rendering: one per-key
    // pass gives prev and next candidates, a row-local pick takes the
    // closer (tie -> the earlier one). No range-join explosion.
    Q("j_asof_nearest",
      """WITH u AS (
        |  SELECT user_id, ts, event_id, 0 AS is_q FROM events WHERE event_type = 'error'
        |  UNION ALL
        |  SELECT user_id, ts, event_id, 1 AS is_q FROM events WHERE event_type = 'purchase'),
        |m AS (SELECT user_id, ts, event_id, is_q,
        |    last_value(CASE WHEN is_q = 0 THEN event_id END IGNORE NULLS) OVER w_prev AS prev_id,
        |    last_value(CASE WHEN is_q = 0 THEN epoch_ms(CAST(ts AS TIMESTAMP)) END IGNORE NULLS)
        |      OVER w_prev AS prev_ms,
        |    first_value(CASE WHEN is_q = 0 THEN event_id END IGNORE NULLS) OVER w_next AS next_id,
        |    first_value(CASE WHEN is_q = 0 THEN epoch_ms(CAST(ts AS TIMESTAMP)) END IGNORE NULLS)
        |      OVER w_next AS next_ms
        |  FROM u
        |  WINDOW w_prev AS (PARTITION BY user_id ORDER BY ts, is_q, event_id
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |  w_next AS (PARTITION BY user_id ORDER BY ts, is_q, event_id
        |             ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
        |SELECT event_id,
        |  CASE WHEN prev_id IS NULL THEN next_id
        |       WHEN next_id IS NULL THEN prev_id
        |       WHEN epoch_ms(CAST(ts AS TIMESTAMP)) - prev_ms
        |            <= next_ms - epoch_ms(CAST(ts AS TIMESTAMP)) THEN prev_id
        |       ELSE next_id END AS nearest_err_id,
        |  CASE WHEN prev_id IS NULL AND next_id IS NULL THEN NULL
        |       WHEN prev_id IS NULL THEN next_ms - epoch_ms(CAST(ts AS TIMESTAMP))
        |       WHEN next_id IS NULL THEN epoch_ms(CAST(ts AS TIMESTAMP)) - prev_ms
        |       ELSE least(epoch_ms(CAST(ts AS TIMESTAMP)) - prev_ms,
        |                  next_ms - epoch_ms(CAST(ts AS TIMESTAMP))) END AS gap_ms
        |FROM m WHERE is_q = 1""".stripMargin) { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      val u = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("event_id"), lit(0).as("is_q"))
        .unionAll(ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"), lit(1).as("is_q")))
      val ord = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("is_q"), col("event_id"))
      val wPrev = ord.rowsBetween(Window.unboundedPreceding, -1)
      val wNext = ord.rowsBetween(1, Window.unboundedFollowing)
      val errId = when(col("is_q") === 0, col("event_id"))
      val errMs = when(col("is_q") === 0, unix_millis(col("ts")))
      val t = unix_millis(col("ts"))
      u.select(col("user_id"), col("ts"), col("event_id"), col("is_q"),
          last(errId, ignoreNulls = true).over(wPrev).as("prev_id"),
          last(errMs, ignoreNulls = true).over(wPrev).as("prev_ms"),
          first(errId, ignoreNulls = true).over(wNext).as("next_id"),
          first(errMs, ignoreNulls = true).over(wNext).as("next_ms"))
        .filter(col("is_q") === 1)
        .select(col("event_id"),
          when(col("prev_id").isNull, col("next_id"))
            .when(col("next_id").isNull, col("prev_id"))
            .when(t - col("prev_ms") <= col("next_ms") - t, col("prev_id"))
            .otherwise(col("next_id")).as("nearest_err_id"),
          when(col("prev_id").isNull && col("next_id").isNull, lit(null))
            .when(col("prev_id").isNull, col("next_ms") - t)
            .when(col("next_id").isNull, t - col("prev_ms"))
            .otherwise(least(t - col("prev_ms"), col("next_ms") - t)).as("gap_ms"))
    },

    // §2.11 cohort retention matrix: users grouped by first-seen week,
    // activity counted per week offset — the classic retention triangle.
    // Two aggregations + one equi-join on user_id; week offsets are
    // exact integer divisions over epoch-ms (both engines' date_diff
    // 'week' semantics differ, ms arithmetic does not).
    Q("q_retention",
      """WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort
        |           FROM events GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events),
        |j AS (SELECT f.cohort,
        |    CAST((epoch_ms(CAST(a.wk AS TIMESTAMP))
        |          - epoch_ms(CAST(f.cohort AS TIMESTAMP))) // 604800000 AS INT) AS offset_w,
        |    a.user_id
        |  FROM a JOIN f ON a.user_id = f.user_id)
        |SELECT epoch_ms(CAST(cohort AS TIMESTAMP)) AS cohort_ms, offset_w,
        |  count(DISTINCT user_id) AS n_active
        |FROM j GROUP BY cohort, offset_w""".stripMargin) { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      val first = ev.groupBy("user_id")
        .agg(date_trunc("week", min("ts")).as("cohort"))
      val active = ev.select(col("user_id"),
        date_trunc("week", col("ts")).as("wk")).distinct()
      active.join(first, "user_id")
        .select(col("user_id"), col("cohort"),
          floor((unix_millis(col("wk")) - unix_millis(col("cohort")))
            / lit(604800000L)).cast("int").as("offset_w"))
        .groupBy("cohort", "offset_w")
        .agg(countDistinct("user_id").as("n_active"))
        .select(unix_millis(col("cohort")).as("cohort_ms"),
          col("offset_w"), col("n_active"))
    },

    // §2.11 gaps-and-islands: merge overlapping per-key intervals
    // (event start + value-minutes duration) into islands — the
    // generalization of sessionization to explicit durations. One
    // window pass: running max of interval ends marks island starts,
    // a running sum numbers them, one aggregate collapses them. All
    // arithmetic in epoch-ms bigints; the double->int minute conversion
    // is an explicit floor() because the engines' CAST rounds
    // differently (DuckDB rounds, Spark truncates).
    Q("q_islands",
      """WITH iv AS (SELECT user_id, event_id,
        |    epoch_ms(CAST(ts AS TIMESTAMP)) AS s,
        |    epoch_ms(CAST(ts AS TIMESTAMP))
        |      + CAST(floor(value) AS BIGINT) * 60000 AS e
        |  FROM events WHERE user_id < 50),
        |m AS (SELECT user_id, event_id, s, e,
        |    max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
        |  FROM iv),
        |f AS (SELECT user_id, event_id, s, e,
        |    CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS is_new
        |  FROM m),
        |g AS (SELECT user_id, s, e,
        |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY s, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
        |  FROM f)
        |SELECT user_id, island, min(s) AS island_start_ms,
        |  max(e) AS island_end_ms, count(*) AS n_events
        |FROM g GROUP BY user_id, island""".stripMargin) { (s, dir) =>
      val iv = Tables.load(s, dir, "events")
        .filter(col("user_id") < 50)
        .select(col("user_id"), col("event_id"),
          unix_millis(col("ts")).as("s"),
          (unix_millis(col("ts"))
            + floor(col("value")).cast("long") * 60000L).as("e"))
      val wPrev = Window.partitionBy("user_id").orderBy(col("s"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wRun = Window.partitionBy("user_id").orderBy(col("s"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      iv.withColumn("pme", max("e").over(wPrev))
        .withColumn("is_new",
          when(col("pme").isNull || col("s") > col("pme"), 1).otherwise(0))
        .withColumn("island", sum("is_new").over(wRun))
        .groupBy("user_id", "island")
        .agg(min("s").as("island_start_ms"), max("e").as("island_end_ms"),
          count(lit(1)).as("n_events"))
    },

    // §2.11 semi-structured extraction: JSON path evaluation over the
    // props column (codegen'd get_json_object — row-local, no parsing
    // UDF), then a plain partial-agg rollup. The shape that matters at
    // scale: extraction fuses into the scan projection, only the
    // 5-group aggregate shuffles.
    Q("q_json_extract",
      """SELECT event_type,
        |  CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
        |  CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
        |  count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin) { (s, dir) =>
      val k = get_json_object(col("props"), "$.k").cast("long")
      Tables.load(s, dir, "events")
        .groupBy("event_type")
        .agg(sum(k).as("sum_k"), min(k).as("min_k"), max(k).as("max_k"),
          count(lit(1)).as("n"))
    },

    // §2.11 time-bounded sequence match (CEP shape): signup, then a
    // click within 24 h, then a purchase within 24 h of that click —
    // each step anchored on the previous step's FIRST occurrence. Three
    // chained per-key aggregations, each a filtered join against the
    // prior anchor — never a window over the full event log, no
    // MATCH_RECOGNIZE state machine needed for fixed 3-step patterns.
    Q("q_sequence_match",
      """WITH s AS (SELECT user_id, min(ts) AS s_ts FROM events
        |           WHERE event_type = 'signup' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS c_ts FROM events e
        |      JOIN s ON e.user_id = s.user_id
        |      WHERE e.event_type = 'click'
        |        AND epoch_ms(CAST(e.ts AS TIMESTAMP)) > epoch_ms(CAST(s.s_ts AS TIMESTAMP))
        |        AND epoch_ms(CAST(e.ts AS TIMESTAMP))
        |            <= epoch_ms(CAST(s.s_ts AS TIMESTAMP)) + 86400000
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS p_ts FROM events e
        |      JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase'
        |        AND epoch_ms(CAST(e.ts AS TIMESTAMP)) > epoch_ms(CAST(c.c_ts AS TIMESTAMP))
        |        AND epoch_ms(CAST(e.ts AS TIMESTAMP))
        |            <= epoch_ms(CAST(c.c_ts AS TIMESTAMP)) + 86400000
        |      GROUP BY e.user_id)
        |SELECT s.user_id, epoch_ms(CAST(s_ts AS TIMESTAMP)) AS s_ms,
        |  epoch_ms(CAST(c_ts AS TIMESTAMP)) AS c_ms,
        |  epoch_ms(CAST(p_ts AS TIMESTAMP)) AS p_ms,
        |  CASE WHEN p_ts IS NULL THEN 0 ELSE 1 END AS matched
        |FROM s LEFT JOIN c ON s.user_id = c.user_id
        |LEFT JOIN p ON s.user_id = p.user_id""".stripMargin) { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      val dayMs = 24L * 3600 * 1000
      val sAnchor = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("ts").as("s_ts"))
      val cAnchor = ev.filter(col("event_type") === "click")
        .join(sAnchor, "user_id")
        .filter(unix_millis(col("ts")) > unix_millis(col("s_ts")) &&
          unix_millis(col("ts")) <= unix_millis(col("s_ts")) + dayMs)
        .groupBy("user_id").agg(min("ts").as("c_ts"))
      val pAnchor = ev.filter(col("event_type") === "purchase")
        .join(cAnchor, "user_id")
        .filter(unix_millis(col("ts")) > unix_millis(col("c_ts")) &&
          unix_millis(col("ts")) <= unix_millis(col("c_ts")) + dayMs)
        .groupBy("user_id").agg(min("ts").as("p_ts"))
      sAnchor.join(cAnchor, Seq("user_id"), "left")
        .join(pAnchor, Seq("user_id"), "left")
        .select(col("user_id"),
          unix_millis(col("s_ts")).as("s_ms"),
          unix_millis(col("c_ts")).as("c_ms"),
          unix_millis(col("p_ts")).as("p_ms"),
          when(col("p_ts").isNull, 0).otherwise(1).as("matched"))
    },

    // §2.11 time-series resampling: per-key hourly grid from first to last
    // observation, bucketed to the last reading of each hour, gaps
    // forward-filled. The grid explode is bounded per key (span/step rows),
    // the fill is one window pass — a single shuffle on the key, so at
    // 100 TB each sensor's timeline resamples independently; no driver
    // state, no per-gap joins. (Reference stores only current rtvals —
    // resampling is the batch twin its users run downstream.)
    // Largest-triangle downsampling (Steinarsson 2013's LTTB, in the
    // parallel bucket-average-anchor variant production downsamplers
    // use): per event type, the value series is cut into 50-point
    // buckets and each interior bucket keeps the ONE point with the
    // largest triangle area against the neighbouring buckets' average
    // points — the shape-preserving decimation a dashboard or training
    // pipeline applies before plotting/windowing long sensor series.
    // The sequential LTTB anchor (previously SELECTED point) would
    // serialize the scan; average anchors make every bucket independent
    // — windows partition by (type, bucket), the bucket-average table
    // is tiny and broadcast. Determinism: x = within-type position
    // (integer), averages accumulate in DECIMAL, the area expression
    // tree is identical in both engines, ties break on position.
    Q("ts_lttb",
      """WITH t AS (SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
        |  FROM events),
        |b AS (SELECT event_type, value, rn, (rn - 1) // 50 AS bucket FROM t),
        |a AS (SELECT event_type, bucket,
        |    CAST(sum(rn) AS DOUBLE) / count(*) AS ax,
        |    CAST(sum(CAST(value AS DECIMAL(28,8))) AS DOUBLE) / count(*) AS ay
        |  FROM b GROUP BY 1, 2),
        |sc AS (SELECT p.event_type, p.bucket, p.rn, p.value,
        |    abs((l.ax - r.ax) * (p.value - l.ay)
        |        - (l.ax - p.rn) * (r.ay - l.ay)) AS area
        |  FROM b p
        |  JOIN a l ON p.event_type = l.event_type AND l.bucket = p.bucket - 1
        |  JOIN a r ON p.event_type = r.event_type AND r.bucket = p.bucket + 1),
        |sel AS (SELECT event_type, bucket, rn, value,
        |    row_number() OVER (PARTITION BY event_type, bucket
        |                       ORDER BY area DESC, rn) AS k
        |  FROM sc)
        |SELECT event_type, bucket, rn AS pos, value FROM sel WHERE k = 1""".stripMargin) {
      (s, dir) =>
      val t = Tables.load(s, dir, "events")
        .withColumn("rn", row_number().over(
          Window.partitionBy("event_type").orderBy(col("ts"), col("event_id"))))
        .select(col("event_type"), col("value"), col("rn"),
          expr("(rn - 1) div 50").as("bucket"))
        .transform(graft.operators.TextOps.trackCache)
      val a = t.groupBy("event_type", "bucket")
        .agg((sum("rn").cast("double") / count(lit(1))).as("ax"),
          (sum(col("value").cast(DecimalType(28, 8))).cast("double")
            / count(lit(1))).as("ay"))
      val l = a.select(col("event_type"), (col("bucket") + 1).as("bucket"),
        col("ax").as("lax"), col("ay").as("lay"))
      val r = a.select(col("event_type"), (col("bucket") - 1).as("bucket"),
        col("ax").as("rax"), col("ay").as("ray"))
      val area = abs((col("lax") - col("rax")) * (col("value") - col("lay"))
        - (col("lax") - col("rn")) * (col("ray") - col("lay")))
      t.join(broadcast(l), Seq("event_type", "bucket"))
        .join(broadcast(r), Seq("event_type", "bucket"))
        .withColumn("area", area)
        .withColumn("k", row_number().over(
          Window.partitionBy("event_type", "bucket")
            .orderBy(col("area").desc, col("rn"))))
        .filter(col("k") === 1)
        .select(col("event_type"), col("bucket"), col("rn").as("pos"), col("value"))
    },

    // M4 downsampling (Jugel et al., VLDB'14): per pixel-column time
    // bucket keep min, max, first, and last — the four values that make
    // the downsampled line chart pixel-identical to the full series.
    // Unlike LTTB this is PURE aggregation: first/last ride a
    // lexicographic struct-min/max over (epoch, event_id, value), so
    // every column is map-side combinable — one shuffle of ~types x 64
    // rows at any scale, no window, no sort. Bucketing is all-integer
    // (epoch micros), so bucket edges replay exactly cross-engine.
    Q("ts_m4",
      """WITH mm AS (SELECT min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1
        |  FROM events),
        |b AS (SELECT event_type,
        |    least(63, (epoch_us(ts) - t0) * 64 // (t1 - t0 + 1)) AS bucket,
        |    {'e': epoch_us(ts), 'i': event_id, 'v': value} AS s, value
        |  FROM events, mm)
        |SELECT event_type, bucket, count(*) AS n,
        |  min(value) AS vmin, max(value) AS vmax,
        |  min(s).v AS vfirst, max(s).v AS vlast
        |FROM b GROUP BY event_type, bucket""".stripMargin) { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
        .select(col("event_type"), unix_micros(col("ts")).as("eu"),
          col("event_id"), col("value"))
      val mm = ev.agg(min(col("eu")).as("t0"), max(col("eu")).as("t1"))
      ev.crossJoin(broadcast(mm))
        .withColumn("bucket",
          least(lit(63L), expr("((eu - t0) * 64) div (t1 - t0 + 1)")))
        .withColumn("s", struct(col("eu").as("e"), col("event_id").as("i"),
          col("value").as("v")))
        .groupBy("event_type", "bucket")
        .agg(count(lit(1)).as("n"), min(col("value")).as("vmin"),
          max(col("value")).as("vmax"),
          min(col("s")).getField("v").as("vfirst"),
          max(col("s")).getField("v").as("vlast"))
    },

    // Time-weighted average — the statistic a shipboard sensor stream
    // actually wants (samples arrive irregularly; the arithmetic mean
    // over-weights bursts): each reading weighted by its holding
    // interval to the next reading. Intervals are exact micros
    // (lead over the per-series window — the per-sensor partition is
    // the natural key at fleet scale), value x dt products go through
    // DECIMAL(28,6) so the weighted sum is order-independent and
    // engine-exact.
    // Storage-encoding analyzer — the table a columnar engine's writer
    // consults when picking encodings (Parquet/ORC style): per sensor
    // series, delta-encode the centi-unit integer values in (ts, id)
    // order, zigzag-map the deltas (branch form, no shift-semantics
    // dependence), cost them as LEB128 varints via an all-integer CASE
    // ladder, and count equal-value runs for the RLE alternative.
    // Everything is BIGINT, so byte totals and compression-ratio ppm
    // replay exactly. One window pass per series + a bounded aggregate
    // — the same shape at fleet scale, where this IS the per-column
    // stats pass a 100 TB writer runs before committing a layout.
    Q("q_encoding_stats",
      """WITH v AS (SELECT event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
        |    lag(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |      OVER (PARTITION BY event_type ORDER BY ts, event_id) AS pv
        |  FROM events),
        |d AS (SELECT event_type, v,
        |    CASE WHEN pv IS NULL THEN v ELSE v - pv END AS delta,
        |    CASE WHEN pv IS NOT NULL AND v = pv THEN 0 ELSE 1 END AS run_start
        |  FROM v),
        |z AS (SELECT event_type, run_start,
        |    CASE WHEN delta >= 0 THEN delta * 2 ELSE -delta * 2 - 1 END AS zz
        |  FROM d),
        |b AS (SELECT event_type, run_start,
        |    CASE WHEN zz < 128 THEN 1 WHEN zz < 16384 THEN 2
        |         WHEN zz < 2097152 THEN 3 WHEN zz < 268435456 THEN 4
        |         WHEN zz < 34359738368 THEN 5 ELSE 6 END AS nb
        |  FROM z)
        |SELECT event_type, count(*) AS n, count(*) * 8 AS raw_bytes,
        |  CAST(sum(nb) AS BIGINT) AS varint_bytes,
        |  CAST(sum(run_start) AS BIGINT) AS n_runs,
        |  CAST(sum(nb) * 1000000 // (count(*) * 8) AS BIGINT) AS ratio_ppm
        |FROM b GROUP BY event_type""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("event_type").orderBy(col("ts"), col("event_id"))
      val vi = floor(col("value") * 100 + lit(0.5)).cast("long")
      val d = Tables.load(s, dir, "events")
        .select(col("event_type"), vi.as("v"), lag(vi, 1).over(w).as("pv"))
        .select(col("event_type"),
          when(col("pv").isNull, col("v")).otherwise(col("v") - col("pv")).as("delta"),
          when(col("pv").isNotNull && col("v") === col("pv"), 0).otherwise(1).as("run_start"))
      val zz = when(col("delta") >= 0, col("delta") * 2).otherwise(-col("delta") * 2 - 1)
      d.withColumn("zz", zz)
        .withColumn("nb",
          when(col("zz") < 128L, 1).when(col("zz") < 16384L, 2)
            .when(col("zz") < 2097152L, 3).when(col("zz") < 268435456L, 4)
            .when(col("zz") < 34359738368L, 5).otherwise(6))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), (count(lit(1)) * 8).as("raw_bytes"),
          sum(col("nb")).as("varint_bytes"), sum(col("run_start")).as("n_runs"))
        .withColumn("ratio_ppm", expr("(varint_bytes * 1000000) div (n * 8)"))
    },

    // Dynamic-time-warping distance between the per-type daily activity
    // profiles (hour-of-day event counts, zero-filled to a dense 24) —
    // the alignment-tolerant similarity a fleet uses to group sensors
    // whose daily rhythms match under phase shift (Sakoe & Chiba 1978).
    // The O(n·m) DP is a native codegen expression (dtw_dist — a lambda
    // rendering cannot express the sequential inner fold without
    // quadratic interpreted nesting), all-integer so it is exact; the
    // oracle replays the DP cell by cell in a recursive CTE. Scale
    // shape: the heavy work is one hour-of-day partial agg over the
    // events; the pair join runs on the 5-row profile table.
    Q("ts_dtw",
      """WITH RECURSIVE
        |byh AS (SELECT event_type, CAST(hour(ts) AS INT) AS h,
        |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
        |types AS (SELECT DISTINCT event_type FROM events),
        |grid AS (SELECT ty.event_type, gs.h, coalesce(b.n, 0) AS n
        |  FROM types ty CROSS JOIN (SELECT unnest(range(0, 24)) AS h) gs
        |  LEFT JOIN byh b ON b.event_type = ty.event_type AND b.h = gs.h),
        |prof AS (SELECT event_type, list(n ORDER BY h) AS v
        |  FROM grid GROUP BY event_type),
        |pairs AS (SELECT a.event_type AS ta, a.v AS va,
        |    b.event_type AS tb, b.v AS vb
        |  FROM prof a JOIN prof b ON a.event_type < b.event_type),
        |dp AS (
        |  SELECT ta, tb, va, vb, 1 AS i, 0 AS j,
        |    list_prepend(CAST(0 AS BIGINT),
        |      [CAST(1000000000000000 AS BIGINT) for x in range(1, 25)]) AS prev,
        |    [CAST(1000000000000000 AS BIGINT)] AS curr
        |  FROM pairs
        |  UNION ALL
        |  SELECT ta, tb, va, vb,
        |    CASE WHEN j = 24 THEN i + 1 ELSE i END,
        |    CASE WHEN j = 24 THEN 0 ELSE j + 1 END,
        |    CASE WHEN j = 24 THEN curr ELSE prev END,
        |    CASE WHEN j = 24 THEN [CAST(1000000000000000 AS BIGINT)]
        |         ELSE list_append(curr,
        |            abs(va[i] - vb[j + 1])
        |            + least(prev[j + 2], prev[j + 1], curr[j + 1]))
        |    END
        |  FROM dp WHERE i <= 24)
        |SELECT ta, tb, curr[25] AS dtw
        |FROM dp WHERE i = 24 AND j = 24""".stripMargin) { (s, dir) =>
      val byh = Tables.load(s, dir, "events")
        .groupBy(col("event_type"), hour(col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
      // dense 24-hour profile: map lookup with zero fill, so a type that
      // is silent for an hour still aligns positionally with the oracle
      val prof = byh.groupBy("event_type")
        .agg(map_from_entries(collect_list(struct(col("h"), col("n")))).as("m"))
        .select(col("event_type"),
          transform(sequence(lit(0), lit(23)),
            hh => coalesce(element_at(col("m"), hh), lit(0L))).as("v"))
      val a = prof.select(col("event_type").as("ta"), col("v").as("va"))
      val b = prof.select(col("event_type").as("tb"), col("v").as("vb"))
      a.join(broadcast(b), col("ta") < col("tb"))
        .select(col("ta"), col("tb"),
          graft.functions.GraftFunctions.dtw_dist(col("va"), col("vb")).as("dtw"))
    },

    // Full autocorrelation function (correlogram) at lags 1..24 h over
    // the hourly-resampled series — the diagnostics table behind
    // seasonality/ARIMA order choices (ts_autocorr is the lag-1 point;
    // this is the curve). The lagged self-join runs on the RESAMPLED
    // series (rows = hours, not events) keyed by (type, hr+lag), and
    // every moment goes through DECIMAL so each lag's Pearson r
    // replays exactly; the final r is one double expression rounded
    // 6 dp, identical in shape to the ts_autocorr oracle.
    Q("ts_acf",
      "WITH " + hourlyMeansSql + """,
        |p AS (SELECT a.event_type, l.l AS lag, a.y AS x, b.y AS y
        |  FROM hb a JOIN (SELECT unnest(range(1, 25)) AS l) l ON true
        |  JOIN hb b ON a.event_type = b.event_type AND b.hr = a.hr + l.l),
        |m AS (SELECT event_type, lag, count(*) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(28,8))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(28,8))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x * x AS DECIMAL(28,8))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(y * y AS DECIMAL(28,8))) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(x * y AS DECIMAL(28,8))) AS DOUBLE) AS sxy
        |  FROM p GROUP BY 1, 2)
        |SELECT event_type, lag, CAST(n AS BIGINT) AS n_pairs,
        |  round((n * sxy - sx * sy)
        |        / nullif(sqrt(greatest(n * sxx - sx * sx, 0.0)
        |                      * greatest(n * syy - sy * sy, 0.0)), 0), 6) AS r
        |FROM m""".stripMargin) { (s, dir) =>
      val hb = hourlyMeans(s, dir)
        .transform(graft.operators.TextOps.trackCache)
      val lags = s.range(1, 25).toDF("lag")
      // hr+lag precomputed on the left so the pairing is a clean
      // (type, hour) equi-join — 24x the resampled rows, never a
      // per-type cross product
      val p = hb.select(col("event_type"), col("hr"), col("y").as("x"))
        .crossJoin(broadcast(lags))
        .withColumn("hr2", col("hr") + col("lag"))
        .join(hb.select(col("event_type"), col("hr").as("hr2"), col("y")),
          Seq("event_type", "hr2"))
      def dm(c: org.apache.spark.sql.Column) = sum(c.cast(DecimalType(28, 8))).cast("double")
      val m = p.groupBy("event_type", "lag")
        .agg(count(lit(1)).as("n"), dm(col("x")).as("sx"), dm(col("y")).as("sy"),
          dm(col("x") * col("x")).as("sxx"), dm(col("y") * col("y")).as("syy"),
          dm(col("x") * col("y")).as("sxy"))
      m.select(col("event_type"), col("lag"), col("n").as("n_pairs"),
        round((col("n") * col("sxy") - col("sx") * col("sy"))
          / nullif(sqrt(
            greatest(col("n") * col("sxx") - col("sx") * col("sx"), lit(0.0))
              * greatest(col("n") * col("syy") - col("sy") * col("sy"), lit(0.0))),
            lit(0.0)), 6).as("r"))
    },

    // SAX symbolization (Lin-Keogh 2003): per type the hourly series is
    // cut into 16-hour tumbling windows, each window z-normalized
    // against its own exact-decimal moments, PAA-reduced to 4 segments
    // (position-proportional split, so gapped windows stay
    // deterministic) and mapped to a 4-letter {a,b,c,d} word at the
    // standard ±0.6745σ breakpoints — rearranged as value-vs-
    // (mean ± 0.6745·std) comparisons so no per-point division ever
    // happens and the letters replay exactly in IEEE doubles. Output is
    // the per-type SAX-word histogram — the discretized-motif summary a
    // fleet-scale anomaly index is built from. Shapes: hourly pre-agg,
    // one window-rank pass per (type, window), bounded aggregates.
    Q("ts_sax",
      "WITH " + hourlyMeansSql + """,
        |wd AS (SELECT event_type, hr // 16 AS wid, y,
        |    row_number() OVER (PARTITION BY event_type, hr // 16 ORDER BY hr) - 1 AS idx,
        |    count(*) OVER (PARTITION BY event_type, hr // 16) AS n
        |  FROM hb),
        |ww AS (SELECT event_type, wid, y, idx * 4 // n AS seg, n,
        |    CAST(SUM(CAST(y AS DECIMAL(28,8)))
        |      OVER (PARTITION BY event_type, wid) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(y * y AS DECIMAL(28,8)))
        |      OVER (PARTITION BY event_type, wid) AS DOUBLE) AS s2
        |  FROM wd WHERE n >= 8),
        |sg AS (SELECT event_type, wid, seg, n, s1, s2,
        |    CAST(SUM(CAST(y AS DECIMAL(28,8))) AS DOUBLE) / count(*) AS sv
        |  FROM ww GROUP BY event_type, wid, seg, n, s1, s2),
        |lt AS (SELECT event_type, wid, seg,
        |    CASE WHEN sv < s1 / n - 0.6745 * sqrt(greatest((s2 - s1 * s1 / n) / n, 0.0)) THEN 'a'
        |         WHEN sv < s1 / n THEN 'b'
        |         WHEN sv < s1 / n + 0.6745 * sqrt(greatest((s2 - s1 * s1 / n) / n, 0.0)) THEN 'c'
        |         ELSE 'd' END AS letter
        |  FROM sg),
        |words AS (SELECT event_type, wid,
        |    string_agg(letter, '' ORDER BY seg) AS word FROM lt
        |  GROUP BY event_type, wid)
        |SELECT event_type, word, count(*) AS n_windows
        |FROM words GROUP BY event_type, word""".stripMargin) { (s, dir) =>
      val hourly = hourlyMeans(s, dir)
        .withColumn("wid", expr("hr div 16"))
      val part = Window.partitionBy("event_type", "wid")
      val wd = hourly
        .withColumn("idx", row_number().over(part.orderBy("hr")) - 1)
        .withColumn("n", count(lit(1)).over(part))
        .filter(col("n") >= 8)
        .withColumn("seg", expr("(idx * 4) div n"))
        .withColumn("s1", sum(col("y").cast(DecimalType(28, 8))).over(part).cast("double"))
        .withColumn("s2",
          sum((col("y") * col("y")).cast(DecimalType(28, 8))).over(part).cast("double"))
      val sg = wd.groupBy("event_type", "wid", "seg", "n", "s1", "s2")
        .agg((sum(col("y").cast(DecimalType(28, 8))).cast("double")
          / count(lit(1))).as("sv"))
      val mean = col("s1") / col("n")
      // greatest(0): flatlined-window cancellation (see st_history)
      val dev = lit(0.6745) * sqrt(greatest(
        (col("s2") - col("s1") * col("s1") / col("n")) / col("n"), lit(0.0)))
      val lt = sg.select(col("event_type"), col("wid"), col("seg"),
        when(col("sv") < mean - dev, "a")
          .when(col("sv") < mean, "b")
          .when(col("sv") < mean + dev, "c")
          .otherwise("d").as("letter"))
      lt.groupBy("event_type", "wid")
        .agg(array_join(expr("transform(array_sort(collect_list(struct(seg, letter))), x -> x.letter)"),
          "").as("word"))
        .groupBy("event_type", "word").agg(count(lit(1)).as("n_windows"))
    },

    Q("ts_holt",
      "WITH RECURSIVE " + hourlyMeansSql + """,
        |h AS (SELECT event_type, y,
        |    row_number() OVER (PARTITION BY event_type ORDER BY hr) AS rn
        |  FROM hb),
        |n AS (SELECT event_type, max(rn) AS n FROM h GROUP BY 1),
        |st AS (
        |  SELECT h1.event_type, 1 AS rn, h1.y AS l, h2.y - h1.y AS b
        |  FROM h h1 JOIN h h2 ON h1.event_type = h2.event_type
        |    AND h1.rn = 1 AND h2.rn = 2
        |  UNION ALL
        |  SELECT s.event_type, s.rn + 1,
        |    0.5 * h.y + 0.5 * (s.l + s.b),
        |    0.5 * (0.5 * h.y + 0.5 * (s.l + s.b) - s.l) + 0.5 * s.b
        |  FROM st s JOIN h ON h.event_type = s.event_type AND h.rn = s.rn + 1)
        |SELECT s.event_type, n.n AS n_hours,
        |  round(s.l, 6) AS level, round(s.b, 6) AS trend,
        |  round(s.l + 3 * s.b, 6) AS forecast3
        |FROM st s JOIN n ON s.event_type = n.event_type AND s.rn = n.n""".stripMargin) { (s, dir) =>
      // Holt's linear-trend double exponential smoothing (Holt 1957;
      // Hyndman FPP §7.2) over the hourly-resampled per-type series.
      // The smoothing constants are EXACT binary halves and the
      // recursion is evaluated in the same strict IEEE order by both
      // engines — Spark folds the sorted hourly array with an
      // aggregate() HOF; the oracle advances one rank per recursive-CTE
      // step — so level/trend replay bit-identically before the final
      // 6-dp display rounding. Scale shape: the hourly pre-aggregate is
      // map-side combinable and bounds the folded state by the time
      // span (hours), not the event volume; one shuffle to the per-type
      // fold. The fold itself is inherently sequential per series —
      // exactly how a 1000-executor deployment runs per-key EWMA-family
      // models (many short series in parallel, not one long one).
      val hourly = hourlyMeans(s, dir)
      hourly.groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("hr"), col("y")))).as("pts"))
        .withColumn("ys", expr("transform(pts, p -> p.y)"))
        .filter(size(col("ys")) >= 2)
        .withColumn("fin", expr(
          """aggregate(slice(ys, 2, size(ys) - 1),
            |  named_struct('l', ys[0], 'b', ys[1] - ys[0]),
            |  (s, y) -> named_struct(
            |    'l', 0.5D * y + 0.5D * (s.l + s.b),
            |    'b', 0.5D * (0.5D * y + 0.5D * (s.l + s.b) - s.l) + 0.5D * s.b))""".stripMargin))
        .select(col("event_type"), size(col("ys")).cast("long").as("n_hours"),
          round(col("fin.l"), 6).as("level"), round(col("fin.b"), 6).as("trend"),
          round(col("fin.l") + col("fin.b") * 3, 6).as("forecast3"))
    },

    // Generalized-ESD-style iterative outlier peel (Rosner 1983 shape,
    // 3 unrolled rounds): drop readings beyond mean±3σ, recompute, drop
    // again — the parametric complement to the robust ts_anomaly_mad.
    // Moments are DECIMAL-exact (order-independent) and the peel
    // boundary |x−μ| ≤ 3σ evaluates on identical doubles in identical
    // expression order, so the per-round survivor counts replay exactly.
    // Each round is one agg + one broadcast-scalar filter — no window,
    // no sort, linear at any volume.
    Q("ts_outlier_esd",
      """WITH m1 AS (SELECT event_type, count(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(value * value AS DECIMAL(28,8))) AS DOUBLE) AS s2
        |  FROM events GROUP BY 1),
        |d1 AS (SELECT e.event_type, e.value FROM events e
        |  JOIN m1 ON e.event_type = m1.event_type
        |  WHERE abs(e.value - s1 / n) <= 3 * sqrt((s2 - s1 * s1 / n) / (n - 1))),
        |m2 AS (SELECT event_type, count(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(value * value AS DECIMAL(28,8))) AS DOUBLE) AS s2
        |  FROM d1 GROUP BY 1),
        |d2 AS (SELECT e.event_type, e.value FROM d1 e
        |  JOIN m2 ON e.event_type = m2.event_type
        |  WHERE abs(e.value - s1 / n)
        |    <= 3 * sqrt(greatest(s2 - s1 * s1 / n, 0.0) / nullif(n - 1, 0))),
        |m3 AS (SELECT event_type, count(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(value * value AS DECIMAL(28,8))) AS DOUBLE) AS s2
        |  FROM d2 GROUP BY 1)
        |SELECT m1.event_type, m1.n AS n0, m2.n AS n1, m3.n AS n2,
        |  round(m3.s1 / m3.n, 6) AS mean_final,
        |  round(sqrt(greatest(m3.s2 - m3.s1 * m3.s1 / m3.n, 0.0)
        |             / nullif(m3.n - 1, 0)), 6) AS std_final
        |FROM m1 JOIN m2 ON m1.event_type = m2.event_type
        |JOIN m3 ON m1.event_type = m3.event_type""".stripMargin) { (s, dir) =>
      def moments(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("event_type").agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(28, 8))).cast("double").as("s1"),
          sum((col("value") * col("value")).cast(DecimalType(28, 8)))
            .cast("double").as("s2"))
      // greatest(0)/nullif: a flatlined or single-row type would
      // otherwise crash DuckDB's sqrt (ulp-negative variance) or
      // Spark-ANSI's division (n-1 = 0); with the guards both engines
      // NULL the bound and drop the type identically (round-12 review)
      def peel(df: org.apache.spark.sql.DataFrame,
          m: org.apache.spark.sql.DataFrame) =
        df.join(broadcast(m), "event_type")
          .filter(abs(col("value") - col("s1") / col("n"))
            <= lit(3) * sqrt(
              greatest(col("s2") - col("s1") * col("s1") / col("n"), lit(0.0))
                / nullif(col("n") - 1, lit(0))))
          .select("event_type", "value")
      val d0 = Tables.load(s, dir, "events").select("event_type", "value")
      val m1 = moments(d0)
      val d1 = peel(d0, m1)
      val m2 = moments(d1)
      val d2 = peel(d1, m2)
      val m3 = moments(d2)
      m1.select(col("event_type"), col("n").as("n0"))
        .join(m2.select(col("event_type"), col("n").as("n1")), "event_type")
        .join(m3, "event_type")
        .select(col("event_type"), col("n0"), col("n1"), col("n").as("n2"),
          round(col("s1") / col("n"), 6).as("mean_final"),
          round(sqrt(
            greatest(col("s2") - col("s1") * col("s1") / col("n"), lit(0.0))
              / nullif(col("n") - 1, lit(0))), 6).as("std_final"))
    },

    // Per-key uptime / SLA coverage: the share of wall-clock minutes in
    // the fleet's observation span where a key reported at least once —
    // the "is this sensor alive enough" ops row next to st_last's age.
    // All integer (minute buckets, ppm share); one distinct-minute agg
    // per key plus a 1-row span scalar.
    Q("st_uptime_sla",
      """WITH span AS (SELECT (epoch_us(max(ts)) - epoch_us(min(ts)))
        |    // 60000000 + 1 AS total_min FROM events),
        |c AS (SELECT user_id,
        |    count(DISTINCT epoch_us(ts) // 60000000) AS n_min
        |  FROM events GROUP BY user_id)
        |SELECT user_id, n_min, CAST(total_min AS BIGINT) AS total_min,
        |  CAST(n_min * 1000000 // total_min AS BIGINT) AS coverage_ppm,
        |  CAST(n_min * 1000000 // total_min >= 1527 AS INT) AS sla_ok
        |FROM c, span""".stripMargin) { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      val span = ev.agg(max(unix_micros(col("ts"))).as("__mx"),
          min(unix_micros(col("ts"))).as("__mn"))
        .select(expr("(__mx - __mn) div 60000000 + 1").as("total_min"))
      ev.groupBy("user_id")
        .agg(countDistinct(expr("unix_micros(ts) div 60000000")).as("n_min"))
        .crossJoin(broadcast(span))
        .select(col("user_id"), col("n_min"), col("total_min"),
          expr("n_min * 1000000 div total_min").as("coverage_ppm"),
          (expr("n_min * 1000000 div total_min") >= 1527)
            .cast("int").as("sla_ok"))
    },

    // Theil-Sen robust trend (Theil 1950 / Sen 1968): median of all
    // pairwise slopes on the hourly-resampled series — the estimator
    // that shrugs off the spikes an OLS line (q_ols) chases. Pair
    // enumeration is bounded by the TIME SPAN squared (hours², not
    // events²: ~230k pairs/series here and at ANY event volume), and
    // both engines interpolate the even-count median from the same two
    // order statistics of identical IEEE slope values. Per-type
    // slope+level in value-units/hour, display-rounded at 6 dp.
    Q("ts_theil_sen",
      "WITH " + hourlyMeansSql + """,
        |p AS (SELECT a.event_type,
        |    (b.y - a.y) / CAST(b.hr - a.hr AS DOUBLE) AS slope
        |  FROM hb a JOIN hb b
        |    ON a.event_type = b.event_type AND a.hr < b.hr)
        |SELECT p.event_type,
        |  (SELECT count(*) FROM hb h WHERE h.event_type = p.event_type) AS n_hours,
        |  round(quantile_cont(slope, 0.5), 6) AS slope_med
        |FROM p GROUP BY p.event_type""".stripMargin) { (s, dir) =>
      val hourly = hourlyMeans(s, dir)
        .transform(graft.operators.TextOps.trackCache)
      val pairs = hourly.as("a").join(hourly.as("b"),
          col("a.event_type") === col("b.event_type") &&
            col("a.hr") < col("b.hr"))
        .select(col("a.event_type").as("event_type"),
          ((col("b.y") - col("a.y"))
            / (col("b.hr") - col("a.hr")).cast("double")).as("slope"))
      val nh = hourly.groupBy("event_type").agg(count(lit(1)).as("n_hours"))
      pairs.groupBy("event_type")
        .agg(round(expr("percentile(slope, 0.5)"), 6).as("slope_med"))
        .join(nh, "event_type")
        .select(col("event_type"), col("n_hours"), col("slope_med"))
    },

    // 1-D Kalman filter (random-walk state model, q=0.25 process /
    // r=4.0 measurement noise) over the hourly-resampled per-type
    // series — the optimal linear fuser every sensor deployment runs
    // where EWMA (ts_ewma) is the ad-hoc one; the posterior variance
    // converging to its Riccati fixed point is the filter's self-check.
    // Same cross-engine contract as ts_holt: identical IEEE expression
    // order on both sides (predict variance, gain = p/(p+r), innovate),
    // so estimate and variance replay bit-identically before the 6-dp
    // display round. Hourly pre-agg is map-side combinable; the fold is
    // bounded by the time span, and a fleet runs many short series in
    // parallel — never one long one.
    Q("ts_kalman",
      "WITH RECURSIVE " + hourlyMeansSql + """,
        |h AS (SELECT event_type, y,
        |    row_number() OVER (PARTITION BY event_type ORDER BY hr) AS rn
        |  FROM hb),
        |n AS (SELECT event_type, max(rn) AS n FROM h GROUP BY 1),
        |st AS (
        |  SELECT event_type, 1 AS rn, y AS x, CAST(1.0 AS DOUBLE) AS p
        |  FROM h WHERE rn = 1
        |  UNION ALL
        |  SELECT s.event_type, s.rn + 1,
        |    s.x + ((s.p + 0.25) / (s.p + 0.25 + 4.0)) * (h.y - s.x),
        |    (1.0 - (s.p + 0.25) / (s.p + 0.25 + 4.0)) * (s.p + 0.25)
        |  FROM st s JOIN h ON h.event_type = s.event_type AND h.rn = s.rn + 1)
        |SELECT s.event_type, n.n AS n_hours,
        |  round(s.x, 6) AS est, round(s.p, 6) AS post_var
        |FROM st s JOIN n ON s.event_type = n.event_type AND s.rn = n.n""".stripMargin) { (s, dir) =>
      hourlyMeans(s, dir)
        .groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("hr"), col("y")))).as("pts"))
        .withColumn("ys", expr("transform(pts, p -> p.y)"))
        .withColumn("fin", expr(
          """aggregate(slice(ys, 2, size(ys) - 1),
            |  named_struct('x', ys[0], 'p', 1.0D),
            |  (s, y) -> named_struct(
            |    'x', s.x + ((s.p + 0.25D) / (s.p + 0.25D + 4.0D)) * (y - s.x),
            |    'p', (1.0D - (s.p + 0.25D) / (s.p + 0.25D + 4.0D)) * (s.p + 0.25D)))""".stripMargin))
        .select(col("event_type"), size(col("ys")).cast("long").as("n_hours"),
          round(col("fin.x"), 6).as("est"), round(col("fin.p"), 6).as("post_var"))
    },

    Q("ts_twa",
      """WITH o AS (SELECT event_type, value, epoch_us(ts) AS eu,
        |    lead(epoch_us(ts)) OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |f AS (SELECT event_type, value, nxt - eu AS dt FROM o
        |  WHERE nxt IS NOT NULL)
        |SELECT event_type, count(*) AS n, CAST(sum(dt) AS BIGINT) AS span_us,
        |  round(CAST(SUM(CAST(value * dt AS DECIMAL(28,6))) AS DOUBLE)
        |        / CAST(sum(dt) AS BIGINT), 6) AS twa_r
        |FROM f GROUP BY 1""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("event_type").orderBy(col("ts"), col("event_id"))
      Tables.load(s, dir, "events")
        .select(col("event_type"), col("value"), unix_micros(col("ts")).as("eu"),
          lead(unix_micros(col("ts")), 1).over(w).as("nxt"))
        .filter(col("nxt").isNotNull)
        .withColumn("dt", col("nxt") - col("eu"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("dt")).as("span_us"),
          round(sum((col("value") * col("dt")).cast(DecimalType(28, 6)))
            .cast("double") / sum(col("dt")), 6).as("twa_r"))
    },

    Q("ts_resample",
      """WITH b AS (SELECT user_id, date_trunc('hour', min(ts)) AS t0,
        |                  date_trunc('hour', max(ts)) AS t1
        |           FROM events WHERE user_id < 20 GROUP BY 1),
        |grid AS (SELECT user_id,
        |    unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS gts FROM b),
        |ev AS (SELECT user_id, date_trunc('hour', ts) AS gts, value,
        |    row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events WHERE user_id < 20),
        |lastv AS (SELECT user_id, gts, value FROM ev WHERE rn = 1)
        |SELECT g.user_id, epoch_ms(g.gts) AS grid_ms,
        |  round(last_value(l.value IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.gts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS value
        |FROM grid g LEFT JOIN lastv l
        |  ON g.user_id = l.user_id AND g.gts = l.gts""".stripMargin) { (s, dir) =>
      val ev = Tables.load(s, dir, "events").filter(col("user_id") < 20)
      val bounds = ev.groupBy("user_id").agg(
        date_trunc("hour", min("ts")).as("t0"),
        date_trunc("hour", max("ts")).as("t1"))
      val grid = bounds.select(col("user_id"),
        explode(sequence(col("t0"), col("t1"), expr("interval 1 hour"))).as("gts"))
      val wb = Window.partitionBy("user_id", "gts")
        .orderBy(col("ts").desc, col("event_id").desc)
      val lastInHour = ev
        .withColumn("gts", date_trunc("hour", col("ts")))
        .withColumn("rn", row_number().over(wb))
        .filter(col("rn") === 1)
        .select("user_id", "gts", "value")
      val wFill = Window.partitionBy("user_id").orderBy("gts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(lastInHour, Seq("user_id", "gts"), "left")
        .select(col("user_id"), unix_millis(col("gts")).as("grid_ms"),
          round(last("value", ignoreNulls = true).over(wFill), 6).as("value"))
    },

    // §2.11 gap interpolation: 6-hourly grid points get the linear
    // interpolation of the bracketing observations (boundary points take
    // the nearest side). Union-then-window rendering: grid and data rows
    // interleave in ONE per-key window pass (last/first ignore-nulls) —
    // no as-of join pair, no range explosion, one shuffle on the key.
    // Arithmetic in epoch-ms doubles, identical in both dialects.
    Q("ts_interpolate",
      """WITH b AS (SELECT user_id, date_trunc('day', min(ts)) AS t0,
        |                  date_trunc('day', max(ts)) AS t1
        |           FROM events WHERE user_id < 20 GROUP BY 1),
        |grid AS (SELECT user_id,
        |    unnest(generate_series(t0 + INTERVAL 6 HOUR, t1, INTERVAL 6 HOUR)) AS ts,
        |    CAST(NULL AS DOUBLE) AS value, 1 AS is_grid FROM b),
        |u AS (SELECT user_id, ts, value, 0 AS is_grid
        |      FROM events WHERE user_id < 20
        |      UNION ALL SELECT * FROM grid),
        |m AS (SELECT user_id, ts, is_grid,
        |    last_value(value IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts, is_grid
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
        |    last_value(CASE WHEN value IS NOT NULL THEN epoch_ms(ts) END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, is_grid
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pt,
        |    first_value(value IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts, is_grid
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
        |    first_value(CASE WHEN value IS NOT NULL THEN epoch_ms(ts) END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, is_grid
        |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nt
        |  FROM u)
        |SELECT user_id, epoch_ms(ts) AS grid_ms,
        |  round(CASE WHEN pv IS NULL THEN nv WHEN nv IS NULL THEN pv
        |        WHEN nt = pt THEN pv
        |        ELSE pv + (nv - pv) * (epoch_ms(ts) - pt) / (nt - pt) END, 6) AS value
        |FROM m WHERE is_grid = 1""".stripMargin) { (s, dir) =>
      val ev = Tables.load(s, dir, "events").filter(col("user_id") < 20)
      val bounds = ev.groupBy("user_id").agg(
        date_trunc("day", min("ts")).as("t0"),
        date_trunc("day", max("ts")).as("t1"))
      // guard the degenerate grid: when a key's events all fall in one
      // truncated day, start (t0+6h) exceeds stop (t1) — DuckDB's
      // generate_series returns EMPTY but Spark's sequence() THROWS
      // 'Illegal sequence boundaries' (round-12 review, verified); an
      // empty array explodes to zero rows, matching the oracle
      val gridSeq = when(col("t0") + expr("interval 6 hours") <= col("t1"),
        sequence(col("t0") + expr("interval 6 hours"), col("t1"),
          expr("interval 6 hours")))
        .otherwise(array().cast("array<timestamp>"))
      val grid = bounds.select(col("user_id"),
        explode(gridSeq).as("ts"),
        lit(null).cast("double").as("value"), lit(1).as("is_grid"))
      val u = ev.select(col("user_id"), col("ts"), col("value"), lit(0).as("is_grid"))
        .unionAll(grid)
      val ord = Window.partitionBy("user_id").orderBy(col("ts"), col("is_grid"))
      val wPrev = ord.rowsBetween(Window.unboundedPreceding, -1)
      val wNext = ord.rowsBetween(1, Window.unboundedFollowing)
      val obsMs = when(col("value").isNotNull, unix_millis(col("ts")))
      val m = u.select(col("user_id"), col("ts"), col("is_grid"),
        last("value", ignoreNulls = true).over(wPrev).as("pv"),
        last(obsMs, ignoreNulls = true).over(wPrev).as("pt"),
        first("value", ignoreNulls = true).over(wNext).as("nv"),
        first(obsMs, ignoreNulls = true).over(wNext).as("nt"))
      val t = unix_millis(col("ts")).cast("double")
      m.filter(col("is_grid") === 1)
        .select(col("user_id"), unix_millis(col("ts")).as("grid_ms"),
          round(
            when(col("pv").isNull, col("nv"))
              .when(col("nv").isNull, col("pv"))
              .when(col("nt") === col("pt"), col("pv"))
              .otherwise(col("pv") + (col("nv") - col("pv"))
                * (t - col("pt")) / (col("nt") - col("pt"))), 6).as("value"))
    },

    // §2.11 EWMA (the reference's MathFab users smooth sensor series
    // downstream; finite 20-point horizon keeps the fold bounded and
    // oracle-exact). collect_list over a rows frame + an aggregate() fold
    // seeded with the oldest point — both dialects fold the same order, so
    // doubles are bit-identical. One window pass, one shuffle on the key.
    Q("ts_ewma",
      """SELECT user_id, event_id,
        |  floor(list_reduce(array_agg(value) OVER w, (a, x) -> 0.7*a + 0.3*x)
        |        * 1e6 + 0.5) / 1e6 AS ewma
        |FROM events WHERE user_id < 100
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-19, 0)
      // rounding spelled as floor(x*1e6+0.5)/1e6 in BOTH dialects: the two
      // engines' round() disagree on .5-boundary doubles (decimal-repr
      // HALF_UP vs binary-value rounding); this form is identical IEEE ops
      Tables.load(s, dir, "events")
        .filter(col("user_id") < 100)
        .withColumn("win", collect_list("value").over(w))
        .select(col("user_id"), col("event_id"),
          (floor(aggregate(
            slice(col("win"), lit(2), greatest(size(col("win")) - 1, lit(0))),
            element_at(col("win"), 1),
            (acc, x) => lit(0.7) * acc + lit(0.3) * x) * 1e6 + 0.5) / 1e6).as("ewma"))
    },

    // Lag-1 autocorrelation per series — the stationarity probe run before
    // choosing a forecasting/anomaly model. One key shuffle (the lag
    // window and the aggregation share the event_type partitioning, so
    // Spark plans a single Exchange); moments through DECIMAL(28,8) like
    // q_corr so the sum is order-independent and engine-exact.
    Q("ts_autocorr",
      """WITH p AS (SELECT event_type, value AS x,
        |    lag(value) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS y
        |  FROM events)
        |SELECT event_type,
        |  ROUND((n * sxy - sx * sy)
        |        / nullif(sqrt(greatest(n * sxx - sx * sx, 0.0)
        |                      * greatest(n * syy - sy * sy, 0.0)), 0), 6)
        |    AS autocorr_lag1,
        |  CAST(n AS BIGINT) AS n_pairs
        |FROM (SELECT event_type,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(28,8))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(28,8))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x*x AS DECIMAL(28,8))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(y*y AS DECIMAL(28,8))) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(x*y AS DECIMAL(28,8))) AS DOUBLE) AS sxy
        |  FROM p WHERE y IS NOT NULL GROUP BY event_type)""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("event_type").orderBy(col("ts"), col("event_id"))
      def dsum28(c: org.apache.spark.sql.Column) =
        sum(c.cast(DecimalType(28, 8))).cast("double")
      Tables.load(s, dir, "events")
        .select(col("event_type"), col("value").as("x"),
          lag("value", 1).over(w).as("y"))
        .filter(col("y").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).cast("double").as("n"),
          dsum28(col("x")).as("sx"), dsum28(col("y")).as("sy"),
          dsum28(col("x") * col("x")).as("sxx"),
          dsum28(col("y") * col("y")).as("syy"),
          dsum28(col("x") * col("y")).as("sxy"))
        .select(col("event_type"),
          // greatest(0): ulp-negative cancellation on a flatlined series
          // crashes DuckDB's sqrt / NaNs Spark; nullif: an exactly-zero
          // variance divides to NULL in BOTH engines instead of a
          // Spark-ANSI DIVIDE_BY_ZERO (round-12 review)
          round((col("n") * col("sxy") - col("sx") * col("sy"))
            / nullif(sqrt(
              greatest(col("n") * col("sxx") - col("sx") * col("sx"), lit(0.0))
                * greatest(col("n") * col("syy") - col("sy") * col("sy"), lit(0.0))),
              lit(0.0)), 6)
            .as("autocorr_lag1"),
          col("n").cast("long").as("n_pairs"))
    },

    // Lagged cross-correlation between two sensor series ("does error
    // volume follow click volume?"): each series is resampled to its
    // hourly mean (decimal-accumulated, so the mean is order-independent
    // and engine-exact), then Pearson r of click(t) vs error(t+lg) for
    // lags 0..3 hours via the same DECIMAL(28,8) moment sums as
    // ts_autocorr. The hour bucket is integer microsecond division —
    // no timestamp rounding to disagree on. Scale shape: raw events
    // aggregate once onto the bounded (series, hour) key; the lagged
    // join then runs on the resampled series (rows = hours, not events)
    // with the 4-row lag table broadcast — cross-correlating a year of
    // 100 TB telemetry is one aggregation plus a tiny join.
    Q("ts_cross_corr",
      """WITH h AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hb,
        |    CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE) / count(*) AS xm
        |  FROM events WHERE event_type IN ('click', 'error') GROUP BY 1, 2),
        |p AS (SELECT l.lg, a.xm AS x, b.xm AS y
        |  FROM (SELECT unnest(range(0, 4)) AS lg) l
        |  JOIN (SELECT hb, xm FROM h WHERE event_type = 'click') a ON TRUE
        |  JOIN (SELECT hb, xm FROM h WHERE event_type = 'error') b
        |    ON b.hb = a.hb + l.lg)
        |SELECT lg,
        |  ROUND((n * sxy - sx * sy)
        |        / nullif(sqrt(greatest(n * sxx - sx * sx, 0.0)
        |                      * greatest(n * syy - sy * sy, 0.0)), 0), 6) AS xcorr,
        |  CAST(n AS BIGINT) AS n_pairs
        |FROM (SELECT lg,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(28,8))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(28,8))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x*x AS DECIMAL(28,8))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(y*y AS DECIMAL(28,8))) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(x*y AS DECIMAL(28,8))) AS DOUBLE) AS sxy
        |  FROM p GROUP BY lg)""".stripMargin) { (s, dir) =>
      def dsum28(c: org.apache.spark.sql.Column) =
        sum(c.cast(DecimalType(28, 8))).cast("double")
      // both join sides derive from h; tracked-cache it so the events
      // scan + hourly aggregation run once, not once per side
      val h = graft.operators.TextOps.trackCache(
        Tables.load(s, dir, "events")
          .filter(col("event_type").isin("click", "error"))
          .withColumn("hb", expr("unix_micros(ts) div 3600000000"))
          .groupBy("event_type", "hb")
          .agg((sum(col("value").cast(DecimalType(28, 8))).cast("double") /
            count(lit(1))).as("xm")))
      val a = h.filter(col("event_type") === "click")
        .select(col("hb"), col("xm").as("x"))
      val b = h.filter(col("event_type") === "error")
        .select(col("hb").as("hb2"), col("xm").as("y"))
      val lags = a.sparkSession.range(0, 4).select(col("id").as("lg"))
      a.crossJoin(broadcast(lags))
        .join(b, col("hb2") === col("hb") + col("lg"))
        .groupBy("lg")
        .agg(count(lit(1)).cast("double").as("n"),
          dsum28(col("x")).as("sx"), dsum28(col("y")).as("sy"),
          dsum28(col("x") * col("x")).as("sxx"),
          dsum28(col("y") * col("y")).as("syy"),
          dsum28(col("x") * col("y")).as("sxy"))
        .select(col("lg"),
          round((col("n") * col("sxy") - col("sx") * col("sy"))
            / nullif(sqrt(
              greatest(col("n") * col("sxx") - col("sx") * col("sx"), lit(0.0))
                * greatest(col("n") * col("syy") - col("sy") * col("sy"), lit(0.0))),
              lit(0.0)), 6)
            .as("xcorr"),
          col("n").cast("long").as("n_pairs"))
    },

    // Next-event Markov transition matrix: per user each event paired
    // with its successor by time, then P(dst | src) over the corpus —
    // the path-analysis twin of q_funnel_steps (which checks ONE ordered
    // pattern; this summarizes ALL observed transitions). One key
    // shuffle on user_id for the lead window; the (src,dst) agg output
    // is |types|² rows, so the second exchange is negligible at any SF.
    Q("q_markov",
      """WITH p AS (SELECT user_id, event_type AS src,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
        |  FROM events),
        |c AS (SELECT src, dst, count(*) AS n FROM p
        |      WHERE dst IS NOT NULL GROUP BY 1, 2)
        |SELECT src, dst, n,
        |  round(n * 1.0 / sum(n) OVER (PARTITION BY src), 6) AS p
        |FROM c""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val ws = Window.partitionBy("src")
      Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type").as("src"),
          lead("event_type", 1).over(w).as("dst"))
        .filter(col("dst").isNotNull)
        .groupBy("src", "dst").agg(count(lit(1)).as("n"))
        .withColumn("p", round(col("n") * lit(1.0) / sum(col("n")).over(ws), 6))
    },

    // Single changepoint per series (binary segmentation's first split):
    // the split index minimizing SSE_left + SSE_right over the
    // time-ordered values, with a 5-point minimum segment. Prefix sums
    // and totals go through DECIMAL(28,8) so every cost is computed from
    // engine-exact operands (the argmin compares identical doubles; ties
    // break to the earliest index). One key shuffle — the running-sum
    // window, the partition totals, and the argmin rank all share the
    // event_type partitioning, so Spark plans a single Exchange.
    Q("ts_changepoint",
      """WITH o AS (SELECT event_type,
        |    row_number() OVER w AS i,
        |    CAST(SUM(CAST(value AS DECIMAL(28,8))) OVER w AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(value*value AS DECIMAL(28,8))) OVER w AS DOUBLE) AS s2,
        |    count(*) OVER (PARTITION BY event_type) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(28,8)))
        |         OVER (PARTITION BY event_type) AS DOUBLE) AS t1,
        |    CAST(SUM(CAST(value*value AS DECIMAL(28,8)))
        |         OVER (PARTITION BY event_type) AS DOUBLE) AS t2
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |c AS (SELECT event_type, i, n,
        |    (s2 - s1 * s1 / i) + ((t2 - s2) - (t1 - s1) * (t1 - s1) / (n - i)) AS cost,
        |    s1 / i AS ml, (t1 - s1) / (n - i) AS mr
        |  FROM o WHERE i >= 5 AND i <= n - 5),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY cost, i) AS rn
        |      FROM c)
        |SELECT event_type, i AS split_idx, CAST(n AS BIGINT) AS n,
        |  round(ml, 6) AS mean_left, round(mr, 6) AS mean_right,
        |  round(cost, 6) AS cost
        |FROM r WHERE rn = 1""".stripMargin) { (s, dir) =>
      val wc = Window.partitionBy("event_type").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wa = Window.partitionBy("event_type")
      val o = Tables.load(s, dir, "events")
        .select(col("event_type"),
          row_number().over(Window.partitionBy("event_type")
            .orderBy(col("ts"), col("event_id"))).cast("long").as("i"),
          dsumOver(col("value"), wc).as("s1"),
          dsumOver(col("value") * col("value"), wc).as("s2"),
          count(lit(1)).over(wa).as("n"),
          dsumOver(col("value"), wa).as("t1"),
          dsumOver(col("value") * col("value"), wa).as("t2"))
      val c = o.filter(col("i") >= 5 && col("i") <= col("n") - 5)
        .select(col("event_type"), col("i"), col("n"),
          ((col("s2") - col("s1") * col("s1") / col("i"))
            + ((col("t2") - col("s2"))
              - (col("t1") - col("s1")) * (col("t1") - col("s1"))
                / (col("n") - col("i")))).as("cost"),
          (col("s1") / col("i")).as("ml"),
          ((col("t1") - col("s1")) / (col("n") - col("i"))).as("mr"))
      c.withColumn("rn", row_number().over(
          Window.partitionBy("event_type").orderBy(col("cost"), col("i"))))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("i").as("split_idx"),
          col("n").cast("long").as("n"),
          round(col("ml"), 6).as("mean_left"),
          round(col("mr"), 6).as("mean_right"),
          round(col("cost"), 6).as("cost"))
    },

    // Robust per-series anomaly gate: median / MAD (median absolute
    // deviation), flagging |v - med| > 3σ with σ = 1.4826·MAD — the
    // outlier filter that, unlike mean/stdev (st_cusum's basis), a burst
    // of anomalies cannot drag. Exact medians interpolate identically in
    // both engines; med and dev are quantized to 9 dp before the second
    // median and the threshold compare so both engines rank identical
    // operands. Per-type stats (25 rows) broadcast back to the corpus —
    // the only wide exchanges are the two per-type aggs. (At 100 TB swap
    // the exact median for approx_percentile — the q_approx_percentile
    // twin — the plan shape is unchanged.)
    Q("ts_anomaly_mad",
      """WITH st AS (SELECT event_type, round(median(value), 9) AS med
        |  FROM events GROUP BY event_type),
        |d AS (SELECT e.event_type, round(abs(e.value - st.med), 9) AS dev, st.med
        |  FROM events e JOIN st USING (event_type)),
        |m AS (SELECT event_type, round(median(dev), 9) AS mad
        |  FROM d GROUP BY event_type)
        |SELECT d.event_type, round(min(d.med), 6) AS med,
        |  round(min(m.mad), 6) AS mad, count(*) AS n,
        |  CAST(sum(CASE WHEN d.dev > 3 * 1.4826 * m.mad THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_anomalies
        |FROM d JOIN m USING (event_type) GROUP BY d.event_type""".stripMargin) { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      val st = ev.groupBy("event_type")
        .agg(round(median(col("value")), 9).as("med"))
      val d = ev.join(broadcast(st), "event_type")
        .select(col("event_type"),
          round(abs(col("value") - col("med")), 9).as("dev"), col("med"))
      val m = d.groupBy("event_type")
        .agg(round(median(col("dev")), 9).as("mad"))
      d.join(broadcast(m), "event_type")
        .groupBy("event_type")
        .agg(round(min("med"), 6).as("med"), round(min("mad"), 6).as("mad"),
          count(lit(1)).as("n"),
          sum(when(col("dev") > lit(3 * 1.4826) * col("mad"), 1L)
            .otherwise(0L)).as("n_anomalies"))
    },

    // Per-user behavioral entropy over the event-type distribution —
    // the diversity signal that separates bots (one event type, H≈0)
    // from organic users. Each p·ln p term is quantized to 12 dp and
    // summed through DECIMAL so the ≤|types| additions are
    // order-independent (FP summation order differs between engines;
    // exact decimal addition does not). Two aggs sharing the user_id
    // key — no joins wider than the per-user type counts.
    Q("q_user_entropy",
      """WITH c AS (SELECT user_id, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT user_id, CAST(sum(n) AS BIGINT) AS tot, count(*) AS k
        |  FROM c GROUP BY user_id)
        |SELECT c.user_id, min(t.tot) AS n_events, min(t.k) AS n_types,
        |  round(-CAST(SUM(CAST(round((CAST(n AS DOUBLE) / tot)
        |      * ln(CAST(n AS DOUBLE) / tot), 12) AS DECIMAL(28,14))) AS DOUBLE), 6)
        |    AS entropy
        |FROM c JOIN t USING (user_id) GROUP BY c.user_id""".stripMargin) { (s, dir) =>
      val c = Tables.load(s, dir, "events")
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
      val t = c.groupBy("user_id")
        .agg(sum("n").cast("long").as("tot"), count(lit(1)).as("k"))
      val p = col("n").cast("double") / col("tot")
      c.join(t, "user_id")
        .groupBy("user_id")
        .agg(min("tot").as("n_events"), min("k").as("n_types"),
          round(-sum(round(p * log(p), 12).cast(DecimalType(28, 14)))
            .cast("double"), 6).as("entropy"))
    },

    // Day-of-week seasonality profile per series: count, decimal-exact
    // mean, and each weekday's share of the series total — the profile a
    // scheduler compares live traffic against. Spark's dayofweek is
    // 1-based Sunday; DuckDB's is 0-based Sunday — the Spark side shifts
    // by one so both group on the same bucket. One key shuffle; the
    // per-type totals ride a window over the 7-row-per-type aggregate.
    Q("ts_seasonality",
      """WITH d AS (SELECT event_type, dayofweek(ts) AS dow, value FROM events),
        |a AS (SELECT event_type, dow, count(*) AS n,
        |    round(CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE)
        |          / count(*), 6) AS mean_val
        |  FROM d GROUP BY 1, 2)
        |SELECT event_type, dow, n, mean_val,
        |  round(n * 1.0 / sum(n) OVER (PARTITION BY event_type), 6) AS share
        |FROM a""".stripMargin) { (s, dir) =>
      val a = Tables.load(s, dir, "events")
        .select(col("event_type"),
          (dayofweek(col("ts")) - 1).as("dow"), col("value"))
        .groupBy("event_type", "dow")
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast(DecimalType(28, 8))).cast("double")
            / count(lit(1)), 6).as("mean_val"))
      a.withColumn("share", round(col("n") * lit(1.0)
        / sum(col("n")).over(Window.partitionBy("event_type")), 6))
    },
  )
}
