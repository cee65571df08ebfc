package graft.streaming

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** File-backed micro-batch replay for the streaming parity rows.
  *
  * The round-9 harness fed every parity row by collecting the corpus to
  * the driver and replaying it through a `MemoryStream` — the one
  * driver-memory-bounded seam in an otherwise distributed board. This
  * helper removes it: the corpus is written into per-chunk parquet files
  * by a normal DISTRIBUTED write (`partitionBy` on the chunk column — the
  * rows never pass through the driver), and a running
  * `readStream.parquet` query is fed one chunk per micro-batch by
  * atomically hard-linking that chunk's single part file into the watched
  * directory. Because `repartition(chunkCol)` routes each chunk value to
  * exactly one shuffle partition, every chunk directory holds exactly ONE
  * part file, so a publish is a single atomic link and the engine can
  * never observe half a chunk — batch boundaries stay exact, which the
  * watermark/session parity oracles replay in SQL.
  *
  * Staged corpora are cached in a small plan-keyed LRU (the trackCache
  * pattern): bench reps and boards that replay the SAME staged frame
  * reuse the parquet files and only re-link them into a fresh watch
  * directory, so the distributed write is paid once, not per rep.
  *
  * At 100 TB this is the real deployment shape: a backfill lands files in
  * object storage and Structured Streaming consumes them; only the
  * orchestration (which chunk is visible) touches the driver.
  */
object FileReplay {

  private final case class Staged(
      root: Path, chunks: Map[Int, Path], schema: StructType,
      // live-handle pin count: concurrent callers (the console, GraftApp)
      // can replay rows at once, so eviction must never delete files a
      // not-yet-closed handle still links/copies from (publish of a
      // not-yet-linked chunk would otherwise throw NoSuchFile mid-replay)
      refs: java.util.concurrent.atomic.AtomicInteger =
        new java.util.concurrent.atomic.AtomicInteger(0))

  // LRU of staged corpora keyed on the canonicalized plan of the
  // chunk-annotated frame. Eviction deletes the staged files, SKIPPING
  // entries pinned by a live handle (the cache may transiently exceed
  // maxStaged while many handles are open; it shrinks back as they
  // close).
  private val maxStaged = 6
  // key carries the OUTPUT SCHEMA alongside the canonicalized plan:
  // canonicalization erases column aliases, so two stagings of the same
  // computation under different output names (e.g. `md5(text) AS key`
  // vs `AS k`) must not share files — the downstream stream resolves by
  // name
  private val stagedCache = new scala.collection.mutable.LinkedHashMap[
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, String), Staged]

  /** Eagerly-materialized directory listing with the stream CLOSED:
    * `Files.list` holds an open directory fd until the stream is closed
    * — looping its iterator and dropping the stream leaks one fd per
    * call (publish runs per chunk per rep; hundreds of reps between GC
    * cycles can exhaust the ulimit and fail unrelated driver opens).
    */
  private def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
      .asScala.toVector
    finally s.close()
  }

  private def rm(p: Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(rm)
    Files.deleteIfExists(p)
  }

  /** Stage `df` into per-chunk files (or reuse a cached staging of the
    * same plan). `chunkCol` must be a deterministic non-null integer
    * expression; chunks replay in ascending order.
    */
  def stage(df: DataFrame, chunkCol: Column): Handle = {
    val spark = df.sparkSession
    val annotated = df.withColumn("__chunk", chunkCol)
    val key = (annotated.queryExecution.analyzed.canonicalized,
      annotated.schema.sql)
    // cache check under the lock; the distributed WRITE outside it —
    // concurrent callers must not serialize whole stagings behind one
    // object monitor. Two threads staging the same key race
    // benignly: the loser's files are deleted, the winner's entry is
    // shared (pinned before the lock releases, so eviction can't reclaim
    // it in the gap).
    def pinCached(): Option[Staged] = synchronized {
      stagedCache.remove(key) match {
        case Some(st) if Files.isDirectory(st.root) =>
          stagedCache.update(key, st) // refresh recency
          st.refs.incrementAndGet()
          Some(st)
        case _ => None
      }
    }
    val staged = pinCached().getOrElse {
      val root = Files.createTempDirectory("graft_replay")
      val stageDir = root.resolve("stage")
      // one shuffle partition per chunk value -> one part file per
      // chunk directory -> atomic single-link publish
      annotated
        .repartition(col("__chunk"))
        .write.partitionBy("__chunk")
        .parquet(stageDir.toString)
      var chunks = Map.empty[Int, Path]
      listDir(stageDir).foreach { d =>
        val n = d.getFileName.toString
        if (n.startsWith("__chunk="))
          chunks += (n.stripPrefix("__chunk=").toInt -> d)
      }
      val fresh = Staged(root, chunks, df.drop("__chunk").schema)
      // re-check INSIDE the insert lock: two same-key stagers that both
      // missed and both finished their writes must not both insert — the
      // second update would silently drop the first (pinned, in-use)
      // entry from the cache, leaking its directory forever (review
      // finding; a pinCached() call followed by a separate insert block
      // left exactly that window)
      synchronized {
        stagedCache.remove(key) match {
          case Some(prev) if Files.isDirectory(prev.root) =>
            stagedCache.update(key, prev)
            prev.refs.incrementAndGet()
            rm(root) // ours lost the race
            prev
          case _ =>
            stagedCache.update(key, fresh)
            fresh.refs.incrementAndGet()
            fresh
        }
      }
    }
    evictUnpinned()
    val watchDir = Files.createTempDirectory("graft_replay_watch")
    new Handle(spark, staged, watchDir)
  }

  private def evictUnpinned(): Unit = synchronized {
    if (stagedCache.size > maxStaged) {
      val victims = stagedCache.iterator
        .filter(_._2.refs.get() == 0)
        .take(stagedCache.size - maxStaged).map(_._1).toVector
      victims.foreach { k =>
        stagedCache.remove(k).foreach(s => rm(s.root))
      }
    }
  }

  final class Handle private[FileReplay] (
      spark: SparkSession,
      st: Staged,
      watchDir: Path) {

    // close() must be idempotent: a double close would drive the pin
    // count negative, after which the NEXT pin increments -1 -> 0 and
    // that live handle's files look evictable (review finding)
    private val closed = new java.util.concurrent.atomic.AtomicBoolean(false)

    /** Ascending chunk ids present in the staged data (a range-chunking
      * expression can legitimately produce an empty chunk).
      */
    def chunkIds: Seq[Int] = st.chunks.keys.toSeq.sorted

    /** The streaming view of the watched directory. */
    def stream: DataFrame =
      spark.readStream.schema(st.schema).parquet(watchDir.toString)

    /** Make chunk `i`'s file visible to the stream (atomic hard link —
      * the staged file stays in place for reuse; no-op for an empty
      * chunk). Does NOT drain the query — the caller decides when a
      * micro-batch boundary falls (two-source rows publish both sides
      * first).
      */
    def publish(i: Int): Unit = st.chunks.get(i).foreach { dir =>
      listDir(dir).foreach { f =>
        val name = f.getFileName.toString
        if (name.endsWith(".parquet")) {
          val target = watchDir.resolve(s"chunk$i-$name")
          try Files.createLink(target, f)
          catch { case _: UnsupportedOperationException |
                       _: java.nio.file.FileSystemException =>
            val tmp = watchDir.resolve(s".chunk$i-$name")
            Files.copy(f, tmp, StandardCopyOption.REPLACE_EXISTING)
            Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
          }
        }
      }
    }

    /** Publish chunk `i` and drain the query to its batch boundary. */
    def feed(q: StreamingQuery, i: Int): Unit = {
      publish(i); q.processAllAvailable()
    }

    /** Replay every staged chunk in ascending order. */
    def feedAll(q: StreamingQuery): Unit = chunkIds.foreach(feed(q, _))

    /** Batch view of everything PUBLISHED so far (for gate rows that
      * compare the stream's output against exact statistics of the
      * replayed corpus). After `feedAll` this is the whole staged corpus.
      */
    def staged: DataFrame =
      spark.read.schema(st.schema).parquet(watchDir.toString)

    /** Release the watch directory and unpin the staged files (they
      * belong to the LRU and are reused by later replays of the same
      * frame; eviction may reclaim them once no handle is live).
      */
    def close(): Unit = if (closed.compareAndSet(false, true)) {
      rm(watchDir)
      st.refs.decrementAndGet()
      FileReplay.evictUnpinned()
    }
  }

  /** Drive a streaming frame through a DISTRIBUTED parquet sink and hand
    * back the batch read of everything written. The memory sink funnels
    * every emitted row through the driver — a collect() in disguise that
    * dominated the corpus-scale parity rows at the 100x fixture
    * (st_stream_dropdup_parity re-emits the whole 10M-row events table;
    * dd_stream_lsh_parity emits 4.8M candidate pairs) — while the file
    * sink writes from the executors and the read-back is a parallel
    * parquet scan (round-13 verdict task 3). Append-mode rows only (the
    * file sink's contract). The read carries the stream's schema
    * explicitly so a zero-row replay still returns an empty frame
    * instead of failing schema inference. The query starts through
    * [[start]] with no-data batches off.
    */
  def replayToParquet(sdf: DataFrame, shufflePartitions: Int)(
      feed: StreamingQuery => Unit): DataFrame = {
    val spark = sdf.sparkSession
    val out = Files.createTempDirectory("graft_psink")
    psinks.synchronized { psinks += out }
    val q = start(spark, shufflePartitions) {
      sdf.writeStream.format("parquet")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/chk")
        .outputMode("append").start()
    }
    try feed(q) finally q.stop()
    spark.read.schema(sdf.schema).parquet(s"$out/data")
  }

  private val startLock = new Object

  /** Start a replay query with its streaming conf set on `s` only while
    * `begin` runs, then restore each key exactly (a key that was unset
    * before is unset again). Scoping the start is enough: Spark fixes a
    * query's execution conf when the query starts — the `StreamExecution`
    * constructor clones the session (reading `minBatchesToRetain` there)
    * and every micro-batch, including the no-data-batch decision, reads
    * that clone — so the running query keeps these values and nothing
    * later in the stream reads the caller's conf. One lock serializes the
    * starts, so overlapping starts on one session cannot interleave their
    * restores and leave another start's values behind.
    *
    *  - `shufflePartitions`: the width of the query's state store, fixed
    *    for the life of its checkpoint.
    *  - `noDataBatches`: no-data micro-batches exist to fire
    *    watermark-driven work (state eviction, append-mode finalization)
    *    when no new data arrives. Most replay rows emit purely on DATA
    *    batches (inner stream-stream join emits eagerly; update/complete-
    *    mode aggs and NoTimeout flatMapGroupsWithState emit nothing on a
    *    no-data batch), so for them the extra batches are pure state-store
    *    commit cost: measured 53.0 -> 12.1 s on st_stream_join_parity solo
    *    (round-15; each no-data batch re-commits 4 join state stores x 4
    *    partitions). Off by default (the rows that keep it off are
    *    oracle-verified with it off); the rows whose output needs
    *    watermark passes (session windows, late-data drops) pass `true`.
    *  - `minBatchesToRetain` = 2, the checkpoint-retention floor: every
    *    micro-batch otherwise retains 100 batches of offset/commit/state
    *    files — pure metadata I/O the short-lived replay queries never
    *    read back (they never recover from old batches; feedAll then stop).
    */
  def start(s: SparkSession, shufflePartitions: Int,
      noDataBatches: Boolean = false)(
      begin: => StreamingQuery): StreamingQuery = startLock.synchronized {
    val scoped = Seq(
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> noDataBatches.toString,
      "spark.sql.streaming.minBatchesToRetain" -> "2")
    val explicit = s.conf.getAll
    val prev = scoped.map { case (k, _) => k -> explicit.get(k) }
    scoped.foreach { case (k, v) => s.conf.set(k, v) }
    try begin
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  // Every psink dir a replayToParquet call created and never cleaned: the
  // returned DataFrame reads lazily from it, so it cannot be deleted
  // eagerly, but each bench/verify rep left a corpus-sized parquet output
  // plus checkpoint under java.io.tmpdir forever — filling disk across
  // multi-pass boards (round-13 ADVICE). Callers purge at a point where
  // every frame built from the dirs has been fully consumed (Bench: after
  // each replay row has been counted and fingerprinted; Verify: after
  // each row's parquet write). A JVM shutdown hook covers
  // every other exit path.
  private val psinks = scala.collection.mutable.ArrayBuffer.empty[Path]

  /** Test hook: the psink dirs currently tracked by THIS JVM. Lets the
    * reclaim spec assert on the specific dirs it created instead of a
    * global tmpdir count a concurrent bench/test JVM could perturb
    * (round-14 ADVICE).
    */
  private[graft] def trackedPsinks: Seq[Path] =
    psinks.synchronized { psinks.toSeq }

  /** Delete every tracked psink dir. Only call when no DataFrame returned
    * by [[replayToParquet]] so far will be consumed again.
    */
  def purgePsinks(): Unit = psinks.synchronized {
    psinks.foreach(p => try rm(p) catch { case _: Throwable => })
    psinks.clear()
  }

  private val psinkShutdownHook: Thread = {
    val t = new Thread(() => purgePsinks(), "graft-psink-purge")
    Runtime.getRuntime.addShutdownHook(t)
    t
  }

  /** Scope-set shuffle-partition count for a replay row: scales with the
    * replayed row count so the keyed-state exchange is not serialized
    * into a fixed handful of tasks at the 10-100x fixtures — the
    * project's recurring fixed-cardinality scale-bug class, here as a
    * pinned `shuffle.partitions = 8` carrying a 100x corpus (round-13
    * verdict task 3: dd_stream_lsh_parity alone was 103 s at 100x, its
    * 2M bucket-state rows serialized onto 8 tasks). Small at sf0.1 where
    * per-micro-batch task overhead dominates, wide at 100x. Deterministic
    * in the row count; replay-row RESULTS are partitioning-invariant
    * (keyed state, order-canonicalized emission), only the exchange
    * width changes.
    */
  def replayPartitions(rows: Long, perPartition: Long = 25000L): Int =
    math.max(4L, math.min(64L, rows / perPartition + 4L)).toInt

  /** Range-chunking expression: splits `c`'s value domain [lo, hi] into
    * `n` equal-width ascending chunks — the id/time-ordered replay shape
    * every parity row uses. `lo`/`hi` are scalar aggregates (two longs to
    * the driver, not the corpus).
    */
  def rangeChunks(df: DataFrame, c: Column, n: Int): Column = {
    val r = df.agg(min(c).cast("long"), max(c).cast("long")).head()
    // empty (or all-null-column) corpus: min/max aggregate to NULL and
    // getLong would NPE — a filtered feed with zero matching rows at a
    // small SF is a legitimate replay, not a crash; everything (if
    // anything) lands in one chunk
    if (r.isNullAt(0) || r.isNullAt(1)) lit(0)
    else {
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      val width = (hi - lo + 1 + n - 1) / n max 1L
      ((c.cast("long") - lit(lo)) / lit(width)).cast("int")
    }
  }
}
