package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators: tokenization, shingling, MinHash+LSH,
  * SimHash, exact Jaccard, embedding cosine — the dedup/similarity layer a
  * 100 TB corpus pipeline needs.
  *
  * Design notes for scale:
  *  - MinHash signatures + banded LSH turn all-pairs O(n^2) dedup into a
  *    shuffle on (band, bucket-hash) — candidate pairs only materialize
  *    inside buckets.
  *  - All hashes are md5-derived (seeded by index), so signatures are
  *    deterministic and reproducible in any engine — the DuckDB oracle
  *    recomputes them exactly.
  *  - Everything is built from codegen'd builtins (split/transform/
  *    aggregate); no UDFs on the hot path except the simhash64 native
  *    expression.
  */
object TextOps {

  /** Whitespace tokens, empties dropped (native expression — the filter
    * HOF rendering is CodegenFallback and evicts its projection from
    * whole-stage codegen).
    */
  def tokens(text: Column): Column =
    graft.functions.GraftFunctions.tokens_ws(text)

  /** Distinct word n-shingles; empty array when fewer than n tokens.
    * Native expression (graft `Shingles`): the transform/slice/concat_ws
    * lambda rendering runs interpreted (array HOFs are CodegenFallback)
    * and dominated shingle-heavy pipelines — the JVM loop stays inside
    * whole-stage codegen. Same output, first-occurrence order.
    */
  def shingles(toks: Column, n: Int): Column =
    graft.functions.GraftFunctions.shingles(toks, lit(n))

  /** Exact Jaccard similarity of two string arrays (set semantics). */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Connected components over an undirected pair list: every node gets
    * the min node id reachable from it (the dedup "cluster keeper").
    *
    * The candidate-pair graph after LSH is orders of magnitude smaller
    * than the corpus, so up to `smallGraphMax` edges we collect and run
    * union-find on the driver (one job, exact); beyond that we fall back
    * to iterative min-label propagation (O(diameter) shuffles). Both
    * produce the same labeling.
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", maxIter: Int = 20,
      smallGraphMax: Long = 5000000L): DataFrame = {
    val spark = pairs.sparkSession
    val cached = pairs.select(col(aCol).cast("long"), col(bCol).cast("long")).cache()
    val nEdges = cached.count()
    if (nEdges <= smallGraphMax) {
      // driver-side union-find with path compression, then min-id labels
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      cached.collect().foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra) = rb
      }
      val minOfRoot = scala.collection.mutable.HashMap.empty[Long, Long]
      val nodes = parent.keys.toArray
      nodes.foreach { n =>
        val r = find(n)
        minOfRoot(r) = math.min(minOfRoot.getOrElse(r, Long.MaxValue), n)
      }
      cached.unpersist()
      import spark.implicits._
      nodes.map(n => (n, minOfRoot(find(n)))).toSeq.toDF("node", "cluster")
    } else {
      // distributedCC's result is localCheckpoint'ed (eager), so the edge
      // input is fully consumed by return time — release it here rather
      // than leak it for the session's lifetime (round-6 cache audit).
      val out = distributedCC(cached, aCol, bCol, maxIter)
      cached.unpersist(false)
      out
    }
  }

  private def distributedCC(pairs: DataFrame, aCol: String,
      bCol: String, maxIter: Int): DataFrame = {
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionAll(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .cache()
    // localCheckpoint (eager) per iteration: each round's frame must cut
    // its lineage, or the logical plan nests one join+agg deeper every
    // iteration and analysis/AQE planning blows up long before the data
    // does (found by ConnectedComponentsSpec: 20 iterations OOMed the
    // driver on PLAN strings). Executor-local persistence is the standard
    // trade for iterative refinement — on failure the job reruns.
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(min("label").as("nlabel"))
      val stepped = labels.join(viaNeighbors, Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
      // Pointer jumping: additionally adopt the label OF the current
      // label, doubling the propagation distance each round — plain
      // neighbor propagation moves labels one hop per round and silently
      // mislabels any component whose diameter exceeds maxIter
      // (ConnectedComponentsSpec's 42-node chain caught exactly that).
      // With the jump, maxIter=20 covers diameters up to ~2^20.
      val next = stepped.as("a")
        .join(stepped.select(col("node").as("ln"), col("label").as("ll")).as("b"),
          col("a.label") === col("b.ln"), "left")
        .select(col("a.node").as("node"),
          least(col("a.label"), coalesce(col("ll"), col("a.label"))).as("label"))
        .localCheckpoint(true)
      val changed = next.join(labels.withColumnRenamed("label", "old"), "node")
        .filter(col("label") < col("old")).count()
      labels = next // previous round's blocks are reclaimed by the cleaner
      converged = changed == 0
      iter += 1
    }
    edges.unpersist()
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds")
    labels.withColumnRenamed("label", "cluster")
  }

  /** Exact Jaccard similarity self-join with PPJoin prefix + position +
    * length filtering (Xiao et al., public algorithm): order each doc's
    * grams by ascending global document frequency; a pair can reach
    * Jaccard >= t only if it shares one of each doc's first
    * (n - ceil(t*n) + 1) grams (prefix filter), only if
    * t*max(na,nb) <= min(na,nb) (length filter), and only if enough grams
    * remain after the matching position to reach the required overlap
    * alpha = ceil(t/(1+t)*(na+nb)) (position filter). Candidates are
    * generated only from rare-gram prefixes, then verified exactly —
    * all three prunes are lossless, so the output equals the brute-force
    * join. This is the plan that survives web-corpus scale: the candidate
    * shuffle is on rare grams, never on the full inverted index.
    */
  def similarityJoinExact(docs: DataFrame, idCol: String, blockCol: String,
      textCol: String, shingleSize: Int, threshold: Double): DataFrame = {
    ppjoinFrom(shingled(docs, idCol, blockCol, textCol, shingleSize),
      idCol, blockCol, threshold)
  }

  /** Tracked-cache registry for query-local intermediates (gram index,
    * prefix index, funnel stages). Cached frames must outlive the build
    * call — the returned frame is lazy — and since round 8 the registry is
    * an LRU keyed on the CANONICALIZED logical plan, bounded at
    * [[maxLiveCaches]] frames: re-tracking a plan that is already live
    * (the banded-signature chain is shared by dd_minhash_lsh,
    * dd_clusters, dd_keep_policy, dd_edit_verify, ...) refreshes its
    * recency instead of double-caching, and Spark's CacheManager
    * transparently substitutes the live blocks into ANY later query whose
    * subplan canonically matches — the persisted-index posture a corpus
    * deployment has, where the signature/gram index is a table built
    * once, not a per-query derivation. Eviction unpersists the oldest
    * frame, so a long-lived session holds a BOUNDED number of cached
    * blocks (the round-6 regression was unbounded accumulation; the
    * round-7→8 fix released everything on each new query, which was safe
    * but forfeited cross-query sharing). `cache()` defaults to
    * MEMORY_AND_DISK, so even a pathological full working set degrades to
    * disk spill, never OOM. Operators never release internally — a query
    * that tracks its own frames and then invokes a join should not have
    * them unpersisted mid-build. The registry is JVM-GLOBAL and the board
    * runs builds concurrently (8-thread concurrent board, 4-way replay
    * tier), so the bound is sized for peak concurrency × frames-per-build
    * (8 × ~4), not a single build: under that ceiling no thread's frames
    * can be evicted mid-build. Beyond it (more concurrent callers than
    * the board ever runs) eviction of another thread's live frame is
    * possible and SAFE — unpersist only drops blocks, the lazy plan
    * recomputes — it costs rebuild work, never correctness (round-13
    * kernel review: the old doc claimed the single-build bound as a
    * global guarantee).
    */
  private val liveCaches = new scala.collection.mutable.LinkedHashMap[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, DataFrame]
  private val maxLiveCaches = 32
  // Storage level for tracked caches (round-15 verdict task 6,
  // guide §5): Spark's cache() level (MEMORY_AND_DISK, deserialized).
  // Since the round-15 rewrites, every registered query's tracked frame
  // is a post-aggregate/projected frame SMALLER than its source (the
  // corpus-sized raw-explode caches are gone), so the deserialized level
  // is no longer a multi-corpus-size exposure at scale; a memory-tight
  // deployment would trade decode CPU for a several-x smaller footprint
  // with MEMORY_AND_DISK_SER.
  private val cacheLevel = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
  // observability counters (round-8 verdict: the bench artifact must report
  // registry behavior so an eviction-churn regression is distinguishable
  // from host load); read via cacheStats, zeroed by resetCacheStats
  private var statHits = 0L
  private var statMisses = 0L
  private var statEvictions = 0L
  /** (hits, misses, evictions) since the last [[resetCacheStats]]. */
  private[graft] def cacheStats: (Long, Long, Long) = synchronized {
    (statHits, statMisses, statEvictions)
  }
  private[graft] def resetCacheStats(): Unit = synchronized {
    statHits = 0L; statMisses = 0L; statEvictions = 0L
  }
  private[graft] def trackCache(df: DataFrame): DataFrame = synchronized {
    // streaming frames cannot be cached (bandedSignatures is shared with
    // the streaming LSH twin); state reuse there is the stream's own job
    if (df.isStreaming) return df
    val key = df.queryExecution.analyzed.canonicalized
    liveCaches.remove(key) match {
      // a hit is only a hit while the blocks are still registered — an
      // external clearCache()/unpersist() invalidates the registry entry
      // (storageLevel consults the live CacheManager, not our bookkeeping)
      case Some(prev)
          if prev.storageLevel != org.apache.spark.storage.StorageLevel.NONE =>
        statHits += 1
        liveCaches.update(key, prev) // refresh recency; blocks stay live
      case _ =>
        statMisses += 1
        df.persist(cacheLevel)
        liveCaches.update(key, df)
        while (liveCaches.size > maxLiveCaches) {
          val (k0, d0) = liveCaches.head
          d0.unpersist(false)
          liveCaches.remove(k0)
          statEvictions += 1
        }
    }
    df
  }
  private[graft] def releasePriorCaches(): Unit = synchronized {
    liveCaches.valuesIterator.foreach(_.unpersist(false))
    liveCaches.clear()
  }

  /** Positional-span duplicate frames shared by dd_span_dup and
    * pl_dedup_funnel (round-7 advice: the duplicated explode let the
    * cache policy diverge). Input: `(idCol, tokensCol: array<string>)`.
    * Returns `(grams, dupCounts)`:
    *  - `grams`: `(idCol, gs)` — every positional n-gram (NOT distinct: a
    *    doc repeating a leaked span counts every occurrence), docs with
    *    fewer than n tokens dropped;
    *  - `dupCounts`: `(idCol, dup_spans)` — per doc, how many of its
    *    spans occur in >= 2 docs.
    * The gram explode is tracked-cached: it feeds BOTH the gram-df count
    * and the join-back, and without the barrier the explode runs once per
    * consumer. Plan at scale: one shuffle for gram document frequency,
    * one gram-keyed join back (only df>=2 grams flow), then a per-doc
    * partial agg — never all-pairs.
    */
  def spanDupFrames(docs: DataFrame, idCol: String, tokensCol: String,
      n: Int): (DataFrame, DataFrame) = {
    val (g, e, dg) = spanCore(docs, idCol, tokensCol, n)
    val d = e.join(dg, "gram")
      .groupBy(idCol).agg(count(lit(1)).as("dup_spans"))
    (g, d)
  }

  /** Positional variant of [[spanDupFrames]] for span-extent analysis
    * (longest duplicated run): returns `(grams, dupPositions)` where
    * `dupPositions` is `(idCol, pos)` — the 0-based span positions whose
    * n-gram occurs in >= 2 docs. Shares the tracked positional explode
    * with [[spanDupFrames]] (same canonical plan -> same live cache), so
    * running both costs one gram derivation. Same scale shape: gram-df
    * shuffle + gram-keyed join back, never all-pairs.
    */
  def spanDupPositions(docs: DataFrame, idCol: String, tokensCol: String,
      n: Int): (DataFrame, DataFrame) = {
    val (g, e, dg) = spanCore(docs, idCol, tokensCol, n)
    (g, e.join(dg, "gram").select(col(idCol), col("pos")))
  }

  /** Distributed BPE merge-pair learning (Sennrich et al. 2016, the
    * tokenizer-training core): learn `iters` merge rules from corpus
    * word frequencies.
    *
    * The corpus is scanned ONCE into the word-frequency table (the
    * standard BPE-trainer reduction — pair statistics only depend on
    * (word, count)), which is vocab-sized, tracked-cached, and is the
    * only thing the iterations touch. Each iteration is one
    * pair-explode hash aggregate over that vocab frame (map-side
    * partial agg collapses the explode) plus a 1-row driver round-trip
    * for the argmax pair — driver state is O(iters), exactly the
    * MLlib-style bounded round-trip [[VectorOps.lloydCentroids]] uses.
    * At 100 TB the word table is ~10M rows regardless of corpus size,
    * so iteration cost is independent of the corpus after the first
    * scan.
    *
    * Symbol sequences are rendered self-delimiting — every symbol
    * suffixed with ';' and preceded by exactly one space — so a single
    * literal `replace(s, " a; b;", " ab;")` applies one merge rule with
    * exact BPE semantics: left-to-right, non-overlapping, chains merge
    * correctly (" a; a; a;" -> " aa; a;"), and a symbol can never match
    * a prefix of a longer symbol (" e; rt;" has no " e; r;"). Words are
    * restricted to `^[a-z]+$` so ';' cannot occur inside a symbol.
    *
    * Ties on count break on (a, b) string order in both engines.
    * Returns one row per learned rule: (iter, merged, cnt).
    */
  def bpeMerges(docs: DataFrame, textCol: String, iters: Int): DataFrame = {
    val spark = docs.sparkSession
    val (_, learned) = bpeLoop(docs, textCol, iters)
    import spark.implicits._
    learned.map { case (it, a, b, cnt) => (it, (a + b).replace(";", ""), cnt) }
      .toDF("iter", "merged", "cnt")
  }

  /** Per-language tokenizer fertility under the globally learned rules
    * — the multilingual-equity metric (does one language pay more
    * tokens per word than another under a shared vocabulary?). Learns
    * `iters` merges on the whole corpus, applies them to each
    * language's word table, and reports per-lang word/char/token
    * volumes, fertility (tokens per word occurrence) and chars per
    * token. The merge application is `iters` chained literal replaces
    * over the vocab-sized (lang, word) frame — row-local after one
    * corpus scan.
    */
  def bpeFertilityByLang(docs: DataFrame, textCol: String, langCol: String,
      iters: Int): DataFrame = {
    val (_, learned) = bpeLoop(docs, textCol, iters)
    val wl = trackCache(docs
      .select(col(langCol).as("lang"), explode(tokens(col(textCol))).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy("lang", "w").agg(count(lit(1)).as("wc"))
      .select(col("lang"),
        concat(lit(" "), array_join(
          transform(sequence(lit(1), length(col("w"))),
            i => concat(col("w").substr(i, lit(1)), lit(";"))), " ")).as("s"),
        length(col("w")).cast("long").as("cl"),
        col("wc")))
    val merged = learned.foldLeft(col("s")) { case (expr0, (_, a, b, _)) =>
      replace(expr0, lit(s" $a $b"), lit(s" ${a.init}$b"))
    }
    val nSym = size(filter(split(merged, " "), x => x =!= ""))
    wl.groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
        sum("wc").as("total_words"),
        sum(col("wc") * col("cl")).as("total_chars"),
        sum(col("wc") * nSym).as("total_tokens"))
      .select(col("lang"), col("n_words"), col("total_words"),
        col("total_chars"), col("total_tokens"),
        round(col("total_tokens") * lit(1.0) / col("total_words"), 6)
          .as("fertility"),
        round(col("total_chars") * lit(1.0) / col("total_tokens"), 6)
          .as("chars_per_token"))
  }

  /** Encode-side companion of [[bpeMerges]]: learn `iters` merge rules,
    * apply them, and report the corpus tokenization stats a tokenizer
    * drop ships with — vocabulary words, corpus word/char volume, the
    * post-merge token count, and chars-per-token (the compression the
    * merges bought). Same scale shape as the trainer: everything after
    * the first scan is vocab-sized.
    */
  def bpeEncodeStats(docs: DataFrame, textCol: String, iters: Int): DataFrame = {
    val (fin, _) = bpeLoop(docs, textCol, iters)
    val nSym = size(filter(split(col("s"), " "), x => x =!= ""))
    fin.agg(
      count(lit(1)).as("n_words"),
      sum("wc").as("total_words"),
      sum(col("wc") * col("cl")).as("total_chars"),
      sum(col("wc") * nSym).as("total_tokens"))
      .select(col("n_words"), col("total_words"), col("total_chars"),
        col("total_tokens"),
        round(col("total_chars") * lit(1.0) / col("total_tokens"), 6)
          .as("chars_per_token"))
  }

  /** Shared BPE trainer loop: returns the fully-merged word frame
    * `(s, cl, wc)` (symbol string, char length, word count) and the
    * learned rules `(iter, a, b, cnt)` in RAW ';'-suffixed symbol form
    * so callers can re-apply them as literal replaces.
    */
  private def bpeLoop(docs: DataFrame, textCol: String,
      iters: Int): (DataFrame, Seq[(Int, String, String, Long)]) = {
    val words = trackCache(docs
      .select(explode(tokens(col(textCol))).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .select(concat(lit(" "), array_join(
        transform(sequence(lit(1), length(col("w"))),
          i => concat(col("w").substr(i, lit(1)), lit(";"))), " ")).as("s"),
        length(col("w")).cast("long").as("cl"),
        col("wc")))
    var cur = words
    val learned = Seq.newBuilder[(Int, String, String, Long)]
    var dry = false
    for (it <- 1 to iters if !dry) {
      val syms = filter(split(col("s"), " "), x => x =!= "")
      val tops = cur
        .select(col("wc"), syms.as("syms"))
        .filter(size(col("syms")) >= 2)
        .select(col("wc"),
          explode(transform(sequence(lit(1), size(col("syms")) - 1),
            i => struct(element_at(col("syms"), i).as("a"),
              element_at(col("syms"), i + 1).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("wc").as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      // BPE's natural stopping point: every retained word is a single
      // symbol, so no pair exists to merge — stop with the merges learned
      // so far instead of indexing into an empty argmax (round-13 kernel
      // review; iters is a BUDGET, not a guarantee)
      if (tops.isEmpty) dry = true
      else {
        val top = tops(0)
        val (a, b, cnt) = (top.getString(0), top.getString(1), top.getLong(2))
        learned += ((it, a, b, cnt))
        // a ends with ';' by construction; the merged symbol drops it.
        cur = cur.select(
          replace(col("s"), lit(s" $a $b"), lit(s" ${a.init}$b")).as("s"),
          col("cl"), col("wc"))
      }
    }
    (cur, learned.result())
  }

  /** Shared core: `g` = per-doc ordered positional n-grams, `e` = the
    * tracked-cached positional explode `(idCol, pos, gram)` (pos 0-based,
    * NOT distinct), `dg` = grams occurring in >= 2 distinct docs.
    */
  private def spanCore(docs: DataFrame, idCol: String, tokensCol: String,
      n: Int): (DataFrame, DataFrame, DataFrame) = {
    val g = docs.filter(size(col(tokensCol)) >= n)
      .select(col(idCol),
        transform(sequence(lit(1), size(col(tokensCol)) - (n - 1)),
          i => array_join(slice(col(tokensCol), i, lit(n)), " ")).as("gs"))
    val e = trackCache(g.select(col(idCol),
      posexplode(col("gs")).as(Seq("pos", "gram"))))
    val dg = e.groupBy("gram")
      .agg(countDistinct(idCol).as("df"))
      .filter(col("df") >= 2)
      .select("gram")
    (g, e, dg)
  }

  /** Shingled-docs index frame `(id, block, __g)`, cached: it is re-read
    * by self-joins and a verify-join, and the shingling lambdas run
    * interpreted — without a materialization barrier the whole pipeline
    * executes once per join side. At corpus scale this is the persisted
    * gram index table.
    */
  private def shingled(docs: DataFrame, idCol: String, blockCol: String,
      textCol: String, shingleSize: Int): DataFrame =
    trackCache(docs
      .withColumn("__g", shingles(tokens(col(textCol)), shingleSize))
      .filter(size(col("__g")) > 0)
      .select(col(idCol), col(blockCol), col("__g")))

  /** Vocabulary cap for the bitmap branch: 4096 grams = 64 longs per doc
    * (512 B) — one cache line beyond the common 961-gram fixture case and
    * still popcount-cheap per pair.
    */
  private val BitsetMaxVocab = 4096

  /** Largest per-block row count the all-pairs bitmap kernel accepts.
    * The kernel parallelizes a block into (chunk, chunk) pair tasks of
    * at most [[BitsetChunkTarget]]² candidates each, so this cap bounds
    * TOTAL quadratic work (~34G raw pairs at 262144), not single-task
    * work. Above it, exact all-pairs similarity on a no-prunable-
    * structure corpus is a deliberate non-goal — the scale path is LSH —
    * and the dispatch falls through to the measured-density choice.
    */
  private[graft] val BitsetMaxBlock = 262144L

  /** The EXACT gram vocabulary when it is small enough for the bitmap
    * branch, else None. Only attempted when the sketch estimate is near
    * the cap (one cheap distinct pass over the cached gram index;
    * `limit(cap+1)` keeps the driver collect bounded no matter what the
    * sketch said).
    */
  private def smallVocab(grams: DataFrame, ndEstimate: Long): Option[Array[String]] = {
    if (ndEstimate > BitsetMaxVocab * 1.2) return None
    val v = grams.select(explode(col("__g")).as("x")).distinct()
      .limit(BitsetMaxVocab + 1)
      .collect().map(_.getString(0))
    if (v.length > BitsetMaxVocab) None else Some(v.sorted)
  }

  /** Block-key row counts (one small agg on the cached gram index) —
    * feeds BOTH the dispatch guard (max block size) and the kernel's
    * per-block chunk counts, so the dispatch costs one job, not two.
    */
  private def blockSizes(grams: DataFrame, blockCol: String): Map[String, Long] =
    grams.groupBy(col(blockCol).cast("string").as("b"))
      .agg(count(lit(1)).as("c")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Dense-small-vocabulary branch: when the whole gram vocabulary fits
    * [[BitsetMaxVocab]], neither prefix filtering nor the inverted-index
    * count-join can prune — EVERY gram is frequent, so the count-join's
    * candidate mass is sum over grams of C(df,2), quadratic in the
    * posting lists (measured 36M pairs at sf0.1 -> 3.6B at 10x, 274 s).
    * Representing each doc's distinct-gram set as a fixed bitmap makes
    * exact set intersection a ~word-per-64-grams popcount, so the honest
    * all-pairs-within-block work runs at memory bandwidth with NO shuffle
    * beyond the one groupByKey on the block — the same shape as
    * [[VectorOps.blockedCosinePairs]]. Length and overlap prefilters are
    * applied in-kernel with the same epsilon guards as the PPJoin plan
    * (conservative, then verified exactly), so all three branches return
    * identical rows.
    */
  /** Docs per chunk in the chunked all-pairs kernel. A (chunk-i,
    * chunk-j) pair is one task of at most ChunkTarget² candidate pairs —
    * bounded single-task work regardless of block size, so a large block
    * scales OUT across executors instead of serializing in one task.
    */
  private val BitsetChunkTarget = 16384L

  private def bitsetPairRows(grams: DataFrame, idCol: String,
      blockCol: String, vocab: Array[String],
      minOverlap: (Int, Int) => Int, lengthOk: (Int, Int) => Boolean,
      breakOnLengthFail: Boolean, chunkTarget: Long,
      sizes: Map[String, Long]) = {
    val spark = grams.sparkSession
    import spark.implicits._
    val nWords = (vocab.length + 63) >>> 6
    val bIndex = spark.sparkContext.broadcast(vocab.zipWithIndex.toMap)
    // per-block chunk counts from the dispatch's measured block sizes
    val chunksOf: Map[String, Int] = sizes.map { case (b, n) =>
      b -> math.max(1, ((n + chunkTarget - 1) / chunkTarget).toInt)
    }
    val bChunks = spark.sparkContext.broadcast(chunksOf)
    val packed = grams
      .select(col(idCol).cast("long"), col(blockCol).cast("string"), col("__g"))
      .as[(Long, String, Seq[String])]
      .map { case (id, blk, gs) =>
        val bits = new Array[Long](nWords)
        val ix = bIndex.value
        gs.foreach { g => val p = ix(g); bits(p >>> 6) |= 1L << (p & 63) }
        (blk, id, bits, gs.size)
      }
    // Each doc is replicated to every (its-chunk, other-chunk) task key;
    // a pair (a, b) lands in EXACTLY one task — (blk, min(ca,cb),
    // max(ca,cb)) — so no downstream dedup is needed. Replication factor
    // is the block's chunk count (1 for blocks under ChunkTarget: the
    // single-task fast path is unchanged).
    packed
      .flatMap { case (blk, id, bits, card) =>
        val nc = bChunks.value(blk)
        val c = (java.lang.Long.hashCode(id) & 0x7fffffff) % nc
        (0 until nc).iterator.map { o =>
          (blk + ":" + math.min(c, o) + ":" + math.max(c, o), c, id, bits, card)
        }
      }
      .groupByKey(_._1)
      .flatMapGroups { (key, it) =>
        val parts = key.split(":")
        val (ci, cj) = (parts(parts.length - 2).toInt, parts.last.toInt)
        val rows = it.toArray
        if (ci == cj) {
          // intra-chunk all-pairs: card-ascending order enables the
          // length-filter break
          val a = rows.sortBy(r => (r._5, r._3))
          a.indices.iterator.flatMap { i =>
            val (_, _, ida, ba, na) = a(i)
            val out = scala.collection.mutable.ArrayBuffer
              .empty[(Long, Long, Long, Int, Int)]
            var j = i + 1
            var go = true
            while (go && j < a.length) {
              val (_, _, idb, bb, nb) = a(j) // na <= nb by sort
              if (!lengthOk(na, nb)) { if (breakOnLengthFail) go = false }
              else {
                val inter = interCount(ba, bb, nWords)
                if (inter >= minOverlap(na, nb) && inter > 0)
                  out += orient(ida, idb, inter, na, nb)
              }
              j += 1
            }
            out.iterator
          }
        } else {
          // cross-chunk: every side-i doc against every side-j doc; the
          // cheap integer length filter gates the popcount per pair (a
          // rejected pair costs two compares, so no index structure is
          // needed at ChunkTarget-bounded task sizes)
          val a = rows.filter(_._2 == ci)
          val b = rows.filter(_._2 == cj)
          a.iterator.flatMap { case (_, _, ida, ba, na) =>
            val out = scala.collection.mutable.ArrayBuffer
              .empty[(Long, Long, Long, Int, Int)]
            var j = 0
            while (j < b.length) {
              val (_, _, idb, bb, nb) = b(j)
              val lo = math.min(na, nb)
              val hi = math.max(na, nb)
              if (lengthOk(lo, hi)) {
                val inter = interCount(ba, bb, nWords)
                if (inter >= minOverlap(lo, hi) && inter > 0)
                  out += orient(ida, idb, inter, na, nb)
              }
              j += 1
            }
            out.iterator
          }
        }
      }
      .toDF("doc_a", "doc_b", "i", "na", "nb")
  }

  @inline private def interCount(a: Array[Long], b: Array[Long],
      nWords: Int): Int = {
    var inter = 0
    var w = 0
    while (w < nWords) { inter += java.lang.Long.bitCount(a(w) & b(w)); w += 1 }
    inter
  }

  @inline private def orient(ida: Long, idb: Long, inter: Int,
      na: Int, nb: Int): (Long, Long, Long, Int, Int) =
    if (ida < idb) (ida, idb, inter.toLong, na, nb)
    else (idb, ida, inter.toLong, nb, na)


  private[graft] def bitsetJaccardFrom(grams: DataFrame, idCol: String,
      blockCol: String, threshold: Double, vocab: Array[String],
      chunkTarget: Long = BitsetChunkTarget,
      sizes: Map[String, Long] = null): DataFrame =
    bitsetPairRows(grams, idCol, blockCol, vocab,
      minOverlap = (na, nb) =>
        math.ceil(threshold / (1 + threshold) * (na + nb) - 1e-9).toInt,
      lengthOk = (na, nb) => na >= math.ceil(threshold * nb - 1e-9),
      breakOnLengthFail = true, chunkTarget = chunkTarget,
      sizes = if (sizes == null) blockSizes(grams, blockCol) else sizes)
      .withColumn("jac_raw",
        col("i") * lit(1.0) / (col("na") + col("nb") - col("i")))
      .filter(col("jac_raw") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jac_raw"), 6).as("jac"))

  private[graft] def bitsetContainmentFrom(grams: DataFrame, idCol: String,
      blockCol: String, threshold: Double, vocab: Array[String],
      chunkTarget: Long = BitsetChunkTarget,
      sizes: Map[String, Long] = null): DataFrame =
    bitsetPairRows(grams, idCol, blockCol, vocab,
      // containment has no lossless length-ratio filter (see
      // containmentJoin scaladoc); weakest pair requirement is
      // i >= ceil(t * min(na, nb))
      minOverlap = (na, nb) =>
        math.ceil(threshold * math.min(na, nb) - 1e-9).toInt,
      lengthOk = (_, _) => true,
      breakOnLengthFail = false, chunkTarget = chunkTarget,
      sizes = if (sizes == null) blockSizes(grams, blockCol) else sizes)
      .withColumn("c_ab", col("i") * lit(1.0) / col("na"))
      .withColumn("c_ba", col("i") * lit(1.0) / col("nb"))
      .filter(col("c_ab") >= threshold || col("c_ba") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("c_ab"), 6).as("c_ab"), round(col("c_ba"), 6).as("c_ba"))

  private def ppjoinFrom(grams: DataFrame, idCol: String, blockCol: String,
      threshold: Double): DataFrame = {
    val e = grams.select(col(idCol), col(blockCol), explode(col("__g")).as("x"))
    // Document frequency per gram: map-side partial agg absorbs hot grams,
    // and the e⋈dfreq join is 1:1 per gram (AQE skew-split safe). No
    // broadcast hint — at corpus scale the gram dictionary outgrows any
    // broadcast budget; Catalyst still broadcasts it when it is small.
    val dfreq = e.groupBy("x").agg(count(lit(1)).as("df"))
    val prefix = e.join(dfreq, "x")
      .groupBy(col(idCol), col(blockCol))
      .agg(sort_array(collect_list(struct(col("df"), col("x")))).as("sg"))
      .withColumn("n", size(col("sg")))
      // same epsilon as containmentPrefixFrom: float noise can push
      // n*threshold ABOVE an exact integer (20*0.55 = 11.000000000000002),
      // ceil-ing one higher and shortening the prefix by one — a lossy
      // prune; rounding down only lengthens the prefix, staying lossless
      .withColumn("plen",
        greatest(
          (col("n") - ceil(col("n") * threshold - lit(1e-9)) + 1).cast("int"),
          lit(1)))
      .select(col(idCol), col(blockCol), col("n"),
        posexplode(transform(slice(col("sg"), lit(1), col("plen")),
          s => s.getField("x"))).as(Seq("pos", "x")))
    trackCache(prefix)
    // required overlap for Jaccard >= t; the tiny epsilon keeps float
    // noise in t*(na+nb)/(1+t) from ceil-ing past an exact integer bound
    // (which would prune a valid pair — must stay lossless)
    val alpha = ceil((col("l.n") + col("r.n")) * threshold / (1 + threshold)
      - lit(1e-9))
    val cand = prefix.as("l").join(prefix.as("r"),
      col(s"l.$blockCol") === col(s"r.$blockCol") && col("l.x") === col("r.x") &&
        col(s"l.$idCol") < col(s"r.$idCol") &&
        least(col("l.n"), col("r.n")) >=
          ceil(greatest(col("l.n"), col("r.n")) * threshold - lit(1e-9)) &&
        (col("l.n") - col("l.pos")) >= alpha &&
        (col("r.n") - col("r.pos")) >= alpha)
      .select(col(s"l.$idCol").as("doc_a"), col(s"r.$idCol").as("doc_b"))
      .distinct()
    cand
      .join(grams.select(col(idCol).as("doc_a"), col("__g").as("ga")), "doc_a")
      .join(grams.select(col(idCol).as("doc_b"), col("__g").as("gb")), "doc_b")
      .withColumn("jac_raw", jaccard(col("ga"), col("gb")))
      .filter(col("jac_raw") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jac_raw"), 6).as("jac"))
  }

  /** Inverted-index count-join: explode grams, self-join on
    * (block, gram-hash, gram), count shared grams per pair, Jaccard from
    * set sizes. On a Zipf-tailed corpus the hot grams make this a skew
    * bomb — but on a DENSE vocabulary (every gram frequent, df roughly
    * uniform) the join load is even and it beats prefix filtering, which
    * can't prune when no gram is rare. The raw gram stays in the join key
    * (the xxhash64 is only a cheap leading comparison), so equality is
    * strict — a 64-bit hash collision cannot inflate the shared-gram
    * count, and the output equals PPJoin's exactly.
    */
  private def countJoinFrom(grams: DataFrame, idCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    val e = grams
      .select(col(idCol), col(blockCol), size(col("__g")).as("n"),
        explode(col("__g")).as("x"))
      .select(col(idCol), col(blockCol), col("n"), col("x"),
        xxhash64(col("x")).as("xh"))
    // length filter (lossless): jac >= t forces t*max(na,nb) <= min(na,nb)
    val inter = e.as("a")
      .join(e.as("b").hint("shuffle_hash"),
        col(s"a.$blockCol") === col(s"b.$blockCol") &&
          col("a.xh") === col("b.xh") && col("a.x") === col("b.x") &&
          col(s"a.$idCol") < col(s"b.$idCol") &&
          least(col("a.n"), col("b.n")) >=
            ceil(greatest(col("a.n"), col("b.n")) * threshold - lit(1e-9)))
      .groupBy(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .agg(count(lit(1)).as("i"), first(col("a.n")).as("na"),
        first(col("b.n")).as("nb"))
    inter
      .withColumn("jac_raw",
        col("i") * lit(1.0) / (col("na") + col("nb") - col("i")))
      .filter(col("jac_raw") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jac_raw"), 6).as("jac"))
  }

  /** Which exact-similarity kernel [[similarityJoin]]/[[containmentJoin]]
    * chose, with the measured evidence — the dispatch decision made
    * inspectable code, mirroring [[TopKDispatch.Decision]] (round-11
    * verdict task 2). `kernel` is one of bitset | count | ppjoin |
    * lsh-verify | refused; read the last decision via
    * [[lastSimilarityDecision]].
    */
  final case class SimilarityDecision(
      kernel: String,
      avgDf: Double,
      vocab: Long, // HLL-estimated distinct grams
      maxBlock: Long, // -1 when block sizes were not measured
      blockCap: Long,
      aboveCap: String) // the caller's above-cap policy

  private val lastSimDecision =
    new ThreadLocal[SimilarityDecision]()
  /** The decision recorded by the most recent similarity/containment
    * dispatch on THIS THREAD (observability + specs, like TopKDispatch's
    * returned Decision — the join signatures stay DataFrame-valued so the
    * 300-row board's call sites don't all grow a tuple). Thread-local so
    * the concurrent board cannot observe another join's decision; a reader
    * on a different thread than the dispatch sees None.
    */
  def lastSimilarityDecision: Option[SimilarityDecision] =
    Option(lastSimDecision.get)

  private def recordSim(d: SimilarityDecision): Unit =
    lastSimDecision.set(d)

  /** Above-cap policies for the dense-small-vocabulary regime. */
  val AboveCapRefuse = "refuse"
  val AboveCapLsh = "lsh"
  val AboveCapForceExact = "force-exact"

  private def refuseAboveCap(what: String, maxBlock: Long,
      blockCap: Long): Nothing =
    throw new IllegalStateException(
      s"$what: largest block holds $maxBlock docs over a dense small-gram " +
      s"vocabulary — above the exact all-pairs cap ($blockCap). " +
      "PPJoin/count-join melt in this regime (no rare grams to prune on), " +
      "so exact output at this scale is a deliberate non-goal. Use the " +
      "scale path: lshCandidatePairs + exact per-pair verify (recall < 1, " +
      "quantified by dd_lsh_recall/dd_dup_rate_curve_lsh) via " +
      s"aboveCap = \"$AboveCapLsh\", or force the melting exact plan " +
      s"explicitly via aboveCap = \"$AboveCapForceExact\".")

  /** LSH-banded candidates + exact row-local Jaccard verify, restricted to
    * same-block pairs — the scale rendering of the exact join (recall < 1:
    * only pairs sharing a MinHash band are candidates). Bounded candidate
    * mass instead of quadratic; the same shape `dd_dup_rate_curve_lsh`
    * ships and quantifies (recall 1.0 at t >= 0.8 on the fixture corpus).
    */
  private def lshVerifiedJaccard(docs: DataFrame, grams: DataFrame,
      idCol: String, blockCol: String, textCol: String,
      shingleSize: Int, threshold: Double): DataFrame = {
    val cand = lshCandidatePairs(docs, idCol, textCol, shingleSize)
    cand
      .join(grams.select(col(idCol).as("doc_a"), col(blockCol).as("__ba"),
        col("__g").as("__ga")), "doc_a")
      .join(grams.select(col(idCol).as("doc_b"), col(blockCol).as("__bb"),
        col("__g").as("__gb")), "doc_b")
      .filter(col("__ba") === col("__bb"))
      .withColumn("jac_raw", jaccard(col("__ga"), col("__gb")))
      .filter(col("jac_raw") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jac_raw"), 6).as("jac"))
  }

  /** LSH-banded candidates + exact row-local containment verify (same
    * recall caveat as [[lshVerifiedJaccard]]).
    */
  private def lshVerifiedContainment(docs: DataFrame, grams: DataFrame,
      idCol: String, blockCol: String, textCol: String,
      shingleSize: Int, threshold: Double): DataFrame = {
    val cand = lshCandidatePairs(docs, idCol, textCol, shingleSize)
    cand
      .join(grams.select(col(idCol).as("doc_a"), col(blockCol).as("__ba"),
        col("__g").as("__ga")), "doc_a")
      .join(grams.select(col(idCol).as("doc_b"), col(blockCol).as("__bb"),
        col("__g").as("__gb")), "doc_b")
      .filter(col("__ba") === col("__bb"))
      .withColumn("__i", size(array_intersect(col("__ga"), col("__gb"))))
      .withColumn("c_ab", col("__i") * lit(1.0) / size(col("__ga")))
      .withColumn("c_ba", col("__i") * lit(1.0) / size(col("__gb")))
      .filter(col("c_ab") >= threshold || col("c_ba") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("c_ab"), 6).as("c_ab"), round(col("c_ba"), 6).as("c_ba"))
  }

  /** The single dispatch path shared by [[similarityJoin]] and
    * [[containmentJoin]] — the regimes, the measured evidence, the
    * above-cap policy, and the [[SimilarityDecision]] recording live HERE
    * so the two public joins can never fork their dispatch semantics by a
    * one-sided edit (round-13 kernel review: the block was duplicated
    * verbatim except for the four kernel calls). The kernels arrive as
    * thunks; only the chosen one is built.
    */
  private def dispatchExactSimilarity(
      what: String,
      grams: DataFrame,
      blockCol: String,
      denseVocabAvgDf: Double,
      smallVocabBitset: Boolean,
      aboveCap: String,
      blockCap: Long,
      bitsetK: (Array[String], Map[String, Long]) => DataFrame,
      countK: () => DataFrame,
      ppjoinK: () => DataFrame,
      lshK: () => DataFrame): DataFrame = {
    val st = grams
      .select(explode(col("__g")).as("x"))
      .agg(count(lit(1)).as("tot"), approx_count_distinct(col("x")).as("nd"))
      .head()
    val avgDf = st.getLong(0).toDouble / math.max(st.getLong(1), 1L)
    val nd = st.getLong(1)
    def decide(kernel: String, maxBlock: Long) = recordSim(
      SimilarityDecision(kernel, avgDf, nd, maxBlock, blockCap, aboveCap))
    def exactLarge(maxBlock: Long): DataFrame =
      if (avgDf >= denseVocabAvgDf) {
        decide("count", maxBlock)
        countK()
      } else {
        decide("ppjoin", maxBlock)
        ppjoinK()
      }
    val bitVocab =
      if (smallVocabBitset) smallVocab(grams, nd) else None
    bitVocab match {
      case Some(v) =>
        val sizes = blockSizes(grams, blockCol)
        val maxBlock = sizes.valuesIterator.max
        if (maxBlock <= blockCap) {
          decide("bitset", maxBlock)
          bitsetK(v, sizes)
        } else aboveCap match {
          case AboveCapLsh =>
            decide("lsh-verify", maxBlock)
            lshK()
          case AboveCapForceExact => exactLarge(maxBlock)
          case _ =>
            decide("refused", maxBlock)
            refuseAboveCap(what, maxBlock, blockCap)
        }
      case _ => exactLarge(-1L)
    }
  }

  /** Exact Jaccard self-join with plan dispatch on measured vocabulary
    * density: one cheap pass (count + HLL distinct over the exploded
    * grams) gives the average gram document frequency. A Zipf-tailed
    * corpus (avg df below `denseVocabAvgDf`) takes the PPJoin
    * prefix-filter plan — the candidate shuffle lands only on rare grams.
    * A dense vocabulary (no rare grams to prune on, join load uniform)
    * takes the inverted-index count-join. Both are lossless, so the
    * dispatch never changes the result — only the shuffle shape.
    *
    * Above-cap contract (round-11 verdict task 2): when the vocabulary is
    * dense-small (the bitmap regime) but a block exceeds [[BitsetMaxBlock]],
    * no exact plan survives — the bitmap cap exists to bound total
    * quadratic work and PPJoin/count-join melt without rare grams. The
    * dispatch REFUSES by default with the LSH-twin recommendation instead
    * of silently changing regime; `aboveCap = "lsh"` opts into banded
    * candidates + exact per-pair verify (recall < 1), `"force-exact"`
    * keeps the old fallback for callers who accept the melt. Every call
    * records a [[SimilarityDecision]].
    */
  def similarityJoin(docs: DataFrame, idCol: String, blockCol: String,
      textCol: String, shingleSize: Int, threshold: Double,
      denseVocabAvgDf: Double = 64.0,
      smallVocabBitset: Boolean = true,
      aboveCap: String = AboveCapRefuse,
      // parameter, not mutable state: SimilarityDispatchSpec shrinks the
      // cap to exercise the above-cap policies on a unit-test corpus (a
      // test-seam var would be JVM-global mutable dispatch behavior)
      blockCap: Long = BitsetMaxBlock): DataFrame = {
    val grams = shingled(docs, idCol, blockCol, textCol, shingleSize)
    dispatchExactSimilarity("similarityJoin", grams, blockCol,
      denseVocabAvgDf, smallVocabBitset, aboveCap, blockCap,
      bitsetK = (v, sizes) =>
        bitsetJaccardFrom(grams, idCol, blockCol, threshold, v, sizes = sizes),
      countK = () => countJoinFrom(grams, idCol, blockCol, threshold),
      ppjoinK = () => ppjoinFrom(grams, idCol, blockCol, threshold),
      lshK = () => lshVerifiedJaccard(docs, grams, idCol, blockCol, textCol,
        shingleSize, threshold))
  }

  /** Exact asymmetric-containment self-join: pairs where
    * `|A∩B| / |A| >= t` or `|A∩B| / |B| >= t` over distinct shingle sets
    * — the quote/subset detector Jaccard misses (a short doc embedded in
    * a long one has low Jaccard but containment ≈ 1). Output:
    * (doc_a, doc_b, c_ab, c_ba), ids ordered, ratios rounded to 6.
    *
    * Same density dispatch as [[similarityJoin]], because the same two
    * regimes exist: a dense vocabulary (no rare grams) takes the
    * inverted-index count-join; a Zipf-tailed corpus takes the
    * prefix-filter plan. Containment admits NO lossless length-ratio
    * filter (the predicate can be satisfied through the smaller side
    * alone, so a tiny doc inside a huge one passes at any size ratio),
    * but the per-side prefix filter survives: if `c_ab >= t` then
    * `|A∩B| >= ceil(t·na)`, and A's df-ascending suffix of length
    * `ceil(t·na) - 1` cannot hold them all — at least one shared gram
    * sits in A's first `na - ceil(t·na) + 1` grams. So a prefix-side ×
    * full-side join over the disjunction of both directions is lossless,
    * and each surviving candidate pair is verified exactly with one
    * row-local `array_intersect` over the cached gram arrays.
    */
  def containmentJoin(docs: DataFrame, idCol: String, blockCol: String,
      textCol: String, shingleSize: Int, threshold: Double,
      denseVocabAvgDf: Double = 64.0,
      smallVocabBitset: Boolean = true,
      aboveCap: String = AboveCapRefuse,
      blockCap: Long = BitsetMaxBlock): DataFrame = {
    val grams = shingled(docs, idCol, blockCol, textCol, shingleSize)
    dispatchExactSimilarity("containmentJoin", grams, blockCol,
      denseVocabAvgDf, smallVocabBitset, aboveCap, blockCap,
      bitsetK = (v, sizes) =>
        bitsetContainmentFrom(grams, idCol, blockCol, threshold, v,
          sizes = sizes),
      countK = () => containmentCountFrom(grams, idCol, blockCol, threshold),
      ppjoinK = () => containmentPrefixFrom(grams, idCol, blockCol, threshold),
      lshK = () => lshVerifiedContainment(docs, grams, idCol, blockCol,
        textCol, shingleSize, threshold))
  }

  /** Inverted-index count-join for containment (dense-vocabulary path):
    * count shared grams per pair, then the pair-level threshold
    * `i >= ceil(t·min(na,nb))` — the only lossless pair filter that
    * exists before knowing which side is the smaller one.
    */
  private[graft] def containmentCountFrom(grams: DataFrame, idCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    val e = grams
      .select(col(idCol), col(blockCol), size(col("__g")).cast("long").as("n"),
        explode(col("__g")).as("x"))
      .select(col(idCol), col(blockCol), col("n"), col("x"),
        xxhash64(col("x")).as("xh"))
    e.as("a")
      .join(e.as("b").hint("shuffle_hash"),
        col(s"a.$blockCol") === col(s"b.$blockCol") &&
          col("a.xh") === col("b.xh") && col("a.x") === col("b.x") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .agg(count(lit(1)).as("i"), first(col("a.n")).as("na"),
        first(col("b.n")).as("nb"))
      .filter(col("i") >= ceil(least(col("na"), col("nb")) * threshold - lit(1e-9)))
      .withColumn("c_ab", col("i") * lit(1.0) / col("na"))
      .withColumn("c_ba", col("i") * lit(1.0) / col("nb"))
      .filter(col("c_ab") >= threshold || col("c_ba") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("c_ab"), 6).as("c_ab"), round(col("c_ba"), 6).as("c_ba"))
  }

  /** Prefix-filtered containment (Zipf-vocabulary path): per doc, sort
    * grams by ascending document frequency and keep the first
    * `n - ceil(t·n) + 1` as the prefix (lossless for that doc being the
    * contained side — see containmentJoin scaladoc). A qualifying pair
    * must match prefix(A)×full(B) or prefix(B)×full(A); one
    * prefix-side × full-side join covers both orientations, so the
    * candidate shuffle carries ~(1-t) of the occurrence load on the
    * prefix side. Candidates are verified exactly row-local.
    */
  private[graft] def containmentPrefixFrom(grams: DataFrame, idCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    val e = grams.select(col(idCol), col(blockCol), explode(col("__g")).as("x"))
    val dfreq = e.groupBy("x").agg(count(lit(1)).as("df"))
    val pref = e.join(dfreq, "x")
      .groupBy(col(idCol), col(blockCol))
      .agg(sort_array(collect_list(struct(col("df"), col("x")))).as("sg"))
      .withColumn("n", size(col("sg")))
      // epsilon guards the exact-integer boundary; rounding DOWN the
      // required overlap only lengthens the prefix — stays lossless
      .withColumn("plen",
        greatest((col("n") - ceil(col("n") * threshold - lit(1e-9)) + 1).cast("int"),
          lit(1)))
      .select(col(idCol), col(blockCol),
        explode(transform(slice(col("sg"), lit(1), col("plen")),
          s => s.getField("x"))).as("x"))
    trackCache(pref)
    val cand = pref.as("l").join(e.as("r").hint("shuffle_hash"),
        col(s"l.$blockCol") === col(s"r.$blockCol") && col("l.x") === col("r.x") &&
          col(s"l.$idCol") =!= col(s"r.$idCol"))
      .select(least(col(s"l.$idCol"), col(s"r.$idCol")).as("doc_a"),
        greatest(col(s"l.$idCol"), col(s"r.$idCol")).as("doc_b"))
      .distinct()
    cand
      .join(grams.select(col(idCol).as("doc_a"), col("__g").as("ga")), "doc_a")
      .join(grams.select(col(idCol).as("doc_b"), col("__g").as("gb")), "doc_b")
      .withColumn("i", size(array_intersect(col("ga"), col("gb"))).cast("long"))
      .withColumn("c_ab", col("i") * lit(1.0) / size(col("ga")))
      .withColumn("c_ba", col("i") * lit(1.0) / size(col("gb")))
      .filter(col("c_ab") >= threshold || col("c_ba") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("c_ab"), 6).as("c_ab"), round(col("c_ba"), 6).as("c_ba"))
  }

  /** LSH candidate pairs: self-join per (band, band-hash). The ONLY
    * shuffle is the band self-join — signatures come from the native
    * minhash_sig expression, which computes all k per-seed mins in one
    * codegen'd projection. (Round 2 exploded shingles and hash-aggregated
    * per (doc, seed): correct, but its shuffle carried k × |shingles|
    * rows through the one stage that touches every document. Round 1's
    * transform+array_min lambda rendering was worse still — interpreted
    * and GC-heavy.) Hashes are identical in all renderings, so the SQL
    * oracle recomputes the same buckets.
    */
  /** (id, band, bh) banded MinHash signature rows — the LSH index table.
    * Shared by the self-join candidate generator below and the
    * incremental (new-batch vs corpus) probe in dd_incremental: at scale
    * the corpus side is a persisted index that new batches join against,
    * so the banding must be one deterministic function of the text.
    */
  def bandedSignatures(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, k: Int = 8, bands: Int = 4): DataFrame = {
    require(k == bands * 2, "this implementation uses 2 signature rows per band")
    val sig = docs
      .withColumn("__toks", tokens(col(textCol)))
      .filter(size(col("__toks")) >= shingleSize)
      .withColumn("__sig", graft.functions.GraftFunctions.minhash_sig(
        shingles(col("__toks"), shingleSize), lit(k)))
    val bandCols = (0 until bands).map { b =>
      md5(concat(element_at(col("__sig"), b * 2 + 1),
        element_at(col("__sig"), b * 2 + 2)))
    }
    // tracked-cached: this IS the LSH index table. Within one query it
    // feeds both sides of the candidate self-join; across the board the
    // LRU registry + CacheManager plan-matching let every query built on
    // the same corpus (dd_minhash_lsh, dd_clusters, dd_keep_policy,
    // dd_edit_verify, the dd_incremental corpus side) read the live
    // blocks instead of re-deriving the signatures — exactly the
    // persisted-index shape a 100 TB deployment has.
    trackCache(sig.select(col(idCol),
      posexplode(array(bandCols: _*)).as(Seq("band", "bh"))))
  }

  def lshCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, k: Int = 8, bands: Int = 4): DataFrame = {
    val banded = bandedSignatures(docs, idCol, textCol, shingleSize, k, bands)
    // Native bucket-run operator (round-9 verdict task 5,
    // org.apache.spark.sql.graft.LshSelfJoinExec): one clustering shuffle
    // of ONE copy of the banded table and direct upper-triangle pair
    // emission per bucket run, replacing the (band, bh) self-equi-join
    // that shuffled the table twice and built a per-partition hash table.
    // The deduplicated candidate-pair set is shared verbatim by the
    // clustering / keep-policy / edit-verify stages downstream.
    trackCache(org.apache.spark.sql.graft.LshSelfJoin
      .candidatePairs(banded, idCol, "band", "bh")
      .distinct())
  }

  /** The compositional rendering of [[lshCandidatePairs]] — kept as the
    * independent cross-check the LshSelfJoinSpec parity-pins the native
    * operator against (and the form an engine without the strategy
    * registration would run).
    */
  def lshCandidatePairsJoin(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, k: Int = 8, bands: Int = 4): DataFrame = {
    val banded = bandedSignatures(docs, idCol, textCol, shingleSize, k, bands)
    val l = banded.as("l")
    val r = banded.as("r")
    l.join(r,
      col("l.band") === col("r.band") && col("l.bh") === col("r.bh") &&
        col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("doc_a"), col(s"r.$idCol").as("doc_b"))
      .distinct()
  }
}

/** Row carrier for the blocked cosine kernel (top-level: Dataset encoders
  * can't reach nested classes from generated code).
  */
case class EmbBlockRow(id: Long, block: String, vec: Array[Float])

/** Embedding-vector similarity: cosine over Array[Float] columns, built
  * from zip_with/aggregate (codegen'd, no UDF). The scale path is
  * [[buckets]]: random-hyperplane LSH so ANN probes only touch one bucket.
  */
object VectorOps {

  /** Plan-time refusal for id columns a downstream kernel casts to long:
    * TopKDispatch.normalized (and the =!= qid filters) silently DROP
    * cast-null ids, so a string-typed id would return an empty/partial
    * result with no error — the exact silent-filter class the round-12
    * knnGraph guard was added for; round 13 extends it to every ANN
    * entry point that casts an id (kernel review finding).
    */
  private[graft] def requireNumericId(df: DataFrame, idCol: String,
      what: String): Unit =
    df.schema(idCol).dataType match {
      case _: org.apache.spark.sql.types.NumericType => ()
      case other => throw new IllegalArgumentException(
        s"$what: $idCol must be numeric (castable to long), got $other" +
        " — map string ids to a dense numeric id first")
    }

  /** Per-query top-k by ASCENDING distance through the native TopKAgg
    * rendering. The group key is the query id of a driver-side query
    * array — fixed-cardinality BY CONSTRUCTION, so the regime decision is
    * static: a ranking window would sort the corpus-scale scored rows
    * into #queries partitions no matter the cluster size (the project's
    * documented recurring scale-bug class; same reasoning as
    * Ranks.bucketedRank). TopKAgg ranks value DESC, so the distance is
    * negated in and re-negated out — exact for every finite double, with
    * `+ 0.0` re-normalizing the -0.0 case — and the (dist ASC, id ASC)
    * tie-break is preserved as (-dist DESC, id ASC). k beyond
    * [[org.apache.spark.sql.graft.TopKAgg.MaxK]] (the exhaustive-ranking
    * shape the cross-check specs use) takes the window rendering — both
    * renderings share [[TopKDispatch]]'s normalized input contract, so
    * the flip never changes answers, only the plan.
    */
  private def topKByDistAsc(scored: DataFrame, qidCol: String,
      distCol: String, idCol: String, k: Int): DataFrame = {
    val negd = scored.withColumn("__negd", negate(col(distCol)))
    val ranked =
      if (k <= org.apache.spark.sql.graft.TopKAgg.MaxK)
        TopKDispatch.renderNative(negd, Seq(qidCol), "__negd", idCol, k)
      else
        TopKDispatch.renderWindow(negd, Seq(qidCol), "__negd", idCol, k)
    ranked.select(col(qidCol), col(idCol).as("vec_id"), col("rn"),
      (negate(col("__negd")) + lit(0.0)).as(distCol))
  }

  /** Double-precision dot product in ascending index order — the same
    * accumulation order as [[dot]]'s aggregate(zip_with(..)) rendering,
    * so both paths produce bit-identical sums.
    */
  private def dotJvm(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** HALF_UP rounding identical to Spark's `round(col, 6)` (Round uses
    * BigDecimal.valueOf on the double).
    */
  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** All-pairs cosine within label blocks as a blocked JVM kernel: one
    * shuffle on the block key, then primitive-float-array upper-triangle
    * dot products per block — no interpreted per-pair lambda trees. The
    * per-block working set is O(block size × dims) floats; blocks are the
    * unit of pair enumeration by design, so they are bounded (a corpus
    * whose blocks outgrow executor memory needs a finer blocking key, not
    * a different kernel). Result is bit-identical to the
    * aggregate(zip_with) rendering: same accumulation order, same
    * HALF_UP rounding.
    */
  /** Docs per chunk for the cosine kernel's chunk-pair tasks: 8192² ≈
    * 34M dot products a task at 64 dims — a few seconds of bounded work.
    */
  private val CosineChunkTarget = 8192L

  def blockedCosinePairs(vectors: DataFrame, idCol: String, blockCol: String,
      vecCol: String, minCosine: Double,
      chunkTarget: Long = CosineChunkTarget): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    // per-block chunk counts: like the bitset kernel, a large block is
    // parallelized into (chunk, chunk) PAIR tasks — every pair lands in
    // exactly one task, so a 200k-vector cluster spreads its quadratic
    // work across the cluster instead of serializing in one task.
    // Fast path first: a metadata-cheap count() decides whether ANY
    // block can exceed chunkTarget before paying the per-block agg
    // (a fixture-scale corpus skips both the agg and the key strings).
    val chunksOf: Map[String, Int] =
      if (vectors.count() <= chunkTarget) Map.empty.withDefaultValue(1)
      else vectors
        .groupBy(col(blockCol).cast("string").as("b"))
        .agg(count(lit(1)).as("c")).collect()
        .map(r => r.getString(0) ->
          math.max(1, ((r.getLong(1) + chunkTarget - 1) / chunkTarget).toInt))
        .toMap
    val bChunks = spark.sparkContext.broadcast(chunksOf)
    vectors
      .select(col(idCol).cast("long").as("id"),
        col(blockCol).cast("string").as("block"), col(vecCol).as("vec"))
      .as[EmbBlockRow]
      .flatMap { r =>
        val nc = bChunks.value(r.block)
        val c = (java.lang.Long.hashCode(r.id) & 0x7fffffff) % nc
        (0 until nc).iterator.map { o =>
          (r.block + ":" + math.min(c, o) + ":" + math.max(c, o), c, r.id, r.vec)
        }
      }
      .groupByKey(_._1)
      .flatMapGroups { (key, it) =>
        val parts = key.split(":")
        val (ci, cj) = (parts(parts.length - 2).toInt, parts.last.toInt)
        val rows = it.toArray
        // round6 (BigDecimal, ~100 ns + garbage per call) only runs for
        // pairs that can still pass after rounding (HALF_UP moves a value
        // by <= 5e-7, so unrounded >= minCosine - 1e-6 is a safe gate);
        // the cheap unrounded filter carries the block-quadratic load
        if (ci == cj) {
          val a = rows.sortBy(_._3)
          val nrm = a.map(r => math.sqrt(dotJvm(r._4, r._4)))
          for {
            i <- a.indices.iterator
            j <- (i + 1) until a.length
            u = dotJvm(a(i)._4, a(j)._4) / (nrm(i) * nrm(j))
            if u >= minCosine - 1e-6
            c = round6(u)
            if c >= minCosine
          } yield (a(i)._3, a(j)._3, c)
        } else {
          val a = rows.filter(_._2 == ci)
          val b = rows.filter(_._2 == cj)
          val na = a.map(r => math.sqrt(dotJvm(r._4, r._4)))
          val nb = b.map(r => math.sqrt(dotJvm(r._4, r._4)))
          for {
            i <- a.indices.iterator
            j <- b.indices
            u = dotJvm(a(i)._4, b(j)._4) / (na(i) * nb(j))
            if u >= minCosine - 1e-6
            c = round6(u)
            if c >= minCosine
          } yield if (a(i)._3 < b(j)._3) (a(i)._3, b(j)._3, c)
            else (b(j)._3, a(i)._3, c)
        }
      }
      .toDF("vec_a", "vec_b", "cos")
  }

  /** Dot product in double precision (sequential, deterministic order).
    * Native expression — float inputs widen to double exactly, so the
    * result is bit-identical to the aggregate(zip_with) rendering while
    * staying inside whole-stage codegen.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.vec_dot(a, b)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Deterministic pseudo-random hyperplane component for plane p, dim j:
    * md5-derived value in [-127.5, 127.5]. Reproducible anywhere — this
    * JVM version produces the exact doubles of the original column
    * rendering conv(substring(md5('plane<p>:' || j), 1, 2), 16, 10) - 127.5.
    */
  private def planeComponentJvm(p: Int, j: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"plane$p:$j".getBytes("UTF-8"))
    val hex2 = f"${d(0) & 0xff}%02x"
    Integer.parseInt(hex2, 16).toDouble - 127.5
  }

  /** IVF coarse quantization: assign every vector to its nearest centroid
    * (max cosine, lowest centroid id as tiebreaker). The centroid table is
    * tiny by construction (k inverted lists), so it is collected and
    * inlined as literal arrays: assignment is a per-row argmax over k
    * codegen'd vec_dot projections — ZERO shuffle and zero join in the one
    * stage that touches every corpus vector. (Round 2 rendered this as
    * broadcast-join × k then row_number over a per-id window, which
    * shuffled k× the corpus — the flagged scale-killer.) Each cosine uses
    * the same expression shape as [[cosine]] (dot / (|v| · |c|), centroid
    * norms precomputed with vec_dot's accumulation order), so assignments
    * are bit-identical to the join rendering. Returns the input plus a
    * `bucket` column.
    */
  /** Distributed Lloyd k-means over an embedding column — the canonical
    * Spark iterative-ML shape. Per iteration: (1) assignment is a
    * ZERO-SHUFFLE codegen projection — the k current centroids are
    * literals in a struct-min argmin expression (the [[ivfAssign]]
    * pattern), so every vector is scored in the scan stage; (2) the
    * update is ONE shuffle on (cid, dim) with map-side partial
    * aggregation, accumulating in DECIMAL(28,8) so the per-dim mean is
    * order-independent and bit-reproducible (the [[graft.queries
    * .DedupQueries]] v_centroids discipline); (3) the k x dims means
    * round-trip through the driver to become the next iteration's
    * literals — bounded state, exactly how MLlib's KMeans carries
    * centroids between iterations. Init is the first k vectors by id, so
    * the whole fit is bit-deterministic and an independent engine can
    * replay it exactly (the v_kmeans DuckDB oracle unrolls the same
    * iterations in SQL). Empty clusters keep their previous centroid.
    * At 100 TB nothing here changes: per-iteration cost is one scan +
    * one bounded shuffle, and driver state stays k x dims doubles.
    *
    * Returns the final centroid table in long form:
    * (cid, dim (1-based), mean_v, n) with n = final cluster size.
    */
  def kmeansLloyd(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    val spark = vectors.sparkSession
    val (cents, counts) = lloydCentroids(vectors, idCol, vecCol, k, iters)
    val dims = cents.head.length
    val out = for (cid <- 0 until k; d <- 1 to dims)
      yield (cid.toLong, d.toLong, cents(cid)(d - 1), counts(cid))
    import spark.implicits._
    out.toDF("cid", "dim", "mean_v", "n")
  }

  /** Lloyd iteration state: (centroids, final cluster sizes). Shared by
    * [[kmeansLloyd]] (the fit table) and the silhouette scorer (which
    * needs the raw centroid vectors as literals).
    */
  private[graft] def lloydCentroids(vectors: DataFrame, idCol: String,
      vecCol: String, k: Int, iters: Int): (Array[Array[Double]], Array[Long]) = {
    import org.apache.spark.sql.types.DecimalType
    val e = vectors.select(col(idCol).cast("long").as("__id"),
      transform(col(vecCol), x => x.cast("double")).as("__v"))
    var cents: Array[Array[Double]] = e.orderBy(col("__id")).limit(k)
      .collect().map(_.getSeq[Double](1).toArray)
    require(cents.length == k, s"need at least $k vectors")
    var counts: Array[Long] = Array.fill(k)(0L)
    for (_ <- 1 to iters) {
      val best = nearestCentroid(col("__v"), cents).getField("c")
      val means = e.withColumn("cid", best)
        .select(col("cid"), posexplode(col("__v")).as(Seq("p", "x")))
        .groupBy(col("cid"), (col("p") + 1).as("dim"))
        .agg((sum(col("x").cast(DecimalType(28, 8))).cast("double") /
          count(lit(1))).as("mean_v"), count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone())
      val cnt = Array.fill(k)(0L)
      means.foreach { r =>
        val cid = r.getInt(0)
        next(cid)(r.getInt(1) - 1) = r.getDouble(2)
        cnt(cid) = r.getLong(3)
      }
      cents = next
      counts = cnt
    }
    (cents, counts)
  }

  /** struct(dist, cid) argmin over literal centroids: squared-L2 folded
    * in ascending index order (the same fold the SQL oracles' list_sum
    * comprehension runs, so distances are bit-identical and the
    * (dist, cid) struct-min picks the same cell), ties to the lowest cid.
    */
  private[graft] def nearestCentroid(v: Column,
      cents: Array[Array[Double]]): Column = {
    val scored = cents.zipWithIndex.map { case (cv, cid) =>
      struct(sqDist(v, cv).as("d"), lit(cid).as("c"))
    }
    if (scored.length == 1) scored.head else least(scored.toIndexedSeq: _*)
  }

  /** sum_i v_i * c_i against a literal vector, ascending index (the
    * same fold the SQL oracles' list_sum comprehension runs, so dot
    * products are bit-identical). Native VecDot (round-15): the old
    * aggregate(zip_with) rendering is CodegenFallback — an interpreted
    * per-row lambda tree per centroid per subspace in every ANN scoring
    * pass; the native fold is the identical IEEE sum inside whole-stage
    * codegen.
    */
  private[graft] def dotLit(v: Column, cv: Array[Double]): Column = {
    val cLit = array(cv.toIndexedSeq.map(lit(_)): _*)
    graft.functions.GraftFunctions.vec_dot(v, cLit)
  }

  /** Maximal-marginal-relevance selection (Carbonell & Goldstein 1998)
    * — the diverse-subset pick a training-data or RAG pipeline runs
    * after retrieval: greedily select k vectors maximizing
    * `0.7 * cos(v, query) - 0.3 * max_{s in selected} cos(v, s)`,
    * ties to the lowest id. Each step is one scan with the query and
    * the selected vectors as LITERALS (zero shuffle — the kmeansLloyd
    * posture) plus a 1-row argmax round-trip; driver state is
    * O(k * dims). Relevance is computed once and tracked-cached; dot
    * products fold ascending so the SQL oracle replays the scores
    * bit-exactly. Returns (step, vec_id, score round6).
    */
  def mmrSelect(vectors: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int): DataFrame = {
    val spark = vectors.sparkSession
    val e = vectors.select(col(idCol).cast("long").as("__id"),
      transform(col(vecCol), x => x.cast("double")).as("__v"))
    val n = e.withColumn("__nrm",
      sqrt(graft.functions.GraftFunctions.vec_dot(col("__v"), col("__v"))))
    val qRow = n.filter(col("__id") === queryId).head()
    val qv = qRow.getSeq[Double](1).toArray
    val qn = qRow.getDouble(2)
    val r = TextOps.trackCache(n.filter(col("__id") =!= queryId)
      .withColumn("__rel", dotLit(col("__v"), qv) / (col("__nrm") * lit(qn))))
    val selected = scala.collection.mutable.ArrayBuffer[(Long, Array[Double], Double)]()
    val out = Seq.newBuilder[(Int, Long, Double)]
    for (step <- 1 to k) {
      val penalty =
        if (selected.isEmpty) lit(0.0)
        else {
          val coss = selected.map { case (_, sv, sn) =>
            dotLit(col("__v"), sv) / (col("__nrm") * lit(sn))
          }
          if (coss.length == 1) coss.head else greatest(coss.toIndexedSeq: _*)
        }
      val pool =
        if (selected.isEmpty) r
        else r.filter(!col("__id").isInCollection(selected.map(_._1)))
      val top = pool
        .withColumn("__score", lit(0.7) * col("__rel") - lit(0.3) * penalty)
        .orderBy(col("__score").desc, col("__id"))
        .limit(1).select("__id", "__v", "__nrm", "__score").head()
      selected += ((top.getLong(0), top.getSeq[Double](1).toArray, top.getDouble(2)))
      out += ((step, top.getLong(0), top.getDouble(3)))
    }
    import spark.implicits._
    out.result().toDF("step", "vec_id", "raw")
      .select(col("step"), col("vec_id"), round(col("raw"), 6).as("score"))
  }

  /** sum_i (v_i - c_i)^2 against a literal centroid, ascending index.
    * Native VecSqDist (round-15): same IEEE fold as the old
    * aggregate(zip_with) rendering, but inside whole-stage codegen
    * instead of an interpreted CodegenFallback lambda per row per
    * centroid (see dotLit).
    */
  private[graft] def sqDist(v: Column, cv: Array[Double]): Column = {
    val cLit = array(cv.toIndexedSeq.map(lit(_)): _*)
    graft.functions.GraftFunctions.vec_sqdist(v, cLit)
  }

  /** Product-quantization codebook state: m independent per-subspace
    * Lloyd fits (k codes each) over the corpus, the compression stage of
    * IVF-PQ ANN (Jégou et al., "Product Quantization for Nearest
    * Neighbor Search", TPAMI 2011 — public literature). Init per
    * subspace is the first k vectors' subvectors (by id), assignment is
    * the (dist, code) struct-min with ties to the lowest code, the mean
    * update accumulates through DECIMAL(28,8) — all bit-replayable by an
    * independent engine (the v_pq DuckDB oracle unrolls the same
    * iteration), exactly the [[lloydCentroids]] discipline. Empty codes
    * keep their previous centroid.
    *
    * Scale shape: one scan per iteration (all m subspaces scored in the
    * same pass — the explode is over m structs per row, not m scans) +
    * one shuffle onto the bounded (s, code, dim) key space (m×k×d rows).
    * Driver state is m×k×(dims/m) doubles = k×dims, same as plain Lloyd.
    * At 100 TB the codes table this trains against is m bytes/vector —
    * a 32× compression of float32 embeddings, which is why PQ is the
    * standard billion-vector ANN representation.
    *
    * Returns (codebook(s)(code) = subvector centroid, counts(s)(code)).
    */
  private[graft] def pqState(vectors: DataFrame, idCol: String,
      vecCol: String, m: Int, k: Int, iters: Int,
      // optional pre-collected init (the first k vectors by id, already
      // cast to double): callers that ALSO collect the query vectors from
      // the same corpus can serve both from one driver round-trip instead
      // of two sequential jobs (round-15, the ANN job-fusion task) —
      // bit-identical because the init definition is unchanged
      initRows: Array[Array[Double]] = null)
      : (Array[Array[Array[Double]]], Array[Array[Long]]) = {
    import org.apache.spark.sql.types.DecimalType
    val e = vectors.select(col(idCol).cast("long").as("__id"),
      transform(col(vecCol), x => x.cast("double")).as("__v"))
    val init: Array[Array[Double]] =
      if (initRows != null) initRows.take(k)
      else e.orderBy(col("__id")).limit(k)
        .collect().map(_.getSeq[Double](1).toArray)
    require(init.length == k, s"need at least $k vectors")
    val dims = init.head.length
    require(dims % m == 0, s"dims $dims not divisible by m=$m")
    val d = dims / m
    var cb: Array[Array[Array[Double]]] =
      Array.tabulate(m, k)((s, c) => init(c).slice(s * d, s * d + d))
    var counts: Array[Array[Long]] = Array.fill(m, k)(0L)
    for (_ <- 1 to iters) {
      val subCols = (0 until m).map { s =>
        val sv = slice(col("__v"), s * d + 1, d)
        struct(lit(s).as("s"),
          nearestCentroid(sv, cb(s)).getField("c").as("code"), sv.as("sv"))
      }
      val stats = e.select(explode(array(subCols: _*)).as("t"))
        .select(col("t.s"), col("t.code"), posexplode(col("t.sv")).as(Seq("p", "x")))
        .groupBy(col("s"), col("code"), (col("p") + 1).as("dim"))
        .agg((sum(col("x").cast(DecimalType(28, 8))).cast("double") /
          count(lit(1))).as("mv"), count(lit(1)).as("n"))
        .collect()
      val next = cb.map(_.map(_.clone()))
      val cnt = Array.fill(m, k)(0L)
      stats.foreach { r =>
        val s = r.getInt(0); val c = r.getInt(1)
        next(s)(c)(r.getInt(2) - 1) = r.getDouble(3)
        cnt(s)(c) = r.getLong(4)
      }
      cb = next
      counts = cnt
    }
    (cb, counts)
  }

  /** The trained PQ codebook in long form: (s, code, dim (1-based within
    * the subspace), mean_v, n). See [[pqState]] for the fit semantics.
    */
  def pqCodebook(vectors: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, iters: Int): DataFrame = {
    val spark = vectors.sparkSession
    val (cb, counts) = pqState(vectors, idCol, vecCol, m, k, iters)
    val d = cb(0)(0).length
    val out = for (s <- 0 until m; c <- 0 until k; dim <- 1 to d)
      yield (s.toLong, c.toLong, dim.toLong, cb(s)(c)(dim - 1), counts(s)(c))
    import spark.implicits._
    out.toDF("s", "code", "dim", "mean_v", "n")
  }

  /** PQ-encode: append `codes` (array of m subspace code ids) to each
    * vector row — the m-bytes-per-vector representation the ADC scan
    * reads. Zero shuffle: literal-codebook argmin per subspace, one pass.
    */
  def pqEncode(vectors: DataFrame, idCol: String, vecCol: String,
      cb: Array[Array[Array[Double]]]): DataFrame = {
    val m = cb.length
    val d = cb(0)(0).length
    val v = transform(col(vecCol), x => x.cast("double"))
    val codes = (0 until m).map(s =>
      nearestCentroid(slice(v, s * d + 1, d), cb(s)).getField("c"))
    vectors.withColumn("codes", array(codes: _*))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: the query keeps its
    * raw subvectors; each corpus vector is represented only by its m
    * codes, and its distance is the sum of per-subspace query→centroid
    * distances looked up from a precomputed m×k table. Distances fold in
    * ascending dim order inside a subspace and ascending s across
    * subspaces, so an independent engine replays them bit-exactly;
    * ranking is on the 6-dp-rounded distance with id tie-break (the
    * ann_topk convention).
    *
    * Scale shape: the distance tables are queries×m×k doubles broadcast
    * as literals; the scan reads m bytes/vector (the codes), computes
    * q×m array lookups per row, and only the per-query top-k window
    * shuffles. This is the standard billion-scale ANN scoring loop.
    */
  def adcSearch(vectors: DataFrame, idCol: String, vecCol: String,
      cb: Array[Array[Array[Double]]], queries: Array[(Long, Array[Double])],
      k: Int): DataFrame = {
    val m = cb.length
    val nCodes = cb(0).length
    val d = cb(0)(0).length
    val dtab: Array[Array[Array[Double]]] = queries.map { case (_, q) =>
      Array.tabulate(m, nCodes) { (s, c) =>
        var acc = 0.0
        var i = 0
        while (i < d) { val t = q(s * d + i) - cb(s)(c)(i); acc += t * t; i += 1 }
        acc
      }
    }
    requireNumericId(vectors, idCol, "adcSearch")
    val enc = pqEncode(vectors, idCol, vecCol, cb)
      .select(col(idCol).cast("long").as("__id"), col("codes"))
    val scored = queries.zipWithIndex.map { case ((qid, _), qi) =>
      val dist = (0 until m).map { s =>
        element_at(array(dtab(qi)(s).toIndexedSeq.map(lit(_)): _*),
          element_at(col("codes"), s + 1) + 1)
      }.reduceLeft(_ + _)
      struct(lit(qid).as("qid"), dist.as("dist"))
    }
    topKByDistAsc(
      enc.select(col("__id"), explode(array(scored.toIndexedSeq: _*)).as("t"))
        .select(col("t.qid").as("qid"), col("__id"),
          round(col("t.dist"), 6).as("dist_r"))
        .filter(col("__id") =!= col("qid")),
      "qid", "dist_r", "__id", k)
  }

  /** IVF-PQ search — the standard billion-vector ANN layout (Jégou et
    * al. 2011): a coarse IVF quantizer routes each query to its `nProbe`
    * nearest cells (cosine, like [[ivfAssign]]'s bucketing), and inside
    * the probed cells candidates are scored by ADC over their PQ codes
    * (see [[adcSearch]]) — the corpus is touched only through
    * (bucket, codes) = ~m+1 bytes per vector. Probe sets and distance
    * tables are driver-computed per query (nCells × dims and m × k
    * doubles) and broadcast as literals; the probed filter is row-local
    * here, and becomes partition pruning when the codes table is written
    * bucketed by cell — at which point a query reads nProbe/nCells of
    * the corpus. Exact fold discipline matches [[adcSearch]], so the
    * returned distances are bit-identical to the full-scan ADC on the
    * same candidates (pinned in PqSpec).
    */
  /** Collected coarse centroids as dense double arrays, cid-ascending. */
  private[graft] def centroidArrays(centroids: DataFrame): Array[Array[Double]] =
    centroids.select(col("cid").cast("int"), col("cvec")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
      .sortBy(_._1).map(_._2)

  /** vectors + a `__resv` residual column (v − centroid[bucket]), the
    * frame residual PQ trains and encodes on. The centroid table rides
    * as a literal nested array; the subtraction is row-local.
    */
  private[graft] def residualFrame(assigned: DataFrame, vecCol: String,
      centArr: Array[Array[Double]]): DataFrame = {
    val centLit = array(centArr.toIndexedSeq.map(cv =>
      array(cv.toIndexedSeq.map(lit(_)): _*)): _*)
    val v = transform(col(vecCol), x => x.cast("double"))
    assigned.withColumn("__resv",
      zip_with(v, element_at(centLit, col("bucket") + 1), (x, c) => x - c))
  }

  /** Residual IVF-PQ search — the faithful Jégou et al. 2011 layout:
    * the coarse quantizer routes vectors to cells, PQ trains and encodes
    * on the RESIDUAL (v − centroid[cell]) so the codebook spends its
    * bits on within-cell structure (the published accuracy win over
    * absolute-vector PQ), and queries score candidates by ADC with a
    * per-(query, probed-cell) distance table built from the query's own
    * residual to that cell. Distance folds ascend within a subspace and
    * across subspaces, bit-replayably (PqSpec pins the sums against a
    * driver reference). Scale shape: training is [[pqState]]'s one scan
    * + 256-key shuffle over the residual frame; the search scan reads
    * (bucket, codes) = m+1 bytes/vector, distance tables are
    * queries × nProbe × m × k doubles broadcast as literals, and only
    * the per-query top-k window shuffles — with the codes table written
    * bucketed by cell the probed filter becomes partition pruning.
    */
  def ivfPqSearch(vectors: DataFrame, idCol: String, vecCol: String,
      queries: Array[(Long, Array[Double])], nCells: Int, m: Int, k: Int,
      kTop: Int, nProbe: Int, iters: Int = 1,
      sampleRows: Array[(Long, Array[Float])] = null): DataFrame = {
    requireNumericId(vectors, idCol, "ivfPqSearch")
    val cents = trainCentroids(vectors, idCol, vecCol, nCells,
      sampleRows = sampleRows)
    val assigned = ivfAssign(vectors, idCol, vecCol, cents)
    val centArr = centroidArrays(cents)
    val res = residualFrame(assigned, vecCol, centArr)
    val (cb, _) = pqState(res, idCol, "__resv", m, k, iters)
    val nCodes = cb(0).length
    val d = cb(0)(0).length
    def cosJ(a: Array[Double], b: Array[Double]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dp += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dp / (math.sqrt(na) * math.sqrt(nb))
    }
    // residual-encoded corpus: codes from __resv against the residual cb
    val rv = transform(col("__resv"), x => x.cast("double"))
    val codes = array((0 until m).map(s =>
      nearestCentroid(slice(rv, s * d + 1, d), cb(s)).getField("c")): _*)
    val enc = res.select(col(idCol).cast("long").as("__id"),
      col("bucket"), codes.as("codes"))
    val scored = queries.map { case (qid, q) =>
      val probes = centArr.indices.map(cid => (-cosJ(q, centArr(cid)), cid))
        .sorted.take(nProbe).map(_._2)
      // one distance table per probed cell, from the query's residual
      val dists = probes.map { cid =>
        val qres = q.indices.map(i => q(i) - centArr(cid)(i)).toArray
        val dtab = Array.tabulate(m, nCodes) { (s, c) =>
          var acc = 0.0; var i = 0
          while (i < d) { val t = qres(s * d + i) - cb(s)(c)(i); acc += t * t; i += 1 }
          acc
        }
        val cellDist = (0 until m).map { s =>
          element_at(array(dtab(s).toIndexedSeq.map(lit(_)): _*),
            element_at(col("codes"), s + 1) + 1)
        }.reduceLeft(_ + _)
        (cid, cellDist)
      }
      val dist = dists.tail.foldLeft(
        when(col("bucket") === dists.head._1, dists.head._2)) {
        case (acc, (cid, cd)) => acc.when(col("bucket") === cid, cd)
      }
      struct(lit(qid).as("qid"),
        array_contains(array(probes.map(lit(_)): _*), col("bucket")).as("probed"),
        dist.as("dist"))
    }
    topKByDistAsc(
      enc.select(col("__id"),
          explode(array(scored.toIndexedSeq: _*)).as("t"))
        .filter(col("t.probed") && col("__id") =!= col("t.qid"))
        .select(col("t.qid").as("qid"), col("__id"),
          round(col("t.dist"), 6).as("dist_r")),
      "qid", "dist_r", "__id", kTop)
  }

  def ivfAdcSearch(assigned: DataFrame, centroids: DataFrame,
      cb: Array[Array[Array[Double]]], queries: Array[(Long, Array[Double])],
      idCol: String, vecCol: String, k: Int, nProbe: Int): DataFrame = {
    val cents: Array[(Int, Array[Double])] = centroids
      .select(col("cid").cast("int"), col("cvec")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
      .sortBy(_._1)
    val m = cb.length
    val nCodes = cb(0).length
    val d = cb(0)(0).length
    def cosJ(a: Array[Double], b: Array[Double]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dp += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dp / (math.sqrt(na) * math.sqrt(nb))
    }
    val scored = queries.map { case (qid, q) =>
      val probes = cents.map { case (cid, cv) => (-cosJ(q, cv), cid) }
        .sorted.take(nProbe).map(_._2)
      val dtab = Array.tabulate(m, nCodes) { (s, c) =>
        var acc = 0.0; var i = 0
        while (i < d) { val t = q(s * d + i) - cb(s)(c)(i); acc += t * t; i += 1 }
        acc
      }
      val dist = (0 until m).map { s =>
        element_at(array(dtab(s).toIndexedSeq.map(lit(_)): _*),
          element_at(col("codes"), s + 1) + 1)
      }.reduceLeft(_ + _)
      struct(lit(qid).as("qid"),
        array_contains(array(probes.toIndexedSeq.map(lit(_)): _*),
          col("bucket")).as("probed"),
        dist.as("dist"))
    }
    requireNumericId(assigned, idCol, "ivfAdcSearch")
    val enc = pqEncode(assigned, idCol, vecCol, cb)
      .select(col(idCol).cast("long").as("__id"), col("bucket"), col("codes"))
    topKByDistAsc(
      enc.select(col("__id"),
          explode(array(scored.toIndexedSeq: _*)).as("t"))
        .filter(col("t.probed") && col("__id") =!= col("t.qid"))
        .select(col("t.qid").as("qid"), col("__id"),
          round(col("t.dist"), 6).as("dist_r")),
      "qid", "dist_r", "__id", k)
  }

  def ivfAssign(vectors: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame = {
    val cents: Array[(Int, Array[Float])] = centroids
      .select(col("cid").cast("int"), col("cvec"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    require(cents.nonEmpty, "ivfAssign needs at least one centroid")
    val vNorm = l2norm(col(vecCol))
    // struct(cos, -cid): greatest() takes the max cosine and resolves
    // ties to the lowest centroid id (max of the negated id)
    val scored = cents.map { case (cid, cv) =>
      val cLit = array(cv.map(x => lit(x.toDouble)): _*)
      val cNorm = math.sqrt(dotJvm(cv, cv))
      struct((dot(col(vecCol), cLit) / (vNorm * lit(cNorm))).as("c"),
        lit(-cid).as("nc"))
    }
    val best = if (scored.length == 1) scored.head
      else greatest(scored.toIndexedSeq: _*)
    vectors.withColumn("bucket", -best.getField("nc"))
  }

  /** IVF centroid training: spherical k-means (Lloyd) on a deterministic
    * bounded sample, run on the driver. The sample is the first
    * `sampleMax` vectors by id (a per-partition top-k, not a full sort),
    * init is the first k sample vectors — so training is bit-deterministic
    * across runs and cluster layouts. Empty clusters keep their previous
    * centroid. At corpus scale the sample stays O(100k × dims) floats:
    * driver-side Lloyd is the standard, bounded IVF training step.
    */
  def trainCentroids(vectors: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, iters: Int = 8, sampleMax: Int = 100000,
      // optional pre-collected sample (the first sampleMax (id, vec) rows
      // by id): lets a caller that also needs query vectors from the same
      // corpus fuse the two driver round-trips into one (round-15 ANN job
      // fusion) — bit-identical, the sample definition is unchanged
      sampleRows: Array[(Long, Array[Float])] = null): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val sample: Array[Array[Float]] =
      if (sampleRows != null) sampleRows.take(sampleMax).map(_._2)
      else sampleById(vectors, idCol, vecCol, sampleMax).map(_._2)
    def normalized(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    val unit = sample.map(v => normalized(v.map(_.toDouble)))
    var cents = unit.take(nCentroids).map(_.clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(cents.length)(new Array[Double](unit.head.length))
      val counts = new Array[Int](cents.length)
      unit.foreach { v =>
        var best = 0; var bestDot = Double.NegativeInfinity
        var c = 0
        while (c < cents.length) {
          var d = 0.0; var i = 0
          while (i < v.length) { d += v(i) * cents(c)(i); i += 1 }
          if (d > bestDot) { bestDot = d; best = c }
          c += 1
        }
        var i = 0
        while (i < v.length) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      cents = cents.indices.map { c =>
        if (counts(c) == 0) cents(c) else normalized(sums(c))
      }.toArray
    }
    cents.zipWithIndex
      .map { case (cv, cid) => (cid, cv.map(_.toFloat)) }
      .toSeq.toDF("cid", "cvec")
  }

  /** The first `n` (id, vec) rows by ascending id — the deterministic
    * bounded sample [[trainCentroids]] fits on, exposed so callers can
    * collect it ONCE and serve both the training sample and their own
    * query-vector needs from the same driver round-trip.
    */
  def sampleById(vectors: DataFrame, idCol: String, vecCol: String,
      n: Int): Array[(Long, Array[Float])] = {
    val spark = vectors.sparkSession
    import spark.implicits._
    vectors
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .orderBy(col("id"))
      .limit(n)
      .as[(Long, Array[Float])]
      .collect()
  }

  /** IVF probe: search only the nProbe buckets whose centroids are
    * closest to each query, then exact cosine top-k within them. The
    * corpus-side shuffle is on the bucket id — at 100 TB only the probed
    * inverted lists are read.
    */
  def ivfSearch(assigned: DataFrame, centroids: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qidCol: String, qvecCol: String,
      k: Int, nProbe: Int): DataFrame = {
    requireNumericId(assigned, idCol, "ivfSearch")
    import org.apache.spark.sql.expressions.Window
    // the probe window's key (qidCol) spans only queries × nCells rows
    // (both broadcast-small) — fine as a window; the CANDIDATE ranking
    // below is queries × corpus-cell rows over the same fixed-cardinality
    // key, so it goes through the native TopKAgg rendering instead
    // (round-13 kernel review; same static regime as topKByDistAsc)
    val wProbe = Window.partitionBy(col(qidCol))
      .orderBy(col("__ccos").desc, col("cid"))
    val probes = queries
      .join(broadcast(centroids))
      .withColumn("__ccos", cosine(col(qvecCol), col("cvec")))
      .withColumn("__rn", row_number().over(wProbe))
      .filter(col("__rn") <= nProbe)
      .select(col(qidCol), col(qvecCol), col("cid").as("bucket"))
    TopKDispatch.renderNative(
        assigned
          .join(broadcast(probes),
            assigned("bucket") === probes("bucket") && col(idCol) =!= col(qidCol))
          .withColumn("cos_r", round(cosine(col(qvecCol), col(vecCol)), 6)),
        Seq(qidCol), "cos_r", idCol, k)
      .select(col(qidCol), col(idCol), col("rn"), col("cos_r"))
  }

  /** Per-query top-`k` same-label neighbors by cosine (rounded to 6 dp,
    * ties broken by ascending neighbor id): (label, qid, nid, cos_r) —
    * the neighborhood lists the mutual k-NN graph and PageRank consume.
    *
    * Size-dispatched like [[TextOps.similarityJoin]], because the naive
    * rendering was the board's one remaining 100×-scale killer: one cheap
    * count-agg pre-pass measures the LARGEST label block. Under
    * `exactBlockMax` the exact within-label all-pairs join runs —
    * quadratic in block size, fine for bounded blocks, and bit-identical
    * to the DuckDB oracle so v_knn_graph / v_pagerank stay hash-green at
    * test SFs. Above the bound that self-join would pile ~n² cosines
    * into one key group (a 10M-vector label is 10¹⁴), so the big-block
    * path coarse-quantizes into IVF cells instead: [[trainCentroids]]
    * (bounded driver Lloyd) + [[ivfAssign]] (zero-shuffle literal-
    * centroid argmax), each query probing only its `nProbe` nearest
    * cells — computed ROW-LOCALLY by sorting the nCells-element literal
    * scored-struct array, never a window over corpus × nCells rows —
    * with exact cosine rerank inside the candidate cells. The only wide
    * exchange is the (label, cell) candidate join; no join key ever
    * spans a whole label.
    *
    * `nCells = 0` (default) sizes the codebook from the measured corpus:
    * ceil(n / 8192) clamped to [8, 256], so cells stay ~8k wide and the
    * per-query candidate work is nProbe × cell ≈ bounded regardless of
    * corpus size (the quadratic term never returns), while the driver
    * Lloyd stays tractable at the 256-centroid cap. Recall of the probe
    * is ∝ nProbe/nCells on an unclustered corpus and much higher on a
    * clustered one (cells then align with real neighborhoods); pinned in
    * AnnSpec at a fixed configuration, plan shape (every join keyed on
    * the cell) in PlanSpec3.
    */
  def knnGraph(vectors: DataFrame, k: Int, exactBlockMax: Long = 65536,
      nCells: Int = 0, nProbe: Int = 4): DataFrame = {
    // Precondition (plan-time, raises — never a silent filter): the IVF
    // branch routes through TopKDispatch.render, whose normalized()
    // contract casts vec_id to long and drops cast-null ids and NaN
    // cosines. A string-typed id would therefore yield a silently
    // empty/partial graph; refuse it here instead. Zero-norm embeddings
    // (cosine undefined, NaN) ARE dropped from the neighbor lists — the
    // documented contract for both the exact and IVF renderings.
    requireNumericId(vectors, "vec_id", "knnGraph")
    // label too: the exact kernels cast it to int while the IVF branch
    // carries it raw, so a STRING label would make semantics (and the
    // output type) depend on the size dispatch — '7'/'07' merge in one
    // branch and stay distinct in the other (round-13 kernel review).
    requireNumericId(vectors, "label", "knnGraph")
    val e = vectors.select(col("label"), col("vec_id"), col("embedding"))
      .withColumn("nrm", l2norm(col("embedding")))
    val sizes = vectors.groupBy("label").count()
      .agg(max("count"), sum("count")).head()
    val maxBlock = sizes.getLong(0)
    val total = sizes.getLong(1)
    val cells =
      if (nCells > 0) nCells
      else math.max(8, math.min(256, ((total + 8191) / 8192).toInt))
    if (maxBlock <= exactBlockMax) {
      // exact per-label top-k as a typed kernel: one groupByKey shuffle
      // on the label, then an O(n·k) insertion top-k per query inside the
      // block. The previous rendering (label self-join + row_number
      // window) materialized the full n² candidate set through a second
      // qid-keyed shuffle — 200M rows and 17 s at the 10x scale fixture
      // for the same answer (docs/SCALE_CURVES.md). Ordering, rounding
      // (HALF_UP 6 BEFORE ranking) and the nid tie-break replicate the
      // window exactly, so the DuckDB oracle is unchanged.
      return exactKnnKernel(vectors, k)
    }
    val candidates =
      {
        val cents = trainCentroids(vectors, "vec_id", "embedding", cells)
        val assigned = ivfAssign(e, "vec_id", "embedding", cents)
        val centArr: Array[(Int, Array[Float])] = cents
          .select(col("cid").cast("int"), col("cvec")).collect()
          .map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
        // struct(cos, -cid) sorted desc = max cosine first, ties to the
        // lowest cell id — the exact tie-break ivfAssign's argmax uses,
        // so a query's own cell is always its first probe
        val scored = centArr.map { case (cid, cv) =>
          val cLit = array(cv.map(x => lit(x.toDouble)): _*)
          val cNorm = math.sqrt(dotJvm(cv, cv))
          struct((dot(col("embedding"), cLit) / (col("nrm") * lit(cNorm))).as("c"),
            lit(-cid).as("nc"))
        }
        val probes = e
          .withColumn("__p", explode(slice(
            sort_array(array(scored.toIndexedSeq: _*), asc = false), 1, nProbe)))
          .select(col("label"), col("vec_id").as("qid"),
            col("embedding").as("qe"), col("nrm").as("qn"),
            (-col("__p").getField("nc")).as("bucket"))
        // each corpus vector sits in exactly ONE cell (argmax), so a
        // (qid, nid) pair matches at most one probe row — no dedup needed
        assigned.select(col("label"), col("vec_id").as("nid"),
            col("embedding"), col("nrm"), col("bucket"))
          .join(probes, Seq("label", "bucket"))
      }
    val scoredCand = candidates
      .filter(col("nid") =!= col("qid"))
      .withColumn("cos_r",
        round(dot(col("qe"), col("embedding")) / (col("qn") * col("nrm")), 6))
    // Regime choice through the DISPATCHER (round-11 verdict task 6), from
    // counts already measured: groups = #query vectors (`total`), candidate
    // rows ≈ total · nProbe · avg cell size — probing the candidate join
    // itself would materialize it twice. Grouping on (label, qid) is the
    // same partitioning as qid (a qid has one label) and carries the label
    // through either rendering.
    val parts = vectors.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val rowsEst = total * nProbe * math.max(1L, total / math.max(cells, 1))
    val d = TopKDispatch.decideFromCounts(rowsEst, total, k, parts)
    TopKDispatch.render(scoredCand, Seq("label", "qid"), "cos_r", "nid", k, d)
      .select(col("label"), col("qid"), col("nid"), col("cos_r"))
  }

  /** Chunk size for the two-stage exact k-NN: above it, each label
    * splits into (query-chunk, candidate-chunk) tasks that emit partial
    * top-k lists, merged exactly per query. 8192² ≈ 67M dots a task.
    */
  private val KnnChunkTarget = 8192L

  /** Exact within-label k-NN: insertion top-k per query over the block's
    * vectors, ordered by (rounded cosine desc, nid asc) — byte-identical
    * to the join+window rendering it replaced. Small corpora (one
    * metadata-cheap count() decides) run the one-shuffle single-task-per-
    * label shape; larger ones run two stages — (query-chunk × candidate-
    * chunk) tasks emit per-chunk top-k WITH the 2e-6 rounding margin
    * (any candidate outside its chunk's margin set has >= k chunk-mates
    * whose ROUNDED cosine is strictly greater, so it cannot enter the
    * global top-k — the merge is exact), then a qid-keyed merge rounds
    * the few survivors and ranks. Per-label work stays the irreducible
    * n·(n-1) dot products, but spread across the cluster instead of one
    * task per label.
    */
  private[graft] def exactKnnKernel(vectors: DataFrame, k: Int,
      chunkTarget: Long = KnnChunkTarget): DataFrame = {
    if (vectors.count() > chunkTarget)
      return exactKnnChunked(vectors, k, chunkTarget)
    exactKnnSingle(vectors, k)
  }

  private def exactKnnChunked(vectors: DataFrame, k: Int,
      chunkTarget: Long): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val chunksOf: Map[Int, Int] = vectors
      .groupBy(col("label").cast("int").as("l"))
      .agg(count(lit(1)).as("c")).collect()
      .map(r => r.getInt(0) ->
        math.max(1, ((r.getLong(1) + chunkTarget - 1) / chunkTarget).toInt))
      .toMap
    val bChunks = spark.sparkContext.broadcast(chunksOf)
    val partials = vectors
      .select(col("label").cast("int"), col("vec_id").cast("long"),
        col("embedding"))
      .as[(Int, Long, Array[Float])]
      .flatMap { case (label, id, vec) =>
        val nc = bChunks.value(label)
        val c = (java.lang.Long.hashCode(id) & 0x7fffffff) % nc
        // role 0 = query in task (c, cc); role 1 = candidate in task
        // (qc, c). The (c, c) task gets the row once (role 0) and uses
        // it in both roles.
        val asQ = (0 until nc).iterator.map(cc =>
          (s"$label:$c:$cc", 0, label, id, vec))
        val asC = (0 until nc).iterator.filter(_ != c).map(qc =>
          (s"$label:$qc:$c", 1, label, id, vec))
        asQ ++ asC
      }
      .groupByKey(_._1)
      .flatMapGroups { (key, it) =>
        val parts = key.split(":")
        val intra = parts(parts.length - 2) == parts.last
        val rows = it.toArray
        val queries = rows.filter(_._2 == 0)
        val cands = if (intra) queries else rows.filter(_._2 == 1)
        val cNrm = cands.map(r => math.sqrt(dotJvm(r._5, r._5)))
        queries.iterator.flatMap { case (_, _, label, qid, qe) =>
          val qn = math.sqrt(dotJvm(qe, qe))
          val cos = new Array[Double](cands.length)
          var kth = Double.NegativeInfinity
          val topU = new Array[Double](k)
          var filled = 0
          var j = 0
          while (j < cands.length) {
            cos(j) =
              if (cands(j)._4 == qid) Double.NegativeInfinity
              else dotJvm(qe, cands(j)._5) / (qn * cNrm(j))
            val c = cos(j)
            // NaN cosines (zero-norm vectors) never enter topU: when
            // filled < k the short-circuit would admit one, and no value
            // can displace a NaN (both < comparisons false), so it would
            // permanently steal a slot and inflate kth — silently
            // truncating every real neighbor list (round-13 kernel
            // review). The documented contract drops NaN pairs.
            if (!c.isNaN && (filled < k || c > topU(filled - 1))) {
              var p = filled
              while (p > 0 && topU(p - 1) < c) p -= 1
              if (p < k) {
                val last = math.min(filled, k - 1)
                var m = last
                while (m > p) { topU(m) = topU(m - 1); m -= 1 }
                topU(p) = c
                if (filled < k) filled += 1
                kth = topU(filled - 1)
              }
            }
            j += 1
          }
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Int, Long, Long, Double)]
          j = 0
          while (j < cands.length) {
            if (cands(j)._4 != qid && !cos(j).isNaN &&
                (filled < k || cos(j) >= kth - 2e-6))
              out += ((label, qid, cands(j)._4, cos(j)))
            j += 1
          }
          out.iterator
        }
      }
      // merge: each (qid, nid) occurs in exactly one candidate chunk, so
      // no dedup — round the few margin survivors, rank, take k
    partials
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (key: (Int, Long), it: Iterator[(Int, Long, Long, Double)]) =>
        it.toArray.map { case (_, _, nid, u) => (round6(u), nid) }
          .sortBy { case (c, nid) => (-c, nid) }
          .take(k)
          .iterator.map { case (c, nid) => (key._1, key._2, nid, c) }
      }
      .toDF("label", "qid", "nid", "cos_r")
  }

  private def exactKnnSingle(vectors: DataFrame, k: Int): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    vectors
      .select(col("label").cast("int"), col("vec_id").cast("long"),
        col("embedding"))
      .as[(Int, Long, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (label, it) =>
        val arr = it.toArray.sortBy(_._2)
        val nrm = arr.map(r => math.sqrt(dotJvm(r._3, r._3)))
        val cosBuf = new Array[Double](arr.length)
        arr.indices.iterator.flatMap { qi =>
          val (qid, qe) = (arr(qi)._2, arr(qi)._3)
          // Pass 1: UNROUNDED cosines + a running unrounded k-th best.
          // round6 goes through BigDecimal (the only way to replicate
          // Spark's HALF_UP-on-decimal-string exactly) and costs ~100 ns
          // + garbage per call — at block-scale candidate counts it WAS
          // the whole runtime. Only candidates within 2e-6 of the k-th
          // best can change the final rounded ranking (rounding moves a
          // value by <= 5e-7), so only those get the exact rounding.
          var kth = Double.NegativeInfinity
          val topU = new Array[Double](k)
          var filled = 0
          var j = 0
          while (j < arr.length) {
            cosBuf(j) =
              if (j == qi) Double.NegativeInfinity
              else dotJvm(qe, arr(j)._3) / (nrm(qi) * nrm(j))
            val c = cosBuf(j)
            // NaN (zero-norm vector) never enters topU — see the chunked
            // kernel's comment; a stuck NaN slot inflates kth and
            // silently truncates real neighbor lists
            if (!c.isNaN && (filled < k || c > topU(filled - 1))) {
              var p = filled
              while (p > 0 && topU(p - 1) < c) p -= 1
              if (p < k) {
                val last = math.min(filled, k - 1)
                var m = last
                while (m > p) { topU(m) = topU(m - 1); m -= 1 }
                topU(p) = c
                if (filled < k) filled += 1
                kth = topU(filled - 1)
              }
            }
            j += 1
          }
          // Pass 2: exact rounding + (cos desc, nid asc) rank over the
          // near-threshold candidates only
          val cands = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
          j = 0
          while (j < arr.length) {
            if (j != qi && !cosBuf(j).isNaN &&
                (filled < k || cosBuf(j) >= kth - 2e-6))
              cands += ((round6(cosBuf(j)), arr(j)._2))
            j += 1
          }
          cands.sortBy { case (c, nid) => (-c, nid) }.take(k)
            .iterator.map { case (c, nid) => (label, qid, nid, c) }
        }
      }
      .toDF("label", "qid", "nid", "cos_r")
  }

  /** Random-hyperplane LSH bucket id: one sign bit per plane. Vectors in
    * the same bucket are cosine-close with high probability; ANN search
    * shuffles on the bucket id instead of cross-joining the corpus.
    * Plane vectors are data-independent, so they are precomputed as
    * literal arrays (up to `maxDims` components) and each projection is
    * one codegen'd [[dot]] — no per-element md5/lambda trees.
    */
  def buckets(vec: Column, planes: Int, maxDims: Int = 128): Column = {
    // one sign bit per plane into a LONG is an implicit <= 64 contract:
    // 1L << p wraps modulo 64 at p >= 64, aliasing plane p onto bit p-64,
    // and the + combine would carry the collision into higher bits —
    // silently corrupting every bucket id (round-13 kernel review; same
    // silent-degradation class as the maxDims guard below)
    require(planes >= 1 && planes <= 64,
      s"lsh buckets: planes must be in [1,64] (one sign bit per plane " +
      s"in a 64-bit bucket id), got $planes")
    val bits = (0 until planes).map { p =>
      val plane = array((0 until maxDims).map(j => lit(planeComponentJvm(p, j))): _*)
      val proj = dot(vec, slice(plane, lit(1), coalesce(size(vec), lit(0))))
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    // Guard, don't truncate: a vector wider than the precomputed planes
    // would silently project onto a plane prefix, degrading bucket quality
    // with no error (round-2 advice).
    when(size(vec) > maxDims,
      raise_error(concat(
        lit(s"lsh buckets: vector dims exceed maxDims=$maxDims (got "),
        size(vec).cast("string"), lit(")"))).cast("long"))
      .otherwise(bits.reduce(_ + _))
  }
}
