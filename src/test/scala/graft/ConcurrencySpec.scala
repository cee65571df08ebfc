package graft

import org.scalatest.funsuite.AnyFunSuite

/** Concurrent-board posture (round-9 verdict task 4): a production
  * pipeline runs stages concurrently on ONE SparkSession, sharing the
  * tracked-cache LRU registry and Spark's CacheManager. This pins the
  * r8 bug class under contention: results of board rows run in parallel
  * must equal their serial results even while the shared registry is
  * being hit/evicted by the other rows mid-job (an eviction unpersists
  * blocks a running job may hold — Spark recomputes them, so answers
  * must not change).
  *
  * The row set deliberately overlaps on shared cached intermediates
  * (dd_minhash_lsh / dd_clusters / dd_keep_policy all derive the banded
  * signature index) and exceeds nothing the registry bound can't evict.
  * Streaming-replay rows are excluded by design: a replay row is a
  * fixture replayed micro-batch by micro-batch, not a concurrent-stage
  * shape. ReplayConcurrencySpec runs them concurrently, and
  * EngineSessionSpec pins that their scoped query starts leave the shared
  * session's conf unchanged.
  */
class ConcurrencySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  // round-10 extension rows included: tx_unigram_lm holds THREE tracked
  // caches (word counts, mask segmentations, f0/c1 piece tables) so it
  // stresses the LRU bound hardest; v_neighbor_sample raises the
  // ObjectHashAggregate fallback conf on an isolated child session
  // (round-10 advice) so no conf race exists — this suite pins that the
  // isolated conf still yields serial-equal answers under contention
  private val names = Seq("q1_agg", "dd_exact", "dd_minhash_lsh",
    "dd_clusters", "dd_keep_policy", "tx_tfidf", "q_tpch9", "ann_topk",
    "tx_unigram_lm", "tx_dsir_select", "v_neighbor_sample",
    "q_topk_native", "pl_shard_balance")

  private def rows(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, sf).collect()
      .map(_.toString).sorted.toSeq

  test("parallel board rows equal their serial results on a shared registry") {
    // serial references against a pinned-empty registry
    graft.operators.TextOps.releasePriorCaches()
    spark.catalog.clearCache()
    val serial = names.map(n => n -> rows(n)).toMap

    val pool = java.util.concurrent.Executors.newFixedThreadPool(names.size)
    try {
      // two waves: wave 1 populates/evicts the shared registry under
      // contention, wave 2 re-runs against whatever state wave 1 left
      (1 to 2).foreach { wave =>
        val futs = names.map { n =>
          n -> pool.submit(new java.util.concurrent.Callable[Seq[String]] {
            override def call(): Seq[String] = rows(n)
          })
        }
        futs.foreach { case (n, f) =>
          val got = f.get(600, java.util.concurrent.TimeUnit.SECONDS)
          assert(got == serial(n),
            s"row $n diverged under concurrency (wave $wave): " +
              s"got ${got.size} rows vs ${serial(n).size}")
        }
      }
    } finally pool.shutdown()
  }
}
