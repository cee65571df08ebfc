package graft

import org.scalatest.funsuite.AnyFunSuite

/** A property of the engine, for its concurrent callers (the console,
  * `GraftApp`): streaming parity rows executed simultaneously on
  * `EngineSession.isolated` children return exactly the rows they return
  * serially — the scoped streaming conf of each query start
  * (FileReplay.start) doesn't race, memory-sink names don't collide, and
  * FileReplay's staged-corpus LRU never evicts files a live concurrent
  * handle still publishes from (refcount pin). The bench runs replay rows
  * serially; this spec is what keeps concurrent replay correct.
  */
class ReplayConcurrencySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  // rows spanning both registries and both replay shapes (watermark
  // parity, dedup state, sketch bounds) — all small at sf0.001
  private val rows = Seq(
    "st_stream_session_parity", "st_stream_late_parity",
    "dd_stream_exact", "st_stream_topk_exact")

  private def run(s: org.apache.spark.sql.SparkSession,
      name: String): Seq[String] = {
    val df = SparkEntry.queries(name)(s, sf)
    df.collect().map(_.toString).sorted.toSeq
  }

  test("replay rows on concurrent cloned sessions equal their serial results") {
    val serial = rows.map(n => n -> run(spark, n)).toMap
    val pool = java.util.concurrent.Executors.newFixedThreadPool(rows.size)
    try {
      // two concurrent waves: the second re-replays the same corpora, so
      // the staged-LRU reuse path also runs under contention
      (1 to 2).foreach { wave =>
        val futs = rows.map { n =>
          n -> pool.submit(new java.util.concurrent.Callable[Seq[String]] {
            override def call(): Seq[String] = run(EngineSession.isolated(spark), n)
          })
        }
        futs.foreach { case (n, f) =>
          val got = f.get()
          assert(got == serial(n),
            s"wave $wave: $n diverged under concurrency: " +
            s"got=${got.take(3)} want=${serial(n).take(3)}")
        }
      }
    } finally pool.shutdown()
  }

  test("concurrent clones leave the parent session conf untouched") {
    val parent = spark.conf.get("spark.sql.shuffle.partitions")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futs = Seq("st_stream_session_parity", "st_stream_late_parity")
        .map { n =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            override def call(): Unit = { run(EngineSession.isolated(spark), n); () }
          })
        }
      futs.foreach(_.get())
    } finally pool.shutdown()
    assert(spark.conf.get("spark.sql.shuffle.partitions") == parent)
  }
}
