package graft

import org.scalatest.funsuite.AnyFunSuite

/** ANN quality checks: the bucketed variants must return true cosine
  * scores (no approximation in the re-rank) and nonzero recall against
  * the brute-force ground truth.
  */
class AnnSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def toMap(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[(Long, Double)]] =
    df.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"), r.getAs[Double]("cos_r")))
      .groupBy(_._1)
      .map { case (q, rows) => q -> rows.sortBy(_._2).map(t => (t._2, t._3)).toSeq }

  private def asMap(name: String): Map[Long, Seq[(Long, Double)]] =
    toMap(SparkEntry.queries(name)(spark, sf))

  // the ann_ivf BOARD row is an in-plan gate since round 9 (literal-1
  // oracle); the raw trained-IVF retrieval it gates is the extracted
  // helper — pin recall/score-exactness against that same frame
  private def ivfRetrieval(): Map[Long, Seq[(Long, Double)]] =
    toMap(graft.queries.DedupQueries.annIvfTrainedTopK(spark, sf))

  test("ivf scores equal brute-force scores for returned neighbors") {
    val exact = asMap("ann_topk").map { case (q, rs) => q -> rs.toMap }
    val ivf = ivfRetrieval()
    assert(ivf.nonEmpty)
    ivf.foreach { case (q, rs) =>
      rs.foreach { case (v, cos) =>
        // every ivf hit that's also in the exact top-10 must carry the
        // identical (rounded) cosine — the re-rank is exact
        exact(q).get(v).foreach(expected => assert(expected == cos, s"q=$q v=$v"))
      }
    }
  }

  test("ann_adc refuses duplicate query ids instead of mis-picking its queries") {
    import spark.implicits._
    // vec_id 0 twice: the first 4 rows by id are 0, 0, 1, 2, so the
    // vec_id < 3 prefix is not the 3 distinct queries the row assumes
    val e = Seq(0, 0, 1, 2, 3, 4)
      .map(i => (i, Array.fill(8)(i.toFloat)))
      .toDF("vec_id", "embedding")
    val err = intercept[IllegalArgumentException](
      graft.queries.DedupQueries.adcFirstFour(e))
    assert(err.getMessage.contains("distinct, non-negative ids"), err.getMessage)
    val ok = graft.queries.DedupQueries.adcFirstFour(
      Seq(5, 0, 1, 2, 3).map(i => (i, Array.fill(8)(i.toFloat))).toDF("vec_id", "embedding"))
    assert(ok.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L))
  }

  test("ivfAssign classifies a STREAM of embeddings (pure projection, online)") {
    // the assignment stage is zero-shuffle/zero-join by construction
    // (PlanSpec2 pins the batch plan), so it must also run unchanged on
    // a streaming Dataset — incoming vectors classified online with
    // literal centroids, no state store
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import graft.operators.VectorOps
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, Array[Float])]
    val centroids = Seq(
      (0, Array(1.0f, 0.0f)), (1, Array(0.0f, 1.0f)))
      .toDF("cid", "cvec")
    val assigned = VectorOps.ivfAssign(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", centroids)
    val q = assigned.writeStream.format("memory")
      .queryName("ann_stream").outputMode("append").start()
    try {
      mem.addData((10L, Array(0.9f, 0.1f)), (11L, Array(0.2f, 0.8f)))
      q.processAllAvailable()
      val got = spark.table("ann_stream").collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("bucket"))).toMap
      assert(got == Map(10L -> 0, 11L -> 1))
    } finally q.stop()
  }

  test("lsh scores equal brute-force scores; recall is nonzero and deterministic") {
    val exact = asMap("ann_topk").map { case (q, rs) => q -> rs.toMap }
    val lsh = asMap("ann_lsh")
    assert(lsh.nonEmpty)
    lsh.foreach { case (q, rs) =>
      rs.foreach { case (v, cos) =>
        // the bucketed search re-ranks with the exact cosine — any hit
        // shared with the exact top-10 must carry the identical score
        exact(q).get(v).foreach(expected => assert(expected == cos, s"q=$q v=$v"))
      }
    }
    val exactSets = asMap("ann_topk").map { case (q, rs) => q -> rs.map(_._1).toSet }
    val lshSets = lsh.map { case (q, rs) => q -> rs.map(_._1).toSet }
    val recalls = exactSets.keys.toSeq.sorted.map { q =>
      exactSets(q).intersect(lshSets.getOrElse(q, Set.empty)).size.toDouble /
        exactSets(q).size
    }
    val mean = recalls.sum / recalls.size
    info(s"lsh mean recall@10 = $mean")
    assert(mean > 0.0, s"zero recall: $recalls")
    assert(asMap("ann_lsh").map { case (q, rs) => q -> rs.map(_._1).toSet } == lshSets)
  }

  test("hll approx distinct stays within 10% of exact on the fixture") {
    import org.apache.spark.sql.functions._
    val li = Tables.load(spark, sf, "lineitem")
    val r = li.groupBy("l_returnflag")
      .agg(countDistinct("l_partkey").as("exact"),
        approx_count_distinct("l_partkey").as("approx"))
      .collect()
    r.foreach { row =>
      val e = row.getAs[Long]("exact").toDouble
      val a = row.getAs[Long]("approx").toDouble
      assert(math.abs(a - e) / e <= 0.10,
        s"HLL estimate $a too far from exact $e for ${row.get(0)}")
    }
  }

  test("knnGraph cell path: exact scores, recall floor, determinism") {
    import graft.operators.VectorOps
    val e = Tables.load(spark, sf, "embeddings")
    def lists(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[(Long, Double)]] =
      df.collect()
        .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"), r.getAs[Double]("cos_r")))
        .groupBy(_._1)
        .map { case (q, rows) => q -> rows.map(t => (t._2, t._3)).toSeq }
    // exactBlockMax = 0 forces the big-block IVF-cell path on the small
    // fixture; MaxValue forces the exact all-pairs rendering (what the
    // oracle pins). Same k, so per-query recall is directly comparable.
    // 8 cells / 4 probes: the fixture's embeddings are near-uniform in
    // 64-d (no real cluster structure), so probe recall is ≈ the probed
    // fraction — 0.68 measured at this configuration (1.0 at nProbe = 8
    // trivially). Real embedding corpora cluster, putting neighbors in
    // the probed cells far more often than the uniform bound.
    val exact = lists(VectorOps.knnGraph(e, 5, exactBlockMax = Long.MaxValue))
    val cell = lists(VectorOps.knnGraph(e, 5, exactBlockMax = 0,
      nCells = 8, nProbe = 4))
    assert(cell.nonEmpty)
    // any neighbor the cell path returns carries the identical rounded
    // cosine — the rerank is exact, only the candidate set is pruned
    cell.foreach { case (q, rs) =>
      val ex = exact(q).toMap
      rs.foreach { case (n, c) =>
        ex.get(n).foreach(expected => assert(expected == c, s"q=$q n=$n")) }
    }
    val recalls = exact.keys.toSeq.sorted.map { q =>
      val hit = cell.getOrElse(q, Seq.empty).map(_._1).toSet
      exact(q).map(_._1).toSet.intersect(hit).size.toDouble / exact(q).size
    }
    val mean = recalls.sum / recalls.size
    info(s"knnGraph cell-path mean recall@5 = $mean")
    // deterministic fixture + deterministic Lloyd training → stable value
    // (0.681 measured); floor pinned just below to catch regressions
    assert(mean >= 0.6, s"knnGraph cell-path recall regressed: $mean")
    val again = lists(VectorOps.knnGraph(e, 5, exactBlockMax = 0,
      nCells = 8, nProbe = 4))
    assert(again == cell, "cell path nondeterministic")
  }

  test("ivf recall@10 against brute force is nonzero and deterministic") {
    val exact = asMap("ann_topk").map { case (q, rs) => q -> rs.map(_._1).toSet }
    val ivf = ivfRetrieval().map { case (q, rs) => q -> rs.map(_._1).toSet }
    val recalls = exact.keys.toSeq.sorted.map { q =>
      val hit = ivf.getOrElse(q, Set.empty)
      exact(q).intersect(hit).size.toDouble / exact(q).size
    }
    val mean = recalls.sum / recalls.size
    info(s"ivf mean recall@10 = $mean")
    // deterministic fixture + deterministic training -> exact value 0.82
    // with spherical-k-means centroids (was lower with raw id-sampled
    // centroids); floor pinned just below to catch regressions
    assert(mean >= 0.8, s"recall regressed: $mean ($recalls)")
    // determinism: same run twice
    val again = ivfRetrieval().map { case (q, rs) => q -> rs.map(_._1).toSet }
    assert(again == ivf)
  }
}
