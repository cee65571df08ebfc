package graft.tools

import org.apache.spark.sql.functions._

/** Scale-fixture generator: blow the sf0.1 corpus tables up by an integer
  * factor so operator scaling can be MEASURED rather than argued
  * (docs/SCALE_CURVES.md). Usage:
  *
  *   runMain graft.tools.ScaleFixture <srcSfDir> <outDir> <factor>
  *
  * Density-preserving by construction — naive row duplication would be a
  * degenerate scale test for a dedup engine (every doc gains factor-1
  * exact twins, so candidate pairs grow quadratically in the factor and
  * the measurement conflates data volume with workload blow-up):
  *  - documents: each copy k rewrites the text with a seeded
  *    Fisher-Yates word shuffle (seed = xxhash(doc_id, k)), so token/
  *    length statistics are preserved but word-order shingles differ
  *    across copies — near-dup density per row stays at the source
  *    corpus's rate. Copy 0 is the original.
  *  - embeddings: each copy k>0 gets a fresh deterministic pseudo-random
  *    unit vector (md5-derived gaussians keyed by vec_id and k) with the
  *    source row's label, preserving dimension and label-block shape
  *    without manufacturing cosine near-dups of the source.
  * Ids are offset by k * 10^9 so copies never collide.
  */
object ScaleFixture {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleFixture <srcSfDir> <outDir> <factor>")
    val Array(src, out, facS) = args
    val factor = facS.toInt
    require(factor >= 1 && factor <= 100, "factor in [1,100]")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.EngineSession.create(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val copies = spark.range(factor).select(col("id").cast("int").as("k"))
    docs.crossJoin(broadcast(copies))
      .select(
        (col("doc_id") + col("k").cast("long") * 1000000000L).as("doc_id"),
        when(col("k") === 0, col("text"))
          .otherwise(shuffleWordsExpr(col("text"),
            xxhash64(col("doc_id"), col("k")))).as("text"),
        col("lang"), col("source"), col("n_chars"))
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    emb.crossJoin(broadcast(copies))
      .select(
        (col("vec_id") + col("k").cast("long") * 1000000000L).as("vec_id"),
        when(col("k") === 0, col("embedding"))
          .otherwise(randomUnitVec(col("vec_id"), col("k"), dim))
          .as("embedding"),
        col("label"))
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // Fact tables blow up with CONSISTENT key offsets (copy k shifts
    // custkey/orderkey/user ids by k*10^9, preserving every FK chain), so
    // join/window/stateful rows measure 10x facts against unchanged
    // dimensions — the realistic shape of growth. Dims pass through.
    def off(c: String): org.apache.spark.sql.Column =
      col(c) + col("k").cast("long") * 1000000000L
    spark.read.parquet(s"$src/events.parquet").crossJoin(broadcast(copies))
      .select(off("event_id").as("event_id"), col("ts"),
        off("user_id").as("user_id"), col("event_type"), col("value"),
        col("props"))
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    spark.read.parquet(s"$src/customer.parquet").crossJoin(broadcast(copies))
      .select(off("c_custkey").as("c_custkey"), col("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$out/customer.parquet")
    spark.read.parquet(s"$src/orders.parquet").crossJoin(broadcast(copies))
      .select(off("o_orderkey").as("o_orderkey"),
        off("o_custkey").as("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    spark.read.parquet(s"$src/lineitem.parquet").crossJoin(broadcast(copies))
      .select(off("l_orderkey").as("l_orderkey"), col("l_partkey"),
        col("l_suppkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    Seq("region", "nation", "supplier", "part").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    println(s"scale fixture x$factor written to $out")
    spark.stop()
  }

  /** Seeded Fisher-Yates shuffle of the whitespace tokens, as a Column
    * (pure builtins would need arrays_zip+sort tricks that don't give a
    * real permutation; a deterministic typed map keeps the fixture
    * generator honest — this is tooling, not a hot query path).
    */
  // private[graft]: LshRocksDbScaleSpec reuses the density-preserving
  // text scaling to build its 10x in-memory corpus
  private[graft] def shuffleWordsExpr(text: org.apache.spark.sql.Column,
      seed: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val f = udf { (t: String, s: Long) =>
      if (t == null) null
      else {
        val w = t.split("\\s+").filter(_.nonEmpty)
        val rnd = new java.util.Random(s)
        var i = w.length - 1
        while (i > 0) {
          val j = rnd.nextInt(i + 1)
          val tmp = w(i); w(i) = w(j); w(j) = tmp
          i -= 1
        }
        w.mkString(" ")
      }
    }
    f(text, seed)
  }

  /** Deterministic pseudo-random unit vector keyed by (vec_id, copy):
    * md5(vec_id, k, i) pairs drive Box-Muller gaussians, then normalize.
    */
  private def randomUnitVec(id: org.apache.spark.sql.Column,
      k: org.apache.spark.sql.Column, dim: Int): org.apache.spark.sql.Column = {
    val f = udf { (vid: Long, copy: Int) =>
      val v = new Array[Float](dim)
      var i = 0
      var norm = 0.0
      while (i < dim) {
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$vid:$copy:$i".getBytes("UTF-8"))
        val u1 = ((h(0) & 0xffL) << 24 | (h(1) & 0xffL) << 16 |
          (h(2) & 0xffL) << 8 | (h(3) & 0xffL)).toDouble / (1L << 32)
        val u2 = ((h(4) & 0xffL) << 24 | (h(5) & 0xffL) << 16 |
          (h(6) & 0xffL) << 8 | (h(7) & 0xffL)).toDouble / (1L << 32)
        val g = math.sqrt(-2 * math.log(math.max(u1, 1e-12))) *
          math.cos(2 * math.Pi * u2)
        v(i) = g.toFloat
        norm += g * g
        i += 1
      }
      val n = math.sqrt(norm).toFloat
      if (n > 0) { var j = 0; while (j < dim) { v(j) /= n; j += 1 } }
      v.toSeq
    }
    f(id, k).cast("array<float>")
  }
}
