package graft.tools

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Before/after probe for the native per-group top-k aggregate: the
  * row_number window rendering must shuffle + SORT the whole fact
  * inside each group partition; TopKAgg does map-side partial top-k
  * and shuffles one k-entry buffer per (group, partition). Times both
  * over the orders fixture (top-3 per custkey — q_topk_group vs
  * q_topk_native shapes).
  *
  *   runMain graft.tools.TopKProbe <sfDir> [reps]
  */
object TopKProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: TopKProbe <sfDir> [reps]")
    val dir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // ObjectHashAggregate falls back to SORT-based aggregation after 128
    // distinct keys per partition by default — which silently re-inserts
    // the very sort the native aggregate exists to avoid when the group
    // space is wide. Raise it so the high-cardinality regime measures
    // the aggregate, not the fallback.
    val spark = graft.EngineSession.create(s"local[$cpus]", cpus.toInt,
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "10000000")
    spark.sparkContext.setLogLevel("WARN")
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .select("o_custkey", "o_orderkey", "o_totalprice")
    orders.cache().count() // isolate operator cost from scan cost

    def time(label: String)(build: => org.apache.spark.sql.DataFrame): Unit = {
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val n = build.count()
        ((System.nanoTime() - t0) / 1e9, n)
      }
      println(f"$label%-8s min=${times.map(_._1).min}%.3f s  rows=${times.head._2}")
    }
    def window(g: String) = {
      val w = Window.partitionBy(g)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      orders.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
    }
    def native(g: String) =
      orders.groupBy(g)
        .agg(org.apache.spark.sql.graft.TopKAgg
          .topkEntries(col("o_totalprice"), col("o_orderkey"), 3).as("tk"))
        .select(col(g), posexplode(col("tk")))

    // Regime 1 — HIGH-cardinality groups (one per customer): the window's
    // per-partition radix sort has a strong constant on a local shuffle;
    // the native agg's map-side combine pays off when the shuffle is a
    // real network (k entries per (group, partition) vs every row).
    println(s"== high-cardinality groups (o_custkey)")
    // round-11: the decision is CODE now — print what TopKDispatch picks
    // so a regime regression (dispatcher choosing the loser) is visible
    // in the same output as the measured times
    println("dispatch: " + graft.operators.TopKDispatch
      .decide(orders, Seq("o_custkey"), 3))
    time("window")(window("o_custkey"))
    time("native")(native("o_custkey"))

    // Regime 2 — LOW-cardinality groups (5 order priorities): the window
    // degenerates to 5 partitions each sorting a fifth of the fact; the
    // native agg stays a near-stateless scan + tiny merge. This is the
    // regime where the rendering choice is the difference between a
    // bounded tree-reduce and a data-scale sort.
    println(s"== low-cardinality groups (o_orderpriority join key)")
    val withPrio = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderpriority").as("g")).cache()
    withPrio.count()
    def windowLow() = {
      val w = Window.partitionBy("g")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      withPrio.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
    }
    def nativeLow() =
      withPrio.groupBy("g")
        .agg(org.apache.spark.sql.graft.TopKAgg
          .topkEntries(col("o_totalprice"), col("o_orderkey"), 3).as("tk"))
        .select(col("g"), posexplode(col("tk")))
    println("dispatch: " + graft.operators.TopKDispatch
      .decide(withPrio, Seq("g"), 3))
    time("window")(windowLow())
    time("native")(nativeLow())
    spark.stop()
  }
}
