package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Calibration probe for the per-orderkey lineitem aggregate (the
  * q_tpch18 inner shape): isolates shuffle cost vs group-count cost vs
  * accumulator type, to pick the cheapest rendering that still matches
  * the decimal oracle on integral quantities.
  *
  *   runMain graft.tools.AggProbe <sfDir> [reps]
  */
object AggProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: AggProbe <sfDir> [reps]")
    val dir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.EngineSession.create(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_quantity")

    def time(label: String)(build: => org.apache.spark.sql.DataFrame): Unit = {
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val n = build.count()
        ((System.nanoTime() - t0) / 1e9, n)
      }
      println(f"$label%-16s min=${times.map(_._1).min}%.3f s  rows=${times.head._2}")
    }
    time("scan")(li)
    time("low-card-agg")(li.groupBy((col("l_orderkey") % 5).as("g"))
      .agg(sum(col("l_quantity").cast(DecimalType(18, 4)))))
    time("decimal-agg")(li.groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast(DecimalType(18, 4))).as("sq"))
      .filter(col("sq") > 300))
    time("long-agg")(li.groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast("long")).as("sq"))
      .filter(col("sq") > 300))
    time("double-agg")(li.groupBy("l_orderkey")
      .agg(sum(col("l_quantity")).as("sq"))
      .filter(col("sq") > 300))
    // partial agg over SCATTERED rows is pure hash-map churn (each map
    // partition sees ~unique keys); shuffling raw rows first makes the
    // (now co-located) partial agg do all the combining and elides the
    // post-agg exchange
    time("repart+decimal")(li.repartition(col("l_orderkey"))
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast(DecimalType(18, 4))).as("sq"))
      .filter(col("sq") > 300))
    time("repart+long")(li.repartition(col("l_orderkey"))
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast("long")).as("sq"))
      .filter(col("sq") > 300))
    spark.stop()
  }
}
