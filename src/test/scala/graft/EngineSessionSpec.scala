package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.FileReplay

/** The session contract: a replay query's streaming conf is set on the
  * caller's session only while the query starts (the query keeps it, the
  * caller gets its own values back, also on a failed start and under
  * concurrent starts), and an isolated child session keeps the graft
  * dialect the parent was built with.
  */
class EngineSessionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val Parts = "spark.sql.shuffle.partitions"
  private val NoData = "spark.sql.streaming.noDataMicroBatches.enabled"
  private val Retain = "spark.sql.streaming.minBatchesToRetain"

  /** The explicitly set value of each scoped key (None = unset). */
  private def snapshot(): Seq[Option[String]] = {
    val explicit = spark.conf.getAll
    Seq(Parts, NoData, Retain).map(explicit.get)
  }

  test("a query started through FileReplay.start keeps the scoped partition count") {
    val before = snapshot()
    assert(spark.conf.get(Parts) != "3")
    val df = (1L to 40L).toDF("id").select((col("id") % 5).as("k"))
    val replay = FileReplay.stage(df, lit(0))
    val q = FileReplay.start(spark, 3) {
      replay.stream.groupBy("k").count()
        .writeStream.format("memory").queryName("engine_session_spec_scope")
        .outputMode("complete").start()
    }
    try {
      // the caller's values are back as soon as start returns ...
      assert(snapshot() == before)
      replay.feedAll(q)
      // ... while the running query's state store is 3 partitions wide
      val op = q.lastProgress.stateOperators.head
      assert(op.numShufflePartitions == 3,
        s"query ran with ${op.numShufflePartitions} state partitions")
      assert(spark.table("engine_session_spec_scope").count() == 5)
      // the query runs on the session clone its start took, which holds
      // all three scoped values (reached reflectively: both members are
      // package-private to Spark)
      val exec = q.asInstanceOf[
        org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery
      def member(name: String): AnyRef =
        exec.getClass.getMethod(name).invoke(exec)
      val own = member("sparkSessionForStream")
        .asInstanceOf[org.apache.spark.sql.SparkSession]
      assert(own.conf.get(Parts) == "3")
      assert(own.conf.get(NoData) == "false")
      assert(own.conf.get(Retain) == "2")
      assert(member("minLogEntriesToMaintain") == Int.box(2))
    } finally {
      q.stop()
      replay.close()
      spark.catalog.dropTempView("engine_session_spec_scope")
    }
    assert(snapshot() == before)
  }

  test("the caller's conf is restored when the start throws") {
    val before = snapshot()
    val e = intercept[IllegalStateException] {
      FileReplay.start(spark, 3, noDataBatches = true) {
        assert(spark.conf.get(Parts) == "3" && spark.conf.get(NoData) == "true")
        throw new IllegalStateException("start failed")
      }
    }
    assert(e.getMessage == "start failed")
    assert(snapshot() == before)
  }

  test("a key that was unset before the start is unset after it") {
    val prev = spark.conf.getAll.get(Retain)
    spark.conf.unset(Retain)
    try {
      FileReplay.start(spark, 3) {
        assert(spark.conf.get(Retain) == "2")
        null // no query needed: only the scoping is under test
      }
      assert(spark.conf.getAll.get(Retain).isEmpty,
        s"$Retain left set to ${spark.conf.get(Retain)}")
    } finally prev.foreach(spark.conf.set(Retain, _))
  }

  test("concurrent scoped starts on one session leave its conf unchanged") {
    val before = snapshot()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futs = (1 to 4).map { t =>
        pool.submit(new java.util.concurrent.Callable[Seq[String]] {
          override def call(): Seq[String] = (1 to 25).map { _ =>
            var seen = ""
            FileReplay.start(spark, 10 + t, noDataBatches = t % 2 == 0) {
              val first = spark.conf.get(Parts)
              Thread.sleep(1)
              seen = if (spark.conf.get(Parts) == first) first else "changed"
              null
            }
            seen
          }
        })
      }
      futs.zipWithIndex.foreach { case (f, i) =>
        // every start saw its own partition count for its whole duration
        assert(f.get(60, java.util.concurrent.TimeUnit.SECONDS)
          .forall(_ == (11 + i).toString))
      }
    } finally pool.shutdown()
    assert(snapshot() == before)
  }

  test("isolated sessions keep the graft rules and take their own conf") {
    import org.apache.spark.sql.catalyst.expressions.Multiply
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.graft.{AsOf, AsOfJoinExec, GraftOptimizations}
    val child = EngineSession.isolated(spark, Parts -> "7")
    assert(child ne spark)
    assert(GraftOptimizations.installed(child))
    val c = child.implicits
    import c._
    // the pow rewrite runs in the child's optimizer
    val sq = child.range(1, 4).selectExpr("pow(CAST(id AS DOUBLE), 2.0) AS p")
    val optimized = sq.queryExecution.optimizedPlan
    assert(optimized.expressions.exists(_.exists(_.isInstanceOf[Multiply])),
      s"pow(x, 2.0) not rewritten:\n$optimized")
    assert(sq.as[Double].collect().toSeq == Seq(1.0, 4.0, 9.0))
    // the as-of strategy plans the child's join
    val left = Seq((1L, 10L, 1L)).toDF("k", "t", "id")
    val right = Seq((1L, 5L, 2L)).toDF("rk", "rt", "rid")
    val out = AsOf.joinAsOf(left, right, "k", "rk", "t", "rt", "id", "rid")
    assert(out.count() == 1)
    val execs = new AdaptiveSparkPlanHelper {}
      .collect(out.queryExecution.executedPlan) { case e: AsOfJoinExec => e }
    assert(execs.nonEmpty, s"no AsOfJoinExec:\n${out.queryExecution.executedPlan}")
    assert(child.conf.get(Parts) == "7")
    assert(spark.conf.get(Parts) != "7")
  }

  test("sessions from create and their newSession() resolve the graft SQL functions") {
    for (s <- Seq(spark, spark.newSession())) {
      val r = s.sql("SELECT nmea_valid('$GPGLL,4916.45,N,12311.12,W,225444,A,*1D') " +
        "AS ok, nmea_valid('$GPGLL,4916.45,N,12311.12,W,225444,A,*1E') AS bad, " +
        "crc16_modbus('123456789') AS crc").head()
      assert(r.getBoolean(0) && !r.getBoolean(1))
      assert(r.getInt(2) == 0x4B37) // the CRC-16/MODBUS check value
    }
  }
}
