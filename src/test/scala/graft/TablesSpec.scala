package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graft.ListenerBridge
import org.apache.spark.sql.types.{StructType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** `Tables`' per-file cache: each fixture file's schema is inferred once
  * per file stamp, its row count counted once, and a directory is read
  * as before.
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** `df` as the one-file table `dir/name.parquet`, overwriting the
    * bytes of an existing file in place.
    */
  private def writeTable(df: DataFrame, dir: Path, name: String): Unit = {
    val out = Files.createTempDirectory("tables-part").resolve("out")
    df.coalesce(1).write.parquet(out.toString)
    val part = Files.list(out).iterator().asScala
      .find(p => p.getFileName.toString.matches("part-.*\\.parquet")).get
    Files.write(dir.resolve(s"$name.parquet"), Files.readAllBytes(part))
  }

  /** Jobs started while `body` runs, counted after the listener bus has
    * delivered every event.
    */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      body
      ListenerBridge.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  test("every sf0.001 table loads with the schema a fresh read infers") {
    Tables.all.foreach { t =>
      val loaded = Seq.fill(2)(Tables.load(spark, sf, t).schema)
      val fresh = spark.read.parquet(s"$sf/$t.parquet").schema
      val want =
        if (t == "events") StructType(fresh.map(f =>
          if (f.name == "ts") f.copy(dataType = TimestampType) else f))
        else fresh
      assert(loaded == Seq(want, want), t)
    }
    assert(Tables.load(spark, sf, "events").schema("ts").dataType == TimestampType)
  }

  test("a file's first load infers its schema, a second fires no job") {
    val dir = Files.createTempDirectory("tables-jobs")
    writeTable(Seq((1, "a")).toDF("id", "s"), dir, "t")
    assert(jobsDuring(Tables.load(spark, dir.toString, "t").schema) > 0)
    assert(jobsDuring(Tables.load(spark, dir.toString, "t").schema) == 0)
    Tables.load(spark, sf, "orders").schema
    assert(jobsDuring(Tables.load(spark, sf, "orders").schema) == 0)
  }

  test("a file rewritten in place with a new schema is read with the new one") {
    val dir = Files.createTempDirectory("tables-rewrite")
    writeTable(Seq((1, "a")).toDF("id", "s"), dir, "t")
    assert(Tables.load(spark, dir.toString, "t").schema.fieldNames.toSeq == Seq("id", "s"))
    assert(Tables.rowCount(spark, dir.toString, "t") == 1L)
    writeTable(Seq((2L, 1.5, true), (3L, 2.5, false)).toDF("k", "x", "flag"), dir, "t")
    val df = Tables.load(spark, dir.toString, "t")
    assert(df.schema.fieldNames.toSeq == Seq("k", "x", "flag"))
    assert(df.orderBy("k").collect().toSeq == Seq(Row(2L, 1.5, true), Row(3L, 2.5, false)))
    assert(Tables.rowCount(spark, dir.toString, "t") == 2L)
  }

  test("a directory of part files still loads, and is not cached") {
    val dir = Files.createTempDirectory("tables-dir")
    val path = dir.resolve("d.parquet").toString
    Seq((1, "a"), (2, "b")).toDF("id", "s").repartition(2).write.parquet(path)
    val df = Tables.load(spark, dir.toString, "d")
    assert(df.schema.fieldNames.toSeq == Seq("id", "s"))
    assert(df.orderBy("id").as[(Int, String)].collect().toSeq == Seq((1, "a"), (2, "b")))
    assert(Tables.rowCount(spark, dir.toString, "d") == 2L)
    Seq((3, "c")).toDF("id", "s").write.mode("append").parquet(path)
    assert(Tables.rowCount(spark, dir.toString, "d") == 3L)
  }

  test("rowCount equals count() for every sf0.001 table") {
    Tables.all.foreach { t =>
      val n = Tables.load(spark, sf, t).count()
      assert(Tables.rowCount(spark, sf, t) == n, t)
      assert(Tables.rowCount(spark, sf, t) == n, t)
    }
  }

  test("two threads loading one new file get the same schema") {
    val dir = Files.createTempDirectory("tables-race")
    writeTable(Seq((1L, "a", 0.5)).toDF("k", "s", "x"), dir, "c")
    val pool = Executors.newFixedThreadPool(2)
    try {
      val go = new CountDownLatch(1)
      val loads = Seq.fill(2)(pool.submit(new Callable[StructType] {
        override def call(): StructType = {
          go.await()
          Tables.load(spark, dir.toString, "c").schema
        }
      }))
      go.countDown()
      val schemas = loads.map(_.get(120, TimeUnit.SECONDS))
      val fresh = spark.read.parquet(dir.resolve("c.parquet").toString).schema
      assert(schemas == Seq(fresh, fresh))
    } finally pool.shutdown()
  }
}
