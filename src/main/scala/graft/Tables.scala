package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Fixture-table access (TESTDATA.md). One parquet file per table.
  *
  * A fixture file's schema is inferred once per JVM and file stamp, not
  * on every load: `spark.read.parquet` without a schema runs a Spark job
  * that reads the footer, and that job was the only build-time job of
  * most board rows. The stamp is the file's last-modified time at full
  * precision plus its size, so a rewrite that keeps both is not seen.
  * A path that is not a regular file (a directory of part files) is
  * read as before, inferring every time.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The SQL confs Spark 4.1's `ParquetToSparkSchemaConverter` reads: the
    * same file infers another schema when any of them differs, so each
    * value is part of the cache key.
    */
  private val converterConfs: Seq[String] = Seq(
    SQLConf.PARQUET_BINARY_AS_STRING, SQLConf.PARQUET_INT96_AS_TIMESTAMP,
    SQLConf.CASE_SENSITIVE, SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
    SQLConf.LEGACY_PARQUET_NANOS_AS_LONG, SQLConf.PARQUET_FIELD_ID_READ_ENABLED,
    SQLConf.PARQUET_IGNORE_VARIANT_ANNOTATION,
    SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION).map(_.key)

  /** One fixture file as last resolved: its stamp, the schema inferred
    * at that stamp and, once asked for, its row count.
    */
  private final class Resolved(val stamp: (FileTime, Long), val schema: StructType) {
    @volatile var rows: Long = -1L
  }

  private val resolved = new ConcurrentHashMap[(String, Seq[String]), Resolved]()

  /** The file's entry, inferring its schema on the first call and after
    * its stamp changes; None when `path` is not a regular file.
    */
  private def resolve(spark: SparkSession, path: String): Option[Resolved] = {
    val file = Paths.get(path).toAbsolutePath
    val attrs =
      try Some(Files.readAttributes(file, classOf[BasicFileAttributes]))
      catch { case _: java.io.IOException => None }
    attrs.filter(_.isRegularFile).map { a =>
      // stamp before inference: a rewrite racing the footer read leaves
      // an entry whose stamp is already stale, never a stale schema
      val stamp = (a.lastModifiedTime, a.size)
      val key = (file.toString, converterConfs.map(spark.conf.get))
      val hit = resolved.get(key)
      if (hit != null && hit.stamp == stamp) hit
      else {
        // inferred outside any map lock (a Spark job must not run inside
        // computeIfAbsent); two threads resolving one new file both infer
        // the same schema and the later put wins
        val r = new Resolved(stamp, spark.read.parquet(path).schema)
        resolved.put(key, r)
        r
      }
    }
  }

  /** The table's path and entry, under the conf every load reads with. */
  private def fixture(spark: SparkSession, sfDir: String,
      name: String): (String, Option[Resolved]) = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$sfDir/$name.parquet"
    (path, resolve(spark, path))
  }

  /** events.ts normalization — the fixture generator has shipped it as
    * TIMESTAMP(NANOS) (read as long under nanosAsLong, converted here) and
    * as TIMESTAMP(MICROS) without timezone (read as TIMESTAMP_NTZ, cast to
    * session-TZ timestamp — identical instants since every session pins
    * UTC). Dispatch on the read type so either vintage of testdata loads
    * to the same TimestampType column. Oracle queries must emit
    * epoch_ms/strftime rather than raw ns timestamps so both sides agree
    * on precision.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val (path, entry) = fixture(spark, sfDir, name)
    val df = entry.fold(spark.read.parquet(path))(
      e => spark.read.schema(e.schema).parquet(path))
    if (name == "events") df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", expr("cast(ts as timestamp)"))
      case _ => df
    }
    else df
  }

  /** The table's row count, counted once per file stamp; for sizing a
    * plan (a sample stride, a support threshold) from the whole table.
    */
  def rowCount(spark: SparkSession, sfDir: String, name: String): Long =
    fixture(spark, sfDir, name)._2 match {
      case Some(e) =>
        if (e.rows < 0) e.rows = load(spark, sfDir, name).count()
        e.rows
      case None => load(spark, sfDir, name).count()
    }
}

/** One verifiable query: a Spark build plus (optionally) the equivalent
  * DuckDB SQL oracle. Queries without an oracle get a weaker rows-only
  * check from the driver (documented per query).
  */
final case class Q(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, oracle: String)(
      build: (SparkSession, String) => DataFrame): Q =
    Q(name, build, Some(oracle))
}
