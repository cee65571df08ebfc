package graft

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.nio.file.Files
import java.sql.{Connection, DriverManager, DriverPropertyInfo, PreparedStatement}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** A JDBC driver for `jdbc:batchcount:<derby url>` that connects to
  * embedded Derby and records, per inserted table, how many rows each
  * `executeBatch` sent.
  */
class BatchCountingDriver extends java.sql.Driver {
  import BatchCountingDriver._

  override def acceptsURL(url: String): Boolean = url.startsWith(Prefix)
  override def connect(url: String, info: java.util.Properties): Connection =
    if (!acceptsURL(url)) null
    else {
      val conn = DriverManager.getConnection("jdbc:derby:" + url.stripPrefix(Prefix), info)
      proxy(classOf[Connection], conn) { (m, args, res) =>
        (m.getName, args.headOption.collect { case sql: String => sql }) match {
          case ("prepareStatement", Some(InsertInto(table))) =>
            counting(res.asInstanceOf[PreparedStatement], table)
          case _ => res
        }
      }
    }
  override def getPropertyInfo(url: String, info: java.util.Properties) =
    Array.empty[DriverPropertyInfo]
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger = java.util.logging.Logger.getGlobal
}

object BatchCountingDriver {
  val Prefix = "jdbc:batchcount:"

  /** Rows per `executeBatch`, by table name as the INSERT names it. */
  val batches = new ConcurrentHashMap[String, Vector[Int]]()

  private val InsertInto = "(?is)INSERT INTO (\\S+) .*".r

  private def proxy[T](iface: Class[T], target: T)(
      after: (Method, Seq[AnyRef], AnyRef) => AnyRef): T =
    Proxy.newProxyInstance(iface.getClassLoader, Array[Class[_]](iface),
      new InvocationHandler {
        override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
          val as = if (args == null) Seq.empty[AnyRef] else args.toSeq
          try after(m, as, m.invoke(target, as: _*))
          catch { case e: InvocationTargetException => throw e.getCause }
        }
      }).asInstanceOf[T]

  private def counting(st: PreparedStatement, table: String): PreparedStatement = {
    var pending = 0
    proxy(classOf[PreparedStatement], st) { (m, _, res) =>
      m.getName match {
        case "addBatch" => pending += 1
        case "executeBatch" =>
          batches.merge(table, Vector(pending), _ ++ _)
          pending = 0
        case _ =>
      }
      res
    }
  }
}

class JdbcSinkSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("two jdbc sinks sharing one Properties each write with their own batch size") {
    val db = Files.createTempDirectory("graft-jdbc-sink").toString + "/db"
    DriverManager.getConnection(s"jdbc:derby:$db;create=true").close()
    val url = BatchCountingDriver.Prefix + db
    val props = new java.util.Properties()
    props.setProperty("driver", classOf[BatchCountingDriver].getName)
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Int, Double)]
    val df = in.toDF().toDF("id", "val")
    val ckpt = Files.createTempDirectory("graft-jdbc-ckpt")
    val queries = Seq("sink_small" -> 2, "sink_big" -> 100).map { case (table, size) =>
      LineSinks.jdbc(df, url, table, batchSize = size, props = props)
        .option("checkpointLocation", ckpt.resolve(table).toString).start()
    }
    try {
      in.addData((1 to 6).map(i => (i, i * 0.5)))
      queries.foreach(_.processAllAvailable())
    } finally queries.foreach(_.stop())
    val got = BatchCountingDriver.batches.asScala.toMap
    assert(got("sink_small") == Vector(2, 2, 2), got)
    assert(got("sink_big") == Vector(6), got)
    assert(!props.containsKey("batchsize"), "the caller's Properties must not change")
    val conn = DriverManager.getConnection(s"jdbc:derby:$db")
    try Seq("sink_small", "sink_big").foreach { t =>
      val rs = conn.createStatement().executeQuery("SELECT COUNT(*), SUM(\"val\") FROM " + t)
      rs.next()
      assert((rs.getInt(1), rs.getDouble(2)) == ((6, 10.5)), t)
    } finally conn.close()
  }
}
