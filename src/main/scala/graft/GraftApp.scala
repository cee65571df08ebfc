package graft

import org.apache.spark.sql.SparkSession

import graft.console.{ConsoleServer, GraftConsole}

/** Standalone boot, the reference's `das/DAS.java` analog: start a local
  * Spark session, load a dcafs settings.xml if given (streams, paths,
  * email, matrix, task managers — `GraftConsole.execute("settings:load")`
  * wires them all), then serve the console over TCP on the `<telnet>`
  * node's port (default 2323) until killed.
  *
  * {{{ sbt "runMain graft.GraftApp [settings.xml]" }}}
  */
object GraftApp {

  /** The boot wiring, separated from main so it is testable: load the
    * settings file (if any) through the console, read its `<telnet>`
    * node, serve. Returns the console and the started server.
    */
  def boot(spark: SparkSession, settingsFile: Option[String]): (GraftConsole, ConsoleServer) = {
    val console = new GraftConsole(spark)
    val telnetCfg = settingsFile.flatMap { f =>
      println(console.execute(s"settings:load,$f"))
      DcafsXml.parseTelnet(new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)),
        java.nio.charset.StandardCharsets.UTF_8))
    }
    val (port, title) = telnetCfg.getOrElse((2323, "graft"))
    val server = new ConsoleServer(spark, console, port, title).start()
    (console, server)
  }

  def main(args: Array[String]): Unit = {
    val spark = EngineSession.create(
      sys.env.getOrElse("SPARK_MASTER", "local[*]"), 32,
      "spark.app.name" -> "graft", "spark.ui.enabled" -> "true")
    val (_, server) = boot(spark, args.headOption)
    println(s"graft console listening on port ${server.boundPort}")
    Thread.currentThread().join() // serve until killed
  }
}
