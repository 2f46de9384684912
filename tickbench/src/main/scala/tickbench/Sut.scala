package tickbench

import java.io.{BufferedReader, File, InputStreamReader, PrintWriter}
import java.lang.management.ManagementFactory
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._

/** Handle on the server JVM ([[ServerMain]]): started with this JVM's own
  * options and class path, driven over its stdin, stopped and waited for.
  */
final class Sut(seed: Long, work: String) {
  private val javaBin = ProcessHandle.current().info().command().orElse("java")
  // this JVM's options, heap included (run.py sets them for both)
  private val jvmOpts = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
  private val errLog = new File(work, "server.log")
  private val proc = new ProcessBuilder(
    (Seq(javaBin) ++ jvmOpts ++ Seq("-cp", System.getProperty("java.class.path"),
      "tickbench.ServerMain", seed.toString, work)).asJava)
    .redirectError(errLog)
    .start()
  private val out = new BufferedReader(new InputStreamReader(proc.getInputStream))
  private val in = new PrintWriter(proc.getOutputStream, true)

  val hello: Map[String, Any] = read()
  val port: Int = Json.num(hello, "port").toInt
  def pid: Long = proc.pid()

  private def read(): Map[String, Any] = {
    var line = out.readLine()
    while (line != null && !line.startsWith("@@ ")) line = out.readLine()
    if (line == null) throw new IllegalStateException(
      "server exited; log tail:\n" + tail())
    val m = Json.parse(line.substring(3))
    m.get("error").foreach(e => throw new IllegalStateException(s"server: $e"))
    m
  }

  private def tail(): String =
    try {
      val ls = java.nio.file.Files.readAllLines(errLog.toPath).asScala
      ls.takeRight(20).mkString("\n")
    } catch { case _: Throwable => "" }

  def call(cmd: String): Map[String, Any] = { in.println(cmd); read() }

  def stop(): Unit = {
    try in.println("quit") catch { case _: Throwable => }
    if (!proc.waitFor(60, TimeUnit.SECONDS)) {
      proc.destroyForcibly()
      proc.waitFor()
    }
  }
}
