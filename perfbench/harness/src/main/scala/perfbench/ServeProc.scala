package perfbench

import java.io.File
import java.net.{HttpURLConnection, URL}
import java.util.concurrent.TimeUnit

import com.fasterxml.jackson.databind.ObjectMapper

/** The shipped `graft.streaming.Serve` main in its own JVM, driven only
  * through its command line, environment, HTTP surface and files. */
final class ServeProc(launch: Launch, dir: File, bulkUrl: String, geoDir: String,
                      cpus: Int, extraJvm: Seq[String]) {
  val dropDir = new File(dir, "drop")
  val outDir = new File(dir, "out")
  val ckptDir = new File(dir, "ckpt")
  val port: Int = { val s = new java.net.ServerSocket(0); try s.getLocalPort finally s.close() }
  val url = s"http://127.0.0.1:$port"
  private val log = new File(dir, "serve.log")
  dir.mkdirs()

  private val startNs = System.nanoTime()
  private val proc: Process = {
    // scratch files stay where the harness keeps its own (SPARK_LOCAL_DIRS
    // is inherited through the environment)
    val cmd = Seq("java") ++ launch.jvmOpts ++ Seq(s"-Xmx${ServeProc.heap}",
      s"-Djava.io.tmpdir=${System.getProperty("java.io.tmpdir")}", "-XX:-UsePerfData") ++ extraJvm ++
      Seq("-cp", launch.classpath, "graft.streaming.Serve",
        dropDir.getPath, outDir.getPath, ckptDir.getPath, bulkUrl, Inputs.index)
    val pb = new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true)
      .redirectOutput(log)
    val env = pb.environment()
    env.put("SPARK_GRAFT_HTTP_PORT", port.toString)
    env.put("SPARK_GRAFT_GEODIM", geoDir)
    env.put("SPARK_GRAFT_CPUS", cpus.toString)
    pb.start()
  }

  def pid: Long = proc.pid()

  /** Seconds from launch until `GET /ping` answers 200. */
  def awaitPing(timeoutS: Double): Double = {
    val deadline = startNs + (timeoutS * 1e9).toLong
    while (System.nanoTime() < deadline) {
      if (!proc.isAlive)
        throw new IllegalStateException(s"Serve exited with ${proc.exitValue()}; see $log")
      if (get("/ping").exists(_._1 == 200)) return (System.nanoTime() - startNs) / 1e9
      Thread.sleep(10)
    }
    throw new IllegalStateException(s"Serve did not answer /ping within $timeoutS s; see $log")
  }

  def get(path: String): Option[(Int, String)] =
    try {
      val c = new URL(url + path).openConnection().asInstanceOf[HttpURLConnection]
      c.setConnectTimeout(1000)
      c.setReadTimeout(10000)
      c.setRequestProperty("Accept", "application/json")
      val st = c.getResponseCode
      val is = if (st >= 400) c.getErrorStream else c.getInputStream
      val body = if (is == null) "" else try new String(is.readAllBytes(), "UTF-8") finally is.close()
      Some((st, body))
    } catch { case _: java.io.IOException => None }

  /** `GET /metrics` counters. */
  def metrics(): Map[String, Long] =
    get("/metrics.json").filter(_._1 == 200).map { case (_, body) =>
      val node = new ObjectMapper().readTree(body)
      val out = Map.newBuilder[String, Long]
      node.fieldNames().forEachRemaining(k => out += k -> node.get(k).asLong())
      out.result()
    }.getOrElse(Map.empty)

  /** True when every micro-batch in the checkpoint's offset log has its
    * commit file, that is no batch is running. */
  def idle(): Boolean = {
    def last(sub: String): Long = Option(new File(ckptDir, sub).listFiles()).toSeq.flatten
      .map(_.getName).filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).maxOption.getOrElse(-1L)
    last("offsets") == last("commits")
  }

  /** Start (wall ms) of every micro-batch so far, from the checkpoint's
    * offset log: `offsets/<batch>` holds the batch's `batchTimestampMs`. */
  def batchStartsMs(): Seq[Long] =
    Option(new File(ckptDir, "offsets").listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.forall(_.isDigit))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().find(_.contains("batchTimestampMs")).toSeq
        finally src.close()
      }
      .map(l => new ObjectMapper().readTree(l).get("batchTimestampMs").asLong())

  /** Peak resident set (VmHWM) of the Serve JVM, in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile(s"/proc/$pid/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  /** SIGTERM (Serve's shutdown hook stops the query between batches and
    * Spark closes its event log), then SIGKILL if it lingers. */
  def stop(): Unit = {
    proc.destroy()
    if (!proc.waitFor(30, TimeUnit.SECONDS)) {
      proc.destroyForcibly()
      proc.waitFor(10, TimeUnit.SECONDS)
    }
  }
}

object ServeProc {
  val heap = "3g"
}

/** How to launch a JVM on the built classpath: written by the harness
  * build's `launchSpec` task (classpath line, then one JVM option per
  * line; the heap size is left out, each launcher sets its own). */
final case class Launch(classpath: String, jvmOpts: Seq[String])

object Launch {
  def read(path: String): Launch = {
    val lines = scala.io.Source.fromFile(path).getLines().toList
    Launch(lines.head, lines.tail.filter(_.nonEmpty))
  }
}
