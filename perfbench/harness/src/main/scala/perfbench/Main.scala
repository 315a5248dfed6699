package perfbench

import java.io.File
import java.util.concurrent.atomic.AtomicLongArray

import org.apache.spark.sql.SparkSession

/** A service workload: what the generator sends, and how. `requests`
  * gives the number of timed requests for a `--seconds` window. */
final case class Workload(name: String, shape: Shape, openLoopRate: Option[Double],
                          requests: Int => Int, startAfterTickMs: Long)

/** The product-path benchmark harness: builds seeded Firehose inputs and
  * their batch twin, then drives the shipped `Serve` main in its own JVM
  * with a load generator on `POST /firehose` and a `_bulk` fake on the
  * other side, checks every indexed document, and prints the metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --geo DIR --launch FILE [--commit ID]
  * `--geo` holds the `nation.parquet` Serve's geoip dim derives from.
  * The last stdout line is the result object; exit status 1 on any
  * output-check failure. */
object Main {

  /** Serve's default trigger interval. Spark aligns ProcessingTime
    * triggers to wall-clock multiples of it, so a window started at a
    * fixed offset after a tick sees the same trigger phase in every run. */
  val triggerMs = 5000L

  /** Serve's spool batch size (`maxFilesPerTrigger`): one request lands
    * one spool file. */
  val spoolBatchFiles = 16

  val workloads: Map[String, Workload] = Seq(
    // many independent Firehose streams trickling in: 4 tenants, small
    // bodies, open loop well under the spool's limit of
    // maxFilesPerTrigger (16) files per 5 s trigger
    Workload("steady_small",
      Shape(tenants = 4, recordsPerRequest = 5, eventsPerRecord = 10,
        axwayShare = None, corruptShare = 0.01),
      openLoopRate = Some(2.0), requests = seconds => math.max(1, 2 * seconds),
      startAfterTickMs = 250),
    // Firehose catching up after an outage: one tenant, ~1 MB bodies,
    // mostly axway lines; a fixed backlog of one and a half spool batches
    // (24 files) pushed by a closed loop, all landing before the next
    // trigger, so two micro-batches run back to back: 16 files, then 8.
    // Spark packs a batch's files into partitions of total/cores bytes;
    // both batch sizes are multiples of 4 and 8 cores, so no straggler
    // partition makes the batch time bimodal there
    Workload("burst_large",
      Shape(tenants = 1, recordsPerRequest = 160, eventsPerRecord = 100,
        axwayShare = Some(0.9), corruptShare = 0.01),
      openLoopRate = None, requests = _ => spoolBatchFiles * 3 / 2, startAfterTickMs = 3000)
  ).map(w => w.name -> w).toMap

  /** Requests of the workload's own shape, sent and indexed before the
    * window, so the first micro-batch's one-off costs and the JIT warm-up
    * of the per-document path stay out of the numbers. */
  val warmupRequests = 4
  val eventRows = 20000

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val ok = try run(opt) catch {
      case e: Throwable =>
        e.printStackTrace()
        false
    }
    System.exit(if (ok) 0 else 1)
  }

  def loadavg(): String =
    scala.io.Source.fromFile("/proc/loadavg").getLines().next().split(" ").take(3).mkString(" ")

  private val t0Ns = System.nanoTime()
  /** Progress line on stderr (the harness log), stamped from JVM start. */
  def phase(what: String): Unit =
    System.err.println(f"[harness ${(System.nanoTime() - t0Ns) / 1e9}%7.2f s] $what")

  private def run(opt: Map[String, String]): Boolean = {
    val wl = workloads.getOrElse(opt("workload"),
      throw new IllegalArgumentException(s"unknown workload ${opt("workload")}; known: ${workloads.keys.mkString(", ")}"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt.get("trace").contains("1")
    val work = new File(opt("work")).getAbsoluteFile
    val launch = Launch.read(opt("launch"))
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val loadStart = loadavg()
    deleteTree(work)
    work.mkdirs()
    val dataDir = new File(work, "data").getPath
    val geoDir = new File(opt("geo")).getAbsolutePath

    val nTimed = wl.requests(seconds)
    val dueBySeq = new AtomicLongArray(warmupRequests + nTimed)
    val fake = new BulkFake(cpus, seq => dueBySeq.get(seq))
    fake.timedFromSeq = warmupRequests
    var serve: ServeProc = null
    var result: Result = null
    try {
      // the harness's session, seeded table and warm-up requests are made
      // before Serve starts, so the warm-up goes out as soon as it answers
      val spark = SparkSession.builder().master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      graft.GraftExtensions.install(spark)
      phase("session up")
      Inputs.writeEvents(spark, dataDir, seed, eventRows)
      phase("events written")
      val src = Inputs.sourceRows(spark, dataDir)
      phase("source rows read")
      val warm = Inputs.requests(src, seed, 0, warmupRequests, wl.shape, cpus)
      phase("warm-up built")
      // ---- set-up time: Serve launch -> /ping 200, the harness idle ----
      val eventLogDir = new File(work, "eventlog")
      if (traced) eventLogDir.mkdirs()
      serve = new ServeProc(launch, new File(work, "serve"), fake.url, geoDir, cpus,
        if (traced) Seq("-Dspark.eventLog.enabled=true", "-Dspark.eventLog.compress=false",
          s"-Dspark.eventLog.dir=file://${eventLogDir.getPath}")
        else Nil)
      val setup = serve.awaitPing(120)
      phase(s"set-up $setup s")

      // ---- Serve warms up while the harness builds the rest of the
      // inputs and the twin; neither is timed ----
      val gen = new Generator(serve.url, cpus, dueBySeq)
      val sampler = if (traced) Some(new SpoolSampler(serve.dropDir)) else None
      var warmSent: Seq[Sent] = Nil
      val warmer = new Thread(() => warmSent = gen.closedLoop(warm))
      warmer.start()
      val reqs = Inputs.requests(src, seed, warmupRequests, nTimed, wl.shape, cpus)
      val all = warm ++ reqs
      phase(s"${all.size} requests built")
      val twin = Inputs.twinHashes(Inputs.frame(spark, all), geoDir)
      phase("twin done")
      val probes =
        if (traced) Probes.run(spark, Inputs.frame(spark, Probes.sample(reqs)), geoDir)
        else Map.empty[String, Double]
      // no harness Spark work from here on
      spark.stop()
      phase("twin and probes done")
      warmer.join()
      awaitDocs(fake, warm.flatMap(_.docIds), 60)
      // the window opens on an idle Serve: a warm-up batch still running
      // at the window's start would pull its first micro-batch off the
      // trigger grid
      awaitIdle(serve, 60)
      phase("warm-up indexed and committed")

      // ---- the timed window, started at a fixed offset after a trigger
      // tick so every run sees the same trigger phase ----
      val wallNow = System.currentTimeMillis()
      val startWall = ((wallNow - wl.startAfterTickMs) / triggerMs + 1) * triggerMs + wl.startAfterTickMs
      val t0 = System.nanoTime() + (startWall - wallNow) * 1000000L
      val sent = wl.openLoopRate match {
        case Some(rate) => gen.openLoop(reqs, i => t0 + (i / rate * 1e9).toLong)
        case None =>
          while (System.nanoTime() < t0) Thread.sleep(1)
          gen.closedLoop(reqs)
      }
      phase("window sent")
      val drained = awaitDocs(fake, reqs.flatMap(_.docIds), 60)
      phase(s"drained=$drained")
      val firstBatchMs = serve.batchStartsMs().filter(_ >= startWall).minOption
      val corrupt = all.map(_.records.count(_.corrupt)).sum
      val metrics = awaitMetrics(serve, corrupt, 20)
      // the last batch commits (and logs its progress) before Serve stops
      awaitIdle(serve, 20)
      val rss = serve.peakRssMb()
      sampler.foreach(_.stop())
      serve.stop()
      phase("serve stopped")
      result = Result(wl, seed, seconds, traced, cpus, all, reqs, warmSent ++ sent, fake, twin,
        metrics, corrupt, setup, rss, drained, firstBatchMs)
      if (traced)
        result.perLayer = Trace.perLayer(result, work, serve, eventLogDir, sampler.get, probes)
    } finally {
      if (serve != null) serve.stop()
      fake.stop()
    }
    result.loadEnd = loadavg()
    result.loadStart = loadStart
    result.commit = opt.getOrElse("commit", "unknown")
    result.report(new File(work, "result.json"))
    result.correct
  }

  /** Wait until every id in `ids` is in the fake's index, or `timeoutS`
    * passes with no new document. True if all arrived. */
  def awaitDocs(fake: BulkFake, ids: Seq[String], timeoutS: Int): Boolean = {
    var have = ids.count(fake.index.containsKey)
    var lastChange = System.nanoTime()
    while (have < ids.size && System.nanoTime() - lastChange < timeoutS * 1000000000L) {
      Thread.sleep(50)
      val now = ids.count(fake.index.containsKey)
      if (now != have) { have = now; lastChange = System.nanoTime() }
    }
    have == ids.size
  }

  /** Poll `/metrics` until the dead-letter count reaches `corrupt` (it is
    * harvested after the batch's last write) or `timeoutS` passes. */
  def awaitMetrics(serve: ServeProc, corrupt: Long, timeoutS: Int): Map[String, Long] = {
    val deadline = System.nanoTime() + timeoutS * 1000000000L
    var m = serve.metrics()
    while (m.getOrElse("documents_dead_lettered", -1L) < corrupt && System.nanoTime() < deadline) {
      Thread.sleep(100)
      m = serve.metrics()
    }
    m
  }

  /** Wait until no micro-batch is running, or `timeoutS` passes. */
  def awaitIdle(serve: ServeProc, timeoutS: Int): Unit = {
    val deadline = System.nanoTime() + timeoutS * 1000000000L
    while (!serve.idle() && System.nanoTime() < deadline) Thread.sleep(20)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
