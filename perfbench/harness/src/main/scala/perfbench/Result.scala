package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** One run's outcome: output checks, end-to-end metrics, run context. */
final case class Result(wl: Workload, seed: Long, seconds: Int, traced: Boolean, cpus: Int,
                        all: Seq[Request], timed: Seq[Request], sent: Seq[Sent],
                        fake: BulkFake, twin: Map[String, Long], serveMetrics: Map[String, Long],
                        corrupt: Long, setupS: Double, peakRssMb: Double, drained: Boolean,
                        firstBatchMs: Option[Long]) {
  var perLayer: Seq[(String, Double, String)] = Nil
  var loadStart = ""
  var loadEnd = ""
  var commit = ""

  private val timedSeqs = timed.map(_.seq).toSet
  val timedSent: Seq[Sent] = sent.filter(s => timedSeqs(s.seq))

  // ---- end-to-end metrics ----
  val acceptMs: Seq[Double] = timedSent.map(s => (s.endNs - s.dueNs) / 1e6)
  val lateMs: Seq[Double] = timedSent.map(s => (s.startNs - s.dueNs) / 1e6)
  val timedDocs: Long = fake.timedDocs.get()
  val windowStartNs: Long = timedSent.map(_.dueNs).min
  /** Timed from the first micro-batch of the window, so the wait for the
    * first trigger is left out. */
  val docsPerS: Double =
    firstBatchMs.fold(Double.NaN)(t0 => timedDocs / ((Clock.wallMs(fake.lastIndexedNs.get()) - t0) / 1e3))
  val lateP99Ms: Double = Stats.pct(lateMs, 99)
  val fakeBusyShare: Double = fake.busyShare(windowStartNs, fake.lastIndexedNs.get())
  val acceptTail: Double = Stats.tailPct(acceptMs.size)
  val indexedTail: Double = Stats.tailPct(timedDocs)

  // ---- output checks ----
  /** Per request: non-200, or any expected doc missing / indexed with
    * content differing from the batch twin. */
  val failedRequests: Seq[(String, String)] = {
    val status = sent.map(s => s.seq -> s.status).toMap
    all.flatMap { q =>
      val st = status.getOrElse(q.seq, -1)
      val ids = q.docIds
      val missing = ids.count(id => !fake.index.containsKey(id))
      val wrong = ids.count(id => Option(fake.index.get(id)).exists(h => !twin.get(id).contains(h.longValue)))
      val notInTwin = ids.count(id => !twin.contains(id))
      if (st != 200) Some(q.requestId -> s"HTTP $st")
      else if (missing + wrong + notInTwin > 0)
        Some(q.requestId -> s"$missing missing, $wrong differ from the batch twin, $notInTwin absent from the twin")
      else None
    }
  }
  val unexpectedDocs: Long = {
    val expected = all.iterator.flatMap(_.docIds).toSet
    fake.index.keySet().asScala.count(id => !expected(id)).toLong
  }
  val deadLettered: Long = serveMetrics.getOrElse("documents_dead_lettered", -1L)
  val problems: Seq[String] =
    failedRequests.take(5).map { case (r, why) => s"request $r: $why" } ++
      (if (failedRequests.size > 5) Seq(s"... ${failedRequests.size - 5} more failed requests") else Nil) ++
      (if (unexpectedDocs > 0) Seq(s"$unexpectedDocs indexed ids were never sent") else Nil) ++
      (if (deadLettered != corrupt) Seq(s"/metrics documents_dead_lettered=$deadLettered, expected $corrupt corrupt records") else Nil) ++
      (if (!drained) Seq("not every expected document was indexed before the drain timeout") else Nil) ++
      (if (firstBatchMs.isEmpty) Seq("no micro-batch of the window in the checkpoint's offset log") else Nil) ++
      harnessHealth
  /** The numbers measure Serve only while the harness keeps up: the open
    * loop sends on schedule and the fake is mostly idle. */
  def harnessHealth: Seq[String] =
    (if (wl.openLoopRate.isDefined && lateP99Ms > Result.maxLateP99Ms)
      Seq(f"generator fell behind its schedule: gen.late_p99_ms $lateP99Ms%.1f > ${Result.maxLateP99Ms}") else Nil) ++
      (if (fakeBusyShare > Result.maxFakeBusyShare)
        Seq(f"the _bulk fake was busy $fakeBusyShare%.2f of the window > ${Result.maxFakeBusyShare}") else Nil)
  val attempted: Int = all.size
  val failed: Int = failedRequests.size
  def correct: Boolean = problems.isEmpty

  def endToEnd: Seq[(String, Double, String)] = Seq(
    ("setup_s", setupS, "s"),
    ("docs_per_s", docsPerS, "docs/s"),
    ("indexed_p50_ms", fake.latency.pctMs(50), "ms"),
    ("indexed_tail_ms", fake.latency.pctMs(indexedTail), "ms"))

  /** Input properties of the timed requests. */
  def inputs: Seq[(String, Any)] = {
    val recs = timed.flatMap(_.records)
    Seq(
      "requests" -> timed.size,
      "warmup_requests" -> (all.size - timed.size),
      "loop" -> wl.openLoopRate.fold(s"closed, $cpus connections")(r => s"open, $r requests/s"),
      "records_per_request" -> recs.size.toDouble / timed.size,
      "events_per_record" -> wl.shape.eventsPerRecord,
      "docs" -> timed.map(_.docIds.size).sum,
      "axway_share" -> recs.count(_.axway).toDouble / recs.size,
      "corrupt_share" -> recs.count(_.corrupt).toDouble / recs.size,
      "tenants" -> timed.map(_.accessKey).distinct.size,
      "body_kb_p50" -> Stats.median(timed.map(_.body.length / 1024.0)),
      "accept_tail_percentile" -> acceptTail,
      "indexed_tail_percentile" -> indexedTail,
      "accept_samples" -> acceptMs.size,
      "indexed_samples" -> timedDocs)
  }

  def report(file: File): Unit = {
    val m = new ObjectMapper()
    val rec = m.createObjectNode()
    rec.put("workload", wl.name); rec.put("seed", seed); rec.put("seconds", seconds)
    rec.put("trace", traced); rec.put("commit", commit); rec.put("nproc", Runtime.getRuntime.availableProcessors())
    rec.put("spark_graft_cpus", cpus); rec.put("loadavg_start", loadStart); rec.put("loadavg_end", loadEnd)
    val in = rec.putObject("inputs")
    inputs.foreach {
      case (k, v: Int) => in.put(k, v)
      case (k, v: Long) => in.put(k, v)
      case (k, v: Double) => in.put(k, v)
      case (k, v) => in.put(k, v.toString)
    }
    rec.put("correct", correct); rec.put("attempted", attempted); rec.put("failed", failed)
    rec.put("failed_ratio", failed.toDouble / attempted)
    val probs = rec.putArray("problems"); problems.foreach(probs.add)
    rec.put("gen_late_p99_ms", lateP99Ms)
    rec.put("fake_busy_share", fakeBusyShare)
    rec.put("accept_p50_ms", Stats.median(acceptMs))
    val e2e = rec.putObject("end_to_end")
    endToEnd.foreach { case (k, v, u) => e2e.putObject(k).put("value", v).put("unit", u) }
    val pl = rec.putObject("per_layer")
    perLayer.foreach { case (k, v, u) => pl.putObject(k).put("value", v).put("unit", u) }
    java.nio.file.Files.write(file.toPath, m.writerWithDefaultPrettyPrinter().writeValueAsBytes(rec))

    println(s"# ${wl.name} seed=$seed seconds=$seconds trace=${if (traced) 1 else 0} nproc=$cpus " +
      s"commit=$commit loadavg $loadStart -> $loadEnd")
    inputs.foreach { case (k, v) => println(f"#   input $k%-24s $v") }
    problems.foreach(p => println(s"# CHECK FAILED: $p"))
    println(f"#   failed_ratio             ${failed.toDouble / attempted}%.4f ($failed of $attempted requests)")
    println(f"#   gen.late_p99_ms          $lateP99Ms%.3f ms (limit ${Result.maxLateP99Ms} on the open loop)")
    println(f"#   bulk.fake_busy_share     $fakeBusyShare%.4f (limit ${Result.maxFakeBusyShare})")
    println(f"#   accept_p50_ms            ${Stats.median(acceptMs)}%.4f ms")
    if (acceptTail > 50) println(f"#   accept_p${acceptTail}%.0f_ms           ${Stats.pct(acceptMs, acceptTail)}%.4f ms")
    (endToEnd ++ perLayer).foreach { case (k, v, u) => println(f"#   $k%-24s $v%.4f $u") }
    val out = m.createObjectNode()
    out.put("correct", correct); out.put("attempted", attempted); out.put("failed", failed)
    val mo = out.putObject("metrics")
    (if (traced) perLayer else endToEnd).foreach { case (k, v, u) => mo.putObject(k).put("value", v).put("unit", u) }
    println(new String(m.writeValueAsBytes(out), UTF_8))
  }
}

object Result {
  /** Harness-health limits: past them a run fails its checks. */
  val maxLateP99Ms = 20.0
  val maxFakeBusyShare = 0.5
}
