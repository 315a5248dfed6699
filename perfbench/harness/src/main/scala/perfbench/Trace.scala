package perfbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Maps the harness's monotonic clock onto the wall clock Spark's event
  * log and the checkpoint use. */
object Clock {
  private val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  def wallMs(ns: Long): Double = ns / 1e6 + offsetMs
}

/** The traced run's per-layer numbers, all observed from outside Serve:
  * the generator's and the fake's timestamps, Spark's event log
  * (`-Dspark.eventLog.*` on the Serve JVM: streaming progress, SQL
  * executions, jobs, stages, tasks), the checkpoint's file-source log
  * (`sources/0/<batch>`: spool file → batch, with the file's landing
  * time), the drop-dir sampler and the batch probes. Spans go to
  * `spans.jsonl` in the work dir. */
object Trace {
  private val mapper = new ObjectMapper()

  /** Spark's micro-batch phases in the order MicroBatchExecution runs them. */
  val phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  final case class Batch(id: Long, startMs: Double, durations: Map[String, Double], rows: Long) {
    def endMs: Double = startMs + durations.getOrElse("triggerExecution", 0.0)
  }
  final case class Action(id: Long, batch: Long, kind: String, startMs: Double, endMs: Double)
  final case class SpoolFile(name: String, landedMs: Double, batch: Long)
  final case class Span(name: String, id: String, parent: String, startMs: Double, endMs: Double,
                        attrs: Map[String, Any] = Map.empty)

  private def num(x: Double): Double = if (x.isNaN || x.isInfinite) 0.0 else x

  private def eventLines(dir: File): Iterator[JsonNode] = {
    val files = Option(dir.listFiles()).toSeq.flatten.flatMap(d =>
      if (d.isDirectory) Option(d.listFiles()).toSeq.flatten else Seq(d))
      .filter(_.getName.startsWith("events_"))
      .sortBy(f => f.getName.split("_")(1).toInt)
    files.iterator.flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines())
      .filter(_.nonEmpty).map(l => mapper.readTree(l))
  }

  /** The checkpoint's file-source log: every spool file, when it landed
    * (its modification time) and the batch that read it. */
  def spoolFiles(ckpt: File): Seq[SpoolFile] =
    Option(new File(ckpt, "sources/0").listFiles()).toSeq.flatten
      .filter(f => !f.getName.startsWith(".") && f.isFile)
      .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines().filter(_.startsWith("{")).map { l =>
        val n = mapper.readTree(l)
        SpoolFile(new File(n.get("path").asText()).getName, n.get("timestamp").asDouble(), n.get("batchId").asLong())
      })
      .groupBy(_.name).values.map(_.head).toSeq

  def perLayer(r: Result, work: File, serve: ServeProc, eventLogDir: File,
               sampler: SpoolSampler, probes: Map[String, Double]): Seq[(String, Double, String)] = {
    val winStart = Clock.wallMs(r.windowStartNs)
    val winEnd = Clock.wallMs(r.fake.lastIndexedNs.get())
    val sendEnd = Clock.wallMs(r.timedSent.map(_.endNs).max)
    val winMs = winEnd - winStart
    def inWin(t: Double) = t >= winStart && t <= winEnd

    // ---- event log ----
    val batches = mutable.ArrayBuffer.empty[Batch]
    val execStart = mutable.Map.empty[Long, (Long, Double, String, String)] // id -> (root, start, kind, description)
    val actions = mutable.ArrayBuffer.empty[Action]
    var jobs, stages, tasks = 0L
    var cpuNs, runMs, gcMs, shuffleBytes = 0.0
    val pathKind = """/(SUCCESS|ERROR_ITEMS|ERROR)/batch=""".r
    val batchOf = """batch = (\d+)""".r
    eventLines(eventLogDir).foreach { e =>
      e.path("Event").asText() match {
        case ev if ev.endsWith("QueryProgressEvent") =>
          val p = e.get("progress")
          val d = p.get("durationMs").fields().asScala.map(f => f.getKey -> f.getValue.asDouble()).toMap
          val rows = p.get("sources").elements().asScala.map(_.path("numInputRows").asLong(0)).sum
          batches += Batch(p.get("batchId").asLong(),
            java.time.Instant.parse(p.get("timestamp").asText()).toEpochMilli.toDouble, d, rows)
        case ev if ev.endsWith("SQLExecutionStart") =>
          val kind = pathKind.findFirstMatchIn(e.path("physicalPlanDescription").asText())
            .map(_.group(1) match {
              case "SUCCESS" => "archive"
              case "ERROR_ITEMS" => "bulk"
              case _ => "error"
            }).getOrElse("probe")
          execStart(e.get("executionId").asLong()) =
            (e.path("rootExecutionId").asLong(-1), e.get("time").asDouble(), kind, e.path("description").asText(""))
        case ev if ev.endsWith("SQLExecutionEnd") =>
          val id = e.get("executionId").asLong()
          execStart.get(id).foreach { case (root, start, kind, _) =>
            if (root != id && root >= 0)
              execStart.get(root).flatMap(x => batchOf.findFirstMatchIn(x._4)).foreach { m =>
                actions += Action(id, m.group(1).toLong, kind, start, e.get("time").asDouble())
              }
          }
        case "SparkListenerJobStart" =>
          if (inWin(e.path("Submission Time").asDouble())) jobs += 1
        case "SparkListenerStageCompleted" =>
          if (inWin(e.path("Stage Info").path("Completion Time").asDouble())) stages += 1
        case "SparkListenerTaskEnd" =>
          if (inWin(e.path("Task Info").path("Finish Time").asDouble())) {
            val m = e.path("Task Metrics")
            tasks += 1
            cpuNs += m.path("Executor CPU Time").asDouble()
            runMs += m.path("Executor Run Time").asDouble()
            gcMs += m.path("JVM GC Time").asDouble()
            shuffleBytes += m.path("Shuffle Write Metrics").path("Shuffle Bytes Written").asDouble()
          }
        case _ => ()
      }
    }
    val winBatches = batches.filter(b => b.rows > 0 && b.startMs >= winStart - 1 && b.startMs <= winEnd).toSeq
    val winIds = winBatches.map(_.id).toSet
    val batchStart = batches.map(b => b.id -> b.startMs).toMap
    def phaseMedian(p: String) = Stats.median(winBatches.map(_.durations.getOrElse(p, 0.0)))
    val perBatchActions = winIds.toSeq.map(id => actions.filter(_.batch == id).toSeq)
    def sinkMs(kind: String) =
      Stats.median(perBatchActions.map(as => as.filter(_.kind == kind).map(a => a.endMs - a.startMs).sum))

    // ---- spool ----
    val files = spoolFiles(serve.ckptDir)
    val winFiles = files.filter(f => winIds(f.batch))
    val waits = winFiles.map(f => batchStart(f.batch) - f.landedMs)
    val sizes = sampler.files.asScala.map { case (k, v) => k -> v.bytes }.toMap
    def backlogAt(t: Double): Seq[SpoolFile] =
      files.filter(f => f.landedMs <= t && batchStart.get(f.batch).forall(_ > t))
    val backlogs = Iterator.iterate(winStart)(_ + 50).takeWhile(_ <= winEnd).map(backlogAt).toSeq

    // ---- fake ----
    val posts = r.fake.postsWithin(r.windowStartNs, r.fake.lastIndexedNs.get())

    writeSpans(new File(work, "spans.jsonl"), r, batches.toSeq, actions.toSeq, files, sampler)
    val sm = r.serveMetrics
    Seq(
      ("gen.late_p99_ms", r.lateP99Ms, "ms"),
      ("serve.peak_rss_mb", r.peakRssMb, "MB"),
      ("endpoint.accept_p50_ms", Stats.median(r.acceptMs), "ms"),
      ("endpoint.requests", sm.getOrElse("requests_total", 0L).toDouble, "count"),
      ("endpoint.rejected", sm.getOrElse("rejected_requests", 0L).toDouble, "count"),
      ("endpoint.records_landed", sm.getOrElse("records_landed", 0L).toDouble, "count"),
      ("endpoint.body_kb_p50", Stats.median(r.timed.map(_.body.length / 1024.0)), "KB"),
      ("spool.backlog_files_max", backlogs.map(_.size).maxOption.getOrElse(0).toDouble, "count"),
      ("spool.backlog_files_end", backlogAt(sendEnd).size.toDouble, "count"),
      ("spool.backlog_mb_max", backlogs.map(_.map(f => sizes.getOrElse(f.name, 0L)).sum).maxOption
        .getOrElse(0L) / 1048576.0, "MB"),
      ("spool.wait_p50_ms", Stats.pct(waits, 50), "ms"),
      ("spool.wait_p99_ms", Stats.pct(waits, 99), "ms"),
      ("batch.count", winBatches.size.toDouble, "count"),
      ("batch.files_p50", Stats.median(winIds.toSeq.map(id => winFiles.count(_.batch == id).toDouble)), "count"),
      ("batch.rows_p50", Stats.median(winBatches.map(_.rows.toDouble)), "count"),
      ("batch.trigger_p50_ms", phaseMedian("triggerExecution"), "ms"),
      ("batch.trigger_p99_ms", Stats.pct(winBatches.map(_.durations.getOrElse("triggerExecution", 0.0)), 99), "ms"),
      ("batch.idle_share", 1.0 - winBatches.map(_.durations.getOrElse("triggerExecution", 0.0)).sum / winMs, "ratio"),
      ("batch.latest_offset_ms", phaseMedian("latestOffset"), "ms"),
      ("batch.get_batch_ms", phaseMedian("getBatch"), "ms"),
      ("batch.query_planning_ms", phaseMedian("queryPlanning"), "ms"),
      ("batch.add_batch_ms", phaseMedian("addBatch"), "ms"),
      ("batch.wal_commit_ms", phaseMedian("walCommit"), "ms"),
      ("batch.commit_offsets_ms", phaseMedian("commitOffsets"), "ms"),
      ("sink.actions_per_batch", perBatchActions.map(_.size).sum.toDouble / math.max(1, winIds.size), "count"),
      ("sink.probe_ms", sinkMs("probe"), "ms"),
      ("sink.archive_ms", sinkMs("archive"), "ms"),
      ("sink.bulk_ms", sinkMs("bulk"), "ms"),
      ("sink.error_ms", sinkMs("error"), "ms"),
      ("bulk.posts", posts.size.toDouble, "count"),
      ("bulk.mb", posts.map(_.bytes.toLong).sum / 1048576.0, "MB"),
      ("bulk.docs_per_post_p50", Stats.median(posts.map(_.docs.toDouble)), "count"),
      ("bulk.fake_busy_share", r.fakeBusyShare, "ratio"),
      ("bulk.item_rejections", sm.getOrElse("bulk_item_rejections", 0L).toDouble, "count"),
      ("decode.us_per_doc", probes("decode.us_per_doc"), "us"),
      ("enrich.us_per_doc", probes("enrich.us_per_doc"), "us"),
      ("render.us_per_doc", probes("render.us_per_doc"), "us"),
      ("plan.construct_s", probes("plan.construct_s"), "s"),
      ("plan.optimize_s", probes("plan.optimize_s"), "s"),
      ("plan.physical_s", probes("plan.physical_s"), "s"),
      ("spark.jobs", jobs.toDouble, "count"),
      ("spark.stages", stages.toDouble, "count"),
      ("spark.tasks", tasks.toDouble, "count"),
      ("spark.cpu_share", cpuNs / 1e6 / (winMs * r.cpus), "ratio"),
      ("spark.gc_share", gcMs / math.max(1.0, runMs), "ratio"),
      ("spark.shuffle_mb", shuffleBytes / 1048576.0, "MB")
    ).map { case (k, v, u) => (k, num(v), u) }
  }

  /** Spans, one JSON object per line: name, id, parent, start and end
    * (wall ms). A request's `firehose.post` is the parent of its spool
    * file and of every `bulk.post` whose first document it sent (doc ids
    * carry the request sequence). Micro-batch phases are laid out in
    * execution order from the batch start (the progress event gives
    * durations only). Self time = span minus its children. */
  def writeSpans(out: File, r: Result, batches: Seq[Batch], actions: Seq[Action],
                 files: Seq[SpoolFile], sampler: SpoolSampler): Unit = {
    val spans = mutable.ArrayBuffer.empty[Span]
    val bySeq = r.all.map(q => q.seq -> q).toMap
    r.sent.foreach { s =>
      spans += Span("firehose.post", s"req-${s.seq}", null, Clock.wallMs(s.dueNs), Clock.wallMs(s.endNs),
        Map("request_id" -> bySeq(s.seq).requestId, "status" -> s.status,
          "late_ms" -> (s.startNs - s.dueNs) / 1e6))
    }
    val seqOfRid = r.all.map(q => q.requestId -> q.seq).toMap
    val batchStart = batches.map(b => b.id -> b.startMs).toMap
    files.foreach { f =>
      val parent = Option(sampler.files.get(f.name)).flatMap(s => seqOfRid.get(s.requestId)).map(q => s"req-$q").orNull
      spans += Span("spool.file", s"file-${f.name}", parent, f.landedMs,
        batchStart.getOrElse(f.batch, f.landedMs), Map("batch" -> f.batch))
    }
    batches.foreach { b =>
      spans += Span("stream.batch", s"batch-${b.id}", null, b.startMs, b.endMs, Map("rows" -> b.rows))
      var t = b.startMs
      phases.foreach { p =>
        val d = b.durations.getOrElse(p, 0.0)
        spans += Span(s"stream.$p", s"batch-${b.id}.$p", s"batch-${b.id}", t, t + d)
        t += d
      }
    }
    actions.foreach { a =>
      spans += Span("sink.action", s"sql-${a.id}", s"batch-${a.batch}.addBatch", a.startMs, a.endMs,
        Map("kind" -> a.kind))
    }
    r.fake.posts.asScala.zipWithIndex.foreach { case (p, i) =>
      spans += Span("bulk.post", s"bulk-$i", s"req-${p.firstSeq}", Clock.wallMs(p.startNs),
        Clock.wallMs(p.endNs), Map("docs" -> p.docs, "bytes" -> p.bytes))
    }
    val w = java.nio.file.Files.newBufferedWriter(out.toPath, UTF_8)
    try spans.foreach { s =>
      val n = mapper.createObjectNode()
      n.put("name", s.name); n.put("id", s.id); n.put("parent", s.parent)
      n.put("start_ms", s.startMs); n.put("end_ms", s.endMs)
      s.attrs.foreach {
        case (k, v: Int) => n.put(k, v)
        case (k, v: Long) => n.put(k, v)
        case (k, v: Double) => n.put(k, v)
        case (k, v) => n.put(k, v.toString)
      }
      w.write(mapper.writeValueAsString(n)); w.newLine()
    } finally w.close()
    selfTimes(spans.toSeq).foreach { case (name, ms) => println(f"#   self $name%-24s $ms%.1f ms") }
  }

  /** Per span name: total duration minus the part its children cover. */
  def selfTimes(spans: Seq[Span]): Seq[(String, Double)] = {
    val kids = spans.filter(_.parent != null).groupBy(_.parent)
    spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      name -> ss.map { s =>
        var covered = 0.0
        var reach = s.startMs
        kids.getOrElse(s.id, Nil).map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
          .filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
            if (b > reach) { covered += b - math.max(a, reach); reach = b }
          }
        s.endMs - s.startMs - covered
      }.sum
    }
  }
}

/** Samples Serve's drop dir every 50 ms during a traced run: when each
  * spool file's size and the request it carries. */
final class SpoolSampler(dropDir: File) {
  final case class Seen(bytes: Long, requestId: String)
  val files = new ConcurrentHashMap[String, Seen]()
  @volatile private var running = true
  private val thread = new Thread(() => {
    while (running) {
      Option(dropDir.listFiles()).foreach(_.foreach { f =>
        val name = f.getName
        if (!name.startsWith(".") && !files.containsKey(name)) {
          val rid = try {
            val src = scala.io.Source.fromFile(f)
            try {
              val line = src.getLines().next()
              val k = line.indexOf("\"request_id\":\"")
              if (k < 0) "" else line.substring(k + 14, line.indexOf('"', k + 14))
            } finally src.close()
          } catch { case _: Exception => "" }
          files.put(name, Seen(f.length(), rid))
        }
      })
      Thread.sleep(50)
    }
  }, "spool-sampler")
  thread.setDaemon(true)
  thread.start()

  def stop(): Unit = { running = false; thread.join(1000) }
}
