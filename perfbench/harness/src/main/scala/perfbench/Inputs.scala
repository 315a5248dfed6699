package perfbench

import java.io.ByteArrayOutputStream
import java.util.Base64
import java.util.zip.GZIPOutputStream

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Synth
import graft.streaming.{IngestPipeline, Pipeline}

/** One Firehose delivery request, fully built before the timed window. */
final case class Request(seq: Int, requestId: String, accessKey: String, batchMs: Long,
                         body: Array[Byte], records: Seq[Record]) {
  def docIds: Seq[String] = records.flatMap(_.docIds)
}

/** One Firehose record: a base64'd gzip'd CloudWatch envelope. A corrupt
  * record carries a truncated gzip stream and must dead-letter. */
final case class Record(data: String, docIds: Seq[String], axway: Boolean, corrupt: Boolean)

/** The shape of one workload's traffic. `axwayShare = None` keeps
  * Synth's own log-group mix (a quarter axway). */
final case class Shape(tenants: Int, recordsPerRequest: Int, eventsPerRecord: Int,
                       axwayShare: Option[Double], corruptShare: Double)

/** Seeded inputs: a synthetic `events` table (the schema of the repo's
  * testdata) written under the run's work dir; then Firehose requests cut from
  * `Synth.accessLog` / `Synth.eventsWithMsg` rows, and the batch twin of
  * the service path over the same records. */
object Inputs {
  val index = "logs"
  private val mapper = new ObjectMapper()

  /** Write `events.parquet`, `rows` rows drawn from `seed`, into `dir`. */
  def writeEvents(spark: SparkSession, dir: String, seed: Long, rows: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val types = Array("view", "click", "signup", "purchase", "error")
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L
    val spanUs = 30L * 86400L * 1000000L
    val offsets = Array.fill(rows)((rnd.nextDouble() * spanUs).toLong).sorted
    val evs = (0 until rows).map { i =>
      val us = t0 + offsets(i)
      val ts = new java.sql.Timestamp(us / 1000L)
      ts.setNanos(((us % 1000000L) * 1000L).toInt)
      Row(i.toLong, ts, rnd.nextInt(1500).toLong, types(rnd.nextInt(types.length)),
        math.round(rnd.nextDouble() * 15000.0) / 100.0, s"""{"k": ${rnd.nextInt(100)}}""")
    }
    val evSchema = StructType.fromDDL(
      "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")
    spark.createDataFrame(spark.sparkContext.parallelize(evs, 1), evSchema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  /** A source row: what one log event is cut from. */
  final case class Src(tsMs: Long, eventType: String, logGroup: String,
                       line: String, msg: String)

  /** The source rows of the seeded tables in `dir`, in event order. */
  def sourceRows(spark: SparkSession, dir: String): Array[Src] =
    Synth.accessLog(spark, dir)
      .join(Synth.eventsWithMsg(spark, dir).select("event_id", "msg"), "event_id")
      .orderBy("event_id")
      .select("ts_ms", "event_type", "loggroup", "line", "msg")
      .collect()
      .map(r => Src(r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getString(4)))

  private def gzip(bytes: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(bytes)
    gz.close()
    bos.toByteArray
  }

  /** Build requests `seq0 until seq0 + n` of `shape` from the source
    * rows `src`. Rows are consumed round-robin from a seeded start;
    * doc ids encode the request sequence (`q<seq>r<record>e<event>`) so
    * every id is unique and the fake can time a document against its
    * request's send. Exactly one record in 1/corruptShare (at seeded
    * positions) carries a truncated gzip stream. Records are planned in
    * order, then encoded on `threads` threads. */
  def requests(src: Array[Src], seed: Long, seq0: Int, n: Int, shape: Shape,
               threads: Int): IndexedSeq[Request] = {
    val rnd = new scala.util.Random(seed * 31 + 7 + seq0)
    val period = math.max(1, math.round(1.0 / shape.corruptShare).toInt)
    val phase = rnd.nextInt(period)
    var cursor = rnd.nextInt(src.length)
    var recordNo = 0
    // (request seq, record, first source row, axway, corrupt)
    val plan = for (seq <- seq0 until seq0 + n; r <- 0 until shape.recordsPerRequest) yield {
      val axway = shape.axwayShare.fold(src(cursor % src.length).logGroup.contains("axway"))(
        rnd.nextDouble() < _)
      val p = (seq, r, cursor, axway, recordNo % period == phase)
      cursor += shape.eventsPerRecord
      recordNo += 1
      p
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = plan.map { case (seq, r, first, axway, corrupt) =>
        pool.submit(() => record(src, seq, r, first, axway, corrupt, seq % shape.tenants, shape))
      }
      val records = futures.map(_.get())
      (seq0 until seq0 + n).zip(records.grouped(shape.recordsPerRequest).toSeq).map {
        case (seq, recs) =>
          val batchMs = 1700000000000L + seq
          val rid = s"bench-$seed-$seq"
          val body = mapper.createObjectNode()
          body.put("requestId", rid)
          body.put("timestamp", batchMs)
          val arr = body.putArray("records")
          recs.foreach(rec => arr.addObject().put("data", rec.data))
          Request(seq, rid, s"tenant-${seq % shape.tenants}-key", batchMs,
            mapper.writeValueAsBytes(body), recs)
      }
    } finally pool.shutdown()
  }

  private def record(src: Array[Src], seq: Int, r: Int, first: Int, axway: Boolean,
                     corrupt: Boolean, tenant: Int, shape: Shape): Record = {
    val group = if (axway) "/axway/prod/http-access" else s"/app/${src(first % src.length).eventType}"
    val ids = (0 until shape.eventsPerRecord).map(e => s"q${seq}r${r}e$e")
    val env = mapper.createObjectNode()
    env.put("messageType", "DATA_MESSAGE")
    env.put("owner", "123456789012")
    env.put("logGroup", group)
    env.put("logStream", s"stream-$tenant-${r % 4}")
    env.putArray("subscriptionFilters").add("bench")
    val evs = env.putArray("logEvents")
    ids.zipWithIndex.foreach { case (id, e) =>
      val s = src((first + e) % src.length)
      val ev = evs.addObject()
      ev.put("id", id)
      ev.put("timestamp", s.tsMs)
      ev.put("message", if (axway) s.line else s.msg)
    }
    val gz = gzip(mapper.writeValueAsBytes(env))
    val data = Base64.getEncoder.encodeToString(
      if (corrupt) java.util.Arrays.copyOf(gz, gz.length / 2) else gz)
    Record(data, if (corrupt) Nil else ids, axway, corrupt)
  }

  /** The envelope frame Serve's spool would hold for `reqs`. */
  def frame(spark: SparkSession, reqs: Seq[Request]): DataFrame = {
    var eventId = 0L
    val rows = reqs.flatMap(q => q.records.map { rec =>
      eventId += 1
      Row(eventId, q.batchMs, rec.data, q.requestId, q.accessKey)
    })
    spark.createDataFrame(spark.sparkContext.parallelize(rows,
      spark.sparkContext.defaultParallelism), graft.streaming.SourceConfig.schema)
  }

  /** The service path's document transform as batch calls:
    * decode (`Pipeline.route`) → enrich → render. */
  def docs(frame: DataFrame): DataFrame = Pipeline.route(frame)._1
  def enriched(frame: DataFrame, geoDir: String): DataFrame =
    IngestPipeline.enrich(docs(frame),
      Some(IngestPipeline.geoDimFromNation(frame.sparkSession, geoDir)))
  def rendered(frame: DataFrame, geoDir: String): DataFrame =
    Pipeline.toBulkNdjsonKeyed(enriched(frame, geoDir), index)

  /** Per-`_id` content hash of the twin's `_bulk` lines, computed by the
    * same code the fake hashes what it receives with. */
  def twinHashes(frame: DataFrame, geoDir: String): Map[String, Long] = {
    val spark = frame.sparkSession
    import spark.implicits._
    rendered(frame, geoDir).select("lines").as[String]
      .map(l => BulkFake.idAndHash(l.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      .collect().toMap
  }
}
