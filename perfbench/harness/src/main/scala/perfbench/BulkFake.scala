package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform

/** One `_bulk` POST as the fake saw it. */
final case class BulkPost(startNs: Long, endNs: Long, bytes: Int, docs: Int, firstSeq: Int)

/** An indexing `_bulk` endpoint standing in for OpenSearch, modelled on
  * the test suite's FaultyIndex: it keeps an index `_id` → content hash
  * (last write wins) and answers the ES bulk response shape. It stores
  * no documents: each first receipt of an `_id` is timed against its
  * request's send (the `q<seq>` prefix of the id, see Inputs) into a
  * histogram as it arrives. Per-POST bytes, docs and service time are
  * kept, so the share of wall time with a POST in service shows when
  * the fake itself is the bottleneck. */
final class BulkFake(threads: Int, sendNs: Int => Long) {
  val index = new ConcurrentHashMap[String, java.lang.Long]()
  val latency = new LatencyHistogram
  val posts = new ConcurrentLinkedQueue[BulkPost]()
  val lastIndexedNs = new AtomicLong(0L)
  /** Only documents of requests with seq ≥ this are timed (warm-up
    * requests are indexed and checked but not timed). */
  @volatile var timedFromSeq: Int = 0
  val timedDocs = new AtomicLong(0L)

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = Executors.newFixedThreadPool(threads)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/_bulk"

  def stop(): Unit = { server.stop(0); pool.shutdownNow() }

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    if (ex.getRequestMethod != "POST" || !ex.getRequestURI.getPath.endsWith("/_bulk")) {
      ex.sendResponseHeaders(404, -1); ex.close()
    } else {
      val body = ex.getRequestBody.readAllBytes()
      val items = new java.lang.StringBuilder
      var docs = 0
      var firstSeq = -1
      var pos = 0
      while (pos < body.length) {
        val actionEnd = indexOf(body, '\n', pos)
        val sourceEnd = indexOf(body, '\n', actionEnd + 1)
        val id = BulkFake.idOf(body, pos, actionEnd)
        val h = BulkFake.normalizedHash(body, actionEnd + 1, sourceEnd)
        val now = System.nanoTime()
        if (index.put(id, h) == null) {
          val seq = BulkFake.seqOf(id)
          if (firstSeq < 0) firstSeq = seq
          if (seq >= timedFromSeq) {
            latency.record(now - sendNs(seq))
            timedDocs.incrementAndGet()
            lastIndexedNs.accumulateAndGet(now, math.max)
          }
        }
        if (docs > 0) items.append(',')
        items.append("{\"index\":{\"_index\":\"").append(Inputs.index)
          .append("\",\"_id\":\"").append(id).append("\",\"status\":201}}")
        docs += 1
        pos = sourceEnd + 1
      }
      val resp = s"""{"took":1,"errors":false,"items":[$items]}""".getBytes(UTF_8)
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(200, resp.length)
      ex.getResponseBody.write(resp)
      ex.close()
      posts.add(BulkPost(t0, System.nanoTime(), body.length, docs, firstSeq))
    }
  }

  /** Posts that started within `[fromNs, toNs]`. */
  def postsWithin(fromNs: Long, toNs: Long): Seq[BulkPost] =
    posts.asScala.toSeq.filter(p => p.startNs >= fromNs && p.startNs <= toNs)

  /** Share of `[fromNs, toNs]` during which at least one POST that
    * started in it was in service. */
  def busyShare(fromNs: Long, toNs: Long): Double = {
    var covered = 0L
    var reach = Long.MinValue
    postsWithin(fromNs, toNs).sortBy(_.startNs).foreach { p =>
      if (p.endNs > reach) { covered += p.endNs - math.max(p.startNs, reach); reach = p.endNs }
    }
    covered.toDouble / (toNs - fromNs)
  }

  private def indexOf(b: Array[Byte], c: Char, from: Int): Int = {
    var i = from
    while (i < b.length && b(i) != c) i += 1
    i
  }
}

object BulkFake {
  private val idKey = "\"_id\":\"".getBytes(UTF_8)

  /** The `_id` of a `_bulk` action line `b[from, until)`. */
  def idOf(b: Array[Byte], from: Int, until: Int): String = {
    var i = from
    while (i + idKey.length <= until && !java.util.Arrays.equals(b, i, i + idKey.length, idKey, 0, idKey.length)) i += 1
    val start = i + idKey.length
    var end = start
    while (end < until && b(end) != '"') end += 1
    new String(b, start, end - start, UTF_8)
  }

  /** (`_id`, normalized content hash) of one action + source line pair. */
  def idAndHash(pair: Array[Byte]): (String, Long) = {
    var nl = 0
    while (nl < pair.length && pair(nl) != '\n') nl += 1
    val end = if (pair.nonEmpty && pair(pair.length - 1) == '\n') pair.length - 1 else pair.length
    (idOf(pair, 0, nl), normalizedHash(pair, nl + 1, end))
  }

  private val eventIdKey = "{\"event_id\":".getBytes(UTF_8)

  /** XXH64 (seed 42, Spark's `xxhash64`) of a source line with its
    * leading endpoint-minted `"event_id":<n>,` field removed — the same
    * normalization `Inputs.twinHashes` applies in SQL. */
  def normalizedHash(b: Array[Byte], from: Int, until: Int): Long = {
    var start = from
    if (until - from > eventIdKey.length &&
        java.util.Arrays.equals(b, from, from + eventIdKey.length, eventIdKey, 0, eventIdKey.length)) {
      var i = from + eventIdKey.length
      if (b(i) == '-') i += 1
      while (i < until && b(i) >= '0' && b(i) <= '9') i += 1
      if (i < until && b(i) == ',') start = i
    }
    // hash "{" + rest: write the brace over the byte before `rest`
    val line = java.util.Arrays.copyOfRange(b, start, until)
    line(0) = '{'
    XXH64.hashUnsafeBytes(line, Platform.BYTE_ARRAY_OFFSET, line.length, 42L)
  }

  /** The request sequence encoded in a doc id `q<seq>r<record>e<event>`. */
  def seqOf(id: String): Int = {
    var i = 1
    var n = 0
    while (i < id.length && Character.isDigit(id.charAt(i))) { n = n * 10 + (id.charAt(i) - '0'); i += 1 }
    n
  }
}
