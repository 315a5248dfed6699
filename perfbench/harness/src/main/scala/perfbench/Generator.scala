package perfbench

import java.net.{HttpURLConnection, URL}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLongArray}

/** One `POST /firehose` as the generator saw it. `dueNs` is when the
  * schedule said to send (open loop) or when it was sent (closed loop). */
final case class Sent(seq: Int, dueNs: Long, startNs: Long, endNs: Long, status: Int)

/** Firehose load generator: one process, at most `threads` threads, one
  * keep-alive connection each. Bodies are pre-built; the timed window
  * does no input work. Each request's due time is published in
  * `dueBySeq` before it is sent, for the fake to time documents against. */
final class Generator(endpoint: String, threads: Int, dueBySeq: AtomicLongArray) {
  private val url = new URL(s"$endpoint/firehose")

  def post(q: Request): Int = {
    val conn = url.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setConnectTimeout(10000)
    conn.setReadTimeout(60000)
    conn.setFixedLengthStreamingMode(q.body.length)
    conn.setRequestProperty("Content-Type", "application/json")
    conn.setRequestProperty("X-Amz-Firehose-Request-Id", q.requestId)
    conn.setRequestProperty("X-Amz-Firehose-Access-Key", q.accessKey)
    try {
      val os = conn.getOutputStream
      try os.write(q.body) finally os.close()
      val status = conn.getResponseCode
      val is = if (status >= 400) conn.getErrorStream else conn.getInputStream
      if (is != null) try is.readAllBytes() finally is.close()
      status
    } catch { case _: java.io.IOException => -1 }
  }

  private def runThreads(body: Int => Unit): Unit = {
    val ts = (0 until threads).map(t => new Thread(() => body(t), s"gen-$t"))
    ts.foreach(_.start())
    ts.foreach(_.join())
  }

  /** Open loop: request i is due at `dueNs(i)`; thread t sends requests
    * i ≡ t (mod threads), sleeping until each is due. A stalled send
    * makes later ones late, and their latency counts from when they were
    * due. */
  def openLoop(reqs: Seq[Request], dueNs: Int => Long): Seq[Sent] = {
    val out = new Array[Sent](reqs.size)
    runThreads { t =>
      var i = t
      while (i < reqs.size) {
        val due = dueNs(i)
        var now = System.nanoTime()
        while (now < due) {
          // sleep until 2 ms before the due time, then spin: a sleep's
          // wake-up jitter would otherwise count as request latency
          val ms = (due - now) / 1000000L
          if (ms > 2) Thread.sleep(ms - 2) else Thread.onSpinWait()
          now = System.nanoTime()
        }
        dueBySeq.set(reqs(i).seq, due)
        val st = post(reqs(i))
        out(i) = Sent(reqs(i).seq, due, now, System.nanoTime(), st)
        i += threads
      }
    }
    out.toSeq
  }

  /** Closed loop: each thread sends the next unsent request as soon as
    * its previous one is answered. */
  def closedLoop(reqs: Seq[Request]): Seq[Sent] = {
    val out = new Array[Sent](reqs.size)
    val next = new AtomicInteger(0)
    runThreads { _ =>
      var i = next.getAndIncrement()
      while (i < reqs.size) {
        val start = System.nanoTime()
        dueBySeq.set(reqs(i).seq, start)
        val st = post(reqs(i))
        out(i) = Sent(reqs(i).seq, start, start, System.nanoTime(), st)
        i = next.getAndIncrement()
      }
    }
    out.toSeq
  }
}
