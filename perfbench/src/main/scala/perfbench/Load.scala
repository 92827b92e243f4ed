package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, IOException}
import java.net.Socket
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.util.concurrent.{CountDownLatch, Executors}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.LockSupport

/** One open-loop step: `lat` and `late` are per successful request, in ms,
  * timed from the request's due time. A failed request counts as missing
  * every latency limit.
  */
final case class Step(rate: Double, seconds: Double, sent: Int, failed: Int,
                      lat: Array[Double], late: Array[Double], backlogMax: Int,
                      answers: Map[Int, Array[Long]], steal: Long) {
  private lazy val sorted = lat.sorted ++ Array.fill(failed)(Double.PositiveInfinity)
  def p(q: Double): Double = Stats.pct(sorted, q)
  /** Latency of the last tenth of the step: a growing backlog shows here. */
  def tailP50: Double = Stats.pct(lat.drop(lat.length * 9 / 10).sorted, 0.5)
}

object Step {

  /** Latency percentile q over the pooled requests of the half of `steps`
    * with the least CPU steal. Steal comes in bursts of seconds on a shared
    * host and inflates every latency it overlaps; reading the quieter half
    * keeps one burst from deciding the figure. Failures count in full.
    */
  def quiet(steps: Seq[Step], q: Double): Double = {
    val kept = steps.sortBy(_.steal).take(math.max(1, steps.size / 2))
    Stats.pct((kept.flatMap(_.lat) ++ kept.flatMap(s => Seq.fill(s.failed)(Double.PositiveInfinity)))
      .sorted.toArray, q)
  }
}

/** A persistent HTTP/1.1 connection to the serving tier. A minimal blocking
  * client keeps the load generator's own overhead (and its noise) far below
  * the latencies it measures.
  */
final class Conn(port: Int) extends AutoCloseable {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val in = new BufferedInputStream(sock.getInputStream, 1 << 16)
  private val out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)

  private def line(): String = {
    val b = new ByteArrayOutputStream()
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new IOException("connection closed")
      if (c != '\r') b.write(c)
      c = in.read()
    }
    b.toString(US_ASCII)
  }

  /** POST `body` to `path`; returns the status and the response body. */
  def post(path: String, body: Array[Byte]): (Int, String) = {
    out.write((s"POST $path HTTP/1.1\r\nHost: 127.0.0.1\r\nContent-Type: application/json\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n").getBytes(US_ASCII))
    out.write(body)
    out.flush()
    val status = line().split(" ")(1).toInt
    var len = 0
    var h = line()
    while (h.nonEmpty) {
      val i = h.indexOf(':')
      if (i > 0 && h.substring(0, i).trim.equalsIgnoreCase("content-length"))
        len = h.substring(i + 1).trim.toInt
      h = line()
    }
    val bytes = in.readNBytes(len)
    if (bytes.length < len) throw new IOException("short response body")
    (status, new String(bytes, UTF_8))
  }

  def close(): Unit = sock.close()
}

/** Load generator for the serving tier: at most `senders` threads, each
  * with its own connection.
  */
final class Load(port: Int, senders: Int, tracer: Tracer) {
  private val pool = Executors.newFixedThreadPool(senders, (r: Runnable) => {
    val t = new Thread(r, "perfbench-sender"); t.setDaemon(true); t
  })

  /** One request on a fresh connection (control calls, checks). */
  def post(path: String, body: Array[Byte]): (Int, String) = {
    val c = new Conn(port)
    try c.post(path, body) finally c.close()
  }

  def post(path: String, body: String): (Int, String) = post(path, body.getBytes(UTF_8))

  /** Closed-loop requests on one connection, untimed: warms the JIT. */
  def warm(n: Int, body: Int => Array[Byte]): Unit = {
    val c = new Conn(port)
    try (0 until n).foreach(i => c.post("/query", body(i))) finally c.close()
  }

  /** Request i is due at start + i/rate whether or not earlier ones have
    * returned (open loop). Each request is timed from its due time, so a
    * stall is charged to every request it delays; `late` is how far behind
    * schedule the generator sent it. `keep(i)` selects the requests whose
    * answers are returned for checking.
    */
  def openLoop(rate: Double, seconds: Double, body: Int => Array[Byte],
               keep: Int => Boolean = _ => false, span: String = "Serve./query"): Step = {
    val n = math.max(1, (rate * seconds).round.toInt)
    val lat = new Array[Double](n)
    val late = new Array[Double](n)
    val ok = new Array[Boolean](n)
    val answers = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
    val next = new AtomicInteger(0)
    val done = new AtomicInteger(0)
    val backlog = new AtomicLong(0)
    val root = tracer.current
    val connected = new CountDownLatch(senders)
    val start = new CountDownLatch(1)
    val finished = new CountDownLatch(senders)
    @volatile var t0 = 0L
    val periodNs = 1e9 / rate
    (0 until senders).foreach { _ =>
      pool.submit(new Runnable {
        def run(): Unit = {
          var conn: Conn = null
          var counted = false
          try {
            conn = new Conn(port)
            connected.countDown(); counted = true
            start.await()
            var i = next.getAndIncrement()
            while (i < n) {
              val due = t0 + (i * periodNs).toLong
              var now = System.nanoTime()
              while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
              // requests due by now that have not completed
              val dueCount = math.min(n.toLong, ((now - t0) / periodNs).toLong + 1L)
              backlog.accumulateAndGet(dueCount - done.get(), math.max)
              val (code, text) =
                try tracer.span(span, s"q$i", root)(conn.post("/query", body(i)))
                catch {
                  case e: IOException =>
                    conn.close(); conn = new Conn(port)
                    (-1, String.valueOf(e.getMessage))
                }
              val end = System.nanoTime()
              lat(i) = (end - due) / 1e6
              late(i) = (now - due) / 1e6
              ok(i) = code == 200
              if (ok(i) && keep(i)) answers.put(i, Load.ids(text))
              done.incrementAndGet()
              i = next.getAndIncrement()
            }
          } finally {
            if (conn != null) conn.close()
            if (!counted) connected.countDown()
            finished.countDown()
          }
        }
      })
    }
    connected.await()
    val steal0 = Host.steal()
    t0 = System.nanoTime() + 1000000L
    start.countDown()
    finished.await()
    val good = ok.indices.filter(ok(_))
    import scala.jdk.CollectionConverters._
    Step(rate, seconds, n, n - good.size, good.map(lat(_)).toArray, good.map(late(_)).toArray,
      backlog.get().toInt, answers.asScala.toMap, Host.steal() - steal0)
  }

  def close(): Unit = {
    pool.shutdownNow()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }
}

object Load {

  /** The request body the serving tier parses. */
  def queryBody(v: Array[Float], topK: Int, probe: Int): Array[Byte] =
    s"""{"query": ${v.mkString("[", ",", "]")}, "top_k": $topK, "probe": $probe}"""
      .getBytes(UTF_8)

  /** Neighbour ids of a /query answer. */
  def ids(body: String): Array[Long] = {
    val m = java.util.regex.Pattern.compile("\"ids\"\\s*:\\s*\\[([^\\]]*)\\]").matcher(body)
    require(m.find(), s"no ids in answer: ${body.take(200)}")
    val s = m.group(1).trim
    if (s.isEmpty) Array.empty else s.split(",").map(_.trim.toLong)
  }
}
