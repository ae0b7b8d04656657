package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import java.net.InetSocketAddress
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors}

/** A Warp 10 `/api/v0/update` stand-in on the benchmark side.
  *
  * It reads each chunked POST as it streams in, requires the `#\r\n`
  * prelude, checks that every further line is a CRLF-terminated
  * `TS// class{labels} value`, and stamps each line with the time it
  * arrived. A request's lines are committed when its body ends cleanly;
  * a truncated body (an aborted transport) is discarded, as Warp 10
  * discards it. Committed lines are kept as order-insensitive digests per
  * `Txn` header and per token.
  *
  * `inject` breaks one request after [[arm]] on purpose (self-test):
  * `drop`, `dup` or `alter` one of its lines, or answer `status` 500.
  */
final class Stub(inject: String) {
  val byTxn = new ConcurrentHashMap[String, Digest]()
  val byToken = new ConcurrentHashMap[String, Digest]()
  /** Raw lines received for the token `golden`. */
  val golden = new ConcurrentLinkedQueue[String]()
  /** Lines that broke the framing, and requests whose body was cut off. */
  val corrupt = new AtomicLong
  val truncated = new AtomicLong

  // freshness samples of phase-1 stream lines (tokens "p*"): creation ms, arrival us
  private val freshLock = new Object
  private var created = new Array[Long](1 << 16)
  private var arrived = new Array[Long](1 << 16)
  private var nFresh = 0
  // latest arrival of a burst line (tokens "b*"), epoch us
  val burstLastUs = new AtomicLong

  @volatile private var armed = false
  private val injected = new AtomicInteger
  def arm(): Unit = armed = true

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 128)
  private val pool = Executors.newCachedThreadPool()
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/api/v0/update"
  def start(): this.type = { server.start(); this }
  def stop(): Unit = { server.stop(0); pool.shutdownNow() }

  /** Copies of the freshness samples taken so far. */
  def fresh: (Array[Long], Array[Long]) = freshLock.synchronized {
    (java.util.Arrays.copyOf(created, nFresh), java.util.Arrays.copyOf(arrived, nFresh))
  }

  private def handle(ex: HttpExchange): Unit = {
    val token = Option(ex.getRequestHeaders.getFirst("X-Warp10-Token")).getOrElse("")
    val txn = Option(ex.getRequestHeaders.getFirst("Txn")).getOrElse("")
    val phase = if (token.isEmpty) ' ' else token.charAt(0)
    val d = new Digest
    var bad = 0L
    var sawPrelude = false
    var lastHash = 0L
    val rawGolden = if (token == "golden") new java.util.ArrayList[String]() else null
    var fc = new Array[Long](256); var fa = new Array[Long](256); var nf = 0
    var lastArrival = 0L

    def line(b: Array[Byte], from: Int, until: Int, now: Long): Unit = {
      // until is the index of '\n'; the line must end in CRLF
      if (until == from || b(until - 1) != '\r') { bad += 1; return }
      val end = until - 1
      if (!sawPrelude) {
        if (end - from == 1 && b(from) == '#') sawPrelude = true else bad += 1
        return
      }
      if (!framed(b, from, end)) { bad += 1; return }
      val h = Digest.hash(b, from, end)
      d.add(h); lastHash = h
      if (rawGolden != null) rawGolden.add(new String(b, from, end - from, "UTF-8"))
      if (phase == 'p') {
        if (nf == fc.length) { fc = java.util.Arrays.copyOf(fc, nf * 2); fa = java.util.Arrays.copyOf(fa, nf * 2) }
        fc(nf) = tsMs(b, from); fa(nf) = now; nf += 1
      }
      lastArrival = now
    }

    var ok = true
    try {
      val in = ex.getRequestBody
      var buf = new Array[Byte](1 << 16)
      var len = 0
      var n = in.read(buf, len, buf.length - len)
      while (n >= 0) {
        val now = Clock.us
        val filled = len + n
        var start = 0
        var i = len
        while (i < filled) {
          if (buf(i) == '\n') { line(buf, start, i, now); start = i + 1 }
          i += 1
        }
        len = filled - start
        System.arraycopy(buf, start, buf, 0, len)
        if (len == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
        n = in.read(buf, len, buf.length - len)
      }
      if (len > 0) bad += 1 // an unterminated last line
      if (!sawPrelude) bad += 1
    } catch { case _: java.io.IOException => ok = false }

    var status = 200
    if (armed && d.count >= 2 && injected.compareAndSet(0, 1)) inject match {
      case "drop" => d.count -= 1; d.sum -= lastHash
      case "dup" => d.add(lastHash)
      case "alter" => d.sum += Digest.hash(java.lang.Long.toString(lastHash)) - lastHash
      case "status" => status = 500
      case _ => injected.set(0)
    }

    if (!ok) truncated.incrementAndGet()
    else if (status == 200) {
      corrupt.addAndGet(bad)
      byTxn.compute(txn, (_, o) => { if (o == null) d else { o.add(d); o } })
      byToken.compute(token, (_, o) => { if (o == null) new Digest(d.count, d.sum) else { o.add(d); o } })
      if (rawGolden != null) rawGolden.forEach(l => golden.add(l))
      if (nf > 0) freshLock.synchronized {
        while (nFresh + nf > created.length) {
          created = java.util.Arrays.copyOf(created, created.length * 2)
          arrived = java.util.Arrays.copyOf(arrived, arrived.length * 2)
        }
        System.arraycopy(fc, 0, created, nFresh, nf); System.arraycopy(fa, 0, arrived, nFresh, nf)
        nFresh += nf
      }
      if (phase == 'b' && d.count > 0) burstLastUs.accumulateAndGet(lastArrival, math.max)
    }
    try {
      if (status == 200) ex.sendResponseHeaders(200, -1)
      else {
        val msg = "injected failure".getBytes("UTF-8")
        ex.sendResponseHeaders(status, msg.length.toLong); ex.getResponseBody.write(msg)
      }
    } catch { case _: java.io.IOException => () }
    ex.close()
  }

  /** Digits, then `// class{labels} value`: no spaces inside the three fields, no braces in the value. */
  private def framed(b: Array[Byte], from: Int, end: Int): Boolean = {
    var i = from
    while (i < end && b(i) >= '0' && b(i) <= '9') i += 1
    if (end - i < 3 || b(i) != '/' || b(i + 1) != '/' || b(i + 2) != ' ') return false
    i += 3
    val cls = i
    while (i < end && b(i) != '{' && b(i) != ' ' && b(i) != '}') i += 1
    if (i == cls || i >= end || b(i) != '{') return false
    i += 1
    while (i < end && b(i) != '}' && b(i) != ' ' && b(i) != '{') i += 1
    if (i >= end || b(i) != '}') return false
    i += 1
    if (i >= end || b(i) != ' ') return false
    i += 1
    if (i >= end) return false
    while (i < end) { val c = b(i); if (c == ' ' || c == '{' || c == '}') return false; i += 1 }
    true
  }

  private def tsMs(b: Array[Byte], from: Int): Long = {
    var v = 0L; var i = from
    while (b(i) >= '0' && b(i) <= '9') { v = v * 10 + (b(i) - '0'); i += 1 }
    v / 1000L
  }
}
