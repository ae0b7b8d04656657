package perfbench

import java.net.{HttpURLConnection, Socket, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, LinkedBlockingQueue, TimeUnit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One system-under-test JVM, driven over its stdin/stdout. */
final class SutProc(cmd: Seq[String], err: Path) {
  private val p = new ProcessBuilder(cmd: _*)
    .redirectError(ProcessBuilder.Redirect.appendTo(err.toFile)).start()
  private val lines = new LinkedBlockingQueue[String]()
  private val reader = new Thread(() => {
    val r = new java.io.BufferedReader(new java.io.InputStreamReader(p.getInputStream, UTF_8))
    var l = r.readLine()
    while (l != null) { lines.put(l); l = r.readLine() }
    lines.put("EOF")
  })
  reader.setDaemon(true); reader.start()
  private val in = p.getOutputStream

  def await(prefix: String, timeoutS: Int): String = {
    val deadline = System.nanoTime() + timeoutS * 1000000000L
    while (true) {
      val l = lines.poll(math.max(1L, deadline - System.nanoTime()), TimeUnit.NANOSECONDS)
      if (l == null) throw new RuntimeException(s"system under test: no '$prefix' within $timeoutS s (see $err)")
      if (l == "EOF") throw new RuntimeException(s"system under test exited before '$prefix' (see $err)")
      if (l.startsWith(prefix)) return l.substring(prefix.length).trim
    }
    ""
  }
  def send(c: String): Unit = { in.write((c + "\n").getBytes(UTF_8)); in.flush() }
  def mark(): Unit = { send("MARK"); await("MARKED", 30) }
  def stop(): Map[String, Double] = {
    send("STOP")
    val s = Stats.parse(await("STATS", 60))
    if (!p.waitFor(30, TimeUnit.SECONDS)) { p.destroyForcibly(); p.waitFor() }
    s
  }
  def kill(): Unit = if (p.isAlive) { p.destroyForcibly(); p.waitFor() }
}

/** A golden case from `golden/sensision.txt`. */
final case class Golden(proto: String, path: String, contentType: String, body: String, expect: Seq[String])

object Golden {
  def load(file: Path): Seq[Golden] = {
    val out = mutable.ArrayBuffer.empty[Golden]
    var head: Array[String] = null
    val body = mutable.ArrayBuffer.empty[String]; val exp = mutable.ArrayBuffer.empty[String]
    var inExpect = false
    def flush(): Unit = if (head != null) {
      out += Golden(head(0), head(1), head(2), body.map(_ + "\n").mkString, exp.toVector)
      body.clear(); exp.clear()
    }
    Files.readAllLines(file, UTF_8).asScala.foreach { l =>
      if (l.startsWith("#")) ()
      else if (l.startsWith("> ")) { flush(); head = l.substring(2).split(" ", 3); inExpect = false }
      else if (l == "<") inExpect = true
      else if (inExpect) exp += l else body += l
    }
    flush()
    out.toVector
  }
}

/** Client-side record of one HTTP request. */
final case class Done(req: Req, status: Int, txn: String, dueNs: Long, startNs: Long, endNs: Long, phase: Int)

/** The load process: seeded generator, Warp 10 stub and checker. It
  * starts the system under test (several times, to time set-up), drives
  * the workload, checks every line the stub received and prints the
  * result as one JSON object on the last line of stdout.
  *
  * `Load --workload W --seed N --seconds S --trace 0|1 --run-dir D
  *  --sut-cmd FILE --golden FILE [--inject drop|dup|alter|status|golden]`
  */
object Load {
  /** Instances of the system under test per run. Each is timed from launch
    * to warmed up (set-up), conditioned, then measured for half of the run;
    * the e2e metrics pool the two, so one instance's JIT or GC luck moves
    * them less.
    */
  val Instances = 2
  /** Untimed closed-loop load on each http_push instance after set-up, before its measured segment. */
  val ConditionNs = 2000000000L
  /** http_push open-loop rate, about half of one connection's capacity on the mix. */
  val OpenRate = 80.0
  val OpenThreads = 4
  val ClosedThreads = 3
  val WarmRequests = 240
  /** stream_ingest phase 1: a connection every 250 ms carrying 2,500 lines (10k lines/s), so
    * the stream idles between micro-batches; nearer its capacity, freshness moved with the
    * host's slow periods by more than the bound. Each instance's first 6 s (about 25
    * micro-batches, while batch times still fall as the JIT warms) condition it and are left
    * out of freshness. Bodies are generated before the measured window, so a line carries
    * its connection's slot, StampBase + k * ConnEveryMs, not its due time; freshness maps
    * the slot back onto the instance's schedule.
    */
  val ConnEveryMs = 250L
  val LinesPerConn = 2500
  val FreshSkipMs = 6000L
  val StampBase = 1700000000000L
  /** Stamp distance between instances, so each one's phase-1 lines are told apart. */
  val StampStride = 100000000L
  /** stream_ingest phase 2: bursts per instance, each one connection carrying BurstLines lines. */
  val Bursts = 4
  val BurstLines = 600000
  val WarmLines = 5000

  private var opts: Map[String, String] = Map.empty
  private lazy val runDir = Path.of(opts("run-dir"))
  private lazy val trace = opts("trace") == "1"
  private lazy val seed = opts("seed").toLong
  private lazy val seconds = opts("seconds").toDouble
  private lazy val inject = opts.getOrElse("inject", "")
  private lazy val sutCmd = Files.readAllLines(Path.of(opts("sut-cmd"))).asScala.filter(_.nonEmpty).toVector
  private lazy val goldens = {
    val g = Golden.load(Path.of(opts("golden")))
    if (inject == "golden") g.map(c => c.copy(expect = c.expect.updated(0, c.expect.head + "0"))) else g
  }

  private val spans = new ConcurrentLinkedQueue[String]()
  private def span(name: String, id: String, parent: String, req: String, s: Long, e: Long): Unit =
    if (trace) spans.add(s"""{"name":"$name","id":"$id","parent":"$parent","req":"$req","start_us":$s,"end_us":$e}""")
  private def nsToUs(ns: Long): Long = Clock.us - (System.nanoTime() - ns) / 1000L

  def main(args: Array[String]): Unit = {
    opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    Files.createDirectories(runDir)
    val st = new Stub(inject).start()
    val pool = Executors.newFixedThreadPool(OpenThreads)
    var code = 0
    try {
      val r = opts("workload") match {
        case "http_push" => httpPush(st, pool)
        case "stream_ingest" => streamIngest(st, pool)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      println(r)
    } catch {
      case e: Throwable => e.printStackTrace(); code = 1
    } finally {
      pool.shutdownNow(); st.stop()
    }
    System.out.flush()
    sys.exit(code)
  }

  private def sutDir(i: Int): Path = runDir.resolve(s"sut$i")

  /** Runs `Instances` instances one after another: launch, `warm` (together
    * timed as set-up), then `measure`; returns the set-up times, the
    * measurements and each instance's closing stats.
    */
  private def instances[T](st: Stub)(warm: (Int, Int) => Unit)(measure: (Int, Int, SutProc) => T)
      : (Seq[Double], Seq[T], Seq[Map[String, Double]]) = {
    val out = (0 until Instances).map { i =>
      val t0 = System.nanoTime()
      val sut = new SutProc(sutCmd ++ Seq("perfbench.Sut", opts("workload"), st.url, sutDir(i).toString,
        if (trace) "1" else "0"), runDir.resolve("sut.err"))
      try {
        val port = sut.await("READY", 120).toInt
        warm(i, port)
        val setup = (System.nanoTime() - t0) / 1e9
        val m = measure(i, port, sut)
        (setup, m, sut.stop())
      } finally sut.kill()
    }
    (out.map(_._1), out.map(_._2), out.map(_._3))
  }

  /** One value per stats key over the instances: the median of percentiles,
    * the maximum of maxima and peaks, the sum of counts and times.
    */
  private def mergeStats(all: Seq[Map[String, Double]]): Map[String, Double] =
    all.flatMap(_.keys).distinct.map { k =>
      val vs = all.flatMap(_.get(k))
      k -> (if (k.contains("_p5") || k.contains("_p9") || k.endsWith("parallelism") || k == "rss_mb") Stats.median(vs)
            else if (k.endsWith("_max") || k.contains("peak")) vs.max
            else vs.sum)
    }.toMap

  /** The run's verdict and metrics by name; run.py adds the units from BENCHMARK.json. */
  private def result(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[(String, Double)]): String =
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":${Stats.json(metrics.toMap)}}"""

  private def goldenCheck(cases: Seq[Golden], send: Golden => Unit, st: Stub, failures: AtomicLong): Unit = {
    st.golden.clear()
    cases.foreach(send)
    val want = cases.flatMap(_.expect).sorted
    val deadline = System.nanoTime() + 60000000000L
    while (st.golden.size < want.size && System.nanoTime() < deadline) Thread.sleep(5)
    val got = st.golden.asScala.toVector.sorted
    if (got != want) {
      failures.incrementAndGet()
      System.err.println(s"golden mismatch:\n  want ${want.mkString("\n       ")}\n  got  ${got.mkString("\n       ")}")
    }
  }

  // ------------------------------------------------------------------ http_push

  private def post(port: Int, r: Req, token: String): (Int, String) = {
    val c = new URI(s"http://127.0.0.1:$port${r.path}").toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(10000); c.setReadTimeout(30000)
    c.setRequestMethod("POST"); c.setDoOutput(true)
    c.setFixedLengthStreamingMode(r.body.length)
    c.setRequestProperty("X-Warp10-Token", token)
    c.setRequestProperty("Content-Type", r.contentType)
    if (r.gzip) c.setRequestProperty("Content-Encoding", "gzip")
    val out = c.getOutputStream; out.write(r.body); out.close()
    val code = c.getResponseCode
    val txn = c.getHeaderField("X-App-Txn")
    val s = if (code >= 400) c.getErrorStream else c.getInputStream
    if (s != null) { s.readAllBytes(); s.close() }
    (code, txn)
  }

  private def httpPush(st: Stub, pool: java.util.concurrent.ExecutorService): String = {
    val openNs = (seconds * 0.6 / Instances * 1e9).toLong
    val closedNs = (seconds * 0.4 / Instances * 1e9).toLong
    // one body per open-loop request of an instance, so every instance sends the whole mix once
    val bodies = new Gen(seed).httpPool(math.max(1, (OpenRate * openNs / 1e9).round.toInt))
    val done = new ConcurrentLinkedQueue[Done]()
    val goldenFail = new AtomicLong
    val httpGoldens = goldens.filter(_.proto != "tcp")

    def send(port: Int, r: Req, due: Long, phase: Int): Unit = {
      val t0 = System.nanoTime()
      val (code, txn) = try post(port, r, "bench") catch { case _: java.io.IOException => (-1, null) }
      done.add(Done(r, code, txn, due, t0, System.nanoTime(), phase))
    }
    /** Back to back on `threads` connections until `untilNs` or `n` requests. */
    def closedLoop(port: Int, threads: Int, untilNs: Long, n: Int, phase: Int): Unit = {
      val next = new AtomicInteger(0)
      (0 until threads).map(_ => pool.submit(new Runnable {
        def run(): Unit = {
          var i = next.getAndIncrement()
          while (System.nanoTime() < untilNs && i < n) {
            send(port, bodies(i % bodies.size), System.nanoTime(), phase)
            i = next.getAndIncrement()
          }
        }
      })).foreach(_.get())
    }
    /** Request i is due at start + i / OpenRate, whatever came before it. */
    def openLoop(port: Int, durNs: Long): Unit = {
      val start = System.nanoTime() + 20000000L
      val next = new AtomicInteger(0)
      (0 until OpenThreads).map(_ => pool.submit(new Runnable {
        def run(): Unit = {
          var i = next.getAndIncrement()
          var due = start + (i * 1e9 / OpenRate).toLong
          while (due < start + durNs) {
            val wait = due - System.nanoTime()
            if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
            send(port, bodies(i % bodies.size), due, 1)
            i = next.getAndIncrement()
            due = start + (i * 1e9 / OpenRate).toLong
          }
        }
      })).foreach(_.get())
    }

    val (setups, closedPts, stats) = instances(st) { (_, port) =>
      goldenCheck(httpGoldens, g => {
        post(port, Req(g.proto, g.path, g.contentType, false, g.body.getBytes(UTF_8), 0, 0, new Digest), "golden")
      }, st, goldenFail)
      closedLoop(port, OpenThreads, Long.MaxValue, WarmRequests, 0)
    } { (_, port, sut) =>
      closedLoop(port, OpenThreads, System.nanoTime() + ConditionNs, Int.MaxValue, 0)
      if (inject.nonEmpty) st.arm()
      sut.mark()
      val before = done.size
      openLoop(port, openNs)
      val cStart = System.nanoTime()
      closedLoop(port, ClosedThreads, cStart + closedNs, Int.MaxValue, 2)
      val mine = done.asScala.toVector.drop(before)
      // points delivered by closed-loop requests that completed inside the window
      val pts = mine.filter(d => d.phase == 2 && d.endNs <= cStart + closedNs && d.status / 100 == 2).map(_.req.points).sum
      System.err.println(f"http_push instance: open p50 ${Stats.median(mine.filter(_.phase == 1).map(d => (d.endNs - d.dueNs) / 1e6))}%.2f ms, " +
        f"closed ${pts / (closedNs / 1e9)}%.0f points/s")
      pts
    }

    // ---- check every request: status, and the lines the stub committed for its txn
    val all = done.asScala.toVector
    val expect = mutable.HashMap.empty[String, Digest]
    all.filter(_.txn != null).foreach(d => expect.getOrElseUpdate(d.txn, new Digest).add(d.req.expect))
    val empty = new Digest
    def ok(d: Done): Boolean = d.txn != null && d.status == d.req.status &&
      expect(d.txn).same(Option(st.byTxn.get(d.txn)).getOrElse(empty))
    val bad = all.filterNot(ok)
    bad.take(5).foreach(d => System.err.println(
      s"request failed: ${d.req.proto} status ${d.status} (want ${d.req.status}) txn ${d.txn} " +
        s"stub ${Option(st.byTxn.get(d.txn))} want ${d.req.expect}"))
    val failed = bad.size + goldenFail.get + st.corrupt.get + st.truncated.get

    val open = all.filter(_.phase == 1)
    val lat = open.map(d => (d.endNs - d.dueNs) / 1e6)
    val merged = mergeStats(stats)
    val e2e = Seq(
      "latency_p50_ms" -> Stats.pct(lat, 0.5),
      "latency_p90_ms" -> Stats.pct(lat, 0.9),
      "throughput_pts_s" -> closedPts.sum / (Instances * closedNs / 1e9),
      "setup_s" -> Stats.median(setups),
      "peak_rss_mb" -> merged("rss_mb"))
    System.err.println(s"http_push: open ${open.size} req at $OpenRate/s, closed ${all.count(_.phase == 2)} req, " +
      s"setups ${setups.map(s => f"$s%.2f").mkString(" ")} s")
    val metrics =
      if (!trace) e2e
      else tracedMetrics(e2e, httpLayers(all, open, bodies), merged, open.map(d => (d.startNs - d.dueNs) / 1e6))
    result(failed == 0, all.size + httpGoldens.size * Instances, failed, metrics)
  }

  /** Edge, parser and encoder layers of http_push. */
  private def httpLayers(all: Vector[Done], open: Vector[Done], bodies: Vector[Req]): Seq[(String, Double)] = {
    val access = (0 until Instances).flatMap(i => Files.readAllLines(sutDir(i).resolve("access.tsv")).asScala)
      .map(_.split("\t")).map(a => a(0) -> (a(1).toInt, a(2).toLong, a(3).toLong)).toMap
    val measured = all.filter(d => d.phase > 0 && d.txn != null)
    val server = open.flatMap(d => access.get(d.txn).map(_._2 / 1e6))
    val wait = open.flatMap(d => access.get(d.txn).map(a => (d.endNs - d.startNs) / 1e6 - a._2 / 1e6))
    val statuses = measured.flatMap(d => access.get(d.txn).map(_._1))
    measured.foreach { d =>
      access.get(d.txn).foreach { case (_, latNs, dateMs) =>
        span("client.request", s"client:${d.txn}", "", d.txn, nsToUs(d.startNs), nsToUs(d.endNs))
        span("server.request", s"server:${d.txn}", s"client:${d.txn}", d.txn, dateMs * 1000 - latNs / 1000, dateMs * 1000)
      }
    }
    Seq(
      "edge.server_ms_p50" -> Stats.pct(server, 0.5),
      "edge.server_ms_p99" -> Stats.pct(server, 0.99),
      "edge.wait_ms_p50" -> Stats.pct(wait, 0.5),
      "edge.wait_ms_p99" -> Stats.pct(wait, 0.99),
      "edge.req_2xx" -> statuses.count(_ / 100 == 2).toDouble,
      "edge.req_4xx" -> statuses.count(_ / 100 == 4).toDouble,
      "edge.req_5xx" -> statuses.count(_ / 100 == 5).toDouble) ++ Replay.http(bodies)
  }

  /** The per-layer metrics this workload exercises: the instances' stats, the load side's
    * layers, and the traced run's own e2e values (`trace.*`, against which the tracing
    * overhead shows).
    */
  private def tracedMetrics(e2e: Seq[(String, Double)], layers: Seq[(String, Double)],
      stats: Map[String, Double], lagMs: Seq[Double]): Seq[(String, Double)] = {
    val sutSpans = (0 until Instances).map(i => sutDir(i).resolve("spans_sut.jsonl"))
      .filter(Files.exists(_)).map(f => Files.lines(f).count()).sum
    val w = Files.newBufferedWriter(runDir.resolve("spans_load.jsonl"))
    spans.forEach(s => { w.write(s); w.write('\n') }); w.close()
    val traced = Set("latency_p50_ms", "latency_p90_ms", "throughput_pts_s")
    (stats - "rss_mb").toSeq ++ layers ++ Seq(
      "gen.lag_ms_p99" -> Stats.pct(lagMs, 0.99),
      "trace.spans" -> (spans.size + sutSpans).toDouble) ++
      e2e.collect { case (k, v) if traced(k) => s"trace.$k" -> v }
  }

  // -------------------------------------------------------------- stream_ingest

  private def tcp(port: Int, body: Array[Byte]): Unit = {
    val s = new Socket("127.0.0.1", port)
    try { val o = s.getOutputStream; o.write(body); o.flush(); s.shutdownOutput(); s.getInputStream.read() }
    finally s.close()
  }

  /** Waits until the stub holds `n` lines for `token`, or none arrived for `quietS`
    * seconds; a shortfall is left to the final check, which counts it as failed.
    */
  private def awaitToken(st: Stub, token: String, n: Long, quietS: Int): Unit = {
    def got = Option(st.byToken.get(token)).map(_.count).getOrElse(0L)
    var last = got; var lastNs = System.nanoTime()
    while (got < n && System.nanoTime() - lastNs < quietS * 1000000000L) {
      Thread.sleep(2)
      if (got != last) { last = got; lastNs = System.nanoTime() }
    }
    if (got < n) System.err.println(s"stream: token $token has $got of $n lines, none for $quietS s")
  }

  private def streamIngest(st: Stub, pool: java.util.concurrent.ExecutorService): String = {
    val expect = new java.util.concurrent.ConcurrentHashMap[String, Digest]()
    def expectAdd(token: String, d: Digest): Unit = expect.merge(token, d, (a, b) => { val c = new Digest(a.count, a.sum); c.add(b); c })
    /** Sends a graphite TCP connection of `n` lines stamped `ms`, content from `genSeed`. */
    def push(port: Int, token: String, n: Int, ms: Long, genSeed: Long): Unit = {
      val d = new Digest
      val body = new Gen(genSeed).graphiteTcp(token, n, ms, d)
      tcp(port, body); expectAdd(token, d)
    }
    val goldenFail = new AtomicLong
    val tcpGolden = goldens.filter(_.proto == "tcp")
    val connMs = new ConcurrentLinkedQueue[java.lang.Double](); val lagMs = new ConcurrentLinkedQueue[java.lang.Double]()
    val p1Ns = (seconds / Instances * 1e9).toLong
    val nConn = (p1Ns / (ConnEveryMs * 1000000L)).toInt

    val (setups, segs, stats) = instances(st) { (i, port) =>
      goldenCheck(tcpGolden, g => tcp(port, g.body.getBytes(UTF_8)), st, goldenFail)
      push(port, s"w$i", WarmLines, System.currentTimeMillis(), seed * 31 + i)
      awaitToken(st, s"w$i", WarmLines, 60)
    } { (i, port, sut) =>
      val tokens = (0 until 4).map(j => s"p$i$j")
      val bodies = (0 until nConn).map { k =>
        val d = new Digest
        (new Gen(seed * 1000003L + 100000L * i + k).graphiteTcp(tokens(k % 4), LinesPerConn,
          StampBase + i * StampStride + k * ConnEveryMs, d), d)
      }
      if (inject.nonEmpty) st.arm()
      sut.mark()
      // phase 1, open loop: connection k is due at start + k * ConnEveryMs
      val startMs = System.currentTimeMillis() + 100
      val startNs = System.nanoTime() + (startMs - System.currentTimeMillis()) * 1000000L
      val next = new AtomicInteger(0)
      (0 until OpenThreads).map(_ => pool.submit(new Runnable {
        def run(): Unit = {
          var k = next.getAndIncrement()
          while (k < nConn) {
            val dueNs = startNs + k * ConnEveryMs * 1000000L
            val (body, d) = bodies(k)
            TimeUnit.NANOSECONDS.sleep(math.max(0L, dueNs - System.nanoTime()))
            val t0 = System.nanoTime()
            lagMs.add((t0 - dueNs) / 1e6)
            tcp(port, body)
            val t1 = System.nanoTime()
            connMs.add((t1 - t0) / 1e6)
            span("spool.conn", s"conn:$i.$k", "", tokens(k % 4), nsToUs(t0), nsToUs(t1))
            expectAdd(tokens(k % 4), d)
            k = next.getAndIncrement()
          }
        }
      })).foreach(_.get())
      tokens.filter(expect.containsKey).foreach(t => awaitToken(st, t, expect.get(t).count, 20))
      // phase 2, bursts: BurstLines at once, timed to the last line's arrival
      val drains = (0 until Bursts).map { k =>
        val d = new Digest
        val burst = new Gen(seed * 7919L + Bursts * i + k).graphiteTcp(s"b$i", BurstLines, startMs, d)
        expectAdd(s"b$i", d)
        st.burstLastUs.set(0)
        val bStartUs = Clock.us
        tcp(port, burst)
        awaitToken(st, s"b$i", BurstLines * (k + 1L), 20)
        math.max(1L, st.burstLastUs.get - bStartUs) / 1e6
      }
      (startMs, drains)
    }

    // ---- check: per token, the stub's committed digest equals the generated one
    var failed = goldenFail.get + st.corrupt.get + st.truncated.get
    expect.forEach { (tok, want) =>
      val got = Option(st.byToken.get(tok)).getOrElse(new Digest)
      if (!want.same(got)) {
        System.err.println(s"stream token $tok: stub $got, want $want")
        failed += math.max(1L, math.abs(want.count - got.count))
      }
    }
    val sent = expect.values.asScala.map(_.count).sum
    // freshness of each instance's phase-1 lines after its first FreshSkipMs: arrival minus
    // the due time of the line's connection
    val (created, arrived) = st.fresh
    val perInstance = segs.map(_._1).zipWithIndex.map { case (startMs, i) =>
      created.indices.map(j => (j, created(j) - StampBase - i * StampStride))
        .filter { case (_, slotMs) => slotMs >= FreshSkipMs && slotMs < p1Ns / 1000000L }
        .map { case (j, slotMs) => arrived(j) / 1000.0 - (startMs + slotMs) }
    }
    val drains = segs.flatMap(_._2)
    val merged = mergeStats(stats)
    val e2e = Seq(
      // median over instances: one instance's stall moves the tail of pooled lines
      "latency_p50_ms" -> Stats.median(perInstance.map(Stats.pct(_, 0.5))),
      "latency_p90_ms" -> Stats.median(perInstance.map(Stats.pct(_, 0.9))),
      "throughput_pts_s" -> BurstLines / Stats.median(drains),
      "setup_s" -> Stats.median(setups),
      "peak_rss_mb" -> merged("rss_mb"))
    System.err.println(s"stream_ingest: ${nConn * Instances} connections, ${perInstance.map(_.size).sum} fresh samples, " +
      s"p50/p90 by instance ${perInstance.map(f => f"${Stats.pct(f, 0.5)}%.0f/${Stats.pct(f, 0.9)}%.0f").mkString(" ")} ms, " +
      s"bursts drained in ${drains.map(s => f"$s%.2f").mkString(" ")} s, setups ${setups.map(s => f"$s%.2f").mkString(" ")} s")
    val metrics =
      if (!trace) e2e
      else tracedMetrics(e2e, Seq("spool.conn_ms_p50" -> Stats.pct(connMs.asScala.map(_.doubleValue).toSeq, 0.5)) ++
        Replay.graphiteTcp(seed), merged, lagMs.asScala.map(_.doubleValue).toSeq)
    result(failed == 0, sent + tcpGolden.map(_.expect.size).sum * Instances, failed, metrics)
  }
}
