package perfbench

import graft.core.GraftConfig
import graft.streaming.{BanStore, HttpIngress, HttpWarpTransport, IngestServer, TcpSpooler, WarpTransport}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** Epoch microseconds from the monotonic clock, shared by both processes' spans. */
object Clock {
  private val offUs = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def us: Long = System.nanoTime() / 1000L + offUs
}

/** In-memory spans and counters of a traced run, written once at the end. */
object Tracer {
  @volatile var on = false
  @volatile var markUs = Long.MaxValue
  /** Makes this instance's span ids unique among the run's instances. */
  @volatile var idPrefix = ""
  private val spans = new ConcurrentLinkedQueue[String]()

  /** `parent` is local to this instance unless it names an edge request (`server:`). */
  def span(name: String, id: String, parent: String, req: String, startUs: Long, endUs: Long): Unit =
    if (on && startUs >= markUs) {
      val p = if (parent.isEmpty || parent.startsWith("server:")) parent else idPrefix + parent
      spans.add(s"""{"name":"$name","id":"$idPrefix$id","parent":"$p","req":"$req","start_us":$startUs,"end_us":$endUs}""")
    }

  def write(path: Path): Unit = {
    val w = Files.newBufferedWriter(path)
    spans.forEach(s => { w.write(s); w.write('\n') })
    w.close()
  }

  // transport layer
  val opens = new AtomicLong
  val aborts = new AtomicLong
  val bytes = new AtomicLong
  val sendNs = new AtomicLong
  val closeWaitMs = new ConcurrentLinkedQueue[java.lang.Double]()
  private val ids = new AtomicLong
  def nextId(kind: String): String = s"$kind:${ids.incrementAndGet()}"

  def reset(): Unit = {
    opens.set(0); aborts.set(0); bytes.set(0); sendNs.set(0); closeWaitMs.clear()
  }
}

/** Timing delegate around the program's real transport: one span per
  * open and close, one aggregate span over the sends of a channel.
  */
final class TimedTransport(inner: WarpTransport, parentOf: String => String) extends WarpTransport {
  @transient private var txn = ""
  @transient private var firstSendUs = 0L
  @transient private var lastSendUs = 0L
  @transient private var sends = 0L

  override def open(token: String, txn: String): Unit = {
    this.txn = txn
    val t0 = Clock.us
    inner.open(token, txn)
    val t1 = Clock.us
    if (t0 >= Tracer.markUs) Tracer.opens.incrementAndGet()
    Tracer.span("transport.open", Tracer.nextId("open"), parentOf(txn), txn, t0, t1)
  }

  override def send(line: String): Unit = {
    val t0 = System.nanoTime()
    inner.send(line)
    val dt = System.nanoTime() - t0
    Tracer.sendNs.addAndGet(dt); Tracer.bytes.addAndGet(line.length.toLong)
    if (sends == 0) firstSendUs = Clock.us
    sends += 1
  }

  override def close(): Option[String] = {
    lastSendUs = Clock.us
    val r = inner.close()
    val t1 = Clock.us
    if (lastSendUs >= Tracer.markUs) Tracer.closeWaitMs.add((t1 - lastSendUs) / 1000.0)
    if (sends > 0) Tracer.span("transport.send", Tracer.nextId("send"), parentOf(txn), txn, firstSendUs, lastSendUs)
    Tracer.span("transport.close", Tracer.nextId("close"), parentOf(txn), txn, lastSendUs, t1)
    r
  }

  override def abort(): Unit = { Tracer.aborts.incrementAndGet(); inner.abort() }
}

/** Engine-side counters from outside the program: a SparkListener and a
  * StreamingQueryListener on the session.
  */
final class EngineListener extends SparkListener {
  val jobs = new AtomicLong; val stages = new AtomicLong; val tasks = new AtomicLong
  val taskMs = new AtomicLong; val scanB = new AtomicLong; val shufW = new AtomicLong
  val shufR = new AtomicLong; val spillB = new AtomicLong; val peakMem = new AtomicLong
  val gcMs = new AtomicLong
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  private def marked(ms: Long) = ms * 1000L >= Tracer.markUs

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val batch = Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).getOrElse("")
    jobStart.put(e.jobId, (e.time, batch))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (t0, batch) = Option(jobStart.remove(e.jobId)).getOrElse((e.time, ""))
    if (marked(t0)) {
      jobs.incrementAndGet()
      Tracer.span("spark.job", s"job:${e.jobId}", if (batch.isEmpty) "" else s"batch:$batch", "", t0 * 1000, e.time * 1000)
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val t0 = i.submissionTime.getOrElse(0L)
    if (marked(t0)) {
      stages.incrementAndGet()
      val job = Option(stageJob.get(i.stageId)).map(j => s"job:$j").getOrElse("")
      Tracer.span("spark.stage", s"stage:${i.stageId}.${i.attemptNumber()}", job, "", t0 * 1000,
        i.completionTime.getOrElse(t0) * 1000)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null && marked(e.taskInfo.launchTime)) {
      tasks.incrementAndGet()
      taskMs.addAndGet(m.executorRunTime)
      scanB.addAndGet(m.inputMetrics.bytesRead)
      shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      peakMem.accumulateAndGet(m.peakExecutionMemory, math.max)
      gcMs.addAndGet(m.jvmGCTime)
    }
  }
}

final class ProgressListener extends StreamingQueryListener {
  val rowsDone = new AtomicLong
  /** durationMs of each batch that started after the mark, plus its row count. */
  val batches = new ConcurrentLinkedQueue[(Map[String, Long], Long)]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    rowsDone.addAndGet(p.numInputRows)
    val startUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
    if (startUs >= Tracer.markUs) {
      val d = mutable.Map.empty[String, Long]
      p.durationMs.forEach((k, v) => d(k) = v.longValue)
      batches.add((d.toMap, p.numInputRows))
      Tracer.span("stream.batch", s"batch:${p.batchId}", "", "", startUs,
        startUs + d.getOrElse("triggerExecution", 0L) * 1000L)
    }
  }
}

/** The system under test in its own JVM: an `HttpIngress` (http_push)
  * or a `TcpSpooler` + `IngestServer.start` stream (stream_ingest), both
  * delivering to the stub through the real `HttpWarpTransport`.
  *
  * `Sut <workload> <stubUrl> <runDir> <trace 0|1>`. Prints `READY <port>`
  * once serving, then reads commands from stdin: `MARK` starts the
  * measured window, `STOP` prints `STATS <json>` and exits. End of
  * stdin also stops it, so it never outlives the benchmark.
  */
object Sut {
  def main(args: Array[String]): Unit = {
    val Array(workload, stubUrl, runDirS, traceS) = args
    val runDir = Path.of(runDirS)
    Files.createDirectories(runDir)
    val trace = traceS == "1"
    Tracer.on = trace
    Tracer.idPrefix = runDir.getFileName.toString + "/"
    // a transport's parent span: the edge request (http_push) or the micro-batch whose
    // epoch ends the sink's txn (stream_ingest)
    val parentOf: String => String =
      if (workload == "http_push") txn => s"server:$txn"
      else txn => s"batch:${txn.substring(txn.lastIndexOf('-') + 1)}"
    def wrap(t: WarpTransport): WarpTransport = if (trace) new TimedTransport(t, parentOf) else t
    val stats = mutable.LinkedHashMap.empty[String, Double]
    val watchdog = new Thread(() => { Thread.sleep(170000); Runtime.getRuntime.halt(3) })
    watchdog.setDaemon(true); watchdog.start()

    workload match {
      case "http_push" =>
        val bans = new BanStore(60000L)
        val ingress = new HttpIngress(0, now => wrap(new HttpWarpTransport(stubUrl, now)), bans,
          GraftConfig.load()).start()
        println(s"READY ${ingress.boundPort}")
        commands()
        ingress.stop()
        if (trace) {
          val w = Files.newBufferedWriter(runDir.resolve("access.tsv"))
          ingress.accessLog.foreach { r =>
            w.write(s"${r.txn}\t${r.status}\t${r.latency_ns}\t${r.date_ms}\t${r.datapoints}\n")
          }
          w.close()
        }

      case "stream_ingest" =>
        val spark = SparkSession.builder()
          .master("local[4]")
          .config("spark.sql.shuffle.partitions", "4")
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.ui.enabled", "false")
          .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
          .getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        val engine = new EngineListener
        val progress = new ProgressListener
        if (trace) { spark.sparkContext.addSparkListener(engine); spark.streams.addListener(progress) }
        val spool = runDir.resolve("spool")
        val spooler = new TcpSpooler(0, spool).start()
        val wrapFn = wrap _
        val q = IngestServer.start(spark, spool, runDir.resolve("checkpoint"),
          () => wrapFn(new HttpWarpTransport(stubUrl)), new BanStore(60000L))
        val backlogMax = new AtomicLong
        @volatile var sampling = true
        val sampler = new Thread(() => {
          while (sampling) {
            if (Clock.us >= Tracer.markUs)
              backlogMax.accumulateAndGet(spooler.points.get - progress.rowsDone.get, math.max)
            Thread.sleep(20)
          }
        })
        sampler.setDaemon(true)
        if (trace) sampler.start()
        println(s"READY ${spooler.boundPort}")
        val markUs = commands()
        val wallS = (Clock.us - markUs) / 1e6
        sampling = false
        q.stop(); spooler.stop()
        if (trace) {
          import scala.jdk.CollectionConverters._
          val bs = progress.batches.asScala.toVector
          def p(k: String, q: Double) = Stats.pct(bs.map(_._1.getOrElse(k, 0L).toDouble), q)
          stats ++= Seq(
            "spool.files" -> Files.list(spool).filter(f => f.getFileName.toString.endsWith(".tsv")).count.toDouble,
            "stream.batches" -> bs.size.toDouble,
            "stream.rows_per_batch_p50" -> Stats.pct(bs.map(_._2.toDouble), 0.5),
            "stream.trigger_ms_p50" -> p("triggerExecution", 0.5),
            "stream.trigger_ms_p99" -> p("triggerExecution", 0.99),
            "stream.latestOffset_ms_p50" -> p("latestOffset", 0.5),
            "stream.getBatch_ms_p50" -> p("getBatch", 0.5),
            "stream.queryPlanning_ms_p50" -> p("queryPlanning", 0.5),
            "stream.addBatch_ms_p50" -> p("addBatch", 0.5),
            "stream.walCommit_ms_p50" -> p("walCommit", 0.5),
            "stream.commitOffsets_ms_p50" -> p("commitOffsets", 0.5),
            "stream.backlog_lines_max" -> backlogMax.get.toDouble,
            "spark.jobs" -> engine.jobs.get.toDouble,
            "spark.stages" -> engine.stages.get.toDouble,
            "spark.tasks" -> engine.tasks.get.toDouble,
            "spark.task_s" -> engine.taskMs.get / 1000.0,
            "spark.parallelism" -> engine.taskMs.get / 1000.0 / wallS,
            "spark.scan_mb" -> engine.scanB.get / 1e6,
            "spark.shuffle_write_mb" -> engine.shufW.get / 1e6,
            "spark.shuffle_read_mb" -> engine.shufR.get / 1e6,
            "spark.spill_mb" -> engine.spillB.get / 1e6,
            "spark.peak_exec_mem_mb" -> engine.peakMem.get / 1e6,
            "spark.gc_s" -> engine.gcMs.get / 1000.0)
        }
        spark.stop()

      case other => System.err.println(s"unknown workload $other"); sys.exit(2)
    }

    import scala.jdk.CollectionConverters._
    if (trace) {
      val cw = Tracer.closeWaitMs.asScala.map(_.doubleValue).toVector
      stats ++= Seq(
        "transport.opens" -> Tracer.opens.get.toDouble,
        "transport.send_s" -> Tracer.sendNs.get / 1e9,
        "transport.close_wait_ms_p50" -> Stats.pct(cw, 0.5),
        "transport.bytes" -> Tracer.bytes.get.toDouble,
        "transport.aborts" -> Tracer.aborts.get.toDouble)
      Tracer.write(runDir.resolve("spans_sut.jsonl"))
    }
    stats("rss_mb") = peakRssMb
    stats("jvm.gc_s") = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1000.0 - gcAtMark
    println("STATS " + Stats.json(stats))
    System.out.flush()
    sys.exit(0)
  }

  @volatile private var gcAtMark = 0.0

  /** Peak resident set (VmHWM) of this process, in MB. */
  def peakRssMb: Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Path.of("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)
  }

  /** Serve stdin commands until STOP or end of input; returns the mark time. */
  private def commands(): Long = {
    import scala.jdk.CollectionConverters._
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null && line != "STOP") {
      if (line == "MARK") {
        Tracer.reset()
        gcAtMark = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
          .map(_.getCollectionTime).filter(_ > 0).sum / 1000.0
        Tracer.markUs = Clock.us
        println("MARKED"); System.out.flush()
      }
      line = in.readLine()
    }
    Tracer.markUs
  }
}
