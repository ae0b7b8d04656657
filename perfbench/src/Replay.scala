package perfbench

import graft.core.{Gts, Sensision}
import graft.parsers.{GraphiteParser, InfluxLineParser, OpenTsdbParser, PromProtoParser, PrompbParser}

import java.nio.charset.StandardCharsets.UTF_8

/** Parser and encoder layers, measured by replaying a run's bodies
  * through the program's public parse functions and `Sensision.encode`
  * after the system under test has stopped.
  */
object Replay {
  private val Passes = 5
  private val WarmPasses = 2

  private def gunzip(r: Req): Array[Byte] =
    if (!r.gzip) r.body
    else new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(r.body)).readAllBytes()

  private def parse(proto: String, body: Array[Byte], contentType: String): Seq[Gts] = {
    val nowMs = System.currentTimeMillis()
    val out = proto match {
      case "influx" => InfluxLineParser.parsePayload(new String(body, UTF_8), "n", nowMs * 1000000L)
      case "opentsdb" => OpenTsdbParser.parse(new String(body, UTF_8), nowMs * 1000L)
      case "prom_text" => PromProtoParser.parseExposition(body, Some(contentType), Map.empty, nowMs)
      case "remote_write" => PrompbParser.parseSnappyBody(body)
      case "graphite" =>
        // the HTTP edge stops at the first bad line; keep what came before it
        val b = Seq.newBuilder[Gts]
        val it = new String(body, UTF_8).split("\n").iterator
        var stop = false
        while (it.hasNext && !stop) GraphiteParser.parseLine(it.next().trim, true, nowMs) match {
          case Right(g) => b += g
          case Left(_) => stop = true
        }
        Right(b.result())
    }
    out.getOrElse(Seq.empty)
  }

  /** Median over passes of the time `f` takes, in ns, after untimed warm-up passes. */
  private def timed(f: () => Unit): Double = {
    (0 until WarmPasses).foreach(_ => f())
    Stats.median((0 until Passes).map { _ => val t0 = System.nanoTime(); f(); (System.nanoTime() - t0).toDouble })
  }

  private def encodeLayer(points: Seq[Gts]): Seq[(String, Double)] = {
    var chars = 0L
    val ns = timed(() => { chars = 0L; points.foreach(g => chars += Sensision.encode(g).length) })
    Seq("core.sensision.ns_per_point" -> ns / points.size,
      "core.sensision.bytes_per_point" -> chars.toDouble / points.size)
  }

  def http(bodies: Seq[Req]): Seq[(String, Double)] = {
    val plain = bodies.map(r => (r, gunzip(r)))
    val perProto = plain.groupBy(_._1.proto).toSeq.sortBy(_._1).map { case (proto, rs) =>
      var pts = 0L
      val ns = timed(() => { pts = 0L; rs.foreach { case (r, b) => pts += parse(proto, b, r.contentType).size } })
      (proto, ns, pts)
    }
    val points = plain.flatMap { case (r, b) => parse(r.proto, b, r.contentType) }
    val lines = bodies.map(_.lines.toLong).sum
    perProto.map { case (p, ns, pts) => s"parsers.$p.ns_per_point" -> ns / math.max(1L, pts) } ++
      Seq("parsers.points_per_line" -> points.size.toDouble / lines) ++ encodeLayer(points)
  }

  /** The stream's graphite TCP lines, with the token prefix the spooler strips. */
  def graphiteTcp(seed: Long): Seq[(String, Double)] = {
    val body = new Gen(seed * 104729L).graphiteTcp("r", 100000, 1700000000000L, new Digest)
    val lines = new String(body, UTF_8).split("\n").map(_.substring(2))
    var points = Seq.empty[Gts]
    val ns = timed(() => {
      points = lines.toSeq.flatMap(l => GraphiteParser.parseLine(l, false).toOption)
    })
    Seq("parsers.graphite.ns_per_point" -> ns / points.size,
      "parsers.points_per_line" -> points.size.toDouble / lines.length) ++ encodeLayer(points)
  }
}
