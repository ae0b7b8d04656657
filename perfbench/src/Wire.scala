package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable.ArrayBuffer

/** The benchmark's own model of a metric point and its Sensision line.
  *
  * The encoder here is written from the Warp 10 ingest format
  * (`TS// class{labels} value`), not from the program's `Sensision`
  * object, so the stub checks the program against an independent
  * encoding. `golden/sensision.txt` checks this encoder by hand-verified
  * lines.
  */
sealed trait V
object V {
  final case class D(v: Double) extends V
  final case class L(v: Long) extends V
  final case class B(v: Boolean) extends V
  final case class S(v: String) extends V
}

final case class Pt(name: String, labels: Seq[(String, String)], value: V, tsUs: Long)

object Enc {
  private def keep(c: Int): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') ||
      c == '-' || c == '_' || c == '.' || c == '~'

  private val Hex = "0123456789ABCDEF"

  /** Percent-encoding of the UTF-8 bytes; `space` is what a space becomes. */
  def escape(s: String, space: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    for (b <- s.getBytes(UTF_8)) {
      val c = b & 0xFF
      if (keep(c)) sb.append(c.toChar)
      else if (c == ' ') sb.append(space)
      else sb.append('%').append(Hex.charAt(c >> 4)).append(Hex.charAt(c & 15))
    }
    sb.toString
  }

  /** Go `%f`: the exact binary value rounded to 6 decimals, sign kept. */
  def fixed6(v: Double): String = {
    val s = new java.math.BigDecimal(v).setScale(6, java.math.RoundingMode.HALF_EVEN).toPlainString
    if ((v < 0 || (v == 0 && 1 / v < 0)) && !s.startsWith("-")) "-" + s else s
  }

  def value(v: V): String = v match {
    case V.D(d) => fixed6(d)
    case V.L(l) => l.toString
    case V.B(b) => if (b) "T" else "F"
    case V.S(s) => "'" + escape(s, "+") + "'"
  }

  /** One Sensision line without its CRLF terminator. */
  def line(p: Pt): String = {
    val labels = p.labels.sortBy(_._1)
      .map { case (k, v) => escape(k, "%20") + "=" + escape(v, "%20") }.mkString(",")
    s"${p.tsUs}// ${escape(p.name, "%20")}{$labels} ${value(p.value)}"
  }
}

/** Order-insensitive multiset digest of lines: count plus the wrapping
  * sum of a 64-bit hash per line. A dropped, duplicated or altered line
  * changes it.
  */
final class Digest(var count: Long = 0L, var sum: Long = 0L) {
  def add(h: Long): Unit = { count += 1; sum += h }
  def add(o: Digest): Unit = { count += o.count; sum += o.sum }
  def same(o: Digest): Boolean = count == o.count && sum == o.sum
  override def toString: String = s"$count/${java.lang.Long.toHexString(sum)}"
}

object Digest {
  /** FNV-1a 64 over bytes [from, until), finished with the splitmix64 mixer. */
  def hash(b: Array[Byte], from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) { h = (h ^ (b(i) & 0xFF)) * 0x100000001b3L; i += 1 }
    h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
    h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
    h ^ (h >>> 31)
  }
  def hash(line: String): Long = { val b = line.getBytes(UTF_8); hash(b, 0, b.length) }
  def of(lines: Iterable[String]): Digest = { val d = new Digest; lines.foreach(l => d.add(hash(l))); d }
}

/** One generated HTTP request with its expected outcome, all computed
  * before timing.
  */
final case class Req(
    proto: String,
    path: String,
    contentType: String,
    gzip: Boolean,
    body: Array[Byte],
    lines: Int,          // wire lines (or series) in the body
    status: Int,         // expected HTTP status
    expect: Digest) {    // expected Sensision lines at the stub
  def points: Long = expect.count
}

/** The shape of one http_push body: protocol, points, malformed, gzip'd. */
final case class Shape(proto: String, points: Int, malformed: Boolean, gzip: Boolean)

object Gen {
  /** The http_push mix, the same for every seed so that seeds vary content
    * and order but not the load: influx 40 %, remote_write 25 %, OpenTSDB
    * 15 %, Prom text 10 %, graphite 10 %; points per body log-normal around
    * a median of 500, clipped to 10..5,000; 20 % of text bodies gzip'd;
    * 1 in 100 of each protocol's bodies malformed with a known 4xx (from the
    * 8th on, so every protocol in a pool of a few hundred has one).
    */
  def shapes(n: Int): Vector[Shape] = {
    val g = new Gen(0x5EEDL)
    val mix = Seq("influx" -> 40, "remote_write" -> 25, "opentsdb" -> 15, "prom_text" -> 10, "graphite" -> 10)
    val counts = mix.map { case (p, pct) => p -> n * pct / 100 }
    (("influx" -> (n - counts.tail.map(_._2).sum)) +: counts.tail).flatMap { case (p, m) =>
      (0 until m).map { k =>
        Shape(p, g.pointsPerBody, malformed = k % 100 == 7, gzip = p != "remote_write" && g.rnd.nextInt(5) == 0)
      }
    }.toVector
  }
}

/** Seeded wire generator for the five HTTP protocols and graphite TCP. */
final class Gen(seed: Long) {
  val rnd = new java.util.SplittableRandom(seed)
  private def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.length))

  /** A fixed epoch so a seed always renders the same bytes. */
  val baseMs: Long = 1700000000000L + (seed & 0xFFFFF) * 1000L

  // series cardinality: 64 metric families x up to 32 hosts x 4 regions
  private val words = Vector("cpu", "mem", "disk", "net", "load", "temp", "fan", "io", "req", "err",
    "queue", "lat", "conn", "gc", "heap", "swap")
  private val families = Vector.tabulate(64)(i => s"${words(i % 16)}_${words((i / 4) % 16)}$i")
  private val regions = Vector("eu west", "us-east/1", "ap:south", "zürich")
  private val strings = Vector("ok", "degraded", "hot day", "a \"quoted\" word", "naïve")

  private def host: String = s"h${rnd.nextInt(32)}"
  private def dbl: Double = (rnd.nextInt(2000001) - 1000000) / 1000.0
  def pointsPerBody: Int =
    math.max(10, math.min(5000, math.exp(math.log(500) + 0.9 * gauss).round.toInt))
  private def gauss: Double = {
    // Box-Muller on the seeded stream (SplittableRandom has no nextGaussian)
    val u = 1.0 - rnd.nextDouble(); val v = rnd.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * v)
  }
  private def tsMs(i: Int): Long = baseMs + i * 7L + rnd.nextInt(1000)

  private def gz(b: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new java.util.zip.GZIPOutputStream(bos); z.write(b); z.close(); bos.toByteArray
  }

  private def labelSet(n: Int): Seq[(String, String)] =
    (Seq("host" -> host, "region" -> pick(regions)) ++
      (0 until n).map(j => s"l$j" -> s"v${rnd.nextInt(8)}")).take(math.max(1, n))

  // ---- influx line protocol ----
  private def influxEsc(s: String, extra: String): String =
    s.flatMap(c => if (c == ',' || c == ' ' || extra.indexOf(c) >= 0) s"\\$c" else c.toString)

  def influx(n: Int, malformed: Boolean): Req = {
    val sb = new java.lang.StringBuilder
    val pts = ArrayBuffer.empty[Pt]
    var i = 0; var lines = 0
    while (pts.size < n) {
      val meas = pick(families)
      val tags = labelSet(rnd.nextInt(5))
      val tsNs = tsMs(i) * 1000000L + rnd.nextInt(1000) * 1000L
      val nf = 1 + rnd.nextInt(3)
      sb.append(influxEsc(meas, ""))
      tags.foreach { case (k, v) => sb.append(',').append(influxEsc(k, "=")).append('=').append(influxEsc(v, "=")) }
      sb.append(' ')
      for (f <- 0 until nf) {
        val key = s"f$f"
        val (wire, v) = rnd.nextInt(10) match {
          case 0 => val s = pick(strings); ("\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\"", V.S(s))
          case 1 => val b = rnd.nextBoolean(); (if (b) "true" else "f", V.B(b))
          case 2 | 3 => val l = rnd.nextLong(-100000L, 100000L); (s"${l}i", V.L(l))
          case _ => val d = dbl; (d.toString, V.D(d))
        }
        if (f > 0) sb.append(',')
        sb.append(key).append('=').append(wire)
        pts += Pt(s"$meas.$key", tags, v, tsNs / 1000L)
      }
      sb.append(' ').append(tsNs).append('\n')
      i += 1; lines += 1
    }
    if (malformed) sb.append("bad_line,host=x value=\n") // a field without a value: 400, nothing sent
    val body = sb.toString.getBytes(UTF_8)
    Req("influx", "/influxdb/write", "text/plain", false, body, lines + (if (malformed) 1 else 0),
      if (malformed) 400 else 204, if (malformed) new Digest else Digest.of(pts.map(Enc.line)))
  }

  // ---- OpenTSDB JSON ----
  private def json(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def opentsdb(n: Int, malformed: Boolean): Req = {
    val sb = new java.lang.StringBuilder("[")
    val pts = ArrayBuffer.empty[Pt]
    for (i <- 0 until n) {
      val name = pick(families).replace('_', '.')
      val tags = labelSet(rnd.nextInt(4))
      val seconds = rnd.nextInt(8) == 0
      val ms = tsMs(i)
      val ts = if (seconds) ms / 1000 else ms
      val tsUs = if (seconds) (ms / 1000) * 1000000L else ms * 1000L
      val (wire, v) = rnd.nextInt(10) match {
        case 0 => val b = rnd.nextBoolean(); (b.toString, V.B(b))
        case 1 => val s = pick(strings); (json(s), V.S(s))
        case 2 | 3 => val l = rnd.nextInt(100000); (l.toString, V.D(l.toDouble)) // JSON numbers decode as doubles
        case _ => val d = dbl; (d.toString, V.D(d))
      }
      if (i > 0) sb.append(',')
      sb.append("{\"metric\":").append(json(name)).append(",\"timestamp\":").append(ts)
        .append(",\"value\":").append(wire).append(",\"tags\":{")
        .append(tags.map { case (k, v) => json(k) + ":" + json(v) }.mkString(",")).append("}}")
      pts += Pt(name, tags, v, tsUs)
    }
    sb.append(if (malformed) "," else "]") // a truncated array: 422, nothing sent
    Req("opentsdb", "/opentsdb/api/put", "application/json", false, sb.toString.getBytes(UTF_8), n,
      if (malformed) 422 else 204, if (malformed) new Digest else Digest.of(pts.map(Enc.line)))
  }

  // ---- Prometheus text exposition ----
  def promText(n: Int, malformed: Boolean): Req = {
    val sb = new java.lang.StringBuilder
    val pts = ArrayBuffer.empty[Pt]
    for (i <- 0 until n) {
      val name = pick(families) + (if (rnd.nextInt(4) == 0) ":rate5m" else "")
      val labels = labelSet(rnd.nextInt(4))
      val d = dbl; val ms = tsMs(i)
      sb.append(name).append('{')
        .append(labels.map { case (k, v) => k + "=\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\"" }.mkString(","))
        .append("} ").append(d).append(' ').append(ms).append('\n')
      pts += Pt(name, labels, V.D(d), ms * 1000L)
    }
    if (malformed) sb.append("bad metric line\n") // 422, nothing sent
    Req("prom_text", "/prometheus/metrics", "text/plain; version=0.0.4", false,
      sb.toString.getBytes(UTF_8), n, if (malformed) 422 else 202,
      if (malformed) new Digest else Digest.of(pts.map(Enc.line)))
  }

  // ---- Prometheus remote_write: protobuf WriteRequest + snappy ----
  private final class Pb {
    val buf = new ByteArrayOutputStream()
    def varint(v0: Long): Unit = { var v = v0; while ((v & ~0x7FL) != 0) { buf.write(((v & 0x7F) | 0x80).toInt); v >>>= 7 }; buf.write(v.toInt) }
    def tag(f: Int, w: Int): Unit = varint((f << 3 | w).toLong)
    def bytes(f: Int, b: Array[Byte]): Unit = { tag(f, 2); varint(b.length.toLong); buf.write(b) }
    def str(f: Int, s: String): Unit = bytes(f, s.getBytes(UTF_8))
    def dbl(f: Int, d: Double): Unit = {
      tag(f, 1); val l = java.lang.Double.doubleToLongBits(d)
      for (k <- 0 until 8) buf.write(((l >>> (8 * k)) & 0xFF).toInt)
    }
    def result: Array[Byte] = buf.toByteArray
  }

  def remoteWrite(n: Int, malformed: Boolean): Req = {
    val wr = new Pb
    val pts = ArrayBuffer.empty[Pt]
    var left = n; var series = 0
    while (left > 0) {
      val name = pick(families)
      val labels = labelSet(rnd.nextInt(5))
      val ts = new Pb
      ts.bytes(1, { val l = new Pb; l.str(1, "__name__"); l.str(2, name); l.result })
      labels.foreach { case (k, v) => ts.bytes(1, { val l = new Pb; l.str(1, k); l.str(2, v); l.result }) }
      val k = math.min(left, 1 + rnd.nextInt(20))
      for (j <- 0 until k) {
        val d = dbl; val ms = tsMs(j) + j
        ts.bytes(2, { val s = new Pb; s.dbl(1, d); s.tag(2, 0); s.varint(ms); s.result })
        pts += Pt(name, labels, V.D(d), ms * 1000L)
      }
      wr.bytes(1, ts.result)
      left -= k; series += 1
    }
    val packed = org.xerial.snappy.Snappy.compress(wr.result)
    // a cut snappy frame: 422, nothing sent
    val body = if (malformed) java.util.Arrays.copyOf(packed, packed.length / 2) else packed
    Req("remote_write", "/prometheus/remote_write", "application/x-protobuf", false, body, series,
      if (malformed) 422 else 200, if (malformed) new Digest else Digest.of(pts.map(Enc.line)))
  }

  // ---- graphite HTTP (hierarchy labels on, as the program's default) ----
  private def graphitePoint(i: Int, ms: Long, hierarchy: Boolean): (String, Pt) = {
    val fam = pick(families)
    val name = s"${fam.replace('_', '.')}.${host}"
    val tags = (0 until rnd.nextInt(3)).map(j => s"t$j" -> s"v${rnd.nextInt(8)}")
    val (wire, v) = rnd.nextInt(10) match {
      case 0 => val b = rnd.nextBoolean(); (if (b) "true" else "False", V.B(b))
      case 1 => val s = pick(Vector("ok", "degraded", "up")); (s, V.S(s))
      case 2 | 3 => val l = rnd.nextLong(-100000L, 100000L); (l.toString, V.L(l))
      case _ => val d = dbl; (d.toString, V.D(d))
    }
    val head = (name +: tags.map { case (k, v) => s"$k=$v" }).mkString(";")
    val hier = if (hierarchy) name.split("\\.", -1).zipWithIndex.map { case (p, j) => j.toString -> p }.toSeq else Nil
    val labels = (hier.toMap ++ tags).toSeq
    (s"$head $wire $ms", Pt(name, labels, v, ms * 1000L))
  }

  def graphiteHttp(n: Int, malformed: Boolean): Req = {
    val sb = new java.lang.StringBuilder
    val pts = ArrayBuffer.empty[Pt]
    val cut = if (malformed) n / 2 else n // lines before a bad line still commit
    for (i <- 0 until n) {
      val (wire, p) = graphitePoint(i, tsMs(i), hierarchy = true)
      if (malformed && i == cut) sb.append("bad.line 1 notatimestamp\n")
      sb.append(wire).append('\n')
      if (i < cut) pts += p
    }
    Req("graphite", "/graphite/api/v1/sink", "text/plain", false, sb.toString.getBytes(UTF_8),
      n + (if (malformed) 1 else 0), if (malformed) 422 else 202, Digest.of(pts.map(Enc.line)))
  }

  /** One request body of the given shape, its content from this generator's seed. */
  def httpReq(shape: Shape): Req = {
    val r = shape.proto match {
      case "influx" => influx(shape.points, shape.malformed)
      case "remote_write" => remoteWrite(shape.points, shape.malformed)
      case "opentsdb" => opentsdb(shape.points, shape.malformed)
      case "prom_text" => promText(shape.points, shape.malformed)
      case _ => graphiteHttp(shape.points, shape.malformed)
    }
    if (shape.gzip) r.copy(gzip = true, body = gz(r.body)) else r
  }

  /** The http_push pool in a seeded order: one body per shape of [[Gen.shapes]]. */
  def httpPool(n: Int): Vector[Req] = {
    val shapes = Gen.shapes(n).toArray
    for (i <- shapes.indices.reverse) { // Fisher-Yates on the seeded stream
      val j = rnd.nextInt(i + 1); val t = shapes(i); shapes(i) = shapes(j); shapes(j) = t
    }
    shapes.toVector.map(httpReq)
  }
  /** Graphite TCP lines for one connection, all stamped `ms`; the first
    * carries the `TOKEN@.` auth prefix, as every line must.
    */
  def graphiteTcp(token: String, n: Int, ms: Long, into: Digest): Array[Byte] = {
    val sb = new java.lang.StringBuilder(n * 48)
    for (i <- 0 until n) {
      val fam = families(rnd.nextInt(families.length))
      val h = rnd.nextInt(256)
      val v = rnd.nextInt(2000001) - 1000000
      // value with 3 decimals, rendered without boxing
      val frac = math.abs(v) % 1000
      val wire = (if (v < 0) "-" else "") + (math.abs(v) / 1000) + (if (frac < 10) ".00" else if (frac < 100) ".0" else ".") + frac
      sb.append(token).append("@.stream.").append(fam).append(";host=h").append(h).append(' ')
        .append(wire).append(' ').append(ms).append('\n')
      into.add(Digest.hash(Enc.line(Pt(s"stream.$fam", Seq("host" -> s"h$h"), V.D(v / 1000.0), ms * 1000L))))
    }
    sb.toString.getBytes(UTF_8)
  }
}
