package graft.perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import java.io.ByteArrayOutputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

/** Order-insensitive digest of a set of TSV lines: the line count and the
  * wrapping sum of a 64-bit hash of each line. */
final case class Digest(lines: Long, sum: Long) {
  def +(o: Digest): Digest = Digest(lines + o.lines, sum + o.sum)
}

object Digest {
  val empty: Digest = Digest(0L, 0L)

  /** FNV-1a over the bytes `[from, until)`, finished with the SplitMix64
    * mixer so that nearby lines spread over all 64 bits. */
  def lineHash(b: Array[Byte], from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) { h = (h ^ (b(i) & 0xff)) * 0x100000001b3L; i += 1 }
    Scrape.mix(h)
  }

  def ofLine(line: String): Digest = {
    val b = line.getBytes(UTF_8)
    Digest(1L, lineHash(b, 0, b.length))
  }

  /** Digest of a newline-separated body, as the ClickHouse stub got it. */
  def ofBody(b: Array[Byte]): Digest = {
    var lines = 0L; var sum = 0L; var start = 0; var i = 0
    while (i <= b.length) {
      if (i == b.length || b(i) == '\n') {
        if (i > start) { lines += 1; sum += lineHash(b, start, i) }
        start = i + 1
      }
      i += 1
    }
    Digest(lines, sum)
  }
}

/** What one `query_range` window holds: the response document and what
  * the pipeline must make of the points in `[start, end)`. */
final case class Window(start: Long, end: Long, body: Array[Byte],
                        rows: Long, skipped: Long, digest: Digest)

/** Seeded synthetic scrape behind a Prometheus `query_range` API.
  *
  * `nSeries` series spread over `nNames` metric names. Every tenth series
  * carries a `path` label holding a tab, a newline, both quote kinds and
  * a backslash, so the TSV and array-literal escaping is exercised.
  * Values are multiples of 1/8, so their decimal form is exact; about one
  * point in a thousand is an unparseable token and a few are NaN or ±Inf.
  *
  * The expected ClickHouse line of every point is built here, by string
  * rules written from the TabSeparated format, not by the program's
  * renderer, so the check is independent of the code it checks.
  */
final class Scrape(seed: Long, nSeries: Int, nNames: Int, val step: Long) {

  private final case class Series(metricJson: String, linePrefix: String)

  private val series: Array[Series] = Array.tabulate(nSeries) { i =>
    val name = f"graft_bench_${i % nNames}%02d_total"
    val labels = Seq(
      "instance" -> s"10.${(i / 250) % 250}.${i % 250}.${(seed & 0xff)}:9100",
      "job" -> s"job_${i % 7}") ++
      (if (i % 10 == 0) Seq("path" -> s"C:\\logs\\run $i\t\"q\" it's\nnext")
       else Nil)
    val json = (("__name__" -> name) +: labels)
      .map { case (k, v) => Json.str(k) + ":" + Json.str(v) }
      .mkString("{", ",", "}")
    val sorted = labels.sortBy(_._1)
    val prefix = "\t" + Scrape.tsvEscape(name) +
      "\t" + Scrape.chArray(sorted.map(_._1)) +
      "\t" + Scrape.chArray(sorted.map(_._2)) + "\t"
    Series(json, prefix)
  }

  /** One point's value token (as Prometheus sends it) and its expected
    * TSV rendering; `None` for a token the pipeline must skip. */
  private def point(i: Int, t: Long): (String, Option[String]) = {
    val r = Scrape.mix(seed * 0x9e3779b97f4a7c15L ^ (i.toLong << 32) ^ t)
    (java.lang.Long.remainderUnsigned(r, 1000L).toInt: @annotation.switch) match {
      case 0 => ("n/a", None)
      case 1 => ("NaN", Some("nan"))
      case 2 => ("+Inf", Some("inf"))
      case 3 => ("-Inf", Some("-inf"))
      case _ =>
        val n = java.lang.Long.remainderUnsigned(r >>> 16, 2000001L) - 1000000L
        val s = Scrape.eighths(n)
        (s, Some(s))
    }
  }

  /** The response Prometheus would give for `[start, end]` at this step
    * (end inclusive), and the expectation for the points before `end`. */
  def window(start: Long, end: Long): Window = {
    val out = new ByteArrayOutputStream(64 + nSeries * (
      ((end - start) / step + 1).toInt * 24 + 160))
    def put(s: String): Unit = out.write(s.getBytes(UTF_8))
    var rows = 0L; var skipped = 0L; var digest = Digest.empty
    put("""{"status":"success","data":{"resultType":"matrix","result":[""")
    var i = 0
    while (i < nSeries) {
      val s = series(i)
      if (i > 0) put(",")
      put("{\"metric\":"); put(s.metricJson); put(",\"values\":[")
      var t = start
      var first = true
      while (t <= end) {
        val (token, expect) = point(i, t)
        if (!first) put(",")
        first = false
        put("["); put(t.toString); put(",\""); put(token); put("\"]")
        if (t < end) expect match {
          case Some(v) =>
            rows += 1
            digest = digest + Digest.ofLine(s"$t.000000${s.linePrefix}$v")
          case None => skipped += 1
        }
        t += step
      }
      put("]}")
      i += 1
    }
    put("]}}")
    Window(start, end, out.toByteArray, rows, skipped, digest)
  }
}

object Scrape {
  /** SplitMix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private val Frac = Array("", ".125", ".25", ".375", ".5", ".625", ".75", ".875")

  /** Shortest decimal form of n/8 ("-3.375", "12", "0"). */
  def eighths(n: Long): String = {
    val a = math.abs(n)
    (if (n < 0) "-" else "") + (a / 8).toString + Frac((a % 8).toInt)
  }

  /** TabSeparated escaping: backslash, tab, newline. */
  def tsvEscape(s: String): String =
    s.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")

  /** ClickHouse array literal of TSV-escaped, quote-escaped strings. */
  def chArray(xs: Seq[String]): String =
    xs.map(x => "'" + tsvEscape(x).replace("'", "\\'") + "'")
      .mkString("[", ",", "]")
}

/** Stub Prometheus: serves prepared `query_range` windows (generating a
  * window on demand if it was not prepared) and records, per request, the
  * interval it spent serving and the bytes it sent. */
final class PromStub(scrape: Scrape, tracer: Tracer) {
  @volatile private var prepared: Option[Window] = None
  @volatile var served: List[(Long, Long, Long)] = Nil // (startUs, endUs, bytes)

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/api/v1/query_range", (ex: HttpExchange) => {
    val t0 = tracer.nowUs
    try {
      val q = ex.getRequestURI.getRawQuery.split("&").map(_.split("=", 2))
        .collect { case Array(k, v) => k -> java.net.URLDecoder.decode(v, "UTF-8") }
        .toMap
      val (start, end) = (q("start").toLong, q("end").toLong)
      val body = prepared.filter(w => w.start == start && w.end == end)
        .getOrElse(scrape.window(start, end)).body
      ex.sendResponseHeaders(200, body.length.toLong)
      ex.getResponseBody.write(body)
      served = (t0, tracer.nowUs, body.length.toLong) :: served
    } catch {
      case e: Exception =>
        val msg = e.toString.getBytes(UTF_8)
        ex.sendResponseHeaders(400, msg.length.toLong)
        ex.getResponseBody.write(msg)
    } finally ex.close()
  })
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  def prepare(w: Window): Unit = prepared = Some(w)
  def stop(): Unit = server.stop(0)
}

/** Stub ClickHouse HTTP interface: accepts every INSERT body and keeps it
  * for the check, which runs after the iteration; records each POST's
  * interval and size. `dropLine` makes it lose one line of the next body
  * it receives (the negative self-check). */
final class ChStub(tracer: Tracer) {
  @volatile var bodies: List[Array[Byte]] = Nil
  @volatile var posts: List[(Long, Long, Long)] = Nil // (startUs, endUs, bytes)
  @volatile var dropLine = false

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/", (ex: HttpExchange) => {
    val t0 = tracer.nowUs
    var body = ex.getRequestBody.readAllBytes()
    if (dropLine && body.nonEmpty) {
      dropLine = false
      body = body.drop(body.indexOf('\n'.toByte) + 1)
    }
    bodies = body :: bodies
    ex.sendResponseHeaders(200, -1)
    ex.close()
    posts = (t0, tracer.nowUs, body.length.toLong) :: posts
  })
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/"
  def digest: Digest = bodies.map(Digest.ofBody).foldLeft(Digest.empty)(_ + _)
  def reset(): Unit = { bodies = Nil; posts = Nil }
  def stop(): Unit = server.stop(0)
}
