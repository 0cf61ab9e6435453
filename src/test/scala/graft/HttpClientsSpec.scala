package graft

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.config.{ClickHouseSettings, PrometheusSettings}
import graft.logging.StructuredLogger
import graft.sinks.{ClickHouseHttpClient, ClickHouseHttpException}
import graft.sources.{PrometheusHttpClient, PrometheusHttpException}
import org.scalatest.funsuite.AnyFunSuite

import java.io.{ByteArrayOutputStream, PrintStream}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

/** HTTP transport parity with the reference clients, driven against
  * local JDK stub servers: PrometheusHttpClient vs
  * prometheus_client.py:126-209 and ClickHouseHttpClient vs
  * clickhouse_client.py:131-218. */
class HttpClientsSpec extends AnyFunSuite {

  /** One recorded request: (method, path, rawQuery, authHeader, body). */
  case class Recorded(method: String, path: String, query: String,
                      auth: Option[String], body: Array[Byte])

  /** Stub server recording requests; `respond` decides status/body. */
  private def withServer(respond: Recorded => (Int, Array[Byte]))
                        (test: (String, ConcurrentLinkedQueue[Recorded]) => Unit)
      : Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val recorded = new ConcurrentLinkedQueue[Recorded]()
    server.createContext("/", (ex: HttpExchange) => {
      val body = ex.getRequestBody.readAllBytes()
      val r = Recorded(
        ex.getRequestMethod,
        ex.getRequestURI.getPath,
        Option(ex.getRequestURI.getRawQuery).getOrElse(""),
        Option(ex.getRequestHeaders.getFirst("Authorization")),
        body)
      recorded.add(r)
      val (status, resp) = respond(r)
      ex.sendResponseHeaders(status, if (resp.isEmpty) -1 else resp.length.toLong)
      if (resp.nonEmpty) ex.getResponseBody.write(resp)
      ex.close()
    })
    server.start()
    try test(s"http://127.0.0.1:${server.getAddress.getPort}", recorded)
    finally server.stop(0)
  }

  private def quietLogger: StructuredLogger =
    new StructuredLogger("test", "CRITICAL",
      new PrintStream(new ByteArrayOutputStream()),
      new PrintStream(new ByteArrayOutputStream()))

  private def tmpFile(prefix: String): String =
    Files.createTempFile(prefix, ".dat").toString

  // ---------------- Prometheus ----------------

  test("query_range_to_file: url, params, auth, body streamed to file") {
    val payload = """{"status":"success","data":{"result":[]}}"""
    withServer(_ => (200, payload.getBytes(StandardCharsets.UTF_8))) {
      (base, recorded) =>
        val client = new PrometheusHttpClient(
          PrometheusSettings(base, user = Some("alice"), password = Some("")),
          quietLogger)
        val out = tmpFile("prom")
        client.queryRangeToFile("""{__name__=~".+"}""", 1000L, 1300L, "15s", out)
        assert(Files.readString(Paths.get(out)) == payload)
        val r = recorded.poll()
        assert(r.method == "GET")
        assert(r.path == "/api/v1/query_range")
        // params URL-encoded, exactly the reference's four
        assert(r.query ==
          "query=%7B__name__%3D%7E%22.%2B%22%7D&start=1000&end=1300&step=15s")
        // basic auth alice:<empty normalized password> = "alice:"
        assert(r.auth.contains("Basic YWxpY2U6"))
    }
  }

  test("query_range_to_file: no auth header when user unset") {
    withServer(_ => (200, "{}".getBytes(StandardCharsets.UTF_8))) {
      (base, recorded) =>
        new PrometheusHttpClient(PrometheusSettings(base), quietLogger)
          .queryRangeToFile("up", 0L, 10L, "1s", tmpFile("prom"))
        assert(recorded.poll().auth.isEmpty)
    }
  }

  test("query_range_to_file: non-2xx raises with status + body preview") {
    withServer(_ => (503, "overloaded".getBytes(StandardCharsets.UTF_8))) {
      (base, _) =>
        val e = intercept[PrometheusHttpException] {
          new PrometheusHttpClient(PrometheusSettings(base), quietLogger)
            .queryRangeToFile("up", 0L, 10L, "1s", tmpFile("prom"))
        }
        assert(e.statusCode == 503)
        assert(e.responsePreview == "overloaded")
    }
  }

  test("query_range_to_file: timeout raises HttpTimeoutException") {
    withServer { _ => Thread.sleep(3000); (200, Array.emptyByteArray) } {
      (base, _) =>
        intercept[java.net.http.HttpTimeoutException] {
          new PrometheusHttpClient(
            PrometheusSettings(base, timeoutSeconds = 1), quietLogger)
            .queryRangeToFile("up", 0L, 10L, "1s", tmpFile("prom"))
        }
    }
  }

  test("query_range_to_file: connection refused raises ConnectException") {
    intercept[java.net.ConnectException] {
      // unroutable local port (bound-then-closed ports refuse fast)
      new PrometheusHttpClient(
        PrometheusSettings("http://127.0.0.1:1", timeoutSeconds = 2),
        quietLogger)
        .queryRangeToFile("up", 0L, 10L, "1s", tmpFile("prom"))
    }
  }

  // ---------------- ClickHouse ----------------

  test("insert_from_file: streaming POST with INSERT query param and auth") {
    val tsv = "1000.000001\tup\t['job']\t['api']\t1.5\n"
    withServer(_ => (200, Array.emptyByteArray)) { (base, recorded) =>
      val f = tmpFile("ch")
      Files.write(Paths.get(f), tsv.getBytes(StandardCharsets.UTF_8))
      new ClickHouseHttpClient(
        ClickHouseSettings(base, user = Some("bob"), password = Some("pw"),
          tableMetrics = "db.metrics"), quietLogger)
        .insertFromFile(f)
      val r = recorded.poll()
      assert(r.method == "POST")
      assert(java.net.URLDecoder.decode(r.query, "UTF-8") ==
        "query=INSERT INTO db.metrics FORMAT TabSeparated")
      assert(new String(r.body, StandardCharsets.UTF_8) == tsv)
      assert(r.auth.contains("Basic " + java.util.Base64.getEncoder
        .encodeToString("bob:pw".getBytes(StandardCharsets.UTF_8))))
    }
  }

  test("insert_from_file: empty file is a no-op (no HTTP request)") {
    withServer(_ => (200, Array.emptyByteArray)) { (base, recorded) =>
      new ClickHouseHttpClient(ClickHouseSettings(base), quietLogger)
        .insertFromFile(tmpFile("empty"))
      assert(recorded.isEmpty)
    }
  }

  test("insert_from_file: missing file raises FileNotFoundException") {
    withServer(_ => (200, Array.emptyByteArray)) { (base, _) =>
      intercept[java.io.FileNotFoundException] {
        new ClickHouseHttpClient(ClickHouseSettings(base), quietLogger)
          .insertFromFile("/nonexistent/nope.tsv")
      }
    }
  }

  test("insert_from_file: non-2xx raises with response preview") {
    withServer(_ => (500, "Code: 62. DB::Exception: syntax error"
      .getBytes(StandardCharsets.UTF_8))) { (base, _) =>
      val f = tmpFile("ch")
      Files.write(Paths.get(f), "x\n".getBytes(StandardCharsets.UTF_8))
      val e = intercept[ClickHouseHttpException] {
        new ClickHouseHttpClient(ClickHouseSettings(base), quietLogger)
          .insertFromFile(f)
      }
      assert(e.statusCode == 500)
      assert(e.responsePreview.contains("DB::Exception"))
    }
  }

  test("table name validation (clickhouse_client.py:296-331)") {
    import ClickHouseHttpClient.validateTableName
    validateTableName("metrics", "t")
    validateTableName("db.metrics", "t")
    validateTableName("db_1.m_2", "t")
    for (bad <- Seq("", "  ", "a.b.c", ".m", "db.", "db..m",
      "db.me trics", "m;drop", "db.m'"))
      intercept[IllegalArgumentException] { validateTableName(bad, "t") }
  }

  test("loadDir posts exactly the part-files, in sorted order") {
    withServer(_ => (200, Array.emptyByteArray)) { (base, recorded) =>
      val dir = Files.createTempDirectory("tsvparts")
      Files.write(dir.resolve("part-00001-x.txt"),
        "b\n".getBytes(StandardCharsets.UTF_8))
      Files.write(dir.resolve("part-00000-x.txt"),
        "a\n".getBytes(StandardCharsets.UTF_8))
      Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
      Files.write(dir.resolve(".part-00000-x.txt.crc"),
        "junk".getBytes(StandardCharsets.UTF_8))
      val n = new ClickHouseHttpClient(ClickHouseSettings(base), quietLogger)
        .loadDir(dir.toString)
      assert(n == 2)
      val bodies = Iterator.continually(recorded.poll())
        .takeWhile(_ != null)
        .map(r => new String(r.body, StandardCharsets.UTF_8)).toSeq
      assert(bodies == Seq("a\n", "b\n"))
    }
  }

  test("loadDir closes its directory listing (no fd leak per call)") {
    val fds = Paths.get("/proc/self/fd")
    assume(Files.isDirectory(fds), "needs /proc/self/fd")
    def open() = scala.util.Using.resource(Files.list(fds))(_.count())
    val dir = Files.createTempDirectory("tsvparts")
    Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
    val ch = new ClickHouseHttpClient(
      ClickHouseSettings("http://127.0.0.1:1"), quietLogger)
    val before = open()
    (1 to 200).foreach(_ => assert(ch.loadDir(dir.toString) == 0))
    // a leak holds 2 fds per call (400 here); the slack absorbs other
    // threads of the test JVM opening files meanwhile
    assert(open() - before < 20)
  }
}
