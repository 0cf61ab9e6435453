package graft

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.config._
import graft.logging.StructuredLogger
import graft.sinks.ClickHouseHttpClient
import graft.sources.PrometheusHttpClient
import graft.streaming._

import java.io.{ByteArrayOutputStream, PrintStream}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue

/** End-to-end deployment surface: stub Prometheus HTTP API → fetch →
  * Spark parse/transform → TSV part-files → streaming POST into a stub
  * ClickHouse HTTP interface, with ledger-carried progress across
  * iterations — the reference's whole run() loop (etl_job.py) against
  * live(-shaped) endpoints. */
class EtlPipelineSpec extends SparkSpec {

  private def quietLogger = new StructuredLogger("test", "CRITICAL",
    new PrintStream(new ByteArrayOutputStream()),
    new PrintStream(new ByteArrayOutputStream()))

  /** Stub Prometheus: answers query_range with points derived from the
    * requested [start, end) so successive windows return successive
    * data — progress is visible end-to-end. */
  private def promResponse(query: String): String = {
    val params = query.split("&").map(_.split("=", 2))
      .map(a => a(0) -> java.net.URLDecoder.decode(a(1), "UTF-8")).toMap
    val start = params("start").toLong
    val end = params("end").toLong
    val values = (start until end by 50L)
      .map(t => s"""[$t,"${t % 7}.5"]""").mkString(",")
    s"""{"status":"success","data":{"resultType":"matrix","result":[""" +
      s"""{"metric":{"__name__":"up","job":"api"},"values":[$values]}]}}"""
  }

  test("fetch -> transform -> load, two iterations with ledger progress") {
    val promServer = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val promQueries = new ConcurrentLinkedQueue[String]()
    promServer.createContext("/api/v1/query_range", (ex: HttpExchange) => {
      val q = ex.getRequestURI.getRawQuery
      promQueries.add(q)
      val body = promResponse(q).getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, body.length.toLong)
      ex.getResponseBody.write(body); ex.close()
    })
    val chServer = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val chBodies = new ConcurrentLinkedQueue[String]()
    chServer.createContext("/", (ex: HttpExchange) => {
      chBodies.add(new String(ex.getRequestBody.readAllBytes(),
        StandardCharsets.UTF_8))
      ex.sendResponseHeaders(200, -1); ex.close()
    })
    promServer.start(); chServer.start()
    try {
      val app = EnvConfig.load(Map(
        "PROMETHEUS_URL" ->
          s"http://127.0.0.1:${promServer.getAddress.getPort}",
        "CLICKHOUSE_URL" ->
          s"http://127.0.0.1:${chServer.getAddress.getPort}/",
        "BATCH_WINDOW_SIZE_SECONDS" -> "100"))
      val prom = new PrometheusHttpClient(app.prometheus, quietLogger)
      val ch = new ClickHouseHttpClient(app.clickhouse, quietLogger)
      val inDir = tmpDir("pipe_in")
      val outDir = tmpDir("pipe_out")
      val ledgerDir = tmpDir("pipe_ledger") + "/ledger"

      // iteration 1: progress 1000 → window [1000, 1100) → ts 1000, 1050
      val r1 = EtlPipeline.runOnce(spark, app, "job", """{__name__=~".+"}""",
        inDir, outDir, ledgerDir, initialProgress = 1000, now = 5000,
        prom, ch, logger = quietLogger)
      assert(r1.timestampStart == 1000)
      assert(r1.timestampProgress.contains(1100))
      assert(r1.batchRows.contains(2L))

      // iteration 2 resumes from the LEDGER → [1100, 1200) → 1100, 1150
      val events = new ByteArrayOutputStream()
      val r2 = EtlPipeline.runOnce(spark, app, "job", """{__name__=~".+"}""",
        inDir, outDir, ledgerDir, initialProgress = -1, now = 5000,
        prom, ch, logger = new StructuredLogger("test", "INFO",
          new PrintStream(events), new PrintStream(new ByteArrayOutputStream())))
      assert(r2.timestampStart == 1100)
      assert(r2.timestampProgress.contains(1200))
      assert(r2.batchRows.contains(2L))
      // per-stage durations ride on the existing completion events
      val log = events.toString(StandardCharsets.UTF_8)
      Seq("etl_job.batch_completed.gate_ms",
        "etl_job.batch_completed.parse_ms",
        "etl_job.batch_completed.write_ms",
        "etl_pipeline.loaded.fetch_ms",
        "etl_pipeline.loaded.load_ms").foreach { k =>
        assert(("\"" + java.util.regex.Pattern.quote(k) + "\":[0-9]+").r
          .findFirstIn(log).isDefined, k)
      }
      // the gate's snapshot saw iteration 1's open and closed records
      assert("\"etl_job\\.batch_completed\\.ledger_files\":2[,}]".r
        .findFirstIn(log).isDefined, log)

      // per-batch response files are cleaned up after the batch (the
      // reference's temp-file cleanup; keeps the drop-dir reparse O(1))
      assert(java.nio.file.Files.list(java.nio.file.Paths.get(inDir))
        .count() == 0)

      // the stub Prometheus saw the two window fetches with step from config
      val queries = promQueries.toArray(Array.empty[String])
      assert(queries.length == 2)
      assert(queries(0).contains("start=1000&end=1100&step=15s"))
      assert(queries(1).contains("start=1100&end=1200&step=15s"))

      // the stub ClickHouse received the TSV rows — reference TabSeparated
      // shape (R3/R4): ts.micros, name, ['k'], ['v'], value
      val tsv = chBodies.toArray(Array.empty[String]).mkString
        .split("\n").filter(_.nonEmpty).sorted.toSeq
      assert(tsv.size == 4)
      assert(tsv.contains("1000.000000\tup\t['job']\t['api']\t6.5"))
      assert(tsv.contains("1150.000000\tup\t['job']\t['api']\t2.5"))
      // every line: 5 tab-separated fields, array literals in CH format
      tsv.foreach { line =>
        val f = line.split("\t", -1)
        assert(f.length == 5, line)
        assert(f(2).startsWith("[") && f(3).startsWith("["), line)
      }
    } finally { promServer.stop(0); chServer.stop(0) }
  }

  test("runLoop chains progress across iterations through the ledger") {
    val promServer = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    promServer.createContext("/api/v1/query_range", (ex: HttpExchange) => {
      val body = promResponse(ex.getRequestURI.getRawQuery)
        .getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, body.length.toLong)
      ex.getResponseBody.write(body); ex.close()
    })
    val chServer = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    chServer.createContext("/", (ex: HttpExchange) => {
      ex.getRequestBody.readAllBytes()
      ex.sendResponseHeaders(200, -1); ex.close()
    })
    promServer.start(); chServer.start()
    try {
      val app = EnvConfig.load(Map(
        "PROMETHEUS_URL" ->
          s"http://127.0.0.1:${promServer.getAddress.getPort}",
        "CLICKHOUSE_URL" ->
          s"http://127.0.0.1:${chServer.getAddress.getPort}/",
        "BATCH_WINDOW_SIZE_SECONDS" -> "100"))
      val closed = EtlPipeline.runLoop(spark, app, "loop_job",
        """{__name__=~".+"}""", tmpDir("loop_in"), tmpDir("loop_out"),
        tmpDir("loop_ledger") + "/ledger", initialProgress = 2000,
        iterations = 3, nowFn = _ => 9000,
        prom = new PrometheusHttpClient(app.prometheus, quietLogger),
        ch = new ClickHouseHttpClient(app.clickhouse, quietLogger),
        logger = quietLogger)
      assert(closed.map(_.timestampStart) == Seq(2000L, 2100L, 2200L))
      assert(closed.map(_.timestampProgress.get) == Seq(2100L, 2200L, 2300L))
    } finally { promServer.stop(0); chServer.stop(0) }
  }
}
