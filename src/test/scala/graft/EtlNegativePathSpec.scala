package graft

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.config.EnvConfig
import graft.logging.StructuredLogger
import graft.sinks.ClickHouseHttpClient
import graft.sources.{PrometheusHttpClient, PrometheusHttpException}
import graft.streaming._

import java.io.{ByteArrayOutputStream, PrintStream}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

/** Negative-path deployment semantics (VERDICT_r04 item 9): what state
  * each failure POSITION leaves behind, and that the recovery documented
  * for it actually works. The existing EtlJobSpec plants a stale open
  * record by hand; here the failures are REAL — a sink crash mid-batch,
  * a Prometheus 500 before mark-start, a ClickHouse 500 after close —
  * because the thing under test is precisely which side of mark-start /
  * mark-end each failure lands on. Plus seeded property checks over the
  * R6 window math at the epoch boundaries (min_start clamp,
  * progress == now, now before the window).
  */
class EtlNegativePathSpec extends SparkSpec {

  private def quietLogger = new StructuredLogger("test", "CRITICAL",
    new PrintStream(new ByteArrayOutputStream()),
    new PrintStream(new ByteArrayOutputStream()))

  private val conf = EtlConfig(
    batchWindowSeconds = 100,
    batchWindowOverlapSeconds = 10,
    minWindowStartTimestamp = 0)

  private def fixture(ts: Seq[Long]): String = {
    val values = ts.map(t => s"""[$t,"1.5"]""").mkString(",")
    s"""{"status":"success","data":{"resultType":"matrix","result":[""" +
      s"""{"metric":{"__name__":"up","job":"a"},"values":[$values]}]}}"""
  }

  test("mid-batch sink failure leaves an OPEN record; force takes over") {
    val inDir = tmpDir("neg_sink_in")
    val ledgerDir = tmpDir("neg_sink") + "/ledger"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(inDir, "r.json"), fixture(Seq(1005L, 1050L)))
    // make the TSV write fail mid-batch: outDir nested under a FILE
    val blocker = java.nio.file.Files.createTempFile("neg_blocker", ".dat")
    val badOut = blocker.toString + "/tsv"

    intercept[Exception] {
      EtlJob.runOnce(spark, conf, "job", inDir, badOut, ledgerDir,
        initialProgress = 1000, now = 2000, logger = quietLogger)
    }
    // the crash happened AFTER mark-start, BEFORE mark-end: the open
    // record is the tombstone (organically produced, not planted)...
    assert(EtlJob.hasRunningJob(ledgerDir))
    // ...and it is invalid for state reads, so progress did NOT advance
    assert(EtlJob.latestState(EtlJob.readLedger(ledgerDir)).isEmpty)

    // a plain re-run trips the R8 gate
    intercept[IllegalStateException] {
      EtlJob.runOnce(spark, conf, "job", inDir, tmpDir("neg_ok") + "/tsv",
        ledgerDir, initialProgress = 1000, now = 2000, logger = quietLogger)
    }
    // the documented operator recovery: force takeover — abort-closes
    // the stale record, resumes from PRE-CRASH progress (same window)
    val r = EtlJob.runOnce(spark, conf, "job", inDir,
      tmpDir("neg_ok2") + "/tsv", ledgerDir,
      initialProgress = 1000, now = 2000, force = true,
      logger = quietLogger)
    assert(r.timestampStart == 990, "takeover must retry the same window")
    assert(r.timestampProgress.contains(1090))
    assert(r.batchRows.contains(2L))
    assert(!EtlJob.hasRunningJob(ledgerDir))
  }

  test("fetch failure aborts BEFORE mark-start: no tombstone, no force needed") {
    val failures = new AtomicInteger(2) // first two fetches 500
    val promServer =
      HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    promServer.createContext("/api/v1/query_range", (ex: HttpExchange) => {
      if (failures.getAndDecrement() > 0) {
        ex.sendResponseHeaders(500, -1); ex.close()
      } else {
        val q = ex.getRequestURI.getRawQuery
        val params = q.split("&").map(_.split("=", 2))
          .map(a => a(0) -> a(1)).toMap
        val body = fixture(Seq(params("start").toLong + 5))
          .getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(200, body.length.toLong)
        ex.getResponseBody.write(body); ex.close()
      }
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
      val prom = new PrometheusHttpClient(app.prometheus, quietLogger)
      val ch = new ClickHouseHttpClient(app.clickhouse, quietLogger)
      val inDir = tmpDir("neg_fetch_in")
      val outDir = tmpDir("neg_fetch_out")
      val ledgerDir = tmpDir("neg_fetch") + "/ledger"

      // two failing fetches in a row — each aborts pre-mark-start
      (1 to 2).foreach { _ =>
        intercept[PrometheusHttpException] {
          EtlPipeline.runOnce(spark, app, "job", "up", inDir, outDir,
            ledgerDir, initialProgress = 1000, now = 5000, prom, ch,
            logger = quietLogger)
        }
        assert(!EtlJob.hasRunningJob(ledgerDir),
          "a fetch failure must not leave an open ledger record")
      }
      // third run succeeds WITHOUT force, from the original progress
      val r = EtlPipeline.runOnce(spark, app, "job", "up", inDir, outDir,
        ledgerDir, initialProgress = 1000, now = 5000, prom, ch,
        logger = quietLogger)
      assert(r.timestampStart == 1000)
      assert(r.timestampProgress.contains(1100))
    } finally { promServer.stop(0); chServer.stop(0) }
  }

  test("window closed by another run between fetch and gate: refuse before mark-start") {
    import spark.implicits._
    val ledgerDir = tmpDir("neg_race") + "/ledger"
    // another orchestrator closes [1000, 1100) while this one is fetching
    // the same window: the stub appends that closed record to the ledger
    // before it answers the fetch
    val raced = LedgerRecord("job", 1000, Some(5000L), Some(1100L),
      Some(100L), Some(1L), Some(0L), seq = 1)
    val promServer =
      HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    promServer.createContext("/api/v1/query_range", (ex: HttpExchange) => {
      Seq(raced).toDS().write.mode("append").parquet(ledgerDir)
      val body = fixture(Seq(1005L)).getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, body.length.toLong)
      ex.getResponseBody.write(body); ex.close()
    })
    val chPosts = new AtomicInteger(0)
    val chServer = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    chServer.createContext("/", (ex: HttpExchange) => {
      ex.getRequestBody.readAllBytes(); chPosts.incrementAndGet()
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
      val e = intercept[IllegalStateException] {
        EtlPipeline.runOnce(spark, app, "job", "up", tmpDir("neg_race_in"),
          tmpDir("neg_race_out"), ledgerDir, initialProgress = 1000,
          now = 5000, new PrometheusHttpClient(app.prometheus, quietLogger),
          new ClickHouseHttpClient(app.clickhouse, quietLogger),
          logger = quietLogger)
      }
      assert(e.getMessage.contains("fetched window"))
      // refused before mark-start: no open record, nothing appended,
      // progress is where the other run left it, nothing was loaded
      assert(!EtlJob.hasRunningJob(ledgerDir))
      assert(EtlJob.readLedger(ledgerDir) == Seq(raced))
      assert(EtlJob.latestState(EtlJob.readLedger(ledgerDir))
        .flatMap(_.timestampProgress).contains(1100L))
      assert(chPosts.get == 0)
    } finally { promServer.stop(0); chServer.stop(0) }
  }

  test("ClickHouse load failure lands AFTER mark-end: progress kept, re-send safe") {
    val promServer =
      HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    promServer.createContext("/api/v1/query_range", (ex: HttpExchange) => {
      val q = ex.getRequestURI.getRawQuery
      val params = q.split("&").map(_.split("=", 2))
        .map(a => a(0) -> a(1)).toMap
      val body = fixture(Seq(params("start").toLong + 5))
        .getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, body.length.toLong)
      ex.getResponseBody.write(body); ex.close()
    })
    val chFailures = new AtomicInteger(1)
    val chBodies = new ConcurrentLinkedQueue[String]()
    val chServer = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    chServer.createContext("/", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(),
        StandardCharsets.UTF_8)
      if (chFailures.getAndDecrement() > 0) {
        ex.sendResponseHeaders(503, -1); ex.close()
      } else {
        chBodies.add(body)
        ex.sendResponseHeaders(200, -1); ex.close()
      }
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
      val inDir = tmpDir("neg_load_in")
      val outDir = tmpDir("neg_load_out")
      val ledgerDir = tmpDir("neg_load") + "/ledger"

      // load fails AFTER the ledger closed: the batch is on disk in its
      // per-batch subdir, progress is already 1100
      intercept[Exception] {
        EtlPipeline.runOnce(spark, app, "job", "up", inDir, outDir,
          ledgerDir, initialProgress = 1000, now = 5000, prom, ch,
          logger = quietLogger)
      }
      assert(!EtlJob.hasRunningJob(ledgerDir))
      val st = EtlJob.latestState(EtlJob.readLedger(ledgerDir))
      assert(st.flatMap(_.timestampProgress).contains(1100L),
        "mark-end precedes the load: progress must be kept")

      // operator re-sends the batch dir by hand — idempotent by R5/R9 —
      // and the NEXT run continues from 1100 without force
      ch.loadDir(s"$outDir/batch_1000_1100")
      assert(chBodies.size == 1)
      val r2 = EtlPipeline.runOnce(spark, app, "job", "up", inDir, outDir,
        ledgerDir, initialProgress = -1, now = 5000, prom, ch,
        logger = quietLogger)
      assert(r2.timestampStart == 1100)
    } finally { promServer.stop(0); chServer.stop(0) }
  }

  test("CLICKHOUSE_ENSURE_TABLES=true bootstraps the schema before the batch") {
    val promServer =
      HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    promServer.createContext("/api/v1/query_range", (ex: HttpExchange) => {
      val q = ex.getRequestURI.getRawQuery
      val params = q.split("&").map(_.split("=", 2))
        .map(a => a(0) -> a(1)).toMap
      val body = fixture(Seq(params("start").toLong + 5))
        .getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, body.length.toLong)
      ex.getResponseBody.write(body); ex.close()
    })
    val chBodies = new ConcurrentLinkedQueue[String]()
    val chServer = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
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
        "CLICKHOUSE_ENSURE_TABLES" -> "yes", // pydantic-breadth bool
        "BATCH_WINDOW_SIZE_SECONDS" -> "100"))
      assert(app.clickhouse.ensureTables)
      EtlPipeline.runOnce(spark, app, "job", "up",
        tmpDir("ddl_in"), tmpDir("ddl_out"), tmpDir("ddl_l") + "/ledger",
        initialProgress = 1000, now = 5000,
        new PrometheusHttpClient(app.prometheus, quietLogger),
        new ClickHouseHttpClient(app.clickhouse, quietLogger),
        logger = quietLogger)
      val bodies = Iterator.continually(chBodies.poll())
        .takeWhile(_ != null).toSeq
      // DDL first (both tables, IF NOT EXISTS), then the TSV insert
      assert(bodies.head.startsWith(
        "CREATE TABLE IF NOT EXISTS default.metrics ("))
      assert(bodies(1).startsWith(
        "CREATE TABLE IF NOT EXISTS default.etl ("))
      assert(bodies.drop(2).nonEmpty && bodies.drop(2).forall(
        !_.startsWith("CREATE")), "inserts must follow the bootstrap")
    } finally { promServer.stop(0); chServer.stop(0) }
  }

  test("truncated response document fails the batch; repair + force recovers") {
    val inDir = tmpDir("neg_trunc_in")
    val outDir = tmpDir("neg_trunc_out") + "/tsv"
    val ledgerDir = tmpDir("neg_trunc") + "/ledger"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(inDir, "good.json"), fixture(Seq(1005L)))
    // a crashed fetch's leftover: truncated mid-JSON
    val bad = java.nio.file.Paths.get(inDir, "truncated.json")
    java.nio.file.Files.writeString(bad,
      """{"status":"success","data":{"resultType":"mat""")

    val e = intercept[IllegalStateException] {
      EtlJob.runOnce(spark, conf, "job", inDir, outDir, ledgerDir,
        initialProgress = 1000, now = 2000, logger = quietLogger)
    }
    assert(e.getMessage.contains("malformed response document"))
    // mid-batch position: open tombstone, progress untouched
    assert(EtlJob.hasRunningJob(ledgerDir))
    assert(EtlJob.latestState(EtlJob.readLedger(ledgerDir)).isEmpty)

    // operator repairs the drop dir, then force-takes-over
    java.nio.file.Files.delete(bad)
    val r = EtlJob.runOnce(spark, conf, "job", inDir, outDir, ledgerDir,
      initialProgress = 1000, now = 2000, force = true,
      logger = quietLogger)
    assert(r.batchRows.contains(1L))
    assert(!EtlJob.hasRunningJob(ledgerDir))

    // blank lines are NOT documents: a trailing newline must not trip
    // the gate (the next run over the same dir succeeds without force)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(inDir, "good2.json"),
      fixture(Seq(1105L)) + "\n")
    val r2 = EtlJob.runOnce(spark, conf, "job", inDir, outDir, ledgerDir,
      initialProgress = -1, now = 2000, logger = quietLogger)
    assert(r2.batchRows.contains(1L))
  }

  // ---- R6 window-math properties at the epoch boundaries ----

  test("property: window math invariants over 500 seeded configurations") {
    val rnd = new scala.util.Random(20260813L)
    (1 to 500).foreach { _ =>
      val minStart = rnd.nextInt(3) match {
        case 0 => 0L
        case 1 => 1704067200L // a real epoch
        case _ => rnd.between(0L, 4102444800L)
      }
      val size = rnd.between(1L, 90000L)
      val overlap = rnd.between(0L, size) // reference: overlap < size
      val c = EtlConfig(size, overlap, minStart)
      // progress may sit BELOW min_start (fresh deployment, initial
      // progress an old epoch) or far above
      val progress = rnd.nextInt(4) match {
        case 0 => minStart - rnd.between(0L, 100000L)
        case 1 => minStart
        case _ => minStart + rnd.between(0L, 1000000L)
      }
      val (start, end) = JobStateMachine.calcWindow(progress, c)
      assert(end - start == size, "window size is EXACTLY the config")
      assert(start >= minStart, "min_start clamp")
      assert(start >= progress - overlap, "overlap shifts back, never more")
      if (progress - overlap >= minStart)
        assert(start == progress - overlap, "no clamp when not needed")

      val now = rnd.nextInt(4) match {
        case 0 => start - rnd.between(1L, 1000L) // before the window
        case 1 => start + rnd.between(0L, size)  // inside: progress==now
        case 2 => end                            // exactly at the edge
        case _ => end + rnd.between(1L, 100000L) // fully covered
      }
      val np = JobStateMachine.advanceProgress(end, now)
      assert(np == math.min(end, now))
      assert(np <= end, "progress never beyond the window")
      assert(np <= math.max(now, end - size), "never beyond now (or start)")
      val aw = JobStateMachine.actualWindow(start, end, now)
      assert(aw <= size)
      if (now >= end) assert(aw == size)
      if (now >= start) assert(aw >= 0, s"aw=$aw for now=$now in [$start,$end)")

      // the closed record is ALWAYS valid-completed (end > start), even
      // when now <= start — the max(now, start+1) rule
      val (records, np2) = JobStateMachine.step(
        "j", progress, BatchEvent("j", now, 1L, 0L), c)
      assert(np2 == np)
      val closed = records.last
      assert(closed.timestampEnd.exists(_ > closed.timestampStart),
        "closed records must satisfy the R7 valid-completed filter")
      assert(records.head.timestampEnd.isEmpty, "open record stays open")
    }
  }

  test("property: progress==now mid-window resumes seamlessly (no gap, no stall)") {
    val rnd = new scala.util.Random(20260814L)
    val c = EtlConfig(300, 30, 0)
    (1 to 200).foreach { _ =>
      // now lands inside the window: progress = now (partial coverage)
      val progress = rnd.between(1000L, 100000L)
      val (start, end) = JobStateMachine.calcWindow(progress, c)
      val now = rnd.between(start + 1, end) // strictly inside
      val np = JobStateMachine.advanceProgress(end, now)
      assert(np == now, "progress == now when the window outruns the clock")
      // the NEXT window re-covers from np - overlap: no sample between
      // old progress and new start can be skipped
      val (s2, _) = JobStateMachine.calcWindow(np, c)
      assert(s2 <= np, "next window starts at or before new progress")
      assert(s2 == np - c.batchWindowOverlapSeconds)
    }
  }
}
