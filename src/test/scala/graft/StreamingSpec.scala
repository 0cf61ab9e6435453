package graft

import graft.sources.PrometheusJson
import graft.streaming._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming + R6-R8 state machine spec: pure window-calc cases from the
  * reference, ledger via flatMapGroupsWithState with cross-micro-batch
  * state, running-job detection, and batch/streaming parity end-to-end
  * through the TSV sink. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val conf = EtlConfig(
    batchWindowSeconds = 300,
    batchWindowOverlapSeconds = 60,
    minWindowStartTimestamp = 0)

  test("calcWindow: overlap shifts back, size preserved (R6)") {
    assert(JobStateMachine.calcWindow(1000, conf) == ((940L, 1240L)))
    // min_window_start clamp (etl_job.py:377-393)
    val clamped = conf.copy(minWindowStartTimestamp = 960)
    assert(JobStateMachine.calcWindow(1000, clamped) == ((960L, 1260L)))
    // clamp does not shrink the window — end recomputed from start
    // zero overlap: window starts exactly at progress
    assert(JobStateMachine.calcWindow(1000,
      conf.copy(batchWindowOverlapSeconds = 0)) == ((1000L, 1300L)))
    // no clamp when already above the minimum
    assert(JobStateMachine.calcWindow(1000,
      conf.copy(minWindowStartTimestamp = 100)) == ((940L, 1240L)))
  }

  test("invalid completed records never read as running (reference gate)") {
    // mirrors test_etl_job_run_once_can_start_when_end_less_than_start:
    // a record whose end ≤ start is INVALID for state reads, but it is
    // also NOT an open record — so it must not block new runs
    val ledger = Seq(
      LedgerRecord("j", 100, Some(100L), Some(90L), None, None, None), // end == start
      LedgerRecord("j", 200, Some(150L), Some(190L), None, None, None) // end < start
    )
    assert(JobStateMachine.runningJobs(ledger).isEmpty)
  }

  test("progress never advances past now; actual_window shrinks (R6)") {
    assert(JobStateMachine.advanceProgress(1240, 1500) == 1240)
    assert(JobStateMachine.advanceProgress(1240, 1100) == 1100)
    assert(JobStateMachine.actualWindow(940, 1240, 1100) == 160)
    assert(JobStateMachine.actualWindow(940, 1240, 9999) == 300)
  }

  test("step emits open + valid-completed records; end > start always (R7)") {
    val (records, p) =
      JobStateMachine.step("j", 1000, BatchEvent("j", 1500, 42, 3), conf)
    assert(records.size == 2)
    val Seq(open, closed) = records
    assert(open.timestampEnd.isEmpty && open.timestampProgress.isEmpty)
    assert(closed.timestampStart == 940)
    assert(closed.timestampEnd.contains(1500))
    assert(closed.timestampProgress.contains(1240))
    assert(closed.batchWindowSeconds.contains(300))
    assert(closed.batchRows.contains(42))
    assert(closed.batchSkippedCount.contains(3))
    assert(p == 1240)
    // now before window start: end forced to start + 1 (R7 validity)
    val (r2, _) =
      JobStateMachine.step("j", 1000, BatchEvent("j", 900, 0, 0), conf)
    assert(r2(1).timestampEnd.contains(941L))
    assert(r2(1).timestampEnd.get > r2(1).timestampStart)
  }

  test("ledger carries per-job progress across micro-batches (R6-R8)") {
    implicit val ctx = spark.sqlContext
    val events = MemoryStream[BatchEvent]
    val q = JobStateMachine.ledger(events.toDS(), conf, initialProgress = 1000)
      .writeStream.format("memory").queryName("ledger_test")
      .outputMode("append")
      .option("checkpointLocation", tmpDir("ledger_ckpt"))
      .start()
    try {
      events.addData(BatchEvent("j", 1500, 10, 0))
      q.processAllAvailable()
      events.addData(BatchEvent("j", 1800, 20, 1)) // second micro-batch
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("ledger_test").as[LedgerRecord]
      .collect().filter(_.timestampEnd.isDefined)
      .sortBy(_.timestampStart)
    assert(rows.map(_.timestampStart).toSeq == Seq(940L, 1180L))
    // progress after batch 1 = min(1240, 1500) = 1240 → next window
    // starts at 1240 − 60 = 1180 — state really crossed the batch gap
    assert(rows.map(_.timestampProgress.get).toSeq == Seq(1240L, 1480L))
  }

  test("late data beyond the watermark is dropped from append-mode windows") {
    // window [1700000000, 1700000300) closes once the watermark passes
    // its end + 10 min; a later point INSIDE that window must be
    // discarded, not re-emitted — the exactly-once contract downstream
    // sinks rely on
    def fix(ts: Long, v: String) =
      s"""{"status":"success","data":{"resultType":"matrix","result":[""" +
        s"""{"metric":{"__name__":"up","job":"a"},"values":[[$ts,"$v"]]}]}}"""
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[String]
    val q = MetricsStream.windowedAgg(PrometheusJson.metricRows(
      PrometheusJson.parse(ms.toDF(), "value")))
      .writeStream.format("memory").queryName("late_test")
      .outputMode("append")
      .option("checkpointLocation", tmpDir("late_ckpt"))
      .start()
    try {
      ms.addData(fix(1700000000L, "1"))
      q.processAllAvailable()
      // watermark mover: event time jumps far ahead → first window final
      ms.addData(fix(1700010000L, "2"))
      q.processAllAvailable()
      // LATE: inside the long-closed first window
      ms.addData(fix(1700000060L, "99"))
      q.processAllAvailable()
      // second mover so any (incorrect) re-opened window would flush
      ms.addData(fix(1700020000L, "3"))
      q.processAllAvailable()
    } finally q.stop()
    // tumbling windows align to epoch multiples of 300s: 1700000000 and
    // the late 1700000060 both land in [1699999800, 1700000100)
    val rows = spark.table("late_test")
      .filter(col("w_start_us") === 1699999800L * 1000000L).collect()
    assert(rows.length == 1, s"closed window must emit exactly once: ${rows.toSeq}")
    assert(rows.head.getAs[Long]("n") == 1L,
      "the late point must not be counted into the finalized window")
  }

  test("transformWithState ledger twin: cross-batch state, same output as fMGWS") {
    // TWS requires the RocksDB state store provider
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val ctx = spark.sqlContext
      val events = MemoryStream[BatchEvent]
      val q = JobStateMachine.ledgerTws(events.toDS(), conf, initialProgress = 1000)
        .writeStream.format("memory").queryName("ledger_tws_test")
        .outputMode("append")
        .option("checkpointLocation", tmpDir("ledger_tws_ckpt"))
        .start()
      try {
        events.addData(BatchEvent("j", 1500, 10, 0))
        q.processAllAvailable()
        events.addData(BatchEvent("j", 1800, 20, 1))
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table("ledger_tws_test").as[LedgerRecord]
        .collect().filter(_.timestampEnd.isDefined)
        .sortBy(_.timestampStart)
      // identical to the flatMapGroupsWithState twin's asserted output —
      // both APIs drive the same JobStateMachine.step
      assert(rows.map(_.timestampStart).toSeq == Seq(940L, 1180L))
      assert(rows.map(_.timestampProgress.get).toSeq == Seq(1240L, 1480L))
      assert(rows.map(_.batchRows.get).toSeq == Seq(10L, 20L))
    } finally {
      saved match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("runningJobs: open record without matching close = running (R8)") {
    val running = Seq(
      LedgerRecord("a", 100, None, None, None, None, None),
      LedgerRecord("b", 100, None, None, None, None, None),
      LedgerRecord("b", 100, Some(200L), Some(150L), Some(50L), Some(1L), Some(0L))
    )
    val r = JobStateMachine.runningJobs(running).toSet
    assert(r == Set(("a", 100L)))
  }

  test("runningJobs: LATEST record wins on start-key reuse (seq order)") {
    // an old completed run at start=100, then a NEW run re-opens the
    // same window start (progress pinned at now) and crashes: the newer
    // open record must re-arm the gate, not be masked by history
    val reused = Seq(
      LedgerRecord("j", 100, Some(200L), Some(150L), Some(50L), Some(1L), Some(0L), seq = 1),
      LedgerRecord("j", 100, None, None, None, None, None, seq = 2)
    )
    assert(JobStateMachine.runningJobs(reused).toSet ==
      Set(("j", 100L)))
    // and the converse: a takeover abort (later seq) over a crashed
    // open record clears the gate
    val aborted = Seq(
      LedgerRecord("j", 100, None, None, None, None, None, seq = 1),
      LedgerRecord("j", 100, Some(101L), None, None, None, None, seq = 2)
    )
    assert(JobStateMachine.runningJobs(aborted).isEmpty)
  }

  test("latestState: a tie on timestampStart resolves to the highest seq") {
    // a takeover retry re-runs the same window: both closed records are
    // valid, and the later one (higher seq) carries the current progress
    val retried = Seq(
      LedgerRecord("j", 100, Some(200L), Some(150L), Some(50L), Some(1L), Some(0L), seq = 4),
      LedgerRecord("j", 100, Some(300L), Some(160L), Some(60L), Some(2L), Some(0L), seq = 7),
      LedgerRecord("j", 100, Some(250L), Some(155L), Some(55L), Some(3L), Some(0L), seq = 5),
      LedgerRecord("j", 40, Some(90L), Some(99L), Some(50L), Some(1L), Some(0L), seq = 9))
    assert(EtlJob.latestState(retried).map(_.seq).contains(7L))
    assert(EtlJob.latestState(retried.reverse).map(_.seq).contains(7L))
  }

  test("empty ledger: no state, no running job, maxSeq 0") {
    assert(EtlJob.latestState(Nil).isEmpty)
    assert(JobStateMachine.runningJobs(Nil).isEmpty)
    assert(EtlJob.maxSeq(Nil) == 0L)
    assert(EtlJob.maxSeq(Seq(
      LedgerRecord("j", 100, None, None, None, None, None, seq = 3),
      LedgerRecord("k", 900, None, None, None, None, None, seq = 2))) == 3L)
  }

  test("abort-close masks an older open record and never reads as state") {
    val ledger = Seq(
      LedgerRecord("j", 0, Some(100L), Some(90L), Some(100L), Some(5L), Some(0L), seq = 1),
      LedgerRecord("j", 90, None, None, None, None, None, seq = 2),
      LedgerRecord("k", 90, None, None, None, None, None, seq = 3),
      // the takeover's abort close: end set, progress NULL
      LedgerRecord("j", 90, Some(500L), None, None, None, None, seq = 4))
    assert(JobStateMachine.runningJobs(ledger) == Seq(("k", 90L)))
    // progress resumes from the last VALID close, not from the abort
    assert(EtlJob.latestState(ledger).map(_.seq).contains(1L))
    // records stamped in one pure computation share seq 0: the tie goes
    // to the close
    assert(JobStateMachine.runningJobs(Seq(
      LedgerRecord("j", 90, Some(500L), None, None, None, None),
      LedgerRecord("j", 90, None, None, None, None, None))).isEmpty)
  }

  test("batch/streaming parity through parse + TSV sink") {
    val inDir = tmpDir("prom_in")
    val outDir = tmpDir("tsv_out") + "/files"
    val fixture =
      """{"status":"success","data":{"resultType":"matrix","result":[""" +
        """{"metric":{"__name__":"up","job":"api"},""" +
        """"values":[[1700000000.5,"1"],[1700000060,"bad"],[1700000120,"3.25"]]}]}}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(inDir, "r1.json"), fixture)
    val q = MetricsStream.run(spark, inDir, outDir, tmpDir("stream_ckpt"))
    q.awaitTermination()
    val streamed = spark.read.text(outDir).as[String].collect().sorted.toSeq
    val batch = PrometheusJson.tsvLines(PrometheusJson.metricRows(
      MetricsStream.readResponsesBatch(spark, inDir)))
      .as[String].collect().sorted.toSeq
    assert(streamed == batch)
    assert(streamed.size == 2) // "bad" skipped (R2)
    assert(streamed.head ==
      "1700000000.500000\tup\t['job']\t['api']\t1")
  }

  test("streaming -> ClickHouse HTTP: per-batch TSV arrives byte-exact") {
    // The BASELINE north-star sentence composed end-to-end: streaming
    // source → parse → per-micro-batch TSV → loadDir POST to a stub
    // ClickHouse HTTP interface. Asserts byte-exact arrival (HTTP
    // bodies == on-disk part-files == the batch-path render) and the
    // reference's INSERT query per POST.
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    import java.nio.charset.StandardCharsets
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val posts = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    server.createContext("/", (ex: HttpExchange) => {
      posts.add((
        java.net.URLDecoder.decode(
          Option(ex.getRequestURI.getRawQuery).getOrElse(""), "UTF-8"),
        new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)))
      ex.sendResponseHeaders(200, -1); ex.close()
    })
    server.start()
    try {
      val inDir = tmpDir("ch_in")
      val outDir = tmpDir("ch_out") + "/batches"
      def fixture(job: String, ts: Long): String =
        s"""{"status":"success","data":{"resultType":"matrix","result":[""" +
          s"""{"metric":{"__name__":"up","job":"$job"},""" +
          s""""values":[[$ts,"1.5"],[${ts + 60},"2"]]}]}}"""
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(inDir, "r1.json"), fixture("api", 1700000000L))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(inDir, "r2.json"), fixture("web", 1700000300L))
      val ch = new graft.sinks.ClickHouseHttpClient(
        graft.config.ClickHouseSettings(
          s"http://127.0.0.1:${server.getAddress.getPort}/",
          tableMetrics = "db.metrics"),
        new graft.logging.StructuredLogger("test", "CRITICAL",
          new java.io.PrintStream(new java.io.ByteArrayOutputStream()),
          new java.io.PrintStream(new java.io.ByteArrayOutputStream())))
      // maxFilesPerTrigger=1 → two micro-batches → two per-batch POSTs
      val q = MetricsStream.runToClickHouse(spark, inDir, outDir,
        tmpDir("ch_ckpt"), ch, maxFilesPerTrigger = Some(1))
      q.awaitTermination()

      val received = posts.toArray(Array.empty[(String, String)]).toSeq
      // one non-empty POST per micro-batch, each the reference INSERT
      assert(received.size == 2)
      received.foreach { case (query, _) =>
        assert(query == "query=INSERT INTO db.metrics FORMAT TabSeparated")
      }
      // byte-exact: HTTP bodies == what the batch path renders
      val gotLines = received.flatMap(_._2.split("\n")).filter(_.nonEmpty)
      val expected = PrometheusJson.tsvLines(PrometheusJson.metricRows(
        MetricsStream.readResponsesBatch(spark, inDir)))
        .as[String].collect().toSeq
      assert(gotLines.sorted == expected.sorted)
      assert(gotLines.contains("1700000000.000000\tup\t['job']\t['api']\t1.5"))
      // ... and == the on-disk part-files the POSTs were streamed from
      val onDisk = spark.read.text(outDir + "/batch-*")
        .as[String].collect().toSeq
      assert(onDisk.sorted == gotLines.sorted)
    } finally server.stop(0)
  }

  test("streaming dedup: replayed points collapse by content hash (R5/R9)") {
    val fixture =
      """{"status":"success","data":{"resultType":"matrix","result":[""" +
        """{"metric":{"__name__":"up","job":"a"},"values":[""" +
        """[1700000000,"1"],[1700000060,"2"]]}]}}"""
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[String]
    val q = MetricsStream
      .dedupedMetrics(PrometheusJson.metricRows(
        PrometheusJson.parse(ms.toDF(), "value")))
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode("append")
      .option("checkpointLocation", tmpDir("dedup_ckpt"))
      .start()
    try {
      ms.addData(fixture)
      q.processAllAvailable()
      // the overlap re-delivers the SAME response in a later micro-batch
      ms.addData(fixture)
      q.processAllAvailable()
    } finally q.stop()
    // 2 distinct points survive; the replayed copies collapsed in state
    assert(spark.table("dedup_test").count() == 2)
  }

  test("dropDuplicatesWithinWatermark: overlap re-deliveries collapse") {
    val fixture =
      """{"status":"success","data":{"resultType":"matrix","result":[""" +
        """{"metric":{"__name__":"up","job":"a"},"values":[""" +
        """[1700000000,"1"],[1700000060,"2"]]}]}}"""
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[String]
    val q = MetricsStream
      .dedupedMetricsWithinWatermark(PrometheusJson.metricRows(
        PrometheusJson.parse(ms.toDF(), "value")))
      .writeStream.format("memory").queryName("dedup_wm_test")
      .outputMode("append")
      .option("checkpointLocation", tmpDir("dedup_wm_ckpt"))
      .start()
    try {
      ms.addData(fixture)
      q.processAllAvailable()
      // the overlap re-delivers the SAME response within the watermark
      // delay — the contract window of this API
      ms.addData(fixture)
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("dedup_wm_test").count() == 2)
  }

  test("stream-stream interval join: streaming == batch, state bounded") {
    // click at t0 and t0+2500s; purchases at t0+60 (pairs with click 1
    // only: within 30 min and >= its ts) and t0+2560 (pairs with click 2
    // only). A purchase 2h later on another series is the watermark mover.
    val data =
      """{"status":"success","data":{"resultType":"matrix","result":[""" +
        """{"metric":{"__name__":"click","job":"a"},"values":[""" +
        """[1700000000,"1"],[1700002500,"3"]]},""" +
        """{"metric":{"__name__":"purchase","job":"a"},"values":[""" +
        """[1700000060,"2"],[1700002560,"4"]]}]}}"""
    val flush =
      """{"status":"success","data":{"resultType":"matrix","result":[""" +
        """{"metric":{"__name__":"purchase","job":"zz"},"values":[""" +
        """[1700010000,"0"]]}]}}"""
    def parse(df: org.apache.spark.sql.DataFrame, c: String) =
      PrometheusJson.metricRows(PrometheusJson.parse(df, c))
    val batch = MetricsStream
      .intervalJoin(parse(Seq(data, flush).toDF("json"), "json"))
      .orderBy("a_ts_us", "b_ts_us").collect().toSeq
    assert(batch.size == 2, "each click pairs with exactly one purchase")
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[String]
    val q = MetricsStream.intervalJoin(parse(ms.toDF(), "value"))
      .writeStream.format("memory").queryName("ssj_test")
      .outputMode("append")
      .option("checkpointLocation", tmpDir("ssj_ckpt"))
      .start()
    try {
      ms.addData(data)
      q.processAllAvailable()
      ms.addData(flush)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("ssj_test")
      .orderBy("a_ts_us", "b_ts_us").collect().toSeq
    assert(streamed == batch)
    assert(batch.map(r => (r.getAs[Double]("a_value"),
      r.getAs[Double]("b_value"))) == Seq((1.0, 2.0), (3.0, 4.0)))
  }

  test("stream-stream LEFT OUTER interval join: null row only after watermark") {
    // click 1 converts (purchase 60 s later); click 3 (value "5") never
    // converts — its null-padded row may emit only once the watermark
    // passes click3.ts + 30 min range + 10 min delay. The flush event
    // 4h later is the watermark mover.
    val data =
      """{"status":"success","data":{"resultType":"matrix","result":[""" +
        """{"metric":{"__name__":"click","job":"a"},"values":[""" +
        """[1700000000,"1"],[1700002500,"5"]]},""" +
        """{"metric":{"__name__":"purchase","job":"a"},"values":[""" +
        """[1700000060,"2"]]}]}}"""
    val flush =
      """{"status":"success","data":{"resultType":"matrix","result":[""" +
        """{"metric":{"__name__":"purchase","job":"zz"},"values":[""" +
        """[1700014400,"0"]]}]}}"""
    def parse(df: org.apache.spark.sql.DataFrame, c: String) =
      PrometheusJson.metricRows(PrometheusJson.parse(df, c))
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("a_ts_us"), Option(r.getAs[Any]("b_ts_us")),
        r.getAs[Double]("a_value"), Option(r.getAs[Any]("b_value")))
    val batch = MetricsStream
      .intervalJoinOuter(parse(Seq(data, flush).toDF("json"), "json"))
      .collect().map(key).toSet
    assert(batch.size == 2, s"matched + null-padded expected: $batch")
    assert(batch.exists(r => r._2.isEmpty && r._3 == 5.0),
      "non-converting click must surface null-padded")

    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[String]
    val q = MetricsStream.intervalJoinOuter(parse(ms.toDF(), "value"))
      .writeStream.format("memory").queryName("ssoj_test")
      .outputMode("append")
      .option("checkpointLocation", tmpDir("ssoj_ckpt"))
      .start()
    try {
      ms.addData(data)
      q.processAllAvailable()
      // before the watermark moves, only the INNER match may have
      // emitted — the unmatched click must still be withheld
      val early = spark.table("ssoj_test").collect().map(key).toSet
      assert(!early.exists(_._2.isEmpty),
        s"null row emitted before the watermark allows it: $early")
      ms.addData(flush)
      q.processAllAvailable()
      // watermark advances at the END of the flush batch; the eviction
      // that emits the null row lands in the next batch
      ms.addData(flush)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("ssoj_test").collect().map(key).toSet
    assert(streamed == batch,
      s"streaming end-state must equal batch: $streamed vs $batch")
  }

  test("windowed aggregation: streaming (complete mode) == batch") {
    val fixtures = Seq(
      """{"status":"success","data":{"resultType":"matrix","result":[""" +
        """{"metric":{"__name__":"up","job":"a"},"values":[""" +
        """[1700000000,"1"],[1700000100,"2"],[1700000400,"4"]]}]}}""")
    val batchAgg = MetricsStream
      .windowedAgg(PrometheusJson.metricRows(
        PrometheusJson.parse(fixtures.toDF("json"), "json")))
      .orderBy("w_start_us").collect().toSeq
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[String]
    val q = MetricsStream
      .windowedAgg(PrometheusJson.metricRows(
        PrometheusJson.parse(ms.toDF(), "value")))
      .writeStream.format("memory").queryName("win_test")
      .outputMode("complete")
      .start()
    try {
      ms.addData(fixtures: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamAgg = spark.table("win_test")
      .orderBy("w_start_us").collect().toSeq
    assert(streamAgg == batchAgg)
    assert(batchAgg.map(_.getAs[Long]("n")).sum == 3)
  }

  test("session windows: streaming (append + watermark) == batch") {
    // series "up": two points 100s apart (one session), a third 50 min
    // later (second session — past the 30-min gap)
    val data =
      """{"status":"success","data":{"resultType":"matrix","result":[""" +
        """{"metric":{"__name__":"up","job":"a"},"values":[""" +
        """[1700000000,"1"],[1700000100,"2"],[1700003000,"4"]]}]}}"""
    // watermark flusher: a far-future point on a DIFFERENT series
    // advances event time past both sessions' end + 10 min, so append
    // mode finalizes and emits them; its own open session stays back
    val flush =
      """{"status":"success","data":{"resultType":"matrix","result":[""" +
        """{"metric":{"__name__":"tick","job":"a"},"values":[""" +
        """[1700100000,"0"]]}]}}"""
    def parse(df: org.apache.spark.sql.DataFrame, c: String) =
      PrometheusJson.metricRows(PrometheusJson.parse(df, c))
    val batchAgg = MetricsStream.sessionAgg(parse(Seq(data, flush).toDF("json"), "json"))
      .filter(col("name") === "up").orderBy("s_start_us").collect().toSeq
    assert(batchAgg.size == 2, "the 50-min gap must split two sessions")
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[String]
    val q = MetricsStream.sessionAgg(parse(ms.toDF(), "value"))
      .writeStream.format("memory").queryName("sess_test")
      .outputMode("append")
      .option("checkpointLocation", tmpDir("sess_ckpt"))
      .start()
    try {
      ms.addData(data)
      q.processAllAvailable()
      ms.addData(flush) // second micro-batch moves the watermark
      q.processAllAvailable()
    } finally q.stop()
    val streamAgg = spark.table("sess_test")
      .filter(col("name") === "up").orderBy("s_start_us").collect().toSeq
    assert(streamAgg == batchAgg,
      s"streaming sessions $streamAgg != batch $batchAgg")
  }

  test("stream-static broadcast enrichment: streaming == batch, unmatched → unknown") {
    val data =
      """{"status":"success","data":{"resultType":"matrix","result":[""" +
        """{"metric":{"__name__":"up","user":"7"},"values":[[1700000000,"1"]]},""" +
        """{"metric":{"__name__":"up","user":"9"},"values":[[1700000060,"2"]]},""" +
        """{"metric":{"__name__":"up","job":"nouser"},"values":[[1700000120,"3"]]}]}}"""
    val tiers = Seq(("7", "gold")).toDF("user", "tier")
    def parse(df: org.apache.spark.sql.DataFrame, c: String) =
      PrometheusJson.metricRows(PrometheusJson.parse(df, c))
    val batchRows = MetricsStream.enrich(parse(Seq(data).toDF("json"), "json"), tiers)
      .orderBy("ts_us").collect().toSeq
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[String]
    val q = MetricsStream.enrich(parse(ms.toDF(), "value"), tiers)
      .writeStream.format("memory").queryName("enrich_test")
      .outputMode("append")
      .option("checkpointLocation", tmpDir("enrich_ckpt"))
      .start()
    try {
      ms.addData(data)
      q.processAllAvailable()
    } finally q.stop()
    val streamRows = spark.table("enrich_test").orderBy("ts_us").collect().toSeq
    assert(streamRows == batchRows)
    // matched user gets its tier; unmatched user and label-less series
    // fall back to 'unknown' (left-outer, not dropping)
    assert(batchRows.map(r => (r.getAs[String]("user"), r.getAs[String]("tier")))
      == Seq(("7", "gold"), ("9", "unknown"), (null, "unknown")))
  }

  test("AvailableNow resume: second run processes ONLY new files; maxFilesPerTrigger bounds batches") {
    val inDir = tmpDir("incr_in")
    val outDir = tmpDir("incr_out") + "/files"
    val ckpt = tmpDir("incr_ckpt")
    def drop(name: String, metric: String, ts: Long): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(inDir, name),
        s"""{"status":"success","data":{"resultType":"matrix","result":[""" +
          s"""{"metric":{"__name__":"$metric","job":"a"},"values":[[$ts,"1"]]}]}}""")
    drop("r1.json", "m1", 1700000000L)
    drop("r2.json", "m2", 1700000060L)
    // 2 files, 1 file per trigger → the drain must take ≥2 micro-batches
    val q1 = MetricsStream.run(spark, inDir, outDir, ckpt, Some(1))
    q1.awaitTermination()
    assert(q1.recentProgress.count(_.numInputRows > 0) >= 2,
      "maxFilesPerTrigger=1 must split the backlog into multiple micro-batches")
    val after1 = spark.read.text(outDir).count()
    assert(after1 == 2, s"first drain wrote $after1 rows, want 2")
    // a new file lands; resuming from the same checkpoint must ingest
    // ONLY it (the offset log already committed r1/r2)
    drop("r3.json", "m3", 1700000120L)
    val q2 = MetricsStream.run(spark, inDir, outDir, ckpt, Some(1))
    q2.awaitTermination()
    val lines = spark.read.text(outDir).as[String].collect().toSeq
    assert(lines.size == 3, s"incremental resume duplicated: $lines")
    assert(lines.count(_.contains("\tm3\t")) == 1)
    assert(lines.count(_.contains("\tm1\t")) == 1)
  }
}
