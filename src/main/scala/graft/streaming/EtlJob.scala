package graft.streaming

import graft.logging.StructuredLogger
import graft.sources.PrometheusJson
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's main batch loop (etl_job.py run(): load state → calc
  * window → fetch → transform → bulk insert → save state) as a
  * runnable Spark job over a response drop-directory, with the ledger
  * kept in parquet instead of a ClickHouse table. Spark decodes the
  * drop-dir and writes the TSV; the ledger is read and appended on the
  * driver ([[LedgerFiles]]), like the reference's single-row state
  * statements, so no ledger touch is a Spark job. Each `runOnce` is one
  * loop iteration; progress survives restarts through the ledger — the
  * same crash-recovery contract as the reference (an aborted run leaves
  * no closed record, so the next run resumes from the previous valid
  * progress and the overlap re-covers the gap).
  *
  * Concurrency (R8): the gate + mark-start sequence runs under
  * [[LedgerLock]], so racing `runOnce`/[[tryMarkStart]] calls — even
  * from separate processes — serialize through an atomic critical
  * section and exactly one appends the open record; the rest observe it
  * and refuse. This closes the round-2 check-then-act caveat and
  * matches the reference's atomic INSERT-with-subquery
  * (clickhouse_client.py:536-613). Structured JSON events (reference
  * logging_config.py conventions) surround each phase.
  */
object EtlJob {

  private def defaultLogger = new StructuredLogger(
    "etl_job", sys.env.getOrElse("LOG_LEVEL", "INFO"))

  /** get_state (clickhouse_client.py:219-296): the latest VALID COMPLETED
    * ledger record — progress set, end set, end > start — by highest
    * timestampStart, ties to the highest `seq`. Invalid/open records are
    * skipped, which is what makes a crashed run harmless. */
  def latestState(ledger: Seq[LedgerRecord]): Option[LedgerRecord] =
    ledger.filter(r => r.timestampProgress.isDefined &&
        r.timestampEnd.exists(_ > r.timestampStart))
      .maxByOption(r => (r.timestampStart, r.seq))

  /** One snapshot of the ledger, read on the driver — the ledger is a
    * handful of small records per iteration, and every decision of a
    * gate is taken on the same snapshot. */
  def readLedger(ledgerDir: String): Seq[LedgerRecord] =
    LedgerFiles.read(ledgerDir).records

  /** R8 probe over the persisted ledger (has_running_job,
    * clickhouse_client.py:440-524): any (job, start) whose latest
    * record is still open means a run is in flight (or died mid-run). */
  def hasRunningJob(ledgerDir: String): Boolean =
    JobStateMachine.runningJobs(readLedger(ledgerDir)).nonEmpty

  /** seq = max(existing)+1, NOT System.nanoTime(): nanoTime has an
    * arbitrary per-boot origin, so after a reboot (the crash-recovery
    * scenario this ledger exists for) fresh records could sort BELOW
    * older ones and the latest-wins read would resurrect stale state.
    * Deriving from the ledger itself is monotonic across restarts. */
  def maxSeq(ledger: Seq[LedgerRecord]): Long =
    ledger.map(_.seq).maxOption.getOrElse(0L)

  /** try_mark_start (clickhouse_client.py:536-613): atomically append
    * this job's OPEN ledger record iff NO job is currently running.
    * The check and the append form one [[LedgerLock]] critical section,
    * so of N concurrent callers exactly one wins (returns the open
    * record it wrote) and the rest get None — the reference's
    * INSERT-with-subquery CAS, with the same "any running job blocks"
    * breadth. */
  def tryMarkStart(conf: EtlConfig, jobId: String,
                   ledgerDir: String, initialProgress: Long, now: Long,
                   logger: StructuredLogger = defaultLogger)
      : Option[LedgerRecord] = {
    LedgerLock.withLock(ledgerDir) {
      val ledger0 = readLedger(ledgerDir)
      val running = JobStateMachine.runningJobs(ledger0)
      if (running.nonEmpty) {
        logger.info(s"Found ${running.size} running job(s)", Map(
          "clickhouse_client.has_running_job.running_count" -> running.size,
          "clickhouse_client.has_running_job.running_timestamps" ->
            running.map(_._2)))
        None
      } else {
        val progress = latestState(ledger0)
          .flatMap(_.timestampProgress).getOrElse(initialProgress)
        val (records, _) = JobStateMachine.step(
          jobId, progress, BatchEvent(jobId, now, 0L, 0L), conf)
        val open = records.head.copy(seq = maxSeq(ledger0) + 1L)
        LedgerFiles.append(ledgerDir, Seq(open))
        Some(open)
      }
    }
  }

  /** One reference-loop iteration:
    *  1. gate + mark-start under [[LedgerLock]] (R8, atomic): refuse if
    *     THIS job is already running unless `force` — `force` is the
    *     operator's manual takeover after a crashed run (abort-closes
    *     only this job's stale records)
    *  2. progress ← latest valid completed ledger record (or initial);
    *     (window_start, window_end) ← calcWindow(progress) — R6. When
    *     the caller already fetched a window (`fetchedWindow`), a
    *     different one means another run closed a window since the
    *     fetch: refuse before anything is written
    *  3. append the OPEN record — mark-start, in the same file as a
    *     takeover's abort closes; a crash after this point
    *     leaves the open record as the tombstone the next gate trips
    *     on, exactly like the reference
    *  4. decode the drop-dir responses once, fail on a malformed one,
    *     keep points in [start, end) — the query_range the reference
    *     would have issued
    *  5. bulk-write TabSeparated part-files (idempotent: content-hashed
    *     rows collapse in a ReplacingMergeTree, R5/R9)
    *  6. append the CLOSED record with progress = min(end, now),
    *     rows/skipped accounting — mark-end (R7)
    * Returns the closed record it wrote. The completion event carries
    * the stage durations: `gate_ms` (steps 1-3, lock wait included),
    * `parse_ms` (the decode and its validity check) and `write_ms` (the
    * point explode, TSV write and mark-end), and `ledger_files`, the
    * part files the gate's snapshot read.
    */
  def runOnce(spark: SparkSession, conf: EtlConfig, jobId: String,
              inDir: String, outDir: String, ledgerDir: String,
              initialProgress: Long, now: Long,
              force: Boolean = false,
              logger: StructuredLogger = defaultLogger,
              fetchedWindow: Option[(Long, Long)] = None): LedgerRecord = {
    val t0 = System.nanoTime()
    def msSince(t: Long): Long = (System.nanoTime() - t) / 1000000L
    // --- critical section: gate + mark-start are atomic across
    // processes; everything after rides on the open record ---
    val (progress, (start, end), closedSeq, ledgerFiles) =
        LedgerLock.withLock(ledgerDir) {
      // one ledger snapshot serves the gate, the takeover list, progress
      // and the seq stamps — every check below is decided before the
      // first append
      val snapshot = LedgerFiles.read(ledgerDir)
      val ledger0 = snapshot.records
      var nextSeq = maxSeq(ledger0) + 1L
      def stamp(r: LedgerRecord): LedgerRecord = {
        val s = nextSeq; nextSeq += 1L; r.copy(seq = s)
      }
      val mine = JobStateMachine.runningJobs(ledger0).filter(_._1 == jobId)
      if (mine.nonEmpty && !force) throw new IllegalStateException(
        s"job $jobId already running in $ledgerDir (latest record open); " +
          "pass force=true to take over")
      val progress = latestState(ledger0)
        .flatMap(_.timestampProgress).getOrElse(initialProgress)
      val window = JobStateMachine.calcWindow(progress, conf)
      if (fetchedWindow.exists(_ != window)) throw new IllegalStateException(
        s"job $jobId fetched window ${fetchedWindow.get} but the ledger " +
          s"now gives $window in $ledgerDir — another run closed a window " +
          "since the fetch; re-fetch and retry")
      // takeover: close THIS job's stale open records with an ABORT
      // close — end set (stops counting as running) but progress NULL
      // (state reads never resume from it). Other jobs' in-flight runs
      // are untouched. The reference-side equivalent is the operator
      // inserting a closing row by hand. The abort closes and the open
      // record go into one file: one atomic append.
      val aborts = mine.map { case (jid, start) =>
        stamp(LedgerRecord(jid, start, Some(math.max(now, start + 1)),
          None, None, None, None))
      }
      val (records, _) = JobStateMachine.step(
        jobId, progress, BatchEvent(jobId, now, 0L, 0L), conf)
      LedgerFiles.append(ledgerDir, aborts :+ stamp(records.head))
      (progress, window, nextSeq, snapshot.files)
    }
    val gateMs = msSince(t0)

    logger.info("ETL batch started", Map(
      "etl_job.batch_started.job_id" -> jobId,
      "etl_job.batch_started.window_start" -> start,
      "etl_job.batch_started.window_end" -> end,
      "etl_job.batch_started.progress" -> progress))
    val t1 = System.nanoTime()
    // One read and one JSON decode of the drop-dir per iteration: the
    // validity gate and the sink write both consume this cached frame,
    // so no document is parsed twice — and a file landing between the
    // two cannot make the gate and the load disagree about dir contents.
    val decoded = PrometheusJson.decode(spark.read.text(inDir), "value")
      .persist()
    try {
      // FAIL-FAST on malformed response documents (reference parity: the
      // reference raises on an invalid response; silently dropping a
      // truncated drop-dir file would advance progress past data that was
      // never loaded). The throw lands after mark-start, so the open
      // tombstone + force-takeover recovery applies, same as any other
      // mid-batch failure. Deliberately DIR-WIDE, not window-scoped: a
      // malformed document has no trustworthy timestamp to scope by, so
      // one corrupt file halts ALL future windows until it is repaired or
      // removed — stricter than the reference's per-response check, by
      // design (a drop-dir is an ingest queue; corruption anywhere in it
      // is an operator-attention event, not a skippable row).
      val nBad = decoded.filter(!col("doc_ok")).count()
      if (nBad > 0) throw new IllegalStateException(
        s"$nBad malformed response document(s) in $inDir — failing the " +
          "batch (repair or remove them, then force-take-over)")
      val parseMs = msSince(t1)
      val t2 = System.nanoTime()
      // rows/skipped ride on the sink write as observed metrics: they
      // count exactly the points the sink consumed, in the same pass
      val stats = Observation("etl_job.batch_stats")
      val parsed = PrometheusJson.parseDecoded(decoded)
        .filter(col("ts_us") >= start * 1000000L &&
          col("ts_us") < end * 1000000L)
        .observe(stats, count_if(col("ok")).as("rows"),
          count_if(!col("ok")).as("skipped"))
      graft.sinks.TsvSink.write(PrometheusJson.metricRows(parsed), outDir)
      val rows = stats.get("rows").asInstanceOf[Long]
      val skipped = stats.get("skipped").asInstanceOf[Long]

      val closed = JobStateMachine.step(
        jobId, progress, BatchEvent(jobId, now, rows, skipped), conf)
        ._1.last.copy(seq = closedSeq)
      LedgerFiles.append(ledgerDir, Seq(closed))
      logger.info("ETL batch completed", Map(
        "etl_job.batch_completed.job_id" -> jobId,
        "etl_job.batch_completed.rows" -> rows,
        "etl_job.batch_completed.skipped_count" -> skipped,
        "etl_job.batch_completed.progress" ->
          closed.timestampProgress.getOrElse(-1L),
        "etl_job.batch_completed.window_seconds" ->
          closed.batchWindowSeconds.getOrElse(-1L),
        "etl_job.batch_completed.gate_ms" -> gateMs,
        "etl_job.batch_completed.parse_ms" -> parseMs,
        "etl_job.batch_completed.write_ms" -> msSince(t2),
        "etl_job.batch_completed.ledger_files" -> ledgerFiles))
      closed
    } catch {
      case e: Exception =>
        logger.error("ETL batch failed", Map(
          "etl_job.batch_failed.job_id" -> jobId,
          "etl_job.batch_failed.error" -> e.toString,
          "etl_job.batch_failed.error_type" -> e.getClass.getSimpleName))
        throw e
    } finally decoded.unpersist()
  }
}
