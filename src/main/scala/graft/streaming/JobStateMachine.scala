package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues,
  ValueState}

/** ETL job configuration (reference config.py knobs that drive R6). */
case class EtlConfig(
    batchWindowSeconds: Long,
    batchWindowOverlapSeconds: Long,
    minWindowStartTimestamp: Long)

/** One batch-completion event: "a fetch for the current window finished
  * at wall-clock `now` having written `rows` and skipped `skipped`". */
case class BatchEvent(jobId: String, now: Long, rows: Long, skipped: Long)

/** One ledger record, shaped like the reference's `etl` state table row
  * (R7): an OPEN record has `timestampEnd = None` (mark-start,
  * clickhouse_client.py:440-613); the matching CLOSED record carries
  * progress and batch stats (mark-end). `seq` is write-order
  * bookkeeping (stamped at persist time, 0 in pure computations): it
  * plays the role ReplacingMergeTree's insert order plays in the
  * reference — the LATEST record for a (job, start) key is the truth,
  * which is what lets a fresh open record re-arm the running-job gate
  * even when an older completed run shares its window start. */
case class LedgerRecord(
    jobId: String,
    timestampStart: Long,
    timestampEnd: Option[Long],
    timestampProgress: Option[Long],
    batchWindowSeconds: Option[Long],
    batchRows: Option[Long],
    batchSkippedCount: Option[Long],
    seq: Long = 0L)

/** Per-job running state carried between micro-batches. */
case class JobProgress(progress: Long)

/** The reference's batch window / progress / ledger state machine
  * (R6-R8) as pure functions plus a `flatMapGroupsWithState`
  * reimplementation that emits the same ledger the reference writes to
  * ClickHouse.
  *
  * Semantics matched to the reference:
  *  - `calcWindow` (etl_job.py:377-393): window_start = progress −
  *    overlap, clamped to min_window_start; window_end = start + size.
  *    Overlap shifts the window BACK without changing its size.
  *  - progress advance (etl_job.py:357-375): new_progress =
  *    min(window_end, now) — never into the future where Prometheus has
  *    no data; actual_window = min(window_end, now) − window_start.
  *  - completion (etl_job.py:397-401 area): timestamp_end = max(now,
  *    start + 1) so a closed record ALWAYS has end > start — which is
  *    exactly what get_state's valid-completed filter checks (R7,
  *    clickhouse_client.py:219-296).
  *  - concurrency (R8): an open record (end IS NULL) without a closed
  *    record for the same start = running job; the keyed state in
  *    `flatMapGroupsWithState` serializes batches per job exactly like
  *    the reference's atomic mark-start, and [[runningJobs]] is the
  *    has_running_job probe over a collected ledger.
  */
object JobStateMachine {

  /** R6 window calculation — pure twin of etl_job._calc_window. */
  def calcWindow(progress: Long, conf: EtlConfig): (Long, Long) = {
    val start = math.max(
      progress - conf.batchWindowOverlapSeconds,
      conf.minWindowStartTimestamp)
    (start, start + conf.batchWindowSeconds)
  }

  /** R6 progress advance — never beyond `now`. */
  def advanceProgress(windowEnd: Long, now: Long): Long =
    math.min(windowEnd, now)

  /** Size of the window actually covered by data (≤ configured size). */
  def actualWindow(windowStart: Long, windowEnd: Long, now: Long): Long =
    math.min(windowEnd, now) - windowStart

  /** Process one batch event against carried progress: returns the two
    * ledger records the reference writes (open at mark-start, closed at
    * mark-end) and the new progress. */
  def step(jobId: String, progress: Long, e: BatchEvent, conf: EtlConfig)
      : (Seq[LedgerRecord], Long) = {
    val (start, end) = calcWindow(progress, conf)
    val newProgress = advanceProgress(end, e.now)
    val open = LedgerRecord(jobId, start, None, None, None, None, None)
    val closed = LedgerRecord(
      jobId,
      timestampStart = start,
      timestampEnd = Some(math.max(e.now, start + 1)),
      timestampProgress = Some(newProgress),
      batchWindowSeconds = Some(actualWindow(start, end, e.now)),
      batchRows = Some(e.rows),
      batchSkippedCount = Some(e.skipped))
    (Seq(open, closed), newProgress)
  }

  /** Streaming ledger: batch-completion events keyed by job → ledger
    * records, with per-job progress in managed state. Keyed state gives
    * the R8 guarantee structurally — one group = one job = serialized
    * processing, no two concurrent windows for the same job. */
  def ledger(events: Dataset[BatchEvent], conf: EtlConfig,
             initialProgress: Long): Dataset[LedgerRecord] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.jobId)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (jobId: String, events: Iterator[BatchEvent],
         state: GroupState[JobProgress]) =>
          var progress =
            state.getOption.map(_.progress).getOrElse(initialProgress)
          // within a micro-batch, replay events in wall-clock order —
          // the reference's sequential job loop
          val out = events.toSeq.sortBy(_.now).flatMap { e =>
            val (records, p) = step(jobId, progress, e, conf)
            progress = p
            records
          }
          state.update(JobProgress(progress))
          out.iterator
      }
  }

  /** The [[ledger]] state machine on Spark 4's `transformWithState` —
    * the successor API to `flatMapGroupsWithState` (typed composite
    * state handles, per-state TTL, timers, RocksDB-backed). Both twins
    * share [[step]], so the semantics cannot drift; the parity spec
    * pins identical output on identical input. Production notes: TWS
    * requires the RocksDB state-store provider (set
    * `spark.sql.streaming.stateStore.providerClass` accordingly), which
    * is also what bounds state memory at 100 TB — the store spills to
    * local SSD instead of executor heap.
    */
  class LedgerProcessor(conf: EtlConfig, initialProgress: Long)
      extends StatefulProcessor[String, BatchEvent, LedgerRecord] {
    @transient private var progressState: ValueState[JobProgress] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      progressState = getHandle.getValueState[JobProgress](
        "progress", Encoders.product[JobProgress], TTLConfig.NONE)

    override def handleInputRows(jobId: String, rows: Iterator[BatchEvent],
        timerValues: TimerValues): Iterator[LedgerRecord] = {
      var progress =
        if (progressState.exists()) progressState.get().progress
        else initialProgress
      val out = rows.toSeq.sortBy(_.now).flatMap { e =>
        val (records, p) = step(jobId, progress, e, conf)
        progress = p
        records
      }
      progressState.update(JobProgress(progress))
      out.iterator
    }
  }

  /** [[ledger]] via [[LedgerProcessor]] — see its scaladoc. */
  def ledgerTws(events: Dataset[BatchEvent], conf: EtlConfig,
                initialProgress: Long): Dataset[LedgerRecord] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.jobId)
      .transformWithState(new LedgerProcessor(conf, initialProgress),
        TimeMode.None(), OutputMode.Append())
  }

  /** R8 probe over a ledger snapshot: (job, timestampStart) keys whose
    * LATEST record (by `seq`, ties resolved toward closed records,
    * mirroring ReplacingMergeTree keep-latest) is still open —
    * has_running_job, clickhouse_client.py:440-524. Latest-wins is what
    * makes the gate survive start-key reuse: an old completed run at the
    * same window start cannot mask a newer crashed open record, and a
    * takeover's abort close cannot mask a newer retry. Keys come back
    * sorted. */
  def runningJobs(ledger: Seq[LedgerRecord]): Seq[(String, Long)] =
    ledger.groupBy(r => (r.jobId, r.timestampStart)).toSeq
      .collect { case (key, rs) if rs.maxBy(r =>
          (r.seq, if (r.timestampEnd.isDefined) 1 else 0))
          .timestampEnd.isEmpty => key }
      .sorted
}
