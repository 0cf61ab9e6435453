package graft.streaming

import graft.config.AppConfig
import graft.logging.StructuredLogger
import graft.sinks.ClickHouseHttpClient
import graft.sources.PrometheusHttpClient
import org.apache.spark.sql.SparkSession

/** The reference's full `run()` loop (etl_job.py: load state → calc
  * window → query_range to file → transform → insert_from_file → save
  * state), composed from the deployment-surface pieces:
  *
  *   [[PrometheusHttpClient]] fetch → drop-dir → [[EtlJob.runOnce]]
  *   (gate/window/parse/TSV/ledger) → [[ClickHouseHttpClient.loadDir]]
  *
  * Each iteration writes its TSV part-files into a PER-BATCH
  * subdirectory (`outDir/batch_<start>_<end>`) and loads exactly that
  * directory — the reference's one-temp-file-per-batch shape, so a
  * crashed load never re-sends older batches (and re-sending is safe
  * anyway: content-hash ids collapse in ReplacingMergeTree, R5/R9).
  *
  * The fetch window is computed from the ledger before the fetch, and
  * `runOnce` re-checks it against the ledger inside the
  * [[LedgerLock]]-serialized gate: if a racing orchestrator closed a
  * window in between, the batch refuses before mark-start (nothing is
  * written, progress stays where the other run left it) instead of
  * filtering the fetched response to a window it does not cover. A race
  * can at worst waste one FETCH — it can never double-run a batch or
  * skip data.
  */
object EtlPipeline {

  private def defaultLogger = new StructuredLogger(
    "etl_pipeline", sys.env.getOrElse("LOG_LEVEL", "INFO"))

  /** One full fetch→transform→load iteration; returns the closed
    * ledger record. `expr` is the PromQL selector (the reference pulls
    * everything: `{__name__=~".+"}`). */
  def runOnce(spark: SparkSession, app: AppConfig, jobId: String,
              expr: String, inDir: String, outDir: String,
              ledgerDir: String, initialProgress: Long, now: Long,
              prom: PrometheusHttpClient, ch: ClickHouseHttpClient,
              force: Boolean = false,
              logger: StructuredLogger = defaultLogger): LedgerRecord = {
    val conf = app.etl.toEtlConfig
    // opt-in schema bootstrap (CLICKHOUSE_ENSURE_TABLES=true): the
    // reference README's exact DDL, idempotent, so first-run
    // deployments need no manual CREATE TABLE step
    if (app.clickhouse.ensureTables) {
      val stmts = ch.ensureTables()
      logger.info("Ensured ClickHouse schema", Map(
        "etl_pipeline.ensure_tables.statements" -> stmts.size))
    }
    val progress = EtlJob.latestState(EtlJob.readLedger(ledgerDir))
      .flatMap(_.timestampProgress).getOrElse(initialProgress)
    val (start, end) = JobStateMachine.calcWindow(progress, conf)

    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    val responseFile = s"$inDir/response_${start}_$end.json"
    val t0 = System.nanoTime()
    prom.queryRangeToFile(expr, start, end,
      s"${app.prometheus.queryStepSeconds}s", responseFile)
    val fetchMs = (System.nanoTime() - t0) / 1000000L
    logger.info("Fetched query_range window", Map(
      "etl_pipeline.fetched.window_start" -> start,
      "etl_pipeline.fetched.window_end" -> end,
      "etl_pipeline.fetched.file_name" -> responseFile))

    val batchOut = s"$outDir/batch_${start}_$end"
    val closed =
      try EtlJob.runOnce(spark, conf, jobId, inDir, batchOut,
        ledgerDir, initialProgress, now, force, logger,
        fetchedWindow = Some((start, end)))
      finally {
        // the reference deletes its per-batch temp file whether the run
        // succeeded or not (etl_job create_temp_file + cleanup); here it
        // also keeps the drop-dir from growing — each iteration parses
        // the whole directory, so leaked responses would make iteration
        // cost creep linearly over the job's lifetime
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(responseFile))
        ()
      }

    val t1 = System.nanoTime()
    val nParts = ch.loadDir(batchOut)
    logger.info("Loaded batch into ClickHouse", Map(
      "etl_pipeline.loaded.part_files" -> nParts,
      "etl_pipeline.loaded.rows" -> closed.batchRows.getOrElse(-1L),
      "etl_pipeline.loaded.table" -> "(configured table_metrics)",
      "etl_pipeline.loaded.fetch_ms" -> fetchMs,
      "etl_pipeline.loaded.load_ms" -> (System.nanoTime() - t1) / 1000000L))
    closed
  }

  /** Continuous mode: the reference runs one iteration per cron tick;
    * a long-running deployment calls this instead — N iterations (or
    * Int.MaxValue), progress chained through the ledger exactly as
    * across process restarts. `nowFn` injects wall-clock per iteration
    * (specs pass fixed times; production passes
    * `_ => System.currentTimeMillis / 1000`). Returns the closed
    * records in order.
    */
  def runLoop(spark: SparkSession, app: AppConfig, jobId: String,
              expr: String, inDir: String, outDir: String,
              ledgerDir: String, initialProgress: Long,
              iterations: Int, nowFn: Int => Long,
              prom: PrometheusHttpClient, ch: ClickHouseHttpClient,
              sleepMs: Long = 0L,
              logger: StructuredLogger = defaultLogger): Seq[LedgerRecord] =
    (0 until iterations).map { i =>
      if (i > 0 && sleepMs > 0) Thread.sleep(sleepMs)
      runOnce(spark, app, jobId, expr, inDir, outDir, ledgerDir,
        initialProgress, nowFn(i), prom, ch, logger = logger)
    }
}
