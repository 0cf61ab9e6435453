package graft

import graft.config.EnvConfig
import graft.logging.StructuredLogger
import graft.sinks.ClickHouseHttpClient
import graft.sources.PrometheusHttpClient
import graft.streaming.EtlPipeline

/** Application entry point — reference main.py:41-86 as a Spark
  * submittable main: env config → clients → ONE pipeline iteration
  * (run_once), structured error logging, exit 1 on failure for the same
  * monitoring contract.
  *
  * Usage (spark-submit or sbt runMain):
  *   graft.EtlMain <inDir> <outDir> <ledgerDir> [expr] [jobId]
  * with `PROMETHEUS_URL`, `CLICKHOUSE_URL`, and the optional knobs from
  * reference config.py in the environment. The reference pulls ALL
  * metrics — `{__name__=~".+"}` — which is the default expr.
  */
object EtlMain {
  def main(args: Array[String]): Unit = {
    val logger = new StructuredLogger(
      "main", sys.env.getOrElse("LOG_LEVEL", "INFO"))
    try {
      logger.info("Starting graft ETL (Spark-native etl-prometheus2clickhouse)")
      val app = EnvConfig.loadFromEnv()
      // log level from config applies after load (main.py:58-59)
      val log = new StructuredLogger("main", app.etl.logLevel)
      val Array(inDir, outDir, ledgerDir) = args.take(3)
      val expr = args.lift(3).getOrElse("""{__name__=~".+"}""")
      val jobId = args.lift(4).getOrElse("etl")

      val spark = Harness.session("graft-etl")
      try {
        val closed = EtlPipeline.runOnce(
          spark, app, jobId, expr, inDir, outDir, ledgerDir,
          initialProgress = app.etl.minWindowStartTimestamp,
          now = System.currentTimeMillis() / 1000L,
          prom = new PrometheusHttpClient(app.prometheus,
            new StructuredLogger("prometheus_client", app.etl.logLevel)),
          ch = new ClickHouseHttpClient(app.clickhouse,
            new StructuredLogger("clickhouse_client", app.etl.logLevel)),
          logger = new StructuredLogger("etl_pipeline", app.etl.logLevel))
        log.info("Run completed", Map(
          "etl_job.run_completed.progress" ->
            closed.timestampProgress.getOrElse(-1L),
          "etl_job.run_completed.rows" -> closed.batchRows.getOrElse(-1L),
          "etl_job.run_completed.skipped_count" ->
            closed.batchSkippedCount.getOrElse(-1L)))
      } finally spark.stop()
    } catch {
      case e: Exception =>
        // main.py:70-82 — structured application_error, exit 1
        logger.error(
          s"Application error occurred: ${e.getClass.getSimpleName}: ${e.getMessage}",
          Map(
            "main.application_error.error" -> String.valueOf(e.getMessage),
            "main.application_error.error_type" -> e.getClass.getSimpleName,
            "main.application_error.message" ->
              s"Unexpected error occurred: ${e.getClass.getSimpleName}: ${e.getMessage}"))
        sys.exit(1)
    }
  }
}
