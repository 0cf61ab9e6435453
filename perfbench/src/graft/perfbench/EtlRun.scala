package graft.perfbench

import graft.config.EnvConfig
import graft.logging.StructuredLogger
import graft.sinks.ClickHouseHttpClient
import graft.sources.PrometheusHttpClient
import graft.streaming.{EtlPipeline, LedgerRecord}
import org.apache.spark.sql.SparkSession

import java.io.{File, OutputStream, PrintStream}

/** One ETL deployment under test: the stub Prometheus and ClickHouse
  * servers, the graft clients pointed at them, and the drop, TSV and
  * ledger directories of one job. `runOnce` drives
  * `EtlPipeline.runOnce` for the next window and checks what came out.
  * A rig over a directory whose job already closed `windowsDone` windows
  * resumes from the ledger, as a new process of a cron deployment does. */
final class EtlRig(spark: SparkSession, dir: File, scrape: Scrape,
                   windowSeconds: Long, firstProgress: Long, tracer: Tracer,
                   windowsDone: Int = 0) {
  val prom = new PromStub(scrape, tracer)
  val ch = new ChStub(tracer)
  private val app = EnvConfig.load(Map(
    "PROMETHEUS_URL" -> prom.url,
    "CLICKHOUSE_URL" -> ch.url,
    "PROMETHEUS_QUERY_STEP_SECONDS" -> scrape.step.toString,
    "BATCH_WINDOW_SIZE_SECONDS" -> windowSeconds.toString))
  private val quiet = {
    val devNull = new PrintStream(OutputStream.nullOutputStream())
    new StructuredLogger("perfbench", "CRITICAL", devNull, devNull)
  }
  private val promClient = new PrometheusHttpClient(app.prometheus, quiet)
  private val chClient = new ClickHouseHttpClient(app.clickhouse, quiet)
  val dropDir = new File(dir, "drop").getAbsolutePath
  val tsvDir = new File(dir, "tsv").getAbsolutePath
  val ledgerDir = new File(dir, "ledger").getAbsolutePath
  private var progress = firstProgress + windowsDone * windowSeconds

  /** Prepares the next window off the clock, runs one iteration on the
    * clock, then checks it off the clock. `corruptExpected` falsifies the
    * expected digest (self-check). */
  def runOnce(corruptExpected: Boolean = false): Iteration = {
    val (start, end) = (progress, progress + windowSeconds)
    val w = scrape.window(start, end)
    prom.prepare(w)
    prom.served = Nil
    ch.reset()
    val t0us = tracer.nowUs
    val t0 = System.nanoTime()
    val result =
      try Right(EtlPipeline.runOnce(spark, app, "perfbench",
        """{__name__=~".+"}""", dropDir, tsvDir, ledgerDir,
        initialProgress = firstProgress, now = EtlRig.FarFuture,
        promClient, chClient, logger = quiet))
      catch { case e: Exception => Left(e.toString) }
    val seconds = (System.nanoTime() - t0) / 1e9
    val span = (t0us, tracer.nowUs)
    progress = end
    val got = ch.digest
    val batch = new File(tsvDir, s"batch_${start}_$end")
    val parts = Option(batch.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("part-"))
    val tsvBytes = parts.map(_.length).sum
    EtlRig.deleteTree(batch)
    val expected = if (corruptExpected) w.digest.copy(sum = ~w.digest.sum)
                   else w.digest
    val failure = result match {
      case Left(e) => Some(s"window [$start,$end): $e")
      case Right(r) => EtlRig.check(r, w, start, end, got, expected)
    }
    val closed = result.toOption
    Iteration(failure, seconds, got.lines, span, prom.served, ch.posts,
      tsvBytes, parts.length,
      closed.flatMap(_.batchRows).getOrElse(0L),
      closed.flatMap(_.batchSkippedCount).getOrElse(0L))
  }

  def ledgerFiles: Int = Option(new File(ledgerDir).listFiles())
    .getOrElse(Array.empty[File]).count(_.getName.endsWith(".parquet"))

  def stop(): Unit = { prom.stop(); ch.stop() }
}

/** One checked iteration: its failure if any, wall seconds, the lines
  * ClickHouse accepted, its span, the stubs' (start, end, bytes) records
  * of the fetch and the posts, the TSV part-files it wrote, and the rows
  * and skipped points its closed ledger record reports. */
final case class Iteration(failure: Option[String], seconds: Double,
                           rows: Long, span: (Long, Long),
                           fetch: Seq[(Long, Long, Long)],
                           posts: Seq[(Long, Long, Long)], tsvBytes: Long,
                           tsvParts: Int, parsed: Long, skipped: Long)

object EtlRig {
  /** `now` for every iteration: far past every window, so progress
    * always advances to the window end. */
  val FarFuture = 4000000000L

  def check(r: LedgerRecord, w: Window, start: Long, end: Long,
            got: Digest, expected: Digest): Option[String] = {
    val problems = Seq(
      (r.timestampStart != start) -> s"start ${r.timestampStart} != $start",
      (!r.timestampProgress.contains(end)) ->
        s"progress ${r.timestampProgress} != $end",
      (!r.batchRows.contains(w.rows)) -> s"batchRows ${r.batchRows} != ${w.rows}",
      (!r.batchSkippedCount.contains(w.skipped)) ->
        s"batchSkippedCount ${r.batchSkippedCount} != ${w.skipped}",
      (got != expected) -> s"ClickHouse lines $got != expected $expected")
      .collect { case (true, msg) => msg }
    if (problems.isEmpty) None
    else Some(s"window [$start,$end): ${problems.mkString("; ")}")
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
