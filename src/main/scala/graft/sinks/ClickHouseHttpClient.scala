package graft.sinks

import graft.config.ClickHouseSettings
import graft.logging.StructuredLogger

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.time.Duration
import java.util.Base64
import scala.jdk.CollectionConverters._
import scala.util.Using

final class ClickHouseHttpException(
    val statusCode: Int,
    val responsePreview: String,
    msg: String) extends RuntimeException(msg)

/** ClickHouse bulk-insert transport — the reference's
  * ClickHouseClient.insert_from_file (clickhouse_client.py:131-218)
  * re-expressed over the JDK HTTP client. [[TsvSink]] already proves
  * the TabSeparated BYTE format (R3/R4 spec'd); this closes the
  * transport: streaming POST of each part-file to the ClickHouse HTTP
  * interface (`?query=INSERT INTO t FORMAT TabSeparated`, body =
  * file bytes — the `curl --data-binary @file` shape).
  *
  * Reference semantics kept:
  *  - missing file → FileNotFoundException (clickhouse_client.py:150-164)
  *  - empty file → no-op, no HTTP round trip (:166-170)
  *  - table-name validation (identifier chars, ≤ one dot, non-empty
  *    parts — :296-331) before splicing into the query string
  *  - basic auth with normalized empty password; send/receive timeout
  *  - non-2xx → exception with response preview; errors logged with the
  *    reference's structured fields
  *
  * Scale shape: [[loadDir]] walks a TsvSink output directory and
  * streams each part-file. Part-files are independent, so a production
  * deployment parallelizes the loop (or points N loaders at N
  * distributed-table replicas); idempotency is carried by the
  * content-hash row ids collapsing in ReplacingMergeTree (R5/R9), so
  * re-POSTing a file after a mid-load crash is safe — the same
  * exactly-once story the reference relies on.
  */
final class ClickHouseHttpClient(
    // exposed (r13) so executor-side writers can rebuild a client from
    // the serializable settings instead of shipping this class (the
    // JDK HttpClient inside is not serializable)
    private[graft] val config: ClickHouseSettings,
    logger: StructuredLogger = new StructuredLogger("clickhouse_client")) {

  private val client: HttpClient = {
    val b = HttpClient.newBuilder()
      .connectTimeout(Duration.ofSeconds(config.connectTimeoutSeconds.toLong))
    if (config.insecure)
      b.sslContext(graft.sources.Insecure.trustAllContext)
    b.build()
  }

  private def authHeader: Option[String] = config.user.map { u =>
    val cred = u + ":" + config.password.getOrElse("")
    "Basic " + Base64.getEncoder.encodeToString(
      cred.getBytes(StandardCharsets.UTF_8))
  }

  /** insert_from_file (clickhouse_client.py:131-218). */
  def insertFromFile(filePath: String): Unit = {
    val path = Paths.get(filePath)
    if (!Files.exists(path)) {
      val msg = s"File not found: $filePath"
      logger.error(msg, Map(
        "clickhouse_client.insert_from_file_failed.error" -> msg,
        "clickhouse_client.insert_from_file_failed.file_name" ->
          path.getFileName.toString,
        "clickhouse_client.insert_from_file_failed.table" -> config.tableMetrics))
      throw new java.io.FileNotFoundException(msg)
    }
    if (Files.size(path) == 0L) {
      logger.info("No rows to insert (empty file)")
      return
    }
    ClickHouseHttpClient.validateTableName(config.tableMetrics, "table_metrics")

    val query = s"INSERT INTO ${config.tableMetrics} FORMAT TabSeparated"
    val url = config.url +
      "?query=" + URLEncoder.encode(query, StandardCharsets.UTF_8)
    val reqB = HttpRequest.newBuilder(URI.create(url))
      .timeout(Duration.ofSeconds(config.sendReceiveTimeoutSeconds.toLong))
      .POST(HttpRequest.BodyPublishers.ofFile(path))
    authHeader.foreach(reqB.header("Authorization", _))

    try {
      val response =
        client.send(reqB.build(), HttpResponse.BodyHandlers.ofString())
      val status = response.statusCode()
      if (status < 200 || status >= 300)
        throw new ClickHouseHttpException(status,
          response.body().take(1000),
          s"ClickHouse insert returned HTTP $status")
    } catch {
      case e: Exception =>
        logger.error(
          s"Failed to insert from file into ClickHouse via HTTP streaming: " +
            s"${e.getClass.getSimpleName}: ${e.getMessage}",
          Map(
            "clickhouse_client.insert_from_file_failed.error" -> e.toString,
            "clickhouse_client.insert_from_file_failed.file_name" ->
              path.getFileName.toString,
            "clickhouse_client.insert_from_file_failed.table" ->
              config.tableMetrics))
        throw e
    }
    ()
  }

  /** Execute one SQL statement (DDL/utility — not the insert path):
    * POST with the statement as the request body, ClickHouse's native
    * HTTP shape for non-INSERT queries. Non-2xx → exception with the
    * response preview, same contract as [[insertFromFile]].
    */
  def execute(statement: String): Unit = { query(statement); () }

  /** Like [[execute]] but RETURNS the response body — the readback half
    * a SELECT needs (the gated live-integration test's FINAL parity
    * check drives this; `execute` discards bodies by design). */
  def query(statement: String): String = {
    val reqB = HttpRequest.newBuilder(URI.create(config.url))
      .timeout(Duration.ofSeconds(config.sendReceiveTimeoutSeconds.toLong))
      .POST(HttpRequest.BodyPublishers.ofString(statement,
        StandardCharsets.UTF_8))
    authHeader.foreach(reqB.header("Authorization", _))
    val response =
      client.send(reqB.build(), HttpResponse.BodyHandlers.ofString())
    val status = response.statusCode()
    if (status < 200 || status >= 300) {
      logger.error(s"ClickHouse DDL returned HTTP $status", Map(
        "clickhouse_client.execute_failed.status" -> status.toString,
        "clickhouse_client.execute_failed.statement" -> statement.take(120)))
      throw new ClickHouseHttpException(status, response.body().take(1000),
        s"ClickHouse DDL returned HTTP $status")
    }
    response.body()
  }

  /** Liveness probe against ClickHouse's /ping endpoint — false on any
    * connection/HTTP failure, never throws (gates the live spec). */
  def ping(): Boolean =
    try {
      val req = HttpRequest.newBuilder(
          URI.create(config.url.stripSuffix("/") + "/ping"))
        .timeout(Duration.ofSeconds(config.connectTimeoutSeconds.toLong))
        .GET().build()
      client.send(req, HttpResponse.BodyHandlers.ofString()).statusCode == 200
    } catch { case _: Exception => false }

  /** Bootstrap the deployment's tables: the reference README's exact
    * schemas (ReplacingMergeTree, daily partitioning, MATERIALIZED
    * cityHash64 id — [[ClickHouseDdl]]) issued idempotently
    * (IF NOT EXISTS, so safe on every startup), preceded by
    * CREATE DATABASE for any non-default qualifier. Returns the
    * executed statements for logging/inspection.
    */
  def ensureTables(): Seq[String] = {
    val stmts =
      ClickHouseDdl.bootstrapStatements(config.tableMetrics, config.tableEtl)
    stmts.foreach(execute)
    logger.info(s"Ensured ClickHouse tables exist " +
      s"(${config.tableMetrics}, ${config.tableEtl})")
    stmts
  }

  /** Load every TsvSink part-file under `dir` (the reference's
    * per-batch insert loop over its temp files). Spark text sinks name
    * data files `part-*`; `_SUCCESS`/checksums are skipped. Files load
    * in sorted order for deterministic logs; order does not matter for
    * correctness (content-hash idempotency). */
  def loadDir(dir: String): Int = {
    val parts = Using.resource(Files.list(Paths.get(dir))) { paths =>
      paths.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("part-"))
        .filterNot(p => p.getFileName.toString.endsWith(".crc"))
        .toSeq.sortBy(_.getFileName.toString)
    }
    parts.foreach(p => insertFromFile(p.toString))
    parts.size
  }
}

object ClickHouseHttpClient {
  /** _validate_table_name (clickhouse_client.py:296-331). */
  def validateTableName(tableName: String, fieldName: String): Unit = {
    if (tableName == null || tableName.trim.isEmpty)
      throw new IllegalArgumentException(
        s"Invalid $fieldName: table name cannot be empty")
    val parts = tableName.split("\\.", -1)
    if (parts.length > 2)
      throw new IllegalArgumentException(
        s"Invalid $fieldName format: $tableName (too many dots)")
    parts.foreach { part =>
      if (part.trim.isEmpty)
        throw new IllegalArgumentException(
          s"Invalid $fieldName format: $tableName (empty part)")
      if (!part.forall(c => c.isLetterOrDigit || c == '_'))
        throw new IllegalArgumentException(
          s"Invalid $fieldName format: $tableName " +
            s"(invalid characters in part: $part)")
    }
  }
}
