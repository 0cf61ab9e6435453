package graft

import graft.logging.StructuredLogger
import org.scalatest.funsuite.AnyFunSuite

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.charset.StandardCharsets
import java.time.Instant

/** StructuredLogger vs reference logging_config.py semantics: ECS-shaped
  * one-line JSON, stdout/stderr level routing, level filtering, JSON
  * escaping, timestamp helper. */
class StructuredLoggerSpec extends AnyFunSuite {

  private def capture(level: String = "INFO")
      : (StructuredLogger, ByteArrayOutputStream, ByteArrayOutputStream) = {
    val out = new ByteArrayOutputStream()
    val err = new ByteArrayOutputStream()
    val log = new StructuredLogger("test_logger", level,
      new PrintStream(out, true, "UTF-8"), new PrintStream(err, true, "UTF-8"),
      () => Instant.parse("2026-01-02T03:04:05Z"))
    (log, out, err)
  }

  private def lines(b: ByteArrayOutputStream): Seq[String] =
    new String(b.toByteArray, StandardCharsets.UTF_8)
      .split("\n").toSeq.filter(_.nonEmpty)

  test("ECS-shaped JSON line with deterministic field order") {
    val (log, out, _) = capture()
    log.info("hello", Map(
      "etl_job.batch_started.window_start" -> 100L,
      "etl_job.batch_started.job_id" -> "j1"))
    assert(lines(out) == Seq(
      """{"@timestamp":"2026-01-02T03:04:05Z","log.level":"info",""" +
        """"log.logger":"test_logger","message":"hello",""" +
        """"etl_job.batch_started.job_id":"j1",""" +
        """"etl_job.batch_started.window_start":100}"""))
  }

  test("level routing: below ERROR to stdout, ERROR to stderr") {
    val (log, out, err) = capture("DEBUG")
    log.debug("d"); log.info("i"); log.warning("w"); log.error("e")
    assert(lines(out).size == 3)
    assert(lines(err).size == 1)
    assert(lines(err).head.contains("\"log.level\":\"error\""))
  }

  test("level filtering suppresses below-threshold records") {
    val (log, out, err) = capture("WARNING")
    log.debug("d"); log.info("i"); log.warning("w"); log.error("e")
    assert(lines(out).size == 1) // only the warning
    assert(lines(err).size == 1)
  }

  test("unknown level name resolves to INFO (logging_config.py:37-41)") {
    assert(StructuredLogger.resolveLevel("NOPE") == 20)
    assert(StructuredLogger.resolveLevel("debug") == 10)
  }

  test("JSON escaping: quotes, backslashes, control characters") {
    val (log, out, _) = capture()
    log.info("""a "quoted" \ path""" + "\r\n\ttail", Map("k" -> ("v" + 1.toChar)))
    val line = lines(out).head
    // the line must be parseable JSON — round-trip the escapes manually
    assert(line.contains("""a \"quoted\" \\ path\r\n\ttail"""))
    assert(line.contains("\"k\":\"v\\u0001\""))
  }

  test("value rendering: numbers, booleans, options, sequences") {
    val (log, out, _) = capture()
    log.info("m", Map("n" -> 7, "b" -> true, "s" -> Some(3L), "none" -> None,
      "xs" -> Seq(1L, 2L)))
    val line = lines(out).head
    assert(line.contains("\"n\":7"))
    assert(line.contains("\"b\":true"))
    assert(line.contains("\"s\":3"))
    assert(line.contains("\"none\":null"))
    assert(line.contains("\"xs\":[1,2]"))
  }

  test("formatTimestampWithUtc matches the reference format") {
    // logging_config.py:125-139
    assert(StructuredLogger.formatTimestampWithUtc(0) ==
      "0 (1970-01-01T00:00:00+00:00)")
    assert(StructuredLogger.formatTimestampWithUtc(1700000000L) ==
      "1700000000 (2023-11-14T22:13:20+00:00)")
  }
}
