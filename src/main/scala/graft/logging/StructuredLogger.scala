package graft.logging

import java.io.PrintStream
import java.time.Instant
import java.time.format.DateTimeFormatter

/** Structured JSON logging, semantics matched to the reference's
  * logging_config.py + logging_objects_with_schema.json:
  *
  *  - one ECS-shaped JSON object per line: `@timestamp` (UTC ISO-8601),
  *    `log.level`, `log.logger`, `message`, plus flattened extra fields
  *  - extra fields follow the reference's `component.event.field`
  *    dotted naming convention (the schema file's `source` format), so
  *    the same log pipeline could ingest either engine's events
  *  - level routing (logging_config.py:60-90): below ERROR → stdout,
  *    ERROR and above → stderr
  *  - level filtering with the standard ordering; unknown level names
  *    resolve to INFO (logging_config.py:37-41)
  *
  * Deliberately JDK-only (no logging framework): the reference's
  * ecs_logging dependency is a formatter, and the format is the
  * contract — spec'd in StructuredLoggerSpec including JSON escaping.
  * Output streams are injectable so specs can capture them.
  */
object StructuredLogger {
  val Levels: Map[String, Int] = Map(
    "DEBUG" -> 10, "INFO" -> 20, "WARNING" -> 30, "ERROR" -> 40,
    "CRITICAL" -> 50)

  /** logging_config.py:37-41 — unknown names fall back to INFO. */
  def resolveLevel(name: String): Int =
    Levels.getOrElse(name.toUpperCase, 20)

  /** logging_config.py:125-139 — `"<ts> (<iso-utc>)"`. Python's
    * `isoformat()` renders the UTC offset as `+00:00`, where Java's ISO
    * formatter abbreviates it to `Z` — spelled out to match. */
  private val pyIso = DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss'+00:00'")
    .withZone(java.time.ZoneOffset.UTC)

  def formatTimestampWithUtc(timestamp: Long): String =
    s"$timestamp (${pyIso.format(Instant.ofEpochSecond(timestamp))})"

  /** Minimal correct JSON string escaping (quote, backslash, control
    * chars) — the full requirement for one-line JSON log records. */
  def jsonEscape(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** `s` as a quoted, escaped JSON string literal. */
  def jsonString(s: String): String = "\"" + jsonEscape(s) + "\""

  private def jsonValue(v: Any): String = v match {
    case null => "null"
    case s: String => jsonString(s)
    case b: Boolean => b.toString
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case n: Double => if (n.isNaN || n.isInfinite) "\"" + n + "\"" else n.toString
    case n: Float => jsonValue(n.toDouble)
    case Some(x) => jsonValue(x)
    case None => "null"
    case xs: Seq[_] => xs.map(jsonValue).mkString("[", ",", "]")
    case other => "\"" + jsonEscape(other.toString) + "\""
  }
}

/** A named logger writing ECS-shaped JSON lines. `clock` is injectable
  * for deterministic spec output. */
final class StructuredLogger(
    name: String,
    level: String = "INFO",
    out: PrintStream = System.out,
    err: PrintStream = System.err,
    clock: () => Instant = () => Instant.now()) {
  import StructuredLogger._

  private val threshold = resolveLevel(level)

  def render(levelName: String, message: String,
             extra: Map[String, Any]): String = {
    val sb = new StringBuilder(128)
    sb.append("{\"@timestamp\":\"")
      .append(DateTimeFormatter.ISO_INSTANT.format(clock()))
      .append("\",\"log.level\":\"").append(levelName.toLowerCase)
      .append("\",\"log.logger\":\"").append(jsonEscape(name))
      .append("\",\"message\":\"").append(jsonEscape(message)).append('"')
    // sorted for deterministic output (spec'd); the reference's dict
    // ordering is insertion order, which JSON consumers must not rely on
    extra.toSeq.sortBy(_._1).foreach { case (k, v) =>
      sb.append(",\"").append(jsonEscape(k)).append("\":")
        .append(StructuredLogger.jsonValue(v))
    }
    sb.append('}')
    sb.toString
  }

  private def log(levelName: String, message: String,
                  extra: Map[String, Any]): Unit = {
    val lv = resolveLevel(levelName)
    if (lv >= threshold) {
      val line = render(levelName, message, extra)
      // logging_config.py:31-33,73-80 — non-error to stdout, ERROR+ to
      // stderr
      if (lv >= 40) err.println(line) else out.println(line)
    }
  }

  def debug(message: String, extra: Map[String, Any] = Map.empty): Unit =
    log("DEBUG", message, extra)
  def info(message: String, extra: Map[String, Any] = Map.empty): Unit =
    log("INFO", message, extra)
  def warning(message: String, extra: Map[String, Any] = Map.empty): Unit =
    log("WARNING", message, extra)
  def error(message: String, extra: Map[String, Any] = Map.empty): Unit =
    log("ERROR", message, extra)
}
