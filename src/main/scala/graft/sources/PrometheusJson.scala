package graft.sources

import graft.functions.Portable._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Prometheus `query_range` matrix-response parser — the reference's
  * entire ingestion path (etl_job.py:545-738) as ONE declarative plan:
  * `from_json` with an explicit schema, two `explode`s (series → points),
  * dynamic sorted labels, and R2 value parsing. The reference needs a
  * hand-rolled streaming event parser (ijson) to bound memory; on Spark
  * the same bound comes free — each response row parses inside a
  * codegen'd projection, series fan out as generated rows, and nothing
  * driver-side ever holds a whole response. The identical transform
  * serves batch AND Structured Streaming (graft.streaming.MetricsStream).
  */
object PrometheusJson {

  /** query_range response schema. A `values` point is `[ts, value]` with
    * heterogeneous JSON types (number, string); both parse as StringType
    * — Jackson hands back the literal token text, so `"1.5"` and `1.5`
    * are indistinguishable downstream, exactly like the reference which
    * floats both (etl_job.py:650-717). */
  val responseSchema: StructType = StructType(Seq(
    StructField("status", StringType),
    StructField("data", StructType(Seq(
      StructField("resultType", StringType),
      StructField("result", ArrayType(StructType(Seq(
        StructField("metric", MapType(StringType, StringType)),
        StructField("values", ArrayType(ArrayType(StringType))))))))))))

  /** Decode a string column of query_range JSON responses: one row per
    * NON-BLANK input line (blank lines are not documents), each JSON
    * document parsed exactly once:
    *
    *   doc_ok   the document's verdict — valid JSON, status "success",
    *            resultType "matrix"; never NULL
    *   result   `data.result`, the series array [[parseDecoded]] explodes
    *
    * [[parse]] silently contributes zero rows for a malformed document
    * (fine for ad-hoc queries), but the BATCH LOOP must fail instead —
    * the reference raises on an invalid response (etl_job.py's status /
    * parse guards), and a batch that silently drops a truncated drop-dir
    * file would advance progress past data that was never loaded.
    * EtlJob.runOnce persists this frame and serves its validity gate,
    * its stats and its TSV write from it.
    */
  def decode(df: DataFrame, jsonCol: String): DataFrame =
    df.filter(length(trim(col(jsonCol))) > 0)
      .select(from_json(col(jsonCol), responseSchema).as("r"))
      // coalesce matters: PERMISSIVE from_json turns corrupt JSON into a
      // struct of NULL fields, so the conjunction is NULL (not false) —
      // exactly the rows the gate exists to catch
      .select(coalesce(
        col("r").isNotNull && col("r.status") === "success" &&
          col("r.data.resultType") === "matrix", lit(false)).as("doc_ok"),
        col("r.data.result").as("result"))

  /** Parse a string column of query_range JSON responses into one row
    * per (series, point) — [[parseDecoded]] over [[decode]]:
    *
    *   name          __name__ label ("" when absent, like metric.get)
    *   label_keys    remaining labels' keys, sorted (R1)
    *   label_values  values in label_keys order
    *   ts_us         epoch µs from the float timestamp (R1 µs precision)
    *   raw_value     the value token as text
    *   value         parsed double — numeric strings, scientific, NaN /
    *                 Inf / -Inf (all preserved, R2); NULL = unparseable
    *   ok            false ⇔ skip-counted by the reference (R2)
    *
    * Malformed responses (wrong status / resultType / unparseable JSON)
    * contribute zero rows, like the reference's fail-fast guard.
    */
  def parse(df: DataFrame, jsonCol: String): DataFrame =
    parseDecoded(decode(df, jsonCol))

  /** [[parse]] over an already [[decode]]d frame. */
  def parseDecoded(decoded: DataFrame): DataFrame = {
    // the verdict gates INSIDE the generator (explode of NULL emits no
    // rows) rather than as a Filter: a Filter on doc_ok would be pushed
    // below the decode projection with from_json substituted for it,
    // parsing every document a second time
    val series = decoded
      .select(explode(when(col("doc_ok"), col("result"))).as("s"))
    val labels = map_filter(col("s.metric"), (k, _) => k =!= "__name__")
    val keys = array_sort(map_keys(labels))
    // CRITICAL plan shape: the label expressions live in their OWN
    // projection BELOW the point-level explode. Put in the same select
    // as the explode, Spark's generator extraction hoists them into the
    // Project ABOVE the Generate — evaluated once per POINT instead of
    // once per series, and these are interpreted higher-order functions
    // (measured: 80 s/1M points vs ~0.1 s per-series). The Generate
    // only replicates the computed references. Same precompute-per-
    // series trick as the reference (etl_job.py:619-625).
    val perSeries = series.select(
      coalesce(element_at(col("s.metric"), "__name__"), lit("")).as("name"),
      keys.as("label_keys"),
      transform(keys, k => element_at(labels, k)).as("label_values"),
      col("s.values").as("pts"))
    perSeries
      .select(col("name"), col("label_keys"), col("label_values"),
        explode(col("pts")).as("point"))
      .filter(size(col("point")) === 2)
      .select(
        col("name"), col("label_keys"), col("label_values"),
        round(element_at(col("point"), 1).cast("double") * 1000000d)
          .cast("long").as("ts_us"),
        element_at(col("point"), 2).as("raw_value"),
        expr("try_cast(point[1] AS DOUBLE)").as("value"))
      .withColumn("ok", col("value").isNotNull)
  }

  /** The rows the reference writes to ClickHouse: parsed points only
    * (skips filtered out, R2). */
  def metricRows(parsed: DataFrame): DataFrame =
    parsed.filter(col("ok")).drop("raw_value", "ok")

  /** Per-series skip accounting — the reference's (rows_count,
    * skipped_count) pair (R2, R7). */
  def skipStats(parsed: DataFrame): DataFrame =
    parsed.groupBy("name").agg(
      sum(when(col("ok"), 1L).otherwise(0L)).as("rows_count"),
      sum(when(!col("ok"), 1L).otherwise(0L)).as("skipped_count"))

  /** Render metric rows as the reference's TabSeparated lines
    * (etl_job.py:719-738): `ts.6f \t name \t ['k',..] \t ['v',..] \t
    * value` with R3 escaping and R4 float formatting (no scientific
    * notation, lowercase nan/inf). */
  def tsvLines(metrics: DataFrame): DataFrame =
    metrics.select(concat_ws("\t",
      microsSecondsStr(col("ts_us")),
      tsvEscape(col("name")),
      chArray(col("label_keys")),
      chArray(col("label_values")),
      formatFloat(col("value"))).as("line"))
}
