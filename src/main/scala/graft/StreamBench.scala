package graft

import graft.sources.PrometheusJson
import graft.streaming.MetricsStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Streaming-state throughput benchmark — the Structured-Streaming
  * counterpart of [[IngestBench]] (which measures the stateless batch
  * parse). Generates a deterministic drop-directory of `query_range`
  * responses whose batch windows OVERLAP (each document re-delivers the
  * tail of the previous one — exactly the reference's
  * batch_window_overlap_seconds re-fetch, etl_job.py:357-393), then
  * drives four streaming paths over it with `maxFilesPerTrigger` forcing
  * many micro-batches, so per-batch planning plus REAL state-store
  * carryover (checkpoint + HDFSBackedStateStore) is inside the measured
  * time — the costs a single giant batch would hide:
  *
  *   ingest    parse → metric rows → TSV bulk files (stateless pipeline)
  *   dedup     + content-hash id + watermarked dropDuplicates — the R5/R9
  *             idempotency state store; the overlap duplicates MUST
  *             collapse (checked, loud failure if not)
  *   window    watermarked 5-min tumbling per-series aggregation
  *   session   watermarked session_window (gap) aggregation
  *
  * Prints ONE JSON line: total input rows/s per path (min-of-N like
  * Bench, SPARK_GRAFT_BENCH_RUNS), plus the duplicate fraction so the
  * dedup number is interpretable.
  *
  * `sbt "runMain graft.StreamBench [nSeries] [pointsPerDoc] [nDocs]"` —
  * the session comes from [[Harness]]; set `SPARK_GRAFT_CPUS` for the
  * core count.
  */
object StreamBench {

  /** One response document: `series` × `points` starting at point index
    * `firstPt` — value is a pure function of (series, point index) so a
    * re-delivered point is byte-identical and dedups. */
  private def responseDoc(nSeries: Int, firstPt: Int, nPts: Int): String = {
    val sb = new StringBuilder(1 << 20)
    sb.append("""{"status":"success","data":{"resultType":"matrix","result":[""")
    var s = 0
    while (s < nSeries) {
      if (s > 0) sb.append(',')
      sb.append(s"""{"metric":{"__name__":"metric_${s % 20}","job":"job${s % 7}","instance":"host$s"},"values":[""")
      var i = firstPt
      while (i < firstPt + nPts) {
        if (i > firstPt) sb.append(',')
        val ts = 1700000000L + i * 15L
        val v = (s * 31 + i * 7) % 100000
        sb.append(s"""[$ts,"${v / 1000}.${"%03d".format(v % 1000)}"]""")
        i += 1
      }
      sb.append("]}")
      s += 1
    }
    sb.append("]}}")
    sb.toString
  }

  /** Write `nDocs` response files; consecutive documents overlap by
    * `overlapPts` points per series (the reference's window overlap). */
  def writeFixture(dir: String, nSeries: Int, pointsPerDoc: Int,
                   nDocs: Int, overlapPts: Int): (Long, Long) = {
    val step = pointsPerDoc - overlapPts
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    for (d <- 0 until nDocs) {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, f"response_$d%04d.json"),
        (responseDoc(nSeries, d * step, pointsPerDoc) + "\n")
          .getBytes("UTF-8"))
    }
    val total = nDocs.toLong * nSeries * pointsPerDoc
    val unique = nSeries.toLong * (step.toLong * (nDocs - 1) + pointsPerDoc)
    (total, unique)
  }

  /** State-size SWEEP for the near-dup path (VERDICT_r07 item 3): the
    * r7 state-store verdict ("map beats RocksDB") rested on ONE point
    * (200k entries / 8 batches); this measures both providers across
    * growing bucket-state sizes so the crossover — if any — is a
    * recorded number, not an extrapolation. Fixture scaling is by
    * replica suffix (replicas share no shingles, so state grows
    * linearly and pair OUTPUT stays corpus-shaped). One JSON line:
    * docs/s per (entries, provider). Run via
    * `SPARK_GRAFT_STREAM_SWEEP=rep1,rep2,...` (replica counts).
    */
  private def stateSweep(spark: SparkSession, reps: Seq[Int]): Unit = {
    import org.apache.spark.sql.functions.{col, explode, expr, lit, pmod,
      sequence}
    def freshDir(tag: String): String =
      java.nio.file.Files.createTempDirectory(s"stream_sweep_$tag").toString
    val providers = Seq(
      "map" -> "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
      "rocksdb" -> "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val cells = for (rep <- reps) yield {
      val docsSrc = Tables.documents(spark, "/root/testdata/sf0.1")
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0), lit(rep - 1))).as("rep"))
        .select((col("doc_id") * rep + col("rep")).as("doc_id"),
          expr("array_join(transform(split(text, ' ')," +
            " w -> concat(w, '_', rep)), ' ')").as("text"))
      val docsDir = freshDir(s"in_$rep")
      (0 until 8).foreach { m =>
        docsSrc.filter(pmod(col("doc_id"), lit(8)) === m)
          .coalesce(1).write.mode("append").parquet(docsDir)
      }
      val n = docsSrc.count()
      val rates = providers.map { case (pname, pclass) =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", pclass)
        val stream = spark.readStream.schema(docsSrc.schema)
          .option("maxFilesPerTrigger", "1").parquet(docsDir)
        val t0 = System.nanoTime()
        val q = graft.streaming.DedupStream.candidatePairs(stream)
          .writeStream
          .option("checkpointLocation", freshDir(s"ckpt_${rep}_$pname"))
          .trigger(Trigger.AvailableNow())
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[graft.streaming.CandidatePair],
             _: Long) => batch.count(); () }
          .start()
        q.awaitTermination()
        val sec = (System.nanoTime() - t0) / 1e9
        pname -> math.round(n / sec)
      }
      // state entries = one (doc, band) row per indexed doc, 4 bands
      s""""${4 * n}":{${rates.map { case (p, r) => s""""$p":$r""" }.mkString(",")}}"""
    }
    println(s"""{"metric":"neardup_state_sweep","unit":"docs/s","by_entries":{${cells.mkString(",")}}}""")
  }

  def main(args: Array[String]): Unit = {
    require(args.length <= 3, "usage: StreamBench [nSeries] [pointsPerDoc] " +
      "[nDocs] (the core count is SPARK_GRAFT_CPUS, no longer an argument)")
    val nSeries = args.headOption.map(_.toInt).getOrElse(500)
    val pointsPerDoc = args.lift(1).map(_.toInt).getOrElse(120)
    val nDocs = args.lift(2).map(_.toInt).getOrElse(32)
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    val overlapPts = pointsPerDoc / 5 // 20% re-delivery, like a 60 s overlap on a 300 s window

    val spark = Harness.session("graft-stream-bench")

    sys.env.get("SPARK_GRAFT_STREAM_SWEEP") match {
      case Some(list) =>
        stateSweep(spark,
          list.split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq)
        spark.stop(); return
      case None =>
    }

    val base = java.nio.file.Files.createTempDirectory("stream_bench").toString
    val inDir = s"$base/responses"
    val (totalRows, uniqueRows) =
      writeFixture(inDir, nSeries, pointsPerDoc, nDocs, overlapPts)

    def freshDir(tag: String): String =
      java.nio.file.Files.createTempDirectory(s"stream_bench_$tag").toString

    /** Run one streaming path to completion; return (seconds, rows out). */
    def timeQuery(transform: DataFrame => DataFrame,
                  sink: String): (Double, Long) = {
      val out = spark.sparkContext.longAccumulator
      val src = spark.readStream
        .option("maxFilesPerTrigger", 4) // 8 micro-batches of 32 docs — state carryover is real
        .text(inDir)
      val t0 = System.nanoTime()
      val q = transform(PrometheusJson.parse(src, "value"))
        .writeStream
        .option("checkpointLocation", freshDir("ckpt"))
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (sink == "tsv")
            graft.sinks.TsvSink.write(batch, freshDir("tsv"))
          else out.add(batch.count())
        }
        .start()
      q.awaitTermination()
      ((System.nanoTime() - t0) / 1e9, out.value)
    }

    val paths: Seq[(String, DataFrame => DataFrame, String)] = Seq(
      ("ingest", df => PrometheusJson.metricRows(df), "tsv"),
      ("dedup", df => MetricsStream.dedupedMetrics(
        PrometheusJson.metricRows(df)), "count"),
      ("window", df => MetricsStream.windowedAgg(
        PrometheusJson.metricRows(df)), "count"),
      ("session", df => MetricsStream.sessionAgg(
        PrometheusJson.metricRows(df)), "count"),
      // the streaming-analytics path (r8): PromQL rate() over the
      // parsed stream — fMGWS buffer state per (series, window),
      // emission on watermark close; series key = the label signature,
      // event_id 0 (the fixture has no same-µs samples per series, so
      // the tiebreak never fires)
      ("rate", df => {
        import org.apache.spark.sql.functions.{array_join, col, concat_ws,
          lit, timestamp_micros}
        val m = PrometheusJson.metricRows(df)
        MetricsStream.streamingRate(m.select(col("name"),
          concat_ws("", array_join(col("label_keys"), ","),
            array_join(col("label_values"), ",")).as("series"),
          timestamp_micros(col("ts_us")).as("ts"),
          lit(0L).as("event_id"), col("value"))).toDF()
      }, "count"))

    // warmup: compile the parse + render codegen once, off the clock
    PrometheusJson.tsvLines(PrometheusJson.metricRows(
      PrometheusJson.parse(spark.read.text(inDir), "value"))).count()

    val results = paths.map { case (name, transform, sink) =>
      val timed = (1 to runs).map(_ => timeQuery(transform, sink))
      val best = timed.minBy(_._1)
      // the dedup state store must collapse exactly the overlap rows —
      // a wrong count means the bench is measuring broken semantics
      if (name == "dedup" && timed.exists(_._2 != uniqueRows))
        sys.error(s"dedup emitted ${timed.map(_._2)} rows, expected $uniqueRows")
      name -> best._1
    }

    // streaming NEAR-DUP path (DedupStream): the corpus streams in as
    // 8 parquet micro-batches; every doc is signature-hashed in-row and
    // checked against the keyed LSH bucket state. Measured separately —
    // its input is documents, not metric responses.
    // 10 replicas of the sf0.1 corpus = 50k docs; every token carries
    // its replica suffix so replicas share NO shingles (the fixture
    // must scale compute, not plant 10x-sized duplicate buckets whose
    // quadratic pair OUTPUT would swamp the throughput signal)
    import org.apache.spark.sql.functions.{col, concat_ws, explode,
      expr, lit, pmod, sequence}
    val docsSrc = Tables.documents(spark, "/root/testdata/sf0.1")
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0), lit(9))).as("rep"))
      .select((col("doc_id") * 10 + col("rep")).as("doc_id"),
        expr("array_join(transform(split(text, ' ')," +
          " w -> concat(w, '_', rep)), ' ')").as("text"))
    val docsDir = freshDir("neardup_in")
    (0 until 8).foreach { m =>
      docsSrc.filter(pmod(col("doc_id"), lit(8)) === m)
        .coalesce(1).write.mode("append").parquet(docsDir)
    }
    val nDocsCorpus = docsSrc.count()
    // State-store choice, MEASURED: the default HDFSBacked map store
    // gave 2.4k docs/s on this fixture vs 1.7k with RocksDB — at 200k
    // tiny entries over 8 batches the map rewrite is cheaper than
    // RocksDB's native overhead; RocksDB is the production pick only
    // once bucket state far outgrows per-batch churn. Default kept.
    def timeNearDup(): Double = {
      val stream = spark.readStream.schema(docsSrc.schema)
        .option("maxFilesPerTrigger", "1").parquet(docsDir)
      val t0 = System.nanoTime()
      val q = graft.streaming.DedupStream.candidatePairs(stream)
        .writeStream
        .option("checkpointLocation", freshDir("neardup_ckpt"))
        .trigger(Trigger.AvailableNow())
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[graft.streaming.CandidatePair],
           _: Long) => batch.count(); () }
        .start()
      q.awaitTermination()
      (System.nanoTime() - t0) / 1e9
    }
    val nearDupSec = (1 to runs).map(_ => timeNearDup()).min
    val nearDupRate = math.round(nDocsCorpus / nearDupSec)

    val perPath = results
      .map { case (n, sec) =>
        s""""$n":${math.round(totalRows / sec)}"""
      }
      .mkString(",")
    println(s"""{"metric":"stream_ingest_rows_per_sec","value":${math.round(totalRows / results.head._2)},"unit":"rows/s","paths":{$perPath},"neardup_docs_per_sec":$nearDupRate,"neardup_corpus_docs":$nDocsCorpus,"rows":$totalRows,"unique_rows":$uniqueRows,"docs":$nDocs,"micro_batches":${(nDocs + 3) / 4},"cpus":"${Harness.cpus}"}""")
    spark.stop()
  }
}
