package graft

import graft.sources.PrometheusJson

/** Spark twin of tools/refbench.py: parse the SAME query_range fixture
  * through PrometheusJson (from_json + explode + TSV rendering) and
  * report rows/sec, at local[1] (per-core comparison against the
  * single-threaded reference loop) and local[N] (the actual deployment
  * shape). Run refbench.py first — it writes the fixture.
  *
  * `sbt "runMain graft.IngestBench [fixturePath]"` — the session comes
  * from [[Harness]]; `SPARK_GRAFT_CPUS=1` gives the per-core run.
  */
object IngestBench {
  def main(args: Array[String]): Unit = {
    require(args.length <= 1, "usage: IngestBench [fixturePath] " +
      "(the core count is SPARK_GRAFT_CPUS, no longer an argument)")
    val fixture = args.headOption.getOrElse("/tmp/prom_ingest_bench.json")
    val spark = Harness.session("graft-ingest-bench")

    def run(): (Long, Double) = {
      val t0 = System.nanoTime()
      // same work as the reference loop: parse → drop skips → render TSV
      // lines → write to files
      val out = java.nio.file.Files
        .createTempDirectory("ingest_bench").toString + "/tsv"
      // one response document per line, like a drop directory of
      // query_range fetches — documents parallelize across tasks
      val parsed = PrometheusJson.parse(
        Tables.fanOut(spark.read.text(fixture)), "value")
      PrometheusJson.tsvLines(PrometheusJson.metricRows(parsed))
        .write.text(out)
      val rows = spark.read.text(out).count()
      (rows, (System.nanoTime() - t0) / 1e9)
    }
    run() // warmup (codegen + parquet/json paths)
    val (rows, sec) = run()
    println(s"""{"engine":"graft PrometheusJson ${spark.sparkContext.master}","rows":$rows,"sec":${math.round(sec * 1000) / 1000.0},"rows_per_sec":${math.round(rows / sec)}}""")
    spark.stop()
  }
}
