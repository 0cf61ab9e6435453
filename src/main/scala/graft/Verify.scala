package graft
import graft.logging.StructuredLogger.jsonString
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver contract: 2 args. Extra args = local dev filter (only run
    // the named queries; oracle_sql.json still contains every entry).
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val spark = Harness.session("graft-verify", Some(sfDir))
    new java.io.File(outDir).mkdirs()
    // same steady-state protocol as Bench: periodically release the
    // materialize-once frames so a 200+-query dump doesn't accumulate
    // checkpoint blocks in one JVM (frames rebuild on next demand;
    // correctness is unaffected — each query's rows are written before
    // any release that could touch its inputs)
    val releaseEvery =
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_RELEASE_EVERY", "64").toInt
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .zipWithIndex
      .foreach { case ((name, fn), i) =>
      if (releaseEvery > 0 && i > 0 && i % releaseEvery == 0)
        graft.operators.MaterializeOnce.releaseSession(spark)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // a tab or CR in query SQL must be escaped, or the oracle's
    // json.load fails and silently zeroes the correctness check
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
