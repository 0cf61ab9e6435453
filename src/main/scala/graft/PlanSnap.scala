package graft

import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Writes `.explain("formatted")` of named queries to
  * `<outDir>/<query>_<suffix>.txt` — the r14 optimization-round
  * deliverable (plans/r14/<query>_before.txt / _after.txt). Unlike
  * PlanDump (which renders the audited-plan ledger PLANS.md), this
  * dumps EXACTLY the requested queries with no commentary so a judge
  * can diff before/after.
  *
  * Run: `sbt "runMain graft.PlanSnap <sfDir> <outDir> <suffix> q1 [q2 …]"`
  * (`all` as the single query name dumps every registered query).
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: PlanSnap <sfDir> <outDir> <suffix> <query…|all>")
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names =
      if (args(3) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args.drop(3).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    val spark = Harness.session("graft-plansnap", Some(sfDir))

    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        ExplainMode.fromString("formatted"))
      Files.write(Paths.get(outDir, s"${n}_$suffix.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[plansnap] wrote $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
