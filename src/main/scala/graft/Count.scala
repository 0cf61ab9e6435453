package graft

/** Diagnostic CLI: print the row count (and wall time) of named
  * registered queries at a fixture dir — the probe companion to Bench
  * when the question is "how BIG is this intermediate", not "how
  * long". Usage: runMain graft.Count <sfDir> <query> [query...] */
object Count {
  def main(args: Array[String]): Unit = {
    val dir = args.head
    val spark = Harness.session("graft-count", Some(dir))
    if (sys.env.contains("SPARK_GRAFT_STAGE_LOG"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
              : Unit = {
            val i = sc.stageInfo
            val ms = (for {a <- i.completionTime; b <- i.submissionTime}
              yield a - b).getOrElse(-1L)
            if (ms > 3000)
              System.err.println(s"[stage] id=${i.stageId} ms=$ms " +
                s"tasks=${i.numTasks} name=${i.name.take(80)} " +
                s"details=${i.details.linesIterator.take(3).mkString(" | ").take(200)}")
          }
        })
    args.tail.foreach { q =>
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(q)(spark, dir).count()
      println(s"[count] $q rows=$n sec=${(System.nanoTime() - t0) / 1e9}")
    }
    spark.stop()
  }
}
