package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import scala.collection.mutable

/** One timed interval, in epoch microseconds so that spans taken by the
  * benchmark line up with Spark's listener events (epoch milliseconds).
  * `op` names the iteration or query the span belongs to. */
final case class Span(id: Int, name: String, start: Long, end: Long,
                      parent: Int, op: String) {
  def seconds: Double = (end - start) / 1e6
}

/** In-memory span store; written out once when the run ends. */
final class Tracer {
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer[Span]()

  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  def add(name: String, start: Long, end: Long, parent: Int,
          op: String): Int = synchronized {
    val id = spans.size + 1
    spans += Span(id, name, start, end, parent, op)
    id
  }

  def all: Seq[Span] = synchronized(spans.toList)

  def children(parent: Int): Seq[Span] = all.filter(_.parent == parent)

  /** Total length of the union of the intervals, in seconds. */
  def unionSeconds(xs: Seq[Span]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    xs.sortBy(_.start).foreach { s =>
      if (s.start > curE) {
        if (curE > curS) total += curE - curS
        curS = s.start; curE = s.end
      } else if (s.end > curE) curE = s.end
    }
    if (curE > curS) total += curE - curS
    total / 1e6
  }

  /** The part of `within` that the spans `xs` cover, in seconds. */
  def coveredSeconds(xs: Seq[Span], within: Span): Double = unionSeconds(xs
    .map(c => c.copy(start = math.max(c.start, within.start),
      end = math.min(c.end, within.end))).filter(c => c.end > c.start))

  /** A span's duration minus the part of it its children cover. */
  def selfSeconds(s: Span): Double = s.seconds - coveredSeconds(children(s.id), s)

  def toJson: String = all.map { s =>
    s"""{"id":${s.id},"name":${Json.str(s.name)},"start_us":${s.start},""" +
      s""""end_us":${s.end},"parent":${s.parent},"op":${Json.str(s.op)}}"""
  }.mkString("[", ",\n", "]")
}

/** Aggregated task metrics of one completed stage. */
final case class StageRec(stageId: Int, execId: Long, submitMs: Long,
                          doneMs: Long, tasks: Int, runMs: Long,
                          cpuNs: Long, scanBytes: Long, shuffleWrite: Long,
                          shuffleRead: Long, spill: Long)

/** One Spark SQL execution (one action): its interval, call site and
  * physical plan text, which is what layers are attributed by. */
final case class ExecRec(id: Long, startMs: Long, endMs: Long,
                         callSite: String, plan: String, jobs: Int)

/** Benchmark-registered listener: collects every completed stage with
  * its task metrics and every SQL execution with its plan, so per-layer
  * numbers come from Spark's own accounting of the timed work. */
final class StageListener extends SparkListener {
  private val stageExec = mutable.Map[Int, Long]()
  private val execJobs = mutable.Map[Long, Int]().withDefaultValue(0)
  private val execStart = mutable.Map[Long, SparkListenerSQLExecutionStart]()
  private val stagesDone = mutable.ArrayBuffer[StageRec]()
  private val execsDone = mutable.ArrayBuffer[ExecRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    execJobs(exec) += 1
    e.stageIds.foreach(id => if (!stageExec.contains(id)) stageExec(id) = exec)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stagesDone += StageRec(i.stageId,
        stageExec.getOrElse(i.stageId, -1L),
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
        i.numTasks, m.executorRunTime, m.executorCpuTime,
        m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead,
        m.diskBytesSpilled)
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized(execStart(s.executionId) = s)
    case d: SparkListenerSQLExecutionEnd => synchronized {
      execStart.remove(d.executionId).foreach { s =>
        execsDone += ExecRec(s.executionId, s.time, d.time,
          s.details, s.physicalPlanDescription, execJobs(s.executionId))
      }
    }
    case _ =>
  }

  /** Everything collected since the last call; the caller drains the
    * listener bus first. */
  def take(): (Seq[StageRec], Seq[ExecRec]) = synchronized {
    val out = (stagesDone.toList, execsDone.toList)
    stagesDone.clear(); execsDone.clear()
    out
  }
}

object Json {
  def str(s: String): String =
    "\"" + graft.logging.StructuredLogger.jsonEscape(s) + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
