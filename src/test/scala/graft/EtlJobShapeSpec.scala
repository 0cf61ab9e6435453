package graft

import graft.logging.StructuredLogger
import graft.streaming._
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.catalyst.trees.TreeNode
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

import java.io.{ByteArrayOutputStream, PrintStream}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The Spark job shape of one ETL iteration, pinned: no Spark execution
  * touches the ledger (it is read and appended on the driver), an
  * iteration adds exactly two ledger files (mark-start, mark-end; a
  * takeover's abort closes share the mark-start file), and each response
  * document is JSON-decoded once however many actions consume it. A
  * regression that moves the ledger back into Spark, splits an append or
  * re-parses the drop-dir fails here, not only in a benchmark. */
class EtlJobShapeSpec extends SparkSpec {

  private val conf = EtlConfig(
    batchWindowSeconds = 100,
    batchWindowOverlapSeconds = 10,
    minWindowStartTimestamp = 0)

  private def quietLogger = new StructuredLogger("test", "CRITICAL",
    new PrintStream(new ByteArrayOutputStream()),
    new PrintStream(new ByteArrayOutputStream()))

  /** Every plan node reachable from `p`, descending into AQE stages and
    * the cached plans of in-memory relations. */
  private def nodes(p: TreeNode[_]): Seq[TreeNode[_]] = {
    val stages = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => Nil
    }
    p +: (p.children ++ p.innerChildren ++ stages).flatMap {
      case t: TreeNode[_] => nodes(t)
      case _ => Nil
    }
  }

  private def under(path: org.apache.hadoop.fs.Path, dir: String) =
    path.toUri.getPath.stripSuffix("/") == dir

  private def ledgerFiles(dir: String): Int =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .count(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))

  test("one runOnce: no ledger Spark jobs, two ledger files, one JSON decode") {
    val inDir = tmpDir("shape_in")
    val outDir = tmpDir("shape_out") + "/tsv"
    val ledgerDir = tmpDir("shape_ledger") + "/ledger"
    val values = Seq(1005L, 1050L, 1095L).map(t => s"""[$t,"1.5"]""")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(inDir, "r.json"),
      """{"status":"success","data":{"resultType":"matrix","result":[""" +
        """{"metric":{"__name__":"up","job":"a"},"values":[""" +
        values.mkString(",") + "]}]}}")
    // an earlier iteration, so the measured one has a ledger to scan
    EtlJob.runOnce(spark, conf, "job", inDir, outDir, ledgerDir,
      initialProgress = 1000, now = 2000, logger = quietLogger)

    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen.add(qe)
    }
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    val files0 = ledgerFiles(ledgerDir)
    val r = try {
      val r = EtlJob.runOnce(spark, conf, "job", inDir, outDir, ledgerDir,
        initialProgress = -1, now = 2000, logger = quietLogger)
      ListenerBusDrain(spark.sparkContext)
      r
    } finally spark.listenerManager.unregister(listener)
    assert(r.timestampStart == 1080 && r.batchRows.contains(1L))
    assert(ledgerFiles(ledgerDir) - files0 == 2, "ledger files added")

    val execs = seen.asScala.toSeq
    val plans = execs.map(qe => nodes(qe.executedPlan))
    def scans(dir: String)(ns: Seq[TreeNode[_]]) = ns.exists {
      case s: FileSourceScanExec => s.relation.location.rootPaths.exists(under(_, dir))
      case _ => false
    }
    assert(plans.count(scans(ledgerDir)) == 0, "ledger scans")
    val appends = execs.count(qe => nodes(qe.logical).exists {
      case w: InsertIntoHadoopFsRelationCommand => under(w.outputPath, ledgerDir)
      case _ => false
    })
    assert(appends == 0, "ledger appends")

    // distinct plan nodes over the drop dir: the cached decode is one
    // instance however many actions read it
    val dropNodes = plans.filter(scans(inDir)).flatten
      .collect { case p: SparkPlan => p }
    val distinct = dropNodes.foldLeft(List.empty[SparkPlan]) { (acc, p) =>
      if (acc.exists(_ eq p)) acc else p :: acc
    }
    val decodes = distinct.flatMap(_.expressions)
      .map(_.collect { case j: JsonToStructs => j }.size).sum
    assert(decodes == 1, "JsonToStructs over the drop-dir scan")
  }

  test("a force takeover adds two ledger files: aborts + open, then closed") {
    val inDir = tmpDir("shape_takeover_in")
    val outDir = tmpDir("shape_takeover_out") + "/tsv"
    val ledgerDir = tmpDir("shape_takeover_ledger") + "/ledger"
    // a crashed run of the same job: its open record is never closed
    assert(EtlJob.tryMarkStart(conf, "job", ledgerDir, initialProgress = 1000,
      now = 2000, quietLogger).isDefined)
    val files0 = ledgerFiles(ledgerDir)
    val r = EtlJob.runOnce(spark, conf, "job", inDir, outDir, ledgerDir,
      initialProgress = 1000, now = 2000, force = true, logger = quietLogger)
    assert(r.timestampProgress.contains(1090L))
    assert(ledgerFiles(ledgerDir) - files0 == 2, "ledger files added")
    // the abort close, the new open record and the closed record
    assert(EtlJob.readLedger(ledgerDir).size == 4)
    assert(!EtlJob.hasRunningJob(ledgerDir))
  }
}
