package graft.perfbench

import graft.operators.MaterializeOnce
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.Internals
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import java.io.File
import scala.collection.mutable

/** The timed phase of one run, and, when traced, its per-layer numbers.
  * Per-layer times and counts are per iteration on the ETL workload and
  * per measured pass over the list on the query workload. */
final class Timed(o: Main.Opts, spark: SparkSession, tracer: Tracer) {
  private var listener: Option[StageListener] = None

  /** Registers the stage listener (traced runs only). */
  def listen(): Unit = {
    val l = new StageListener
    spark.sparkContext.addSparkListener(l)
    listener = Some(l)
  }

  private def elapsed(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Counters read before and after the timed phase. */
  private final case class Counters(gcMs: Long, compileNs: Long, classes: Long)
  private def counters() = Counters(Main.gcMs(), CodeGenerator.compileTime,
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  private def drained(): (Seq[StageRec], Seq[ExecRec]) = listener match {
    case Some(l) => Internals.drain(spark.sparkContext); l.take()
    case None => (Nil, Nil)
  }

  /** Spark-wide, codegen and GC numbers of the timed phase, per unit. */
  private def common(stages: Seq[StageRec], c0: Counters, c1: Counters,
                     units: Int, busySeconds: Double): Seq[(String, Double, String)] = {
    val u = math.max(units, 1).toDouble
    def sum(f: StageRec => Long) = stages.map(f).sum.toDouble
    Seq(
      ("spark.stages", stages.size / u, "count"),
      ("spark.tasks", sum(_.tasks) / u, "count"),
      ("spark.scan_bytes", sum(_.scanBytes) / u, "bytes"),
      ("spark.shuffle_write_bytes", sum(_.shuffleWrite) / u, "bytes"),
      ("spark.shuffle_read_bytes", sum(_.shuffleRead) / u, "bytes"),
      ("spark.spill_bytes", sum(_.spill) / u, "bytes"),
      ("spark.exec_run_s", sum(_.runMs) / 1e3 / u, "s"),
      ("spark.exec_cpu_s", sum(_.cpuNs) / 1e9 / u, "s"),
      ("spark.utilization", sum(_.runMs) / 1e3 / (busySeconds * o.cpus), "ratio"),
      ("codegen.compile_s", (c1.compileNs - c0.compileNs) / 1e9 / u, "s"),
      ("codegen.classes", (c1.classes - c0.classes) / u, "count"),
      ("jvm.gc_ms", (c1.gcMs - c0.gcMs) / u, "ms"))
  }

  private val etlLayers = Seq("PrometheusHttpClient.fetch_s",
    "PrometheusHttpClient.bytes", "EtlJob.ledger_s", "EtlJob.ledger_files",
    "EtlJob.spark_jobs", "PrometheusJson.parse_s", "PrometheusJson.rows",
    "PrometheusJson.skipped", "PrometheusJson.parallelism", "TsvSink.render_s",
    "TsvSink.bytes", "TsvSink.part_files", "ClickHouseHttpClient.load_s",
    "ClickHouseHttpClient.posts")
  private val queryLayers = Seq("MaterializeOnce.build_s",
    "MaterializeOnce.builds", "MaterializeOnce.repeat_builds", "consumer_s") ++
    QueryLists.modules.map(_ + ".s")

  private def unitOf(name: String): String =
    if (name.endsWith("_s") || name.endsWith(".s")) "s"
    else if (name.endsWith("bytes")) "bytes"
    else if (name.endsWith("parallelism")) "ratio"
    else "count"

  /** Every per-layer metric, in a fixed order; layers idle on this
    * workload read 0. */
  private def layerSet(own: Map[String, Double],
                       rest: Seq[(String, Double, String)]): Seq[(String, Double, String)] =
    (etlLayers ++ queryLayers).map(n => (n, own.getOrElse(n, 0.0), unitOf(n))) ++ rest

  // ------------------------------------------------------------------ ETL

  /** Layer of one Spark SQL execution of an ETL iteration, by what it
    * touches: the TSV sink's write (its call site), the ledger directory,
    * or the drop directory the responses are parsed from. */
  private def etlLayer(e: ExecRec, rig: EtlRig): String =
    if (e.callSite.contains("graft.sinks.TsvSink")) "TsvSink.render"
    else if (e.plan.contains(rig.ledgerDir)) "EtlJob.ledger"
    else if (e.plan.contains(rig.dropDir)) "PrometheusJson.parse"
    else "spark.other"

  def etl(): PhaseOut = {
    val rig = new EtlRig(spark, new File(o.work, "etl"), Main.scrape(o.seed),
      Main.WindowSeconds, Main.firstProgress(o.seed) + 86400L, tracer)
    val iters = mutable.ArrayBuffer[Iteration]()
    drained()
    val c0 = counters()
    val t0 = System.nanoTime()
    try {
      while (iters.isEmpty || elapsed(t0) < o.seconds) {
        val k = iters.size
        if (o.injectFaults && k == 0) rig.ch.dropLine = true
        iters += rig.runOnce(corruptExpected = o.injectFaults && k == 1)
      }
    } finally rig.stop()
    val (stages, execs) = drained()
    val n = iters.size
    val walls = iters.map(_.seconds).toSeq
    val rates = iters.map(i => i.rows / i.seconds).toSeq

    val layers = if (!o.trace) Nil else {
      val per = mutable.Map[String, Double]().withDefaultValue(0.0)
      var unattributed = 0.0
      val execLayer = execs.map(e => e -> etlLayer(e, rig)).toMap
      iters.zipWithIndex.foreach { case (it, k) =>
        val op = s"iteration$k"
        val id = tracer.add("EtlPipeline.runOnce", it.span._1, it.span._2, 0, op)
        it.fetch.foreach { case (s, e, _) =>
          tracer.add("PrometheusHttpClient.fetch", s, e, id, op) }
        it.posts.foreach { case (s, e, _) =>
          tracer.add("ClickHouseHttpClient.load", s, e, id, op) }
        execs.filter(e => e.startMs * 1000 >= it.span._1 - 2000 &&
            e.startMs * 1000 <= it.span._2)
          .foreach(e => tracer.add(execLayer(e), e.startMs * 1000,
            e.endMs * 1000, id, op))
        val kids = tracer.children(id)
        def layerSeconds(name: String) =
          tracer.unionSeconds(kids.filter(_.name == name))
        per("PrometheusHttpClient.fetch_s") += layerSeconds("PrometheusHttpClient.fetch")
        per("ClickHouseHttpClient.load_s") += layerSeconds("ClickHouseHttpClient.load")
        per("EtlJob.ledger_s") += layerSeconds("EtlJob.ledger")
        per("PrometheusJson.parse_s") += layerSeconds("PrometheusJson.parse")
        per("TsvSink.render_s") += layerSeconds("TsvSink.render")
        val self = tracer.all.find(_.id == id).get
        unattributed += self.seconds -
          tracer.coveredSeconds(kids.filter(_.name != "spark.other"), self)
      }
      val parseExecs = execs.filter(e => execLayer(e) == "PrometheusJson.parse")
        .map(_.id).toSet
      val parseStages = stages.filter(s => parseExecs(s.execId))
      val parseStageWall = parseStages.map(s => (s.doneMs - s.submitMs).toDouble).sum
      val own = per.toMap.map { case (k, v) => k -> v / n } ++ Map(
        "PrometheusHttpClient.bytes" ->
          iters.flatMap(_.fetch.map(_._3)).sum.toDouble / n,
        "ClickHouseHttpClient.posts" -> iters.map(_.posts.size).sum.toDouble / n,
        "EtlJob.ledger_files" -> rig.ledgerFiles.toDouble,
        "EtlJob.spark_jobs" -> execs.filter(e => execLayer(e) == "EtlJob.ledger")
          .map(_.jobs).sum.toDouble / n,
        "PrometheusJson.rows" -> iters.map(_.parsed).sum.toDouble / n,
        "PrometheusJson.skipped" -> iters.map(_.skipped).sum.toDouble / n,
        "PrometheusJson.parallelism" -> (if (parseStageWall <= 0) 0.0 else
          parseStages.map(_.runMs).sum / (parseStageWall * o.cpus)),
        "TsvSink.bytes" -> iters.map(_.tsvBytes).sum.toDouble / n,
        "TsvSink.part_files" -> iters.map(_.tsvParts).sum.toDouble / n)
      layerSet(own, common(stages, c0, counters(), n, walls.sum) ++ Seq(
        ("trace.wall_s", walls.sum / n, "s"),
        ("trace.op_p50_s", Stats.median(walls), "s"),
        ("trace.unattributed_s", unattributed / n, "s")))
    }
    val detail = iters.map(i =>
      s"""{"s":${Json.num(i.seconds)},"rows":${i.rows},"tsv_bytes":${i.tsvBytes}}""")
      .mkString("[", ",", "]")
    val failures = iters.zipWithIndex.flatMap { case (it, k) =>
      it.failure.map(f => s"iteration $k: $f") }.toSeq
    PhaseOut(n, failures, walls, rates, layers, detail)
  }

  // -------------------------------------------------------------- queries

  private val list = QueryLists.session
  private val module = list.toMap
  private val writing = o.writeDigests.isDefined
  private val written = mutable.Map[String, QueryDigest]()
  private lazy val expected: Map[String, QueryDigest] = {
    val want = QueryDigest.load(o.digests)
    // self-check: one expected digest is falsified
    if (!o.injectFaults) want
    else want.map {
      case (q, d) if q == list.head._1 => q -> d.copy(hash = ~d.hash)
      case kv => kv
    }
  }

  /** One query execution: pass, query, wall seconds, span, frame builds. */
  private final case class QExec(pass: Int, name: String, seconds: Double,
                         span: (Long, Long), builds: Seq[MaterializeOnce.BuildEvent])

  /** One pass over the list, in list order, as a new analysis session
    * meets it: every materialize-once frame of the session is released and
    * Spark's generated-code cache is emptied first, so each pass builds the
    * frames it needs and pays each query's first-execution code
    * generation. The order is fixed because it decides which query builds
    * a shared frame and which pays the first touch of an operator's
    * classes. Every output is checked against its committed digest;
    * mismatches go to `failures`. Returns the pass's wall seconds, span
    * and executions. */
  private def queryPass(p: Int, failures: mutable.Buffer[String])
      : (Double, (Long, Long), Seq[QExec]) = {
    MaterializeOnce.releaseSession(spark)
    Internals.clearCodegenCache()
    val execs = mutable.ArrayBuffer[QExec]()
    val ps = tracer.nowUs
    val pt = System.nanoTime()
    list.foreach { case (q, _) =>
      val b0 = MaterializeOnce.buildLogSize
      val qs = tracer.nowUs
      val qt = System.nanoTime()
      val r = try Right(QueryRun.run(spark, o.data, q))
              catch { case e: Exception => Left(e.toString) }
      val sec = (System.nanoTime() - qt) / 1e9
      execs += QExec(p, q, sec, (qs, tracer.nowUs),
        MaterializeOnce.buildLogSnapshot.drop(b0))
      r match {
        case Left(e) => failures += s"pass $p $q: $e"
        case Right(d) if writing => written(q) = d
        case Right(d) => expected.get(q) match {
          case Some(want) if want == d =>
          case Some(want) =>
            failures += s"pass $p $q: digest ${d.render} != expected ${want.render}"
          case None => failures += s"pass $p $q: no expected digest"
        }
      }
    }
    ((System.nanoTime() - pt) / 1e9, (ps, tracer.nowUs), execs.toSeq)
  }

  /** `WarmPasses` warm-up passes, then passes over the list until the
    * time is up, at least `MeasuredPasses` of them. A warm-up pass is the
    * first touch of every operator's classes and the JIT's first
    * compilations, whose time varies widely from run to run; it is
    * checked but not measured. The metrics describe the later passes,
    * each a fresh analysis session in a warm JVM: per-query times pooled
    * over them, and the queries per second of each pass. Per-layer numbers
    * are per measured pass. */
  def queries(): PhaseOut = {
    val execs = mutable.ArrayBuffer[QExec]()
    val passes = mutable.ArrayBuffer[(Double, (Long, Long))]()
    val failures = mutable.ArrayBuffer[String]()
    val t0 = System.nanoTime()
    // warm-up passes are numbered 0 and below in the detail file
    (1 - Timed.WarmPasses to 0).foreach(w => execs ++= queryPass(w, failures)._3)
    drained()
    val c0 = counters()
    while (passes.size < Timed.MeasuredPasses || elapsed(t0) < o.seconds) {
      val (sec, span, es) = queryPass(passes.size + 1, failures)
      passes += ((sec, span))
      execs ++= es
    }
    val c1 = counters()
    o.writeDigests.foreach(QueryDigest.save(_, written.toSeq))
    val (stages, _) = drained()
    val n = passes.size
    val walls = passes.map(_._1).toSeq
    val measured = execs.filter(_.pass > 0).toSeq

    val layers = if (!o.trace) Nil else {
      val per = mutable.Map[String, Double]().withDefaultValue(0.0)
      var unattributed = 0.0
      passes.zipWithIndex.foreach { case ((_, (ps, pe)), k) =>
        val p = k + 1
        val pid = tracer.add("pass", ps, pe, 0, s"pass$p")
        val seen = mutable.Set[(String, String)]()
        measured.filter(_.pass == p).foreach { e =>
          val qid = tracer.add(module(e.name), e.span._1, e.span._2, pid, e.name)
          // a build's position inside its query is not recorded, only its
          // length: it is placed from the query's start
          var at = e.span._1
          e.builds.foreach { b =>
            val len = (b.seconds * 1e6).toLong
            tracer.add("MaterializeOnce.build:" + b.tag, at,
              math.min(at + len, e.span._2), qid, e.name)
            at += len
            per("MaterializeOnce.build_s") += b.seconds
            per("MaterializeOnce.builds") += 1
            if (!seen.add((b.tag, b.dir))) per("MaterializeOnce.repeat_builds") += 1
          }
          per(module(e.name) + ".s") +=
            tracer.selfSeconds(tracer.all.find(_.id == qid).get)
        }
        unattributed += tracer.selfSeconds(tracer.all.find(_.id == pid).get)
      }
      val own = per.toMap.map { case (k, v) => k -> v / n } +
        ("consumer_s" -> (walls.sum - per("MaterializeOnce.build_s")) / n)
      val first = passes.head._2._1
      val timedStages = stages.filter(s => s.submitMs * 1000 >= first)
      layerSet(own, common(timedStages, c0, c1, n, walls.sum) ++ Seq(
        ("trace.wall_s", walls.sum / n, "s"),
        ("trace.op_p50_s", Stats.median(measured.map(_.seconds)), "s"),
        ("trace.unattributed_s", unattributed / n, "s")))
    }
    val detail = execs.map(e =>
      s"""{"pass":${e.pass},"query":${Json.str(e.name)},"s":${Json.num(e.seconds)},""" +
        s""""builds":${e.builds.map(b => s"""{"tag":${Json.str(b.tag)},"s":${Json.num(b.seconds)}}""").mkString("[", ",", "]")}}""")
      .mkString("[", ",\n", "]")
    PhaseOut(execs.size, failures.toSeq, measured.map(_.seconds),
      walls.map(list.size / _), layers, detail)
  }
}

object Timed {
  /** Unmeasured passes that start the query workload's timed phase. */
  val WarmPasses = 1
  /** Fewest passes the query workload measures after them. */
  val MeasuredPasses = 3
}
