package graft.perfbench

import graft.operators.MaterializeOnce
import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark main: one workload, one seed, one JVM.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --cpus C
  *        --work DIR --data DIR --digests FILE --result FILE
  *        [--inject-faults] [--write-digests FILE]
  *
  * Set-up is done three times: a new session and a generic warm-up, then
  * for the ETL workload the stub servers and one iteration of a job that
  * each round resumes from its ledger, for the query workload the
  * persisted ANN index its list probes. The first round also pays the
  * JVM's class loading. The last session is kept for the timed phase,
  * which runs closed-loop with one client for S seconds. Every
  * operation's output is checked; the result is one JSON object written
  * to the result file.
  */
object Main {
  val SetupRounds = 3

  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, cpus: Int, work: File, data: String,
                        digests: String, result: String, injectFaults: Boolean,
                        writeDigests: Option[String])

  /** The scrape of the ETL workload: 2000 series over 50 metric names,
    * fetched in 300 s windows (the reference's default) at a 15 s step. */
  def scrape(seed: Long): Scrape = new Scrape(seed, 2000, 50, 15L)
  val WindowSeconds = 300L

  val workloads: Seq[String] = Seq("etl_tail", "query_session")

  private def parse(args: Array[String]): Opts = {
    val kv = mutable.Map[String, String]()
    var flags = Set.empty[String]
    var i = 0
    while (i < args.length) {
      val a = args(i).stripPrefix("--")
      if (a == "inject-faults") { flags += a; i += 1 }
      else { kv(a) = args(i + 1); i += 2 }
    }
    Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("cpus").toInt, new File(kv("work")),
      kv("data"), kv("digests"), kv("result"), flags("inject-faults"),
      kv.get("write-digests"))
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum

  def main(args: Array[String]): Unit = {
    val mainStart = System.nanoTime()
    val o = parse(args)
    require(workloads.contains(o.workload), s"unknown workload ${o.workload}")
    val etl = o.workload == "etl_tail"
    val tracer = new Tracer
    val failures = mutable.ArrayBuffer[String]()
    var attempted = 0

    // ---- set-up, several times; the last session is kept ----
    val setupSeconds = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (round <- 1 to SetupRounds) {
      val t0 = if (round == 1) mainStart else System.nanoTime()
      spark = Session.create(o.cpus, o.work, if (etl) None else Some(o.data))
      spark.range(1000000).selectExpr("sum(id)").collect()
      if (!etl) {
        // the persisted ANN index a deployment serves from: written by the
        // first round, found valid by the later ones
        graft.index.AnnIndex.ensure(spark, o.data)
      } else {
        // each round is one cron tick of the same job: a new session that
        // resumes from the ledger the previous rounds wrote
        val rig = new EtlRig(spark, new File(o.work, "setup"),
          scrape(o.seed), WindowSeconds, firstProgress(o.seed), tracer,
          windowsDone = round - 1)
        attempted += 1
        try rig.runOnce().failure.foreach(f => failures += s"set-up: $f")
        finally rig.stop()
      }
      setupSeconds += (System.nanoTime() - t0) / 1e9
      if (round < SetupRounds) Session.stop(spark)
    }

    val timed = new Timed(o, spark, tracer)
    if (o.trace) timed.listen()
    val out =
      if (etl) timed.etl()
      else timed.queries()
    attempted += out.attempted
    failures ++= out.failures

    // live heap at the end of the timed phase, before anything is released
    System.gc(); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      .getUsed / (1024.0 * 1024.0)

    val metrics: Seq[(String, Double, String)] =
      if (o.trace) out.layers
      else Seq(
        ("setup_s", Stats.median(setupSeconds.toSeq), "s"),
        ("op_p50_s", Stats.median(out.opSeconds), "s"),
        ("throughput_per_s", Stats.median(out.unitRates), "1/s"),
        ("heap_retained_mb", heapMb, "MB"))
    val (tail, tailPct) = Stats.tail(out.opSeconds)

    failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    val json = s"""{"correct":${failures.isEmpty},"attempted":$attempted,""" +
      s""""failed":${failures.size},"metrics":""" + metrics.map {
        case (n, v, u) => s"""${Json.str(n)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}"""
      }.mkString("{", ",", "}") + "}"
    val detail = s"""{"workload":${Json.str(o.workload)},"seed":${o.seed},""" +
      s""""cpus":${o.cpus},"trace":${o.trace},"setup_rounds_s":""" +
      setupSeconds.map(Json.num).mkString("[", ",", "]") +
      s""","op_samples":${out.opSeconds.size},"op_tail_s":${Json.num(tail)},""" +
      s""""op_tail_percentile":$tailPct,""" +
      s""""units":${out.unitRates.size},"failures":""" +
      failures.map(Json.str).mkString("[", ",", "]") +
      s""","result":$json,"detail":${out.detail},"spans":""" +
      (if (o.trace) tracer.toJson else "[]") + "}"
    Files.write(Paths.get(o.result + ".detail.json"), detail.getBytes(UTF_8))
    Files.write(Paths.get(o.result), json.getBytes(UTF_8))
    Session.stop(spark)
  }

  /** First window start of a seed's job: a whole number of steps. */
  def firstProgress(seed: Long): Long =
    1600000000L + java.lang.Math.floorMod(seed, 10000L) * 3600L
}

/** What a timed phase produced. `opSeconds` are per operation (an ETL
  * iteration or one query); `unitRates` are per unit of work (rows per
  * second of an iteration, or queries per second of a whole pass). */
final case class PhaseOut(attempted: Int, failures: Seq[String],
                          opSeconds: Seq[Double], unitRates: Seq[Double],
                          layers: Seq[(String, Double, String)], detail: String)

object Session {
  def create(cpus: Int, work: File, data: Option[String]): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // initial shuffle partitions sized from the input, floored at the
    // core count, and a scan-split floor of twice the cores: the
    // session settings of the repository's own timing harness
    val inputBytes = data.map(d => Option(new File(d).listFiles())
      .getOrElse(Array.empty[File]).filter(_.getName.endsWith(".parquet"))
      .map(_.length).sum).getOrElse(0L)
    val shuffle = math.max(cpus, (inputBytes * 4L / (64L << 20)).toInt)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", shuffle.toString)
      .config("spark.sql.files.minPartitionNum", (cpus * 2).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stop(s: SparkSession): Unit = {
    MaterializeOnce.releaseSession(s)
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest sample that has at least ten samples above it, with its
    * percentile; the median when fewer than 21 samples exist. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val n = xs.size
    if (n < 21) (median(xs), 50.0)
    else {
      val s = xs.sorted
      val r = n - 11
      (s(r), 100.0 * r / (n - 1))
    }
  }
}
