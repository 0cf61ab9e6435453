package graft
import graft.logging.StructuredLogger.jsonString
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. Hygiene: a warmup pass exercises session init,
  * parquet read and codegen before anything is timed (otherwise the first
  * query absorbs ~5 s of JVM/session warmup and per-query numbers are
  * meaningless); queries run in sorted name order so runs are comparable;
  * each query first gets ONE DISCARDED warmup execution (r6 showed the
  * max/min spread metric mostly measured first-run Janino/JIT compile —
  * the discarded run absorbs it, so spread now measures steady-state),
  * then is timed SPARK_GRAFT_BENCH_RUNS times (default 2) and the
  * MINIMUM reported; a failing query is reported loudly as value −1 plus
  * an `errors` list and stderr trace — never as a fake timing.
  *
  * Besides the one-line stdout JSON (the driver's contract), the full
  * result — every run's timing per query (warmup included, separately),
  * min, and spread — is written to `SPARK_GRAFT_BENCH_OUT` (default
  * `bench_local.json` in the CWD), because the driver's artifact
  * truncates long stdout and round 4 lost half the per-query data to
  * that.
  *
  * A/B adjudication mode (VERDICT_r06 item 7): when
  * `SPARK_GRAFT_BENCH_AB=q1,q2[,…]` is set, instead of the full suite
  * the named queries run INTERLEAVED round-robin (A,B,A,B,…) for
  * `SPARK_GRAFT_BENCH_AB_ROUNDS` rounds (default 5) within one JVM —
  * the protocol that separates environmental spikes (both queries move
  * together) from plan cost (one query is consistently slow), needed in
  * rounds 2 and 6 to settle driver-vs-builder timing splits.
  */
object Bench {

  /** Cumulative JVM GC time (ms) across all collectors — the delta
    * around an execution attributes environmental inflation to GC by
    * READING the artifact instead of re-running (VERDICT_r12 item 7:
    * the phantom-slow class cost investigation time in r5/r8/r10/r11/
    * r12). */
  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  private def heapPools = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
  }

  /** Reset the per-pool peak-usage counters (called before a query's
    * measured runs) and read the summed high-water afterwards. Pool
    * peaks are not simultaneous, so the sum is a slight upper bound —
    * fine for the "was this query under heap pressure" adjudication. */
  private def resetHeapPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())
  private def heapPeakMb(): Long =
    heapPools.map(_.getPeakUsage.getUsed).sum / (1024 * 1024)

  /** Time one execution; −1 marks failure (logged, never a fake timing).
    * Returns (wall seconds, materialize-once frame-build seconds that
    * landed INSIDE this execution, GC ms that landed inside it) — the
    * frame term is the cost-attribution device (VERDICT_r09 item 3): a
    * shared frame's build belongs to the frame, not to whichever query
    * happened to demand it first, so reported per-query numbers are
    * steady-state (wall − frame) and the frame builds get their own
    * artifact section. */
  private def timeOne(spark: SparkSession, sfDir: String, name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
      : (Double, Double, Long) = {
    val f0 = graft.operators.MaterializeOnce.buildLogSize
    val g0 = gcMs()
    val t0 = System.nanoTime()
    try {
      fn(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      val frameSec = graft.operators.MaterializeOnce.buildLogSnapshot
        .drop(f0).map(_.seconds).sum
      (sec, frameSec, gcMs() - g0)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] $name FAILED: $e"); (-1.0, 0.0, 0L)
    }
  }

  private def writeArtifact(full: String): Unit = {
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_local.json")
    // best-effort: the stdout line is the driver's contract; an
    // unwritable CWD must not turn a successful bench into exit != 0
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[bench] full artifact written to $out")
    } catch {
      case e: Exception =>
        System.err.println(s"[bench] could not write $out: $e")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt.max(1)
    val spark = Harness.session("graft-bench", Some(sfDir))

    // Warmup: generic shuffle+codegen, then the flagship entry (parquet
    // scan path) on the smallest SF so no measured bytes are pre-cached.
    spark.range(1000000).selectExpr("sum(id)").collect()
    SparkEntry.entry(spark).count()

    sys.env.get("SPARK_GRAFT_BENCH_AB") match {
      case Some(list) => runAb(spark, sfDir, list); return
      case None =>
    }

    // optional args = query names, for targeted re-measurement; the
    // driver passes none and gets the full set
    val selected0 =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(args.toSet).toMap
    // PRE-FLIGHT (VERDICT_r08 item 4): if the suite includes any
    // exact-join-family query, consult the saturation estimator ONCE
    // (one shingle pass) and ROUTE the family to the LSH path when the
    // space has saturated — recorded as `routed`, never as error rows.
    // At healthy SFs the decision is "exact" and nothing changes;
    // SPARK_GRAFT_BENCH_MAX_JOIN_ROWS overrides the budget (0 forces
    // the route, for harness tests).
    val exactFamily = selected0.keySet.intersect(
      graft.operators.Dedup.ExactJoinFamily)
    val routed: Set[String] =
      if (exactFamily.isEmpty) Set.empty
      else {
        val budget = sys.env.get("SPARK_GRAFT_BENCH_MAX_JOIN_ROWS")
          .map(_.toLong)
          .getOrElse(graft.operators.Dedup.PreflightMaxJoinRows)
        val pf = graft.operators.Dedup.preflight(spark, sfDir, budget)
        System.err.println(s"[bench] preflight: join_rows=${pf.joinRows} " +
          s"distinct_ppm=${pf.distinctPpm} dropped_ppm=${pf.droppedPpm} " +
          s"budget=$budget route_to_lsh=${pf.routeToLsh}")
        if (pf.routeToLsh) exactFamily else Set.empty
      }
    val routedJson = routed.toSeq.sorted
      .map(jsonString).mkString("[", ",", "]")
    val selected = selected0.view.filterKeys(!routed.contains(_)).toMap
    // Steady-state protocol (VERDICT_r07 item 1): periodically RELEASE
    // the materialize-once frames so a 200+-query run measures per-query
    // cost, not accumulated checkpoint-block heap pressure (r7's closing
    // artifact inflated tail queries 3-5x vs isolated A/B). The release
    // lands immediately BEFORE a query's discarded warmup run, so any
    // shared-frame rebuild it forces is absorbed by the warmup, never a
    // measured run. 0 disables.
    val releaseEvery =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RELEASE_EVERY", "32").toInt
    val allRuns = selected.toSeq.sortBy(_._1).zipWithIndex.map { case ((name, fn), i) =>
      if (releaseEvery > 0 && i > 0 && i % releaseEvery == 0) {
        val n = graft.operators.MaterializeOnce.releaseSession(spark)
        if (n > 0)
          System.err.println(s"[bench] released $n materialized frames before query #$i ($name)")
      }
      // discarded warmup run first (absorbs Janino/JIT compile and
      // USUALLY any shared-frame rebuild after a release), then the
      // measured runs — min and spread use measured runs only, and any
      // frame build that still lands inside a measured run (heap
      // pressure evicting blocks, mid-block release boundaries) is
      // attributed to the frame, never the query
      val (warmup, _, _) = timeOne(spark, sfDir, name, fn)
      resetHeapPeaks()
      val timed =
        if (warmup < 0) Seq.fill(runs)((-1.0, 0.0, 0L))
        else (1 to runs).map(_ => timeOne(spark, sfDir, name, fn))
      (name, warmup, timed, heapPeakMb())
    }
    // steady-state per-query value: min over (wall − frame builds)
    val results = allRuns.map { case (name, _, timed, _) =>
      val adj = timed.map { case (t, f, _) => if (t < 0) -1.0 else math.max(t - f, 0.0) }
      (name, if (adj.contains(-1.0)) -1.0 else adj.min)
    }
    val errors = results.collect { case (n, v) if v < 0 => jsonString(n) }
    val qs = results.map { case (k, v) => jsonString(k) + ":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // per-frame build cost, aggregated over the whole run (a frame can
    // rebuild after each release boundary — builds counts them)
    val frames = graft.operators.MaterializeOnce.buildLogSnapshot
      .groupBy(_.tag).toSeq.sortBy(_._1).map { case (tag, evs) =>
        s"""${jsonString(tag)}:{"builds":${evs.size},"sec":${evs.map(_.seconds).sum}}"""
      }.mkString("{", ",", "}")
    // `frames` travels IN the stdout contract line (r15, VERDICT_r14
    // item 7): the driver-visible steady-state total and the
    // materialize-once build cost it excludes are one artifact, so the
    // two can never silently diverge. Additive key — every existing
    // key is unchanged.
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":${errors.mkString("[", ",", "]")},"routed_to_lsh":$routedJson,"frames":$frames,"sf":${jsonString(sfDir)}}""")

    // Complete artifact: per-query warmup + all measured timings (raw
    // wall + in-run frame-build seconds + in-run GC ms) + the heap
    // high-water across the measured runs + steady-state min + max/min
    // spread, immune to the driver's stdout tail-truncation. gc_ms and
    // heap_peak_mb exist so the recurring environmental-inflation class
    // is adjudicated by READING the artifact (VERDICT_r12 item 7): a
    // phantom-slow query shows gc_ms ≈ the inflation or a heap peak at
    // the driver cap; a real plan cost shows neither.
    val detail = allRuns.map { case (name, warmup, timed, heapMb) =>
      val adj = timed.map { case (t, f, _) => if (t < 0) -1.0 else math.max(t - f, 0.0) }
      val min = if (adj.contains(-1.0)) -1.0 else adj.min
      val spread =
        if (adj.contains(-1.0) || adj.min <= 0) -1.0
        else adj.max / adj.min
      s"""${jsonString(name)}:{"warmup":$warmup,"runs":[${timed.map(_._1).mkString(",")}],"frame_sec":[${timed.map(_._2).mkString(",")}],"gc_ms":[${timed.map(_._3).mkString(",")}],"heap_peak_mb":$heapMb,"min":$min,"spread":$spread}"""
    }.mkString("{", ",", "}")
    writeArtifact(
      s"""{"metric":"total","value":$total,"unit":"sec","sf":${jsonString(sfDir)},"runs_per_query":$runs,"warmup_discarded":true,"release_every":$releaseEvery,"errors":${errors.mkString("[", ",", "]")},"routed_to_lsh":$routedJson,"frames":$frames,"queries":$detail}""")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }

  /** Interleaved A/B: each round runs every named query once, in the
    * given order, for `rounds` rounds — per-query timing series land in
    * the artifact side by side so a spike shows up in BOTH series (an
    * environmental event) or one (a plan cost). */
  private def runAb(spark: SparkSession, sfDir: String, list: String): Unit = {
    val names = list.split(",").map(_.trim).filter(_.nonEmpty)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[bench] unknown AB queries: ${unknown.mkString(",")}")
      sys.exit(2)
    }
    val rounds =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_AB_ROUNDS", "5").toInt.max(2)
    // one discarded warmup execution per query, then the interleaved rounds
    names.foreach(n => timeOne(spark, sfDir, n, SparkEntry.queries(n)))
    val series = names.map(n => n -> scala.collection.mutable.ArrayBuffer[Double]()).toMap
    val gcSeries = names.map(n => n -> scala.collection.mutable.ArrayBuffer[Long]()).toMap
    (1 to rounds).foreach { _ =>
      names.foreach { n =>
        series(n) += (timeOne(spark, sfDir, n, SparkEntry.queries(n)) match {
          case (t, f, g) => gcSeries(n) += g
            if (t < 0) -1.0 else math.max(t - f, 0.0)
        })
      }
    }
    def med(xs: Seq[Double]): Double = {
      val s = xs.sorted; s((s.size - 1) / 2)
    }
    val qs = names.map { n =>
      val xs = series(n).toSeq
      val ok = !xs.contains(-1.0)
      s"""${jsonString(n)}:{"runs":[${xs.mkString(",")}],"gc_ms":[${gcSeries(n).mkString(",")}],"min":${if (ok) xs.min else -1.0},"median":${if (ok) med(xs) else -1.0}}"""
    }.mkString("{", ",", "}")
    val line = s"""{"metric":"ab","rounds":$rounds,"unit":"sec","sf":${jsonString(sfDir)},"order":[${names.map(jsonString).mkString(",")}],"queries":$qs}"""
    println(line)
    writeArtifact(line)
    spark.stop()
    if (names.exists(n => series(n).contains(-1.0))) sys.exit(1)
  }
}
