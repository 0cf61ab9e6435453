package graft

import graft.streaming._

/** End-to-end batch loop: two runOnce iterations over a response
  * drop-dir — progress advances through the ledger, windows overlap per
  * R6, data lands in the TSV sink, and crash recovery (no closed
  * record) resumes from the previous progress. */
class EtlJobSpec extends SparkSpec {
  import spark.implicits._

  private val conf = EtlConfig(
    batchWindowSeconds = 100,
    batchWindowOverlapSeconds = 10,
    minWindowStartTimestamp = 0)

  private def fixture(ts: Seq[Long]): String = {
    val values = ts.map(t => s"""[$t,"1.5"]""").mkString(",")
    s"""{"status":"success","data":{"resultType":"matrix","result":[""" +
      s"""{"metric":{"__name__":"up","job":"a"},"values":[$values]}]}}"""
  }

  test("two iterations: ledger-carried progress, R6 windows, sink rows") {
    val inDir = tmpDir("etl_in")
    val outDir = tmpDir("etl_out") + "/tsv"
    val ledgerDir = tmpDir("etl_ledger") + "/ledger"
    // points across [1000, 1200)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(inDir, "r.json"),
      fixture(Seq(1005L, 1050L, 1095L, 1120L, 1180L)))

    // iteration 1: progress=1000 → window [990, 1090) → 1005, 1050
    val r1 = EtlJob.runOnce(spark, conf, "job", inDir, outDir, ledgerDir,
      initialProgress = 1000, now = 2000)
    assert(r1.timestampStart == 990)
    assert(r1.timestampProgress.contains(1090))
    assert(r1.batchRows.contains(2L))

    // iteration 2 resumes FROM THE LEDGER: 1090 → [1080, 1180) →
    // 1095, 1120 (1180 is outside the half-open end)
    val r2 = EtlJob.runOnce(spark, conf, "job", inDir, outDir, ledgerDir,
      initialProgress = -1, now = 2000)
    assert(r2.timestampStart == 1080)
    assert(r2.timestampProgress.contains(1180))
    assert(r2.batchRows.contains(2L))

    // sink holds the 4 emitted lines; overlap windows may re-emit rows
    // at other configs — idempotency is the content-hash id's job (R5/R9)
    assert(spark.read.text(outDir).count() == 4)

    // latestState picks the newest valid record
    val st = EtlJob.latestState(EtlJob.readLedger(ledgerDir))
    assert(st.exists(_.timestampStart == 1080))
  }

  test("empty drop-dir: the batch closes with zero rows and advances progress") {
    val inDir = tmpDir("etl_empty_in")
    val outDir = tmpDir("etl_empty_out") + "/tsv"
    val ledgerDir = tmpDir("etl_empty") + "/ledger"
    val r1 = EtlJob.runOnce(spark, conf, "job", inDir, outDir, ledgerDir,
      initialProgress = 1000, now = 2000)
    assert(r1.batchRows.contains(0L) && r1.batchSkippedCount.contains(0L))
    assert(r1.timestampProgress.contains(1090))
    // a blank line is not a document either
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(inDir, "blank.json"), "\n")
    val r2 = EtlJob.runOnce(spark, conf, "job", inDir, outDir, ledgerDir,
      initialProgress = -1, now = 2000)
    assert(r2.batchRows.contains(0L) && r2.timestampProgress.contains(1180))
  }

  test("crash recovery: open-only record blocks (R8) and never advances progress") {
    val inDir = tmpDir("etl_crash_in")
    val outDir = tmpDir("etl_crash_out") + "/tsv"
    val ledgerDir = tmpDir("etl_crash") + "/ledger"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(inDir, "r.json"), fixture(Seq(505L)))
    // simulate a crashed run: open record only (end missing)
    Seq(LedgerRecord("job", 500, None, None, None, None, None))
      .toDS().write.mode("append").parquet(ledgerDir)
    // invalid for state reads → progress falls back to initial
    assert(EtlJob.latestState(EtlJob.readLedger(ledgerDir)).isEmpty)
    // and the R8 gate refuses to start a new run...
    assert(EtlJob.hasRunningJob(ledgerDir))
    intercept[IllegalStateException] {
      EtlJob.runOnce(spark, conf, "job", inDir, outDir, ledgerDir,
        initialProgress = 500, now = 2000)
    }
    // ...until the operator forces a takeover, which closes a valid
    // record and unblocks subsequent runs
    val r = EtlJob.runOnce(spark, conf, "job", inDir, outDir, ledgerDir,
      initialProgress = 500, now = 2000, force = true)
    assert(r.timestampStart == 490 && r.batchRows.contains(1L))
    assert(!EtlJob.hasRunningJob(ledgerDir))
  }

  test("gate is per-job: one job's crash never blocks another job") {
    val inDir = tmpDir("etl_pj_in")
    val outDir = tmpDir("etl_pj_out") + "/tsv"
    val ledgerDir = tmpDir("etl_pj") + "/ledger"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(inDir, "r.json"), fixture(Seq(1005L)))
    // job A crashed mid-run (open record only)
    Seq(LedgerRecord("jobA", 500, None, None, None, None, None))
      .toDS().write.mode("append").parquet(ledgerDir)
    // job B starts fine without force, and A's record is untouched
    val r = EtlJob.runOnce(spark, conf, "jobB", inDir, outDir, ledgerDir,
      initialProgress = 1000, now = 2000)
    assert(r.jobId == "jobB")
    assert(JobStateMachine.runningJobs(
      EtlJob.readLedger(ledgerDir)).toSet ==
      Set(("jobA", 500L)))
  }
}
