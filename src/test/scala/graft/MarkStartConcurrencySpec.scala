package graft

import graft.logging.StructuredLogger
import graft.streaming._

import java.io.{ByteArrayOutputStream, PrintStream}
import java.util.concurrent.{CountDownLatch, CyclicBarrier, Executors, TimeUnit}
import scala.jdk.CollectionConverters._

/** R8 atomic mark-start: the reference's try_mark_start
  * (clickhouse_client.py:536-613) is an atomic INSERT-with-subquery so
  * only one of N racing starters wins. The graft twin serializes the
  * check-then-append through LedgerLock — these specs race real threads
  * through it. */
class MarkStartConcurrencySpec extends SparkSpec {

  private val conf = EtlConfig(
    batchWindowSeconds = 100,
    batchWindowOverlapSeconds = 0,
    minWindowStartTimestamp = 0)

  private def quietLogger = new StructuredLogger("test", "CRITICAL",
    new PrintStream(new ByteArrayOutputStream()),
    new PrintStream(new ByteArrayOutputStream()))

  test("exactly one of N racing tryMarkStart calls wins") {
    val ledgerDir = tmpDir("cas_ledger") + "/ledger"
    val n = 6
    val barrier = new CyclicBarrier(n)
    val pool = Executors.newFixedThreadPool(n)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
    val done = new CountDownLatch(n)
    (1 to n).foreach { _ =>
      pool.submit(new Runnable {
        def run(): Unit = try {
          barrier.await(30, TimeUnit.SECONDS)
          val won = EtlJob.tryMarkStart(conf, "job", ledgerDir,
            initialProgress = 1000, now = 2000, quietLogger).isDefined
          results.add(won)
        } finally done.countDown()
      })
    }
    assert(done.await(120, TimeUnit.SECONDS), "racers did not finish")
    pool.shutdown()
    val wins = results.asScala.count(identity)
    assert(results.size == n)
    assert(wins == 1, s"expected exactly 1 winner, got $wins")
    // the ledger holds exactly the winner's open record
    val records = EtlJob.readLedger(ledgerDir)
    assert(records.length == 1)
    assert(records.head.timestampEnd.isEmpty)
    // and the running-job probe now gates everyone
    assert(EtlJob.hasRunningJob(ledgerDir))
  }

  test("tryMarkStart blocks while a job is running, allows after close") {
    val ledgerDir = tmpDir("cas_seq") + "/ledger"
    val first = EtlJob.tryMarkStart(conf, "job", ledgerDir,
      initialProgress = 1000, now = 2000, quietLogger)
    assert(first.isDefined)
    // second attempt while open record stands → loses (any running job
    // blocks, the reference's breadth)
    assert(EtlJob.tryMarkStart(conf, "other_job", ledgerDir,
      initialProgress = 1000, now = 2000, quietLogger).isEmpty)
    // close the run (mark-end), gate re-opens
    import spark.implicits._
    val open = first.get
    val closed = open.copy(
      timestampEnd = Some(2000L),
      timestampProgress = Some(1100L),
      batchWindowSeconds = Some(100L),
      batchRows = Some(0L), batchSkippedCount = Some(0L),
      seq = open.seq + 1)
    Seq(closed).toDS().write.mode("append").parquet(ledgerDir)
    assert(EtlJob.tryMarkStart(conf, "other_job", ledgerDir,
      initialProgress = 1000, now = 3000, quietLogger).isDefined)
  }

  test("runOnce refuses while a tryMarkStart winner's record is open") {
    val ledgerDir = tmpDir("cas_gate") + "/ledger"
    val inDir = tmpDir("cas_in")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(inDir, "r.json"),
      """{"status":"success","data":{"resultType":"matrix","result":[]}}""")
    assert(EtlJob.tryMarkStart(conf, "job", ledgerDir,
      initialProgress = 1000, now = 2000, quietLogger).isDefined)
    intercept[IllegalStateException] {
      EtlJob.runOnce(spark, conf, "job", inDir, tmpDir("cas_out") + "/tsv",
        ledgerDir, initialProgress = 1000, now = 2000, logger = quietLogger)
    }
  }

  test("LedgerLock: stale lock times out with a diagnostic message") {
    val ledgerDir = tmpDir("cas_stale") + "/ledger"
    // simulate a holder that crashed inside the critical section
    java.nio.file.Files.createFile(java.nio.file.Paths.get(ledgerDir + ".lock"))
    val e = intercept[LedgerLock.LockTimeout] {
      LedgerLock.withLock(ledgerDir, timeoutMs = 200L) { fail("must not enter") }
    }
    assert(e.getMessage.contains("stale lock"))
    // operator removes the stale lock → section runs again
    java.nio.file.Files.delete(java.nio.file.Paths.get(ledgerDir + ".lock"))
    assert(LedgerLock.withLock(ledgerDir)(42) == 42)
  }
}
