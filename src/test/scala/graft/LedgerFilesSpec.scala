package graft

import graft.logging.StructuredLogger
import graft.streaming._
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.LocalInputFile
import org.apache.spark.sql.Encoders

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Paths}
import scala.util.Using

/** The driver-side ledger files interoperate with Spark's parquet in both
  * directions, and an interrupted append stays invisible to both. */
class LedgerFilesSpec extends SparkSpec {
  import spark.implicits._

  private val some = LedgerRecord("job", 1000, Some(1100), Some(1090),
    Some(90), Some(42), Some(3), seq = 7)
  private val none = LedgerRecord(null, 990, None, None, None, None, None,
    seq = 8)
  private val open = LedgerRecord("other", 2000, None, None, None, None, None,
    seq = 9)

  private def sparkRead(dir: String): Seq[LedgerRecord] =
    spark.read.schema(Encoders.product[LedgerRecord].schema).parquet(dir)
      .as[LedgerRecord].collect().toSeq

  private def visible(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).toSeq.flatten
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).sorted

  test("Spark-written records read back equal on the driver") {
    val dir = tmpDir("lf_spark") + "/ledger"
    Seq(some, none).toDS().write.mode("append").parquet(dir)
    Seq(open).toDS().write.mode("append").parquet(dir)
    val snap = LedgerFiles.read(dir)
    assert(snap.records.sortBy(_.seq) == Seq(some, none, open))
    assert(snap.files == visible(dir).size)
  }

  test("driver-written records read back equal through Spark") {
    val dir = tmpDir("lf_driver") + "/ledger"
    LedgerFiles.append(dir, Seq(some, none))
    LedgerFiles.append(dir, Seq(open))
    assert(visible(dir).size == 2 && visible(dir).forall(_.endsWith(".parquet")))
    assert(sparkRead(dir).sortBy(_.seq) == Seq(some, none, open))
    val snap = LedgerFiles.read(dir)
    assert(snap.records.sortBy(_.seq) == Seq(some, none, open) && snap.files == 2)
  }

  test("the driver writes the schema Spark writes") {
    val sparkDir = tmpDir("lf_schema") + "/ledger"
    Seq(some).toDS().write.parquet(sparkDir)
    val file = Paths.get(sparkDir, visible(sparkDir).head)
    val sparkSchema = Using.resource(
      ParquetFileReader.open(new LocalInputFile(file)))(_.getFileMetaData.getSchema)
    assert(sparkSchema == LedgerFiles.Schema)
  }

  test("a leftover partial append is invisible to both readers") {
    val inDir = tmpDir("lf_partial_in")
    val outDir = tmpDir("lf_partial_out") + "/tsv"
    val dir = tmpDir("lf_partial") + "/ledger"
    LedgerFiles.append(dir, Seq(some))
    // a writer that died before its rename: a truncated temp file
    Files.write(Paths.get(dir, "_part-crashed.tmp"), "PAR1\u0000".getBytes)
    assert(LedgerFiles.read(dir) == LedgerFiles.Snapshot(Seq(some), 1))
    assert(sparkRead(dir) == Seq(some))
    val quiet = new StructuredLogger("test", "CRITICAL",
      new PrintStream(new ByteArrayOutputStream()),
      new PrintStream(new ByteArrayOutputStream()))
    val r = EtlJob.runOnce(spark, EtlConfig(100, 10, 0), "job", inDir, outDir,
      dir, initialProgress = -1, now = 5000, logger = quiet)
    assert(r.timestampStart == 1080 && r.timestampProgress.contains(1180L))
    assert(LedgerFiles.read(dir).files == 3)
  }

  test("a missing or empty ledger dir is an empty ledger") {
    val root = tmpDir("lf_empty")
    assert(LedgerFiles.read(root + "/missing") == LedgerFiles.Snapshot(Nil, 0))
    assert(LedgerFiles.read(root) == LedgerFiles.Snapshot(Nil, 0))
    assert(EtlJob.readLedger(root).isEmpty && !EtlJob.hasRunningJob(root))
  }

  test("a parquet file without timestampStart fails the read, naming it") {
    val dir = tmpDir("lf_bad") + "/ledger"
    Seq(("job", 1L)).toDF("jobId", "seq").write.parquet(dir)
    val bad = visible(dir).head
    LedgerFiles.append(dir, Seq(some))
    val e = intercept[IllegalStateException](LedgerFiles.read(dir))
    assert(e.getMessage.contains(bad) && e.getMessage.contains("timestampStart"))
  }
}
