package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.{ColumnIOFactory, LocalInputFile, LocalOutputFile}
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID
import scala.jdk.CollectionConverters._
import scala.util.Using

/** The ledger directory, read and appended on the driver with
  * parquet-hadoop — no Spark job per ledger touch. The ledger is a few
  * tiny records per iteration; a Spark scan or write of it costs ~100 ms
  * of scheduling and commit protocol, reading or writing the file
  * directly well under 1 ms. The same approach as Structured Streaming's
  * offset/commit log: small files written by the driver and published
  * with an atomic rename.
  *
  * The files stay interchangeable with Spark's: the schema is the one
  * `Encoders.product[LedgerRecord]` writes, `spark.read.parquet` reads
  * what [[append]] writes, and [[read]] reads what
  * `toDS().write.parquet` wrote. Both readers skip `_`- and `.`-prefixed
  * names, which is what keeps an append's temp file invisible.
  */
object LedgerFiles {

  /** One read of a ledger dir: its records and the part files they came
    * from. */
  final case class Snapshot(records: Seq[LedgerRecord], files: Int)

  /** The parquet schema Spark writes for [[LedgerRecord]]. */
  val Schema: MessageType = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary jobId (STRING);
      |  required int64 timestampStart;
      |  optional int64 timestampEnd;
      |  optional int64 timestampProgress;
      |  optional int64 batchWindowSeconds;
      |  optional int64 batchRows;
      |  optional int64 batchSkippedCount;
      |  required int64 seq;
      |}""".stripMargin)

  private val Required = Seq("timestampStart", "seq")

  // One Configuration for every read and write: a fresh one re-parses
  // Hadoop's XML resources, 2-3 ms a file, more than the read itself.
  private val conf = new Configuration()
  // Closing a reader releases the options' codec factory, so the readers
  // sharing these options take turns (see readFile).
  private val readOptions = HadoopReadOptions.builder(conf).build()

  /** Every record in `dir`; a missing or empty dir is an empty ledger. A
    * file that is not a ledger file (no required column) fails the read
    * with its path. */
  def read(dir: String): Snapshot = {
    val files = partFiles(Paths.get(dir))
    Snapshot(files.flatMap(readFile), files.size)
  }

  /** Writes `records` as one new part file: written under a `_` temp
    * name, then renamed into place atomically, so a reader sees all of
    * them or none. A file system that cannot rename atomically fails the
    * append (AtomicMoveNotSupportedException). */
  def append(dir: String, records: Seq[LedgerRecord]): Unit = {
    val d = Files.createDirectories(Paths.get(dir))
    val id = UUID.randomUUID()
    val tmp = d.resolve(s"_part-$id.tmp")
    try {
      Using.resource(ExampleParquetWriter.builder(new LocalOutputFile(tmp))
          .withConf(conf).withType(Schema).build()) { w =>
        val groups = new SimpleGroupFactory(Schema)
        records.foreach(r => w.write(group(groups.newGroup(), r)))
      }
      Files.move(tmp, d.resolve(s"part-$id.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
  }

  private def partFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else Using.resource(Files.list(dir)) { paths =>
      paths.iterator.asScala.filter { p =>
        val name = p.getFileName.toString
        !name.startsWith("_") && !name.startsWith(".") && Files.isRegularFile(p)
      }.toVector.sortBy(_.getFileName.toString)
    }

  private def readFile(p: Path): Seq[LedgerRecord] = readOptions.synchronized {
    Using.resource(ParquetFileReader.open(new LocalInputFile(p), readOptions)) {
      reader =>
        val schema = reader.getFileMetaData.getSchema
        Required.filterNot(schema.containsField).foreach { c =>
          throw new IllegalStateException(
            s"ledger file $p has no column $c — not a ledger file")
        }
        val io = new ColumnIOFactory().getColumnIO(schema)
        Iterator.continually(reader.readNextRowGroup()).takeWhile(_ != null)
          .flatMap { pages =>
            val rows = io.getRecordReader(pages, new GroupRecordConverter(schema))
            Iterator.fill(pages.getRowCount.toInt)(record(rows.read(), p))
          }.toVector
    }
  }

  private def record(g: Group, p: Path): LedgerRecord = {
    def present(c: String) =
      g.getType.containsField(c) && g.getFieldRepetitionCount(c) > 0
    def long(c: String): Option[Long] =
      if (present(c)) Some(g.getLong(c, 0)) else None
    def required(c: String): Long = long(c).getOrElse(
      throw new IllegalStateException(s"ledger file $p has a null $c"))
    LedgerRecord(
      jobId = if (present("jobId")) g.getString("jobId", 0) else null,
      timestampStart = required("timestampStart"),
      timestampEnd = long("timestampEnd"),
      timestampProgress = long("timestampProgress"),
      batchWindowSeconds = long("batchWindowSeconds"),
      batchRows = long("batchRows"),
      batchSkippedCount = long("batchSkippedCount"),
      seq = required("seq"))
  }

  private def group(g: Group, r: LedgerRecord): Group = {
    Option(r.jobId).foreach(g.add("jobId", _))
    g.add("timestampStart", r.timestampStart)
    Seq("timestampEnd" -> r.timestampEnd,
      "timestampProgress" -> r.timestampProgress,
      "batchWindowSeconds" -> r.batchWindowSeconds,
      "batchRows" -> r.batchRows,
      "batchSkippedCount" -> r.batchSkippedCount)
      .foreach { case (c, v) => v.foreach(g.add(c, _)) }
    g.add("seq", r.seq)
    g
  }
}
