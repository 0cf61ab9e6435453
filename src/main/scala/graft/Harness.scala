package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
import scala.util.Using

/** The one Spark session factory every graft main builds from, so the
  * plans PlanSnap/PlanDump dump are the plans Bench times.
  *
  *  - `local[cpus]`; cpus = `SPARK_GRAFT_CPUS`, else available processors.
  *  - Shuffle partitions = max(cpus, parquet bytes ×4 / 64 MB): AQE only
  *    coalesces DOWN, so a core-count pin at sf100 made sort-heavy tasks
  *    go external. The floor wins at the fixture SFs.
  *  - `files.minPartitionNum` = 2×cpus: one big parquet file (sf100
  *    events, 668 MB) yields ~6 splits at 128 MB; the floor keeps every
  *    core busy. Fixture-SF files already split past it.
  *  - UTC, `parquet.nanosAsLong` (events.parquet is TIMESTAMP(NANOS)),
  *    no UI, log level WARN.
  *
  * A key already in `sys.props` (spark-submit, `-D`) wins over these,
  * e.g. the Dockerfile's `--master local[*]`.
  */
object Harness {

  private val SortInputBytesPerTask = 64L * 1024 * 1024

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** Total size of the `.parquet` files under `dataDir`; a missing
    * directory is an error, never a silent 0. */
  def parquetBytes(dataDir: String): Long = {
    val root = Paths.get(dataDir)
    if (!Files.isDirectory(root))
      throw new IllegalArgumentException(s"data directory does not exist: $dataDir")
    Using.resource(Files.walk(root)) { paths =>
      paths.iterator.asScala
        .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
        .map(Files.size).sum
    }
  }

  def settings(cpus: Int, dataDir: Option[String]): Map[String, String] = {
    val inputBytes = dataDir.map(parquetBytes).getOrElse(0L)
    val shufflePartitions =
      math.max(cpus.toLong, inputBytes * 4 / SortInputBytesPerTask)
    Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
      "spark.sql.files.minPartitionNum" -> (2 * cpus).toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false",
    ).map { case (k, v) => k -> sys.props.getOrElse(k, v) }
  }

  def session(app: String, dataDir: Option[String] = None): SparkSession = {
    val spark = SparkSession.builder()
      .appName(app)
      .config(settings(cpus, dataDir))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
