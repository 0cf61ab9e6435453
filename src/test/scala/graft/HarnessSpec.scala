package graft

import java.io.RandomAccessFile
import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/** Harness.settings is pure over (cpus, dataDir, sys.props): checked
  * here without building a session, so the shared spec session is never
  * touched. */
class HarnessSpec extends AnyFunSuite {

  private val MB = 1024L * 1024

  /** Run `body` with `key` set to `value` (or removed, for None) in
    * sys.props, restoring the previous state afterwards. */
  private def withProp[T](key: String, value: Option[String])(body: => T): T = {
    val prior = sys.props.get(key)
    value.fold(sys.props.remove(key))(v => sys.props.put(key, v))
    try body
    finally prior.fold(sys.props.remove(key))(v => sys.props.put(key, v))
  }

  /** A sparse file of exactly `bytes` bytes (no data written). */
  private def sized(p: Path, bytes: Long): Unit = {
    Files.createDirectories(p.getParent)
    val f = new RandomAccessFile(p.toFile, "rw")
    try f.setLength(bytes) finally f.close()
  }

  test("spark.master defaults to local[cpus] and keeps a value already in sys.props") {
    withProp("spark.master", None) {
      assert(Harness.settings(3, None)("spark.master") === "local[3]")
    }
    withProp("spark.master", Some("local[*]")) {
      assert(Harness.settings(3, None)("spark.master") === "local[*]")
    }
  }

  test("fixed settings: UTC, nanosAsLong, no UI, scan floor 2×cpus, shuffle floor cpus") {
    val s = Harness.settings(5, None)
    assert(s("spark.sql.session.timeZone") === "UTC")
    assert(s("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(s("spark.ui.enabled") === "false")
    assert(s("spark.sql.files.minPartitionNum") === "10")
    assert(s("spark.sql.shuffle.partitions") === "5")
  }

  test("shuffle partitions are max(cpus, parquet bytes × 4 / 64 MB)") {
    val dir = Files.createTempDirectory("harness_spec")
    sized(dir.resolve("a.parquet"), 32 * MB)
    sized(dir.resolve("t/part-0.parquet"), 64 * MB)
    sized(dir.resolve("ignored.json"), 640 * MB)
    // 96 MB of parquet × 4 / 64 MB = 6 partitions
    assert(Harness.parquetBytes(dir.toString) === 96 * MB)
    assert(Harness.settings(2, Some(dir.toString))("spark.sql.shuffle.partitions") === "6")
    assert(Harness.settings(8, Some(dir.toString))("spark.sql.shuffle.partitions") === "8")
  }

  test("a missing data directory is an error naming the path") {
    val missing = Files.createTempDirectory("harness_spec").resolve("no_such_sf")
    val e = intercept[IllegalArgumentException] {
      Harness.settings(4, Some(missing.toString))
    }
    assert(e.getMessage.contains(missing.toString))
  }
}
