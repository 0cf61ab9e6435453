package graft.perfbench

import graft.SparkEntry
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The fixed query list of the analysis workload, in the order a pass
  * runs it, each query with its owning module (the object that implements
  * its `SparkEntry.queries` function). Every analysis module is
  * represented; the list builds six materialize-once frames (q_dedup_ngram
  * builds dedup:ngram_pairs, which q_cluster_size_hist reuses) and probes
  * one persisted index. */
object QueryLists {
  val session: Seq[(String, String)] = Seq(
    "q_metrics_ingest" -> "MetricsEtl",
    "q_quantile_over_time" -> "MetricsEtl",
    "q_native_fraction" -> "NativeHistogram",
    "q_dedup_ngram" -> "Dedup",
    "q_cluster_size_hist" -> "Dedup",
    "q_ann_served" -> "Similarity",
    "q_bm25" -> "TextAnalysis",
    "q_frame_sample" -> "Multimodal")

  val modules: Seq[String] = session.map(_._2).distinct
}

/** Row count and order-insensitive hash of a query's whole output. */
final case class QueryDigest(rows: Long, hash: Long) {
  def render: String = s"$rows\t${java.lang.Long.toHexString(hash)}"
}

object QueryDigest {
  /** Doubles are compared at nine significant digits (and -0.0 as 0.0), so
    * a last-bit difference from summation order does not change the hash;
    * maps hash as sorted entry arrays. */
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType)
      format_string("%.8e", when(d === 0.0, lit(0.0)).otherwise(d))
    case ArrayType(e, _) => transform(c, x => canon(x, e))
    case StructType(fs) =>
      if (fs.isEmpty) c
      else struct(fs.toSeq.map(f => canon(c.getField(f.name), f.dataType)
        .as(f.name)): _*)
    case MapType(k, v, _) =>
      array_sort(transform(map_entries(c), e => struct(
        canon(e.getField("key"), k).as("k"),
        canon(e.getField("value"), v).as("v"))))
    case _ => c
  }

  /** Consumes every column of every row: one aggregation over a hash of
    * the canonical row. */
  def of(df: DataFrame): QueryDigest = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq
      .map(f => canon(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.agg(count(lit(1)),
      sum(h.bitwiseAND(lit(0xffffffffL))),
      sum(shiftrightunsigned(h, 32))).head()
    def at(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    QueryDigest(at(0), at(1) + (at(2) << 32))
  }

  /** `name \t rows \t hex-hash` lines; `#` starts a comment. */
  def load(path: String): Map[String, QueryDigest] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map { f =>
        f(0) -> QueryDigest(f(1).toLong, java.lang.Long.parseUnsignedLong(f(2), 16))
      }.toMap

  def save(path: String, ds: Seq[(String, QueryDigest)]): Unit =
    Files.write(Paths.get(path), ("# query\trows\txxhash64 row-sum (hex)\n" +
      ds.sortBy(_._1).map { case (n, d) => s"$n\t${d.render}\n" }.mkString)
      .getBytes(UTF_8))
}

/** Runs one query through its public `SparkEntry` function and digests
  * its output. */
object QueryRun {
  def run(spark: SparkSession, dataDir: String, name: String): QueryDigest =
    QueryDigest.of(SparkEntry.queries(name)(spark, dataDir))
}
