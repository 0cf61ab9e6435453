package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** r15 OPTIMIZATION equivalence pins (the Round14OptSpec discipline):
  * each rewrite claims bit-identical results; these tests re-express
  * the PRE-r15 plan shape inline and assert frame equality on the
  * fixture, so a drift in the optimized form fails loudly and the
  * blame is local (the oracle gate would also catch it).
  */
class Round15OptSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("AnnIndex.queryTiers == a per-tier AnnIndex.query call, " +
      "row-exact at every tier (r15 — q_probe_served's one-scan form)") {
    val root = graft.index.AnnIndex.ensure(spark, dir)
    val queries = Tables.fanOut(Tables.embeddings(spark, dir))
      .filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val tiers = Seq(1, 2, 4)
    val got = rows(graft.index.AnnIndex
      .queryTiers(spark, root, queries, tiers, k = 5))
    val old = tiers.map { np =>
      graft.index.AnnIndex.query(spark, root, queries, nprobe = np, k = 5)
        .select(col("query_id"), lit(np).as("np"), col("cell"),
          col("neighbor_id"), col("cosine"), col("rn"))
    }.reduce(_ unionByName _)
    assert(got === rows(old))
  }

  test("AnnIndex.queryTiers rejects a duplicate tier") {
    val root = graft.index.AnnIndex.ensure(spark, dir)
    val queries = Tables.fanOut(Tables.embeddings(spark, dir))
      .filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val e = intercept[IllegalArgumentException] {
      graft.index.AnnIndex.queryTiers(spark, root, queries, Seq(1, 2, 2), k = 5)
    }
    assert(e.getMessage.contains("duplicate tiers"))
  }

  test("q_dup_span: pinned against an inline re-expression (r15 — the " +
      "materialize-once variant was measured SLOWER and reverted; this " +
      "pin guards whatever form ships)") {
    val got = operators.Dedup.qDupSpan(spark, dir)
    // the reference plan, re-expressed inline: raw positioned shingles
    // with the corpus-wide df window and stop cap applied per consumer
    val wdoc = Window.partitionBy("doc_id").orderBy("pos")
    val sp = Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .withColumn("w2", lead("word", 1).over(wdoc))
      .withColumn("w3", lead("word", 2).over(wdoc))
      .filter(col("w3").isNotNull)
      .select(col("doc_id"), col("pos"),
        graft.functions.Portable.hash60(
          concat_ws(" ", col("word"), col("w2"), col("w3"))).as("sh"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("sh")))
      .filter(col("df") <= 1000).drop("df")
    val pairs = sp.as("a").join(sp.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (col("a.pos") - col("b.pos")).as("diag"), col("a.pos").as("pos_a"))
    val wDiag = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    val old = pairs
      .withColumn("island", col("pos_a") - row_number().over(wDiag))
      .groupBy("doc_a", "doc_b", "diag", "island")
      .agg(count(lit(1)).as("run_len"))
      .groupBy("doc_a", "doc_b")
      .agg(max("run_len").as("max_run"), sum("run_len").as("n_shared"))
      .filter(col("max_run") >= 5)
      .select(col("doc_a"), col("doc_b"), col("max_run"),
        (col("max_run") + 2).as("span_words"), col("n_shared"))
    assert(rows(got) === rows(old))
  }

  test("q_contam_delta rides q_cross_neardup's materialized probe " +
      "frame — values identical to a fresh BandIndex probe (r15)") {
    val got = rows(operators.Dedup.qCrossNeardup(spark, dir))
    val fresh = rows(graft.index.BandIndex.probe(spark, dir,
      graft.index.BandIndex.ensure(spark, dir)))
    assert(got === fresh)
  }

  /** The shared sample frame of the native-histogram family,
    * re-expressed inline (the Round14OptSpec device). */
  private def samplesInline = Tables.events(spark, dir).select(
      col("event_type").as("name"), col("user_id"),
      (floor(unix_micros(col("ts")) / 1000000L / 3600L) * 3600L)
        .as("w_start"),
      round(col("value") * 100).cast("long").as("cents"))
    .select(col("name"), col("user_id"), col("w_start"),
      signum(col("cents")).cast("long").as("sgn"),
      abs(col("cents")).as("pos"))

  test("q_native_rate: window-lag pair derivation == the shifted-key " +
      "self-join (r15)") {
    val got = operators.NativeHistogram.qNativeRate(spark, dir)
    val perW = samplesInline
      .groupBy("name", "user_id", "w_start")
      .agg(count(lit(1)).as("h_count"),
        sum(col("sgn") * col("pos")).as("h_sum_x100"))
    val prev = perW.select(col("name"), col("user_id"),
      (col("w_start") + 3600L).as("w_start"),
      col("h_count").as("prev_count"), col("h_sum_x100").as("prev_sum"))
    val old = perW.join(prev, Seq("name", "user_id", "w_start"))
      .withColumn("reset", (col("h_count") < col("prev_count")).cast("long"))
      .withColumn("dc", when(col("reset") === 1L, col("h_count"))
        .otherwise(col("h_count") - col("prev_count")))
      .withColumn("ds", when(col("reset") === 1L, col("h_sum_x100"))
        .otherwise(col("h_sum_x100") - col("prev_sum")))
      .select(col("name"), col("user_id"), col("w_start"), col("reset"),
        expr("CASE WHEN dc >= 0 THEN dc * 1000000 div 3600 " +
          "ELSE -((-dc) * 1000000 div 3600) END").as("count_rate_x1e6"),
        expr("CASE WHEN ds >= 0 THEN ds * 1000000 div 360000 " +
          "ELSE -((-ds) * 1000000 div 360000) END").as("sum_rate_x1e6"))
    assert(rows(got) === rows(old))
  }

  test("q_native_delta: union-aggregate + window gate == the " +
      "full-outer self-join with two semi-join gates (r15)") {
    val got = operators.NativeHistogram.qNativeDelta(spark, dir)
    val bk = operators.NativeHistogram.buckets0Plan(spark, dir)
    val prev = bk.select(col("name"), col("user_id"),
      (col("w_start") + 3600L).as("w_start"), col("sgn"),
      col("bucket_idx"), col("cnt").as("prev_cnt"))
    val next = bk.select(col("name"), col("user_id"), col("w_start"),
      col("sgn"), col("bucket_idx"), col("cnt").as("next_cnt"))
    val old = next.join(prev,
        Seq("name", "user_id", "w_start", "sgn", "bucket_idx"), "full_outer")
      .join(next.select(col("name"), col("user_id"),
          col("w_start")).distinct(),
        Seq("name", "user_id", "w_start"), "left_semi")
      .join(prev.select(col("name"), col("user_id"),
          col("w_start")).distinct(),
        Seq("name", "user_id", "w_start"), "left_semi")
      .select(col("name"), col("user_id"), col("w_start"), col("sgn"),
        col("bucket_idx"),
        (coalesce(col("next_cnt"), lit(0L)) -
          coalesce(col("prev_cnt"), lit(0L))).as("delta_cnt"))
      .filter(col("delta_cnt") =!= 0L)
    assert(rows(got) === rows(old))
  }

  test("q_nhcb_rate_q: lag-window pairs + union-aggregate increase == " +
      "the shifted self-join + full-outer form (r15)") {
    val got = operators.NativeHistogram.qNhcbRateQ(spark, dir)
    val bk = operators.NativeHistogram.qNativeCustom(spark, dir)
    val grp = Seq("name", "user_id", "w_start")
    val tot = bk.groupBy(grp.map(col): _*).agg(sum("cnt").as("tot_next"))
    val totPrev = tot.select(col("name"), col("user_id"),
      (col("w_start") + 3600L).as("w_start"),
      col("tot_next").as("tot_prev"))
    val pairs = tot.join(totPrev, grp)
      .withColumn("reset", (col("tot_next") < col("tot_prev")).cast("long"))
      .select(col("name"), col("user_id"), col("w_start"), col("reset"))
    val prevB = bk.select(col("name"), col("user_id"),
      (col("w_start") + 3600L).as("w_start"), col("bucket_idx"),
      col("le_cents"), col("cnt").as("prev_cnt"))
    val nextB = bk.withColumnRenamed("cnt", "next_cnt")
    val inc = nextB.join(prevB,
        Seq("name", "user_id", "w_start", "bucket_idx", "le_cents"),
        "full_outer")
      .join(pairs, grp)
      .withColumn("inc",
        when(col("reset") === 1L, coalesce(col("next_cnt"), lit(0L)))
          .otherwise(greatest(
            coalesce(col("next_cnt"), lit(0L)) -
              coalesce(col("prev_cnt"), lit(0L)), lit(0L))))
      .filter(col("inc") > 0L)
    val q = inc
      .withColumn("tot",
        sum("inc").over(Window.partitionBy(grp.map(col): _*)))
      .withColumn("cum", sum("inc").over(Window.partitionBy(grp.map(col): _*)
        .orderBy("bucket_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val phis = spark.range(1).select(
      explode(typedLit(Seq(50L, 90L))).as("phi_x100"))
    val bounds = Seq(500L, 2000L, 8000L, 20000L)
    val boundsArr = bounds.mkString(", ")
    val old = q.crossJoin(broadcast(phis))
      .withColumn("rk",
        (col("tot") * col("phi_x100")).cast("double") / 100.0)
      .filter(col("cum") >= col("rk"))
      .withColumn("rn", row_number().over(
        Window.partitionBy((grp :+ "phi_x100").map(col): _*)
          .orderBy("bucket_idx")))
      .filter(col("rn") === 1)
      .withColumn("lo", when(col("bucket_idx") === 0L, 0L)
        .otherwise(expr(s"element_at(array($boundsArr), CAST(bucket_idx AS INT))")))
      .select(col("name"), col("user_id"), col("w_start"), col("phi_x100"),
        col("reset"),
        round(
          when(col("le_cents") === -1L, lit(bounds.last.toDouble))
            .otherwise(col("lo").cast("double")
              + (col("le_cents") - col("lo")).cast("double")
                * ((col("rk") - (col("cum") - col("inc")).cast("double"))
                  / col("inc").cast("double"))) / 100.0, 6).as("q_value"))
    assert(rows(got) === rows(old))
  }
}
