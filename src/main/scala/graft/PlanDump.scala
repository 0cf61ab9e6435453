package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Regenerates PLANS.md: `explain("formatted")` output for the queries
  * whose physical strategy the scale audit (SURVEY §6) makes claims
  * about — pushdown/pruning, join build sides, TakeOrdered, codegen
  * spans. Run: `sbt "runMain graft.PlanDump [sfDir] [outFile]"`.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outFile = args.lift(1).getOrElse("PLANS.md")
    val spark = Harness.session("graft-plandump", Some(sfDir))

    val audited = Seq(
      "q1_pricing" -> "filter pushdown + column pruning on the fact scan",
      "q3_topk_join" -> "size-gated joins, TakeOrdered instead of global sort",
      "q5_region_join" -> "only region⋈nation force-broadcast; rest size-gated",
      "q_dedup_ngram" -> "hash-keyed self-join with ReusedExchange",
      "q_topk_per_group" -> "custom TopKPerKey operator: one hash exchange, NO sort node",
      "q_minhash_lsh" -> "single-shuffle 16-min signature aggregation",
      "q_embed_cosine_topk" -> "CONSTANT-size broadcast query set; native vec_dot in the pair loop",
      "q_ann_lsh" -> "in-row bucket computation, bucket-equality join",
      "q_ann_ivf" -> "broadcast sqrt-n centroid assignment, hot-cell cap, cell-equality join",
      "q_supp_part_cnt" -> "Q16: broadcast anti-join exclusion, DISTINCT pair collapse below the part join",
      "q_excess_supplier" -> "Q20: decorrelated HAVING over the part-filtered year slice, LEFT SEMI onto the dim",
      "q_selector" -> "single get_json_object per row (pushdown barrier pins the filter above the projection)",
      "q_stream_window_agg" -> "tumbling window via groupBy(window) — map-side combine",
      "q_asof_join" -> "join-free asof: one window pass, single shuffle on user_id",
      "q_range_join" -> "bucketed interval join: equality on (user, bucket) + exact filter",
      "q_big_orders" -> "aggregate-first Q18 shape: lineitem collapses before any join",
      "q_decontaminate" -> "constant-size benchmark broadcast; corpus never shuffles for the probe",
      "q_kmeans_step" -> "broadcast-K assignment; explode carries only (cell,dim,component) ints into a map-side-combined K·d groupBy",
      "q_repetition" -> "pure projection: zero exchanges, one WholeStageCodegen over the scan",
      "q_shard_order" -> "one (doc_id,hash)-only shuffle; per-shard window, text never leaves the scan projection",
      "q_top_share" -> "two stacked aggs + 1-row global total broadcast back over the part frame",
      "q_multi_supp_orders" -> "in-aggregate culprit: ONE lineitem scan+shuffle, no probe join, TakeOrdered",
      "q_min_price_supplier" -> "offers aggregate + per-part min WINDOW (no self-join, single corpus exchange)",
      "q_subquery_rate" -> "nested PromQL subquery: corpus shuffles once, outer fold re-exchanges the aggregated frame only",
      "q_disjunctive" -> "OR-of-AND predicate with the part-side weakening explicitly pre-pushed to the dim scan",
      "q_dsir" -> "per-doc HOF importance fold: zero exchanges, corpus never leaves the map side",
      "q_dup_span" -> "positioned-shingle diagonal alignment: equality join + two windows on the join key",
      "q_bitext_mine" -> "in-row LSH bucketing, capped bucket join, top-1 rank on the joined frame",
      "q_late_ship_priority" -> "Q4 EXISTS as LEFT SEMI with the correlated date predicate in the join condition; quarter filter pushed",
      "q_small_qty_revenue" -> "Q17 decorrelated onto a window over the brand-broadcast slice: lineitem scanned once",
      "q_band_revenue" -> "Q6 full-pushdown scan benchmark: zero joins, bands ahead of one aggregate",
      "q_sum_rate" -> "recording-rule composite: series shuffle reused by window+first agg, rollup re-exchanges the aggregated frame only",
      "q_unigram_lp" -> "vocab-sized LM table, token-hash join, map-side-combined per-doc fold",
      "q_metrics_id_city" -> "bit-exact cityHash64 row ids: one codegen'd projection, zero exchanges",
      "q_ship_volume" -> "Q7 matrix: dims broadcast into the date-sliced fact, one fact-fact shuffle",
      "q_returned_items" -> "Q10: aggregate-first per order, orderkey join reuses the agg partitioning, TakeOrdered top-20",
      "q_top_supplier" -> "Q15: global-window max over the |suppliers|-bounded aggregate — ONE lineitem scan",
      "q_ivf_pq" -> "ADC scan: corpus carries id+code only, broadcast query LUTs, group-limit rank",
      "q_knn_classify" -> "kNN vote: in-row bucket projection, capped bucket self-join, heap top-3 + map-side vote agg",
      "q_label_centroid" -> "per-label centroid: |labels|·d-bounded aggregate broadcast back, zero corpus self-joins",
      "q_absent" -> "instant absent(): watch-list disjunction in PushedFilters, WindowGroupLimit rank",
      "q_ccnet_bucket" -> "LM terciles: 1-row exact-percentile broadcast back over the doc-level score frame",
      "q_last_over_time" -> "argMax downsampling: ONE map-side-combinable HashAggregate, zero Sort nodes",
      "q_autocorr" -> "lag window + Pearson aggregation share one series exchange",
      "q_dataset_card" -> "count-distincts ride one multi-distinct Expand pass, single corpus scan",
      "q_ngram_novelty" -> "first-occurrence attribution: sh-keyed distinct/agg/join, no self-join, |sources|-bounded tail",
      "q_bench_leakage" -> "reverse contamination: constant-size benchmark broadcast, |bench|-bounded aggregate tail",
      "q_vocab_growth" -> "Heaps curve: constant prefix bound in PushedFilters, 3-row prefix frame broadcast",
      "q_bigram_lp" -> "bigram LM: rides the materialized docBigrams/bigramCounts family frames (zero parquet scans; the lineage kernel is posexplode + lead window — one hash per token, r11)",
      "q_jaccard_curve" -> "threshold curve: columnar 16-component signatures (no Generate), keyed pair joins, 1-row out",
      "q_embed_norm_hist" -> "norm histogram: one projection over the quantized frame, partial+final digit aggregate",
      "q_limitk" -> "limitk/limit_ratio: |series|-bounded rank window + codegen'd hash flag over the instant vector",
      "q_ivf_probe_curve" -> "nprobe dial: constant |Q|·K probe ranking, cell-keyed candidates off the shared assignment, tier explode above the join",
      "q_pipeline_funnel" -> "loss accounting: materialized clusters + flag projections, doc_id-keyed joins, ONE aggregation pass to one row",
      "q_contam_by_source" -> "contamination triage: |hits|-bounded left join, |sources| aggregate, global share via 1-row window",
      "q_histogram_stddev" -> "midpoint-spread estimator: one events scan, bucket window + (name,window) aggregate",
      "q_token_drift" -> "per-source TV drift: corpus shuffles once into (source,th), vocab/total frames derive and broadcast",
      "q_colloc_pmi" -> "collocations: in-row bigrams, sub-corpus vocab joins, 1-row N broadcast, TakeOrdered top-20",
      "q_cdc_chunks" -> "content-defined chunking: one corpus posexplode, boundary cumsum on the doc key, 8-byte sig shuffle",
      "q_sq8_error" -> "scalar quantization: corpus posexplode, d-row min/max broadcast back, zero self-joins",
      "q_mrl_recall" -> "Matryoshka recall: |Q|-by-tiers broadcast, one corpus stream, |Q|-bounded tail",
      "q_gorilla_bits" -> "Gorilla cost: one events scan, both lag windows + aggregate on one series exchange",
      "q_split_leakage" -> "split leakage: pure-projection split fate, pair-frame scan, |splits|-bounded broadcast joins",
      "q_source_overlap" -> "source overlap: materialized pair frame, 8-byte-id source joins, |sources|^2 tail",
      "q_filter_sweep" -> "threshold sweep: corpus collapses to the word-length histogram, broadcast non-equi threshold join",
      "q_hapax_share" -> "hapax share: shared materialized token/tf frames, 8-byte-hash join, per-doc fold",
      "q_kmeans_shift" -> "Lloyd shift: K-d-bounded centroid-vs-seed join off the shared assignment",
      "q_native_hist" -> "native-histogram build: one events scan, in-row bit-length index math, map-side bucket counts",
      "q_native_quantile" -> "native quantile: shared bucket frame, per-group cumulative window, 2-row phi broadcast",
      "q_native_stats" -> "native layout: one base aggregate + span runs over the shared bucket frame, left join on the bounded frames",
      "q_native_fraction" -> "native fraction: shared bucket frame, 2-row bound broadcast, single straddler term in one aggregate",
      "q_ann_served" -> "served IVF: parquet posting-list scan, hot-cell cap, cell-equality join — NO assignment argmax",
      "q_rank_fusion" -> "RRF: union of the two materialized result lists, 8-byte-key groupBy, per-query top-3 window — zero corpus scans",
      "q_hard_negatives" -> "hard negatives: labels ride the vector scan, constant query broadcast, K*n pair loop",
      "q_tokenizer_fertility" -> "fertility: scan + per-row HOF arithmetic + |langs| aggregate, no window, no join",
      "q_vocab_coverage" -> "coverage: vocab-sized tf frame, global rank window on the bounded frame, 2-row K broadcast",
      "q_native_wide" -> "wide schemas: one events scan, in-row boundary-table array filters (plan-time literals), map-side bucket counts — no join (r9)",
      "q_native_custom" -> "NHCB build: one events scan, constant-bound-list bucket lookup in-row, map-side counts (r9)",
      "q_edit_verify" -> "edit verify: banded candidate pairs joined to texts — candidate-bounded, never an all-pairs document join (r9)",
      "q_contam_embed" -> "embedding decontamination: constant benchmark broadcast, native vec_dot argmax, one corpus scan (r9)",
      "q_mix_temperature" -> "temperature mixing: |sources|-bounded aggregate + one tiny unpartitioned window over ~20 rows (r9)",
      "q_downsample" -> "retention rollup: first/last window and groupBy share ONE (series,window) exchange (r9)",
      "q_at_modifier" -> "@ pinning: both lookback arms push to PushedFilters, |series|-sized full outer join (r9)",
      "q_slo_burn" -> "burn rate: one 3d-sliced scan, conditional aggregation serves both windows — no second pass (r9)",
      "q_gap_fill" -> "gap fill: constant grid union + one ignore-nulls window pass, no join (r9)",
      "q_seq_match" -> "sequence match: one type-filtered scan, lag + running-last windows on one user shuffle (r9)",
      "q_anomaly_zscore" -> "rolling z-score: join-free, three rolling aggregates on ONE series exchange, all-integer flag (r9b)",
      "q_seasonal_baseline" -> "seasonal baseline: plan-time scalar last-day, both sides as conditional sums on one groupBy (r9b)",
      "q_topk_movers" -> "biggest movers: 48h slice in PushedFilters, conditional window sums, TakeOrdered top-5 (r9b)",
      "q_wau_rolling" -> "rolling WAU: constant-width day explode over the deduped (user,day) frame — never a range self-join (r9b)",
      "q_funnel_time" -> "time-to-convert: anchor windows share one user exchange, hour-bucket histogram tail (r9b)",
      "q_boilerplate" -> "boilerplate profile: per-source chunk df, only 8-byte hashes shuffle, two bounded rollups (r9b)",
      "q_gate_venn" -> "gate Venn: one qFilter scan, 16-row mask aggregate, 1-row total window (r9b)",
      "q_cohort_ltv" -> "cohort LTV: one orders scan, cohort quarter via window (no rejoin), span²-bounded cells (r9f)",
      "q_basket_pairs" -> "basket pairs: (order,part) self-join with ReusedExchange, min-support before freq joins, TakeOrdered top-50 (r9f)",
      "q_mattr" -> "MATTR: per-row slice/distinct HOF arithmetic, zero exchanges, pruned 3-column read (r9f)",
      "q_bloom_contam" -> "Bloom pre-filter: m-bounded bit-set broadcast, probe joins never shuffle the corpus (r9f)",
      "q_pack_sweep" -> "pack sweep: one chunk scan, shared shard window, ×3 constant explode, no per-bin grouping (r9f)",
      "q_weighted_sample" -> "weighted sample: TopKPerKey bounded heap per source, zero sort nodes (r9f)",
      "q_source_chi2" -> "chi-square drift: shared (source,th) aggregate, totals broadcast, |sources|-bounded tail (r9)",
      "q_distinct_ngrams" -> "diversity: unigram half on the shared tf frame, in-row bigrams, map-side-combined counts (r9)",
      "q_bm25" -> "BM25: shared token explode, plan-time hashed terms, 3-row df + 1-row stats broadcasts (r9)",
      "q_power_iter" -> "power iteration: native vec_dot + vec_sum, ONE d-buffer merge exchange, explode above the agg (r9)",
      "q_token_entropy" -> "token entropy: shared docTokens explode, (doc,type)-bounded 8-byte-hash shuffles (r9)",
      "q_cms_topk" -> "CMS heavy hitters: 192-row sketch broadcast against the vocab, top-10 rank window (r9)",
      "q_ndcg" -> "retrieval scorecard: materialized |Q|*5 list broadcast, two label-column joins, |Q| tail (r9)",
      "q_ann_filtered" -> "filtered search: label In-predicate in PushedFilters, |Q| broadcast, K*n' loop (r9)",
      "q_alert_for" -> "alert for-duration: ONE events scan, join-free explode + island windows (r9)",
      "q_simhash_pairs" -> "simhash dedup: materialized signature frame, capped band self-join, in-row Hamming verify (r9)",
      "q_mmr" -> "MMR re-rank: zero parquet scans — broadcast-filtered candidate vectors, constant-frame greedy joins (r9)",
      "q_kn_bigram" -> "Kneser-Ney LM: shared positioned-bigram family frames (zero parquet scans in the registered plan; the lineage twin scans once via window-exchange reuse, r11), 8-byte-hash LM joins",
      "q_ks_drift" -> "KS drift: ONE documents aggregate feeds per-value/per-source/total frames, broadcast value-space grid, per-source ECDF windows (r9g)",
      "q_kmv_union" -> "KMV sketches: ONE corpus pass into the TopKPerKey bottom-64 heap; union/pair stages run on the 320-row sketch frame (mergeable-sketch algebra) (r9g)",
      "q_theil_sen" -> "Theil-Sen trend: minute-downsample windows then a KEYED (series,hour) pair self-join — never cartesian (r9g)",
      "q_forecast_revenue" -> "Q6 forecast: ALL THREE predicates (date range, raw-column discount band, quantity) in PushedFilters, one scan, zero joins (r11)",
      "q_rollup_tiers" -> "tiered compaction: ONE events scan, 5m blocks re-aggregated to the 1h tier — aggregation-only plan (r10)",
      "q_scrape_jitter" -> "gap stats: one scan, one (series)-keyed lag window, algebraic n/S1/S2 groupBy (r10)",
      "q_staleness" -> "per-series max + ts-only global max broadcast back as a 1-row frame (r10)",
      "q_pareto" -> "nation-partitioned ranking window over the per-customer aggregate; 25-row dim broadcast (r10)",
      "q_dup_ngram_frac" -> "duplication score: linear df groupBy on the gram hash, equi-join back — no pair join (r10)",
      "q_affix_dup" -> "affix groups: two projections of one scan, UNION, one groupBy — zero joins (r10)",
      "q_length_outliers" -> "MAD outliers: three consumers ride the materialized doc-lens frame; build is one corpus scan (r10)",
      "q_ivf_imbalance" -> "one-row aggregate over q_ivf_cells' K rows on the shared assignment — embeddings never rescanned (r10)",
      "q_stale_markers" -> "staleness markers: one lead() window pass on the series shuffle, gap + final rows filtered in place — no join, no grid (r10)",
      "q_backlog" -> "backlog cumsum over the |days|-bounded daily aggregate; status filter in PushedFilters (r10)",
      "q_ship_lag" -> "co-partitioned fact-fact orderkey equi-join, floor-division lag buckets, bounded output (r10)",
      "q_verify_cost" -> "LSH verify pre-flight: one aggregate over the banded signature frame × a broadcast 8-row ladder — 8 rows out, no pairing (r12)",
      "q_host_dedup" -> "one documents scan → map-side-combinable (host, fp) collapse → host-sized rollup; corpus share from a window over the rollup, never a second scan (r12)",
      "q_contam_delta" -> "rides the persisted-index probe output: candidate-bounded frames only, one base-source join, no cartesian (r12)",
      "q_nhcb_rate_q" -> "stacked rate→quantile on the materialized NHCB frame: the composition's 3 frame references are RDD-scan reuses, zero fresh events scans (r12)",
      "q_cross_neardup" -> "incremental near-dup: shard bands equi-join the PERSISTED base bucket parquet (base never re-paired), candidate-bounded sig joins (r11)",
      "q_probe_served" -> "served nprobe curve: three |Q|-bounded AnnIndex.query plans over the persisted posting parquet, broadcast centroid argmax, no corpus self-join (r11)")

    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit evidence (generated by graft.PlanDump)\n\n")
    sb.append(s"Source SF: `$sfDir`. Claims these plans support are in SURVEY.md §6.\n")
    sb.append("Note: at this SF the optimizer size-gates most joins to broadcast;\n")
    sb.append("the audit point is that only fixed-cardinality dims are FORCED.\n\n")
    // materialize-once queries return a checkpointed RDD scan — dump
    // the underlying PLAN (the thing the audit makes claims about)
    val planOverrides: Map[String, (SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = Map(
      "q_dedup_ngram" -> (graft.operators.Dedup.ngramPairsPlan _),
      "q_unigram_lp" -> (graft.operators.TextAnalysis.unigramLpPlan _),
      "q_embed_cosine_topk" -> (graft.operators.Similarity.qEmbedCosineTopkPlan _),
      "q_ann_lsh" -> (graft.operators.Similarity.qAnnLshPlan _),
      "q_minhash_lsh" -> (graft.operators.Dedup.bandPairsPlan _),
      "q_ann_ivf" -> (graft.operators.Similarity.qAnnIvfPlan _),
      "q_ks_drift" -> (graft.operators.TextAnalysis.ksDriftPlan _),
      "q_kmv_union" -> (graft.operators.Dedup.kmvSketchPlan _),
      "q_kn_bigram" -> (graft.operators.TextAnalysis.knBigramPlan _),
      "q_bigram_lp" -> (graft.operators.TextAnalysis.bigramLpPlan _))
    audited.foreach { case (name, why) =>
      val df = planOverrides.getOrElse(name, SparkEntry.queries(name))(spark, sfDir)
      sb.append(s"## $name — $why\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb.append("```\n\n")
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    println(s"[plandump] wrote $outFile")
    spark.stop()
  }
}
