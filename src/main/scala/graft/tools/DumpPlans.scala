package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Regenerates PLANS.md: `explain("formatted")` of the headline queries
  * so plan shape (pushdown, broadcast, partial aggs, codegen spans) is
  * reviewable without running anything.
  *
  *   sbt 'runMain graft.tools.DumpPlans'
  */
object DumpPlans {
  val Headline = Seq(
    "o30_prescriptive", "q6_trend", "q7_scalar_subquery", "o25_join_enrich",
    "o13_latest_snapshot", "d3_lsh_pairs", "s1_ann_brute", "s2_ann_lsh",
    "x1_asof_join", "x2_kmv_distinct", "x3_salted_agg", "q21_running_window",
    "q22_sessionize",
    // round 3: the new scale-sensitive shapes
    "q9_limit_scan", "d4_ngram_jaccard", "s3_cosine_neardup",
    "d9_decontaminate", "d10_purge", "d11_simhash_neardup", "s5_quantize",
    "t7_train_split", "t9_repetition", "x4_range_join",
    "q28_exact_percentiles",
    // round 3 continuation: set ops / cube / decorrelation / range + PQ
    "q31_setops", "q32_cube", "q34_corr_subquery", "x5_interval_overlap",
    "s7_pq_code", "d12_minhash_calibration",
    "d13_incremental_dedup", "t12_hash_features", "x6_countmin", "mt4_fk_audit",
    "p2_training_corpus",
    "d14_dedup_verdict", "x7_typed_aggregator", "q38_unpivot",
    "q39_generator_outer", "q40_session_window",
    // round 5: bloom prefilter, grouping sets, canonicalization
    "x8_bloom_semijoin", "q41_grouping_sets", "t13_normalize",
    "q23_approx_sketches", "x9_bucketed_join", "q42_exact_moments",
    // round 6: custom top-k plan node, lateral decorrelation, recursion,
    // exchange reuse, ORC round-trip
    "x10_topk_pergroup", "q45_lateral", "q46_recursive_cte",
    "x11_exchange_reuse", "mt8_orc_roundtrip",
    // round 6 continuation: two-stage retrieval, template removal,
    // composite quality gate, containment dedup
    "s9_ann_multiprobe", "t17_boilerplate", "t18_quality_gate",
    "d16_containment", "p4_curation_pipeline",
    // round 6 final: runtime partition pruning, salted skew join,
    // value-range frames, LOCF
    "x12_dpp", "x13_salted_join", "q47_value_range_frame",
    "q48_locf_ignore_nulls",
    // round 7: z-order audit, sign-sketch retrieval, leakage audit +
    // cluster-aware remedy, exact median/mode, order-pinned listagg
    "mt14_zorder", "s11_hamming_rerank", "t20_split_leakage",
    "d19_cluster_split", "q49_median_mode", "q50_string_agg",
    // round 8: trained IVF (k-means) + its recall eval, URL dedup
    "s12_kmeans_train", "s13_trained_recall", "d20_url_dedup",
    // round 9: ratio-to-report (window AFTER aggregation — the teachable
    // single-partition-window-is-fine form)
    "q37_share_of_total",
    // round 12: shuffle-free bigram pairing (arrays_zip over sliced
    // token arrays — no window sort over the token stream), the
    // corpus-scale 128-bit simhash banding, and the bitmask overlap
    // audit (one corpus shuffle, no shingle self-join)
    "t15_bigram_lm", "d11c_simhash_wideband", "d17_source_overlap",
    // round 15: t14 joins the widened-token-source family (4.7× at a
    // starved sf100); st13's anti join is now size-conditional —
    // broadcast below St13BroadcastSeenMaxBytes, shuffled above
    "t14_tfidf", "st13_stream_anti_join")

  def main(args: Array[String]): Unit = {
    // The SHIPPED session conf (round-10 verdict task 4): Bench.session
    // is the one builder the measurement surface runs under — AQE with
    // the max(1024, 8·cores) initialPartitionNum width ceiling, each
    // exchange's map side sized from its input bytes, UTC. Dumping
    // plans under any other conf documents a configuration nothing
    // certifies.
    val spark = graft.Bench.session(graft.Bench.Cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of the headline queries\n\n")
    sb.append("Generated by `graft.tools.DumpPlans` at sf0.001 (plan shape is\n")
    sb.append("SF-independent) under the shipped `Bench.session` conf. Things to\n")
    sb.append("check: `PushedFilters`/`ReadSchema` on every scan,\n")
    sb.append("`BroadcastHashJoin` on dim joins, paired partial/final\n")
    sb.append("`HashAggregate`, `WholeStageCodegen` spans, no `CartesianProduct`.\n")
    sb.append("Plans are printed before they run: an exchange over a file scan\n")
    sb.append("shows the width `graft.plans.ExchangeSizing` gave it (at this\n")
    sb.append(s"scale, the ${spark.sparkContext.defaultParallelism} cores of the machine that wrote this file); one\n")
    sb.append("whose input is not measured yet shows the ceiling until it runs.\n")
    Headline.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${Headline.size} plans)")
    spark.stop()
  }
}
