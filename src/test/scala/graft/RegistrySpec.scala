package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry: one spec per query, every query oracle-checked,
  * and the Bench leaf set derived from it unchanged. */
class RegistrySpec extends AnyFunSuite {

  // the headline leaves Bench timed from its own hand-kept list
  private val headline = Seq(
    "q01_summary_agg", "q02_groupby_multi", "q06_spatial_sort",
    "q11_dedup_exact", "q14_langid", "q16_embedding_topk", "q17_ngram_jaccard",
    "q41_asof_join", "q42_range_join", "q43_repetition", "q44_keywords",
    "q45_decontaminate", "q46_hash_split", "q47_dedup_clusters",
    "q48_redact_pii", "q49_stratified_sample", "q50_pack_sequences",
    "q51_vocab_oov", "q52_zorder", "q53_decontaminate_bloom",
    "q54_mixture_upsample", "q55_image_quality", "q57_chunk_overlap",
    "q58_shuffle_order", "q60_dup_spans", "q61_heavy_hitters",
    "q62_gapfill_resample", "q63_exact_quantiles", "q64_lm_score",
    "q65_quantize_int8", "q66_kmeans_assign", "q67_augment_image",
    "q68_source_profile", "q69_source_overlap", "q70_tile_pyramid",
    "q71_snapshot_diff", "q72_sliding_window", "q74_cube_rollup",
    "q75_lang_pivot", "q76_curriculum_ntile", "q77_funnel",
    "q78_retention_cohort", "q79_label_centroid", "q80_event_transitions",
    "q81_hll_distinct", "q82_rrf_fusion", "q83_activity_bitmap",
    "q85_star_rollup", "q86_trend_slope", "q87_agg_merge",
    "q88_cdc_compact", "q89_source_gini", "q90_budget_apportion",
    "q91_mad_outliers", "q92_scd2_intervals", "q93_countmin_sketch",
    "q94_inverted_index", "q95_bm25_topk", "q96_sessionize",
    "q97_rank_auc", "q98_cohen_kappa", "q99_pagerank", "q100_calibration",
    "q101_ivfpq_adc", "q102_semdedup", "q103_triangle_census",
    "q104_feature_gram", "q105_pps_sample", "q107_ppjoin", "q108_mosaic_ccl",
    "q110_pca_power", "q111_negative_sample", "q117_span_coalesce",
    "q118_weighted_reservoir", "q119_containment_join", "q120_radius_join",
    "q121_collocation_lift", "q122_sorted_neighborhood",
    "q125_image_canonical", "q127_bpe_pair_stats")

  test("registry: unique names, every query has oracle SQL") {
    val names = Queries.specs.map(_.name)
    assert(names.size == 127)
    assert(names.distinct == names)
    Queries.specs.foreach(q => assert(q.oracleSql.trim.nonEmpty, q.name))
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == names.toSet)
  }

  test("registry: Bench's headline and leaf-key sets are unchanged") {
    assert(Bench.headline == headline)
    assert(Bench.leafKeys ==
      headline ++ Seq("q30_veg_flagship", "q34_irgb_fused", "q34_irgb_bucketed"))
  }
}
