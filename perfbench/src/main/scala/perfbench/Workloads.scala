package perfbench

/** A fixed set of registered queries run closed loop over one input.
  * `setUpQuery` is run once, untimed, in every set-up: the first result
  * the engine delivers after a session starts.
  */
final case class Workload(name: String, input: Workloads.Input, queries: Seq[String],
    setUpQuery: String)

object Workloads {
  sealed trait Input
  /** The generated tables as written by `datagen.py`. */
  case object Base extends Input
  /** Base tables with documents and embeddings copied ten times. */
  case object Corpus10x extends Input

  /** The reference's batch EDA and serving queries: every query of
    * `analyze.Eda`, `enrich.EnrichQueries`, `serve.ServeQueries` and
    * `ml.MlPrepQueries`.
    */
  val BatchServing: Seq[String] = Seq(
    "q01_count_by_type", "q02_count_type_hour", "q03_grouped_sums", "q04_topk",
    "q05_top1_per_group", "q06_running_count", "q07_union_shards", "q08_star_join",
    "q09_semi_join", "q10_anti_join", "q11_filter_project", "q12_cast_bucket",
    "q13_correlated_subq", "q14_date_parts", "q15_cond_bucket", "q16_date_roundtrip",
    "q17_limit_slice", "q18_zscore_anomaly", "q19_mean_std", "q20_popularity_topk",
    "q21_distinct_agg", "q22_lag_delta", "q23_rank_topn", "q24_salted_agg",
    "q25_rollup", "q26_pivot_counts", "q27_approx_distinct", "q28_setops",
    "q29_range_ntile", "q37_sentiment", "q38_enrich_block", "q39_serving_quality",
    "q40_json_roundtrip", "q76_range_join", "q77_window_extras", "q78_date_math",
    "q79_map_explode", "q89_outer_joins", "q91_array_hof", "q92_conditional_aggs",
    "q93_unpivot", "q94_gap_fill", "q96_histogram", "q97_cube", "q98_typed_dataset",
    "q100_corr", "q104_dataset_split", "q105_class_balance", "q106_minmax_scale",
    "q109_time_decay", "q115_feature_hash", "q116_onehot", "q117_robust_scale",
    "q121_kfold", "q151_ols_trend", "q202_local_supplier_revenue", "q203_pivot",
    "q218_cohort_retention", "q231_attribution", "q233_bootstrap_ci",
    "q237_ewma_chart", "q241_rolling_percentiles", "q242_weighted_percentiles",
    "q245_leadlag_corr", "q246_benford_audit", "q248_hll_registers")

  /** Sampling rule of `lambda_batch`: the 66 [[BatchServing]] queries
    * ranked by their median latency in a traced `lambda_all` run at the
    * benchmark's inputs (perfbench/README.md has the ranking), and every
    * eighth one taken from rank 4 (ranks 4, 12, ..., 60), so that the
    * sample spans the latency distribution evenly.
    */
  val LambdaSample: Seq[String] = Seq(
    "q20_popularity_topk", "q01_count_by_type", "q06_running_count",
    "q15_cond_bucket", "q09_semi_join", "q121_kfold", "q03_grouped_sums",
    "q245_leadlag_corr")

  /** The dedup family that `curation_x10` runs. */
  val Dedup: Seq[String] = Seq("q58_dup_clusters", "q42_jaccard_pairs", "q176_jaccard_keep")

  val all: Seq[Workload] = Seq(
    // The reference's Lambda path: a latency-stratified sample of the
    // batch EDA and serving queries (see `LambdaSample`), whose cost is
    // per-query driver work, plus the speed layer's streaming upsert into
    // the serving store (micro-batches, state and graft-store commits).
    Workload("lambda_batch", Base, LambdaSample :+ "q251_store_stream_sink",
      LambdaSample.head),
    // Corpus curation on a duplicate-heavy corpus: kernels, shuffles and
    // the dedup algorithms' growth with data.
    Workload("curation_x10", Corpus10x, Dedup, Dedup.head),
    // Diagnostic workloads, not in BENCHMARK.json: the full batch/serving
    // set the sample stands for, and the dedup family on the 1x corpus
    // for its growth factor.
    Workload("lambda_all", Base, BatchServing, BatchServing.head),
    Workload("curation_x1", Base, Dedup, Dedup.head))

  def byName(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name'; expected one of ${all.map(_.name).mkString(", ")}"))
}
