package perfbench

/** The `query_mix` rows: one row of every query module of `SparkEntry`
  * (the ANN and BM25 index probes s05 and t32 among them) plus a second
  * lake-SQL row from t40-t57, sized so that set-up and one pass fit the
  * benchmark's run budget (48 runs in 3420 s) on 4 vCPUs. */
object MixRows {
  val rows: Seq[String] = Seq(
    "q01_pricing_summary", // Relational
    "q15_sessionize", // Events
    "q29_funnel", // EventAnalytics2
    "q19_count_distinct", // Stats
    "q26_asof_join", // Advanced
    "q52_market_share", // Subqueries
    "t01_token_stats", // Text
    "d01_exact_dedup", // Dedup
    "s05_ann_index", // Similarity
    "mm01_binary_meta", // Multimodal
    "t48_lake_sql", "t56_lane_read", // Corpus (lake SQL)
    "t32_bm25_probe", // Search
    "q63_rbac_roles") // Security
}
