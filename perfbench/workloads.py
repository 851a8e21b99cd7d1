"""The benchmark's workloads: registry pipelines run one after another
in one driver process (a closed loop with one client). Why each one is
in the benchmark is recorded in BENCHMARK.json."""

WORKLOADS: dict[str, tuple[str, ...]] = {
    # scan, shuffle, hash aggregation and joins in generated code; no
    # eager jobs, no materialize, no Python workers
    "relational": ("q1_pricing_summary", "q3_shipping_priority",
                   "q5_regional_revenue", "q9_product_profit",
                   "q21_waiting_suppliers", "op_fold", "sessionize"),
    # driver-built iterative plans whose eager loop jobs dominate, plus a
    # partitioned write and read-back
    "iterative": ("lpa_communities", "pagerank", "upsert_partitioned"),
    # Arrow/Python workers, wide-text hashing, a persisted index
    "python_text": ("dedup_minhash", "web_pipeline", "op_fold_stream",
                    "trigram_index_grep"),
}
