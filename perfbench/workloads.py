"""The benchmark's workloads: which queries, layouts and inputs each one uses.

A run must finish within 180 s and the whole benchmark (4 + 22 runs per
workload) within an hour, while one warm pass over a complete query family
takes 40-80 s at sf0.01 on a 4-core host, after minutes of set-up. So each
workload times a fixed subset of its families, chosen to cover their layers
and the layouts they read.

`data` names a directory under perfbench/data, a copy of the project's
deterministic test tables at that scale factor. `queries` are registry
names. `layouts` are the layout families cold-built in set-up
(Harness.layouts). `tables` are the source tables the queries read: the
base of layout_amp.
"""

WORKLOADS = {
    # Flight-analytics relational shapes whose sub-second walls are mostly
    # per-query fixed cost, plus the queries that read each cheap olap
    # layout (csv/json/avro/orc ingest, PageRank graph, standing view,
    # bucketed tables) and one query through the SQL parser.
    "olap": dict(
        queries=("q01_pricing_summary", "q04_star_join", "q07_window_rank", "q12_rollup",
                 "q21_sessionize", "q23_csv_ingest", "q24_sql_revenue", "q26_json_ingest",
                 "q47_group_topk", "q53_avro_ingest", "q73_pagerank",
                 "q84_incremental_join", "q88_orc_ingest", "q95_bucketed_join"),
        layouts=("csv", "json", "avro", "prgraph", "ivmview", "orc", "bucketed"),
        data="sf0.01",
        tables=("region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events", "documents")),
    # Training-data pipeline operators: dedup (shingle, simhash, phash),
    # similarity (brute force, IVF), text scoring, and streaming ingest
    # (AvailableNow aggregation, enrichment join, dedup state, merge
    # upsert) over indexes cold-built in set-up.
    "pipeline": dict(
        queries=("dd2_ngram_jaccard", "dd4_simhash", "ss1_brute_topk", "ss3_ivf_ann",
                 "tx3_langid", "tx9_pii_redact", "tx13_tfidf", "tx28_boilerplate_lines",
                 "mm5_phash_neardup", "st1_stream_counts", "st2_stream_enrich",
                 "st7_stream_dedup"),
        layouts=("shidx", "blidx", "simidx", "phidx", "ann_ivf", "ann_ivf_delta"),
        data="sf0.01",
        tables=("documents", "embeddings", "events")),
}

QUERY_FAMILIES = ("q", "dd", "ss", "tx", "mm", "st")

# Every layout family some workload builds, each once.
LAYOUT_FAMILIES = tuple(dict.fromkeys(f for w in WORKLOADS.values() for f in w["layouts"]))
