"""Workload definitions for perfbench/run.py.

Each query maps to the operator object that owns it in
`graft.SparkEntry.queries` (the `module.<Object>_s` layer metric) and,
where it applies, to the I/O layer it exercises: `sink` (Sinks,
Versioned, MaterializedView writes), `source` (JDBC and REST sources) or
`stream` (microbatch drains). The seed only permutes the order in which
a workload's queries run; the inputs are fixed `graft.GenData` output.
"""

# One GenData scale for both workloads: at this size the queries are
# bound by fixed per-query cost (build functions, eager Spark jobs,
# scheduling), the regime ROADMAP.md describes for the whole suite.
SCALE = 0.01

# Why each workload was chosen is recorded in BENCHMARK.json and
# perfbench/README.md.
WORKLOADS = {
    "etl_daily": {
        "p_snapshot": ("Relational", None),
        "s1_scan_project": ("Relational", None),
        "s2_jdbc_source": ("Relational", "source"),
        "s4_rest_source": ("RestSource", "source"),
        "p_insight_gold": ("Pipelines", None),
        "a5_count_gate": ("Aggregates", None),
        "sink_upsert_by_date": ("Sinks", "sink"),
        "sink_ctas_promote": ("Sinks", "sink"),
        "stream_dedup_feed": ("StreamingAnalogs", "stream"),
    },
    "curate_corpus": {
        "p_corpus_clean": ("Pipelines", None),
        "dedup_ngram_jaccard": ("Dedup", None),
        "text_tfidf": ("TextAnalysis", None),
        "text_bm25": ("TextAnalysis", None),
        "text_train_classifier": ("Learn", None),
        "text_classifier_score": ("Learn", None),
        "sim_topk": ("Similarity", None),
    },
}

MODULES = sorted({m for qs in WORKLOADS.values() for m, _ in qs.values()})
