"""Metric catalogue: every metric the benchmark reports, and for each
per-layer metric the end-to-end metric and workload it should move.

BENCHMARK.json holds only names, units and directions; this module is
where the layer -> end-to-end -> workload map is written down, so that a
change claiming a gain on one layer can say beforehand which number
should move where, and where the prediction is "no change".

End-to-end metrics (tracing off), reported on every workload:
  setup_s      everything before the timed region: the one session
               start-up (get_spark, which launches the JVM, + warmup)
               plus the workload's warm-up pass (crawl_polite: frontier
               init + round 0; query_suite: every query once, cold,
               four at a time)
  step_p50_s   median wall of one timed step: a run_iteration call
               (crawl_polite) or one pass over all 34 queries
               (query_suite)
  peak_rss_mb  driver JVM VmHWM + the largest Python worker VmHWM
"""

from __future__ import annotations

WORKLOADS = {
    "crawl_polite": (
        "250 seed titles keep each page host past its 64-page budget: every timed round "
        "fetches 4 x 64 pages and no media, whatever the seed; the post-fetch floor "
        "(staging, discover, commit) is most of a round"
    ),
    "query_suite": (
        "34 read-only queries on the small sf0.01 tables: times per-query driver "
        "planning and scheduling (cores ~80% idle), not operator compute; no crawl "
        "loop or TableIO, so crawl changes predict no change"
    ),
}

END_TO_END = [
    # name, unit, better, bound
    ("setup_s", "s", "lower", 0.25),
    # the shared host drifts by tens of percent over minutes, so the
    # timings get the widest bound the benchmark format allows
    ("step_p50_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.1),
]

# thin staging tables whose spans and Spark jobs are reported one by one
STAGED_TABLES = [
    "fetch_log", "frontier", "seen", "images", "renditions", "video_files",
    "metrics", "dead_letter", "robots", "robots_denied", "captions",
]
# job labels (tracing.py) whose executor time is reported one by one;
# "read" merges every read.<table> label, "queries" every query.<name>
SPARK_LABELS = [
    "fetch_log", "thin_tables", "frontier", "seen", "metrics", "dead_letter",
    "robots_denied", "images", "renditions", "video_files", "run_iteration",
    "read", "queries", "unlabelled",
]


def _query_names() -> list[str]:
    # the registry's names, spelled out so the catalogue loads without
    # the engine (BENCHMARK.json is checked against it in the tests)
    return [
        "seed_dedup_sort", "seen_anti_join", "frontier_topk_per_host",
        "pagination_fanout", "rendition_fanout", "metrics_rollup",
        "distinct_seed_count", "ratings_stats", "chart_union_dedup",
        "repair_set_difference", "id_extraction", "ori_url_derivation",
        "whitespace_normalize", "count_parse", "month_sequence",
        "epoch_slicing", "join_rollup", "event_json_extract", "sessionize",
        "event_dedup_latest", "news_reversal", "dedup_exact", "fingerprint",
        "token_count", "lang_id", "quality_score", "ngram_jaccard_pairs",
        "ann_cosine_topk", "cosine_near_dups", "embedding_centroids",
        "minhash_lsh_dups", "simhash", "ann_lsh_topk", "ann_ivf_topk",
    ]


QUERY_NAMES = _query_names()

P, Q, ALL = "crawl_polite", "query_suite", "all"

# name -> (unit, better, end-to-end metric it should move, workload)
PER_LAYER: dict[str, tuple[str, str, str, str]] = {
    "session.get_spark_s": ("s", "lower", "setup_s", ALL),
    "session.warmup_s": ("s", "lower", "setup_s", ALL),
    "setup.warm_pass_s": ("s", "lower", "setup_s", ALL),
    # per timed round, median over rounds
    "crawl_loop.round_s": ("s", "lower", "step_p50_s", P),
    "crawl_loop.floor_s": ("s", "lower", "step_p50_s", P),  # round minus its fetch_log span
    "crawl_loop.self_s": ("s", "lower", "step_p50_s", P),  # round not covered by any child span
    "crawl_loop.init_s": ("s", "lower", "setup_s", P),  # frontier init: run_crawl minus its rounds
    **{f"tableio.stage_s.{t}": ("s", "lower", "step_p50_s", P) for t in STAGED_TABLES},
    "tableio.stage_calls": ("count", "lower", "step_p50_s", P),
    "tableio.commit_s": ("s", "lower", "step_p50_s", P),
    "tableio.read_snapshot_s": ("s", "lower", "step_p50_s", P),
    "tableio.read_log_s": ("s", "lower", "step_p50_s", P),
    "tableio.staged_mb": ("MB", "lower", "step_p50_s", P),
    "fused_staging.stage_thin_tables_s": ("s", "lower", "step_p50_s", P),
    # useful-per-attempt counts over the timed rounds
    "fetch.attempts": ("count", "higher", "step_p50_s", P),
    "fetch.ok_share": ("share", "higher", "step_p50_s", P),
    "fetch.retry_share": ("share", "lower", "step_p50_s", P),
    "fetch.budget_denied": ("count", "lower", "step_p50_s", P),
    "fetch.dead_letters": ("count", "lower", "step_p50_s", P),
    "frontier.pending_next": ("count", "lower", "step_p50_s", P),
    # per query, median over timed passes; predicted unchanged on crawls
    **{f"queries.{q}_s": ("s", "lower", "step_p50_s", Q) for q in QUERY_NAMES},
    "queries.pass_s": ("s", "lower", "step_p50_s", Q),
    "queries.leaked_rdds": ("count", "lower", "step_p50_s", Q),
    # Spark event log, per timed step (round or pass)
    "spark.jobs": ("count", "lower", "step_p50_s", ALL),
    "spark.idle_core_s": ("s", "lower", "step_p50_s", ALL),
    **{f"spark.{m}.{lab}": (unit, "lower", "step_p50_s", Q if lab == "queries" else P)
       for lab in SPARK_LABELS
       for m, unit in (("executor_s", "s"), ("cpu_s", "s"), ("tasks", "count"),
                       ("shuffle_mb", "MB"))},
}


def benchmark_json() -> dict:
    """The BENCHMARK.json this catalogue describes."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 25,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, u, b, bound in END_TO_END
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": b} for n, (u, b, _, _) in PER_LAYER.items()
        ],
    }
