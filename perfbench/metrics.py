"""Metric registry: names, units, better-direction, and for each
per-layer metric the end-to-end metric (and workload) it should move.

``BENCHMARK.json`` lists the same names; ``tests/test_perfbench.py``
keeps the two in step.

End-to-end metrics keep workload-neutral names (an *item* is a URL,
fetched or extracted): ``items_per_s`` is urls_per_s and
``cpu_s_per_kitem`` is cpu_s_per_kurl. Both are measured from outside:
rounds are delimited by the times the checkpoint commits returned, and
items are counted from the counters the oracle check has verified.
Round and crawl wall times (round_s_p50, crawl_s) moved with host steal
by up to 0.22 of their median over ten runs on a shared 4-core VM, so
they are per-layer metrics without a bound.
"""

from __future__ import annotations

import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# name, unit, better, bound, description
END_TO_END = [
    ("items_per_s", "1/s", "higher", 0.24,
     "(fetched + extracted) items of rounds >= 1, from the checked counters, "
     "per second from round 0's commit to the return of run_crawl"),
    ("cpu_s_per_kitem", "s", "lower", 0.24,
     "CPU of the whole process tree (driver, JVM, Python workers) in the "
     "timed window per 1000 items"),
    ("peak_rss_mb", "MB", "lower", 0.24,
     "peak resident memory of the process tree in the timed window, "
     "sampled every 0.25 s (the driver heap grows on demand up to 2 GB)"),
    ("setup_s", "s", "lower", 0.25,
     "process start to the timed window, less input generation: JVM and "
     "Spark start, input load, warm-up scan and first Python-UDF job"),
]

CRAWL_TABLES = ("frontier_ann", "extracted", "results", "counters", "bloom",
                "seen_compact", "hl_compact")
PHASES = ("annotate", "fetch_extract", "derived", "bloom", "compact")
PHASE_FIELDS = (("task_s", "s"), ("jvm_cpu_s", "s"), ("shuffle_write_mb", "MB"),
                ("spill_mb", "MB"), ("tasks", "count"))
HEADLINE = (
    "q1_pricing_summary", "j1_enrichment_join", "politeness_topk_per_host",
    "a3_latest_per_key", "dedup_minhash_lsh", "dedup_simhash",
    "ann_cosine_topk", "text_quality_score", "asof_join_backward",
    "sessionize_gap", "kmeans_lloyd", "tfidf_topk_terms",
)


def _per_layer() -> list[tuple[str, str, str, str]]:
    """(name, unit, better, moves). Per-round values are means over the
    rounds of the traced crawls."""
    out = [
        ("crawl.rounds", "count", "lower", "context for every crawl metric"),
        ("crawl.round_s_p50", "s", "lower",
         "median round wall time between commits; moves with items_per_s"),
        ("crawl.crawl_s", "s", "lower",
         "median run_crawl wall time; moves with items_per_s"),
        ("crawl.driver_gap_s", "s", "lower",
         "items_per_s on crawl_polite (round wall covered by no span)"),
        ("crawl.sched_ratio", "ratio", "higher",
         "scheduled / annotated rows; context for items_per_s"),
    ]
    for t in CRAWL_TABLES:
        moves = {
            "extracted": "items_per_s on crawl_bulk (fetch+extract)",
            "frontier_ann": "items_per_s on crawl_polite (annotate)",
            "counters": "items_per_s on crawl_polite",
        }.get(t, "items_per_s on both crawls")
        out.append((f"checkpoint.stage_s.{t}", "s", "lower", moves))
    out.append(("checkpoint.commit_s", "s", "lower", "items_per_s on both crawls"))
    for t in CRAWL_TABLES:
        out.append((f"checkpoint.bytes.{t}", "B", "lower",
                    "stage_s of the same table"))
    for p in PHASES:
        for f, unit in PHASE_FIELDS:
            out.append((f"{p}.{f}", unit, "lower",
                        f"checkpoint spans of the {p} phase, split into "
                        "compute and shuffle"))
    out += [
        ("proc.jvm_cpu_s", "s", "lower", "cpu_s_per_kitem (per 1000 items)"),
        ("proc.pyworker_cpu_s", "s", "lower",
         "cpu_s_per_kitem on crawl_bulk (per 1000 items)"),
        ("proc.driver_py_cpu_s", "s", "lower", "cpu_s_per_kitem (per 1000 items)"),
        ("host.steal_pct", "%", "lower", "recorded, not gated"),
        ("pages.scan_s", "s", "lower",
         "items_per_s on both crawls"),
        ("udfs.extract_s_per_kpage", "s", "lower",
         "items_per_s and cpu_s_per_kitem on crawl_bulk; no change on crawl_polite"),
        ("kernels.parse_us.mirror_index", "us", "lower", "items_per_s on crawl_bulk"),
        ("kernels.parse_us.mirror_article", "us", "lower", "items_per_s on crawl_bulk"),
        ("kernels.parse_us.toi", "us", "lower", "items_per_s on crawl_bulk"),
        ("urls.canonicalize_us", "us", "lower", "items_per_s on crawl_polite"),
        ("urls.domain_us", "us", "lower", "items_per_s on crawl_polite"),
        ("robots.allowed_us", "us", "lower",
         "items_per_s on crawl_polite; robots is idle on crawl_bulk"),
        ("seen.probe_ns", "ns", "lower", "items_per_s on crawl_polite"),
        ("seen.bloom_build_s", "s", "lower", "items_per_s on crawl_polite"),
    ]
    # the functions.* layer, timed in crawl_bulk's traced run: no crawl
    # change should move it
    for q in HEADLINE:
        out.append((f"textops.q.{q}_s", "s", "lower", "no crawl metric"))
        out.append((f"textops.q.{q}.jvm_cpu_s", "s", "lower", "no crawl metric"))
    out += [
        ("trace.items_per_s", "1/s", "higher",
         "tracing overhead = items_per_s (untraced) - trace.items_per_s"),
    ]
    return out


PER_LAYER = _per_layer()


def benchmark_json() -> dict:
    """The BENCHMARK.json this registry implies."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bd}
                       for n, u, b, bd, _d in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b}
                      for n, u, b, _m in PER_LAYER],
    }


RUN_SECONDS = 20
WORKLOADS = [
    ("crawl_bulk",
     "throughput crawl (no budget, no robots, bucketed fetch join), ~9k items a "
     "round: fetch+extract spans ~1/3 of a round, annotate and derived writes "
     "the rest"),
    ("crawl_polite",
     "budget 50 binds on most of 20 domains, robots on all: the deferred backlog "
     "is annotated again each round; annotate spans ~40% of a round, "
     "fetch+extract ~25%"),
]
