"""The benchmark's specification: workloads, metrics and their bounds.

``BENCHMARK.json`` at the repository root is generated from this module:

    python3 kgbench/spec.py > BENCHMARK.json

and ``kgbench/tests/test_spec.py`` fails when the two disagree.
"""

from __future__ import annotations

import json
import re

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

COMMAND = ["python3", "kgbench/run.py"]
PATHS = ["kgbench"]
RUN_SECONDS = 5
SLOTS = 4  # local[k] with k = min(SLOTS, nproc)
FILES_PER_SLOT = 2  # staged parquet files per task slot

# Each workload: its generator and input size, the build's bucket count,
# the queries of its read round, and why it is in the benchmark.  The seed
# comes from --seed.
WORKLOADS = [
    {
        "name": "dense_circulars",
        "reason": (
            "Commit-heavy: each cycle rebuilds the graph from circulars only, so the "
            "pandas battery and the bucket pass dominate"
        ),
        "generator": "build_bench_documents",
        "docs": 2000,
        "buckets": 1,
        "reads": ["counterpart_summary", "predicate_stats"],
    },
    {
        "name": "graph_serve",
        "reason": (
            "Read-heavy: four queries per small delta tick over a crawl-mix graph with "
            "two known states, so query and delta layers dominate"
        ),
        "generator": "build_corpus",
        "docs": 4000,
        "buckets": 1,
        "reads": [
            "counterpart_summary", "grb_reaction_summary", "predicate_stats",
            "star_join_ordered",
        ],
        "slice_every": 10,  # every 10th GCN circular changes on each tick
    },
]


def why(w: dict) -> str:
    """The workload's one-line reason with its input size."""
    return f"{w['reason']}. Input: {w['generator']}({w['docs']}, seed), {w['buckets']} bucket(s)."


END_TO_END = [
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "docs_per_s", "unit": "docs/s", "better": "higher", "bound": 0.25},
    {"name": "triples_per_s", "unit": "triples/s", "better": "higher", "bound": 0.25},
    {"name": "tick_s_p50", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "read_round_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "graph_bytes_per_triple", "unit": "B", "better": "lower", "bound": 0.1},
    {"name": "workers_peak_rss_mb", "unit": "MB", "better": "lower", "bound": 0.25},
]

# Spark calls rolled up per call from the status store (traced run only).
SPARK_CALLS = [
    "streaming.incremental.run_incremental",
    "engine.pipeline.relevant_docs",
    "engine.pipeline.extract_triples",
    "engine.linking.link_entities",
    "engine.canonicalize.canonical_entities",
    "engine.graph.write_triples",
    "engine.delta.delta_reextract",
]
SPARK_COUNTERS = [
    ("wall_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("tasks", "count", "lower"),
    ("executor_run_s", "s", "lower"),
    ("executor_cpu_s", "s", "lower"),
    ("gc_s", "s", "lower"),
    ("scan_rows", "rows", "lower"),
    ("shuffle_write_mb", "MB", "lower"),
    ("slot_util", "ratio", "higher"),
]

# The read round: (layer, function) in the order the workload issues them.
QUERIES = [
    ("engine.contemplate", "counterpart_summary"),
    ("engine.contemplate", "grb_reaction_summary"),
    ("engine.kgquery", "predicate_stats"),
    ("engine.kgquery", "star_join_ordered"),
]
QUERY_LAYERS = ["engine.contemplate", "engine.kgquery"]

# Battery parts timed driver-side.  The extractors listed by name are those
# that took at least 2% of their kind's extractor time on a 1000-doc batch
# when the benchmark was defined; the rest of each kind sums into ``other``.
BATTERY_KINDS = ["gcn", "atel", "arxiv"]
BATTERY_EXTRACTORS = {
    "gcn": [
        "mentions_named", "cites", "gcn_icecube_circular", "mentions_keyword",
        "gcn_integral_countepart_search", "fermi_realtime",
        "integral_ul_old_variation", "gcn_hawc", "swift_detected",
        "swift_trigger_id", "gbm_balrog", "gcn_date",
        "gcn_grb_integral_circular", "gcn_instrument",
        "gcn_integral_lvc_countepart_search",
    ],
    "atel": [
        "mentions_named", "cites", "atel_date", "mentions_keyword",
        "atel_tags", "basic_meta",
    ],
    "arxiv": ["mentions_keyword", "basic_time_meta", "basic_meta"],
}
BATTERY_BATCH = 1000  # documents per kind
# kinds with extractors below 2%, summed into extractors.<kind>.other
BATTERY_HAS_OTHER = {"gcn": True, "atel": False, "arxiv": False}


def per_layer() -> list[dict]:
    out = []
    for call in SPARK_CALLS:
        for c, unit, better in SPARK_COUNTERS:
            out.append({"name": f"{call}.{c}", "unit": unit, "better": better})
    out.append({"name": "streaming.incremental.scan_rows_per_doc", "unit": "ratio", "better": "lower"})
    out.append({"name": "streaming.incremental.overhead_ratio", "unit": "ratio", "better": "lower"})
    for layer, fn in QUERIES:
        out.append({"name": f"{layer}.{fn}.wall_s", "unit": "s", "better": "lower"})
    for layer in QUERY_LAYERS:
        for c, unit, better in SPARK_COUNTERS[1:]:
            out.append({"name": f"{layer}.{c}", "unit": unit, "better": better})
    for kind in BATTERY_KINDS:
        out.append({"name": f"extractors.{kind}.prepare_s_per_kdoc", "unit": "s/kdoc", "better": "lower"})
        for ext in BATTERY_EXTRACTORS[kind]:
            out.append({"name": f"extractors.{kind}.{ext}_s_per_kdoc", "unit": "s/kdoc", "better": "lower"})
        if BATTERY_HAS_OTHER[kind]:
            out.append({"name": f"extractors.{kind}.other_s_per_kdoc", "unit": "s/kdoc", "better": "lower"})
    out.append({"name": "engine.pipeline.assemble_s_per_kdoc", "unit": "s/kdoc", "better": "lower"})
    out.append({"name": "engine.pipeline.valuable_filter_s_per_kdoc", "unit": "s/kdoc", "better": "lower"})
    out.append({"name": "bench.commit_self_s", "unit": "s", "better": "lower"})
    out.append({"name": "bench.trace_overhead_frac", "unit": "ratio", "better": "lower"})
    return out


def benchmark_json() -> dict:
    return {
        "command": COMMAND,
        "paths": PATHS,
        "run_seconds": RUN_SECONDS,
        "workloads": [
            {
                "name": w["name"],
                "why": why(w),
            }
            for w in WORKLOADS
        ],
        "end_to_end": END_TO_END,
        "per_layer": per_layer(),
    }


def workload(name: str) -> dict:
    for w in WORKLOADS:
        if w["name"] == name:
            return w
    raise KeyError(name)


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
