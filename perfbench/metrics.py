"""Metric names, units and the result line."""

from __future__ import annotations

from perfbench.workloads import QUERY_LAYERS

END_TO_END_UNITS = {
    "setup_s": "s",
    "pages_per_s": "1/s",
    "round_p50_s": "s",
    "ops_s": "s",
}
# the end-to-end metrics on each workload's result line
END_TO_END = {
    "bfs_crawl": ("setup_s", "pages_per_s", "round_p50_s"),
    "polite_resume": ("setup_s", "pages_per_s", "round_p50_s"),
    "corpus_ops": ("setup_s", "ops_s"),
}

PER_LAYER = [
    "session.start_s", "synth.corpus_s",
    "frontier.round_s", "frontier.jobs_per_round", "frontier.stages_per_round",
    "frontier.tasks_per_round", "frontier.fetch_s", "frontier.fetch_hit_ratio",
    "politeness.pop_s", "politeness.popped_rows", "politeness.cap_dropped_rows",
    "udfs.parse_s", "udfs.parse_rows", "extract.parse_page_us",
    "filters.filter_s", "filters.pass_ratio",
    "seen.claim_s", "seen.dedup_s", "seen.bloom_add_s", "seen.dedup_drop_ratio",
    "seen.shard_mb",
    "state.write_s", "state.commit_mb", "state.files_per_commit", "state.load_s",
    *(f"{layer}.{q}_s" for q, layer in QUERY_LAYERS.items()),
    "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_write_mb",
    "trace.overhead_ratio",
]


def unit(name: str) -> str:
    if name in END_TO_END_UNITS:
        return END_TO_END_UNITS[name]
    for suffix, u in (("_s", "s"), ("_us", "us"), ("_mb", "MB"), ("_ratio", "ratio")):
        if name.endswith(suffix):
            return u
    return "count"


def zero_layers() -> dict:
    """Every per-layer metric at 0: a layer a workload does not run
    reports no work."""
    return dict.fromkeys(PER_LAYER, 0.0)


def query_layer_metrics(tracer) -> dict:
    """Median wall of each query of the corpus-ops list that was traced."""
    out = {}
    for q, layer in QUERY_LAYERS.items():
        if tracer.durations(f"{layer}.{q}"):
            out[f"{layer}.{q}_s"] = tracer.median(f"{layer}.{q}")
    return out


def result(values: dict, checks, workload: str, traced: bool) -> dict:
    names = PER_LAYER if traced else END_TO_END[workload]
    return {
        "correct": not checks.failed,
        "attempted": checks.attempted,
        "failed": len(checks.failed),
        "metrics": {n: {"value": float(values[n]), "unit": unit(n)} for n in names},
    }
