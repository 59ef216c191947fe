#!/usr/bin/env python3
"""Smoke run: every workload at its smallest size, untraced and traced.

    python3 perfbench/smoke.py [workload ...]

Asserts that each run exits 0, that its last stdout line is a result with
exactly the keys ``correct``, ``attempted``, ``failed`` and ``metrics``,
that every check passed, and that it emits exactly the metrics
``BENCHMARK.json`` names (end-to-end untraced, per-layer traced) with
their units, end-to-end values above 0. ``corpus_ops``, which
``BENCHMARK.json`` does not list, emits ``setup_s`` and ``ops_s``
untraced. Takes about ten minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("bfs_crawl", "polite_resume", "corpus_ops")
REPORT_KEYS = {
    "bfs_crawl": ("rounds", "peak_rss_mb", "check_fail_ratio"),
    "polite_resume": ("rounds", "recover_s", "peak_rss_mb", "check_fail_ratio"),
    "corpus_ops": ("query_p50_s", "peak_rss_mb", "check_fail_ratio"),
}
CORPUS_OPS_END_TO_END = [{"name": "setup_s", "unit": "s"}, {"name": "ops_s", "unit": "s"}]


def smoke(workload: str, trace: int, spec: dict) -> None:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    tag = f"{workload} trace={trace}"
    assert proc.returncode == 0, f"{tag}: exit {proc.returncode}\n{proc.stderr[-3000:]}"
    *_, report_line, result_line = proc.stdout.strip().splitlines()
    result = json.loads(result_line)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, tag
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, (
        f"{tag}: {report_line}"
    )
    if trace:
        wanted = spec["per_layer"]
    elif workload == "corpus_ops":
        wanted = CORPUS_OPS_END_TO_END
    else:
        wanted = spec["end_to_end"]
    got = result["metrics"]
    assert set(got) == {m["name"] for m in wanted}, f"{tag}: {sorted(got)}"
    for m in wanted:
        assert got[m["name"]]["unit"] == m["unit"], f"{tag}: unit of {m['name']}"
        if not trace:
            assert got[m["name"]]["value"] > 0, f"{tag}: {m['name']} is 0"
    if not trace:
        report = json.loads(report_line)
        for key in REPORT_KEYS[workload]:
            assert key in report, f"{tag}: report lacks {key}"
    print(f"ok  {tag}  {report_line}")


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for workload in argv or WORKLOADS:
        for trace in (0, 1):
            smoke(workload, trace, spec)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
