#!/usr/bin/env python3
"""Crawl benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload bfs_crawl --seed 1 --seconds 10 --trace 0

Run from the repository root. Spark runs in-process as ``local[k]``,
k = min(4, nproc), with a driver heap sized from physical RAM. Each run
gets a private scratch directory under ``.perfbench/`` for Spark local
dirs, temp files, checkpoints and Bloom shards, removed when it ends.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of one traced pass (and writes its spans to
``.perfbench/traces/``). The last stdout line is the JSON result; the
line before it is a human-readable report. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAX_CORES = 4


def _heap_mb() -> int:
    """Driver heap: an eighth of physical RAM, at most 2 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return max(512, min(2048, total_kb // 1024 // 8))


def _configure_env(scratch: str) -> None:
    """Point every temp and Spark directory at the run's scratch dir and
    size Spark from the machine. Must run before pyspark is imported."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    heap = f"{_heap_mb()}m"
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(scratch, "local"),
        # the launcher JVM that spark-submit starts first, too
        SPARK_LAUNCHER_OPTS=java_opts,
        SPARK_DRIVER_MEMORY=heap,
        SPARK_EXECUTOR_MEMORY=heap,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=(
            f'--driver-java-options "{java_opts}" '
            f"--conf spark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    )
    tempfile.tempdir = tmp
    os.environ.pop("SPARK_MASTER", None)


def _start_session(cores: int, ui: bool):
    from wikifrontier.session import get_spark

    os.environ["SPARK_GRAFT_UI"] = "true" if ui else "false"
    spark = get_spark(master=f"local[{cores}]", app_name="perfbench", shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown_spark() -> None:
    """Stop the session, then the JVM (it exits when its stdin closes) and
    wait for it; any process still left under this one is killed."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from perfbench.trace import descendants

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def _parse_page_us(n: int, pages: int = 200, repeats: int = 5) -> float:
    """Single-process parse kernel time per page over synth pages, no Spark."""
    from wikifrontier import extract, synth

    docs = [(synth.page_url(i), synth.gen_html(i, n)) for i in range(min(n, pages))]
    per = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        for url, html in docs:
            extract.parse_page(url, html, 1)
        per.append((time.perf_counter() - t0) / len(docs) * 1e6)
    return statistics.median(per)


def _percentile_report(steps: list[float]) -> dict:
    """Median plus the highest of p90/p99 that keeps ten samples above it."""
    out = {"n": len(steps), "p50": statistics.median(steps)}
    ordered = sorted(steps)
    for p in (99, 90):
        if len(steps) * (100 - p) / 100 >= 10:
            out[f"p{p}"] = ordered[int(len(steps) * p / 100)]
            break
    return out


def run(args, scratch: str) -> tuple[dict, str]:
    from perfbench import layers, metrics
    from perfbench.trace import PeakRss, Tracer, stage_delta, stage_totals
    from perfbench.workloads import WORKLOADS, Checks

    cores = min(MAX_CORES, os.cpu_count() or 1)
    extra = {"data_dir": args.data_dir} if args.data_dir else {}
    wl = WORKLOADS[args.workload](args.seed, args.tiny, scratch, **extra)
    checks = Checks()
    with PeakRss() as rss:
        t0 = time.perf_counter()
        spark = _start_session(cores, ui=bool(args.trace))
        t1 = time.perf_counter()
        wl.setup(spark)
        t2 = time.perf_counter()
        wl.warm_up(spark)
        setup_s = time.perf_counter() - t0

        if not args.trace:
            passes = []
            t_start = time.perf_counter()
            # whole passes only: another one starts while it is expected
            # to end within --seconds
            while not passes or (
                time.perf_counter() - t_start + statistics.median(p.wall_s for p in passes)
                <= args.seconds
            ):
                passes.append(wl.run_pass(spark, Tracer(), False, checks))
            steps = [s for p in passes for s in p.steps]
            pass_s = statistics.median(p.wall_s for p in passes)
            values = {"setup_s": setup_s}
            report = {"passes": len(passes), "pass_s": pass_s}
            if args.workload == "corpus_ops":
                values["ops_s"] = pass_s
                report["query_p50_s"] = statistics.median(steps)
            else:
                values["pages_per_s"] = sum(p.items for p in passes) / sum(
                    p.wall_s for p in passes
                )
                values["round_p50_s"] = statistics.median(steps)
                report["pages_per_pass"] = passes[0].items
                report["rounds"] = _percentile_report(steps)
            recover = [p.recover_s for p in passes if p.recover_s is not None]
            if recover:
                report["recover_s"] = statistics.median(recover)
        else:
            before = stage_totals(spark)
            tracer = Tracer(spark, count_jobs=True)
            traced = wl.run_pass(spark, tracer, True, checks)
            # the traced pass runs the same engine calls as an untraced
            # one, plus the lazy-layer replays and the trace bookkeeping
            trace_only_s = sum(tracer.durations("layers.replay")) + tracer.bookkeeping_s
            values = metrics.zero_layers()
            values.update(stage_delta(before, stage_totals(spark)))
            if args.workload != "corpus_ops":
                values.update(layers.crawl_layer_metrics(tracer))
                values["extract.parse_page_us"] = _parse_page_us(wl.n)
            wl.traced_extra(spark, tracer, checks)
            values.update(metrics.query_layer_metrics(tracer))
            values["session.start_s"] = t1 - t0
            values["synth.corpus_s"] = t2 - t1
            values["trace.overhead_ratio"] = traced.wall_s / (traced.wall_s - trace_only_s)
            report = {"traced_pass_s": traced.wall_s, "trace_only_s": trace_only_s}
            trace_path = os.path.join(
                ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.json"
            )
            tracer.dump(trace_path)
            report["spans"] = os.path.relpath(trace_path, ROOT)
    if not args.trace:
        report["peak_rss_mb"] = rss.peak_mb
    report["check_fail_ratio"] = len(checks.failed) / checks.attempted
    report["failed_checks"] = checks.failed
    return metrics.result(values, checks, args.workload, bool(args.trace)), json.dumps(
        {"workload": args.workload, "seed": args.seed, **report}
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("bfs_crawl", "polite_resume", "corpus_ops"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smallest inputs (smoke runs); figures are not comparable")
    ap.add_argument("--data-dir",
                    help="corpus_ops only: directory of documents.parquet and "
                         "embeddings.parquet (default: the sf0.01 copy in perfbench/data)")
    args = ap.parse_args(argv)
    if args.data_dir and args.workload != "corpus_ops":
        ap.error("--data-dir applies to corpus_ops only")

    scratch = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(scratch)
    try:
        _configure_env(scratch)
        sys.path.insert(0, ROOT)
        try:
            result, report = run(args, scratch)
        finally:
            _shutdown_spark()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(report)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
