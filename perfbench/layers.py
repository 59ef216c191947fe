"""Per-layer instrumentation of a crawl pass.

Eager engine calls are wrapped where the engine looks them up, for the
duration of one pass: ``frontier.run_round``, ``state.write_checkpoint``,
``state.load_checkpoint`` and ``PartitionedBloomSeen.add_df``. In a traced
pass each round is preceded by a replay of its lazy layers — pop and cap,
fetch join, parse UDF, filter chain, claim, seen anti-join — each
materialized on its own from the already-materialized output of the layer
before, so every layer gets a span of its own. The replay reads the same
state the round is about to read and writes nothing back.
"""

from __future__ import annotations

import contextlib
import statistics

from pyspark.sql import functions as F

from wikifrontier import filters as flt
from wikifrontier import frontier, politeness, seen
from wikifrontier import state as state_io
from wikifrontier.udfs import parse_page_udf

from perfbench.trace import dir_stats, patched


def _materialize(df):
    df = df.localCheckpoint(eager=True)
    return df, df.count()


def replay_round(tracer, spark, st, corpus, cfg) -> None:
    """Run the lazy layers of the next round of ``st`` one at a time."""
    with tracer.span("politeness.pop") as sp:
        if cfg.pop_strategy == "scored":
            batch = politeness.scored_pop(st.pending, st.in_degrees, cfg.budget_per_round)
        else:
            batch = politeness.pop_frontier(st.pending, cfg.budget_per_round)
        popped, n_popped = _materialize(politeness.cap_per_host(batch, cfg.per_host_cap))
    sp["rows"] = n_popped
    sp["cap_dropped"] = batch.count() - n_popped

    with tracer.span("frontier.fetch") as sp:
        fetched, sp["rows"] = _materialize(
            F.broadcast(popped.select("url", "depth")).join(
                corpus.select("url", "html"), "url"
            )
        )
    sp["popped"] = n_popped

    with tracer.span("udfs.parse") as sp:
        parsed, sp["rows"] = _materialize(
            fetched.select(parse_page_udf(F.col("url"), F.col("html"), F.col("depth")).alias("p"))
        )
    candidates, n_candidates = _materialize(
        parsed.select(F.explode("p.links").alias("l")).select("l.*")
    )

    reason = flt.filter_reason(
        F.col("url"),
        F.col("depth"),
        max_depth=cfg.max_depth,
        allowed_domains=cfg.allowed_domains,
        excluded_prefixes=cfg.excluded_prefixes,
        robots_rules=flt.parse_robots(cfg.robots_txt),
    )
    with tracer.span("filters.filter") as sp:
        passed, sp["rows"] = _materialize(
            candidates.filter(flt.validity_reason(F.col("url"), F.col("depth")).isNull())
            .filter(reason.isNull())
        )
    sp["candidates"] = n_candidates

    with tracer.span("seen.claim") as sp:
        claimed, n_claimed = _materialize(seen.claim_first_wins(passed))
    sp["rows"] = n_claimed
    with tracer.span("seen.dedup") as sp:
        _, sp["rows"] = _materialize(seen.drop_seen(claimed, st.seen, st.bloom, spark))
    sp["claimed"] = n_claimed


@contextlib.contextmanager
def instrument(tracer, spark, corpus, cfg, traced: bool):
    """Wrap the engine's eager calls with spans for one pass. With
    ``traced`` each round is preceded by a lazy-layer replay, and commit
    sizes and Bloom shard sizes are recorded. Every Bloom filter the pass
    adds to is cleaned up when it ends."""

    def round_wrapper(run_round):
        def timed(spark_, st, *args, **kwargs):
            if traced:
                with tracer.span("layers.replay", round=st.round):
                    replay_round(tracer, spark_, st, corpus, cfg)
            with tracer.span("frontier.round", jobs=True, round=st.round):
                return run_round(spark_, st, *args, **kwargs)

        return timed

    def write_wrapper(write):
        def timed(spark_, st, ckpt_dir, *args, **kwargs):
            with tracer.span("state.write") as sp:
                out = write(spark_, st, ckpt_dir, *args, **kwargs)
            if traced:
                with tracer.bookkeeping():
                    sp["mb"], sp["files"] = dir_stats(f"{ckpt_dir}/round={st.round}")
            return out

        return timed

    def load_wrapper(load):
        def timed(*args, **kwargs):
            with tracer.span("state.load"):
                return load(*args, **kwargs)

        return timed

    blooms = []

    def bloom_wrapper(add_df):
        def timed(self, *args, **kwargs):
            if self not in blooms:
                blooms.append(self)
            with tracer.span("seen.bloom_add") as sp:
                out = add_df(self, *args, **kwargs)
            if traced:
                with tracer.bookkeeping():
                    sp["shard_mb"] = dir_stats(self.storage_dir)[0]
            return out

        return timed

    with contextlib.ExitStack() as stack:
        stack.enter_context(patched(frontier, "run_round", round_wrapper))
        stack.enter_context(patched(state_io, "write_checkpoint", write_wrapper))
        stack.enter_context(patched(state_io, "load_checkpoint", load_wrapper))
        stack.enter_context(patched(seen.PartitionedBloomSeen, "add_df", bloom_wrapper))
        try:
            yield
        finally:
            # run_crawl removes the shard dirs it owns on its own exit
            # paths; repeat it here so a pass that fails between calls
            # leaves no shards behind either (a no-op on removed dirs)
            for bloom in blooms:
                bloom.cleanup()


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def _med(values) -> float:
    return statistics.median(values) if values else 0.0


def crawl_layer_metrics(tracer) -> dict:
    """Per-layer figures of one traced crawl pass: ``*_s`` is the median
    span time per round (per call for state), rows are pass totals."""
    t = tracer
    popped = sum(t.values("frontier.fetch", "popped"))
    candidates = sum(t.values("filters.filter", "candidates"))
    claimed = sum(t.values("seen.dedup", "claimed"))
    return {
        "frontier.round_s": t.median("frontier.round"),
        "frontier.jobs_per_round": _med(t.values("frontier.round", "jobs")),
        "frontier.stages_per_round": _med(t.values("frontier.round", "stages")),
        "frontier.tasks_per_round": _med(t.values("frontier.round", "tasks")),
        "frontier.fetch_s": t.median("frontier.fetch"),
        "frontier.fetch_hit_ratio": _ratio(sum(t.values("frontier.fetch", "rows")), popped),
        "politeness.pop_s": t.median("politeness.pop"),
        "politeness.popped_rows": sum(t.values("politeness.pop", "rows")),
        "politeness.cap_dropped_rows": sum(t.values("politeness.pop", "cap_dropped")),
        "udfs.parse_s": t.median("udfs.parse"),
        "udfs.parse_rows": sum(t.values("udfs.parse", "rows")),
        "filters.filter_s": t.median("filters.filter"),
        "filters.pass_ratio": _ratio(sum(t.values("filters.filter", "rows")), candidates),
        "seen.claim_s": t.median("seen.claim"),
        "seen.dedup_s": t.median("seen.dedup"),
        "seen.bloom_add_s": t.median("seen.bloom_add"),
        "seen.dedup_drop_ratio": _ratio(claimed - sum(t.values("seen.dedup", "rows")), claimed),
        "seen.shard_mb": max(t.values("seen.bloom_add", "shard_mb"), default=0.0),
        "state.write_s": t.median("state.write"),
        "state.commit_mb": _med(t.values("state.write", "mb")),
        "state.files_per_commit": _med(t.values("state.write", "files")),
        "state.load_s": t.median("state.load"),
    }
