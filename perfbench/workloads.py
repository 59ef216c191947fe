"""The benchmark's workloads: inputs made from the seed, one pass of work,
and the correctness check of every pass.

* ``bfs_crawl`` — exhaustive unbudgeted FIFO BFS, in memory, per-round
  counters off. Checked against ``simulator.simulate_crawl``.
* ``polite_resume`` — budgeted, capped, scored, per-round-checkpointed
  crawl, stopped after two rounds and finished by one resumed run that
  commits exactly one round. Checked against the uninterrupted simulator
  crawl, for single fetches and for the budget and cap of every round.
* ``corpus_ops`` — the post-crawl analytics query list over the repo's
  ``documents``/``embeddings`` test tables. Checked against DuckDB
  ``oracle_sql()`` with ``tools/check_oracle.py``'s comparison, outside
  the timed region.
"""

from __future__ import annotations

import dataclasses
import os
import random
import shutil

import __spark_entry__ as entry
from tools.check_oracle import canon, values_equal
from wikifrontier import filters as flt
from wikifrontier import simulator, synth
from wikifrontier import state as state_io
from wikifrontier.frontier import CrawlConfig, run_crawl

from perfbench.layers import instrument


@dataclasses.dataclass
class PassResult:
    wall_s: float
    items: int                      # pages crawled, or queries run
    steps: list[float]              # run_round walls, or per-query walls
    recover_s: float | None = None  # polite_resume's one-round resume


class Checks:
    """Correctness checks of a run: attempted and failed counts."""

    def __init__(self):
        self.attempted = 0
        self.failed: list[str] = []

    def expect(self, name: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed.append(name)


def seed_pages(rng: random.Random, n: int, k: int, degree: int | None = None) -> list[str]:
    """``k`` distinct seed urls drawn from ``rng``, skipping the corpus's
    blank and content-less pages (they have no out-links) and, when
    ``degree`` is given, pages with another out-degree."""
    dead = (synth.BLANK_R, synth.NOCONTENT_R)
    ids: list[int] = []
    while len(ids) < k:
        i = rng.randrange(n)
        if (
            i % synth.CORNER_MOD not in dead
            and degree in (None, synth.deg(i))
            and i not in ids
        ):
            ids.append(i)
    return [synth.page_url(i) for i in ids]


def expected_crawl(n: int, seeds: list[str], max_depth: int) -> dict:
    """Uninterrupted reference crawl from the simulator, projected onto
    what does not depend on pop order: page status and depth, seen depth,
    claimed-link depth.

    The simulator is run without robots rules and the robots-denied
    ``Blocked_`` urls are removed afterwards: such a url is a leaf (no
    corpus row, no out-links), so dropping it is exactly what the engine's
    robots filter does."""
    sim = simulator.simulate_crawl(n, seeds, max_depth=max_depth, robots_txt="")
    keep = lambda u: "/wiki/Blocked_" not in u  # noqa: E731
    return {
        "pages": {u: (p["last_crawl_status"], p["depth"]) for u, p in sim["pages"].items() if keep(u)},
        "attempts": {u: p["total_crawl_attempts"] for u, p in sim["pages"].items() if keep(u)},
        "seen": {u: s["depth"] for u, s in sim["seen"].items() if keep(u)},
        "links": sorted((lk["url"], lk["depth"]) for lk in sim["links"] if keep(lk["url"])),
    }


def observed_crawl(st) -> dict:
    pages = st.pages.select("url", "last_crawl_status", "depth", "total_crawl_attempts").collect()
    return {
        "pages": {r["url"]: (r["last_crawl_status"], r["depth"]) for r in pages},
        "attempts": {r["url"]: r["total_crawl_attempts"] for r in pages},
        "seen": {r["url"]: r["depth"] for r in st.seen.select("url", "depth").collect()},
        "links": sorted(tuple(r) for r in st.links.select("url", "depth").collect()),
    }


class _Crawl:
    n = 0
    n_seeds = 4
    seed_degree = None
    max_depth = flt.MAX_DEPTH
    pages = None  # when set, seeds are redrawn until the crawl has this many pages

    def __init__(self, seed: int, tiny: bool, scratch: str):
        self.seed = seed
        self.tiny = tiny
        self.scratch = scratch
        self.corpus = None
        self._expected = None
        self._passes = 0
        rng = random.Random(seed)
        while True:
            self.seeds = seed_pages(rng, self.n, self.n_seeds, self.seed_degree)
            if self.pages is None or len(self.expected()["pages"]) == self.pages:
                break
            self._expected = None

    def setup(self, spark) -> None:
        self.corpus = synth.corpus_df(spark, self.n).cache()
        self.corpus.count()

    def warm_up(self, spark) -> None:
        cfg = CrawlConfig(robots_txt=synth.ROBOTS_TXT, collect_metrics=False, max_rounds=1)
        run_crawl(spark, self.corpus, self.seeds, cfg)

    def traced_extra(self, spark, tracer, checks: Checks) -> None:
        pass

    def expected(self) -> dict:
        if self._expected is None:
            self._expected = expected_crawl(self.n, self.seeds, self.max_depth)
        return self._expected

    def _check_state(self, st, checks: Checks) -> int:
        """Compare the final state with the uninterrupted reference crawl.
        Fetch counts are compared per url rather than required to be 1:
        a seed re-discovered through a link is claimed and fetched again
        by design, in the engine and the simulator alike."""
        got, want = observed_crawl(st), self.expected()
        checks.expect("crawl.page_set", got["pages"].keys() == want["pages"].keys())
        checks.expect("crawl.page_status_depth", got["pages"] == want["pages"])
        checks.expect("crawl.fetches_per_url", got["attempts"] == want["attempts"])
        checks.expect("crawl.seen_depth", got["seen"] == want["seen"])
        checks.expect("crawl.link_edges", got["links"] == want["links"])
        return len(got["pages"])


class BfsCrawl(_Crawl):
    """Exhaustive FIFO BFS from seed pages picked by the seed. Four seeds
    over 2000 pages reach nearly the whole corpus whatever the seed, so
    the pass does the same amount of work on every seed."""

    def __init__(self, seed, tiny, scratch):
        self.n = 200 if tiny else 2000
        super().__init__(seed, tiny, scratch)
        self.cfg = CrawlConfig(robots_txt=synth.ROBOTS_TXT, collect_metrics=False)

    def run_pass(self, spark, tracer, traced: bool, checks: Checks) -> PassResult:
        with instrument(tracer, spark, self.corpus, self.cfg, traced):
            with tracer.span("pass") as sp:
                st = run_crawl(spark, self.corpus, self.seeds, self.cfg)
        pages = self._check_state(st, checks)
        wall = sp["end"] - sp["start"]
        return PassResult(wall, pages, _span_walls(tracer, "frontier.round", sp))

    def traced_extra(self, spark, tracer, checks: Checks) -> None:
        """Trace the corpus-ops query list after the crawl, with its oracle
        checks, so its layers are measured in every traced benchmark run."""
        ops = CorpusOps(self.seed, self.tiny, self.scratch)
        ops.run_pass(spark, tracer, True, checks)


class PoliteResume(_Crawl):
    """Single-host corpus (the en.wikipedia skew case): the per-host cap
    binds below the budget, the pop is scored, per-round counters are on,
    and every round commits a durable checkpoint.

    Four seeds of the largest out-degree and a depth limit of 1, redrawn
    until the crawl has 46 pages: every seed gives a three-round crawl
    (seeds, then two cap-limited rounds) of the same size. The
    interrupted run commits the first two rounds; a fresh resumed run
    loads that checkpoint, commits the last round and finishes."""

    n = 200
    seed_degree = 3 + synth.MAX_EXTRA_DEG - 1
    max_depth = 1
    pages = 46
    budget = 32
    cap = 24
    stop_after = 2  # rounds the first, interrupted run_crawl commits

    def _cfg(self, ckpt: str, max_rounds: int) -> CrawlConfig:
        return CrawlConfig(
            robots_txt=synth.ROBOTS_TXT,
            budget_per_round=self.budget,
            per_host_cap=self.cap,
            pop_strategy="scored",
            collect_metrics=True,
            checkpoint_dir=ckpt,
            checkpoint_every=1,
            max_depth=self.max_depth,
            max_rounds=max_rounds,
        )

    def warm_up(self, spark) -> None:
        """A crawl of no rounds with the pass's configuration: it writes
        the seeded state's checkpoint, so the session's first checkpoint
        write is not timed in a pass."""
        ckpt = os.path.join(self.scratch, "checkpoint-warm-up")
        try:
            run_crawl(spark, self.corpus, self.seeds, self._cfg(ckpt, 0))
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)

    def run_pass(self, spark, tracer, traced: bool, checks: Checks) -> PassResult:
        self._passes += 1
        ckpt = os.path.join(self.scratch, f"checkpoint-{self._passes}")
        try:
            with instrument(tracer, spark, self.corpus, self._cfg(ckpt, 0), traced):
                with tracer.span("pass") as sp:
                    run_crawl(spark, self.corpus, self.seeds, self._cfg(ckpt, self.stop_after))
                    stopped = state_io.latest_round(ckpt)
                    with tracer.span("recover") as rec:
                        st = run_crawl(
                            spark, self.corpus, self.seeds, self._cfg(ckpt, 64), resume=True
                        )
            checks.expect(
                "resume.one_round_committed",
                (stopped, state_io.latest_round(ckpt), st.round)
                == (self.stop_after, self.stop_after + 1, self.stop_after + 1),
            )
            pages = self._check_state(st, checks)
            self._check_polite(st, checks)
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)
        return PassResult(
            sp["end"] - sp["start"], pages, _span_walls(tracer, "frontier.round", sp),
            rec["end"] - rec["start"],
        )

    def _check_polite(self, st, checks: Checks) -> None:
        rounds = st.metrics.select("round", "urls_popped").collect()
        checks.expect(
            "resume.rounds_once",
            sorted(r["round"] for r in rounds) == list(range(st.round)),
        )
        checks.expect(
            "polite.budget_and_cap",
            all(r["urls_popped"] <= min(self.budget, self.cap) for r in rounds),
        )


# --- corpus_ops ---------------------------------------------------------------
QUERY_LAYERS = {
    "q14_dedup_minhash": "dedup",
    "q15_dedup_minhash_lsh": "dedup",
    "q28_ann_ivf": "similarity",
    "q66_semantic_dedup": "similarity",
    "q70_bm25_topk": "textops",
    "q125_gopher_rules": "textops",
    "q51_pagerank": "linkgraph",
    "q59_hits": "linkgraph",
}
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


class CorpusOps:
    """The analytics list run on crawl output, over the repo's fixed
    ``documents``/``embeddings`` test tables (a copy of the sf0.01 scale
    factor ships in ``perfbench/data``); the seed does not change them."""

    def __init__(self, seed: int, tiny: bool, scratch: str, data_dir: str | None = None):
        self.data_dir = data_dir or DATA_DIR
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()

    def setup(self, spark) -> None:
        pass

    def traced_extra(self, spark, tracer, checks: Checks) -> None:
        pass

    def warm_up(self, spark) -> None:
        self.queries["q125_gopher_rules"](spark, self.data_dir).toPandas()

    def run_pass(self, spark, tracer, traced: bool, checks: Checks) -> PassResult:
        results = {}
        with tracer.span("pass") as sp:
            for name, layer in QUERY_LAYERS.items():
                with tracer.span(f"{layer}.{name}", jobs=True):
                    results[name] = self.queries[name](spark, self.data_dir).toPandas()
        self.check(results, checks)
        return PassResult(
            sp["end"] - sp["start"], len(results), _span_walls(tracer, None, sp),
        )

    def check(self, results: dict, checks: Checks) -> None:
        import duckdb

        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                path = os.path.join(self.data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for name, got in results.items():
                want = con.execute(self.oracles[name]).df()
                checks.expect(f"oracle.{name}", values_equal(canon(got), canon(want)))
        finally:
            con.close()


def _span_walls(tracer, name: str | None, parent: dict) -> list[float]:
    """Walls of the spans called ``name`` under ``parent`` (any depth), or
    of all its direct children when ``name`` is None."""
    under = {parent["id"]}
    out = []
    for s in tracer.spans:
        if s["parent"] in under:
            under.add(s["id"])
            if (name is None and s["parent"] == parent["id"]) or s["name"] == name:
                out.append(s["end"] - s["start"])
    return out


WORKLOADS = {
    "bfs_crawl": BfsCrawl,
    "polite_resume": PoliteResume,
    "corpus_ops": CorpusOps,
}
