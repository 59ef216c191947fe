"""End-to-end BFS tier (SURVEY.md §5.2 tier 2): Spark engine vs the
pure-Python reference simulator, plus UDF byte-parity and resume."""

import pytest
from pyspark.sql import functions as F

from wikifrontier import synth
from wikifrontier.frontier import CrawlConfig, run_crawl
from wikifrontier.simulator import simulate_crawl
from wikifrontier.udfs import parse_page_udf

N = 303  # covers all corner-case residues (mod 101) ≥ twice


@pytest.fixture(scope="module")
def corpus(spark):
    df = synth.corpus_df(spark, N, partitions=4).cache()
    df.count()
    return df


DEFAULT_CFG = CrawlConfig(robots_txt=synth.ROBOTS_TXT, max_rounds=10)


@pytest.fixture(scope="module")
def default_crawl(spark, corpus):
    """The default unbudgeted crawl, shared read-only by every test that
    inspects it. It drains after 5 rounds, well inside max_rounds."""
    return run_crawl(spark, corpus, [synth.page_url(synth.SEED_ID)], DEFAULT_CFG)


# an 8-round in-memory crawl that re-parses every page (so the first-parse
# guard has work in every round); its link-graph edges stay pending until
# first read
RECRAWL_CFG = CrawlConfig(
    robots_txt=synth.ROBOTS_TXT, max_rounds=8,
    enable_recrawl=True, recrawl_interval_s=2,
)


@pytest.fixture(scope="module")
def recrawl_crawl(spark, corpus):
    """The in-memory recrawl crawl, returned with its edge log unread.
    Tests read a ``dataclasses.replace`` copy, so the materialization
    one of them triggers never reaches the shared state."""
    return run_crawl(spark, corpus, [synth.page_url(synth.SEED_ID)], RECRAWL_CFG)


def _job_ids(sc, group, action):
    """Spark job ids that ``action()`` starts, via a job group."""
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def _assert_state_matches(state, sim):
    pages = {r["url"]: r.asDict() for r in state.pages.collect()}
    assert set(pages) == set(sim["pages"])
    for url, want in sim["pages"].items():
        got = pages[url]
        for key in (
            "last_crawl_status",
            "http_status_code",
            "url_hash",
            "html_content_hash",
            "compressed_filepath",
            "total_crawl_attempts",
            "failed_crawl_attempts",
            "depth",
            "first_crawled_round",
        ):
            assert got[key] == want[key], (url, key, got[key], want[key])

    content = {r["source_page_url"]: r.asDict() for r in state.page_content.collect()}
    assert set(content) == set(sim["content"])
    for url, want in sim["content"].items():
        got = content[url]
        assert got["title"] == want["title"], url
        assert got["categories"] == want["categories"], url
        assert got["text_content"] == want["text_content"], url
        assert got["text_content_hash"] == want["text_content_hash"], url

    links = {
        (r["source_page_url"], r["url"]): r.asDict() for r in state.links.collect()
    }
    want_links = {(l["source_page_url"], l["url"]): l for l in sim["links"]}
    assert set(links) == set(want_links)
    for key, want in want_links.items():
        got = links[key]
        for field in (
            "depth",
            "is_internal",
            "anchor_text",
            "title_attribute",
            "rel_attribute",
            "id_attribute",
            "link_type",
            "discovered_round",
        ):
            assert got[field] == want[field], (key, field)

    seen = {r["url"]: r.asDict() for r in state.seen.collect()}
    assert set(seen) == set(sim["seen"])
    for url, want in sim["seen"].items():
        got = seen[url]
        assert got["depth"] == want["depth"], url
        assert got["claimed_round"] == want["claimed_round"], url
        assert got["source_page_url"] == want["source_page_url"], url

    metrics = {r["round"]: r.asDict() for r in state.metrics.collect()}
    assert len(metrics) == len(sim["rounds"])
    for want in sim["rounds"]:
        got = metrics[want["round"]]
        for key, val in want.items():
            assert got[key] == val, (want["round"], key, got[key], val)


class TestCorpusGeneration:
    def test_corpus_matches_python_generator(self, spark, corpus):
        rows = {r["url"]: r for r in corpus.collect()}
        assert len(rows) == N
        for i in (0, 1, 7, 11, 13, 17, 19, 23, 101, 300):
            want = synth.gen_page_row(i, N)
            got = rows[want["url"]]
            assert bytes(got["html"]) == want["html"], i
            assert got["text"] == want["text"], i
            assert got["lang"] == want["lang"], i

    def test_parse_udf_byte_parity_with_ground_truth(self, spark, corpus):
        """input_hint invariant through the Spark path: UDF text_content
        equals the generator's pre-rendered `text` column for every url."""
        parsed = corpus.withColumn(
            "p", parse_page_udf(F.col("url"), F.col("html"), F.lit(0))
        )
        mismatches = parsed.filter(
            ~(
                (F.col("p.text_content") == F.col("text"))
                | (F.col("p.text_content").isNull() & F.col("text").isNull())
            )
        ).count()
        assert mismatches == 0


class TestCrawlVsSimulator:
    def test_unbudgeted_bfs(self, default_crawl):
        _assert_state_matches(default_crawl, simulate_crawl(N, max_rounds=10))

    def test_budgeted_crawl(self, spark, corpus):
        cfg = CrawlConfig(robots_txt=synth.ROBOTS_TXT, budget_per_round=40, max_rounds=8)
        state = run_crawl(spark, corpus, [synth.page_url(synth.SEED_ID)], cfg)
        sim = simulate_crawl(N, budget=40, max_rounds=8)
        _assert_state_matches(state, sim)

    def test_per_host_cap(self, spark, corpus):
        cfg = CrawlConfig(
            robots_txt=synth.ROBOTS_TXT, budget_per_round=50, per_host_cap=25, max_rounds=6
        )
        state = run_crawl(spark, corpus, [synth.page_url(synth.SEED_ID)], cfg)
        sim = simulate_crawl(N, budget=50, per_host_cap=25, max_rounds=6)
        _assert_state_matches(state, sim)

    def test_scored_pop_same_set_different_order(self, spark, corpus):
        """pop_strategy='scored' (north_star depth + link-score priority)
        changes visit ORDER within a layer but an exhaustive crawl still
        reaches exactly the FIFO crawl's page set; rounds-crawled-in
        differ for at least one page (proving the order actually moved),
        and the priority signal is REAL: the discovered link graph holds
        multi-source targets, so in-degrees vary within a pop batch
        (ADVICE r4 #1 — the claim-tree links table has in-degree ≤ 1 by
        construction and would make this ordering vacuous)."""
        fifo_cfg = CrawlConfig(
            robots_txt=synth.ROBOTS_TXT, budget_per_round=40, max_rounds=12
        )
        fifo = run_crawl(spark, corpus, [synth.page_url(synth.SEED_ID)], fifo_cfg)
        scored_cfg = CrawlConfig(
            robots_txt=synth.ROBOTS_TXT, budget_per_round=40, max_rounds=12,
            pop_strategy="scored",
        )
        scored = run_crawl(spark, corpus, [synth.page_url(synth.SEED_ID)], scored_cfg)
        fifo_pages = {r["url"] for r in fifo.pages.select("url").collect()}
        scored_pages = {r["url"] for r in scored.pages.select("url").collect()}
        assert fifo_pages == scored_pages
        fifo_rounds = {
            r["url"]: r["claimed_round"]
            for r in fifo.seen.select("url", "claimed_round").collect()
        }
        scored_rounds = {
            r["url"]: r["claimed_round"]
            for r in scored.seen.select("url", "claimed_round").collect()
        }
        assert fifo_rounds != scored_rounds or len(fifo_pages) < 40
        # the score state carries genuine in-degree variation
        degs = [r["in_degree"] for r in scored.in_degrees.collect()]
        assert degs and max(degs) > 1 and len(set(degs)) > 1

    def test_pop_strategy_validation(self, spark, corpus):
        """ADVICE r4 #3: a pop_strategy typo or scored+unbounded-budget
        must raise, never silently fall back to FIFO."""
        with pytest.raises(ValueError, match="unknown pop_strategy"):
            run_crawl(
                spark, corpus, [synth.page_url(synth.SEED_ID)],
                CrawlConfig(robots_txt=synth.ROBOTS_TXT, max_rounds=1,
                            pop_strategy="priority", budget_per_round=10),
            )
        with pytest.raises(ValueError, match="expected 'fifo' or 'scored'"):
            run_crawl(
                spark, corpus, [synth.page_url(synth.SEED_ID)],
                CrawlConfig(robots_txt=synth.ROBOTS_TXT, max_rounds=1,
                            pop_strategy="pagerank", budget_per_round=10),
            )
        with pytest.raises(ValueError, match="requires budget_per_round"):
            run_crawl(
                spark, corpus, [synth.page_url(synth.SEED_ID)],
                CrawlConfig(robots_txt=synth.ROBOTS_TXT, max_rounds=1,
                            pop_strategy="scored"),
            )


def test_executor_count_is_configured_instances(spark):
    """The broadcast gate divides by the configured executor count; the
    local[k] test session configures none, so the divisor is 1."""
    from wikifrontier.frontier import _executor_count

    assert spark.conf.get("spark.executor.instances", None) is None
    assert _executor_count(spark) == 1


def test_simulator_robots_denied_links_are_counted_leaves():
    """A robots-denied link bumps the filtered_robots counter, and the
    crawl equals the robots-free crawl minus the denied Blocked_ urls
    (they are leaves: no corpus row, no out-links)."""
    seeds = [synth.page_url(i) for i in (275, 1165, 1735, 1643)]
    sim = simulate_crawl(2000, seeds)
    assert sum(r["filtered_robots"] for r in sim["rounds"]) > 0

    free = simulate_crawl(2000, seeds, robots_txt="")

    def pages(s, keep=lambda u: True):
        return {
            u: (p["last_crawl_status"], p["depth"])
            for u, p in s["pages"].items() if keep(u)
        }

    assert pages(sim) == pages(free, lambda u: "/wiki/Blocked_" not in u)


class TestLinkGraph:
    """The full discovered edge relation (ADVICE r4 #1) and its
    incremental in-degree state (VERDICT r4 #4)."""

    def test_link_graph_is_distinct_superset_of_claim_tree(self, default_crawl):
        state = default_crawl
        edges = [
            (r["source_page_url"], r["url"]) for r in state.link_graph.collect()
        ]
        assert len(edges) == len(set(edges))  # distinct by construction
        claim_pairs = {
            (r["source_page_url"], r["url"]) for r in state.links.collect()
        }
        assert claim_pairs <= set(edges)  # claim tree ⊆ full graph
        assert len(edges) > len(claim_pairs)  # multi-source edges exist

    def test_incremental_fold_equals_one_shot_in_degrees(self, default_crawl):
        from wikifrontier.politeness import in_degrees

        state = default_crawl
        folded = {
            r["url"]: r["in_degree"] for r in state.in_degrees.collect()
        }
        one_shot = {
            r["url"]: r["in_degree"]
            for r in in_degrees(state.link_graph).collect()
        }
        assert folded == one_shot

    def test_link_graph_survives_checkpoint(self, spark, corpus, tmp_path):
        from wikifrontier import state as state_io

        ckpt = str(tmp_path / "ckpt_lg")
        cfg = CrawlConfig(
            robots_txt=synth.ROBOTS_TXT, max_rounds=6, checkpoint_dir=ckpt
        )
        state = run_crawl(spark, corpus, [synth.page_url(synth.SEED_ID)], cfg)
        loaded = state_io.load_checkpoint(spark, ckpt)
        assert (
            sorted(map(tuple, state.link_graph.collect()))
            == sorted(map(tuple, loaded.link_graph.collect()))
        )
        assert (
            sorted(map(tuple, state.in_degrees.collect()))
            == sorted(map(tuple, loaded.in_degrees.collect()))
        )

    def test_recrawl_keeps_link_graph_distinct(self, spark, corpus):
        """Re-parsed pages re-emit their edge sets; the first-parse-source
        guard must keep the accumulated graph duplicate-free."""
        cfg = CrawlConfig(
            robots_txt=synth.ROBOTS_TXT, max_rounds=8,
            enable_recrawl=True, recrawl_interval_s=2,
        )
        state = run_crawl(spark, corpus, [synth.page_url(synth.SEED_ID)], cfg)
        n_rows = state.link_graph.count()
        n_distinct = (
            state.link_graph.select("source_page_url", "url").distinct().count()
        )
        assert n_rows == n_distinct and n_rows > 0

    def test_recrawl_over_delta_chain_matches_in_memory(
        self, spark, corpus, tmp_path
    ):
        """The same recrawl crawl, committed every round with a delta
        chain of up to 3 snapshots, ends equal to the in-memory run: each
        round's recrawl_due reads pages folded from the chain's parquet
        base and event segments."""
        from dataclasses import replace

        seeds = [synth.page_url(synth.SEED_ID)]
        cfg = CrawlConfig(
            robots_txt=synth.ROBOTS_TXT, max_rounds=8,
            enable_recrawl=True, recrawl_interval_s=2,
        )
        fresh = run_crawl(spark, corpus, seeds, cfg)
        chained = run_crawl(
            spark, corpus, seeds,
            replace(
                cfg, checkpoint_dir=str(tmp_path / "ckpt_recrawl"),
                checkpoint_full_every=3,
            ),
        )

        def snap(s):
            return (
                sorted(
                    (
                        r["url"], r["last_crawl_status"],
                        r["total_crawl_attempts"], r["failed_crawl_attempts"],
                        r["first_crawled_round"],
                    )
                    for r in s.pages.collect()
                ),
                sorted(
                    (r["source_page_url"], r["text_content_hash"])
                    for r in s.page_content.collect()
                ),
                sorted(map(tuple, s.link_graph.collect())),
                sorted(map(tuple, s.metrics.collect())),
            )

        assert snap(chained) == snap(fresh)

    def test_fifo_round_runs_no_job_after_bloom_add(
        self, spark, corpus, monkeypatch
    ):
        """An in-memory FIFO round with counters off ends at its last
        seen-set action, the claimed leaf (whose pass also adds the round's
        bits to the Bloom filter): the link-graph delta, the
        seen/links/pending unions and the event logs are all lazy, so
        nothing after ``claim_unseen`` returns starts a Spark job."""
        from wikifrontier import frontier
        from wikifrontier.seen import PartitionedBloomSeen

        cfg = CrawlConfig(robots_txt=synth.ROBOTS_TXT, collect_metrics=False)
        sc = spark.sparkContext
        claim_unseen = PartitionedBloomSeen.claim_unseen
        group = {}

        def claim_then_mark(self, *args, **kwargs):
            out = claim_unseen(self, *args, **kwargs)
            sc.setJobGroup(group["id"], "after PartitionedBloomSeen.claim_unseen")
            group["marks"] = group.get("marks", 0) + 1
            return out

        monkeypatch.setattr(PartitionedBloomSeen, "claim_unseen", claim_then_mark)
        state = frontier.init_state(spark, [synth.page_url(synth.SEED_ID)])
        bloom = state.bloom = frontier._new_bloom(cfg)
        try:
            for rnd in range(3):
                group["id"] = f"after-claimed-leaf-{rnd}"
                state, _ = frontier.run_round(spark, state, corpus, cfg)
                sc.setLocalProperty("spark.jobGroup.id", None)
                jobs = sc.statusTracker().getJobIdsForGroup(group["id"])
                assert jobs == [], (rnd, jobs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            bloom.cleanup()
        assert group["marks"] == 3  # every round set the mark
        assert state.edge_events is not None  # three rounds still pending
        assert state.link_graph.count() > 0

    def test_pending_edges_materialize_once(self, spark, recrawl_crawl):
        """All pending rounds fold into the graph on the first read, as one
        edge leaf and one score leaf, through a plan with O(rounds)
        leaves; later reads, and ``tables()``, start no job."""
        from dataclasses import replace

        def leaves(df):
            return df._jdf.queryExecution().optimizedPlan().toString().count(
                "LogicalRDD"
            )

        state = replace(recrawl_crawl)
        n_rounds = state.round
        assert n_rounds >= 8 and state.edge_events is not None
        # each pending round's fetch leaf is read at most twice: for its
        # edges and for its content events. A per-round guard against all
        # earlier rounds would read sum(1..R) content leaves instead.
        n_leaves = leaves(state.pending_edges())
        assert n_leaves <= 2 * n_rounds < n_rounds * (n_rounds + 1) // 2, n_leaves
        n_base = leaves(state.graph_base), leaves(state.scores_base)

        sc = spark.sparkContext
        first = _job_ids(sc, "link-graph-first-read", lambda: state.link_graph)
        assert len(first) >= 1
        assert state.edge_events is None
        again = _job_ids(
            sc, "link-graph-again",
            lambda: (state.link_graph, state.in_degrees, state.tables()),
        )
        assert again == []
        # one edge leaf and one score leaf joined the bases
        assert (leaves(state.link_graph), leaves(state.link_scores)) == (
            n_base[0] + 1, n_base[1] + 1
        )
        assert recrawl_crawl.edge_events is not None  # the fixture is untouched

    def test_pending_windows_match_in_memory(
        self, spark, corpus, recrawl_crawl, tmp_path
    ):
        """Committing every third round leaves three rounds of edges
        pending before each commit, guarded against the checkpointed
        content base and the rounds' own content events. The graph and
        the in-degrees still equal the in-memory run's, whose eight rounds
        all materialize at once."""
        from dataclasses import replace

        fresh = replace(recrawl_crawl)
        windowed = run_crawl(
            spark, corpus, [synth.page_url(synth.SEED_ID)],
            replace(
                RECRAWL_CFG, checkpoint_dir=str(tmp_path / "ckpt_windows"),
                checkpoint_every=3,
            ),
        )
        assert sorted(map(tuple, windowed.link_graph.collect())) == sorted(
            map(tuple, fresh.link_graph.collect())
        )
        assert sorted(map(tuple, windowed.in_degrees.collect())) == sorted(
            map(tuple, fresh.in_degrees.collect())
        )


@pytest.fixture(scope="module")
def bloom_crawl(spark, corpus, tmp_path_factory):
    """The default crawl with a caller-owned shard dir, so its Bloom
    shards outlive ``run_crawl``."""
    from dataclasses import replace

    cfg = replace(DEFAULT_CFG, bloom_storage_dir=str(tmp_path_factory.mktemp("shards")))
    return run_crawl(spark, corpus, [synth.page_url(synth.SEED_ID)], cfg)


def _bitmaps(bloom):
    from wikifrontier.seen import _read_shard_files

    return [
        _read_shard_files(bloom.storage_dir, b, bloom.nbits >> 6)
        for b in range(bloom.buckets)
    ]


def _claimed_rows(state):
    return (
        sorted(map(tuple, state.seen.collect())),
        sorted(map(tuple, state.links.collect())),
        sorted(map(tuple, state.metrics.collect())),
    )


class TestBloomPass:
    """The round's one claim + probe + Bloom-add pass
    (``PartitionedBloomSeen.claim_unseen``)."""

    def test_bitmaps_equal_add_df_over_seen(self, spark, corpus, bloom_crawl, tmp_path):
        """Every bucket's bitmap equals the one a fresh filter gets from
        ``add_df(seen)``, the state equals the simulator, and the claimed
        rows equal those of a crawl without the filter."""
        from dataclasses import replace

        import numpy as np

        from wikifrontier.seen import PartitionedBloomSeen

        state = bloom_crawl
        _assert_state_matches(state, simulate_crawl(N, max_rounds=10))
        bloom = state.bloom
        fresh = PartitionedBloomSeen(
            storage_dir=str(tmp_path / "fresh"), buckets=bloom.buckets,
            nbits_per_bucket=bloom.nbits, k=bloom.k,
        )
        fresh.add_df(spark, state.seen.select("url"))
        got, want = _bitmaps(bloom), _bitmaps(fresh)
        assert any(m.any() for m in want)
        for b in range(bloom.buckets):
            assert np.array_equal(got[b], want[b]), b

        plain = run_crawl(
            spark, corpus, [synth.page_url(synth.SEED_ID)],
            replace(DEFAULT_CFG, bloom_bits=None),
        )
        assert _claimed_rows(state) == _claimed_rows(plain)

    def test_earlier_attempt_delta_changes_nothing(
        self, spark, corpus, bloom_crawl, tmp_path, monkeypatch
    ):
        """A delta of the round's own version left by a failed earlier
        attempt (here: bits of half of round 2's new urls, written before
        the round runs) only flags rows for the exact check. The claimed
        rows, the counters and every final bitmap stay as without it."""
        from dataclasses import replace

        import numpy as np

        from wikifrontier.seen import PartitionedBloomSeen, _bloom_positions

        target = 2
        ref = bloom_crawl
        hashes = np.array(
            [
                r["h"]
                for r in ref.seen.filter(F.col("claimed_round") == target)
                .select(F.xxhash64("url").alias("h"))
                .collect()
            ][::2],
            dtype=np.int64,
        ).view(np.uint64)
        assert len(hashes) > 0
        claim_unseen = PartitionedBloomSeen.claim_unseen
        injected = []

        def inject_then_claim(self, *args, **kwargs):
            if self.version == target:  # a fresh filter adds once a round
                for b in range(self.buckets):
                    h = hashes[hashes % np.uint64(self.buckets) == np.uint64(b)]
                    if len(h) == 0:
                        continue
                    bm = np.zeros(self.nbits >> 6, dtype=np.uint64)
                    for word, bit in _bloom_positions(h, self.nbits, self.k):
                        np.bitwise_or.at(bm, word, np.uint64(1) << bit)
                    np.save(
                        f"{self.storage_dir}/bucket_{b}.v{self.version + 1}.a999.npy", bm
                    )
                    injected.append(b)
            return claim_unseen(self, *args, **kwargs)

        monkeypatch.setattr(PartitionedBloomSeen, "claim_unseen", inject_then_claim)
        retried = run_crawl(
            spark, corpus, [synth.page_url(synth.SEED_ID)],
            replace(DEFAULT_CFG, bloom_storage_dir=str(tmp_path / "retry")),
        )
        assert injected
        assert _claimed_rows(retried) == _claimed_rows(ref)
        for b, (got, want) in enumerate(zip(_bitmaps(retried.bloom), _bitmaps(ref.bloom))):
            assert np.array_equal(got, want), b

    def test_init_state_tables_are_one_partition(self, spark, corpus, tmp_path):
        """The seeded state's empty tables, the two event logs included,
        are relations the optimizer proves empty (0 partitions), and a
        fresh full commit of them resumes to the simulator's crawl."""
        from dataclasses import fields, replace

        from wikifrontier import frontier

        st = frontier.init_state(spark, [synth.page_url(synth.SEED_ID)])
        empty = [
            f.name for f in fields(st)
            if f.name != "pending" and hasattr(getattr(st, f.name), "rdd")
        ]
        assert len(empty) == 11
        for name in empty:
            assert getattr(st, name).rdd.getNumPartitions() == 0, name

        ckpt = str(tmp_path / "ckpt_seeded")
        cfg = CrawlConfig(robots_txt=synth.ROBOTS_TXT, max_rounds=0, checkpoint_dir=ckpt)
        run_crawl(spark, corpus, [synth.page_url(synth.SEED_ID)], cfg)
        state = run_crawl(
            spark, corpus, [synth.page_url(synth.SEED_ID)],
            replace(cfg, max_rounds=10), resume=True,
        )
        _assert_state_matches(state, simulate_crawl(N, max_rounds=10))

    def test_empty_tables_leave_the_plan(self, default_crawl):
        """After an in-memory crawl the empty bases and the empty start of
        each log are gone from the optimized plans: the pages and content
        folds add no join to their event logs', and ``seen`` reads only
        the rounds' claimed leaves."""
        import re

        def plan(df):
            return df._jdf.queryExecution().optimizedPlan().toString()

        def joins(df):
            return re.findall(r"\bJoin \w+", plan(df))

        state = default_crawl
        assert joins(state.pages) == joins(state.page_events)
        assert "FullOuter" not in plan(state.pages)
        assert joins(state.page_content) == []
        seen_plan = plan(state.seen)
        assert "LogicalRDD" in seen_plan
        assert "Range" not in seen_plan and "LocalRelation" not in seen_plan


class TestCheckpointResume:
    def test_resume_no_refetch(self, spark, corpus, tmp_path):
        """North-rule: kill after round k, resume, identical final state and
        zero re-fetches (attempt counters prove no re-fetch happened)."""
        ckpt = str(tmp_path / "ckpt")
        cfg_partial = CrawlConfig(
            robots_txt=synth.ROBOTS_TXT, max_rounds=2, checkpoint_dir=ckpt
        )
        run_crawl(spark, corpus, [synth.page_url(synth.SEED_ID)], cfg_partial)

        cfg_resume = CrawlConfig(
            robots_txt=synth.ROBOTS_TXT, max_rounds=10, checkpoint_dir=ckpt
        )
        state = run_crawl(
            spark, corpus, [synth.page_url(synth.SEED_ID)], cfg_resume, resume=True
        )
        sim = simulate_crawl(N, max_rounds=10)
        _assert_state_matches(state, sim)

    def test_load_tolerates_missing_side_tables(self, spark, corpus, tmp_path):
        """ADVICE r2: a snapshot written before a state table existed (here
        simulated by deleting its dir) must load with that table empty, not
        raise — schema growth cannot brick existing checkpoints. Likewise a
        head holding only the legacy single-bitmap ``bloom.npz`` loads with
        no filter, and the resumed crawl rebuilds it from ``seen``."""
        import os
        import shutil

        import numpy as np

        from wikifrontier import state as state_io

        ckpt = str(tmp_path / "ckpt_compat")
        cfg = CrawlConfig(
            robots_txt=synth.ROBOTS_TXT, max_rounds=2, checkpoint_dir=ckpt
        )
        run_crawl(spark, corpus, [synth.page_url(synth.SEED_ID)], cfg)
        n = state_io.latest_round(ckpt)
        head = os.path.join(ckpt, f"round={n}")
        for table in ("retries", "invalid_rows"):
            shutil.rmtree(os.path.join(head, table))
        # a legacy single-bitmap head: bloom.npz in place of bloom_shards/
        shutil.rmtree(os.path.join(head, "bloom_shards"))
        np.savez(
            os.path.join(head, "bloom.npz"),
            bitmap=np.zeros(1 << 10, dtype=np.uint64), nbits=1 << 16, k=7,
        )
        st = state_io.load_checkpoint(spark, ckpt)
        assert st is not None and st.round == n
        assert st.retries.count() == 0 and st.invalid_rows.count() == 0
        assert st.pages.count() > 0  # the surviving tables still load
        assert st.bloom is None

        cfg_resume = CrawlConfig(
            robots_txt=synth.ROBOTS_TXT, max_rounds=10, checkpoint_dir=ckpt
        )
        state = run_crawl(
            spark, corpus, [synth.page_url(synth.SEED_ID)], cfg_resume, resume=True
        )
        _assert_state_matches(state, simulate_crawl(N, max_rounds=10))


class TestRecrawl:
    def test_recrawl_due_and_requeue(self, spark, corpus, default_crawl):
        """S7/A5: pages past next_crawl_at re-enter the frontier with
        link-graph depth (coalesce 0 for the seed), and a recrawl bumps
        total_crawl_attempts without changing the page set."""
        from datetime import timedelta

        from wikifrontier.frontier import recrawl_due

        cfg, state = DEFAULT_CFG, default_crawl
        n_pages = state.pages.count()

        # nothing is due before the 8-day horizon
        assert recrawl_due(state, cfg.crawl_epoch + timedelta(days=1)).count() == 0

        # everything SUCCESS-crawled is due after it; depth is recovered
        # from the link graph (min incoming depth), 0 only for urls with
        # no incoming link rows (A5 — db_reader.py:127-151)
        far = cfg.crawl_epoch + timedelta(days=30)
        due = {r["url"]: r["depth"] for r in recrawl_due(state, far).collect()}
        n_success = state.pages.filter(F.col("last_crawl_status") == "SUCCESS").count()
        assert len(due) == n_success
        link_depths = {
            r["url"]: r["d"]
            for r in state.links.groupBy("url").agg(F.min("depth").alias("d")).collect()
        }
        for url, depth in due.items():
            assert depth == link_depths.get(url, 0), url

        # one more round with recrawl enabled: attempts bump, no new pages
        from dataclasses import replace

        from wikifrontier.frontier import run_round

        cfg2 = replace(
            cfg,
            enable_recrawl=True,
            max_rounds=state.round + 1,
            budget_per_round=25,
            crawl_epoch=far,
        )
        state2, _ = run_round(spark, state, corpus, cfg2)
        assert state2.pages.count() == n_pages
        bumped = state2.pages.filter(F.col("total_crawl_attempts") >= 2).count()
        assert bumped >= 25  # the popped recrawl batch was re-fetched


class TestStatusRetryDlq:
    """Round-2 fidelity additions: SKIPPED status, the 6-way error
    taxonomy, bounded fetch retry, and the invalid-rows DLQ."""

    def test_skipped_for_robots_denied_seed(self, spark, corpus):
        """Seeds bypass the scheduler filter, so a robots-denied seed must
        be declined at fetch time with SKIPPED (crawl_status.py:4-7) and
        never hit the corpus join."""
        cfg = CrawlConfig(robots_txt=synth.ROBOTS_TXT, max_rounds=3)
        state = run_crawl(
            spark, corpus,
            [synth.page_url(synth.SEED_ID), synth.blocked_url(1)], cfg,
        )
        row = state.pages.filter(F.col("url") == synth.blocked_url(1)).collect()
        assert len(row) == 1
        assert row[0]["last_crawl_status"] == "SKIPPED"
        assert row[0]["http_status_code"] is None
        assert row[0]["html_content_hash"] is None
        assert row[0]["failed_crawl_attempts"] == 0  # insert never counts
        assert row[0]["last_error_seen"].startswith("SKIPPED")

    def test_error_taxonomy_deterministic(self, default_crawl):
        """FAILED pages carry one of the reference's 6 error classes,
        derived reproducibly from the url (crawler_types.py:8-40)."""
        import hashlib

        from wikifrontier.frontier import ERROR_TYPES

        failed = default_crawl.pages.filter(F.col("last_crawl_status") == "FAILED").collect()
        assert failed  # Missing_ links guarantee misses
        for r in failed:
            nib = hashlib.sha256(r["url"].encode()).hexdigest()[0]
            want = ERROR_TYPES[int(nib, 16) % 6]
            assert r["last_error_seen"] == f"{want}: request failed", r["url"]

    def test_fetch_retry_bounded(self, spark, corpus, default_crawl):
        """download_retry analogue: a missing url is re-fetched
        fetch_retries times, attempt counters accumulate, then the
        frontier drains (no infinite retry loop)."""
        cfg = CrawlConfig(
            robots_txt=synth.ROBOTS_TXT, max_rounds=16, fetch_retries=2
        )
        state = run_crawl(spark, corpus, [synth.page_url(synth.SEED_ID)], cfg)
        failed = state.pages.filter(
            F.col("last_crawl_status") == "FAILED"
        ).collect()
        assert failed
        for r in failed:
            assert r["total_crawl_attempts"] == 3, r["url"]  # 1 + 2 retries
            assert r["failed_crawl_attempts"] == 2, r["url"]
        assert all(r["attempts"] == 3 for r in state.retries.collect())
        assert state.pending.isEmpty()
        # retries must not disturb the SUCCESS page set (the default crawl
        # drains in 5 rounds, so its max_rounds matches this one's 16)
        assert (
            state.pages.filter(F.col("last_crawl_status") == "SUCCESS").count()
            == default_crawl.pages.filter(F.col("last_crawl_status") == "SUCCESS").count()
        )

    def test_dlq_empty_for_wellformed_corpus(self, spark, corpus):
        """Parsed wiki links are always schema-valid, so the DLQ stays
        empty on the synthetic corpus — and the table exists/loads."""
        cfg = CrawlConfig(robots_txt=synth.ROBOTS_TXT, max_rounds=4)
        state = run_crawl(spark, corpus, [synth.page_url(synth.SEED_ID)], cfg)
        assert state.invalid_rows.count() == 0
        assert state.invalid_rows.columns == [
            "url", "depth", "source_page_url", "reject_reason", "rejected_round"
        ]


class TestCheckpointEvery:
    def test_amortized_checkpoint_resume(self, spark, corpus, tmp_path):
        """checkpoint_every=3 writes rounds 3,6,… plus the final round;
        resume from the amortized snapshots reproduces the full crawl."""
        import os

        ckpt = str(tmp_path / "ckpt_k3")
        cfg = CrawlConfig(
            robots_txt=synth.ROBOTS_TXT, max_rounds=5,
            checkpoint_dir=ckpt, checkpoint_every=3,
        )
        run_crawl(spark, corpus, [synth.page_url(synth.SEED_ID)], cfg)
        rounds = sorted(
            int(e.split("=")[1])
            for e in os.listdir(ckpt)
            if e.startswith("round=")
            and os.path.exists(os.path.join(ckpt, e, "_MANIFEST.json"))
        )
        assert 3 in rounds and max(rounds) == 5 and 4 not in rounds

        cfg_resume = CrawlConfig(
            robots_txt=synth.ROBOTS_TXT, max_rounds=10,
            checkpoint_dir=ckpt, checkpoint_every=3,
        )
        state = run_crawl(
            spark, corpus, [synth.page_url(synth.SEED_ID)], cfg_resume, resume=True
        )
        sim = simulate_crawl(N, max_rounds=10)
        _assert_state_matches(state, sim)
