"""fsio shim + rename-free shard/store/checkpoint protocols.

The ``writeonce+file://`` scheme is a fake object store over a local dir:
same bytes, but ``write_bytes`` never renames (direct write-once PUTs),
exactly the constraint S3/GCS impose. Every protocol that claims
object-store portability (bloom shards, gz HTML store, checkpoint
manifest + retention) is exercised through it here.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from wikifrontier import fsio
from wikifrontier.seen import PartitionedBloomSeen, drop_seen


def wo(path) -> str:
    return f"writeonce+file://{path}"


class TestFsioPrimitives:
    def test_local_roundtrip_and_glob(self, tmp_path):
        io_ = fsio.get_io(str(tmp_path))
        io_.makedirs(str(tmp_path / "sub"))
        io_.write_bytes(str(tmp_path / "sub" / "a.npy"), b"alpha")
        io_.write_bytes(str(tmp_path / "sub" / "b.txt"), b"beta")
        assert io_.read_bytes(str(tmp_path / "sub" / "a.npy")) == b"alpha"
        assert io_.glob(str(tmp_path / "sub"), "*.npy") == [
            str(tmp_path / "sub" / "a.npy")
        ]
        assert io_.listdir(str(tmp_path / "sub")) == ["a.npy", "b.txt"]
        assert io_.exists(str(tmp_path / "sub" / "b.txt"))
        io_.remove(str(tmp_path / "sub" / "b.txt"))
        io_.remove(str(tmp_path / "sub" / "b.txt"))  # missing_ok
        assert not io_.exists(str(tmp_path / "sub" / "b.txt"))

    def test_writeonce_scheme_strips_and_never_renames(self, tmp_path, monkeypatch):
        import os as _os

        io_ = fsio.get_io(wo(tmp_path))
        assert io_.atomic_rename is False

        def boom(*a, **k):  # any rename under writeonce is a protocol bug
            raise AssertionError("rename on a write-once store")

        monkeypatch.setattr(_os, "replace", boom)
        monkeypatch.setattr(_os, "rename", boom)
        io_.write_bytes(wo(tmp_path / "x.bin"), b"payload")
        # file landed at the underlying local path, readable both ways
        assert (tmp_path / "x.bin").read_bytes() == b"payload"
        assert io_.read_bytes(wo(tmp_path / "x.bin")) == b"payload"
        assert io_.glob(wo(tmp_path), "*.bin") == [str(tmp_path / "x.bin")]

    def test_scheme_resolution(self, tmp_path):
        assert isinstance(fsio.get_io("/plain/path"), fsio.LocalIO)
        assert fsio.get_io("/plain/path").atomic_rename is True
        assert fsio.get_io(wo("/p")).atomic_rename is False
        assert fsio.strip_scheme(wo("/a/b")) == "/a/b"
        assert fsio.strip_scheme("file:///a/b") == "/a/b"
        assert fsio.strip_scheme("s3://bucket/k") == "s3://bucket/k"

    def test_hadoop_s3_scheme_aliases_normalize(self):
        # Spark hands out s3a:// paths; pyarrow only speaks s3:// —
        # the shim must treat them as the same store
        assert fsio.ArrowIO._normalize("s3a://b/k") == "s3://b/k"
        assert fsio.ArrowIO._normalize("s3n://b/k") == "s3://b/k"
        assert fsio.ArrowIO._normalize("gs://b/k") == "gs://b/k"

    def test_io_cached_per_store_not_per_path(self, tmp_path):
        a = fsio.get_io(str(tmp_path / "x" / "1.npy"))
        b = fsio.get_io(str(tmp_path / "y" / "2.npy"))
        assert a is b  # one LocalIO for every local path
        assert fsio.get_io(wo("/p/q")) is fsio.get_io(wo("/r/s"))


@pytest.fixture(scope="module")
def urls(spark):
    return spark.range(1500).select(
        F.concat(F.lit("https://en.wikipedia.org/wiki/W"), F.col("id")).alias("url")
    )


class TestBloomOnWriteOnceStore:
    """The full shard lifecycle — delta writes from executor tasks,
    probe, distributed compaction to a generation-numbered base,
    snapshot/restore — with renames forbidden by the store."""

    def test_lifecycle(self, spark, urls, tmp_path):
        store = wo(tmp_path / "shards")
        bloom = PartitionedBloomSeen(
            storage_dir=store, buckets=8, nbits_per_bucket=1 << 15, k=7
        )
        # pmod, not %: Spark's % keeps the sign of xxhash64, so plain
        # remainder-classes would silently skip the negative hashes
        seen = urls.filter(F.pmod(F.xxhash64("url"), F.lit(3)) == 0).select("url")
        rest = urls.filter(F.pmod(F.xxhash64("url"), F.lit(3)) == 1).select("url")
        bloom.add_df(spark, seen)
        bloom.add_df(spark, rest)

        both = seen.unionByName(rest)
        flagged = urls.withColumn("m", bloom.maybe_seen_col(spark, F.col("url")))
        assert flagged.join(both, "url").filter(~F.col("m")).count() == 0

        # compact → deltas folded into bucket_{b}.g1.npy, no plain base
        bloom.compact(spark)
        io_ = fsio.get_io(store)
        assert io_.glob(store, "bucket_*.v*.npy") == []
        gen_bases = io_.glob(store, "bucket_*.g*.npy")
        assert gen_bases and all(".g1." in p for p in gen_bases)

        # post-compaction probe still has zero false negatives
        flagged2 = urls.withColumn("m", bloom.maybe_seen_col(spark, F.col("url")))
        assert flagged2.join(both, "url").filter(~F.col("m")).count() == 0

        # second compaction cycle bumps the generation
        more = urls.filter(F.pmod(F.xxhash64("url"), F.lit(3)) == 2).select("url")
        bloom.add_df(spark, more)
        bloom.compact(spark)
        assert all(
            ".g2." in p for p in io_.glob(store, "bucket_*.g*.npy")
        )
        flagged3 = urls.withColumn("m", bloom.maybe_seen_col(spark, F.col("url")))
        assert flagged3.filter(~F.col("m")).count() == 0  # everything seen

    def test_snapshot_restore_across_stores(self, spark, urls, tmp_path):
        """save() on a write-once snapshot dir, load() back into a plain
        local working dir — the two backends interoperate byte-wise. The
        snapshot is ONE Spark job of at most defaultParallelism tasks,
        however many buckets, and leaves only compacted bases behind."""
        work = str(tmp_path / "work")
        bloom = PartitionedBloomSeen(
            storage_dir=work, buckets=64, nbits_per_bucket=1 << 15, k=7,
        )
        seen = urls.limit(400).select("url")
        bloom.add_df(spark, seen)
        snap = wo(tmp_path / "snap")
        sc = spark.sparkContext
        sc.setJobGroup("bloom-snapshot", "PartitionedBloomSeen.save")
        try:
            bloom.save(snap, spark=spark)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup("bloom-snapshot")
        assert len(jobs) == 1, jobs
        tasks = sum(
            tracker.getStageInfo(st).numTasks
            for st in tracker.getJobInfo(jobs[0]).stageIds
        )
        assert tasks <= sc.defaultParallelism, tasks
        work_io, snap_io = fsio.get_io(work), fsio.get_io(snap)
        assert work_io.glob(work, "bucket_*.v*.npy") == []
        bases = [snap_io.basename(p) for p in snap_io.glob(snap, "bucket_*.npy")]
        assert bases and all(".g1." in nm for nm in bases)
        assert bases == [
            work_io.basename(p) for p in work_io.glob(work, "bucket_*.npy")
        ]

        restored = PartitionedBloomSeen.load(
            snap, storage_dir=str(tmp_path / "work2")
        )
        flagged = urls.withColumn(
            "m", restored.maybe_seen_col(spark, F.col("url"))
        )
        assert flagged.join(seen, "url").filter(~F.col("m")).count() == 0
        # and drop_seen over the restored filter matches the exact anti-join
        cands = urls.withColumn("depth", F.lit(1))
        plain = {r["url"] for r in drop_seen(cands, seen).collect()}
        pre = {
            r["url"] for r in drop_seen(cands, seen, restored, spark).collect()
        }
        assert plain == pre


class TestGzStoreOnWriteOnceStore:
    def test_roundtrip(self, spark, tmp_path):
        from wikifrontier import htmlstore, synth

        store = wo(tmp_path / "gzstore")
        pages = synth.corpus_df(spark, 60, partitions=4)
        written = htmlstore.write_gzip_store(
            pages.select("url", "html"), store
        )
        assert written.count() == 60
        back = htmlstore.read_gzip_store(spark, store)
        ok = htmlstore.roundtrip_check(pages.select("url", "html"), back)
        assert ok.filter(~F.col("ok")).count() == 0


class TestCheckpointRetention:
    def test_prune_keeps_last_k_and_resumes(self, spark, tmp_path):
        """A 6-round checkpointed crawl with keep_last=2 leaves exactly 2
        round dirs; a resume from the pruned history continues and
        matches the unpruned crawl's final state tables."""
        from wikifrontier import state as state_io
        from wikifrontier import synth
        from wikifrontier.frontier import CrawlConfig, run_crawl

        corpus = synth.corpus_df(spark, 200, partitions=4).cache()
        seeds = [synth.page_url(synth.SEED_ID)]
        ckpt = wo(tmp_path / "ckpt")
        cfg = CrawlConfig(
            robots_txt=synth.ROBOTS_TXT, budget_per_round=30, max_rounds=4,
            checkpoint_dir=ckpt, checkpoint_keep_last=2,
            checkpoint_full_every=1,  # every snapshot full — pure retention
        )
        run_crawl(spark, corpus, seeds, cfg)
        io_ = fsio.get_io(ckpt)
        rounds = sorted(
            int(e.split("=")[1])
            for e in io_.listdir(ckpt)
            if e.startswith("round=")
        )
        assert len(rounds) == 2
        assert state_io.latest_round(ckpt) == max(rounds)

        # resume past the pruned prefix; compare against a from-scratch run
        cfg_more = CrawlConfig(
            robots_txt=synth.ROBOTS_TXT, budget_per_round=30, max_rounds=8,
            checkpoint_dir=ckpt, checkpoint_keep_last=2,
            checkpoint_full_every=1,
        )
        resumed = run_crawl(spark, corpus, seeds, cfg_more, resume=True)
        fresh_cfg = CrawlConfig(
            robots_txt=synth.ROBOTS_TXT, budget_per_round=30, max_rounds=8
        )
        fresh = run_crawl(spark, corpus, seeds, fresh_cfg)
        got = {r["url"]: r["total_crawl_attempts"]
               for r in resumed.pages.collect()}
        want = {r["url"]: r["total_crawl_attempts"]
                for r in fresh.pages.collect()}
        assert got == want  # same page set, zero re-fetches
        corpus.unpersist()

    def test_future_manifest_version_rejected(self, spark, tmp_path):
        from wikifrontier import state as state_io

        ckpt = tmp_path / "ckpt_future"
        rd = ckpt / "round=3"
        rd.mkdir(parents=True)
        (rd / "_MANIFEST.json").write_text(
            json.dumps({"manifest_version": 99, "round": 3, "tables": []})
        )
        with pytest.raises(ValueError, match="manifest_version=99"):
            state_io.load_checkpoint(spark, str(ckpt))


class TestIncrementalCheckpoints:
    """Manifest-v3 delta snapshots: O(round) parquet I/O per commit
    instead of rewriting the whole crawl state (the Iceberg append /
    merge-on-read analogue — the durability knob that matters at a
    10^10-URL frontier)."""

    def _crawl(self, spark, corpus, ckpt, max_rounds, full_every=3):
        from wikifrontier import synth
        from wikifrontier.frontier import CrawlConfig, run_crawl

        cfg = CrawlConfig(
            robots_txt=synth.ROBOTS_TXT, budget_per_round=30,
            max_rounds=max_rounds, checkpoint_dir=ckpt, checkpoint_every=1,
            checkpoint_keep_last=2, checkpoint_full_every=full_every,
        )
        return run_crawl(
            spark, corpus, [synth.page_url(synth.SEED_ID)], cfg,
            resume=True,
        )

    def test_delta_segments_hold_only_new_rows(self, spark, tmp_path):
        """A delta snapshot's seen/links/link_graph segments contain only
        rows born since the previous snapshot; the manifests carry the
        full/delta kinds and the chain; union-over-chain equals the live
        state, which reads parquet only; non-head chain members are
        trimmed to delta segments."""
        from wikifrontier import state as state_io
        from wikifrontier import synth

        corpus = synth.corpus_df(spark, 200, partitions=4).cache()
        ckpt = wo(tmp_path / "ckpt_v3")
        st = self._crawl(spark, corpus, ckpt, max_rounds=5, full_every=5)
        io_ = fsio.get_io(ckpt)

        # the post-commit state is backed by parquet only: no in-memory
        # (LogicalRDD) leaf of any round survives the delta commit
        for name, df in st.tables().items():
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            assert "LogicalRDD" not in plan, name

        kinds = {}
        for n, entry in state_io._round_entries(ckpt):
            m = json.loads(
                io_.read_bytes(io_.join(ckpt, entry, "_MANIFEST.json"))
            )
            kinds[n] = (m["kind"], m["chain"])
        assert kinds[1] == ("full", [1])
        for n in (2, 3, 4, 5):
            assert kinds[n][0] == "delta"
            assert kinds[n][1] == list(range(1, n + 1))

        # each delta segment holds exactly the rows born since the prior
        # snapshot (checkpoint_every=1 → exactly that round's rows)
        for n in (2, 3, 4):
            seg = spark.read.parquet(
                fsio.strip_scheme(io_.join(ckpt, f"round={n}", "seen"))
            )
            claimed_rounds = {r["claimed_round"] for r in seg.collect()}
            assert claimed_rounds <= {n - 1}, (n, claimed_rounds)

        # union over the chain == live state
        loaded = state_io.load_checkpoint(spark, ckpt)
        assert sorted(r["url"] for r in loaded.seen.collect()) == sorted(
            r["url"] for r in st.seen.collect()
        )
        assert loaded.link_graph.count() == st.link_graph.count()
        assert sorted(map(tuple, loaded.in_degrees.collect())) == sorted(
            map(tuple, st.in_degrees.collect())
        )

        # retention: heads {4,5} keep bloom+pending; chain members 1-3
        # are trimmed to their delta tables
        for n in (1, 2, 3):
            d = io_.join(ckpt, f"round={n}")
            assert not io_.exists(io_.join(d, "bloom_shards"))
            assert not io_.exists(io_.join(d, "pending"))
            assert io_.exists(io_.join(d, "seen"))
        for n in (4, 5):
            d = io_.join(ckpt, f"round={n}")
            assert io_.exists(io_.join(d, "bloom_shards"))
            assert io_.exists(io_.join(d, "pending"))
        corpus.unpersist()

    def test_delta_resume_matches_fresh(self, spark, tmp_path):
        """Kill at a DELTA head, resume, run to completion: final state
        (pages fold incl. attempt counters, content, graph, metrics)
        matches an uninterrupted in-memory crawl — merge-on-read replay
        is exact."""
        from wikifrontier import synth
        from wikifrontier.frontier import CrawlConfig, run_crawl

        corpus = synth.corpus_df(spark, 200, partitions=4).cache()
        ckpt = wo(tmp_path / "ckpt_v3_resume")
        self._crawl(spark, corpus, ckpt, max_rounds=3, full_every=4)
        resumed = self._crawl(spark, corpus, ckpt, max_rounds=6, full_every=4)
        fresh = run_crawl(
            spark, corpus, [synth.page_url(synth.SEED_ID)],
            CrawlConfig(
                robots_txt=synth.ROBOTS_TXT, budget_per_round=30, max_rounds=6
            ),
        )

        def pages_snap(s):
            return sorted(
                (
                    r["url"], r["total_crawl_attempts"],
                    r["failed_crawl_attempts"], r["first_crawled_round"],
                )
                for r in s.pages.collect()
            )

        assert pages_snap(resumed) == pages_snap(fresh)
        assert sorted(
            (r["source_page_url"], r["text_content_hash"])
            for r in resumed.page_content.collect()
        ) == sorted(
            (r["source_page_url"], r["text_content_hash"])
            for r in fresh.page_content.collect()
        )
        assert sorted(map(tuple, resumed.in_degrees.collect())) == sorted(
            map(tuple, fresh.in_degrees.collect())
        )
        assert sorted(
            (r["round"], r["urls_popped"]) for r in resumed.metrics.collect()
        ) == sorted(
            (r["round"], r["urls_popped"]) for r in fresh.metrics.collect()
        )
        corpus.unpersist()
