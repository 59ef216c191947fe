"""PartitionedBloomSeen, the engine's one URL-seen filter: no false
negatives, useful selectivity, retry-safe deltas, persistence, and
pre-filtered drop_seen equivalence with the plain anti-join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wikifrontier import schemas
from wikifrontier.frontier import CrawlConfig
from wikifrontier.seen import PartitionedBloomSeen, claim_first_wins, drop_seen


@pytest.fixture(scope="module")
def urls(spark):
    return spark.range(2000).select(
        F.concat(F.lit("https://en.wikipedia.org/wiki/U"), F.col("id")).alias("url")
    )


class TestPartitionedBloom:
    """The sharded filter: zero false negatives and a low false-positive
    rate, with zero bitmap bytes through the driver."""

    def test_no_false_negatives_and_low_fp(self, spark, urls, tmp_path):
        bloom = PartitionedBloomSeen(
            storage_dir=str(tmp_path / "shards"), buckets=8,
            nbits_per_bucket=1 << 15, k=7,
        )
        seen = urls.filter(F.col("url").substr(-1, 1).isin("0", "2", "4", "6", "8"))
        bloom.add_df(spark, seen)

        flagged = urls.withColumn("m", bloom.maybe_seen_col(spark, F.col("url")))
        assert flagged.join(seen, "url").filter(~F.col("m")).count() == 0
        unseen = flagged.join(seen, "url", "left_anti")
        assert unseen.filter(F.col("m")).count() / unseen.count() < 0.05

    def test_drop_seen_equivalent(self, spark, urls, tmp_path):
        bloom = PartitionedBloomSeen(
            storage_dir=str(tmp_path / "shards2"), buckets=4,
            nbits_per_bucket=1 << 14,
        )
        seen = urls.filter(F.xxhash64("url") % 3 == 0).select("url")
        bloom.add_df(spark, seen)
        cands = urls.withColumn("depth", F.lit(1))
        plain = {r["url"] for r in drop_seen(cands, seen).collect()}
        pre = {r["url"] for r in drop_seen(cands, seen, bloom, spark).collect()}
        assert plain == pre

    def test_retry_duplicate_delta_is_idempotent(self, spark, urls, tmp_path):
        """Simulated task retry / speculative attempt (VERDICT r2 #2):
        re-applying the same delta (same version, different attempt file)
        must not lose bits — zero false negatives, before and after
        compaction."""
        import glob
        import os
        import shutil

        d = str(tmp_path / "shards_retry")
        bloom = PartitionedBloomSeen(
            storage_dir=d, buckets=4, nbits_per_bucket=1 << 14, k=5,
        )
        seen = urls.limit(500)
        bloom.add_df(spark, seen)
        # a retried attempt = a byte-identical delta under another attempt
        # id; fabricate it by duplicating every delta file of this version
        for p in glob.glob(os.path.join(d, "bucket_*.v1.a*.npy")):
            shutil.copyfile(p, p.replace(".npy", "") + "999.npy")
        bloom.version += 1  # cache-bust so the probe re-reads files

        flagged = seen.withColumn("m", bloom.maybe_seen_col(spark, F.col("url")))
        assert flagged.filter(~F.col("m")).count() == 0

        # interleave: a NEW round's delta lands, then compaction folds all
        # of it — still zero false negatives, and the deltas are gone
        more = urls.limit(900)
        bloom.add_df(spark, more)
        bloom.compact(spark)
        assert glob.glob(os.path.join(d, "bucket_*.v*.npy")) == []
        flagged = more.withColumn("m", bloom.maybe_seen_col(spark, F.col("url")))
        assert flagged.filter(~F.col("m")).count() == 0

    def test_incremental_update_and_snapshot(self, spark, urls, tmp_path):
        bloom = PartitionedBloomSeen(
            storage_dir=str(tmp_path / "shards3"), buckets=4,
            nbits_per_bucket=1 << 14, k=5,
        )
        bloom.add_df(spark, urls.limit(100))
        bloom.add_df(spark, urls.limit(300))  # superset — idempotent OR

        snap = str(tmp_path / "snap")
        bloom.save(snap, spark=spark)
        loaded = PartitionedBloomSeen.load(snap)
        assert (loaded.buckets, loaded.nbits, loaded.k) == (4, 1 << 14, 5)
        # the re-opened snapshot still flags everything that was added
        flagged = urls.limit(300).withColumn(
            "m", loaded.maybe_seen_col(spark, F.col("url"))
        )
        assert flagged.filter(~F.col("m")).count() == 0
        # mutating the loaded copy must not touch the snapshot files
        bloom2 = PartitionedBloomSeen.load(snap)
        bloom2.add_df(spark, urls)
        assert loaded.storage_dir != snap and bloom2.storage_dir != snap


def _link(source, url, seq, anchor):
    return (source, url, 1, True, anchor, None, None, None, "internal", seq)


class TestClaimUnseen:
    """The bucket-keyed pass that claims, probes and grows the filter."""

    def test_winners_equal_claim_first_wins(self, spark, tmp_path):
        """Adversarial orderings: a source that is a prefix of another,
        non-ASCII and astral-plane sources (UTF-16 order would put the
        astral one first; code-point and UTF-8 byte order do not), a NULL
        source, clamped negative and NULL seqs, and ties on in_page_seq
        broken by the source."""
        w = "https://en.wikipedia.org/wiki/"
        rows = [
            # prefix: ".../A" beats ".../A_" although its seq is larger
            _link(w + "A", w + "T1", 5, "prefix-short"),
            _link(w + "A_", w + "T1", 1, "prefix-long"),
            # U+FB01 sorts before U+1F600 by code point, after it in UTF-16
            _link(w + "\ufb01", w + "T2", 3, "bmp"),
            _link(w + "\U0001f600", w + "T2", 0, "astral"),
            # a Latin-1 source sorts after every ASCII one
            _link(w + "\u00c4", w + "T7", 0, "latin1"),
            _link(w + "Zz", w + "T7", 9, "ascii"),
            # a NULL source sorts first ('')
            _link(w + "B", w + "T3", 0, "named"),
            _link(None, w + "T3", 7, "null-source"),
            # tie on in_page_seq, broken by the source
            _link(w + "Z\u00e9", w + "T4", 2, "tie-z"),
            _link(w + "Ze", w + "T4", 2, "tie-e"),
            # a negative seq clamps to 0 and still loses to an earlier source
            _link(w + "C", w + "T5", -4, "negative"),
            _link(w + "B", w + "T5", 8, "positive"),
            # a NULL seq counts as 0
            _link(w + "D", w + "T6", None, "null-seq"),
            _link(w + "D", w + "T6", 1, "seq-one"),
            _link(w + "\u4e2d", w + "\U0001d4b3", 0, "single"),
        ]
        # spread over several partitions so no url's rows arrive together
        cands = spark.createDataFrame(
            rows * 2, schemas.ddl_to_schema(schemas.PARSED_LINK_FIELDS.replace(":", " "))
        ).repartition(3)
        seen = schemas.empty_df(spark, schemas.SEEN_DDL)
        for buckets in (1, 4):
            bloom = PartitionedBloomSeen(
                storage_dir=str(tmp_path / f"claim{buckets}"), buckets=buckets,
                nbits_per_bucket=1 << 12,
            )
            claimed, n = bloom.claim_unseen(spark, cands, seen)
            want = claim_first_wins(cands)
            assert n == 8
            assert sorted(map(tuple, claimed.select(*want.columns).collect())) == sorted(
                map(tuple, want.collect())
            )
            assert {r["url"]: r["anchor_text"] for r in claimed.collect()} == {
                w + "T1": "prefix-short", w + "T2": "bmp", w + "T3": "null-source",
                w + "T4": "tie-e", w + "T5": "positive", w + "T6": "null-seq",
                w + "T7": "ascii", w + "\U0001d4b3": "single",
            }

    def test_seen_rows_dropped_and_bits_added(self, spark, urls, tmp_path):
        """Seen winners are dropped exactly, and the filter ends with the
        bits ``add_df`` over the claimed rows gives, without a false
        negative."""
        import numpy as np

        from wikifrontier.seen import _read_shard_files

        cands = urls.select(
            F.lit("https://en.wikipedia.org/wiki/S").alias("source_page_url"),
            "url", F.lit(1).alias("depth"), F.lit(True).alias("is_internal"),
            F.lit("a").alias("anchor_text"), F.lit(None).cast("string").alias("title_attribute"),
            F.lit(None).cast("string").alias("rel_attribute"),
            F.lit(None).cast("string").alias("id_attribute"),
            F.lit("internal").alias("link_type"), F.lit(0).alias("in_page_seq"),
        )
        seen = urls.filter(F.xxhash64("url") % 3 == 0)
        bloom = PartitionedBloomSeen(
            storage_dir=str(tmp_path / "pass"), buckets=4, nbits_per_bucket=1 << 12, k=5,
        )
        bloom.add_df(spark, seen)
        claimed, n = bloom.claim_unseen(spark, cands, seen)
        want = {r["url"] for r in urls.join(seen, "url", "left_anti").collect()}
        assert {r["url"] for r in claimed.collect()} == want and n == len(want)

        ref = PartitionedBloomSeen(
            storage_dir=str(tmp_path / "ref"), buckets=4, nbits_per_bucket=1 << 12, k=5,
        )
        ref.add_df(spark, urls)
        for b in range(4):
            assert np.array_equal(
                _read_shard_files(bloom.storage_dir, b, (1 << 12) >> 6),
                _read_shard_files(ref.storage_dir, b, (1 << 12) >> 6),
            ), b


@pytest.mark.parametrize("buckets", [0, -4, 6])
def test_bucket_count_not_power_of_two_rejected(buckets):
    # raised before the constructor creates its working dir
    with pytest.raises(ValueError, match="buckets"):
        PartitionedBloomSeen(buckets=buckets)


@pytest.mark.parametrize("buckets", [0, None])
def test_config_bucket_count_below_one_rejected(buckets):
    with pytest.raises(ValueError, match="bloom_buckets"):
        CrawlConfig(bloom_buckets=buckets)


def test_add_df_warns_nothing(spark, urls, tmp_path):
    """``add_df``'s grouped-map function has no type hints, so pyspark has
    no eval type to infer and emits no ``UserWarning``."""
    import warnings

    bloom = PartitionedBloomSeen(
        storage_dir=str(tmp_path / "nowarn"), buckets=4, nbits_per_bucket=1 << 12,
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        assert bloom.add_df(spark, urls.limit(50)) == 50


def test_shard_read_survives_compaction_after_listing(tmp_path, monkeypatch):
    """A compactor that writes base g+1, then deletes the deltas and the
    old base, between the reader's listing and its first read loses no
    bit: every listed file that vanished has its bits in the newer base,
    which the reader finds by listing again. Runs without Spark."""
    import numpy as np

    from wikifrontier import fsio
    from wikifrontier.seen import _np_from_bytes, _np_to_bytes, _read_shard_files

    d, nwords = str(tmp_path), 8
    io_ = fsio.get_io(d)
    rng = np.random.default_rng(7)

    def put(name):
        bm = np.zeros(nwords, dtype=np.uint64)
        for w, b in zip(rng.integers(0, nwords, 4), rng.integers(0, 64, 4)):
            bm[w] |= np.uint64(1) << np.uint64(b)
        io_.write_bytes(io_.join(d, name), _np_to_bytes(bm))
        return bm

    written = [put(nm) for nm in (
        "bucket_2.g1.npy", "bucket_2.v3.a1.npy", "bucket_2.v3.a2.npy",
        "bucket_2.v4.a9.npy",
    )]
    put("bucket_3.v3.a1.npy")  # another bucket's delta: never read
    want = np.bitwise_or.reduce(written)

    def compact():
        names = [nm for nm in io_.listdir(d) if nm.startswith("bucket_2.")]
        merged = np.bitwise_or.reduce(
            [_np_from_bytes(io_.read_bytes(io_.join(d, nm))) for nm in names]
        )
        io_.write_bytes(io_.join(d, "bucket_2.g2.npy"), _np_to_bytes(merged))
        for nm in names:
            io_.remove(io_.join(d, nm))

    calls = {"listdir": 0, "compacted": False}

    class CompactBeforeFirstRead:
        def __getattr__(self, name):
            return getattr(io_, name)

        def listdir(self, directory):
            calls["listdir"] += 1
            return io_.listdir(directory)

        def read_bytes(self, path):
            if not calls["compacted"]:
                calls["compacted"] = True
                compact()
            return io_.read_bytes(path)

    monkeypatch.setattr(fsio, "get_io", lambda path: CompactBeforeFirstRead())
    got = _read_shard_files(d, 2, nwords)
    assert calls == {"listdir": 2, "compacted": True}
    assert sorted(io_.listdir(d)) == ["bucket_2.g2.npy", "bucket_3.v3.a1.npy"]
    assert np.array_equal(got, want)
