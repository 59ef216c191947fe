"""PartitionedBloomSeen, the engine's one URL-seen filter: no false
negatives, useful selectivity, retry-safe deltas, persistence, and
pre-filtered drop_seen equivalence with the plain anti-join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wikifrontier.frontier import CrawlConfig
from wikifrontier.seen import PartitionedBloomSeen, drop_seen


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


@pytest.mark.parametrize("buckets", [0, -4, 6])
def test_bucket_count_not_power_of_two_rejected(buckets):
    # raised before the constructor creates its working dir
    with pytest.raises(ValueError, match="buckets"):
        PartitionedBloomSeen(buckets=buckets)


@pytest.mark.parametrize("buckets", [0, None])
def test_config_bucket_count_below_one_rejected(buckets):
    with pytest.raises(ValueError, match="bloom_buckets"):
        CrawlConfig(bloom_buckets=buckets)
